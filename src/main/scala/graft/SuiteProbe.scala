package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (round 9): run EVERY registry query once at a given sf dir and
  * record completion + wall time per query. This is the 100x COMPLETION
  * artifact — Bench's best-of-2 methodology is for comparable timings at
  * the graded sf; at sf10 (2.1 GB parquet, 60M lineitem) the question is
  * "does any of the 150 plans hit a scale-killer (all-pairs blowup, OOM,
  * driver collect of a fact-sized set, runaway shuffle)?", which a single
  * pass answers. Timings are recorded as context (and are box-weather
  * sensitive); failures are explicit, never folded into totals.
  * Usage: `runMain graft.SuiteProbe <sfDir> [outJson]`; optional env
  * SPARK_GRAFT_CPUS (default 32), GRAFT_SHUFFLE_PARTS (default 8x cpus —
  * sf10 shuffles spill at Bench's cpus-sized setting). */
object SuiteProbe {
  /** The order-insensitive completion cell, factored out so ScaleSpec can
    * pin its agreement with the sorted listing at a small sf (VERDICT r9
    * #8): returns (rowCount, boolean-contract verdicts (1 = all TRUE,
    * vacuously 1 on empty), per-numeric-column sums rounded to 3dp).
    * The sums exist to defeat column pruning — without a numeric
    * aggregate Catalyst inlines the scored column into the sampled
    * contract branch and the cell stops measuring the kernel. */
  def orderInsensitiveCell(spark: SparkSession, name: String, sfDir: String)
      : (Long, Map[String, Long], Map[String, Double]) = {
    import org.apache.spark.sql.functions.{count, lit, min, when, col, sum, coalesce, round}
    import org.apache.spark.sql.types.{BooleanType, NumericType}
    val df = QueryRegistry.byName(name).fn(spark, sfDir)
    val boolCols = df.schema.fields
      .filter(_.dataType == BooleanType).map(_.name).toSeq
    val numCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val aggs =
      boolCols.map(b =>
        coalesce(min(when(col(b), 1L).otherwise(0L)), lit(1L)).as(b)) ++
      numCols.map(m =>
        coalesce(round(sum(col(m).cast("double")), 3), lit(0.0))
          .as(s"sum_$m"))
    val r = QueryRegistry.withExecConfs(spark, name, sfDir) {
      df.agg(count(lit(1)).as("n"), aggs: _*).head()
    }
    (r.getAs[Long]("n"),
      boolCols.map(b => b -> r.getAs[Long](b)).toMap,
      numCols.map(m => m -> r.getAs[Double](s"sum_$m")).toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = if (args.length > 1) Some(args(1)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val shuffleParts =
      sys.env.get("GRAFT_SHUFFLE_PARTS").map(_.toInt).getOrElse(cpus * 8)
    val spark = Session.local(cpus, shuffleParts, "graft-suite")
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    // Same inter-query hygiene as Bench/Profile: queries leave
    // localCheckpoint blocks cached (never self-unpersisted), and at sf10
    // the accumulated blocks of ~90 earlier queries squeezed q35's
    // blocked sort-join into permanent spill — 35+ min and unfinished vs
    // 105 s in a fresh JVM (first 100x pass). The GC also lets
    // ContextCleaner reclaim shuffle files + broadcasts.
    def dropCached(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }
    // Scope-outs recorded IN the artifact (VERDICT r10 #8) — see ProbeEnv.
    val excluded: Map[String, String] = ProbeEnv.parseExclude(
      sys.env.get("GRAFT_EXCLUDE"),
      n => QueryRegistry.queries.exists(_.name == n))
    // GRAFT_ONLY=name,name — subset re-runs (same machinery, fewer
    // queries): used to re-measure cells after a fix without paying the
    // full multi-hour suite again; the merged artifact keeps per-cell
    // provenance one-pass-each either way.
    val only = sys.env.get("GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = QueryRegistry.queries.map(_.name).sorted
      .filterNot(excluded.contains)
      .filter(n => only.forall(_.contains(n)))
    // q35 is the blocked-quadratic verify rung (6.25B output rows at
    // sf10). Its trailing total-order sort is oracle-presentation
    // machinery (house rule T5): a global range-sort whose sampling pass
    // re-evaluates the whole join and whose shuffle (~150 GB of pair
    // listing at sf10) exceeds the box's storage — no consumer of a
    // verification byproduct requests a sorted 6.25B-row listing. Its
    // completion is measured ORDER-INSENSITIVELY: every pair flows
    // through the identical join + kernel dataflow, materialized by an
    // aggregate instead of the listing sort. The aggregate SUMS every
    // numeric output column alongside the count (ADVICE r9: count +
    // min(bool) alone let Catalyst prune the jaccard column and inline
    // the kernel into the 1/997-sampled jacc_xck branch — the cell then
    // measured pair ENUMERATION, not kernel evaluation; sum(jaccard)
    // keeps the per-pair kernel un-prunable and rides into the artifact
    // as a value anchor). A violated boolean contract THROWS, so the
    // cell records an error and counts toward `failed` — it is never
    // folded into a green total. Empty results are vacuously green
    // (min over zero rows coalesced to 1). The cell is marked so a
    // reader can tell.
    // GRAFT_SUM_CELL=name,name extends the set at the output-bound third
    // decade (VERDICT r11 #2): q56/q79's LISTINGS are ~4-5B-row facts no
    // consumer sorts, but their kernels still deserve a measured sf100
    // cell — the same count + un-prunable invariant-sum contract q35
    // pioneered. The cells stay marked order_insensitive in the artifact
    // so a reader can tell them from listing-materializing cells.
    // In-code eligibility allowlist (ADVICE r12): GRAFT_SUM_CELL used to
    // accept ANY registry name, so an order-SENSITIVE query could be
    // silently downgraded to the count+invariant-sum check via env alone.
    // Only the pair-LISTING queries — outputs whose total order is
    // presentation machinery (house rule T5), never a consumer contract —
    // may run order-insensitively; anything else is a hard error.
    val sumCellEligible = Set(
      "q23_embedding_neardup_pairs", "q34_minhash_lsh_pairs",
      "q38_fuzzy_name_pairs", "q46_ratcliff_fuzzy_pairs",
      "q56_passjoin_edit_pairs", "q77_fuzzy_near_miss_debug",
      "q79_passjoin_k2_varlen", "q83_symdelete_title_pairs")
    val orderInsensitive = Set("q35_ngram_jaccard_blocked") ++
      sys.env.get("GRAFT_SUM_CELL").toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        .map { n =>
          require(QueryRegistry.queries.exists(_.name == n),
            s"GRAFT_SUM_CELL names unknown query: $n")
          require(sumCellEligible(n),
            s"GRAFT_SUM_CELL names an order-sensitive query: $n — only " +
              s"pair-listing cells may run order-insensitively " +
              s"(eligible: ${sumCellEligible.toSeq.sorted.mkString(",")})")
          n
        }
    var failed = 0
    val rows = names.map { n =>
      val t0 = System.nanoTime()
      val cell = try {
        val (c, sums) = if (orderInsensitive(n)) {
          val (nRows, verdicts, numSums) = orderInsensitiveCell(spark, n, sfDir)
          require(verdicts.values.forall(_ == 1L),
            s"$n invariant contract violated: " +
              verdicts.map { case (b, v) => s"$b=$v" }.mkString(","))
          (nRows,
            numSums.toSeq.sortBy(_._1)
              .map { case (m, v) => s""","sum_$m":$v""" }.mkString)
        } else (QueryRegistry.withExecConfs(spark, n, sfDir) {
          QueryRegistry.byName(n).fn(spark, sfDir).queryExecution.toRdd.count()
        }, "")
        val secs = (System.nanoTime() - t0) / 1e9
        dropCached()
        val mark =
          if (orderInsensitive(n)) s"""$sums,"order_insensitive":true"""
          else ""
        s"""{"rows":$c,"secs":${f3(secs)}$mark}"""
      } catch { case e: Throwable =>
        failed += 1
        dropCached()
        val msg = String.valueOf(e).replace("\\", "\\\\")
          .replace("\"", "\\\"").replaceAll("[\\r\\n\\t]", " ").take(200)
        s"""{"error":"$msg"}"""
      }
      // one line per query so a log tail shows live progress
      println(s"SUITE $n $cell")
      s""""$n":$cell"""
    }
    val total = rows.mkString(",")
    def js(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val exJson = excluded.toSeq.sortBy(_._1)
      .map { case (n, r) => s""""${js(n)}":"${js(r)}"""" }.mkString(",")
    val line = s"""{"metric":"suite_completion","sf_dir":"$sfDir",""" +
      s""""cpus":$cpus,"shuffle_partitions":$shuffleParts,""" +
      s""""queries":${names.size},"failed":$failed,""" +
      s""""excluded":{$exJson},"per_query":{$total}}"""
    println(s"SUITEJSON $line")
    outJson.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
