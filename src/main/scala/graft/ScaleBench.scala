package graft

/** Scaling-evidence runner (BASELINE.md): time the same queries at two
  * scale factors (harness sf0.1 and the ScaleGen-derived sf1) and report
  * per-query sf1/sf0.1 time ratios. A blocked/bucketed plan should scale
  * ~linearly in rows (ratio ≈ 10 at 10× data, usually less while fixed
  * per-query overhead still amortizes); anything clearly super-linear is
  * a hidden all-pairs. Same methodology as Bench: full materialization
  * via toRdd.count(), best-of-2, cache dropped between queries. */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SMALL_DIR", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_BIG_DIR", "/tmp/graft-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // the bench's most expensive queries (where scaling behavior is
    // actually at stake) + one representative per family
    val defaults = Seq(
      "q79_passjoin_k2_varlen", "q34_minhash_lsh_pairs",
      "q35_ngram_jaccard_blocked", "q85_decontaminate_ngrams",
      "q56_passjoin_edit_pairs", "q38_fuzzy_name_pairs",
      "q42_session_window_30m", "q90_bm25_retrieval",
      "q111_repeated_spans", "q106_curation_pipeline_e2e",
      "q81_dedup_components", "q117_bpe_merge_training",
      "q118_hard_negative_ann", "q20_vector_topk", "q01_pricing_summary",
      "q08_running_sum_per_user", "q119_bpe_tokenize_apply",
      "q120_semantic_decontam", "q121_dedup_canonical",
      "q124_bloom_prefilter_decontam",
      // round 8: customer-granularity PageRank (shuffle-keyed superstep
      // at sf1 — the node-count-honest degradation path), the compaction
      // plan, mixed-arity percolation, the defended interval join
      "q154_pagerank_customer", "q152_compaction_binpack",
      "q151_percolate_multiterm", "q153_rate_limited_attrib",
      "q155_percolate_negation")
    val names = if (args.nonEmpty) args.toSeq else defaults
    // Partition sizing is PART of what this harness demonstrates: the
    // sf0.1 bench's 32 shuffle partitions hold ~1.7M rows each on the
    // big queries at sf1 and the first run thrashed the allocator
    // (GCLocker retries, TaskMemoryManager page failures). 8× finer
    // partitions keep each within memory at 10× data; AQE coalesces
    // them back for the small queries, so nothing else changes.
    val spark = Session.local(cpus, cpus * 8, "graft-scale")
    def exec(name: String, dir: String): Long =
      QueryRegistry.withExecConfs(spark, name, dir) {
        QueryRegistry.byName(name).fn(spark, dir).queryExecution.toRdd.count()
      }
    def dropCached(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }
    // Warm each query at BOTH measured scale factors (excluded from
    // timing): AQE picks different physical plans per input size, so a
    // tiny-sf warmup compiles the WRONG generated classes and the first
    // timed pass pays C2 compilation (q34: 9.0 s cold vs 1.6 s steady) —
    // asymmetrically across the small/big runs, skewing the very ratios
    // this tool exists to measure. Same target-sf rationale as Bench.
    // A failure is printed, warm-up and timed passes alike, and the class
    // of a query's first exception goes into the output next to its -1.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def failed(name: String, e: Throwable): Unit = {
      System.err.println(
        s"[scale] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      errors.getOrElseUpdate(name, e.getClass.getName): Unit
    }
    names.foreach { n =>
      try exec(n, smallDir) catch { case e: Throwable => failed(n, e) }
      try exec(n, bigDir) catch { case e: Throwable => failed(n, e) }
    }
    dropCached()
    // Output-bound giants (q35 62M rows, q79 55M pairs at sf1) swing
    // ±40-60% run-to-run on the big side (BASELINE.md variance note) —
    // min-of-2 over that distribution is a coin flip. They get 3 passes
    // and report the MEDIAN — on BOTH sides (ADVICE r6: median-of-3 big
    // over min-of-2 small mixed estimators and biased the giants' ratios
    // upward relative to every min/min query), with every raw pass in the
    // artifact so a reader can see the spread instead of trusting one draw.
    val giants = Set("q35_ngram_jaccard_blocked", "q79_passjoin_k2_varlen")
    def passes(name: String, dir: String): Seq[Double] = {
      val n = if (giants(name)) 3 else 2
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        try { exec(name, dir); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => failed(name, e); -1.0 }
      }
      dropCached()
      ts
    }
    def score(name: String, ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (giants(name) && ok.size >= 3) ok(ok.size / 2) // median
      else ok.min
    }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val rows = names.map { n =>
      val rawSmall = passes(n, smallDir)
      val rawBig = passes(n, bigDir)
      val tSmall = score(n, rawSmall)
      val tBig = score(n, rawBig)
      val ratio = if (tSmall > 0 && tBig > 0) tBig / tSmall else -1.0
      System.err.println(f"SCALE $n%-34s small=${f3(tSmall)}s big=${f3(tBig)}s ratio=${f3(ratio)}")
      val error = errors.get(n).map(c => s""""error":"$c",""").getOrElse("")
      s""""$n":{"small":${f3(tSmall)},"big":${f3(tBig)},"ratio":${f3(ratio)},$error""" +
        s""""raw_small":[${rawSmall.map(f3).mkString(",")}],""" +
        s""""raw_big":[${rawBig.map(f3).mkString(",")}]}"""
    }
    // SPARK_GRAFT_OUT: output file — the skewed-data pass writes its rows
    // to SCALE_SKEW.json so the uniform-scaling artifact stays separate
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "SCALE_LOCAL.json")
    val line = s"""{"metric":"scale_ratio","small":"$smallDir","big":"$bigDir","score":"min; median-of-3 both sides for q35/q79","queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    spark.stop()
    println(line)
  }
}
