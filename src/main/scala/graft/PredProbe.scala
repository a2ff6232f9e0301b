package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool (VERDICT r9 #3): PREDICTED-value checks at a ScaleGen-composed
  * scale factor for the suite's heaviest queries — the affirmative value
  * layer between "the run completed" (SuiteProbe) and "an oracle agreed"
  * (impossible at sf10: DuckDB DNFs).
  *
  * The lever is ScaleGen's construction (ScaleGen.scala:7-42): the big dir
  * is `reps` pairwise-disjoint BIJECTIVE images of the small dir — keys
  * shift by rep × (max_key + 1), text goes through a per-replica character
  * bijection (edit distance / token structure / shingle multisets exactly
  * preserved, nothing shared across replicas), embeddings through a
  * per-replica orthogonal transform, dims stay fixed. So for a query whose
  * answer decomposes per replica, the big answer is PREDICTED exactly from
  * the small answer: per-replica row counts equal the small count,
  * bijection-invariant value columns (edit distances, similarity ratios,
  * merge counts) have identical per-replica sums, and key columns are the
  * small keys plus rep × stride. Queries whose globals change with scale
  * (BM25's N, Apriori's n_orders, PageRank's node count) get per-query
  * predictions that recompute exactly what the global does to the small
  * answer; pipelines whose eval-slice membership is id-hash-reselected per
  * replica (q106/q120 — (base + rep·stride) % 97 is NOT the image of
  * base % 97) get WITNESS checks instead: every emitted row is re-derived
  * through an independent keyed dataflow and every claimed property
  * re-verified, which pins soundness (no wrong row) but not completeness
  * (a silently dropped row — that remains covered by the small-sf oracle).
  *
  * Checks and their prediction contracts:
  *  - q79/q77/q46 (replica-decomposable): per-replica count / sums
  *    of invariant columns == small answer's, key sums affine in rep,
  *    ZERO cross-replica rows. Doubles are per-row quantized to micro
  *    units before summing (bijective images produce bit-identical
  *    doubles; quantized sums are order-independent longs).
  *  - q121: per-replica mass conservation (survivors + absorbed == the
  *    per-replica corpus) with bounded band-recall jitter — see
  *    q121Check's scaladoc for why row-level decomposition does NOT hold.
  *  - q145: full top-50 reconstruction — images of the small rules with
  *    lift re-derived under n_orders' = reps × n_orders (integer-division
  *    order is PRESERVED under the multiplier: floor(10x) >= 10·floor(x),
  *    so the small ranking refines, never reorders), exact row-list
  *    equality, with a loud bail if the selection boundary ties.
  *  - q154: cohort symmetry of the top-100 — every pr_units cohort holds
  *    complete 10-replica families of base nodes (isomorphic subgraphs
  *    must rank identically), plus the (pr_units desc, node) sort contract.
  *  - q133: exact_union/exact_inter == reps × small (within 1e-4 relative:
  *    48-bit md5 shingle hashes can birthday-collide across replicas);
  *    error-contract booleans re-asserted at scale.
  *  - q90: independent recomputation — df/n/avgdl measured by a plain
  *    scan, per-(doc, term) tf collected (the matching slice is tiny),
  *    BM25 arithmetic replayed driver-side, exact top-20 equality; plus
  *    the cross-scale predictions n == reps × n_small, df == df_small
  *    (query terms live only in replica 0 — the ciphers share no words).
  *  - q120: witness re-score — every emitted (vec_id, eval_id, score)
  *    re-scored through a KEYED join (not the query's broadcast cross
  *    product) with the same fixed-point integer kernel; score, threshold,
  *    split membership and one-row-per-vec_id re-asserted per row. NOT
  *    re-verified: that eval_id is the argmax over the full candidate set
  *    (rn==1) — re-deriving it would re-run the cross product this
  *    witness exists to avoid; selection stays pinned by the oracle.
  *  - q83: hybrid — within-replica subset is an exact image (titles are
  *    ciphered text), but short titles from DIFFERENT ciphers can
  *    legitimately sit within ed 2 (rotation coincidences; 720 pairs
  *    measured at sf1), so cross rows are witness-verified per row.
  *  - q38/q56: witness re-score of every emitted pair (customer names
  *    REGENERATE from shifted keys, so digit patterns are not bijective
  *    images and legitimate cross-replica pairs exist — see
  *    pairWitnessCheck's scaladoc).
  *  - q35: exact within/cross decomposition of the full pair listing —
  *    within-replica cells are images, cross counts are combinatorial,
  *    cross jaccard mass gated one-sidedly at the q133 alias budget.
  *  - q106: witness re-derivation — every surviving doc re-passes the
  *    quality/repetition filters via token_metrics, the md5 split bucket,
  *    fingerprint uniqueness, eval-shingle disjointness, and the packing
  *    window_id is recomputed from the output itself.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=60g sbt "runMain graft.PredProbe /tmp/graft-sf1 \
  *     /tmp/graft-sf10 PRED_sf10.json [query names...]"
  */
object PredProbe {
  private def f3(d: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** GRAFT_PAIR_WITNESS_BAND spec → the band for one named check.
    * Global form "N" applies to every banded check; per-query form
    * "name:N,name:N" (r14, ADVICE r13) bands only the named checks —
    * an unnamed check runs UNBANDED (band 1), so a band sized for one
    * giant listing no longer silently downsamples a full-listing
    * witness sharing the invocation. Extracted pure for unit testing. */
  def parseBandSpec(rawSpec: String, name: String): Long = {
    val spec = rawSpec.trim
    val band =
      if (!spec.contains(":")) spec.toLong
      else spec.split(",").map(_.trim).filter(_.nonEmpty).map { e =>
        val Array(q, n) = e.split(":").map(_.trim)
        q -> n.toLong
      }.toMap.getOrElse(name, 1L)
    require(band >= 1,
      s"GRAFT_PAIR_WITNESS_BAND for $name must be >= 1, got $band")
    band
  }

  def main(args: Array[String]): Unit = {
    val smallDir = args(0)
    val bigDir = args(1)
    val outJson = args.lift(2)
    val only = args.drop(3).toSet
    val reps = sys.env.getOrElse("GRAFT_PRED_REPS", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val shuffleParts =
      sys.env.get("GRAFT_SHUFFLE_PARTS").map(_.toInt).getOrElse(cpus * 8)
    val spark = Session.local(cpus, shuffleParts, "graft-pred")
    import Tables.t

    def dropCached(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }
    // Build-time confs only: the aggregates/collects the checks hang off
    // the returned frame execute under session confs, NOT the per-query
    // gate (AQE re-reads conf at physical planning). That is deliberate
    // and safe here — the gate changes physical execution only, never
    // values (the ExecConfsSpec parity contract), and PredProbe checks
    // VALUES; its secs are not comparable to Bench/SuiteProbe cells.
    def runQ(name: String, dir: String): DataFrame =
      QueryRegistry.withExecConfs(spark, name, dir) {
        QueryRegistry.byName(name).fn(spark, dir)
      }
    // ScaleGen's stride definition verbatim (ScaleGen.scala:127-128)
    def stride(table: String, key: String): Long =
      t(spark, smallDir, table).agg(max(col(key)).cast("long"))
        .head().getLong(0) + 1
    lazy val partS = stride("part", "p_partkey")
    lazy val docS = stride("documents", "doc_id")
    lazy val custS = stride("customer", "c_custkey")
    lazy val suppS = stride("supplier", "s_suppkey")

    // ---- generic replica-decomposition check -------------------------
    /** keys: (column, stride) — every key column must land in the SAME
      * replica per row (violations counted), and per-replica base-key
      * sums must equal the small answer's. longCols sum exactly;
      * microCols are per-row round(x·1e6) → long (bit-identical doubles
      * per image ⇒ identical quantization; long sums are exact and
      * order-free); distinctCols compare per-replica distinct counts
      * (character bijections preserve distinctness). */
    def replicaCheck(name: String, keys: Seq[(String, Long)],
                     longCols: Seq[String], microCols: Seq[String],
                     distinctCols: Seq[String] = Nil,
                     crossWitness: Option[DataFrame => (Long, Long)] = None)
        : String = {
      def measures(keyShift: Map[String, Column]): Seq[Column] =
        Seq(count(lit(1)).as("n")) ++
          longCols.map(c => sum(col(c)).as(s"sum_$c")) ++
          microCols.map(c =>
            sum(round(col(c) * 1e6, 0).cast("long")).as(s"sum_$c")) ++
          keys.map { case (k, _) =>
            sum(keyShift.getOrElse(k, col(k))).as(s"sum_$k") } ++
          distinctCols.map(c => countDistinct(col(c)).as(s"nd_$c"))
      val fields = Seq("n") ++ (longCols ++ microCols).map("sum_" + _) ++
        keys.map("sum_" + _._1) ++ distinctCols.map("nd_" + _)

      val smallRow = runQ(name, smallDir).agg(measures(Map.empty).head,
        measures(Map.empty).tail: _*).head()
      dropCached()
      val (k0, s0) = keys.head
      // rows whose keys all land in one replica group under that replica;
      // rows mixing replicas land in the -1 bucket. For bijective-image
      // queries (ciphered-text kernels) the -1 bucket must be EMPTY; a
      // query whose kernel can legitimately pair across replicas (e.g.
      // rotation coincidences on short titles — q83 measured 720 such
      // pairs at sf1) passes a crossWitness instead, which re-verifies
      // every cross row through an independent keyed join (soundness);
      // the within-replica subset stays pinned exactly either way.
      val sameRep = keys.map { case (k, s) =>
        expr(s"$k div $s") === expr(s"$k0 div $s0") }
        .reduce(_ && _)
      val big = runQ(name, bigDir)
        .withColumn("__rep",
          when(sameRep, expr(s"$k0 div $s0")).otherwise(lit(-1L)))
      val shifts = keys.map { case (k, s) =>
        k -> (col(k) - col("__rep") * s) }.toMap
      val bigRows = big.groupBy(col("__rep"))
        .agg(measures(shifts).head, measures(shifts).tail: _*)
        .orderBy(col("__rep")).collect()
      val crossRows = bigRows.filter(_.getAs[Long]("__rep") < 0)
        .map(_.getAs[Long]("n")).sum
      val withinRows = bigRows.filter(_.getAs[Long]("__rep") >= 0)
      val repsSeen = withinRows.map(_.getAs[Long]("__rep")).toSeq
      val mismatches = withinRows.flatMap { r =>
        fields.filter(f => r.getAs[Long](f) != smallRow.getAs[Long](f))
          .map(f => s""""rep${r.getAs[Long]("__rep")}.$f":[${
            r.getAs[Long](f)},${smallRow.getAs[Long](f)}]""")
      }
      // witness BEFORE dropCached: the cross frame re-executes `big`,
      // whose eager localCheckpoint blocks dropCached would unpersist —
      // local-checkpoint blocks are unrecoverable, so the first perm-
      // decade run (where q46/q77 genuinely HAVE cross rows) crashed
      // with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND here
      val (crossJoined, crossBad) =
        if (crossRows == 0 || crossWitness.isEmpty) (crossRows, 0L)
        else crossWitness.get(big.filter(col("__rep") < 0))
      dropCached()
      val crossOk =
        if (crossWitness.isEmpty) crossRows == 0
        else crossBad == 0 && crossJoined == crossRows
      val ok = crossOk && repsSeen == (0L until reps.toLong) &&
        mismatches.isEmpty
      val crossField =
        if (crossWitness.isEmpty) ""
        else s""""cross_joined":$crossJoined,"cross_bad":$crossBad,"""
      s"""{"query":"$name","kind":"replica","reps_seen":${repsSeen.size},""" +
        s""""cross_replica_rows":$crossRows,$crossField""" +
        s""""small":{${fields.map(f =>
          s""""$f":${smallRow.getAs[Long](f)}""").mkString(",")}},""" +
        s""""mismatches":{${mismatches.mkString(",")}},"ok":$ok}"""
    }

    // ---- q121: per-replica conservation ------------------------------
    /** q121 is NOT replica-decomposable row-for-row, and the first probe
      * run PROVED it (reps 8/9 read 4758/4757 survivors vs 4756): LSH
      * band recall is HASH-dependent — the cipher changes shingle hashes,
      * hence minhash values, hence which true pairs a band surfaces — so
      * bijective images legitimately find slightly different subsets of
      * the jaccard>=0.5 pair set, in both directions (replica 0's own
      * banding also misses pairs). That recall profile is part of the
      * DEFINED output (the DuckDB twin implements the identical banding
      * and hash-matches at oracle scales). What IS invariant per replica:
      * total mass — every doc either survives or is absorbed, so
      * survivors + sum(n_dups_merged) == corpus size — plus zero
      * cross-replica rows (cross-replica docs share no shingles), and
      * recall jitter bounded to a handful of pairs. */
    def q121Check(): String = {
      val name = "q121_dedup_canonical"
      val nDocsSmall = t(spark, smallDir, "documents").count()
      val small = runQ(name, smallDir)
        .agg(count(lit(1)).as("n"), sum(col("n_dups_merged")).as("d")).head()
      dropCached()
      val bigRows = runQ(name, bigDir)
        .withColumn("__rep", expr(s"doc_id div $docS"))
        .groupBy(col("__rep"))
        .agg(count(lit(1)).as("n"), sum(col("n_dups_merged")).as("d"))
        .orderBy(col("__rep")).collect()
      dropCached()
      val consOk = bigRows.forall(r =>
        r.getAs[Long]("n") + r.getAs[Long]("d") == nDocsSmall) &&
        small.getAs[Long]("n") + small.getAs[Long]("d") == nDocsSmall
      val maxJitter = bigRows.map(r =>
        math.abs(r.getAs[Long]("n") - small.getAs[Long]("n"))).max
      val ok = consOk && bigRows.length == reps &&
        maxJitter * 1000 <= small.getAs[Long]("n") // <=0.1% band jitter
      s"""{"query":"$name","kind":"replica_conservation",""" +
        s""""reps_seen":${bigRows.length},"corpus_per_rep":$nDocsSmall,""" +
        s""""small_survivors":${small.getAs[Long]("n")},""" +
        s""""per_rep_survivors":[${bigRows.map(_.getAs[Long]("n"))
          .mkString(",")}],"conservation_ok":$consOk,""" +
        s""""max_recall_jitter":$maxJitter,"ok":$ok}"""
    }

    // ---- q145: exact top-50 reconstruction ---------------------------
    def q145Check(): String = {
      val name = "q145_association_rules"
      val small = runQ(name, smallDir).collect()
      val nOrdSmall = t(spark, smallDir, "lineitem")
        .select(col("l_orderkey")).distinct().count()
      dropCached()
      val nOrdBig = reps * nOrdSmall
      // images of every collected small rule under each replica shift,
      // lift re-derived with the scaled n_orders (conf is n-free)
      case class Rule(pa: Long, pb: Long, sp: Long, sa: Long, sb: Long,
                      conf: Long, lift: Long)
      val predAll = for {
        r <- 0 until reps; row <- small
      } yield {
        val conf = row.getAs[Long]("conf_micro")
        Rule(row.getAs[Long]("part_a") + r * partS,
          row.getAs[Long]("part_b") + r * partS,
          row.getAs[Long]("sup_pair"), row.getAs[Long]("sup_a"),
          row.getAs[Long]("sup_b"), conf,
          (conf * nOrdBig) / row.getAs[Long]("sup_b"))
      }
      val pred = predAll.sortBy(x => (-x.lift, x.pa, x.pb)).take(50)
      // completeness caveat: uncollected small rules (rank > 50) have
      // lift' <= the collected 50th's (floor-division order preserved
      // under the xreps multiplier); a TIE at the selection boundary
      // means an uncollected rule's image COULD belong in the true
      // top-50 by the part_a tiebreak. The tie does not void the check:
      // the big ranking is deterministic, so if the true boundary held
      // such an image the MEASURED list would contain a rule absent
      // from the prediction and rows_agree would read false — exact
      // agreement certifies the prediction was complete after the fact
      // (an engine error that lands precisely on an incomplete
      // prediction would need the independently computed big answer to
      // reproduce the small top-50's images, lifts included). The tie
      // is recorded so a reader can tell a guaranteed reconstruction
      // from a post-hoc-certified one. Belt and braces, every measured
      // row's derived columns are re-checked from its own support
      // fields (the arithmetic the engine claims to have done).
      val worstCollected = {
        val last = small.last
        (last.getAs[Long]("conf_micro") * nOrdBig) / last.getAs[Long]("sup_b")
      }
      val boundaryTie = pred.last.lift == worstCollected && small.length >= 50
      val meas = runQ(name, bigDir).collect().map(row =>
        Rule(row.getAs[Long]("part_a"), row.getAs[Long]("part_b"),
          row.getAs[Long]("sup_pair"), row.getAs[Long]("sup_a"),
          row.getAs[Long]("sup_b"), row.getAs[Long]("conf_micro"),
          row.getAs[Long]("lift_micro")))
      dropCached()
      val arithBad = meas.count(r =>
        r.conf != (r.sp * 1000000L) / r.sa ||
          r.lift != (r.conf * nOrdBig) / r.sb)
      val agree = meas.toSeq == pred.toSeq
      val ok = agree && arithBad == 0
      s"""{"query":"$name","kind":"reconstruct_topk","rows":${meas.length},""" +
        s""""n_orders_big":$nOrdBig,"boundary_tie":$boundaryTie,""" +
        s""""arith_bad":$arithBad,"rows_agree":$agree,"ok":$ok}"""
    }

    // ---- q154: cohort symmetry of the top-100 ------------------------
    def q154Check(): String = {
      val name = "q154_pagerank_customer"
      val rows = runQ(name, bigDir).collect()
        .map(r => (r.getAs[Long]("node"), r.getAs[Long]("pr_units")))
      dropCached()
      // node id scheme (GraphOps q154): customers raw, suppliers at
      // -(s_suppkey) - 1; replica/base recovered per sign
      def repOf(node: Long): Long =
        if (node >= 0) node / custS else (-node - 1) / suppS
      def baseOf(node: Long): Long =
        if (node >= 0) node % custS else -((-node - 1) % suppS) - 1
      val sortOk = rows.sliding(2).forall {
        case Array((n1, r1), (n2, r2)) => r1 > r2 || (r1 == r2 && n1 < n2)
        case _ => true
      }
      // Tie diagnostics. distinct_pr alone conflates two different ties
      // (r10's reading was the conflation): once the composed replica
      // count reaches the top-k, the ENTIRE top-100 is one isomorphic
      // cohort and distinct_pr == 1 is the CORRECT exact answer at any
      // resolution (measured at sf10 under nn·6e6 mass: all 100 rows are
      // images of one hot supplier base). What distinguishes that from a
      // resolution-limited mash (r10's sf100 artifact: ~6060 units/node
      // quantized DIFFERENT bases onto one value) is how many distinct
      // BASES share the boundary pr: boundary_bases == 1 means a true
      // cohort tie; > 1 means quantization merged structurally distinct
      // nodes and the family check is running on mush.
      val distinctPr = rows.map(_._2).distinct.length
      val minPr0 = rows.map(_._2).min
      val boundaryBases = rows.filter(_._2 == minPr0)
        .map(x => baseOf(x._1)).distinct.length
      val topBases = rows.map(x => baseOf(x._1)).distinct.length
      // isomorphic replicas must rank their base nodes identically: every
      // (base, pr_units) family is complete (all `reps` images) except
      // possibly families cut by the top-100 boundary, which the sort
      // contract pins to the minimum pr_units value
      val fams = rows.groupBy { case (n, r) => (baseOf(n), r) }
      val minPr = rows.map(_._2).min
      val broken = fams.collect {
        case ((b, r), f) if f.length != reps && r != minPr =>
          s""""base=$b,pr=$r":${f.length}"""
        case ((b, r), f)
          if f.map(x => repOf(x._1)).toSet.size != f.length =>
          s""""base=$b,pr=$r,dup_rep":${f.length}"""
      }.toSeq
      val ok = sortOk && broken.isEmpty && rows.length == 100
      s"""{"query":"$name","kind":"cohort_symmetry","rows":${rows.length},""" +
        s""""families":${fams.size},"distinct_pr":$distinctPr,""" +
        s""""top_bases":$topBases,"boundary_bases":$boundaryBases,""" +
        s""""sort_ok":$sortOk,""" +
        s""""broken_families":{${broken.mkString(",")}},"ok":$ok}"""
    }

    // ---- q133: scaled exact-side prediction --------------------------
    def q133Check(): String = {
      val name = "q133_kmv_set_intersection"
      val s0 = runQ(name, smallDir).head(); dropCached()
      val b0 = runQ(name, bigDir).head(); dropCached()
      def g(r: Row, c: String) = r.getAs[Long](c)
      // Collisions can only MERGE hashes, so the measured exact counts
      // sit AT OR BELOW reps x small — a measured excess would be an
      // engine error and fails one-sidedly. The allowed deficit covers
      // two data effects measured across the decades: 48-bit md5
      // birthday collisions (~n^2/2^49: 75 of 2.7M at sf10, ~1300 of
      // 27M at sf100) and, on the PERM decade only, genuine
      // cross-replica shingle coincidences (a seeded random permutation
      // can alias short vocabulary words; measured 4715 of 27M at
      // sf100) — hence 5e-4 relative, one-sided.
      def near(m: Long, p: Long): Boolean = {
        val d = p - m
        d >= 0 && d <= math.max(2L, p / 2000)
      }
      val pu = reps * g(s0, "exact_union"); val pi = reps * g(s0, "exact_inter")
      val ok = near(g(b0, "exact_union"), pu) && near(g(b0, "exact_inter"), pi) &&
        b0.getAs[Boolean]("union_ok") && b0.getAs[Boolean]("inter_ok") &&
        (g(s0, "k_eff") < 128 || g(b0, "k_eff") == 128)
      s"""{"query":"$name","kind":"scaled_exact",""" +
        s""""exact_union":[${g(b0, "exact_union")},$pu],""" +
        s""""exact_inter":[${g(b0, "exact_inter")},$pi],""" +
        s""""union_ok":${b0.getAs[Boolean]("union_ok")},""" +
        s""""inter_ok":${b0.getAs[Boolean]("inter_ok")},"ok":$ok}"""
    }

    // ---- q90: independent BM25 recomputation -------------------------
    def q90Check(): String = {
      val name = "q90_bm25_retrieval"
      import graft.functions.TextFunctions.tokens
      val terms = Seq("dup", "merge", "vector")
      def corpus(dir: String) = t(spark, dir, "documents")
        .select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      // global stats by a plain scan (no groupBy pipeline): dl per doc is
      // the token-array size — identical to the query's per-token-count
      // sum because split() never drops elements
      def stats(dir: String): (Long, Long) = {
        val r = corpus(dir)
          .agg(count(lit(1)).cast("long").as("n"),
            sum(size(col("tk"))).cast("long").as("sdl")).head()
        (r.getAs[Long]("n"), r.getAs[Long]("sdl"))
      }
      val (nS, sdlS) = stats(smallDir)
      val (nB, sdlB) = stats(bigDir)
      def dfOf(dir: String): Map[String, Long] = corpus(dir)
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df")).collect()
        .map(r => r.getAs[String]("tok") -> r.getAs[Long]("df")).toMap
      val dfS = dfOf(smallDir); val dfB = dfOf(bigDir)
      // matching slice: tiny by construction (terms live in replica 0)
      val slice = corpus(bigDir)
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).cast("long").as("tf")).collect()
      dropCached()
      val avgdl = sdlB.toDouble / nB
      def idf(df: Long): Long =
        java.lang.Long.toBinaryString((nB + 1) / (df + 1)).length.toLong
      val predDocs = slice.groupBy(_.getAs[Long]("doc_id")).map {
        case (doc, rs) =>
          val score = rs.map { r =>
            val tf = r.getAs[Long]("tf"); val dl = r.getAs[Long]("dl")
            val contrib = idf(dfB(r.getAs[String]("tok"))) *
              ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
            // Spark round(x, 0) is HALF_UP; equals Math.round for
            // positive finite doubles
            Math.round(contrib * 1e6)
          }.sum
          (doc, rs.length.toLong, score)
      }.toSeq
      val pred = predDocs.sortBy(x => (-x._3, x._1)).take(20)
      val meas = runQ(name, bigDir).collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
          r.getAs[Long]("score_micro"))).toSeq
      dropCached()
      // df equality across the decade is NOT part of ok: it holds on the
      // rotation/affine decades (ciphers share no words) but a PERM
      // decade's seeded random permutation can alias a short vocabulary
      // word onto a query term (measured at sf100: df("dup") 250 ->
      // 4124). The independent recomputation measures df at the big
      // scale itself, so the top-20 check stays exact either way; the
      // df pairs ride along as data provenance.
      val ok = meas == pred && nB == reps * nS && sdlB == reps * sdlS
      s"""{"query":"$name","kind":"independent_recompute",""" +
        s""""n":[$nB,${reps * nS}],"sum_dl":[$sdlB,${reps * sdlS}],""" +
        s""""df":{${terms.map(tm => s""""$tm":[${dfB.getOrElse(tm, 0L)},${
          dfS.getOrElse(tm, 0L)}]""").mkString(",")}},""" +
        s""""top20_agree":${meas == pred},"ok":$ok}"""
    }

    // ---- q35: within/cross decomposition over the FULL pair listing ---
    /** q35 emits EVERY within-source pair with its Jaccard (no threshold),
      * so the big answer splits exactly: pairs whose docs share a replica
      * are bijective images (identical per-replica counts and quantized
      * jaccard sums — shingle multisets are cipher-preserved), and
      * cross-replica pairs are pure combinatorics (C(reps,2) · m_s² per
      * source, m_s = small docs of source s) whose jaccard is 0 except
      * for hash/alias coincidences — which can only ADD intersection, so
      * the cross jaccard mass is gated ONE-SIDEDLY. The jacc_xck contract
      * boolean must hold on every pair, within and cross. One aggregation
      * pass — the total-order sort is presentation machinery the
      * aggregate elides (same dataflow argument as SuiteProbe's
      * order-insensitive cell).
      *
      * Alias-mass budget (rewritten r14): the original bound (5e-4 of the
      * WITHIN mass, per source) had a latent scaling bug the banded smoke
      * surfaced cheaply — alias mass is proportional to CROSS PAIR COUNT
      * (∝ reps²·m²), while within mass grows only ∝ reps·m², so the old
      * budget would have failed the full sf100 check too had its ~90 h
      * run ever been affordable; and per-source gating is discreteness-
      * fragile under banding (a single coincidental j≈0.035 pair, ~35k
      * micro, exceeds a slice-sized source budget). The contract is now
      * what the physics says: TOTAL cross mass ≤ predicted cross pairs ×
      * 5e-3 micro/pair (one-sided; measured alias rate 2.46e-3 at the
      * sf10 full listing and 1.41e-3 at the sf100 band-100 smoke — 2-3.5×
      * headroom, scale-invariant per pair). Per-source exact counts and
      * the per-pair xck boolean keep per-source health pinned.
      *
      * Two-sided base-keyband (r14, VERDICT r13 #7): with band B the
      * check keeps only pairs whose BOTH docs fall in the base-id keyband
      * keep(id) := pmod(xxhash64(id mod docS), B) = 0 — each conjunct
      * references one join side, so Catalyst pushes both below the pair
      * join into the scans and the enumerated pair mass shrinks ~1/B²
      * (the sf100 full listing is ~625B pairs / ~90 h; B=10 ≈ the sf10
      * full check's cost). Banding the BASE id preserves EVERY exactness
      * property of the unbanded check: the same doc slice is selected in
      * each replica, so banded within cells remain bijective images of
      * the BANDED small cells (exact n + quantized-jaccard equality), and
      * banded cross counts remain pure combinatorics, C(reps,2)·m′² per
      * source with m′ = banded small docs of that source. Nothing becomes
      * statistical — only the slice narrows. */
    def q35Check(band: Long = 1L): String = {
      val name = "q35_ngram_jaccard_blocked"
      def keep(c: Column): Column =
        if (band == 1L) lit(true)
        else pmod(xxhash64(pmod(c, lit(docS))), lit(band)) === 0L
      val mS = t(spark, smallDir, "documents")
        .filter(keep(col("doc_id"))).groupBy(col("source"))
        .agg(count(lit(1)).as("m")).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Long]("m")).toMap
      val small = runQ(name, smallDir)
        .filter(keep(col("a_id")) && keep(col("b_id")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("jaccard") * 1e6, 0).cast("long")).as("sj"),
          coalesce(min(when(col("jacc_xck"), 1L).otherwise(0L)), lit(1L))
            .as("xck")).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n"), r.getAs[Long]("sj"), r.getAs[Long]("xck")))
        .toMap
      dropCached()
      val bigRows = runQ(name, bigDir)
        .filter(keep(col("a_id")) && keep(col("b_id")))
        .withColumn("__rep",
          when(expr(s"a_id div $docS") === expr(s"b_id div $docS"),
            expr(s"a_id div $docS")).otherwise(lit(-1L)))
        .groupBy(col("source"), col("__rep"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("jaccard") * 1e6, 0).cast("long")).as("sj"),
          coalesce(min(when(col("jacc_xck"), 1L).otherwise(0L)), lit(1L))
            .as("xck"))
        .collect()
      dropCached()
      val sources = mS.keySet
      val within = bigRows.filter(_.getAs[Long]("__rep") >= 0)
      val cross = bigRows.filter(_.getAs[Long]("__rep") < 0)
      val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
      // within: every (source, rep) cell equals the small cell
      for (s <- sources; r <- 0L until reps.toLong) {
        val (nS, sjS, _) = small.getOrElse(s, (0L, 0L, 1L))
        within.find(x => x.getAs[String]("source") == s &&
            x.getAs[Long]("__rep") == r) match {
          case None if nS > 0 => mismatches += s""""$s.rep$r":"missing""""
          case Some(x) if x.getAs[Long]("n") != nS ||
              x.getAs[Long]("sj") != sjS || x.getAs[Long]("xck") != 1L =>
            mismatches += s""""$s.rep$r":[${x.getAs[Long]("n")},$nS,${
              x.getAs[Long]("sj")},$sjS,${x.getAs[Long]("xck")}]"""
          case _ =>
        }
      }
      // cross: combinatorial count per source + per-pair contract bool;
      // alias jaccard mass gated one-sidedly on the TOTAL at 5e-3 micro
      // per predicted cross pair (see scaladoc — the old within-mass-
      // proportional per-source budget mis-scaled with reps and banding)
      var predCrossTotal = 0L
      for (s <- sources) {
        val m = mS(s)
        val predCross = reps.toLong * (reps - 1) / 2 * m * m
        predCrossTotal += predCross
        val c = cross.filter(_.getAs[String]("source") == s)
        val nC = c.map(_.getAs[Long]("n")).sum
        val sjC = c.map(_.getAs[Long]("sj")).sum
        val xckC = c.map(_.getAs[Long]("xck")).forall(_ == 1L)
        if (nC != predCross || sjC < 0 || !xckC)
          mismatches += s""""$s.cross":[$nC,$predCross,$sjC,$xckC]"""
      }
      val crossBudget = math.max(2L, predCrossTotal / 200L)
      val crossMass = cross.map(_.getAs[Long]("sj")).sum
      if (crossMass > crossBudget)
        mismatches += s""""cross_mass":[$crossMass,$crossBudget]"""
      val ok = mismatches.isEmpty
      s"""{"query":"$name","kind":"within_cross_decomposition",""" +
        s""""band":$band,""" +
        s""""within_cells":${within.length},"cross_rows":${
          cross.map(_.getAs[Long]("n")).sum},""" +
        s""""cross_jaccard_micro":$crossMass,""" +
        s""""cross_budget":$crossBudget,""" +
        s""""mismatches":{${mismatches.mkString(",")}},"ok":$ok}"""
    }

    // ---- q38/q56: witness re-score of every emitted pair ---------------
    /** Customer names REGENERATE from the shifted key (Customer#%09d —
      * ScaleGen.scala:17-20), so unlike the ciphered-text queries their
      * pair answers are NOT bijective images of the small answer: decimal
      * digit patterns shift under key offsets (e.g. 099999/100000 vs
      * 119999/120000 differ in different positions), and legitimate
      * cross-replica pairs exist (two shifted keys can differ in one
      * digit). The honest scalable check is the q120 discipline: every
      * emitted pair re-verified through an independent KEYED join against
      * the source table — block key, thresholded lev (recomputed by the
      * banded kernel on the full strings), derived ratio, and key order
      * re-asserted per row. Soundness (no wrong row), not completeness
      * (that stays with the small-sf oracle + the blocked-agreement
      * property tests).
      *
      * GRAFT_PAIR_WITNESS_BAND=N (r13, VERDICT r12 #7): witness only the
      * deterministic hash band pmod(xxhash64(a_key, b_key), N) = 0 of the
      * pair stream — the third-decade mode. The full-listing witness at
      * sf100 is storage-bound on this box (measured r12: re-running q38 +
      * localCheckpointing its 1.32B-row listing + two keyed joins ENOSPC'd
      * past the ~109 GB budget); the band filter is PUSHED BELOW the
      * listing's presentation sort by Catalyst (filters commute with
      * Sort), so the re-run pays the operator's own dataflow but sorts and
      * checkpoints only ~1/N of the output, and the witness joins are
      * band-sized. The band is seeded by the pair keys themselves —
      * deterministic, reproducible, and un-gameable by row position. The
      * sampled count rides into the artifact for the reader to compare
      * against the suite cell's full row count (expected rows/N, binomial
      * noise). Soundness coverage is the band; the FULL listing stays
      * witnessed at the decades where it fits (sf1/sf10).
      *
      * Per-query bands (r14, ADVICE r13): the global form "N" applies one
      * band to every banded check in the invocation, which silently
      * downsamples a check whose listing would have fit in full (q56's
      * 465M rows vs q38's 1.32B need different bands). The env now also
      * accepts "name:N,name:N" — a check not named runs UNBANDED (band
      * 1), so mixing a banded giant with a full-listing witness in one
      * invocation no longer shrinks the latter's soundness coverage. */
    def bandFor(name: String): Long = PredProbe.parseBandSpec(
      sys.env.getOrElse("GRAFT_PAIR_WITNESS_BAND", "1"), name)
    def pairWitnessCheck(name: String, k: Int,
                         withRatio: Boolean): String = {
      import graft.functions.expressions.LevenshteinK.levenshtein_k
      val band = bandFor(name)
      val full = runQ(name, bigDir)
      val out = (if (band == 1L) full
        else full.filter(pmod(xxhash64(col("a_key"), col("b_key")),
          lit(band)) === 0L)).localCheckpoint()
      val outN = out.count()
      val cust = t(spark, bigDir, "customer")
      val an = cust.select(col("c_custkey").as("a_key"),
        col("c_name").as("__an"), col("c_nationkey").as("__ank"))
      val bn = cust.select(col("c_custkey").as("b_key"),
        col("c_name").as("__bn"), col("c_nationkey").as("__bnk"))
      val lev2 = levenshtein_k(col("__an"), col("__bn"), k).cast("long")
      val rowBad =
        (col("__lev2") =!= col("lev")) || col("lev") < 0 ||
          col("lev") > k || (col("a_key") >= col("b_key")) ||
          (if (withRatio)
            col("nk") =!= col("__ank") || col("nk") =!= col("__bnk") ||
              col("ratio") =!= round(lit(1.0) - col("lev").cast("double") /
                greatest(length(col("__an")), length(col("__bn"))), 6)
          else lit(false))
      val r = out.join(an, Seq("a_key")).join(bn, Seq("b_key"))
        .withColumn("__lev2", lev2)
        .agg(count(lit(1)).as("n"),
          sum(when(rowBad, 1L).otherwise(0L)).as("bad"),
          sum(when(expr(s"a_key div $custS") =!= expr(s"b_key div $custS"),
            1L).otherwise(0L)).as("cross")).head()
      dropCached()
      val ok = r.getAs[Long]("bad") == 0 && r.getAs[Long]("n") == outN &&
        outN > 0
      val kind =
        if (band == 1L) "witness_pairs" else "witness_pairs_sampled"
      val bandField = if (band == 1L) "" else s""""band":$band,"""
      s"""{"query":"$name","kind":"$kind",$bandField"rows":$outN,""" +
        s""""joined":${r.getAs[Long]("n")},"bad":${r.getAs[Long]("bad")},""" +
        s""""cross_replica_rows":${r.getAs[Long]("cross")},"ok":$ok}"""
    }

    // ---- q79 third decade: base-keyband replica decomposition ---------
    /** The r13 q79 sf100 cell (5,789,994,567 pairs) reads +4.98% over the
      * zero-cross extrapolation, and the surplus was never row-witnessed —
      * the full replicaCheck would re-run the 3.6 h enumeration TWICE
      * (decomposition pass + cross-witness pass). This check makes the
      * same decomposition affordable by banding on the BASE part key:
      * keep(a_key) := pmod(xxhash64(pmod(a_key, stride)), band) = 0.
      * Two properties fall out of that choice:
      *  - the predicate references ONLY the pair's left key, so Catalyst
      *    pushes it below the candidate join into the index side — the
      *    ~134B-candidate kernel grind shrinks by 1/band (a pair-hash
      *    band needs both keys and lands AFTER the witness kernel in the
      *    residual conjunct order, saving almost nothing);
      *  - banding the BASE key (key mod stride) selects the SAME key
      *    slice in every replica, so per-replica sampled counts and
      *    shifted-key/lev sums must equal the banded small answer
      *    EXACTLY (lev is invariant under each replica's character
      *    bijection) — exact within-replica pinning on a 1/band slice,
      *    not a statistical bound.
      * Every sampled row (within AND cross) is re-derived through one
      * broadcast-keyed join against part names: banded-kernel lev
      * recomputed on the full strings, key order re-asserted. The cross
      * bucket (__rep = -1) is the surplus under test: its sampled mass
      * and lev profile ride into the artifact for comparison against the
      * suite cell (expected cross/band, CLT over ~stride/band sampled
      * left keys — left-key sampling is unbiased for totals but not
      * per-pair i.i.d., hence "keyband", distinct from witness_pairs'
      * pair-hash kind). One execution of the banded enumeration total:
      * decomposition, witness, and cross accounting share a single
      * aggregation pass. */
    def q79KeyBandCheck(band: Long): String = {
      val name = "q79_passjoin_k2_varlen"
      import graft.functions.expressions.LevenshteinK.levenshtein_k
      val s0 = partS
      def keep(k: Column): Column =
        pmod(xxhash64(pmod(k, lit(s0))), lit(band)) === 0L
      val small = runQ(name, smallDir).filter(keep(col("a_key")))
        .agg(count(lit(1)).as("n"), sum(col("lev")).as("sum_lev"),
          sum(col("a_key")).as("sum_a_key"),
          sum(col("b_key")).as("sum_b_key")).head()
      dropCached()
      val nm = t(spark, bigDir, "part")
        .select(col("p_partkey"), col("p_name"))
      val lev2 = levenshtein_k(col("__na"), col("__nb"), 2).cast("long")
      val shift = greatest(col("__rep"), lit(0L)) * s0
      val perRep = runQ(name, bigDir).filter(keep(col("a_key")))
        .join(broadcast(nm.select(col("p_partkey").as("a_key"),
          col("p_name").as("__na"))), Seq("a_key"))
        .join(broadcast(nm.select(col("p_partkey").as("b_key"),
          col("p_name").as("__nb"))), Seq("b_key"))
        .withColumn("__rep",
          when(expr(s"a_key div $s0") === expr(s"b_key div $s0"),
            expr(s"a_key div $s0")).otherwise(lit(-1L)))
        .groupBy(col("__rep"))
        .agg(count(lit(1)).as("n"), sum(col("lev")).as("sum_lev"),
          sum(col("a_key") - shift).as("sum_a_key"),
          sum(col("b_key") - shift).as("sum_b_key"),
          sum(when(lev2 =!= col("lev") || col("lev") < 0 ||
            col("lev") > 2 || col("a_key") >= col("b_key"),
            1L).otherwise(0L)).as("bad"))
        .orderBy(col("__rep")).collect()
      dropCached()
      val fields = Seq("n", "sum_lev", "sum_a_key", "sum_b_key")
      val within = perRep.filter(_.getAs[Long]("__rep") >= 0)
      val repsSeen = within.map(_.getAs[Long]("__rep")).toSeq
      val mismatches = within.flatMap { r =>
        fields.filter(f => r.getAs[Long](f) != small.getAs[Long](f))
          .map(f => s""""rep${r.getAs[Long]("__rep")}.$f":[${
            r.getAs[Long](f)},${small.getAs[Long](f)}]""")
      }
      val cross = perRep.filter(_.getAs[Long]("__rep") < 0)
      val crossN = cross.map(_.getAs[Long]("n")).sum
      val crossLev = cross.map(_.getAs[Long]("sum_lev")).sum
      val badTotal = perRep.map(_.getAs[Long]("bad")).sum
      val total = perRep.map(_.getAs[Long]("n")).sum
      val ok = badTotal == 0 && mismatches.isEmpty &&
        repsSeen == (0L until reps.toLong) && small.getAs[Long]("n") > 0
      s"""{"query":"$name","kind":"replica_keyband","band":$band,""" +
        s""""stride":$s0,"reps_seen":${repsSeen.size},""" +
        s""""sampled_total":$total,"bad":$badTotal,""" +
        s""""cross_replica_rows":$crossN,"cross_sum_lev":$crossLev,""" +
        s""""cross_share":${"%.6f".formatLocal(java.util.Locale.ROOT,
          if (total == 0) 0.0 else crossN.toDouble / total)},""" +
        s""""small":{${fields.map(f =>
          s""""$f":${small.getAs[Long](f)}""").mkString(",")}},""" +
        s""""mismatches":{${mismatches.mkString(",")}},"ok":$ok}"""
    }

    // ---- q120: witness re-score through a keyed join ------------------
    def q120Check(): String = {
      val name = "q120_semantic_decontam"
      val out = runQ(name, bigDir).localCheckpoint()
      val fx = transform(col("embedding"),
        x => round(x.cast("double") * 1000000L).cast("long"))
      val ev = t(spark, bigDir, "embeddings")
        .select(col("vec_id"), fx.as("e"))
        .withColumn("nn", aggregate(transform(col("e"), x => x * x),
          lit(0L), (acc, x) => acc + x).cast("double"))
      val re = out
        .join(ev.select(col("vec_id"), col("e").as("te"), col("nn").as("tn")),
          Seq("vec_id"))
        .join(ev.select(col("vec_id").as("eval_id"), col("e").as("qe"),
          col("nn").as("qn")), Seq("eval_id"))
        .withColumn("score2", round(
          aggregate(zip_with(col("te"), col("qe"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).cast("double") /
            sqrt(col("tn") * col("qn")), 6))
        .agg(count(lit(1)).as("n"),
          sum(when(col("score2") =!= col("score") ||
            col("score") < 0.35 ||
            col("vec_id") % 97 === 0 || col("eval_id") % 97 =!= 0,
            1L).otherwise(0L)).as("bad"),
          countDistinct(col("vec_id")).as("nv")).head()
      dropCached()
      // Coverage note (ADVICE r10): score, threshold, split membership,
      // and one-row-per-vec_id are re-verified; the rn==1 SELECTION (that
      // eval_id is the argmax over the full candidate set) is NOT — that
      // would re-run the train x eval cross product this witness exists
      // to avoid. Selection stays pinned by the small-sf oracle.
      val ok = re.getAs[Long]("bad") == 0 && re.getAs[Long]("n") > 0 &&
        re.getAs[Long]("nv") == re.getAs[Long]("n")
      s"""{"query":"$name","kind":"witness_rescore",""" +
        s""""rows":${re.getAs[Long]("n")},"bad":${re.getAs[Long]("bad")},""" +
        s""""distinct_vec":${re.getAs[Long]("nv")},"ok":$ok}"""
    }

    // ---- q106: witness re-derivation of every surviving doc -----------
    def q106Check(): String = {
      val name = "q106_curation_pipeline_e2e"
      import graft.functions.HashFunctions.shingles
      import graft.functions.expressions.TokenMetrics.token_metrics
      val out = runQ(name, bigDir).localCheckpoint()
      val docs = t(spark, bigDir, "documents")
        .select(col("doc_id"), col("text"))
      val joined = out.join(docs, Seq("doc_id"))
        .withColumn("tk", split(col("text"), " "))
        .withColumn("m", token_metrics(split(col("text"), " ")))
      val nTok = col("m.n_tokens")
      val uniq = col("m.uniq_tokens").cast("double") / nTok
      val meanW = (length(col("text")) - nTok + 1).cast("double") / nTok
      val topF = col("m.top_token_count").cast("double") / nTok
      val dup3 = lit(1.0) -
        col("m.uniq_trigrams").cast("double") / (nTok - 2)
      val top2 = col("m.top_bigram_count").cast("double") / (nTok - 1)
      val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":split"))), 1, 8), 16, 10).cast("long") % 10
      val filtersOk = nTok >= 20 && uniq >= 0.5 && topF <= 0.2 &&
        meanW.between(3, 6) && dup3 <= 0.6 && top2 <= 0.2
      val splitOk = col("split") === when(bucket <= 7, lit("train"))
        .when(bucket === 8, lit("val")).otherwise(lit("test"))
      val pw = Window.partitionBy(col("split"), col("source"))
        .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
      val winOk = col("window_id") ===
        floor(coalesce(sum(col("n_tokens")).over(pw), lit(0L)) /
          lit(graft.operators.AssemblyOps.WindowTokens)).cast("long")
      val base = joined
        .withColumn("row_ok", filtersOk && splitOk &&
          col("doc_id") % 97 =!= 0 &&
          col("n_tokens") === nTok.cast("long"))
        .withColumn("win_ok", winOk)
      val a = base.agg(count(lit(1)).as("n"),
        sum(when(!col("row_ok"), 1L).otherwise(0L)).as("bad_rows"),
        sum(when(!col("win_ok"), 1L).otherwise(0L)).as("bad_windows"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("dup_fps"))
        .head()
      // decontamination witness: surviving docs share no shingle with the
      // eval slice (membership re-derived at THIS scale's id space)
      val evalSh = docs
        .withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= 3 && col("doc_id") % 97 === 0)
        .select(explode(shingles(col("tk"))).as("sg")).distinct()
      val contamHits = joined
        .select(col("doc_id"), explode(shingles(col("tk"))).as("sg"))
        .join(broadcast(evalSh), Seq("sg")).count()
      dropCached()
      val ok = a.getAs[Long]("bad_rows") == 0 &&
        a.getAs[Long]("bad_windows") == 0 &&
        a.getAs[Long]("dup_fps") == 0 && contamHits == 0 &&
        a.getAs[Long]("n") > 0
      s"""{"query":"$name","kind":"witness_pipeline",""" +
        s""""rows":${a.getAs[Long]("n")},"bad_rows":${
          a.getAs[Long]("bad_rows")},""" +
        s""""bad_windows":${a.getAs[Long]("bad_windows")},""" +
        s""""dup_fingerprints":${a.getAs[Long]("dup_fps")},""" +
        s""""eval_shingle_hits":$contamHits,"ok":$ok}"""
    }

    val checks: Seq[(String, () => String)] = Seq(
      "q121_dedup_canonical" -> (() => q121Check()),
      // q46/q77 cross-replica witnesses: pairs across PERM ciphers can
      // legitimately clear the similarity threshold (two random
      // permutations of a tiny two-word vocabulary can land within the
      // lev bound — the q83 rotation-coincidence effect); measured ZERO
      // at the rotation (sf1) and affine (sf10) decades, so the witness
      // is a no-op there, but the sf100 run must verify rather than
      // assume. Each cross row re-derives its measure from part names
      // through a keyed join.
      "q46_ratcliff_fuzzy_pairs" -> (() => {
        import graft.functions.expressions.StringRatio.string_ratio
        replicaCheck("q46_ratcliff_fuzzy_pairs",
          Seq("a_key" -> partS, "b_key" -> partS), Nil, Seq("ratio"),
          Seq("p_brand"),
          crossWitness = Some { cross =>
            val nm = t(spark, bigDir, "part").select(
              col("p_partkey"), lower(col("p_name")).as("nl"),
              col("p_brand").as("bb"), col("p_type").as("tt"))
            val r = cross
              .join(nm.select(col("p_partkey").as("a_key"),
                col("nl").as("__na"), col("bb").as("__ba"),
                col("tt").as("__tta")), Seq("a_key"))
              .join(nm.select(col("p_partkey").as("b_key"),
                col("nl").as("__nb"), col("bb").as("__bb"),
                col("tt").as("__ttb")), Seq("b_key"))
              .agg(count(lit(1)).as("n"),
                sum(when(
                  round(string_ratio(col("__na"), col("__nb")) * 1e6, 0)
                    .cast("long") =!= round(col("ratio") * 1e6, 0)
                    .cast("long") ||
                  string_ratio(col("__na"), col("__nb")) < 0.85 ||
                  col("p_brand") =!= col("__ba") ||
                  col("__ba") =!= col("__bb") ||
                  col("__tta") =!= col("__ttb") ||
                  col("a_key") >= col("b_key"), 1L).otherwise(0L)).as("bad"))
              .head()
            (r.getAs[Long]("n"), r.getAs[Long]("bad"))
          })
      }),
      "q77_fuzzy_near_miss_debug" -> (() => {
        import graft.functions.expressions.LevenshteinK.levenshtein_k
        replicaCheck("q77_fuzzy_near_miss_debug",
          Seq("a_key" -> partS, "b_key" -> partS), Nil, Seq("sim"),
          Seq("p_brand"),
          crossWitness = Some { cross =>
            val nm = t(spark, bigDir, "part").select(
              col("p_partkey"), lower(col("p_name")).as("nl"),
              col("p_brand").as("bb"), col("p_type").as("tt"))
            val g = t(spark, bigDir, "part")
              .agg(max(length(col("p_name"))).cast("int")).head().getInt(0)
            val bound = math.max(1, (3 * g - 1) / 10)
            val lv = levenshtein_k(col("__na"), col("__nb"), bound)
              .cast("double")
            val sim2 = lit(1.0) - lv /
              greatest(length(col("__na")), length(col("__nb")))
            val r = cross
              .join(nm.select(col("p_partkey").as("a_key"),
                col("nl").as("__na"), col("bb").as("__ba"),
                col("tt").as("__tta")), Seq("a_key"))
              .join(nm.select(col("p_partkey").as("b_key"),
                col("nl").as("__nb"), col("bb").as("__bb"),
                col("tt").as("__ttb")), Seq("b_key"))
              .agg(count(lit(1)).as("n"),
                sum(when(
                  lv < 0 || sim2 <= 0.7 ||
                  round(sim2 * 1e6, 0).cast("long") =!=
                    round(col("sim") * 1e6, 0).cast("long") ||
                  col("p_brand") =!= col("__ba") ||
                  col("__ba") =!= col("__bb") ||
                  col("__tta") =!= col("__ttb") ||
                  col("a_key") >= col("b_key"), 1L).otherwise(0L)).as("bad"))
              .head()
            (r.getAs[Long]("n"), r.getAs[Long]("bad"))
          })
      }),
      "q79_passjoin_k2_varlen" -> (() => {
        import graft.functions.expressions.LevenshteinK.levenshtein_k
        // banded (GRAFT_PAIR_WITNESS_BAND names this check): the
        // third-decade mode — base-keyband decomposition + witness in
        // one pass (see q79KeyBandCheck). Unbanded: the full
        // replica-decomposition check below, unchanged (the sf1/sf10
        // record was measured through it).
        val kb = bandFor("q79_passjoin_k2_varlen")
        if (kb > 1) q79KeyBandCheck(kb) else {
        // cross-replica rows were ZERO at the rotation/affine decades,
        // but the perm decade (sf100) must verify rather than assume
        // (two independent letter permutations of the same vocabulary
        // CAN land within ed 2 — the q46/q83 coincidence effect); each
        // cross row re-derives its lev from part names via a keyed join.
        // The witness closure only executes when cross rows exist, so
        // the common zero-cross case pays nothing.
        replicaCheck("q79_passjoin_k2_varlen",
          Seq("a_key" -> partS, "b_key" -> partS), Seq("lev"), Nil,
          crossWitness = Some { cross =>
            val nm = t(spark, bigDir, "part")
              .select(col("p_partkey"), col("p_name"))
            val r = cross
              .join(nm.select(col("p_partkey").as("a_key"),
                col("p_name").as("__na")), Seq("a_key"))
              .join(nm.select(col("p_partkey").as("b_key"),
                col("p_name").as("__nb")), Seq("b_key"))
              .agg(count(lit(1)).as("n"),
                sum(when(levenshtein_k(col("__na"), col("__nb"), 2)
                  .cast("long") =!= col("lev") ||
                  col("a_key") >= col("b_key"), 1L).otherwise(0L)).as("bad"))
              .head()
            (r.getAs[Long]("n"), r.getAs[Long]("bad"))
          })
        }
      }),
      "q145_association_rules" -> (() => q145Check()),
      "q154_pagerank_customer" -> (() => q154Check()),
      "q133_kmv_set_intersection" -> (() => q133Check()),
      "q90_bm25_retrieval" -> (() => q90Check()),
      "q120_semantic_decontam" -> (() => q120Check()),
      "q106_curation_pipeline_e2e" -> (() => q106Check()),
      "q83_symdelete_title_pairs" -> (() => {
        import graft.functions.expressions.LevenshteinK.levenshtein_k
        // cross-replica witness: two titles from different ciphers CAN sit
        // within ed 2 (rot_i(w) vs rot_j(w') coincide whenever w' is a
        // rotation of w — 720 such pairs measured at sf1); each cross row
        // re-verifies its lev against the titles rebuilt from the source
        replicaCheck("q83_symdelete_title_pairs",
          Seq("a_key" -> docS, "b_key" -> docS), Seq("lev"), Nil,
          crossWitness = Some { cross =>
            val tk = split(col("text"), " ")
            val titles = t(spark, bigDir, "documents").select(
              col("doc_id"),
              concat_ws(" ", element_at(tk, 1), element_at(tk, 2)).as("t"))
            val r = cross
              .join(titles.select(col("doc_id").as("a_key"),
                col("t").as("__ta")), Seq("a_key"))
              .join(titles.select(col("doc_id").as("b_key"),
                col("t").as("__tb")), Seq("b_key"))
              .agg(count(lit(1)).as("n"),
                sum(when(levenshtein_k(col("__ta"), col("__tb"), 2)
                  .cast("long") =!= col("lev") ||
                  col("a_key") >= col("b_key"), 1L).otherwise(0L)).as("bad"))
              .head()
            (r.getAs[Long]("n"), r.getAs[Long]("bad"))
          })
      }),
      "q56_passjoin_edit_pairs" -> (() =>
        pairWitnessCheck("q56_passjoin_edit_pairs", 1, withRatio = false)),
      "q38_fuzzy_name_pairs" -> (() =>
        pairWitnessCheck("q38_fuzzy_name_pairs", 2, withRatio = true)),
      // q35 LAST: its cell enumerates the full within-source pair listing
      // (the 6.25B-pair aggregation costs ~an hour at sf10) — every
      // cheaper verdict lands first if the run is wall-killed
      "q35_ngram_jaccard_blocked" -> (() =>
        q35Check(bandFor("q35_ngram_jaccard_blocked"))))

    // Scope-outs recorded IN the artifact (VERDICT r10 #8) — see ProbeEnv.
    val excluded: Map[String, String] = ProbeEnv.parseExclude(
      sys.env.get("GRAFT_EXCLUDE"), n => checks.exists(_._1 == n))

    var failed = 0
    val rows = checks
      .filter(c => (only.isEmpty || only(c._1)) && !excluded.contains(c._1))
      .map {
      case (n, f) =>
        val t0 = System.nanoTime()
        val cell = try {
          val json = f()
          if (!json.contains(""""ok":true""")) failed += 1
          json.stripSuffix("}") +
            s""","secs":${f3((System.nanoTime() - t0) / 1e9)}}"""
        } catch { case e: Throwable =>
          failed += 1
          val msg = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).take(200))
            .replaceAll("[\"\\\\\n\r\t]", " ")
          s"""{"query":"$n","err":"$msg","ok":false,"secs":${
            f3((System.nanoTime() - t0) / 1e9)}}"""
        }
        println(s"PRED $cell")
        cell
    }
    def js(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val exJson = excluded.toSeq.sortBy(_._1)
      .map { case (n, r) => s""""${js(n)}":"${js(r)}"""" }.mkString(",")
    val doc = s"""{"metric":"predicted_values","small":"$smallDir",""" +
      s""""big":"$bigDir","reps":$reps,"checks":${rows.size},""" +
      s""""failed":$failed,"excluded":{$exJson},""" +
      s""""results":[${rows.mkString(",")}]}"""
    println(s"PREDJSON $doc")
    outJson.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        doc.getBytes("UTF-8")): Unit
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
