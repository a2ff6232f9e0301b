package graft

import graft.operators.ScaleTechniques
import org.apache.spark.sql.functions._

/** Scale-technique semantics + plan assertions: salting preserves results
  * while spreading hot keys; bucketing removes the join shuffle. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  // deterministic skewed frame: key 0 owns ~90% of rows
  private lazy val skewed = spark.range(0, 20000)
    .select(
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 97).as("k"),
      (col("id") % 1000).cast("double").as("v"))

  test("salted aggregation equals direct groupBy on a skewed key") {
    val direct = skewed.groupBy("k")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      .orderBy("k").collect()
    val salted = ScaleTechniques.saltedSumCount(skewed, "k", "v")
      .orderBy("k").collect()
    assert(direct.length == salted.length)
    direct.zip(salted).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getDouble(1) == b.getDouble(1), s"key ${a.getLong(0)}")
      assert(a.getLong(2) == b.getLong(2))
    }
  }

  test("salted join equals plain join on a skewed fact key") {
    val dim = (0L until 97L).map(k => (k, s"name_$k")).toDF("k", "k_name")
    val plain = skewed.join(dim, Seq("k")).groupBy("k_name")
      .agg(count(lit(1)).as("n")).orderBy("k_name").collect()
    val salted = ScaleTechniques.saltedJoin(skewed, dim, "k")
      .groupBy("k_name").agg(count(lit(1)).as("n")).orderBy("k_name").collect()
    assert(plain.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      salted.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("bucketed tables join without a shuffle exchange") {
    // stale locations survive across JVMs (in-memory catalog, on-disk dir)
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val o = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val l = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    ScaleTechniques.writeBucketed(o, "b_orders", "o_orderkey")
    ScaleTechniques.writeBucketed(
      l.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey")
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"), "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // and it is still correct
    assert(joined.count() ==
      Tables.t(spark, sf, "lineitem").join(Tables.t(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count())
  }

  /** Run a block with temporary SQL confs, restoring the originals after. */
  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits the skewed shuffle partition (skew=true in the final join)") {
    // On a 1000-executor cluster a hot key turns one reducer into the
    // straggler that owns the stage; AQE's OptimizeSkewedJoin must split
    // it. Thresholds lowered so local[32]-sized data exhibits the split.
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val big = spark.range(0, 300000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = big.join(dim, Seq("k"))
      // execute THIS Dataset (count() builds a sibling QueryExecution and
      // the un-executed adaptive plan would still read isFinalPlan=false)
      assert(j.collect().nonEmpty)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    }
  }

  test("z-ordered write narrows per-file min/max footprints on both dims") {
    val base = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey").as("px"), col("l_suppkey").as("py"))
    val stats = base.agg(max(col("px")).as("mx"), max(col("py")).as("my"))
    val xy = base.crossJoin(broadcast(stats))
      .selectExpr("(px * 65536) div (mx + 1) AS x",
        "(py * 65536) div (my + 1) AS y")
      .withColumn("z", graft.operators.LayoutOps.zCol)
    withTempDir("zorder") { dir =>
      xy.repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(s"$dir/zorder")
      xy.repartition(16).write.mode("overwrite").parquet(s"$dir/naive")
      def meanSpans(path: String): (Double, Double) = {
        val r = spark.read.parquet(path)
          .withColumn("f", input_file_name())
          .groupBy(col("f"))
          .agg((max(col("x")) - min(col("x"))).as("xs"),
            (max(col("y")) - min(col("y"))).as("ys"))
          .agg(avg(col("xs")), avg(col("ys"))).head()
        (r.getDouble(0), r.getDouble(1))
      }
      val (zx, zy) = meanSpans(s"$dir/zorder")
      val (nx, ny) = meanSpans(s"$dir/naive")
      // the naive (hash-scattered) layout spans ~the full domain per file;
      // the Morton layout must narrow BOTH dims — this is exactly what
      // parquet footer min/max pruning sees
      assert(zx < nx / 2, s"x footprint: zorder $zx vs naive $nx")
      assert(zy < ny / 2, s"y footprint: zorder $zy vs naive $ny")
    }
  }

  test("runtime bloom filter prunes the fact scan from a selective dim filter") {
    // At 100 TB, a selective dim predicate should semi-prune the fact
    // side BEFORE the shuffle (InjectRuntimeFilter): the fact scan gains
    // a might_contain(bloom) predicate built from the filtered dim keys.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val part = Tables.t(spark, sf, "part").filter(col("p_size") === 1)
      val li = Tables.t(spark, sf, "lineitem")
      val j = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).count()
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
      // correctness unchanged by the filter
      val expected = Tables.t(spark, sf, "lineitem")
        .join(Tables.t(spark, sf, "part").filter(col("p_size") === 1),
          col("l_partkey") === col("p_partkey")).count()
      assert(j.agg(sum("count")).head().getLong(0) == expected)
    }
  }

  test("q152 compaction materialized: one file per bin, per-bin rows match the plan") {
    // The registry row audits the PLAN; this materializes it — the
    // physical rewrite a compaction job performs: rows keyed to their
    // file's bin, one shuffle partition per bin (repartition by the bin
    // column is hash-constant per bin, so partitionBy splits emit
    // exactly one data file per bin dir), then a partitioned write.
    withTempDir("graft_compact") { dir =>
      val plan = operators.LayoutOps.compactionPlan(spark, sf)
        .select(col("file_id"), col("bin"))
      Tables.t(spark, sf, "events")
        .withColumn("file_id", expr("unix_micros(ts) div 600000000"))
        .join(broadcast(plan), Seq("file_id"))
        .drop("file_id")
        .repartition(col("bin"))
        .write.partitionBy("bin").parquet(s"$dir/compacted")
      val expected = QueryRegistry.byName("q152_compaction_binpack")
        .fn(spark, sf).collect()
        .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_rows")).toMap
      val binDirs = new java.io.File(s"$dir/compacted").listFiles()
        .filter(_.isDirectory).filter(_.getName.startsWith("bin="))
      assert(binDirs.map(_.getName.stripPrefix("bin=").toLong).toSet ==
        expected.keySet, "materialized bins differ from the plan")
      binDirs.foreach { b =>
        val files = b.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"${b.getName}: compaction left ${files.length} files")
      }
      val actual = spark.read.parquet(s"$dir/compacted").groupBy("bin").count()
        .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("count")).toMap
      assert(actual == expected, "per-bin row counts diverge from the plan")
    }
  }

  test("ScaleGen invariants: replica 0 byte-identical, cipher preserves " +
    "lengths/frequencies, replicas share no vocabulary") {
    withTempDir("scalegen-test") { out =>
      ScaleGen.generate(spark, sf, out, reps = 3)
      val src = Tables.t(spark, sf, "documents")
      val gen = spark.read.parquet(s"$out/documents.parquet")
      val n = src.count()
      assert(gen.count() == 3 * n, "row count must be reps x source")
      // replica 0 byte-identical to the source
      assert(gen.filter(col("doc_id") < n).exceptAll(src).isEmpty)
      // cipher preserves text lengths exactly (substitution, not insertion)
      val lenMismatch = gen.filter(length(col("text")) =!= col("n_chars")).count()
      assert(lenMismatch == 0, "alphabet rotation changed a text length")
      // per-replica word-frequency PROFILE identical: the multiset of
      // word-frequency counts is invariant under a vocabulary bijection
      def freqProfile(repLo: Long, repHi: Long): Seq[(Long, Long)] = gen
        .filter(col("doc_id") >= repLo && col("doc_id") < repHi)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).count()
        .groupBy(col("count")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(freqProfile(0, n) == freqProfile(n, 2 * n),
        "replica 1 lost the source Zipf profile")
      // replicas share no vocabulary (the property that keeps content-keyed
      // operators linear instead of quadratic in the replica count)
      val shared = gen.filter(col("doc_id") < n)
        .select(explode(split(col("text"), " ")).as("w")).distinct()
        .intersect(gen.filter(col("doc_id") >= n && col("doc_id") < 2 * n)
          .select(explode(split(col("text"), " ")).as("w")).distinct())
        .count()
      assert(shared == 0, s"replicas share $shared words")
      // keys shift consistently: every replica joins within itself
      val ords = spark.read.parquet(s"$out/orders.parquet")
      val custs = spark.read.parquet(s"$out/customer.parquet")
      val orphan = ords.join(custs, ords("o_custkey") === custs("c_custkey"), "left_anti").count()
      assert(orphan == 0, s"$orphan orders reference customers outside their replica")
    }
  }

  test("ScaleGen perm mode: bijective substitution, no duplicate classes, " +
    "salted embedding flips") {
    // The third-decade alphabet mode: seeded random permutations instead
    // of affine maps (S26 composes without the 312-element pigeonhole —
    // see ScaleGen scaladoc). Random perms can agree on ~1 character, so
    // unlike the rotation test there is no zero-shared-vocabulary
    // guarantee; the load-bearing property is NO DUPLICATE CONTENT
    // CLASSES — distinct texts and distinct embeddings are exactly reps x
    // the source's, which is what keeps content-keyed operators measuring
    // the plan instead of generator duplicates.
    withTempDir("scalegen-perm") { out =>
      ScaleGen.generate(spark, sf, out, reps = 3, perm = true)
      val src = Tables.t(spark, sf, "documents")
      val gen = spark.read.parquet(s"$out/documents.parquet")
      val n = src.count()
      assert(gen.count() == 3 * n, "row count must be reps x source")
      assert(gen.filter(col("doc_id") < n).exceptAll(src).isEmpty,
        "replica 0 must stay byte-identical")
      // substitution (a bijection) preserves every text length
      assert(gen.filter(length(col("text")) =!= col("n_chars")).count() == 0,
        "permutation changed a text length")
      // bijection invariance: replica word-frequency profile == source's
      def freqProfile(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = df
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).count()
        .groupBy(col("count")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(freqProfile(gen.filter(col("doc_id") >= n && col("doc_id") < 2 * n))
        == freqProfile(src), "replica 1 lost the source Zipf profile")
      // no duplicate content classes across replicas
      val srcTexts = src.select(col("text")).distinct().count()
      assert(gen.select(col("text")).distinct().count() == 3 * srcTexts,
        "perm replicas must not collide on text content")
      val srcVecs = Tables.t(spark, sf, "embeddings")
      val genVecs = spark.read.parquet(s"$out/embeddings.parquet")
      val srcDistinct = srcVecs.select(col("embedding")).distinct().count()
      assert(genVecs.select(col("embedding")).distinct().count() == 3 * srcDistinct,
        "perm replicas must not collide on embeddings")
      // the sign flip is orthogonal: norms preserved exactly per replica
      val vecStride = srcVecs.agg(max(col("vec_id"))).head().getLong(0) + 1
      val normDelta = genVecs
        .selectExpr("aggregate(embedding, 0D, (a, x) -> a + x * x) AS n2",
          "vec_id")
        .join(srcVecs.selectExpr(
          "aggregate(embedding, 0D, (a, x) -> a + x * x) AS n2_src",
          "vec_id AS src_id"),
          pmod(col("vec_id"), lit(vecStride)) === col("src_id"))
        .filter(abs(col("n2") - col("n2_src")) > 1e-3).count()
      assert(normDelta == 0, "sign flip must preserve embedding norms")
    }
  }
}
