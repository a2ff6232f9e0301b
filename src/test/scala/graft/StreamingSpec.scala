package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming tests (SURVEY.md §5 item 4): MemoryStream-driven
  * micro-batches through the watermarked window/dedup operators, plus
  * checkpoint-resume (the reference's pickle-checkpoint semantics,
  * movie_generator.py:106-168, replaced by Spark's exactly-once
  * bookkeeping). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  private def run(name: String, df: org.apache.spark.sql.DataFrame,
                  mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  /** Rows (vec_id, embedding, label) of a vector table, collected. */
  private def collectVectors(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Array[Float], Any)] =
    df.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.get(2))).toSeq

  /** The exact top-k in plain Scala, as (rank, vec_id, label): cosine
    * accumulated in double in index order, ranked by (score desc,
    * vec_id asc). */
  private def exactTopK(vectors: Seq[(Long, Array[Float], Any)],
                        q: Array[Float], k: Int): Seq[(Int, Long, Any)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    vectors.map { case (id, v, label) => (id, label, cos(v, q)) }
      .sortBy { case (id, _, score) => (-score, id) }.take(k)
      .zipWithIndex.map { case ((id, label, _), i) => (i + 1, id, label) }
  }

  test("tumbling window + watermark emits closed windows (streaming q40 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:55:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 02:30:00"), 2, "view", 3.0)) // advances watermark past hour 0
    val out = run("tumbling_out",
      StreamingOps.tumblingCounts(mem.toDF(), watermark = "10 minutes"))
    // hour-0 window closed by the 02:30 event: 2 clicks, sum 3.0
    val h0 = out.filter(col("w_start") === ts("2024-01-01 00:00:00")).collect()
    assert(h0.length == 1)
    assert(h0(0).getAs[Long]("n") == 2L)
    assert(h0(0).getAs[Double]("sum_value") == 3.0)
  }

  test("session window merges events within gap (streaming q42 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
      Ev(2, ts("2024-01-01 00:10:00"), 7, "click", 1.0),  // same session
      Ev(3, ts("2024-01-01 01:00:00"), 7, "click", 1.0),  // new session
      Ev(4, ts("2024-01-01 09:00:00"), 9, "view", 0.0))   // watermark push
    val out = run("session_out",
      StreamingOps.sessionize(mem.toDF(), gap = "30 minutes"))
    val u7 = out.filter(col("user_id") === 7).orderBy("session_start").collect()
    assert(u7.length == 2)
    assert(u7(0).getAs[Long]("n_events") == 2L)
    assert(u7(0).getAs[Timestamp]("session_end") == ts("2024-01-01 00:40:00"))
    assert(u7(1).getAs[Long]("n_events") == 1L)
  }

  test("dropDuplicatesWithinWatermark dedups keys inside the window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:01:00"), 1, "click", 2.0), // dup key
      Ev(3, ts("2024-01-01 00:02:00"), 2, "click", 3.0))
    val out = run("dedup_out", StreamingOps.dedupStream(mem.toDF()))
    assert(out.count() == 2)
    assert(out.select("user_id").distinct().count() == 2)
  }

  test("late data: events older than the watermark are dropped from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val stream = graft.streaming.StreamingOps.tumblingCounts(
      mem.toDF(), watermark = "10 minutes")
    val q = stream.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    mem.addData(Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // advance watermark far past hour 0 (event time 03:00 - 10min > 01:00)
    mem.addData(Ev(2, ts("2024-01-01 03:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // LATE: belongs to the already-closed hour-0 window
    mem.addData(Ev(3, ts("2024-01-01 00:20:00"), 1, "click", 99.0))
    q.processAllAvailable()
    // push another window closed so hour-0 output is final
    mem.addData(Ev(4, ts("2024-01-01 06:00:00"), 1, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val h0 = spark.table("late_out")
      .filter(col("w_start") === ts("2024-01-01 00:00:00")).collect()
    assert(h0.length == 1)
    assert(h0(0).getAs[Long]("n") == 1L, "late event leaked into closed window")
  }

  test("flatMapGroupsWithState emits per-user milestones with custom state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.UserEvent
    val mem = MemoryStream[UserEvent]
    val q = graft.streaming.StreamingOps.milestones(mem.toDS(), every = 2)
      .writeStream.format("memory").queryName("milestone_out")
      .outputMode("append").start()
    mem.addData(
      UserEvent(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
      UserEvent(2, ts("2024-01-01 00:01:00"), 7, "click", 1.0),
      UserEvent(3, ts("2024-01-01 00:02:00"), 7, "click", 1.0))
    q.processAllAvailable()
    // state (count=3) persists across micro-batches: next event is #4 → milestone
    mem.addData(UserEvent(4, ts("2024-01-01 00:03:00"), 7, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val ms = spark.table("milestone_out").orderBy("milestone").collect()
    assert(ms.map(_.getAs[Long]("milestone")).toSeq == Seq(2L, 4L))
    assert(ms.last.getAs[Long]("at_event_id") == 4L)
  }

  test("stream-stream interval join: purchases join clicks within 30 minutes") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val c = clicks.toDF().selectExpr("event_id AS click_id", "ts AS click_ts",
      "user_id AS c_user").withWatermark("click_ts", "1 hour")
    val p = purchases.toDF().selectExpr("event_id AS buy_id", "ts AS buy_ts",
      "user_id AS p_user").withWatermark("buy_ts", "1 hour")
    val joined = p.join(c,
      expr("""p_user = c_user AND
              click_ts <= buy_ts AND click_ts >= buy_ts - INTERVAL 30 minutes"""))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    clicks.addData(
      Ev(1, ts("2024-01-01 00:00:00"), 7, "click", 0),
      Ev(2, ts("2024-01-01 02:00:00"), 7, "click", 0)) // too old for the buy below? no — later than buy
    purchases.addData(
      Ev(10, ts("2024-01-01 00:20:00"), 7, "purchase", 9.99), // joins click 1 (20m gap)
      Ev(11, ts("2024-01-01 01:00:00"), 7, "purchase", 5.00)) // click 1 is 60m old -> no match
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj_out").collect()
    assert(rows.map(r => (r.getAs[Long]("buy_id"), r.getAs[Long]("click_id"))).toSet ==
      Set((10L, 1L)))
  }

  test("stream-stream interval join matches the q140 batch twin on harness data") {
    implicit val sqlCtx = spark.sqlContext
    val evRows = Tables.t(spark, sf, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSeq
    val vs = MemoryStream[Ev]
    val ps = MemoryStream[Ev]
    val joined = graft.streaming.StreamingOps
      .intervalJoinStream(vs.toDF(), ps.toDF())
    val q = joined.writeStream.format("memory").queryName("ssj_q140")
      .outputMode("append").start()
    vs.addData(evRows); ps.addData(evRows)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("lag_us"))
    val streamed = spark.table("ssj_q140").collect().map(key).toSet
    val batch = QueryRegistry.byName("q140_interval_join_attrib")
      .fn(spark, sf).collect().map(key).toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("left-outer interval join emits unconverted views once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val evRows = Tables.t(spark, sf, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSeq
    val vs = MemoryStream[Ev]
    val ps = MemoryStream[Ev]
    val joined = graft.streaming.StreamingOps
      .intervalJoinStream(vs.toDF(), ps.toDF(),
        watermark = "1 minute", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    vs.addData(evRows); ps.addData(evRows)
    q.processAllAvailable()
    // sentinel batch: pushes both watermarks past every view's window so
    // the state store evicts and emits the unmatched views
    val far = new Timestamp(evRows.map(_.ts.getTime).max + 10L * 3600 * 1000)
    vs.addData(Ev(-1, far, -999, "view", 0))
    ps.addData(Ev(-2, far, -999, "purchase", 0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssj_outer").collect()
      .filter(_.getAs[Long]("user_id") != -999L)
    val matched = out.filter(_.getAs[Long]("purchase_id") != -1L)
    val unmatched = out.filter(_.getAs[Long]("purchase_id") == -1L)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("lag_us"))
    val batch = QueryRegistry.byName("q140_interval_join_attrib")
      .fn(spark, sf).collect().map(key).toSet
    assert(matched.map(key).toSet == batch,
      "inner portion of the outer join must equal the q140 batch twin")
    val allViews = evRows.filter(_.event_type == "view").map(_.event_id).toSet
    assert((matched ++ unmatched).map(_.getAs[Long]("view_id")).toSet == allViews,
      "every view must surface exactly once as matched or abandoned")
    assert(matched.map(_.getAs[Long]("view_id")).toSet
      .intersect(unmatched.map(_.getAs[Long]("view_id")).toSet).isEmpty,
      "a converted view must not also emit an outer null row")
    unmatched.foreach(r => assert(r.getAs[Long]("lag_us") == -1L))
  }

  test("foreachBatch curation loop: parse+dedup+merge across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_curation") { dir =>
      val corpusDir = s"$dir/corpus"
      val mem = MemoryStream[String]
      // batch 1: two movies
      mem.addData(
        "TITLE: The Bicycle Thief\nYEAR: 1948\nGENRES: Drama\nPLOT: a",
        "TITLE: Stalker\nYEAR: 1979\nGENRES: SciFi\nPLOT: b")
      val q1 = graft.streaming.StreamingCuration.start(
        mem.toDF().withColumnRenamed("value", "raw"), corpusDir, s"$dir/ckpt")
      q1.awaitTermination()
      assert(spark.read.parquet(corpusDir).count() == 2)
      // batch 2: one exact dup, one fuzzy dup (±1 year), one new
      mem.addData(
        "TITLE: the bicycle thief\nYEAR: 1948\nGENRES: Drama\nPLOT: dup",
        "TITLE: The Bicycle Thieves\nYEAR: 1949\nGENRES: Drama\nPLOT: fuzzy dup",
        "TITLE: Heat\nYEAR: 1995\nGENRES: Crime\nPLOT: new")
      val q2 = graft.streaming.StreamingCuration.start(
        mem.toDF().withColumnRenamed("value", "raw"), corpusDir, s"$dir/ckpt")
      q2.awaitTermination()
      val corpus = spark.read.parquet(corpusDir)
      assert(corpus.count() == 3) // both dups rejected, Heat added
      assert(corpus.select("title").as[String].collect().toSet ==
        Set("The Bicycle Thief", "Stalker", "Heat"))
    }
  }

  /** (path relative to `dir`, md5) of every data file below a directory. */
  private def treeFingerprint(dir: String): Map[String, String] = {
    val top = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(top)) Map.empty
    else {
      val s = java.nio.file.Files.walk(top)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .filterNot(f => f.getFileName.toString.startsWith(".") ||
            f.getFileName.toString.startsWith("_"))
          .map { f =>
            val md5 = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString
            top.relativize(f).toString -> md5
          }.toMap
      } finally s.close()
    }
  }

  test("partition-pruned merge: untouched corpus partitions stay byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_prune") { dir =>
      val corpusDir = s"$dir/corpus"
      val mem = MemoryStream[String]
      // batch 1: buckets yb=194 (1948) and yb=199 (1995)
      mem.addData(
        "TITLE: The Bicycle Thief\nYEAR: 1948\nGENRES: Drama\nPLOT: a",
        "TITLE: Heat\nYEAR: 1995\nGENRES: Crime\nPLOT: b")
      val q1 = graft.streaming.StreamingCuration.start(
        mem.toDF().withColumnRenamed("value", "raw"), corpusDir, s"$dir/ckpt")
      q1.awaitTermination()
      val before = treeFingerprint(corpusDir)
      assert(before.keySet.map(_.takeWhile(_ != '/')) == Set("yb=194", "yb=199"))
      // batch 2 touches only bucket 199 (1996 → fresh row; 1948 dup rejected)
      mem.addData(
        "TITLE: the bicycle thief\nYEAR: 1948\nGENRES: Drama\nPLOT: dup",
        "TITLE: Fargo\nYEAR: 1996\nGENRES: Crime\nPLOT: new")
      val q2 = graft.streaming.StreamingCuration.start(
        mem.toDF().withColumnRenamed("value", "raw"), corpusDir, s"$dir/ckpt")
      q2.awaitTermination()
      // every file of the corpus before the batch is still there, with the
      // same bytes; the batch only adds one file to the bucket it touched
      val after = treeFingerprint(corpusDir)
      assert(before.forall { case (f, md5) => after.get(f).contains(md5) },
        "an existing corpus file was rewritten, renamed or deleted")
      val added = after.keySet -- before.keySet
      assert(added.size == 1 && added.forall(_.startsWith("yb=199/")), added)
      val corpus = spark.read.parquet(corpusDir)
      assert(corpus.count() == 3)
      assert(corpus.select("title").as[String].collect().toSet ==
        Set("The Bicycle Thief", "Heat", "Fargo"))
      // no staging leftovers after a clean batch
      assert(new java.io.File(dir).listFiles().map(_.getName).toSet == Set("corpus", "ckpt"))
    }
  }

  test("crash matrix: a crash before EVERY swap op converges after replay") {
    implicit val sqlCtx = spark.sqlContext
    // batch 1 → buckets 194 (1948), 199 (1995); batch 2 → fresh rows in
    // 197 (1972, new bucket) and 199 (1996, existing bucket) plus an exact
    // dup. Commit op sequence for batch 2: 0 mkdirs(live197),
    // 1 staged197 file→live197, 2 mkdirs(live199), 3 staged199 file→live199,
    // 4 delete staging (its replay finds every row already present).
    val batch1 = Seq(
      "TITLE: The Bicycle Thief\nYEAR: 1948\nGENRES: Drama\nPLOT: a",
      "TITLE: Heat\nYEAR: 1995\nGENRES: Crime\nPLOT: b")
    val batch2 = Seq(
      "TITLE: the bicycle thief\nYEAR: 1948\nGENRES: Drama\nPLOT: dup",
      "TITLE: Solaris\nYEAR: 1972\nGENRES: SciFi\nPLOT: new bucket",
      "TITLE: Fargo\nYEAR: 1996\nGENRES: Crime\nPLOT: existing bucket")
    def corpusSet(corpusDir: String): Set[(String, Int)] =
      spark.read.parquet(corpusDir).select("title", "year")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    def runBoth(dir: String, crashAt: Option[Int]): Boolean = {
      val corpusDir = s"$dir/corpus"
      val mem = MemoryStream[String]
      def go(): Unit = {
        val q = graft.streaming.StreamingCuration.start(
          mem.toDF().withColumnRenamed("value", "raw"), corpusDir, s"$dir/ckpt")
        q.awaitTermination()
      }
      mem.addData(batch1: _*)
      go()
      var fired = false
      graft.streaming.StreamingCuration.swapFault = i =>
        if (crashAt.contains(i)) {
          fired = true; throw new RuntimeException(s"injected crash at op $i")
        }
      mem.addData(batch2: _*)
      try go() catch { case _: Exception => () } finally {
        graft.streaming.StreamingCuration.swapFault = _ => ()
      }
      if (fired) go() // restart from the same checkpoint: batch 2 replays
      fired
    }
    withTempDir("graft_cm0") { cleanDir =>
      runBoth(cleanDir, None)
      val expect = corpusSet(s"$cleanDir/corpus")
      assert(expect.size == 4)
      for (k <- 0 until 5) {
        withTempDir(s"graft_cm$k") { dir =>
          val fired = runBoth(dir, Some(k))
          assert(fired, s"crash point $k never reached — op map changed")
          assert(corpusSet(s"$dir/corpus") == expect, s"crash at op $k diverged")
          // replay must leave no staging leftovers
          assert(new java.io.File(dir).listFiles().map(_.getName).toSet ==
            Set("corpus", "ckpt"), s"crash at op $k left debris")
        }
      }
    }
  }

  /** The `processBatch` formulation that parsing once replaced, kept as
    * the reference: the parsed batch is evaluated for every use, the corpus
    * read infers its schema, exact dedup runs before a fuzzy join on 2-year
    * buckets, and the fresh rows are computed again for the write. Buckets
    * are swapped by delete-then-rename: crash safety is not under test. */
  private def referenceBatch(corpusDir: String)(batch: org.apache.spark.sql.DataFrame,
                                                batchId: Long): Unit = {
    import graft.pipeline.MoviePipeline
    import graft.functions.TextFunctions.normKey
    import graft.functions.expressions.StringRatio.string_ratio
    import org.apache.spark.sql.types._
    def dedupFuzzy(candidates: org.apache.spark.sql.DataFrame,
                   seen: org.apache.spark.sql.DataFrame) = {
      val cand = candidates
        .withColumn("ck", normKey(col("title")))
        .withColumnRenamed("year", "c_year")
        .withColumn("bucket", explode(array(
          floor((col("c_year") - 1) / 2), floor((col("c_year") + 1) / 2))))
      val seenB = seen
        .select(normKey(col("title")).as("sk"), col("year").as("s_year"))
        .withColumn("bucket", floor(col("s_year") / 2))
      val dupKeys = cand.join(seenB, Seq("bucket"))
        .filter(abs(col("c_year") - col("s_year")) <= 1)
        .filter(string_ratio(col("ck"), col("sk")) >= 0.85)
        .select(col("ck"), col("c_year")).distinct()
      candidates
        .withColumn("ck", normKey(col("title")))
        .withColumnRenamed("year", "c_year")
        .join(dupKeys, Seq("ck", "c_year"), "left_anti")
        .withColumnRenamed("c_year", "year")
        .drop("ck")
    }
    val bucketOf = floor(col("year") / 10).cast("long")
    val parsed = MoviePipeline.enrich(MoviePipeline.validate(
      MoviePipeline.parseRaw(batch))).drop("raw")
    val candYears = parsed.select(col("year")).distinct().collect().map(_.getInt(0))
    if (candYears.isEmpty) return
    val dedupBuckets = candYears.flatMap(y => Seq(y - 1, y, y + 1))
      .map(y => math.floorDiv(y, 10).toLong).distinct.toSeq
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val corpus =
      if (!fs.exists(new org.apache.hadoop.fs.Path(corpusDir)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("title", StringType), StructField("year", IntegerType),
            StructField("created_at", TimestampType), StructField("yb", LongType))))
      else spark.read.parquet(corpusDir)
    val seen = corpus.filter(col("yb").isin(dedupBuckets: _*))
    val fresh = dedupFuzzy(MoviePipeline.dedupExact(parsed, seen), seen)
      .select(parsed.columns.toIndexedSeq.map(col): _*)
    val touched = fresh.select(bucketOf).distinct().collect().map(_.getLong(0)).toSeq
    if (touched.isEmpty) return
    val staging = s"${corpusDir}_staging_$batchId"
    MoviePipeline.mergeUpsert(corpus.filter(col("yb").isin(touched: _*)).drop("yb")
      .unionByName(fresh, allowMissingColumns = true))
      .withColumn("yb", bucketOf)
      .write.partitionBy("yb").mode("overwrite").parquet(staging)
    fs.mkdirs(new org.apache.hadoop.fs.Path(corpusDir))
    touched.foreach { b =>
      val live = new org.apache.hadoop.fs.Path(corpusDir, s"yb=$b")
      fs.delete(live, true)
      fs.rename(new org.apache.hadoop.fs.Path(staging, s"yb=$b"), live)
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /** `n` seeded batches of raw records and the keys a curated corpus must
    * end with. Each batch holds new titles, exact duplicates (re-cased,
    * padded or markdown-wrapped) and fuzzy duplicates (one letter changed,
    * year moved by up to 1) of earlier batches' titles, invalid records,
    * and byte-identical repeats of its own new records (so last-writer-wins
    * has one answer whatever the row order). */
  private def curationBatches(seed: Long, n: Int): (Seq[Seq[String]], Set[(String, Int)]) = {
    val r = new scala.util.Random(seed)
    def word(): String = (0 until 2 + r.nextInt(2))
      .map(_ => s"${"bdfgklmnprstvz".charAt(r.nextInt(14))}${"aeiou".charAt(r.nextInt(5))}")
      .mkString.capitalize
    def rec(t: String, y: Int) =
      s"TITLE: $t\nYEAR: $y\nDIRECTOR: ${word()}\nGENRES: Drama, ${word()}\nPLOT: ${word()} ${word()}"
    val planted = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val batches = (0 until n).map { _ =>
      val history = planted.toVector
      def old() = history(r.nextInt(history.size))
      val fresh = Seq.fill(8) {
        val t = Seq.fill(3)(word()).mkString(" "); val y = 1960 + r.nextInt(70)
        planted += t -> y; rec(t, y)
      }
      val exact = if (history.isEmpty) Nil else Seq.fill(3) {
        val (t, y) = old()
        rec(Seq(t.toUpperCase, t.toLowerCase, s"  ${t.replace(" ", "   ")} ", s"**$t**")(r.nextInt(4)), y)
      }
      val fuzzy = if (history.isEmpty) Nil else Seq.fill(3) {
        val (t, y) = old()
        val at = 2 + r.nextInt(t.length - 4)
        rec(t.updated(at, if (t(at) == 'q') 'x' else 'q'), y - 1 + r.nextInt(3))
      }
      val invalid = Seq("YEAR: 1990\nPLOT: no title", "TITLE: ***\nYEAR: 1991\nPLOT: blank")
      val repeats = Seq.fill(2)(fresh(r.nextInt(fresh.size)))
      r.shuffle(fresh ++ exact ++ fuzzy ++ invalid ++ repeats)
    }
    (batches, planted.map { case (t, y) => t.toLowerCase -> y }.toSet)
  }

  /** Every row of a corpus but its `created_at`, columns in name order. */
  private def corpusRows(corpusDir: String): Seq[String] = {
    val df = spark.read.parquet(corpusDir)
    df.select(df.columns.toIndexedSeq.filter(_ != "created_at").sorted.map(col): _*)
      .collect().map(_.toString).toSeq.sorted
  }

  test("processBatch equals the formulation it replaced on 12 seeded batches") {
    withTempDir("graft_curation_eq") { dir =>
      val (batches, planted) = curationBatches(5, 12)
      batches.zipWithIndex.foreach { case (b, i) =>
        val raw = b.toDF("raw")
        graft.streaming.StreamingCuration.processBatch(s"$dir/new")(raw, i.toLong)
        referenceBatch(s"$dir/ref")(raw, i.toLong)
      }
      val got = corpusRows(s"$dir/new")
      assert(got == corpusRows(s"$dir/ref"))
      val keys = spark.read.parquet(s"$dir/new").select(lower(trim(col("title"))), col("year"))
        .as[(String, Int)].collect()
      assert(keys.length == got.size && keys.toSet == planted,
        "every duplicate, invalid record and repeat must be dropped, every new title kept")
    }
  }

  test("a warm curation batch runs at most 4 jobs, none inferring a schema") {
    val sc = spark.sparkContext
    withTempDir("graft_curation_cost") { tmp =>
      val corpusDir = s"$tmp/corpus"
      val (batches, _) = curationBatches(9, 4)
      batches.take(3).zipWithIndex.foreach { case (b, i) =>
        graft.streaming.StreamingCuration.processBatch(corpusDir)(b.toDF("raw"), i.toLong)
      }
      val group = "curation-batch-cost"
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
            jobs.add(e.stageInfos.map(_.details).mkString("\n"))
      }
      val raw = batches(3).toDF("raw")
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "warm curation batch")
      try graft.streaming.StreamingCuration.processBatch(corpusDir)(raw, 3L) finally {
        sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
      import scala.jdk.CollectionConverters._
      val details = jobs.asScala.toSeq
      // the candidate years, the broadcast of the pruned corpus, the
      // exchange hashing the fresh rows by bucket, and the write
      assert(details.nonEmpty && details.size <= 4,
        s"${details.size} jobs:\n${details.mkString("\n---\n")}")
      // a job started while a reader resolves its relation is a schema inference
      assert(!details.exists(_.contains("DataFrameReader")), details.mkString("\n---\n"))
    }
  }

  test("processBatch leaves no RDD persisted, after a clean batch or a failed swap") {
    val sc = spark.sparkContext
    withTempDir("graft_curation_cache") { tmp =>
      val corpusDir = s"$tmp/corpus"
      val (batches, _) = curationBatches(13, 2)
      val persisted = sc.getPersistentRDDs.keySet
      graft.streaming.StreamingCuration.processBatch(corpusDir)(batches(0).toDF("raw"), 0L)
      assert(sc.getPersistentRDDs.keySet == persisted, "a clean batch left a cache")
      graft.streaming.StreamingCuration.swapFault = i =>
        if (i == 1) throw new RuntimeException(s"injected crash at op $i")
      val e = try intercept[RuntimeException] {
        graft.streaming.StreamingCuration.processBatch(corpusDir)(batches(1).toDF("raw"), 1L)
      } finally graft.streaming.StreamingCuration.swapFault = _ => ()
      assert(e.getMessage.contains("injected crash"))
      assert(sc.getPersistentRDDs.keySet == persisted, "a failed batch left a cache")
    }
  }

  test("streaming content dedup: LSH sketch store admits only never-seen docs") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_cdedup") { dir =>
      val store = s"$dir/store"
      val mem = MemoryStream[(Long, String)]
      def go(): Unit = {
        val q = graft.streaming.StreamingContentDedup.start(
          mem.toDF().toDF("doc_id", "text"), store, s"$dir/ckpt")
        q.awaitTermination()
      }
      val a = "the quick brown fox jumps over the lazy dog while the cat sleeps"
      val b = "completely different content about spark partitions and shuffles at scale"
      val c = "fresh unrelated text mentioning minhash signatures and band buckets"
      mem.addData((1L, a), (2L, b))
      go()
      // batch 2: near-dup of a (one appended word → jaccard 11/12), exact dup
      // of b, a new doc, and an in-batch identical pair (min doc_id survives)
      mem.addData((3L, a + " tail"), (4L, b), (5L, c), (6L, c))
      go()
      def docIds: Set[Long] = spark.read.parquet(s"$store/docs")
        .select("doc_id").as[Long].collect().toSet
      assert(docIds == Set(1L, 2L, 5L))
      // replay idempotence: re-running batch 1 against the post-write store
      // (own partition excluded from the dedup read) changes nothing
      val b2 = Seq((3L, a + " tail"), (4L, b), (5L, c), (6L, c))
        .toDF("doc_id", "text")
      graft.streaming.StreamingContentDedup.processBatch(store)(b2, 1L)
      assert(docIds == Set(1L, 2L, 5L), "replayed batch changed the store")
      // the sketch store carries one row per (admitted doc, band)
      val sk = spark.read.parquet(s"$store/sketches")
      assert(sk.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 5L))
      assert(sk.groupBy("doc_id").count().select("count").as[Long]
        .collect().forall(_ == graft.functions.HashFunctions.NumBands))
      // sketches are cell-partitioned under the batch (batch=N/cell=C dirs)
      // so a later batch's corpus probe partition-prunes on the cells it
      // touches — same physical contract as BandIndexStore (BandIndexSpec)
      val batchDirs = new java.io.File(s"$store/sketches").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(batchDirs.exists(_.startsWith("batch=")))
      assert(batchDirs.forall(d => !d.startsWith("batch=") ||
        new java.io.File(s"$store/sketches/$d").listFiles()
          .filter(_.isDirectory).forall(_.getName.startsWith("cell="))))
      val someCell = sk.select("cell").as[Int].head()
      val prunedPlan = sk.filter(col("cell") === someCell)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(prunedPlan.contains("PartitionFilters") &&
        prunedPlan.contains("cell"),
        s"cell filter did not become a partition filter:\n$prunedPlan")
    }
  }

  test("indexed streaming ingest: verdicts match q125 batch-for-batch across restarts") {
    // VERDICT r6 item 6 — StreamingContentDedup and BandIndexStore pinned
    // together: micro-batches probe the PERSISTED two-table band index,
    // emit q125-contract verdicts, and fold themselves in. Batch slices
    // mirror BandIndexSpec's append test: C = corpus, A = %10==3,
    // B = %10==7, so batch B's verdicts must equal the q125 registry row
    // (whose corpus side is everything except B) bit-for-bit.
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_idxstream") { dir =>
      val idx = s"$dir/index"
      val docs = Tables.t(spark, sf, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      def slice(p: Long => Boolean) = docs.filter(t => p(t._1)).toIndexedSeq
      val mem = MemoryStream[(Long, String)]
      def go(): Unit = {
        // each go() is a NEW query resuming from the same checkpoint — every
        // batch boundary in this test is also a restart boundary
        val q = graft.streaming.StreamingContentDedup.startIndexed(
          mem.toDF().toDF("doc_id", "text"), idx, s"$dir/ckpt")
        q.awaitTermination()
      }
      mem.addData(slice(id => id % 10 != 3 && id % 10 != 7)); go() // batch 0: C
      mem.addData(slice(_ % 10 == 3)); go()                        // batch 1: A
      mem.addData(slice(_ % 10 == 7)); go()                        // batch 2: B
      def verdicts(b: Long): Seq[(Long, Long, Double)] =
        spark.read.parquet(s"$idx/verdicts").filter(col("batch") === b)
          .select("doc_id", "dup_of", "jaccard").as[(Long, Long, Double)]
          .collect().sortBy(_._1).toIndexedSeq
      // batch 0 probed an empty index: every doc unique
      assert(verdicts(0).nonEmpty && verdicts(0).forall(v => v._2 == -1L))
      // batch 1's verdicts == BandIndexStore.probe over an index of C alone
      withTempDir("graft_idxref") { refDir =>
        operators.BandIndexStore.build(spark, sf,
          col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 7, refDir)
        val refA = operators.BandIndexStore
          .probe(spark, sf, col("doc_id") % 10 === 3, refDir)
          .as[(Long, Long, Double)].collect().sortBy(_._1).toIndexedSeq
        assert(verdicts(1) == refA, s"batch A: stream=${verdicts(1)} ref=$refA")
        // batch 2's verdicts == the q125 registry row on the union corpus
        val want = QueryRegistry.byName("q125_incremental_neardup").fn(spark, sf)
          .as[(Long, Long, Double)].collect().sortBy(_._1).toIndexedSeq
        assert(verdicts(2) == want, s"batch B: stream=${verdicts(2)} ref=$want")
        // crash-replay idempotence: re-running batch 1 against the grown index
        // (own partitions excluded from every read) must not change verdicts
        // or duplicate index rows
        val sigsBefore = spark.read.parquet(s"$idx/sigs").count()
        graft.streaming.StreamingContentDedup.processBatchIndexed(idx)(
          slice(_ % 10 == 3).toDF("doc_id", "text"), 1L)
        assert(verdicts(1) == refA, "replayed batch changed its verdicts")
        assert(spark.read.parquet(s"$idx/sigs").count() == sigsBefore)
        assert(spark.read.parquet(s"$idx/sigs")
          .groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
      }
    }
  }

  test("legacy sketch store without cell column still probes (unpruned fallback)") {
    // ADVICE r6: a store written by the pre-cell layout (partitioned by
    // batch only) must not throw AnalysisException on resume — the probe
    // falls back to an unpruned corpus read
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_legacy") { dir =>
      val store = s"$dir/store"
      val a = "the quick brown fox jumps over the lazy dog while the cat sleeps"
      // hand-write a legacy-layout sketch store: per-band rows, batch dirs,
      // NO cell column (what the pre-r6 writer produced)
      val legacy = graft.streaming.StreamingContentDedup.getClass
        .getDeclaredMethods.find(_.getName == "sketched").get
      legacy.setAccessible(true)
      val sk0 = legacy.invoke(graft.streaming.StreamingContentDedup,
          Seq((1L, a)).toDF("doc_id", "text"))
        .asInstanceOf[org.apache.spark.sql.DataFrame]
        .drop("cell").withColumn("batch", lit(0L))
      sk0.write.partitionBy("batch").parquet(s"$store/sketches")
      Seq((1L, a)).toDF("doc_id", "text").withColumn("batch", lit(0L))
        .write.partitionBy("batch").parquet(s"$store/docs")
      // resume with the NEW writer: an exact dup of doc 1 plus a fresh doc
      val b = "completely different content about spark partitions and shuffles at scale"
      graft.streaming.StreamingContentDedup.processBatch(store)(
        Seq((2L, a), (3L, b)).toDF("doc_id", "text"), 1L)
      val admitted = spark.read.parquet(s"$store/docs")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(1L, 3L), s"got $admitted")
    }
  }

  test("streaming vector search answers each batch with the exact top-k") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingVectorSearch
    withTempDir("graft_svsearch") { dir =>
      val vecs = s"$dir/vectors"
      Tables.t(spark, sf, "embeddings").write.parquet(vecs)
      val stored = collectVectors(spark.read.parquet(vecs))
      // query stream = six of the stored vectors; every answer must equal
      // the plain-Scala exact top-k (recall 1.0, k rows per query)
      val qids = Seq(0L, 7L, 42L, 111L, 256L, 499L)
      val qvecs = qids.map(q => (q, stored.find(_._1 == q).get._2))
      val mem = MemoryStream[(Long, Array[Float])]
      def go(): Unit = {
        val q = StreamingVectorSearch.start(
          mem.toDF().toDF("qid", "embedding"), vecs, s"$dir/out", s"$dir/ckpt",
          k = 10)
        q.awaitTermination()
      }
      val (a, b) = qvecs.splitAt(3)
      mem.addData(a); go() // restart at the batch boundary
      mem.addData(b); go()
      val got = spark.read.parquet(s"$dir/out/batch=*")
        .select("qid", "rank", "vec_id", "label")
        .collect()
        .groupBy(_.getAs[Long]("qid"))
        .view.mapValues(_.map(r => (r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"), r.get(3))).sortBy(_._1).toSeq)
        .toMap
      assert(got.keySet == qids.toSet)
      qvecs.foreach { case (q, v) =>
        val want = exactTopK(stored, v, 10)
        assert(got(q) == want, s"qid $q: stream=${got(q)} exact=$want")
        // the query's own vector is in the store: it must rank first
        assert(got(q).head._2 == q)
      }
    }
  }

  test("streaming vector search: injected crashes around the batch write all replay to the clean answers") {
    // VERDICT r8 #6: the serving loop gets the same injected-crash
    // matrix the compaction and curation jobs carry — kill before the
    // answer write (batch lost, must replay whole) and after it but
    // before the checkpoint commit (batch dir exists, replay must
    // overwrite idempotently); every run must converge to the clean
    // run's answer set
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingVectorSearch
    val qids = Seq(3L, 77L, 250L)
    val qvecs = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    def runScenario(crashAt: Option[Int]): Set[(Long, Int, Long)] = {
      withTempDir("graft_svcrash") { dir =>
        val vecs = s"$dir/vectors"
        Tables.t(spark, sf, "embeddings").write.parquet(vecs)
        val mem = MemoryStream[(Long, Array[Float])]
        def go(): Unit = {
          val q = StreamingVectorSearch.start(
            mem.toDF().toDF("qid", "embedding"), vecs, s"$dir/out", s"$dir/ckpt",
            k = 5)
          q.awaitTermination()
        }
        mem.addData(qvecs.take(1).toIndexedSeq); go() // batch 0 always clean
        var fired = false
        StreamingVectorSearch.servingFault = i =>
          if (crashAt.contains(i)) {
            fired = true; throw new RuntimeException(s"injected crash at op $i")
          }
        mem.addData(qvecs.drop(1).toIndexedSeq)
        try go() catch { case _: Exception => () } finally {
          StreamingVectorSearch.servingFault = _ => ()
        }
        if (crashAt.isDefined) {
          assert(fired, "crash point never reached — op map changed")
          go() // replay batch 1 from the checkpoint
        }
        spark.read.parquet(s"$dir/out/batch=*")
          .select("qid", "rank", "vec_id").collect()
          .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
            r.getAs[Long]("vec_id"))).toSet
      }
    }
    val clean = runScenario(None)
    assert(clean.map(_._1) == qids.toSet, "clean run missing queries")
    val stored = collectVectors(Tables.t(spark, sf, "embeddings"))
    assert(clean == qvecs.flatMap { case (q, v) =>
      exactTopK(stored, v, 5).map { case (r, id, _) => (q, r, id) }
    }.toSet, "clean run is not the exact top-k")
    for (k <- 0 to 1)
      assert(runScenario(Some(k)) == clean, s"crash at op $k diverged")
  }

  test("streaming vector search: ties at k keep the lower vec_id, unseen queries get k rows, min(k, rows) per query") {
    import graft.streaming.StreamingVectorSearch
    // vec_ids 3 and 5 hold the same vector, so they tie for the last
    // place at k = 2 under query 1; 5 is stored first and must still lose
    val stored = Seq(
      (5L, Array(1f, 1f, 0f), "e"), (1L, Array(1f, 0f, 0f), "a"),
      (3L, Array(1f, 1f, 0f), "c"), (9L, Array(0f, 0f, 1f), "i"))
    val vectors = stored.toDF("vec_id", "embedding", "label").repartition(2)
    // query 100's vector is not in the store
    val queries = Seq((1L, Array(1f, 0f, 0f)), (100L, Array(-1f, 0.5f, 2f)))
    def answer(k: Int): Map[Long, Seq[(Int, Long, Any)]] =
      StreamingVectorSearch.answerBatch(vectors,
          queries.toDF("qid", "embedding"), k)
        .collect().toSeq
        .groupBy(_.getAs[Long]("qid"))
        .view.mapValues(_.map(r => (r.getAs[Int]("rank"),
          r.getAs[Long]("vec_id"), r.get(3))).sortBy(_._1)).toMap
    val k2 = answer(2)
    assert(k2(1L) == Seq((1, 1L, "a"), (2, 3L, "c")), s"tie at k: ${k2(1L)}")
    for (k <- Seq(1, 2, 4, 10)) {
      val got = answer(k)
      assert(got.keySet == Set(1L, 100L))
      queries.foreach { case (q, v) =>
        assert(got(q).size == math.min(k, stored.size), s"qid $q at k=$k")
        assert(got(q) == exactTopK(stored, v, k), s"qid $q at k=$k: ${got(q)}")
      }
    }
  }

  test("streaming compaction: small files collapse to packed bins, crash-safe pointer commit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingCompaction
    def rows(i: Int): Seq[(Long, String)] =
      (i * 10 until i * 10 + 10).map(k => (k.toLong, s"payload_$k" * 40))
    def runScenario(crashAt: Option[Int], dir: String): (Set[Long], String) = {
      val table = s"$dir/table"
      val mem = MemoryStream[(Long, String)]
      def go(): Unit = {
        val q = StreamingCompaction.start(mem.toDF().toDF("id", "payload"),
          table, s"$dir/ckpt", target = 8192, maxLive = 3)
        q.awaitTermination()
      }
      // batches 0-2 ingest small files; batch 2 trips maxLive=3 -> compact
      mem.addData(rows(0)); go()
      mem.addData(rows(1)); go()
      var fired = false
      StreamingCompaction.compactionFault = i =>
        if (crashAt.contains(i)) {
          fired = true; throw new RuntimeException(s"injected crash at op $i")
        }
      mem.addData(rows(2))
      try go() catch { case _: Exception => () } finally {
        StreamingCompaction.compactionFault = _ => ()
      }
      if (crashAt.isDefined) {
        assert(fired, "crash point never reached — op map changed")
        go() // replay batch 2 from the checkpoint
      }
      // batches 3-5: second compaction cycle (also sweeps any debris)
      mem.addData(rows(3)); go()
      mem.addData(rows(4)); go()
      mem.addData(rows(5)); go()
      val ids = StreamingCompaction.snapshot(spark, table)
        .select("id").as[Long].collect()
      assert(ids.length == ids.distinct.length, "compaction duplicated rows")
      (ids.toSet, table)
    }
    withTempDir("graft_scompact") { cleanDir =>
      val (clean, cleanTable) = runScenario(None, cleanDir)
      assert(clean == (0L until 60L).toSet, "clean run lost rows")
      // physical layout after the second compaction: exactly one data file
      // per bin dir, live holds nothing (batch 5 was consumed), and every
      // bin's ACTUAL byte total respects the packing bound
      val base = new java.io.File(s"$cleanTable/v2")
      assert(base.isDirectory, "expected base version v2")
      val binDirs = base.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("bin="))
      assert(binDirs.nonEmpty)
      val sizes = binDirs.map { b =>
        val fs = b.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(fs.length == 1, s"${b.getName}: ${fs.length} files")
        fs.head.length()
      }
      assert(sizes.sum > 0 && sizes.forall(_ < 8192 + sizes.max))
      assert(!new java.io.File(s"$cleanTable/live").exists() ||
        new java.io.File(s"$cleanTable/live").listFiles().isEmpty)
      // crash before the pointer commit and after it: both replay to the
      // clean result, and the second compaction sweeps all debris
      for (k <- 0 to 1) withTempDir("graft_scompact") { dir =>
        val (got, table) = runScenario(Some(k), dir)
        assert(got == clean, s"crash at op $k diverged")
        val vdirs = new java.io.File(table).listFiles()
          .filter(_.isDirectory).map(_.getName).filter(_.startsWith("v")).toSet
        assert(vdirs.size == 1, s"crash at op $k left stale versions: $vdirs")
      }
    }
  }

  test("streaming compaction: a torn _CURRENT.tmp reads as absent, table stays serviceable") {
    // crash window inside commitState itself: tmp created but the write
    // never completed — the partial file must be IGNORED (not parsed),
    // or every subsequent read/ingest on the table throws forever
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingCompaction
    withTempDir("graft_torn") { dir =>
      val table = s"$dir/table"
      def batch(i: Int) = (i * 10 until i * 10 + 10)
        .map(k => (k.toLong, s"p_$k" * 30)).toDF("id", "payload")
      (0 to 2).foreach(i => // batch 2 trips maxLive=3 -> compaction -> v1
        StreamingCompaction.processBatch(table, 8192, 3)(batch(i), i.toLong))
      assert(new java.io.File(s"$table/v1").isDirectory)
      // ADVICE r8: beyond unparseable fragments, a torn-but-PARSEABLE
      // truncation ("v=2;upTo=1" cut from "v=2;upTo=12") and a payload
      // whose crc does not seal its body must both read as absent — the
      // write-ahead trusts only fully-written states
      for (torn <- Seq("", "v=", "v=2;upT", "v=2;upTo=1",
        "v=2;upTo=1;crc=deadbeef")) {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_CURRENT.tmp"), torn.getBytes)
        val ids = StreamingCompaction.snapshot(spark, table)
          .select("id").as[Long].collect().toSet
        assert(ids == (0L until 30L).toSet, s"torn tmp '$torn' broke reads")
      }
      // and the table still ingests + compacts past the debris
      (3 to 5).foreach(i =>
        StreamingCompaction.processBatch(table, 8192, 3)(batch(i), i.toLong))
      assert(StreamingCompaction.snapshot(spark, table)
        .select("id").as[Long].collect().toSet == (0L until 60L).toSet)
      // migration: a MAIN pointer written by the pre-crc code (unsealed,
      // rename-atomic so never torn) must still parse — demanding the seal
      // there would reset a healthy table to v0 and let the next
      // compact+sweep destroy the base
      val current = java.nio.file.Paths.get(s"$table/_CURRENT")
      val sealed_ = new String(java.nio.file.Files.readAllBytes(current), "UTF-8")
      java.nio.file.Files.write(current,
        sealed_.substring(0, sealed_.lastIndexOf(";crc=")).getBytes("UTF-8"))
      assert(StreamingCompaction.snapshot(spark, table)
        .select("id").as[Long].collect().toSet == (0L until 60L).toSet,
        "unsealed legacy _CURRENT no longer parses")
    }
  }

  test("streaming compaction: full bins carry forward by link, not rewrite") {
    // ADVICE r8 write-amplification fix: a file already at/above the bin
    // target must ride into the next version as the SAME inode (hard
    // link), never re-encoded — steady-state compaction cost is the
    // under-filled tail + live batches, not the whole table
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingCompaction
    withTempDir("graft_carry") { dir =>
      val table = s"$dir/table"
      // ~3 KB incompressible payload per row -> every batch file > target
      def batch(i: Int) = (i * 10 until i * 10 + 10).map { k =>
        val s = (1 to 3000).map(j => ('a' + ((k * 31 + j * 17) % 26)).toChar)
          .mkString
        (k.toLong, s)
      }.toDF("id", "payload")
      def ino(p: java.nio.file.Path): Any =
        java.nio.file.Files.getAttribute(p, "unix:ino")
      def binFiles(v: String): Map[String, java.nio.file.Path] =
        new java.io.File(s"$table/$v").listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("bin="))
          .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
          .map(f => f.getName -> f.toPath).toMap
      (0 to 2).foreach(i => // all three live files >= target -> all carried
        StreamingCompaction.processBatch(table, 2048, 3)(batch(i), i.toLong))
      val v1 = binFiles("v1")
      assert(v1.size == 3, s"expected 3 carried bins in v1, got ${v1.keySet}")
      val v1Inodes = v1.map { case (n, p) => n -> ino(p) }
      (3 to 5).foreach(i => // second cycle: v1's 3 files must carry again
        StreamingCompaction.processBatch(table, 2048, 3)(batch(i), i.toLong))
      val v2 = binFiles("v2")
      assert(v2.size == 6, s"expected 6 bins in v2, got ${v2.keySet}")
      v1Inodes.foreach { case (name, inode) =>
        assert(v2.contains(name), s"carried file $name missing from v2")
        assert(ino(v2(name)) == inode,
          s"$name was rewritten (new inode), not carried by link")
      }
      // and the committed view is still exactly the ingested rows
      assert(StreamingCompaction.snapshot(spark, table)
        .select("id").as[Long].collect().toSet == (0L until 60L).toSet)
    }
  }

  test("checkpoint-resume: restarted query does not recount processed data") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ckpt") { ckpt =>
      val mem = MemoryStream[Ev]
      val agg = mem.toDF().groupBy("user_id").agg(count(lit(1)).as("n"))

      mem.addData(Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0))
      val q1 = agg.writeStream.format("memory").queryName("ckpt_out1")
        .outputMode("complete").option("checkpointLocation", ckpt).start()
      q1.processAllAvailable(); q1.stop()
      assert(spark.table("ckpt_out1").filter(col("user_id") === 1)
        .head().getAs[Long]("n") == 1L)

      // restart from the same checkpoint; add one more event
      mem.addData(Ev(2, ts("2024-01-01 00:01:00"), 1, "click", 1.0))
      val q2 = agg.writeStream.format("memory").queryName("ckpt_out2")
        .outputMode("complete").option("checkpointLocation", ckpt).start()
      q2.processAllAvailable(); q2.stop()
      // state restored (1) + new event (1) = 2 — not 1, not 3
      assert(spark.table("ckpt_out2").filter(col("user_id") === 1)
        .head().getAs[Long]("n") == 2L)
    }
  }

  test("streaming percolation fires the q151 rules per batch, across a restart") {
    // The alerting form RetrievalOps promises: the stored-query registry
    // (built offline from the corpus — the deployment model) broadcasts;
    // documents stream through in two batches with a QUERY RESTART at the
    // boundary; the accumulated (doc, rule) matches must equal an
    // independent per-doc scan and aggregate to q151's counts.
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_perc") { dir =>
      val stored = operators.RetrievalOps.storedQueriesMulti(spark, sf)
        .select(col("qid"), col("n_required"),
          array_compact(array(col("term1"), col("term2"), col("term3")))
            .as("terms"))
        .localCheckpoint() // freeze the registry (window over corpus stats)
      val docs = Tables.t(spark, sf, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      val mem = MemoryStream[(Long, String)]
      def go(): Unit = {
        // each go() is a NEW query resuming from the checkpoint: the batch
        // boundary is also a restart boundary (stateless op — trivially
        // exactly-once)
        val q = graft.streaming.StreamingOps
          .percolateStream(mem.toDF().toDF("doc_id", "text"), stored)
          .writeStream.format("parquet")
          .option("path", s"$dir/matches")
          .option("checkpointLocation", s"$dir/ckpt")
          .start()
        q.processAllAvailable(); q.stop()
      }
      val (a, b) = docs.splitAt(docs.length / 2)
      mem.addData(a.toIndexedSeq); go()
      mem.addData(b.toIndexedSeq); go()
      val got = spark.read.parquet(s"$dir/matches")
        .select("doc_id", "qid").as[(Long, Long)].collect().toSet
      // independent pin: plain Scala over the collected docs + registry
      val reg = stored.collect().map(r => (r.getAs[Long]("qid"),
        r.getAs[Long]("n_required"), r.getAs[Seq[String]]("terms").toSet))
      val want = (for {
        (id, text) <- docs
        toks = text.toLowerCase.split(" ").toSet
        (qid, nReq, terms) <- reg
        if terms.count(toks) == nReq
      } yield (id, qid)).toSet
      assert(want.nonEmpty && got == want)
      // and the per-rule totals equal the q151 registry row
      val q151 = QueryRegistry.byName("q151_percolate_multiterm")
        .fn(spark, sf).collect()
        .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("n_matching_docs")).toMap
      val counts = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert(q151.forall { case (qid, n) => counts.getOrElse(qid, 0L) == n })
    }
  }

  test("streaming percolation honors negation rules (q155 registry)") {
    implicit val sqlCtx = spark.sqlContext
    val stored = operators.RetrievalOps.storedQueriesNeg(spark, sf)
      .select(col("qid"), lit(2L).as("n_required"),
        array(col("term1"), col("term2")).as("terms"),
        array(col("not_term")).as("not_terms"))
      .localCheckpoint()
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.toIndexedSeq)
    val q = graft.streaming.StreamingOps
      .percolateStream(mem.toDF().toDF("doc_id", "text"), stored)
      .writeStream.format("memory").queryName("perc_neg")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("perc_neg")
      .select("doc_id", "qid").as[(Long, Long)].collect().toSet
    val reg = stored.collect().map(r => (r.getAs[Long]("qid"),
      r.getAs[Seq[String]]("terms").toSet,
      r.getAs[Seq[String]]("not_terms").toSet))
    val want = (for {
      (id, text) <- docs
      toks = text.toLowerCase.split(" ").toSet
      (qid, terms, nots) <- reg
      if terms.subsetOf(toks) && nots.forall(!toks(_))
    } yield (id, qid)).toSet
    assert(want.nonEmpty && got == want)
    // per-rule totals equal the q155 registry row
    val q155 = QueryRegistry.byName("q155_percolate_negation")
      .fn(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("n_matching_docs")).toMap
    val counts = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(q155.forall { case (qid, n) => counts.getOrElse(qid, 0L) == n })
  }

  test("percolation: hand-written external registry — batch and stream agree, malformed rejected") {
    // VERDICT r8 #7: a real rule registry arrives as DATA, not derived
    // from corpus token ranks. validatedRegistry canonicalizes it to
    // the shared (qid, n_required, terms, not_terms) contract; both the
    // batch percolate and percolateStream consume the same validated
    // frame and must fire identically.
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "spark keeps its state across the cluster"),
      (2L, "spark broadcast joins avoid the shuffle"),
      (3L, "ducks and towers by the pond"),
      (4L, "the pond is quiet tonight"))
    val reg = Seq(
      // plain conjunction, n_required defaulted to size(terms)
      (10L, Seq("spark", "shuffle"), None, None),
      // exactly ONE of three (the q151 exact-n contract)
      (11L, Seq("pond", "ducks", "towers"), Some(1L), None),
      // negation: spark AND NOT broadcast (the q155 shape)
      (12L, Seq("spark"), Some(1L), Some(Seq("broadcast"))))
    val regDf = reg.map { case (q, t, n, nt) =>
      (q, t, n.getOrElse(t.size.toLong), nt.getOrElse(Seq.empty[String]))
    }.toDF("qid", "terms", "n_required", "not_terms")
    val want = Set((2L, 10L), (4L, 11L), (1L, 12L))
    // batch
    val batchGot = operators.RetrievalOps
      .percolate(docs.toDF("doc_id", "text"), regDf)
      .as[(Long, Long)].collect().toSet
    assert(batchGot == want, s"batch got $batchGot")
    // stream over the SAME validated contract
    val validated = operators.RetrievalOps.validatedRegistry(regDf)
      .localCheckpoint()
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.toIndexedSeq)
    val q = graft.streaming.StreamingOps
      .percolateStream(mem.toDF().toDF("doc_id", "text"), validated)
      .writeStream.format("memory").queryName("perc_ext")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamGot = spark.table("perc_ext")
      .select("doc_id", "qid").as[(Long, Long)].collect().toSet
    assert(streamGot == want, s"stream got $streamGot")
    // defaulted columns: registry with qid+terms only is accepted
    val minimal = operators.RetrievalOps.validatedRegistry(
      Seq((1L, Seq("spark"))).toDF("qid", "terms")).head()
    assert(minimal.getAs[Long]("n_required") == 1L &&
      minimal.getAs[scala.collection.Seq[String]]("not_terms").isEmpty)
    // a row-level NULL not_terms canonicalizes to empty (a NULL array
    // would make the stream's intersect guard silently drop every doc
    // while the batch explode fires the rule)
    val nullNt = operators.RetrievalOps.validatedRegistry(spark.sql(
      "SELECT 1L AS qid, array('spark') AS terms, 1L AS n_required, " +
        "CAST(NULL AS ARRAY<STRING>) AS not_terms")).head()
    assert(nullNt.getAs[scala.collection.Seq[String]]("not_terms") != null &&
      nullNt.getAs[scala.collection.Seq[String]]("not_terms").isEmpty)
    // malformed registries are rejected loudly, naming the violation
    def rejects(df: org.apache.spark.sql.DataFrame, why: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        operators.RetrievalOps.validatedRegistry(df)
      }
      assert(e.getMessage.contains(why), s"'$why' not in: ${e.getMessage}")
    }
    rejects(Seq((1L, Seq("a")), (1L, Seq("b"))).toDF("qid", "terms"),
      "duplicate qid")
    rejects(Seq((1L, Seq.empty[String])).toDF("qid", "terms"), "empty terms")
    rejects(Seq((1L, Seq("a", "a"))).toDF("qid", "terms"),
      "duplicate terms")
    rejects(Seq((1L, Seq("Spark"))).toDF("qid", "terms"), "lowercase")
    rejects(Seq((1L, Seq("a"), 2L)).toDF("qid", "terms", "n_required"),
      "n_required out of range")
    rejects(Seq((1L, Seq("a"), 1L, Seq("a")))
      .toDF("qid", "terms", "n_required", "not_terms"),
      "terms overlap not_terms")
    intercept[IllegalArgumentException] {
      operators.RetrievalOps.validatedRegistry(Seq(1L -> "x").toDF("qid", "t"))
    }
  }

  test("defended interval join matches the q153 batch twin on ordered replay") {
    implicit val sqlCtx = spark.sqlContext
    def mic(t: Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    // event-time-ordered replay: the documented parity precondition for
    // dropDuplicatesWithinWatermark (first-ARRIVED == first in event
    // time); two batches so dedup state must carry across the boundary
    val harness = Tables.t(spark, sf, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    // synthetic BOT user: sf0.001's sparse stream never trips the rate
    // limit, so append the hot key the defense exists for — 12 views
    // inside ONE 10-minute bucket, one purchase 30 min later. Undefended
    // that's 12 attribution pairs; defended it must be exactly one (the
    // first view), proving the limiter actually bounds hot-key fan-in.
    val botBase = harness.map(e => mic(e.ts)).max + 3600000000L
    val botBucketStart = (botBase / 600000000L + 1) * 600000000L
    def botTs(us: Long) = new Timestamp(us / 1000) // micros % 1000 == 0 here
    val botViews = (0 until 12).map(i =>
      Ev(10000000L + i, botTs(botBucketStart + i * 1000000L), 999999L,
        "view", 0.0))
    val botBuy = Ev(10000100L, botTs(botBucketStart + 1800000000L), 999999L,
      "purchase", 1.0)
    val evRows = (harness ++ botViews :+ botBuy)
      .sortBy(e => (mic(e.ts), e.event_id)).toSeq
    val vs = MemoryStream[Ev]
    val ps = MemoryStream[Ev]
    val joined = graft.streaming.StreamingOps
      .defendedIntervalJoinStream(vs.toDF(), ps.toDF())
    val q = joined.writeStream.format("memory").queryName("ssj_defended")
      .outputMode("append").start()
    val (a, b) = evRows.splitAt(evRows.length / 2)
    vs.addData(a); ps.addData(a); q.processAllAvailable()
    vs.addData(b); ps.addData(b); q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("lag_us"))
    val streamed = spark.table("ssj_defended").collect().map(key).toSet
    val batch = QueryRegistry.byName("q153_rate_limited_attrib")
      .fn(spark, sf).collect().map(key).toSet
    val botPair = (999999L, 10000000L, 10000100L, 1800000000L)
    assert(batch.nonEmpty && streamed == batch + botPair,
      s"extra=${streamed -- batch - botPair} missing=${batch + botPair -- streamed}")
    // exactly ONE bot pair survived out of the 12 the raw join would emit
    assert(streamed.count(_._1 == 999999L) == 1)
  }

  test("streaming funnel equals the batch funnel (q97) on ordered replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.UserEvent
    def mic(t: Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    // full sf0.001 events replayed in event-time order across two batches
    // (the funnel's documented parity precondition); state must carry the
    // per-user step progress across the batch boundary
    val evs = Tables.t(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[UserEvent].collect().sortBy(e => (mic(e.ts), e.event_id))
    val mem = MemoryStream[UserEvent]
    val q = graft.streaming.StreamingFunnel.funnel(mem.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    val (a, b) = evs.splitAt(evs.length / 2)
    mem.addData(a.toIndexedSeq); q.processAllAvailable()
    mem.addData(b.toIndexedSeq); q.processAllAvailable(); q.stop()
    val stream = spark.table("funnel_out")
      .groupBy("step").agg(countDistinct("user_id").as("users"))
      .collect().map(r => r.getAs[Int]("step") -> r.getAs[Long]("users")).toMap
    val batch = QueryRegistry.byName("q97_funnel_view_click_purchase")
      .fn(spark, sf)
      .collect().map(r => r.getAs[Long]("step").toInt -> r.getAs[Long]("users"))
      .toMap
    assert((1 to 3).forall(s => stream.getOrElse(s, 0L) == batch(s)),
      s"stream=$stream batch=$batch")
    // a step-2 hit implies the same user has a step-1 hit (state machine
    // can't skip)
    val byUser = spark.table("funnel_out").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.map(_.getAs[Int]("step")).toSet)
    assert(byUser.values.forall(s => !s.contains(2) || s.contains(1)))
    assert(byUser.values.forall(s => !s.contains(3) || s.contains(2)))
  }

  test("streaming lifecycle e2e: curate -> content-dedup -> compact -> serve, convergent under crashes at every stage") {
    // VERDICT r8 #3: the five streaming pipelines are individually
    // crash-tested; this runs the reference's WHOLE lifecycle
    // (generate -> dedup -> store -> search, movie_generator.py:182-238 +
    // backend/search.py:15-44) as one composed job over one corpus:
    //   1. StreamingCuration     raw LLM records -> curated corpus
    //   2. StreamingContentDedup corpus docs -> near-dup verdicts + index
    //   3. StreamingCompaction   admitted docs -> bin-packed doc table
    //   4. StreamingVectorSearch query stream over the doc embeddings
    // The run executes twice — clean, and with a crash injected at every
    // stage (curation commit op, dedup batch replay, compaction
    // pre-commit, serving pre-write) — and must converge to identical
    // curated titles, admitted docs, table snapshots, and served
    // answers; the served answers must equal the exact top-k over the
    // same final table.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{StreamingCompaction, StreamingContentDedup,
      StreamingCuration, StreamingVectorSearch}
    def movie(t: String, y: Int, plot: String) =
      s"TITLE: $t\nYEAR: $y\nGENRES: Drama\nPLOT: $plot"
    // plots: Gamma's is Alpha's with ONE word changed — survives the
    // TITLE-level curation dedup but is a CONTENT near-dup for stage 2
    val pa = "the ancient harbor town wakes slowly under amber light " +
      "while fishermen haul heavy nets across the stone pier and " +
      "merchants argue about the price of salt bread and copper near " +
      "the old lighthouse gate before noon"
    val pg = pa.replace("noon", "dusk")
    val pb = "deep beneath the neon city a courier rides forgotten " +
      "tunnels carrying encrypted letters between rival guilds who " +
      "never meet in daylight and whose codes change with every moon " +
      "while the trains hum above"
    val pd = "an island botanist catalogs storm-bent orchids after the " +
      "monsoon season ends and trades pressed specimens with passing " +
      "sailors for stories maps and rare seeds from harbors she will " +
      "never visit herself"
    val emb = (id: Long) => Array.tabulate(64)(j =>
      (((id * 31 + j * 17) % 97).toFloat / 97f) - 0.5f)
    def lifecycle(crash: Boolean): (Set[String], Set[Long],
        Map[Long, Seq[(Int, Long)]]) = {
      withTempDir("graft_e2e") { dir =>
        val corpusDir = s"$dir/corpus"
        // ---- stage 1: curation (3 micro-batches; batch 1 carries an
        // exact dup, a fuzzy ±1-year dup, and the content near-dup)
        val raw = MemoryStream[String]
        def curate(): Unit = {
          val q = StreamingCuration.start(
            raw.toDF().withColumnRenamed("value", "raw"),
            corpusDir, s"$dir/ckpt_cur")
          q.awaitTermination()
        }
        raw.addData(movie("Alpha Dawn", 1990, pa), movie("Beta City", 1991, pb))
        curate()
        raw.addData(movie("alpha dawn", 1990, "exact dup"),
          movie("Alpha Dawnn", 1991, "fuzzy dup"),
          movie("Gamma Road", 1995, pg))
        if (crash) { // crash before the staged file's rename, then replay
          var fired = false
          StreamingCuration.swapFault = i =>
            if (i == 1) { fired = true; throw new RuntimeException("crash") }
          try curate() catch { case _: Exception => () } finally {
            StreamingCuration.swapFault = _ => ()
          }
          assert(fired, "curation crash point never reached")
        }
        curate()
        raw.addData(movie("Delta Sea", 2001, pd),
          movie("Beta Citty", 1990, "fuzzy dup of beta"))
        curate()
        val corpus = spark.read.parquet(corpusDir)
          .select(col("year").cast("long").as("doc_id"), col("title"),
            col("plot").as("text"))
          .as[(Long, String, String)].collect().sortBy(_._1)
        val titles = corpus.map(_._2).toSet
        // ---- stage 2: content near-dup over the curated docs (doc_id =
        // year — unique by construction), split in two insertion batches
        val idx = s"$dir/index"
        val docsMem = MemoryStream[(Long, String)]
        def dedup(): Unit = {
          val q = StreamingContentDedup.startIndexed(
            docsMem.toDF().toDF("doc_id", "text"), idx, s"$dir/ckpt_dd")
          q.awaitTermination()
        }
        val (older, newer) = corpus.map(c => (c._1, c._3)).partition(_._1 <= 1991)
        docsMem.addData(older.toIndexedSeq); dedup()
        docsMem.addData(newer.toIndexedSeq); dedup()
        if (crash) // crash after batch 1's writes, before its commit:
          StreamingContentDedup.processBatchIndexed(idx)( // replay must be
            newer.toSeq.toDF("doc_id", "text"), 1L)       // idempotent
        val verdicts = spark.read.parquet(s"$idx/verdicts")
          // the batch partition column type-infers as int32
          .select(col("doc_id"), col("dup_of"), col("batch").cast("long"))
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
            r.getAs[Long]("batch")))
        val admitted = verdicts.filter(_._2 == -1L).map(_._1).toSet
        val textOf = corpus.map(c => c._1 -> c._3).toMap
        // ---- stage 3: admitted docs into the compacted doc table, one
        // ingest batch per dedup batch; maxLive=2 -> batch 1 compacts
        val table = s"$dir/table"
        def ingest(b: Long): Unit = {
          val ids = verdicts.filter(v => v._3 == b && v._2 == -1L).map(_._1)
          StreamingCompaction.processBatch(table, 4096, 2)(
            ids.map(i => (i, textOf(i))).toSeq.toDF("doc_id", "text"), b)
        }
        ingest(0L)
        if (crash) {
          var fired = false
          StreamingCompaction.compactionFault = i =>
            if (i == 0) { fired = true; throw new RuntimeException("crash") }
          try ingest(1L) catch { case _: Exception => () } finally {
            StreamingCompaction.compactionFault = _ => ()
          }
          assert(fired, "compaction crash point never reached")
        }
        ingest(1L)
        val snapshot = StreamingCompaction.snapshot(spark, table)
          .select("doc_id").as[Long].collect().toSet
        assert(snapshot == admitted,
          s"compacted table $snapshot != admitted $admitted")
        // ---- stage 4: serve exact queries over the final table's embeddings
        val store = s"$dir/vstore"
        val stored = snapshot.toSeq.sorted.map(i => (i, emb(i), s"d$i"))
        stored.toDF("vec_id", "embedding", "label").write.parquet(store)
        val qMem = MemoryStream[(Long, Array[Float])]
        def serve(): Unit = {
          val q = StreamingVectorSearch.start(
            qMem.toDF().toDF("qid", "embedding"), store, s"$dir/answers",
            s"$dir/ckpt_sv", k = 3)
          q.awaitTermination()
        }
        qMem.addData((1990L, emb(1990L)), (2001L, emb(2001L)))
        if (crash) {
          var fired = false
          StreamingVectorSearch.servingFault = i =>
            if (i == 0) { fired = true; throw new RuntimeException("crash") }
          try serve() catch { case _: Exception => () } finally {
            StreamingVectorSearch.servingFault = _ => ()
          }
          assert(fired, "serving crash point never reached")
        }
        serve()
        val served = spark.read.parquet(s"$dir/answers/batch=*")
          .select("qid", "rank", "vec_id").collect()
          .groupBy(_.getAs[Long]("qid"))
          .view.mapValues(_.map(r => (r.getAs[Int]("rank"),
            r.getAs[Long]("vec_id"))).sortBy(_._1).toSeq).toMap
        // served answers == the exact top-k over the SAME final store
        served.keys.foreach { q =>
          val want = exactTopK(stored, emb(q), 3).map(w => (w._1, w._2))
          assert(served(q) == want, s"qid $q: served=${served(q)} exact=$want")
          assert(served(q).head._2 == q, s"qid $q does not rank itself first")
        }
        (titles, admitted, served)
      }
    }
    val clean = lifecycle(crash = false)
    // stage-level expectations by construction
    assert(clean._1 == Set("Alpha Dawn", "Beta City", "Gamma Road", "Delta Sea"))
    assert(clean._2 == Set(1990L, 1991L, 2001L),
      s"admitted ${clean._2}: Gamma (1995, near-dup plot) must be dropped")
    // the crash-riddled run converges to the identical end state
    val crashy = lifecycle(crash = true)
    assert(crashy == clean, s"crash run diverged:\n$crashy\nvs\n$clean")
  }
}
