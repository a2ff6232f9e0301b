package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.SearchService
import org.apache.spark.{ListenerBusDrain, SparkFiles}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The two exact tiers behind `SearchService.searchWithFallback`.
  *
  * Both return the plain-Scala exact top-k, see a rewritten table at once
  * and answer concurrent first requests. The exact tier (every table here
  * fits its budget) runs no Spark job per request and builds one copy for
  * those requests. The scan tier, forced by `SearchService.forceScanTier`,
  * compiles no code per warm request and builds, persists and writes
  * nothing. The three tests of the answer run once on each tier. */
class SearchIndexSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.01"
  private val allLangs = Seq("de", "en", "es", "fr", "zh")

  private def ids(dir: String, id: Long, limit: Int, langs: Seq[String]): Seq[Long] =
    SearchService.searchWithFallback(spark, dir, id, limit, langs)
      .collect().map(_.getLong(0)).toSeq

  /** A test of the scan tier, on tables small enough for the exact one. */
  private def scanTest(name: String)(body: => Unit): Unit =
    test(name)(SearchService.forceScanTier.withValue(true)(body))

  /** `body` as two tests: `exactName` on the exact tier and `scanName` on
    * the scan tier. */
  private def onBothTiers(exactName: String, scanName: String)(body: => Unit): Unit = {
    test(exactName)(body)
    scanTest(scanName)(body)
  }

  /** Every vector of `dir` with its document's language (None without a
    * document), read with plain parquet scans. */
  private def vectors(dir: String): Seq[(Long, Option[String], Array[Float])] = {
    val langOf = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), langOf.get(r.getLong(0)).flatten, r.getSeq[Float](1).toArray)).toSeq
  }

  /** Cosine similarity in plain Scala, accumulated in double in index
    * order as `cosine` accumulates it. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The exact filtered top-k in plain Scala: (score desc, vec_id asc). */
  private def exactTopK(dir: String, id: Long, limit: Int, langs: Seq[String]): Seq[Long] = {
    val k = math.max(1, math.min(limit, SearchService.Config.MaxLimit))
    val vs = vectors(dir)
    val q = vs.find(_._1 == id).get._3
    vs.filter(_._2.exists(langs.contains)).map { case (vid, _, v) => (vid, cos(v, q)) }
      .sortBy { case (vid, s) => (-s, vid) }.take(k).map(_._1)
  }

  /** Run `body` over a private copy of the two tables the search reads. */
  private def withTables[A](body: String => A): A = withTempDir("graft_search_index") { tmp =>
    Seq("embeddings", "documents").foreach { n =>
      Files.copy(Paths.get(s"$sf01/$n.parquet"), Paths.get(tmp, s"$n.parquet"))
    }
    body(tmp)
  }

  /** Replace table `name` of `dir` with `df`, written beside it first. */
  private def rewrite(dir: String, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val staged = s"$dir/staged"
    df.write.parquet(staged)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/$name.parquet"))
    Files.move(Paths.get(staged), Paths.get(s"$dir/$name.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Give each of `targets` the embedding of `source`. */
  private def plant(dir: String, source: Long, targets: Set[Long]): Unit = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val vec = emb.filter(col("vec_id") === source).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    rewrite(dir, "embeddings", emb.withColumn("embedding",
      when(col("vec_id").isin(targets.toSeq: _*), typedLit(vec)).otherwise(col("embedding"))))
  }

  /** `body`'s result and the Spark jobs it ran, counted by its job group. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "search-index-cost"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "warm search request")
    val out = try body finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, jobs.get)
  }

  /** (exact, scan, degraded) request counts so far. */
  private def counters: (Long, Long, Long) =
    (SearchService.exactTierCount, SearchService.scanTierCount, SearchService.degradedCount)

  /** The counters that a request served by the tier in force leaves alone:
    * the other tier's and the degrade counter. */
  private def untouched: (Long, Long) = {
    val (exact, scan, degraded) = counters
    (if (SearchService.forceScanTier.value) exact else scan, degraded)
  }

  // the broadcast key row, the broadcast side of the documents join and
  // the top-k itself
  scanTest("a warm scan-tier request for an unseen vec_id runs 3 jobs and compiles no code") {
    Seq(401L, 402L).foreach(id => ids(sf01, id, 20, Seq("en", "fr")))
    val (exact, scan, degraded) = counters
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (got, jobs) = withJobCount(ids(sf01, 433L, 20, Seq("en", "fr")))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles, "Janino compiled a class")
    assert(jobs == 3, s"$jobs jobs")
    assert(counters == ((exact, scan + 1, degraded)))
    assert(got == exactTopK(sf01, 433L, 20, Seq("en", "fr")))
  }

  scanTest("the next search after the embeddings table is rewritten reflects the new vectors") {
    withTables { dir =>
      val query = 3L
      val old = ids(dir, query, 10, allLangs)
      assert(old == exactTopK(dir, query, 10, allLangs))
      // give a vector outside the old top-10 the query's own embedding
      val target = spark.read.parquet(s"$dir/embeddings.parquet").select(max(col("vec_id"))).head().getLong(0)
      assert(!old.contains(target))
      plant(dir, query, Set(target))
      val fresh = ids(dir, query, 10, allLangs)
      assert(fresh.take(2) == Seq(query, target))
      assert(fresh == exactTopK(dir, query, 10, allLangs))
    }
  }

  scanTest("concurrent first scan-tier requests build, persist and write nothing") {
    withTables { dir =>
      val builds = SearchService.indexBuilds
      val (exact, scan, degraded) = counters
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      def underRoot = {
        import org.apache.commons.io.filefilter.TrueFileFilter.TRUE
        org.apache.commons.io.FileUtils.listFilesAndDirs(new java.io.File(SparkFiles.getRootDirectory()), TRUE, TRUE)
      }
      val rootFiles = underRoot
      val pool = Executors.newFixedThreadPool(4)
      val got = try {
        (0 until 4).map { i =>
          pool.submit(new Callable[Seq[Long]] { def call(): Seq[Long] = ids(dir, i.toLong, 10, Seq("en")) })
        }.map(_.get)
      } finally pool.shutdown()
      assert(got.zipWithIndex.forall { case (g, i) => g == exactTopK(dir, i.toLong, 10, Seq("en")) })
      assert(SearchService.indexBuilds == builds)
      assert(counters == ((exact, scan + 4, degraded)))
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
      assert(underRoot == rootFiles)
      assert(new java.io.File(dir).list().toSet == Set("embeddings.parquet", "documents.parquet"))
    }
  }

  test("every request adds 1 to exactly one of the tier and degrade counters; " +
    "forcing the scan tier leaves no trace") {
    def delta(body: => Unit): (Long, Long, Long) = {
      val (e, l, d) = counters
      body
      val (e2, l2, d2) = counters
      (e2 - e, l2 - l, d2 - d)
    }
    assert(delta(ids(sf01, 7L, 10, allLangs)) == ((1, 0, 0)))
    assert(delta(SearchService.forceScanTier.withValue(true)(ids(sf01, 7L, 10, allLangs))) == ((0, 1, 0)))
    assert(delta(ids(sf01, 8L, 10, allLangs)) == ((1, 0, 0)), "the forced tier outlived its block")
    assert(delta(ids(sf01, -1L, 10, allLangs)) == ((0, 0, 1)))
    // a valid key whose exact-tier build fails (labels that are not `int`)
    // degrades to the scan, which still answers the exact top-k
    withTables { dir =>
      rewrite(dir, "embeddings",
        spark.read.parquet(s"$sf01/embeddings.parquet").withColumn("label", col("label").cast("long")))
      var got = Seq.empty[Long]
      assert(delta { got = ids(dir, 7L, 50, allLangs.take(3)) } == ((0, 0, 1)))
      assert(got == exactTopK(dir, 7L, 50, allLangs.take(3)))
    }
  }

  onBothTiers("the exact tier returns the plain-Scala exact top-k, scored bit-equal to cosine",
    "the scan tier returns the plain-Scala exact top-k, scored bit-equal to cosine") {
    val rnd = new scala.util.Random(13)
    val before = untouched
    for (k <- Seq(5, 10, 20, 50, 100, 500);
         langs <- Seq(Seq(allLangs(rnd.nextInt(5))), rnd.shuffle(allLangs).take(2 + rnd.nextInt(3)))) {
      val id = rnd.nextInt(500).toLong
      val got = ids(sf01, id, k, langs)
      assert(got.nonEmpty, s"k=$k langs=$langs id=$id")
      assert(got == exactTopK(sf01, id, k, langs), s"k=$k langs=$langs id=$id")
    }
    assert(untouched == before, "a request left its tier")
    // the reference's arithmetic is `cosine`'s, bit for bit
    val q = 17L
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val bySpark = emb.crossJoin(emb.filter(col("vec_id") === q).select(col("embedding").as("qvec")))
      .select(col("vec_id"), graft.functions.VectorFunctions.cosine(col("embedding"), col("qvec")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vs = vectors(sf01)
    val qv = vs.find(_._1 == q).get._3
    vs.foreach { case (vid, _, v) =>
      assert(java.lang.Double.compare(cos(v, qv), bySpark(vid)) == 0, s"vec_id $vid")
    }
    // labels come from the embeddings table, in the other tier's schema
    val labels = emb.select("vec_id", "label").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val res = SearchService.searchWithFallback(spark, sf01, q, 20, allLangs)
    res.collect().foreach(r => assert(r.get(1) == labels(r.getLong(0))))
    assert(res.schema == SearchService.forceScanTier.withValue(!SearchService.forceScanTier.value)(
      SearchService.searchWithFallback(spark, sf01, q, 20, allLangs)).schema)
  }

  onBothTiers("the exact tier orders exact score ties by vec_id",
    "the scan tier orders exact score ties by vec_id") {
    withTables { dir =>
      val query = 300L
      val planted = Set(5L, 299L, 301L, 480L)
      plant(dir, query, planted)
      val got = ids(dir, query, 10, allLangs)
      assert(got.take(5) == (planted + query).toSeq.sorted)
      assert(got == exactTopK(dir, query, 10, allLangs))
    }
  }

  onBothTiers("a vector without a document is a valid key and never a filtered result",
    "a vector without a document is a valid key and never a scan-tier result") {
    withTables { dir =>
      val (orphan, twin) = (250L, 40L)
      plant(dir, twin, Set(orphan))
      rewrite(dir, "documents",
        spark.read.parquet(s"$sf01/documents.parquet").filter(col("doc_id") =!= orphan))
      val before = untouched
      val fromOrphan = ids(dir, orphan, 20, allLangs)
      assert(fromOrphan.head == twin && !fromOrphan.contains(orphan))
      assert(fromOrphan == exactTopK(dir, orphan, 20, allLangs))
      val fromTwin = ids(dir, twin, 100, allLangs)
      assert(fromTwin.head == twin && !fromTwin.contains(orphan))
      assert(fromTwin == exactTopK(dir, twin, 100, allLangs))
      assert(untouched == before)
    }
  }

  test("a warm exact-tier request for an unseen vec_id runs no Spark job") {
    ids(sf01, 401L, 20, Seq("en", "fr"))
    val (exact, scan, degraded) = counters
    val (got, jobs) = withJobCount(ids(sf01, 434L, 20, Seq("en", "fr")))
    assert(got.size == 20)
    assert(counters == ((exact + 1, scan, degraded)))
    assert(jobs == 0, s"$jobs jobs")
  }

  test("the next exact-tier search after the embeddings table is rewritten " +
    "sees the new vectors and drops the old copy") {
    withTables { dir =>
      val query = 3L
      val old = ids(dir, query, 10, allLangs)
      assert(old == exactTopK(dir, query, 10, allLangs))
      val oldCopy = new WeakReference(SearchService.residentCopy(dir).get)
      val target = 499L
      assert(!old.contains(target))
      plant(dir, query, Set(target))
      val fresh = ids(dir, query, 10, allLangs)
      assert(fresh.take(2) == Seq(query, target))
      assert(fresh == exactTopK(dir, query, 10, allLangs))
      // refersTo never makes the old copy strongly reachable again
      assert(!oldCopy.refersTo(SearchService.residentCopy(dir).get))
      var gcs = 0
      while (!oldCopy.refersTo(null) && gcs < 20) { System.gc(); Thread.sleep(50); gcs += 1 }
      assert(oldCopy.refersTo(null), "the superseded copy is still reachable")
    }
  }

  test("concurrent first exact-tier requests build one copy and persist nothing") {
    withTables { dir =>
      val builds = SearchService.indexBuilds
      val (exact, _, degraded) = counters
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val pool = Executors.newFixedThreadPool(4)
      val got = try {
        (0 until 4).map { i =>
          pool.submit(new Callable[Seq[Long]] { def call(): Seq[Long] = ids(dir, i.toLong, 10, Seq("en")) })
        }.map(_.get)
      } finally pool.shutdown()
      assert(got.zipWithIndex.forall { case (g, i) => g == exactTopK(dir, i.toLong, 10, Seq("en")) })
      assert(SearchService.indexBuilds == builds + 1)
      assert(counters._1 == exact + 4 && counters._3 == degraded)
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
      assert(new java.io.File(dir).list().toSet == Set("embeddings.parquet", "documents.parquet"))
    }
  }
}
