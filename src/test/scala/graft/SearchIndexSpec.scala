package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.SearchService
import org.apache.spark.{ListenerBusDrain, SparkFiles}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The built-once ANN index behind `SearchService.searchWithFallback`: it
  * returns what the per-request pipeline it replaced returned, a warm
  * request costs two jobs and no code generation, a rewritten table is
  * seen at once, and concurrent first requests share one build. */
class SearchIndexSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.01"
  private val allLangs = Seq("de", "en", "es", "fr", "zh")

  private def ids(dir: String, id: Long, limit: Int, langs: Seq[String]): Seq[Long] =
    SearchService.searchWithFallback(spark, dir, id, limit, langs)
      .collect().map(_.getLong(0)).toSeq

  /** The per-request pipeline the index replaced: fit the LSH, look the
    * key vector up, probe the join of embeddings and filtered documents. */
  private def unindexed(dir: String, id: Long, limit: Int, langs: Seq[String]): Seq[Long] = {
    val k = math.max(1, math.min(limit, SearchService.Config.MaxLimit))
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), array_to_vector(col("embedding")).as("features"))
    val filtered = emb.join(
      Tables.t(spark, dir, "documents").filter(col("lang").isin(langs: _*)).select(col("doc_id")),
      col("vec_id") === col("doc_id")).drop("doc_id")
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(0.5).setNumHashTables(2).setSeed(42)
      .setInputCol("features").setOutputCol("hashes")
      .fit(emb)
    val key = emb.filter(col("vec_id") === id).head().getAs[Vector]("features")
    model.approxNearestNeighbors(filtered, key, SearchService.Config.numCandidates(k))
      .orderBy(col("distCol"), col("vec_id")).limit(k)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
  }

  /** A private copy of the two tables the search reads. */
  private def copyTables(): String = {
    val tmp = Files.createTempDirectory("graft_search_index")
    Seq("embeddings", "documents").foreach { n =>
      Files.copy(Paths.get(s"$sf01/$n.parquet"), tmp.resolve(s"$n.parquet"))
    }
    tmp.toString
  }

  test("the indexed path returns exactly the ids of the per-request LSH pipeline") {
    val rnd = new scala.util.Random(11)
    val before = SearchService.degradedCount
    for (k <- Seq(5, 10, 20, 50, 100, 500);
         langs <- Seq(Seq(allLangs(rnd.nextInt(5))), rnd.shuffle(allLangs).take(2 + rnd.nextInt(3)))) {
      val id = rnd.nextInt(400).toLong
      val got = ids(sf01, id, k, langs)
      assert(got.nonEmpty, s"k=$k langs=$langs id=$id")
      assert(got == unindexed(sf01, id, k, langs), s"k=$k langs=$langs id=$id")
    }
    assert(SearchService.degradedCount == before, "a request left the ANN path")
  }

  test("a warm request for an unseen vec_id runs at most 2 jobs and compiles no code") {
    val sc = spark.sparkContext
    Seq(401L, 402L).foreach(id => ids(sf01, id, 20, Seq("en", "fr")))
    // count only this thread's jobs, by their job group
    val group = "search-index-cost"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val degraded = SearchService.degradedCount
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "warm search request")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = try ids(sf01, 433L, 20, Seq("en", "fr")) finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(got.size == 20)
    assert(SearchService.degradedCount == degraded)
    assert(jobs.get <= 2, s"${jobs.get} jobs")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles, "Janino compiled a class")
  }

  test("the next search after the embeddings table is rewritten reflects the new vectors") {
    val dir = copyTables()
    val query = 3L
    val old = ids(dir, query, 10, allLangs)
    assert(old == unindexed(dir, query, 10, allLangs))
    val oldIndex = SearchService.indexPath(dir).get
    // give a vector outside the old top-10 the query's own embedding
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val target = emb.select(max(col("vec_id"))).head().getLong(0)
    assert(!old.contains(target))
    val qvec = emb.filter(col("vec_id") === query).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val staged = s"$dir/staged"
    emb.withColumn("embedding",
        when(col("vec_id") === target, typedLit(qvec)).otherwise(col("embedding")))
      .write.parquet(staged)
    Files.delete(Paths.get(s"$dir/embeddings.parquet"))
    Files.move(Paths.get(staged), Paths.get(s"$dir/embeddings.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val fresh = ids(dir, query, 10, allLangs)
    assert(fresh.take(2) == Seq(query, target))
    assert(fresh == unindexed(dir, query, 10, allLangs))
    assert(SearchService.indexPath(dir).get != oldIndex)
    assert(!Files.exists(Paths.get(oldIndex)), "the superseded index was left behind")
  }

  test("concurrent first requests build one index, outside the table dir, never persisted") {
    val dir = copyTables()
    val builds = SearchService.indexBuilds
    val degraded = SearchService.degradedCount
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val pool = Executors.newFixedThreadPool(4)
    val sizes = try {
      (0 until 4).map { i =>
        pool.submit(new Callable[Int] { def call(): Int = ids(dir, i.toLong, 10, Seq("en")).size })
      }.map(_.get)
    } finally pool.shutdown()
    assert(sizes.forall(_ == 10))
    assert(SearchService.indexBuilds == builds + 1)
    assert(SearchService.degradedCount == degraded)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    val path = SearchService.indexPath(dir).get
    assert(Files.isDirectory(Paths.get(path)))
    assert(path.startsWith(SparkFiles.getRootDirectory()) && !path.startsWith(dir))
    assert(new java.io.File(dir).list().toSet == Set("embeddings.parquet", "documents.parquet"))
  }
}
