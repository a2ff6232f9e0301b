package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.Try
import scala.util.control.NonFatal

import graft.GraftQuery
import graft.Tables._
import graft.functions.VectorFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkFiles
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** The reference's flagship API, as one library call: POST /api/search
  * end to end (/root/reference/backend/search.py:15-44 + routes.py:13-31).
  *
  * Semantics preserved step by step:
  *  - limit clamp to [1, 100] (search.py:16, config.py:25-26 — SURVEY P7)
  *  - metadata pre-filter BEFORE scoring (search.py:18-20 → pushed into
  *    the scan, SURVEY P1/O1)
  *  - query embedding: here a corpus vector stands in for the embedded
  *    query text (ai_service.py:23-42 is a network call — out of scope)
  *  - overscan 3× then exact re-rank (search.py:38-40 — SURVEY T3/O4)
  *  - result projection with defaults (search.py:46-62 — SURVEY P2)
  *
  * '''The ANN index''' (the analog of the Atlas vector index that
  * `$vectorSearch` reads, ai_service.py:59-119, built ahead of requests):
  *  - ''Contents.'' The LSH model of [[lshModel]] (2 hash tables × 64
  *    doubles, on the driver) and a parquet table of
  *    `vec_id, label, lang, features, hashes`: every embedding as an MLlib
  *    vector, its `documents.lang` (left join, so a vector without a
  *    document keeps a null lang and is still a valid query key) and its
  *    bucket hashes from the model's own `transform`.
  *  - ''Key.'' One index per (SparkContext, `dir`, signature of
  *    `embeddings.parquet` and `documents.parquet`). The signature is the
  *    modification time and length of each path and of the files directly
  *    under it. It is read on every request, so the next search after a
  *    table is rewritten builds a new index, and the superseded one is
  *    deleted.
  *  - ''Location.'' Under the SparkContext's driver-local directory
  *    (`SparkFiles.getRootDirectory()`, inside `spark.local.dir`, removed
  *    when the context stops), never next to the tables, which may be
  *    read-only. The table is written to a temporary path and renamed into
  *    place. Executors read it from there, so the location assumes they
  *    share the driver's file system, as in local mode.
  *  - ''Build.'' Single-flight: concurrent first requests for one key wait
  *    for one build, which reads the vector width and then writes the
  *    table. The index is never `persist`ed. It lives on disk, so a
  *    caller that unpersists every cached RDD between requests does not
  *    lose it.
  *  - ''Failure.'' A failed build is not kept. The request degrades to the
  *    exact scan, and the next request builds again.
  *
  * A request then runs two jobs: the key-vector lookup, and the bucket
  * probe plus exact re-rank that `collect` runs. It does no LSH fit, no
  * per-row hashing (MLlib skips `transform` when `hashes` is present) and
  * no join with `documents`.
  */
object SearchService {

  /** The reference's SEARCH_CONFIG (backend/config.py:24-28). */
  object Config {
    val DefaultLimit = 20
    val MaxLimit = 100
    val OverscanFactor = 3                      // search.py:38
    def numCandidates(limit: Int): Int =        // ai_service.py:68
      math.min(50 * limit, 1000)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val degraded = new AtomicLong
  private val builds = new AtomicLong

  /** How many [[searchWithFallback]] calls took the exact path because the
    * ANN path threw, since the JVM started. */
  def degradedCount: Long = degraded.get

  /** How many ANN indexes have been built since the JVM started. */
  private[graft] def indexBuilds: Long = builds.get

  private val models = new ConcurrentHashMap[Integer, BucketedRandomProjectionLSHModel]

  /** The one definition of this engine's LSH (bucket length 0.5, 2 hash
    * tables, seed 42), memoized per vector width. The model depends only
    * on these settings and the width, so it is fitted on a one-row local
    * frame, which runs no Spark job. */
  private[graft] def lshModel(spark: SparkSession, dim: Int): BucketedRandomProjectionLSHModel =
    models.computeIfAbsent(dim, _ => {
      val one = spark.createDataFrame(java.util.List.of(Row(Vectors.zeros(dim))),
        StructType(Seq(StructField("features", SQLDataTypes.VectorType))))
      new BucketedRandomProjectionLSH()
        .setBucketLength(0.5).setNumHashTables(2).setSeed(42)
        .setInputCol("features").setOutputCol("hashes")
        .fit(one)
    })

  private final case class Index(model: BucketedRandomProjectionLSHModel,
                                 path: String, schema: StructType)

  /** One key's index. The first request to read `built` builds it; the
    * others block on the lazy val until that build ends. */
  private final class Slot(val sig: String, val path: String, build: () => Index) {
    lazy val built: Try[Index] = Try(build())
  }

  /** (SparkFiles root, dir) → the slot for that dir's current signature. */
  private val indexes = new ConcurrentHashMap[(String, String), Slot]

  private def signature(spark: SparkSession, dir: String): String =
    Seq("embeddings", "documents").map { name =>
      val p = new Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val files = if (st.isDirectory) fs.listStatus(p).toSeq.sortBy(_.getPath.getName) else Nil
      (st +: files).map(f => s"${f.getModificationTime}:${f.getLen}").mkString(",")
    }.mkString("|")

  private def index(spark: SparkSession, dir: String): Index = {
    val root = SparkFiles.getRootDirectory()
    val sig = signature(spark, dir)
    val key = (root, dir)
    val slot = indexes.compute(key, (_, old) =>
      if (old != null && old.sig == sig) old
      else {
        if (old != null) deleteQuietly(old.path)
        val name = java.util.UUID.nameUUIDFromBytes(s"$dir|$sig".getBytes("UTF-8"))
        val path = s"$root/graft-search-index/$name"
        new Slot(sig, path, () => buildIndex(spark, dir, path))
      })
    slot.built.fold(e => { indexes.remove(key, slot); throw e }, identity)
  }

  private def buildIndex(spark: SparkSession, dir: String, path: String): Index = {
    val emb = t(spark, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val model = lshModel(spark, dim)
    val rows = model.transform(
      emb.select(col("vec_id"), col("label"), array_to_vector(col("embedding")).as("features"))
        .join(t(spark, dir, "documents").select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"), "left")
        .select(col("vec_id"), col("label"), col("lang"), col("features")))
    val tmp = s"$path.tmp-${java.util.UUID.randomUUID()}"
    try {
      rows.coalesce(1).write.parquet(tmp)
      Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    } finally deleteQuietly(tmp)
    builds.incrementAndGet()
    Index(model, path, rows.schema)
  }

  private def deleteQuietly(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** Where this SparkContext keeps the index of `dir`, once requested. */
  private[graft] def indexPath(dir: String): Option[String] =
    Option(indexes.get((SparkFiles.getRootDirectory(), dir))).map(_.path)

  /** Strategy-with-degrade (SURVEY O12, search.py:27-38): try the
    * approximate path (LSH buckets over the index above — the
    * $vectorSearch analog), fall back to the exact scan on failure.
    * Both paths serve the same logical query and emit the SAME
    * (vec_id, label) schema. Only NonFatal failures degrade (an OOM or
    * interrupt must propagate, not silently switch plans), and each
    * degrade is logged at WARN with the exception class and counted in
    * [[degradedCount]].
    *
    * The metadata pre-filter runs BEFORE/INSIDE the ANN probe, like the
    * filter pushed inside $vectorSearch (ai_service.py:70): the LSH model
    * is the same for every filter (bucket geometry is filter-independent),
    * but `approxNearestNeighbors` probes only the FILTERED rows of the
    * index, so a filtered search still returns k rows — post-filtering the
    * ANN output would return fewer than k at scale.
    *
    * The key vector is found with a predicate bound in a closure, not a
    * `vec_id = <literal>` filter: a long literal is inlined into the
    * generated code, so every unseen id would compile a new class.
    *
    * The numCandidates cap cannot change the top-k under the total order
    * (distCol, vec_id) unless exact distance ties straddle it. MLlib keeps
    * the c = numCandidates(k) ≥ k probed rows of least distCol and breaks
    * ties at the c-th distance arbitrarily, so every row strictly closer
    * than the c-th distance is kept. If the k-th distance is below the
    * c-th, every row at or below the k-th distance is kept, and the final
    * (distCol, vec_id) sort picks the exact top-k of the probed rows. The
    * only other case has the rows at ranks k..c all at one distance from
    * the key: c − k + 1 exact ties, 50 at k = 1 and more at every larger
    * k. */
  def searchWithFallback(spark: SparkSession, dir: String, queryVecId: Long,
                         limit: Int = Config.DefaultLimit,
                         langs: Seq[String] = Seq("en", "fr")): DataFrame = {
    val k = math.max(1, math.min(limit, Config.MaxLimit))
    try {
      val idx = index(spark, dir)
      val rows = spark.read.schema(idx.schema).parquet(idx.path)
      val isQuery = udf((id: Long) => id == queryVecId)
      val key = rows.filter(isQuery(col("vec_id"))).select(col("features")).collect()
        .headOption.getOrElse(throw new NoSuchElementException(s"vec_id $queryVecId is not in $dir"))
        .getAs[Vector](0)
      // P1 pre-filter lands in the index scan, BEFORE the bucket probe;
      // numCandidates cap, then exact re-rank of the candidate pool
      idx.model.approxNearestNeighbors(rows.filter(col("lang").isin(langs: _*)), key,
          Config.numCandidates(k))
        .orderBy(col("distCol"), col("vec_id"))
        .limit(k)
        .select(col("vec_id"), col("label"))
    } catch {
      case NonFatal(e) =>
        degraded.incrementAndGet()
        log.warn(s"search for vec_id $queryVecId in $dir degraded from ANN to the exact scan: " +
          s"${e.getClass.getName}: ${e.getMessage}")
        // degrade to the exact path (search.py:27-38), same output schema
        search(spark, dir, queryVecId, k, langs)
          .join(t(spark, dir, "embeddings").select(col("vec_id"), col("label")),
            col("doc_id") === col("vec_id"))
          .select(col("vec_id"), col("label"))
    }
  }

  def search(spark: SparkSession, dir: String, queryVecId: Long,
             limit: Int = Config.DefaultLimit,
             langs: Seq[String] = Seq("en", "fr")): DataFrame = {
    val k = math.max(1, math.min(limit, Config.MaxLimit)) // P7 clamp
    val qv = t(spark, dir, "embeddings")
      .filter(col("vec_id") === queryVecId).select(col("embedding").as("qvec"))
    val filtered = t(spark, dir, "documents")
      .filter(col("lang").isin(langs: _*)) // P1 — lands in the parquet scan
      .join(t(spark, dir, "embeddings"), col("doc_id") === col("vec_id"))
    val overscan = filtered
      .crossJoin(broadcast(qv))
      .withColumn("coarse", dotProduct(col("embedding"), col("qvec")))
      .orderBy(col("coarse").desc, col("doc_id"))
      .limit(Config.OverscanFactor * k) // T3 overscan
    val reranked = overscan
      .withColumn("score", cosine(col("embedding"), col("qvec")))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    reranked
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select( // P2 projection with defaults
        col("rank"), col("doc_id"),
        coalesce(col("lang"), lit("unknown")).as("lang"),
        coalesce(col("source"), lit("unknown")).as("source"),
        substring(col("text"), 1, 50).as("snippet"))
  }

  /** The profile JSON the reference loads from its working directory
    * (search.py:64-74 load_local_profile; field names from routes.py:65-77:
    * favorite_genres / watched_movies / liked_movies / reviews). A small
    * side-input config file, not scale data — absolute path so the Spark
    * read and the DuckDB oracle (read_json_auto) see the same bytes. */
  val ProfilePath: String =
    sys.props.getOrElse("graft.profile.path", "/root/repo/data/profile.json")

  /** Profile-personalized search (routes.py:65-77 builds user_context from
    * the JSON profile and feeds it to the personalized analysis): the
    * profile is a 1-row broadcast side — `watched_movies` anti-joins the
    * candidates out (never re-recommend), `favorite_genres` boosts via a
    * two-tier ordering (favorite-label matches first, then cosine rank).
    * At scale the profile side stays O(1); both the anti-join and the
    * boost join broadcast, so the only distributed pass is the scored
    * scan — same shape as q20. */
  private val q76 = GraftQuery(
    "q76_profile_personalized",
    (s, d) => {
      val profile = s.read.option("multiLine", "true").json(ProfilePath)
      val watched = profile.select(explode(col("watched_movies")).as("w_id"))
      val favs = profile.select(explode(col("favorite_genres")).as("fav_label"))
      val qv = t(s, d, "embeddings")
        .filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val scored = t(s, d, "embeddings")
        .join(broadcast(watched), col("vec_id") === col("w_id"), "left_anti")
        .crossJoin(broadcast(qv))
        .withColumn("score", cosine(col("embedding"), col("qvec")))
        .join(broadcast(favs), col("label") === col("fav_label"), "left")
        .withColumn("is_fav", col("fav_label").isNotNull)
      val top = scored
        .orderBy(col("is_fav").desc, col("score").desc, col("vec_id"))
        .limit(20)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("is_fav").desc, col("score").desc, col("vec_id"))).cast("long"))
        .select(col("rank"), col("vec_id"), col("label"), col("is_fav"))
    },
    Some(s"""WITH p AS (SELECT * FROM read_json_auto('$ProfilePath')),
      watched AS (SELECT unnest(watched_movies) AS w_id FROM p),
      favs AS (SELECT unnest(favorite_genres) AS fav_label FROM p),
      q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      s AS (SELECT vec_id, label,
              list_cosine_similarity(embedding, qvec) AS score,
              label IN (SELECT fav_label FROM favs) AS is_fav
            FROM embeddings, q
            WHERE vec_id NOT IN (SELECT w_id FROM watched))
      SELECT row_number() OVER (ORDER BY is_fav DESC, score DESC, vec_id) AS rank,
             vec_id, label, is_fav
      FROM s ORDER BY is_fav DESC, score DESC, vec_id LIMIT 20"""))

  /** The API surface as a registry query: requested limit 500 → clamped
    * to 100 (the FIXTURES §2.3 clamp fixture, at query level). */
  private val q29 = GraftQuery(
    "q29_search_api_clamped",
    (s, d) => search(s, d, queryVecId = 0, limit = 500),
    Some("""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      f AS (SELECT doc_id, lang, source, text, embedding
            FROM documents JOIN embeddings ON doc_id = vec_id
            WHERE lang IN ('en', 'fr')),
      o AS (SELECT *, list_dot_product(embedding, qvec) AS coarse FROM f, q
            ORDER BY coarse DESC, doc_id LIMIT 300),
      r AS (SELECT doc_id, lang, source, text,
              list_cosine_similarity(embedding, qvec) AS score FROM o
            ORDER BY score DESC, doc_id LIMIT 100)
      SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank, doc_id,
        coalesce(lang, 'unknown') AS lang, coalesce(source, 'unknown') AS source,
        substr(text, 1, 50) AS snippet
      FROM r ORDER BY score DESC, doc_id"""))

  val all: Seq[GraftQuery] = Seq(q29, q76)
}
