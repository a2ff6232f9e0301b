package e2ebench

import org.apache.spark.sql.SparkSession

/** Exact filtered top-k by cosine similarity, in plain Scala over the
  * parquet vectors: the ground truth `search` recall is measured against.
  * Vectors are read with a plain parquet scan, not through the library's
  * table loaders, so the truth shares no code with the path under test. */
final class SearchTruth(ids: Array[Long], vectors: Array[Array[Double]],
                        langOf: Map[Long, String]) {
  private val norms = vectors.map(v => math.sqrt(v.map(x => x * x).sum))
  private val index = ids.zipWithIndex.toMap

  def numVectors: Int = ids.length
  def lang(id: Long): Option[String] = langOf.get(id)

  /** The clamped-k nearest vectors whose document language is in the
    * request's filter, ties broken by ascending id. */
  def topK(req: SearchRequest): Seq[Long] = {
    val qi = index(req.vecId)
    val q = vectors(qi)
    ids.indices.iterator
      .filter(i => langOf.get(ids(i)).exists(req.langs.contains))
      .map { i =>
        val v = vectors(i)
        var dot = 0.0
        var j = 0
        while (j < v.length) { dot += v(j) * q(j); j += 1 }
        (ids(i), dot / (norms(i) * norms(qi)))
      }
      .toSeq.sortBy { case (id, s) => (-s, id) }
      .take(req.clampedK).map(_._1)
  }

  /** Share of the exact answer present in `got`; 1.0 when the filter
    * admits no vector at all. */
  def recall(req: SearchRequest, got: Seq[Long]): Double = {
    val exact = topK(req)
    if (exact.isEmpty) 1.0 else exact.count(got.toSet).toDouble / exact.size
  }
}

object SearchTruth {
  def load(spark: SparkSession, dir: String): SearchTruth = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val langs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .collect { case r if !r.isNullAt(1) => r.getLong(0) -> r.getString(1) }
      .toMap
    new SearchTruth(rows.map(_._1), rows.map(_._2), langs)
  }
}
