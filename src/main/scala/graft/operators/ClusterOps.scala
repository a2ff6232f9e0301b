package graft.operators

import graft.GraftQuery
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Corpus clustering — the capability the reference's missing
  * `ai_clustering_service` module implies (/root/reference/backend/routes.py:5,
  * observable contract at routes.py:75-77: group movies into themed
  * clusters) re-expressed as engine dataflow, and the TRAINING stage of the
  * ANN ladder's IVF rung (q26 partitions by a given label; a real IVF index
  * learns its coarse quantizer from the data — this is that step, and it is
  * also the partitioner for SemDeDup-style semantic dedup, Abbas et al.
  * 2023, arXiv:2303.09540).
  *
  * Why this is hash-checkable when MLlib KMeans is not (the retired q65
  * rung was recall-pinned only): Lloyd's algorithm is run for a FIXED
  * number of rounds in exact integer arithmetic — embeddings quantized to
  * integer units (×1e6, the q105 discipline), squared-L2 distances as
  * integer sums, centroid updates as integer division truncated toward
  * zero via (s - s % n) / n (both engines evaluate this identically; the
  * final division is exactly representable). Seeding is the first k
  * vectors by vec_id — deterministic, no RNG. Every intermediate and the
  * final assignment are therefore bit-identical across engines.
  */
object ClusterOps {

  private val K = 8
  private val Iters = 2

  /** An embedding quantized to integer micro-units (the q105 fixed-point
    * discipline; q105, q120, q128, q132 and q139 all quantize through it). */
  private[graft] def micro(embedding: Column): Column =
    transform(embedding, x => round(x.cast("double") * 1e6).cast("long"))

  /** (`vec_id`, `ev`): each embedding quantized to integer micro-units. */
  private[graft] def quantized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), micro(col("embedding")).as("ev"))

  /** One partition's quantized vectors: ids, and the vectors laid end to
    * end (vector j spans `flat(off(j)) until flat(off(j + 1))`). A null
    * vector is left out — it is assigned no cluster and adds to no sum. */
  private final case class VecBlock(id: Array[Long], off: Array[Int], flat: Array[Long])

  private def vecBlock(rows: Iterator[InternalRow]): VecBlock = {
    val id = Array.newBuilder[Long]
    val off = Array.newBuilder[Int]
    val flat = Array.newBuilder[Long]
    var end = 0
    off += 0
    rows.foreach { row =>
      if (!row.isNullAt(1)) {
        val v = row.getArray(1).toLongArray()
        id += row.getLong(0)
        flat ++= v
        end += v.length
        off += end
      }
    }
    VecBlock(id.result(), off.result(), flat.result())
  }

  /** Index of the nearest centroid to `v(from until to)`: the integer
    * squared-L2 of `VectorKernels.sqDistL2` (over the shorter length),
    * ties to the lowest cluster id. */
  private def nearest(v: Array[Long], from: Int, to: Int, cents: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val n = math.min(to - from, cv.length)
      var acc = 0L
      var i = 0
      while (i < n) {
        val d = v(from + i) - cv(i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { best = c; bestD = acc }
      c += 1
    }
    best
  }

  /** Integer Lloyd over `ev` (`vec_id`, `ev`): seeds are the vectors with
    * `vec_id` < k in id order, then `Iters` update rounds. The vectors are
    * read once into cached primitive blocks (one job, which also returns
    * the seeds), and each round is one [[DenseSuperstep.sum]] job that
    * sums every cluster's members per position, with a member count per
    * position. The driver then takes each mean truncated toward zero,
    * `(s - s % n) / n`; an empty cluster keeps its previous centroid.
    * Returns the k learned centroids. */
  private[graft] def lloydCentroids(ev: DataFrame): Array[Array[Long]] =
    DenseSuperstep.withBlocks(ev.queryExecution.toRdd)(vecBlock) { blocks =>
      val summaries = blocks.map { b =>
        val seeds = b.id.indices.filter(j => b.id(j) < K)
          .map(j => (b.id(j), b.flat.slice(b.off(j), b.off(j + 1))))
        val dim = b.id.indices.map(j => b.off(j + 1) - b.off(j)).foldLeft(0)(math.max)
        (dim, seeds)
      }.collect()
      val dim = summaries.map(_._1).foldLeft(0)(math.max)
      var cents = summaries.flatMap(_._2).sortBy(_._1).map(_._2)
      require(cents.length == K,
        s"k-means needs exactly $K seed vectors (vec_id < $K), found ${cents.length}")
      for (_ <- 1 to Iters) {
        // [0, K*dim): per (cluster, position) sums; [K*dim, 2*K*dim): counts
        val acc = DenseSuperstep.sum(blocks, cents, 2 * K * dim) { (b, cs, acc) =>
          var j = 0
          while (j < b.id.length) {
            val from = b.off(j)
            val base = nearest(b.flat, from, b.off(j + 1), cs) * dim
            var i = from
            while (i < b.off(j + 1)) {
              val slot = base + i - from
              acc(slot) = Math.addExact(acc(slot), b.flat(i))
              acc(K * dim + slot) += 1
              i += 1
            }
            j += 1
          }
        }
        cents = Array.tabulate(K) { c =>
          // positions present are a prefix: every member spans 0 until its length
          val len = (0 until dim).takeWhile(p => acc(K * dim + c * dim + p) > 0).length
          if (len == 0) cents(c)
          else Array.tabulate(len) { p =>
            val sum = acc(c * dim + p)
            val n = acc(K * dim + c * dim + p)
            (sum - sum % n) / n
          }
        }
      }
      cents
    }

  /** Each vector's nearest centroid (`cluster`, ties to the lowest id) and
    * its integer squared-L2 distance (`dist`), as a lazy map over `ev`. */
  private[graft] def assign(ev: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    import graft.functions.expressions.CosineSimilarity.sq_dist_l2
    ev.withColumn("dists",
        array(cents.toSeq.map(c => sq_dist_l2(col("ev"), lit(c))): _*))
      // array_position: FIRST index of the min → ties break to the
      // lowest cluster id (the oracle orders by (dist, cluster))
      .select(col("vec_id"),
        (expr("array_position(dists, array_min(dists))") - 1).cast("long").as("cluster"),
        array_min(col("dists")).as("dist"))
  }

  /** q128 — k-means corpus clustering (integer Lloyd, k=8, 2 update
    * rounds + final assignment). Output: each vector's final cluster and
    * its integer squared-L2 distance to the learned centroid.
    *
    * Scale shape: the state is k × dim = 8 × 64 longs, so it always fits
    * the driver. The quantized corpus is read once into cached primitive
    * blocks; each update round is ONE shuffle-free job that assigns every
    * vector against the broadcast centroids and sums cluster members into
    * a dense k·dim array ([[lloydCentroids]]). The final assignment is a
    * per-row map over the corpus scan against the learned centroids as
    * literals. Nothing grows with the data but the scans. Empty clusters
    * keep their previous centroid (deterministic, engine-portable). */
  private val q128 = GraftQuery(
    "q128_kmeans_lloyd_assign",
    (s, d) => {
      val ev = quantized(t(s, d, "embeddings"))
      val out = assign(ev, lloydCentroids(ev))
      // a corpus read as one partition sorts in place: no sampling job
      // and no range exchange (toRdd is the setup's, already planned)
      (if (ev.queryExecution.toRdd.getNumPartitions == 1) out.coalesce(1) else out)
        .orderBy(col("vec_id"))
    },
    Some("""WITH ev AS (SELECT vec_id,
        list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ev
      FROM embeddings),
      c0 AS (SELECT vec_id AS cluster, ev AS c FROM ev WHERE vec_id < 8),
      a1 AS (SELECT vec_id, ev, cluster,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist, cluster) AS rn
             FROM (SELECT e.vec_id, e.ev, c.cluster,
                     CAST(list_sum(list_transform(range(1, len(e.ev) + 1),
                       i -> (e.ev[i] - c.c[i]) * (e.ev[i] - c.c[i])))
                       AS BIGINT) AS dist
                   FROM ev e, c0 c)),
      m1 AS (SELECT cluster, i AS pos,
               CAST((sum(ev[i]) - sum(ev[i]) % count(*)) / count(*) AS BIGINT)
                 AS m
             FROM a1, unnest(range(1, len(ev) + 1)) AS u(i)
             WHERE rn = 1 GROUP BY cluster, i),
      c1n AS (SELECT cluster, list(m ORDER BY pos) AS c FROM m1
              GROUP BY cluster),
      c1 AS (SELECT c0.cluster, coalesce(c1n.c, c0.c) AS c
             FROM c0 LEFT JOIN c1n USING (cluster)),
      a2 AS (SELECT vec_id, ev, cluster,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist, cluster) AS rn
             FROM (SELECT e.vec_id, e.ev, c.cluster,
                     CAST(list_sum(list_transform(range(1, len(e.ev) + 1),
                       i -> (e.ev[i] - c.c[i]) * (e.ev[i] - c.c[i])))
                       AS BIGINT) AS dist
                   FROM ev e, c1 c)),
      m2 AS (SELECT cluster, i AS pos,
               CAST((sum(ev[i]) - sum(ev[i]) % count(*)) / count(*) AS BIGINT)
                 AS m
             FROM a2, unnest(range(1, len(ev) + 1)) AS u(i)
             WHERE rn = 1 GROUP BY cluster, i),
      c2n AS (SELECT cluster, list(m ORDER BY pos) AS c FROM m2
              GROUP BY cluster),
      c2 AS (SELECT c1.cluster, coalesce(c2n.c, c1.c) AS c
             FROM c1 LEFT JOIN c2n USING (cluster)),
      a3 AS (SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist, cluster) AS rn
             FROM (SELECT e.vec_id, c.cluster,
                     CAST(list_sum(list_transform(range(1, len(e.ev) + 1),
                       i -> (e.ev[i] - c.c[i]) * (e.ev[i] - c.c[i])))
                       AS BIGINT) AS dist
                   FROM ev e, c2 c))
      SELECT vec_id, cluster, dist FROM a3 WHERE rn = 1 ORDER BY vec_id"""))

  /** q132 — SemDeDup-style semantic prune (Abbas et al. 2023,
    * arXiv:2303.09540): inside each semantic cluster, drop every vector
    * that has a near-duplicate neighbor strictly closer to the cluster
    * centroid (ties to the lower id) — keep the most-central exemplar of
    * each near-dup neighborhood. The cluster key here is `label` (the
    * precomputed coarse assignment; q128 is the stage that LEARNS one),
    * the near-dup criterion is q23's cosine ≥ 0.40 (verified to sit in a
    * >2e-3 empirical score gap, so float32-vs-double cannot flip
    * membership), and centroids/distances follow the q128 integer
    * discipline (×1e6 quantization, truncated integer mean, integer
    * squared-L2) so the drop decision and every emitted column hash-check.
    *
    * Output: the DROPPED vectors with their centroid distance and the
    * dominating keeper (nearest-to-centroid neighbor, min by (dist, id)).
    *
    * Scale shape: centroids are one bounded aggregation (clusters × dims
    * reduce keys) + a broadcast back; the distance column is a shuffle-free
    * map; the pair stage is the blocked self-join contract shared with
    * q23/q35 — O(Σ cluster²), never O(corpus²), and the 100-TB knob is the
    * cluster count (more centroids → smaller blocks), not the join. */
  private val q132 = GraftQuery(
    "q132_semdedup_prune",
    (s, d) => {
      import graft.functions.VectorFunctions.cosine
      import graft.functions.expressions.CosineSimilarity.sq_dist_l2
      val ev = t(s, d, "embeddings").select(col("vec_id"), col("label"),
        col("embedding"), micro(col("embedding")).as("ev"))
      val cent = ev
        .select(col("label"), posexplode(col("ev")).as(Seq("pos", "e")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("e")).as("se"), count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          ((col("se") - col("se") % col("n")) / col("n")).cast("long").as("m"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("label"),
          transform(col("pm"), p => p.getField("m")).as("cent"))
      val wd = ev.join(broadcast(cent), Seq("label"))
        .withColumn("dist", sq_dist_l2(col("ev"), col("cent")))
        .select(col("label"), col("vec_id"), col("embedding"), col("dist"))
      val a = wd.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("dist").as("a_dist"))
      val b = wd.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("dist").as("b_dist"))
      a.join(b, Seq("label"))
        .filter(col("a_id") =!= col("b_id"))
        .filter(cosine(col("a_emb"), col("b_emb")) >= 0.40)
        .filter(col("a_dist") < col("b_dist") ||
          (col("a_dist") === col("b_dist") && col("a_id") < col("b_id")))
        .groupBy(col("label"), col("b_id").as("vec_id"), col("b_dist").as("dist"))
        .agg(min(struct(col("a_dist"), col("a_id"))).as("k"))
        .select(col("label"), col("vec_id"), col("dist"),
          col("k").getField("a_id").as("keeper"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH ev AS (SELECT vec_id, label, embedding,
        list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ev
      FROM embeddings),
      cent AS (SELECT label, list(m ORDER BY pos) AS cent FROM (
          SELECT label, i AS pos,
            CAST((sum(ev[i]) - sum(ev[i]) % count(*)) / count(*) AS BIGINT)
              AS m
          FROM ev, unnest(range(1, len(ev) + 1)) AS u(i)
          GROUP BY label, i) GROUP BY label),
      wd AS (SELECT vec_id, label, embedding,
          CAST(list_sum(list_transform(range(1, len(ev) + 1),
            i -> (ev[i] - cent[i]) * (ev[i] - cent[i]))) AS BIGINT) AS dist
        FROM ev JOIN cent USING (label)),
      dom AS (SELECT b.label, b.vec_id, b.dist, a.vec_id AS a_id,
          row_number() OVER (PARTITION BY b.vec_id
            ORDER BY a.dist, a.vec_id) AS rn
        FROM wd a JOIN wd b
          ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.40
          AND (a.dist < b.dist OR (a.dist = b.dist AND a.vec_id < b.vec_id)))
      SELECT label, vec_id, dist, a_id AS keeper
      FROM dom WHERE rn = 1 ORDER BY vec_id"""))

  val all: Seq[GraftQuery] = Seq(q128, q132)
}
