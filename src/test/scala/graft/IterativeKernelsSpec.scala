package graft

import graft.operators.{ClusterOps, DenseSuperstep, GraphOps}
import org.apache.spark.SparkException

/** The dense superstep kernels — PageRank under `GraphOps`' broadcast gate
  * and q128's integer Lloyd — against plain-Scala references on small
  * adversarial inputs, PageRank also against the shuffle-keyed join plan;
  * and the queries built on them leave nothing cached, whether they
  * finish or a superstep fails. */
class IterativeKernelsSpec extends SparkSpec {
  init()
  import spark.implicits._

  private val sf01 = "/root/testdata/sf0.01"
  private val Mass = 1000000L
  private val Iters = 3

  /** PageRank with the join plan's semantics, over Scala collections:
    * (rank by node, mass conserved in every superstep). */
  private def refPageRank(nodes: Seq[Long],
                          edges: Seq[(Long, Long)]): (Map[Long, Long], Boolean) = {
    val nn = nodes.length.toLong
    val od = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var r = nodes.map(v => v -> Mass / nn).toMap
    var ok = true
    for (_ <- 1 to Iters) {
      val contrib = edges.collect { case (s, d) if r.contains(s) => d -> r(s) / od(s) }
      val outflow = r.toSeq.collect { case (s, x) if od.contains(s) => x - x % od(s) }.sum
      ok &&= contrib.map(_._2).sum == outflow
      val in = contrib.groupMapReduce(_._1)(_._2)(_ + _)
      r = nodes.map(v => v -> (Mass * 3 / 20 / nn + 17 * in.getOrElse(v, 0L) / 20)).toMap
    }
    (r, ok)
  }

  // 4 has no in-edges, 5 is dangling, (1,2) is duplicated, 99 and 98 lie
  // outside the spine: one edge into it, one out of it
  private val graphs = Seq(
    "adversarial" -> (Seq(1L, 2L, 3L, 4L, 5L),
      Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 5L), (4L, 1L), (1L, 99L), (98L, 3L))),
    "one node with a self-loop" -> (Seq(7L), Seq((7L, 7L))),
    "one node, no edges" -> (Seq(7L), Seq.empty[(Long, Long)]))

  private def frames(nodes: Seq[Long], edges: Seq[(Long, Long)]) =
    (nodes.toDF("node"), edges.toDF("src", "dst").repartition(3))

  for ((name, (nodes, edges)) <- graphs)
    test(s"PageRank $name: dense kernel == shuffle-keyed plan == plain Scala") {
      val (want, wantOk) = refPageRank(nodes, edges)
      val (n, e) = frames(nodes, edges)
      val dense = GraphOps.pageRankDense(n, e, Iters, Mass)
      assert(dense.node.zip(dense.r).toMap == want)
      assert(dense.massOk && wantOk)
      val (ranks, massOk) =
        GraphOps.pageRankRanksChecked(n, e, GraphOps.outDegrees(e), Iters, Mass)
      assert(ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
      assert(massOk.head().getBoolean(0))
      val od = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
      assert(dense.node.zip(dense.od).toMap == nodes.map(v => v -> od.getOrElse(v, 0L)).toMap)
    }

  test("negative control: a contribution dropped from the dense inflow fails mass_ok") {
    val (nodes, edges) = graphs.head._2
    val (n, e) = frames(nodes, edges)
    assert(GraphOps.pageRankDense(n, e, Iters, Mass).massOk)
    // in superstep 1 every rank is Mass / 5, and node 4's single out-edge
    // carries all of it to node 1, the first spine index
    var calls = 0
    val tampered = GraphOps.inflowTap.withValue { in =>
      calls += 1
      if (calls == 1) in(0) -= Mass / nodes.length
    } {
      GraphOps.pageRankDense(n, e, Iters, Mass)
    }
    assert(calls == Iters && !tampered.massOk)
  }

  /** Integer Lloyd over Scala collections: seeds are ids 0..k-1, ties go
    * to the lowest cluster, an empty cluster keeps its centroid, and each
    * mean truncates toward zero. */
  private def refLloyd(vs: Seq[(Long, Array[Long])], k: Int, iters: Int): Seq[Seq[Long]] = {
    def dist(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var cs = vs.filter(_._1 < k).sortBy(_._1).map(_._2).toArray
    def nearest(v: Array[Long]) = cs.indices.minBy(c => (dist(v, cs(c)), c))
    for (_ <- 1 to iters) {
      val members = vs.groupBy { case (_, v) => nearest(v) }
      cs = Array.tabulate(k) { c =>
        members.get(c).fold(cs(c)) { m =>
          m.head._2.indices.map { p =>
            val s = m.map(_._2(p)).sum
            (s - s % m.length) / m.length
          }.toArray
        }
      }
    }
    cs.map(_.toSeq).toSeq
  }

  test("k-means: empty cluster, exact ties and negative means match plain Scala") {
    // micro-units: 1 is a duplicate of seed 0 (cluster 1 starts empty), 8
    // is equidistant from seeds 0 and 2, and cluster 6 ends with members
    // at x = 0 and x = -7, a mean of -3 truncated toward zero (not -4)
    val units = Seq(0L -> Seq(0, 0), 1L -> Seq(0, 0), 2L -> Seq(100, 0),
      3L -> Seq(0, 100), 4L -> Seq(100, 100), 5L -> Seq(-100, 0),
      6L -> Seq(0, -100), 7L -> Seq(-100, -100), 8L -> Seq(50, 0),
      9L -> Seq(-7, -100))
    val emb = units.map { case (id, v) => (id, v.map(x => (x / 1e6).toFloat)) }
      .toDF("vec_id", "embedding").repartition(3)
    val ev = ClusterOps.quantized(emb)
    val vs = ev.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    assert(vs.map { case (id, v) => id -> v.toSeq }.toMap ==
      units.map { case (id, v) => id -> v.map(_.toLong) }.toMap, "quantization moved a unit")
    val want = refLloyd(vs, 8, 2)
    val got = ClusterOps.lloydCentroids(ev).map(_.toSeq).toSeq
    assert(got == want)
    assert(want(6) == Seq(-3L, -100L))
    val assigned = ClusterOps.assign(ev, got.map(_.toArray).toArray).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def dist(a: Array[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(assigned == vs.map { case (id, v) =>
      val c = want.indices.minBy(c => (dist(v, want(c)), c))
      id -> (c.toLong, dist(v, want(c)))
    }.toMap)
    assert(assigned(8L)._1 < 2L, "a distance tie must go to the lowest cluster id")
  }

  private val dense = Seq("q128_kmeans_lloyd_assign", "q131_pagerank_trade_graph",
    "q154_pagerank_customer")

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("q128, q131 and q154 leave no RDD persisted at sf0.01") {
    val before = persisted
    for (q <- dense) assert(QueryRegistry.byName(q).fn(spark, sf01).collect().nonEmpty, q)
    assert((persisted -- before).isEmpty)
  }

  test("q128, q131 and q154 leave no RDD persisted when a superstep fails") {
    val before = persisted
    for (q <- dense) {
      intercept[SparkException] {
        DenseSuperstep.failAfter.withValue(Some(1)) {
          QueryRegistry.byName(q).fn(spark, sf01).collect()
        }
      }
    }
    assert((persisted -- before).isEmpty)
  }
}
