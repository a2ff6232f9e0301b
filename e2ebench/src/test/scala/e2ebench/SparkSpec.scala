package e2ebench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Checks that need the library on a live session over the benchmark's
  * tables (`-De2ebench.data=<sf dir>`, default the sf0.1 harness tables). */
class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = sys.props.getOrElse("e2ebench.data", "/root/testdata/sf0.1")
  private lazy val work = java.nio.file.Files.createTempDirectory("e2ebench-spec").toString
  private lazy val spark: SparkSession = Session.local(work)

  override def afterAll(): Unit = spark.stop()

  test("SearchService.search agrees with the plain-Scala exact top-k") {
    val truth = SearchTruth.load(spark, dir)
    Inputs.searchRequests(11, 3, 8, truth.numVectors).foreach { req =>
      val got = graft.operators.SearchService.search(spark, dir, req.vecId, req.k, req.langs)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == truth.topK(req), s"request ${req.render}")
    }
  }

  /** Per-item (jobs, stages, tasks) of two traced passes over the same items. */
  private def twoTracedPasses(w: Workload): (Seq[(Long, Long, Long)], Seq[(Long, Long, Long)]) = {
    w.setup()
    def pass() = {
      val run = new TracedRun(spark.sparkContext)
      (0 until w.timedCount).foreach(i => run(w, i))
      run.tracer.counters.map { case (_, c) => (c.jobs, c.stages, c.tasks) }.toSeq
    }
    (pass(), pass())
  }

  test("two traced search passes count identical jobs, stages and tasks per item") {
    val (a, b) = twoTracedPasses(new SearchWorkload(spark, dir, 5, 6))
    assert(a.size == 6 && a.forall(_._1 > 0))
    assert(a == b)
  }

  test("two traced analyze passes count identical jobs, stages and tasks per item") {
    val (a, b) = twoTracedPasses(new AnalyzeWorkload(spark, dir, 5, 1, Map.empty))
    assert(a.size == Inputs.AnalyzeQueries.size && a.forall(_._1 > 0))
    assert(a == b)
  }

  test("two traced ingest runs count identical jobs, stages and tasks per batch and keep the planted titles") {
    def pass() = {
      val w = new IngestWorkload(spark, work, 5, 3)
      w.setup()
      val run = new TracedRun(spark.sparkContext)
      (0 until w.timedCount).foreach(i => run(w, i))
      assert(w.verdict(Nil) == (1.0 -> Seq(None)))
      run.tracer.counters.map { case (_, c) => (c.jobs, c.stages, c.tasks) }.toSeq
    }
    val a = pass()
    val b = pass()
    assert(a.size == 3 && a.forall(_._1 > 0))
    assert(a == b)
  }
}
