package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Contracts of the runner mains: Verify's dump over a named subset, the
  * quiet-reference reader Bench compares against, Bench's commit stamp,
  * and the one session factory every main builds its SparkSession
  * through. */
class RunnerSpec extends SparkSpec {
  init()

  private def listDir(p: Path): Set[String] = {
    val s = Files.list(p)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("Verify.dump over two named queries writes exactly their dirs and oracle entries") {
    val names = Seq("q01_pricing_summary", "q02_filter_project_topk")
    assert(names.forall(SparkEntry.oracleSql.contains))
    val out = Files.createTempDirectory("verify-subset").resolve("out")
    Verify.dump(spark, sf, out.toString, names)
    assert(!spark.sparkContext.isStopped)
    assert(listDir(out) == names.toSet + "oracle_sql.json")
    names.foreach(n => assert(Files.exists(out.resolve(s"$n/_SUCCESS")), n))
    val oracle = new ObjectMapper().readTree(Files.readString(out.resolve("oracle_sql.json")))
    val entries = oracle.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    assert(entries == SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
  }

  test("Verify.dump fails on an unknown name before anything is written") {
    val out = Files.createTempDirectory("verify-unknown").resolve("out")
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, sf, out.toString, Seq("q01_pricing_summary", "q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!Files.exists(out))
  }

  test("Bench.quietRef reads the committed snapshot only at its own sf") {
    val json = Files.readString(Paths.get("BENCH_QUIET_REF.json"))
    val snapshotSf = "/root/testdata/sf0.1"
    val ref = Bench.quietRef(json, snapshotSf)
    assert(ref.map(_.size).contains(150))
    assert(ref.flatMap(_.get("q01_pricing_summary")).contains(0.291))
    assert(Bench.quietRef(json, sf).isEmpty)
    assert(Bench.quietRef(json.take(json.length / 2), snapshotSf).isEmpty)
    assert(Bench.quietRef("not json", snapshotSf).isEmpty)
  }

  test("Bench.gitLine gives an empty commit outside a git checkout") {
    val outside = Files.createTempDirectory("not-a-checkout").toFile
    assert(Bench.gitLine(Seq("git", "rev-parse", "HEAD"), outside) == "")
  }

  test("SparkSession.builder appears in src/main/scala only inside Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val s = Files.walk(root)
    val hits = try s.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally s.close()
    assert(hits == Seq("graft/Session.scala"),
      "build sessions through graft.Session.local, not a builder of your own")
  }
}
