package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Contracts of the runner mains: Verify's dump over a named subset,
  * Profile's name check, the quiet-reference reader Bench compares
  * against, Bench's commit stamp, the one session factory every main
  * builds its SparkSession through, and README's list of the mains. */
class RunnerSpec extends SparkSpec {
  init()

  private def listDir(p: Path): Set[String] = {
    val s = Files.list(p)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("Verify.dump over two named queries writes exactly their dirs and oracle entries") {
    val names = Seq("q01_pricing_summary", "q02_filter_project_topk")
    assert(names.forall(SparkEntry.oracleSql.contains))
    withTempDir("verify-subset") { tmp =>
      val out = Paths.get(tmp, "out")
      Verify.dump(spark, sf, out.toString, names)
      assert(!spark.sparkContext.isStopped)
      assert(listDir(out) == names.toSet + "oracle_sql.json")
      names.foreach(n => assert(Files.exists(out.resolve(s"$n/_SUCCESS")), n))
      val oracle = new ObjectMapper().readTree(Files.readString(out.resolve("oracle_sql.json")))
      val entries = oracle.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
      assert(entries == SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    }
  }

  test("Verify.dump fails on an unknown name before anything is written") {
    withTempDir("verify-unknown") { tmp =>
      val out = Paths.get(tmp, "out")
      val e = intercept[IllegalArgumentException] {
        Verify.dump(spark, sf, out.toString, Seq("q01_pricing_summary", "q_no_such_query"))
      }
      assert(e.getMessage.contains("q_no_such_query"))
      assert(!Files.exists(out))
    }
  }

  test("Profile rejects an unknown name before it starts a session") {
    val e = intercept[IllegalArgumentException](Profile.main(Array("nope")))
    assert(e.getMessage.contains("nope"))
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
    withTempDir("not-a-checkout") { tmp =>
      val outside = new java.io.File(tmp)
      assert(Bench.gitLine(Seq("git", "rev-parse", "HEAD"), outside) == "")
    }
  }

  private val mainRoot = Paths.get("src/main/scala")

  /** Every .scala file under src/main/scala with its contents. */
  private def mainSources: Seq[(Path, String)] = {
    assert(Files.isDirectory(mainRoot), s"run from the repo root: ${mainRoot.toAbsolutePath}")
    val s = Files.walk(mainRoot)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq
    finally s.close()
  }

  test("SparkSession.builder appears in src/main/scala only inside Session.scala") {
    val hits = mainSources.filter(_._2.contains("SparkSession.builder"))
      .map(p => mainRoot.relativize(p._1).toString).sorted
    assert(hits == Seq("graft/Session.scala"),
      "build sessions through graft.Session.local, not a builder of your own")
  }

  test("README's Run section lists exactly the mains under src/main/scala") {
    val objectOrMain = """(?m)^\s*object (\w+)|def main\(args: Array\[String\]\)""".r
    val mains = mainSources.flatMap { case (_, src) =>
      val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".")
      // each main belongs to the nearest object declared above it
      objectOrMain.findAllMatchIn(src).foldLeft((Option.empty[String], Seq.empty[String])) {
        case ((_, acc), m) if m.group(1) != null => (Some(m.group(1)), acc)
        case ((obj, acc), _) => (obj, acc ++ obj.map(pkg.getOrElse("") + _))
      }._2
    }.toSet
    val readme = Files.readString(Paths.get("README.md"))
    val run = readme.split("(?m)^## Run\\s*$", 2).lift(1)
      .flatMap("(?s)```(.*?)```".r.findFirstMatchIn(_)).map(_.group(1))
    assert(run.isDefined, "README has no fenced block under ## Run")
    val listed = """runMain ([\w.]+)""".r.findAllMatchIn(run.get).map(_.group(1)).toSet
    assert(mains.nonEmpty)
    assert(listed == mains,
      s"only in README: ${listed -- mains}; only in src/main/scala: ${mains -- listed}")
  }
}
