package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — getOrCreate
  * dedups across suites; UTC + small shuffle partitions mirror the
  * driver's Verify/Bench configs). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // suite-sized generated-class cache (default 100 evicts continuously
      // across 17 suites sharing this JVM — same churn Bench measured)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // deterministic extension install (suites share one JVM session;
    // relying on another suite's install() made plan shapes order-dependent)
    graft.plans.GraftExtensions.install(s)
    s
  }

  lazy val sf: String = "/root/testdata/sf0.001"

  def init(): Unit = spark.sparkContext.setLogLevel("WARN")

  /** Run `body` on a fresh temporary directory, deleted afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
