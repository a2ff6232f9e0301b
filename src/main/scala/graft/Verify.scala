package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: `runMain graft.Verify <sfDir> <outDir> [queries...]` — named
  * queries dump only those results and their oracle entries (the fast
  * targeted-correctness loop for tools/check_oracle.py over a subset). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [queries...]")
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Partition count must track data volume (the r4 scale lesson:
    // 32 partitions x sf1 thrashed TaskMemoryManager): the sf1 pass sets
    // SPARK_GRAFT_SHUFFLE=256. Driver runs at sf0.01 keep the default.
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(cpus)
    val spark = Session.local(cpus, shuffle, "graft-verify")
    dump(spark, sfDir, outDir, names)
    spark.stop()
  }

  /** Dump `names` (every registry query when empty) under `outDir`, with
    * their oracle entries in `outDir/oracle_sql.json`. Leaves the session
    * running. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Unit = {
    // fail before anything is written, naming the offending names
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — " +
        "see SparkEntry.queries for the registry")
    val selected =
      SparkEntry.queries.filter(kv => names.isEmpty || names.contains(kv._1))
    names.filterNot(SparkEntry.oracleSql.contains).foreach { n =>
      System.err.println(s"[verify] WARNING: $n has no oracle entry — " +
        "it will be missing from oracle_sql.json (rows-only check)")
    }
    // coalesce(1) keeps the driver-facing layout single-file; the sf1
    // pass opts out (SPARK_GRAFT_COALESCE=0) — a 55M-row single-threaded
    // parquet write would dominate the run. Sorted queries write range-
    // partitioned sorted parts, so a filename-ordered read preserves the
    // global order the compare needs.
    val coalesce1 = sys.env.getOrElse("SPARK_GRAFT_COALESCE", "1") != "0"
    // Resume mode for the long sf1 pass (SPARK_GRAFT_SKIP_EXISTING=1):
    // a dump is complete iff Spark's _SUCCESS marker landed, so an
    // interrupted run can be relaunched and only re-does unfinished
    // queries. Driver runs (fresh outDir each time) are unaffected.
    val skipDone = sys.env.get("SPARK_GRAFT_SKIP_EXISTING").contains("1")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      if (skipDone && Files.exists(Paths.get(s"$outDir/$name/_SUCCESS")))
        System.err.println(s"[verify] $name already dumped, skipping")
      else
      try QueryRegistry.withExecConfs(spark, name, sfDir) {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    def q(s: String): String = JsonUtil.jsonEscape(s)
    val json = SparkEntry.oracleSql.filter(kv => selected.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
