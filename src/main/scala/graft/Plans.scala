package graft

/** Dev tool: dump `explain("formatted")` for the named registry queries to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence an
  * optimization write-up cites (plans/r14/, plans/r15/). Built under the
  * same session as Bench (SPARK_GRAFT_CPUS cores, as many shuffle
  * partitions, per-query exec confs) at SPARK_GRAFT_SF_DIR, so the dumped
  * plan is the one the bench actually runs.
  * Usage: sbt "runMain graft.Plans plans/r15 before q122_approx_distinct_hll ..."
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.Plans <outDir> <suffix> <queries...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(cpus, cpus, "graft-plans")
    java.nio.file.Files.createDirectories(outDir)
    for (n <- names) {
      val txt = QueryRegistry.withExecConfs(spark, n, sfDir) {
        QueryRegistry.byName(n).fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
      }
      val file = outDir.resolve(s"${n}_$suffix.txt")
      java.nio.file.Files.writeString(file, txt)
      println(s"$file written")
    }
    spark.stop()
  }
}
