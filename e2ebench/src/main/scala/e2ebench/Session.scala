package e2ebench

import org.apache.spark.sql.SparkSession

/** The benchmark's one SparkSession, configured like `graft.Bench`:
  * local[nproc] with as many shuffle partitions, UTC, a codegen cache
  * that holds every generated class, the repo's planner extensions and
  * ERROR logging. Spill and warehouse directories live under `workDir`. */
object Session {
  def local(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** A session of its own on the same SparkContext, as a streaming query
    * gets: its SQL confs are apart from those `withExecConfs` sets on the
    * parent session. */
  def sibling(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    graft.plans.GraftExtensions.install(s)
    s
  }
}
