package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of every main, so a plan or result one
  * tool dumps is the one Bench times and Verify checks. Only the values
  * that really differ between mains are arguments; everything else is
  * fixed here:
  *
  *  - UTC: the NTZ→instant cast in the events loader and every
  *    date_format output are session-tz-dependent;
  *  - a suite-sized generated-class cache: the default 100 entries evict
  *    continuously over a 150-query suite (several codegen stages each),
  *    so every pass re-Janino-compiles most operators — compile churn and
  *    metaspace growth measured as position-dependent pass aging (pass
  *    totals 87→113 s inside one run);
  *  - shuffle/spill dirs on tmpfs when available (per-PID dir and
  *    dead-sibling sweep: see [[ShmDir]]): VM-disk writeback storms
  *    inflate shuffle-heavy queries 2-3x at random (q79 6.3 s typical,
  *    18 s under a storm); a real cluster puts shuffle on local NVMe;
  *  - ERROR logging: WARN floods (WindowExec's "No Partition Defined"
  *    fires for every intentional rank-the-k-survivors window) can crowd
  *    Bench's one-line JSON record out of a bounded log tail;
  *  - the repo's planner extensions.
  *
  * @param cpus       local core count (`local[cpus]`)
  * @param shuffle    `spark.sql.shuffle.partitions`
  * @param spillPrefix the tmpfs dir prefix passed to [[ShmDir.claim]]
  */
object Session {
  def local(cpus: Int, shuffle: Int, spillPrefix: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ShmDir.claim(spillPrefix))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
