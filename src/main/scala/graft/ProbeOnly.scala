package graft

/** Dev tool: run ONLY the Bench calibration probes in a fresh JVM
  * (no suite workload before them) — separates "box is degraded" from
  * "suite-induced throttling": a fresh-JVM alloc reading far below the
  * same probe's in-suite reading means the slowdown is triggered by the
  * sustained suite load (e.g. hypervisor memory-bandwidth budgets), not
  * a static box state. Same session factory and probe definitions as
  * Bench, so the readings re-baseline Bench's nominals directly. */
object ProbeOnly {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus, cpus, "graft-bench")
    Bench.probe(spark, cpus) // codegen warmup, untimed
    val readings = (1 to 3).map(_ => Bench.probe(spark, cpus))
    println(readings.map { case (c, a, s) =>
      f"cpu=$c%.3f alloc=$a%.3f str=$s%.3f" }
      .mkString("PROBES ", " | ", ""))
    spark.stop()
  }
}
