package graft

/** Dev tool: time individual registry queries (by name) at a given sf dir,
  * with warmup at sf0.001 and cache-drop between runs — the same
  * methodology as Bench, but scoped to the queries under investigation.
  * Usage: sbt "runMain graft.Profile q34_minhash_lsh_pairs q45_parse_pipeline_roundtrip [--iters 3] [--sf /root/testdata/sf0.1]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.zipWithIndex.filterNot { case (a, i) =>
      a.startsWith("--") || (i > 0 && args(i - 1).startsWith("--"))
    }.map(_._1).toSeq
    // fail before the session starts, naming every unknown query
    val unknown = names.filterNot(QueryRegistry.byName.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    def opt(flag: String, default: String): String = {
      val i = args.indexOf(flag); if (i >= 0 && i + 1 < args.length) args(i + 1) else default
    }
    val sfDir = opt("--sf", "/root/testdata/sf0.1")
    val iters = opt("--iters", "2").toInt
    // the env knobs of the sf10 completion pass (SUITE_sf10.json), so a
    // single query can be profiled under the exact confs that artifact
    // used (cpus, session width)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val parts = sys.env.get("GRAFT_SHUFFLE_PARTS").map(_.toInt).getOrElse(cpus)
    val spark = Session.local(cpus, parts, "graft-bench")
    def dropCached(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // let ContextCleaner reclaim shuffle files/broadcasts (same as Bench)
      System.gc()
    }
    // warm at the TARGET sf (same rationale as Bench: AQE picks different
    // plans per input size, so a tiny-sf warmup compiles the wrong
    // generated classes and the first timed pass pays C2 compilation)
    val warmDir = sfDir
    // Full materialization, same as Bench: .count() would prune
    // projections and eliminate sorts, hiding per-row compute.
    // Per-query execution confs (QueryRegistry.execConfs) wrap
    // build+execute, matching Bench.
    def exec(n: String, dir: String): Long =
      QueryRegistry.withExecConfs(spark, n, dir) {
        QueryRegistry.byName(n).fn(spark, dir).queryExecution.toRdd.count()
      }
    for (n <- names) {
      try exec(n, warmDir) catch { case e: Throwable => println(s"warmup $n: $e") }
      dropCached()
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        exec(n, sfDir)
        val dt = (System.nanoTime() - t0) / 1e9
        dropCached()
        dt
      }
      println(f"$n%-36s ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
