package e2ebench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.JsonUtil.jsonEscape

import org.apache.spark.sql.{SaveMode, SparkSession}

/** The benchmark driver, one JVM per run:
  *
  *   Main --workload search|analyze_ingest|analyze|ingest --seed N --seconds S --trace 0|1
  *        --data <sf dir> --work <scratch dir> [--verified <digests.json>]
  *   Main --oracle-dump <out dir> --data <sf dir> --work <scratch dir>
  *
  * A run sets up (session, ground truth, warm-up), times a fixed count of
  * items derived from `--seconds`, checks every output, and prints a table
  * followed by one JSON line. With `--trace 1` each timed item also runs
  * once more with spans and Spark listener counters, and the JSON line
  * carries the per-layer metrics instead. `--oracle-dump` writes each
  * analyze query's result, digest and DuckDB twin for the cross-engine
  * check that runs once per build.
  */
object Main {
  /** Timed search requests per `--seconds`; each takes about 0.5 s. */
  val SearchItemsPerSecond = 2.5
  /** `--seconds` per timed analyze cycle of nine queries. */
  val SecondsPerCycle = 10.0
  /** Timed ingest batches per `--seconds`; each takes about 2 s. */
  val IngestBatchesPerSecond = 1.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opts("work")
    val dir = opts("data")
    val spark = Session.local(work)
    try opts.get("oracle-dump") match {
      case Some(out) => oracleDump(spark, dir, out)
      case None => bench(spark, dir, work, opts)
    } finally spark.stop()
  }

  private def bench(spark: SparkSession, dir: String, work: String, opts: Map[String, String]): Unit = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    def search() = new SearchWorkload(spark, dir, seed,
      math.max(10, math.round(seconds * SearchItemsPerSecond).toInt))
    def ingest(session: SparkSession) = new IngestWorkload(session, work, seed,
      math.max(4, math.round(seconds * IngestBatchesPerSecond).toInt))
    def analyze() = new AnalyzeWorkload(spark, dir, seed,
      math.max(1, math.round(seconds / SecondsPerCycle).toInt), Json.readStringMap(opts("verified")))
    val workload: Workload = opts("workload") match {
      case "search" => search()
      case "analyze_ingest" =>
        new MixedWorkload("analyze_ingest", analyze(), ingest(Session.sibling(spark)), seed)
      case "analyze" => analyze()
      case "ingest" => ingest(spark)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    workload.setup()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // With tracing, each item also runs once more with spans and listener
    // counters, right before or after its untraced run (alternating, so
    // neither side is always the warmer one); the paired difference is the
    // tracing overhead.
    val tracedRun = new TracedRun(spark.sparkContext)
    val tracer = tracedRun.tracer
    val timed = ArrayBuffer.empty[ItemResult]
    val tracedRes = ArrayBuffer.empty[ItemResult]
    (0 until workload.timedCount).foreach { i =>
      if (traced && i % 2 == 1) tracedRes += tracedRun(workload, i)
      timed += workload.run(i)
      if (traced && i % 2 == 0) tracedRes += tracedRun(workload, i)
    }
    if (traced) tracer.write(s"$work/traces/${workload.name}-seed$seed.jsonl")
    writeItems(s"$work/items/${workload.name}-seed$seed-trace${if (traced) 1 else 0}.tsv",
      workload.warmup.toSeq.map("warmup" -> _) ++ timed.map("timed" -> _) ++ tracedRes.map("traced" -> _))

    val (quality, endChecks) = workload.verdict(timed.toSeq)
    val all = workload.warmup.toSeq ++ timed ++ tracedRes
    val failures = all.flatMap(_.error) ++ endChecks.flatten
    val attempted = all.size + endChecks.size
    val walls = timed.map(_.wallMs).toSeq
    val e2e = Seq(
      "setup_s" -> ("s", setupS),
      "p50_ms" -> ("ms", Stats.median(walls)),
      "items_per_s" -> ("1/s", timed.map(workload.units).sum / (timed.map(_.wallNs).sum / 1e9)),
      "recall" -> ("ratio", quality))
    // Printed, not gated: at this item count one sample lies beyond it.
    val p90 = "p90_ms" -> ("ms", Stats.percentile(walls, 0.9))
    val peakRss = "jvm.peak_rss_mb" -> ("MB", Stats.peakRssMb())
    val failRatio = failures.size.toDouble / attempted

    println(s"workload ${workload.name}: seed $seed, ${workload.warmup.size} warm-up items, " +
      s"${timed.size} timed items${if (traced) s", ${tracedRes.size} traced items" else ""}")
    (e2e :+ p90 :+ peakRss).foreach { case (k, (u, v)) => println(f"  $k%-15s $v%14.4f $u%-6s n=${timed.size}") }
    println(f"  fail_ratio      $failRatio%14.4f ratio  n=$attempted" +
      (if (failures.isEmpty) "" else failures.groupBy(identity).map { case (e, l) => s"$e x${l.size}" }
        .mkString("  [", ", ", "]")))

    val metrics =
      if (traced) PerLayer.metrics(workload, timed.toSeq, tracedRes.toSeq, tracer) :+ peakRss
      else e2e
    if (traced) metrics.foreach { case (k, (u, v)) => println(f"  $k%-34s $v%16.4f $u") }
    println(Json.result(failures.isEmpty, attempted, failures.size, metrics))
  }

  /** One line per item: pass, item, label, wall and phase times, rows,
    * quality and error. */
  private def writeItems(path: String, items: Seq[(String, ItemResult)]): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try items.foreach { case (pass, r) =>
      w.println(Seq(pass, r.item, r.label, f"${r.wallMs}%.3f",
        r.phasesNs.map { case (p, n) => f"$p=${n / 1e6}%.3f" }.mkString(","),
        r.rows, r.quality, r.error.getOrElse("")).mkString("\t"))
    } finally w.close()
  }

  /** Write each analyze query's result as parquet beside its digest and
    * its DuckDB twin, for the cross-engine check run once per build. */
  private def oracleDump(spark: SparkSession, dir: String, out: String): Unit = {
    val digests = Inputs.AnalyzeQueries.map { case (q, _) =>
      graft.QueryRegistry.withExecConfs(spark, q, dir) {
        graft.SparkEntry.queries(q)(spark, dir).write.mode(SaveMode.Overwrite).parquet(s"$out/$q")
        q -> Digest.of(graft.SparkEntry.queries(q)(spark, dir)).render
      }
    }
    val sql = Inputs.AnalyzeQueries.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }
    Json.writeStringMap(s"$out/digests.json", digests)
    Json.writeStringMap(s"$out/oracle_sql.json", sql)
  }
}

/** Per-layer metrics of the traced pass. Layers a workload leaves idle
  * report 0, so every traced run carries the same metric names. */
object PerLayer {
  val SparkCounts: Seq[(String, String, Counters => Double)] = Seq(
    ("jobs", "count", _.jobs.toDouble), ("stages", "count", _.stages.toDouble),
    ("tasks", "count", _.tasks.toDouble), ("job_ms", "ms", _.jobMs.toDouble),
    ("task_queue_ms", "ms", _.taskQueueMs.toDouble),
    ("executor_run_ms", "ms", _.executorRunMs.toDouble),
    ("executor_cpu_ms", "ms", _.executorCpuNs / 1e6), ("gc_ms", "ms", _.gcMs.toDouble),
    ("shuffle_read_bytes", "bytes", _.shuffleReadBytes.toDouble),
    ("shuffle_write_bytes", "bytes", _.shuffleWriteBytes.toDouble),
    ("spill_bytes", "bytes", _.spillBytes.toDouble),
    ("input_rows", "count", _.inputRows.toDouble),
    ("output_bytes", "bytes", _.outputBytes.toDouble),
    ("aqe_updates", "count", _.aqeUpdates.toDouble))
  val Tiers: Seq[String] = Seq("bounded", "fixed", "aqe", "dynamic")
  def short(q: String): String = q.takeWhile(_ != '_')

  def metrics(w: Workload, untraced: Seq[ItemResult], traced: Seq[ItemResult],
              tracer: Tracer): Seq[(String, (String, Double))] = {
    val cs = tracer.counters.map(_._2).toSeq
    val items = traced.zip(cs)
    val spark = SparkCounts.map { case (k, u, f) => s"spark.$k" -> (u, Stats.mean(cs.map(f))) } :+
      ("spark.driver_ms" -> ("ms", Stats.mean(items.map { case (r, c) => r.wallMs - c.jobMs })))
    def phase(rs: Seq[ItemResult], p: String) = Stats.median(rs.map(_.phaseMs(p)))

    val searchItems = items.filter { case (r, _) => Inputs.itemKind(r.label) == "search" }
    val search = Seq("build", "plan", "exec").map { p =>
      s"search.${p}_ms" -> ("ms", phase(searchItems.map(_._1), p))
    } :+ ("search.rows_per_result" -> ("ratio",
      searchItems.map(_._2.inputRows).sum.toDouble / math.max(1L, searchItems.map(_._1.rows).sum)))

    val queryItems = traced.filter(r => Inputs.itemKind(r.label) == "query")
    val byQuery = queryItems.groupBy(_.label)
    val registry = Inputs.AnalyzeQueries.flatMap { case (q, _) =>
      Seq("build", "plan", "exec").map { p =>
        s"registry.${short(q)}.${p}_ms" -> ("ms", byQuery.get(q).map(phase(_, p)).getOrElse(0.0))
      }
    }
    val cycles = math.max(1, queryItems.size / Inputs.AnalyzeQueries.size)
    val tiers = Tiers.map { t =>
      s"registry.tier_${t}_ms" -> ("ms",
        queryItems.filter(r => Inputs.tierOf(r.label).contains(t)).map(_.wallMs).sum / cycles)
    }

    val ingestOf = w match {
      case i: IngestWorkload => Some(i)
      case m: MixedWorkload => Some(m.ingest)
      case _ => None
    }
    val batchItems = items.filter { case (r, _) => Inputs.itemKind(r.label) == "batch" }
    val st = ingestOf.toSeq.flatMap(iw => batchItems.flatMap { case (r, _) => iw.storage.get(r.label) })
    val ingest = Seq(
      "ingest.batch_ms" -> ("ms", phase(batchItems.map(_._1), "batch")),
      "ingest.corpus_rows_read" -> ("count", Stats.mean(batchItems.map(_._2.inputRows.toDouble))),
      "ingest.files_written" -> ("count", Stats.mean(st.map(_._1.toDouble))),
      "ingest.write_amp" -> ("ratio", st.map(_._2).sum.toDouble / math.max(1L, st.map(_._3).sum)),
      "ingest.corpus_files" -> ("count", ingestOf.map(_.corpusFiles.toDouble).getOrElse(0.0)),
      "ingest.bytes_per_row" -> ("bytes",
        ingestOf.map(iw => iw.corpusBytes.toDouble / math.max(1L, iw.corpusRows)).getOrElse(0.0)))

    val overhead = "trace.overhead_ms" -> ("ms",
      Stats.median(traced.zip(untraced).map { case (t, u) => t.wallMs - u.wallMs }))
    spark ++ search ++ registry ++ tiers ++ ingest :+ overhead
  }
}

/** The few JSON shapes the benchmark reads and writes. */
object Json {
  def writeStringMap(path: String, m: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      m.map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }.mkString("{\n", ",\n", "\n}\n"))

  /** Reads a flat `{"key": "value", ...}` object as written above. */
  def readStringMap(path: String): Map[String, String] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
    pair.findAllMatchIn(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, (String, Double))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, (u, v)) => s"""${jsonEscape(k)}: {"value": $v, "unit": ${jsonEscape(u)}}""" }
        .mkString(", ") + "}}"
}
