package e2ebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** One traced interval at a layer boundary. `parent` is -1 for an item's
  * root span; spans of one item share `item`. */
final case class Span(id: Int, parent: Int, item: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"kind":"span","id":$id,"parent":$parent,"item":$item,"name":"$name",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spark work attributed to one item. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskQueueMs, executorRunMs, executorCpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputRows, outputBytes, aqeUpdates = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one running job. */
  def jobMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }

  def json(item: Int): String =
    s"""{"kind":"counters","item":$item,"jobs":$jobs,"stages":$stages,""" +
      s""""tasks":$tasks,"job_ms":$jobMs,"task_queue_ms":$taskQueueMs,""" +
      s""""executor_run_ms":$executorRunMs,"executor_cpu_ns":$executorCpuNs,""" +
      s""""gc_ms":$gcMs,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""input_rows":$inputRows,"output_bytes":$outputBytes,"aqe_updates":$aqeUpdates}"""
}

/** Scheduler and executor counters from the listener bus, collected into
  * the current item's [[Counters]] until [[SparkCounters.take]]. */
final class SparkCounters extends SparkListener {
  private var cur = new Counters
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageSubmit = scala.collection.mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += (s -> e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(s => cur.taskQueueMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      cur.executorRunMs += m.executorRunTime
      cur.executorCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.inputRows += m.inputMetrics.recordsRead
      cur.outputBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { cur.aqeUpdates += 1 }
    case _ => ()
  }

  /** Wait for every queued event, then hand over and reset the counters. */
  def take(sc: SparkContext): Counters = {
    org.apache.spark.E2eBenchBus.drain(sc)
    synchronized { val c = cur; cur = new Counters; c }
  }
}

/** In-memory span recorder for the traced pass; written out at the end. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  val counters = ArrayBuffer.empty[(Int, Counters)]

  def span(item: Int, parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    spans += Span(spans.size, parent, item, name, startNs, endNs)
    spans.size - 1
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.foreach(s => w.println(s.json))
      counters.foreach { case (i, c) => w.println(c.json(i)) }
    } finally w.close()
  }
}

/** Runs single items with spans and listener counters attached; the
  * listener is registered only while a traced item runs. */
final class TracedRun(sc: SparkContext) {
  private val counters = new SparkCounters
  val tracer = new Tracer

  def apply(w: Workload, i: Int): ItemResult = {
    counters.take(sc)
    sc.addSparkListener(counters)
    try {
      val r = w.runTraced(i, tracer)
      tracer.counters += i -> counters.take(sc)
      r
    } finally sc.removeSparkListener(counters)
  }
}
