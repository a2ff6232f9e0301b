package e2ebench

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import graft.{QueryRegistry, SparkEntry}
import graft.operators.SearchService
import graft.streaming.StreamingCuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lower, trim}

/** What one item produced: wall time, the time of each phase (build, plan,
  * exec), rows returned (raw records for `ingest`), a quality score (recall
  * for `search`, digest match for `analyze`) and, on failure, the exception
  * class or check name. */
final case class ItemResult(item: Int, label: String, startNs: Long, wallNs: Long,
                            phasesNs: Seq[(String, Long)], rows: Long,
                            quality: Double, error: Option[String]) {
  def wallMs: Double = wallNs / 1e6
  def phaseMs(p: String): Double = phasesNs.collectFirst { case (`p`, n) => n / 1e6 }.getOrElse(0.0)
}

/** Times consecutive phases of one item; spans are recorded afterwards, so
  * the traced pass adds no work inside the timed region beyond the clock. */
final class Phases {
  val startNs: Long = System.nanoTime()
  private var last = startNs
  val done = ArrayBuffer.empty[(String, Long)]
  def mark(name: String): Unit = {
    val t = System.nanoTime(); done += name -> (t - last); last = t
  }
  def wallNs: Long = last - startNs
}

/** A workload: a seeded list of timed items, a set-up that loads ground
  * truth and warms the session, and a per-item output check. */
trait Workload {
  def name: String
  def spark: SparkSession
  /** Items run before timing starts; their failures still count. */
  val warmup = ArrayBuffer.empty[ItemResult]
  def setup(): Unit
  def timedCount: Int
  def run(i: Int): ItemResult

  /** Work units of one item, for `items_per_s`: one per request or query. */
  def units(r: ItemResult): Double = 1.0

  /** The run's quality score and the outcome of each end-of-run check
    * (None when it passed); by default the mean quality of the timed items
    * and no such check. */
  def verdict(timed: Seq[ItemResult]): (Double, Seq[Option[String]]) =
    (Stats.mean(timed.map(_.quality)), Nil)

  /** Run the item and record its spans: the item, then one per phase. */
  final def runTraced(i: Int, tracer: Tracer): ItemResult = {
    val r = run(i)
    var s = r.startNs
    val rootId = tracer.span(i, -1, s"$name:${r.label}", s, s + r.wallNs)
    r.phasesNs.foreach { case (p, n) => tracer.span(i, rootId, s"$name.$p", s, s + n); s += n }
    r
  }

  protected def attempt(i: Int, label: String)(body: Phases => (Long, Double, Option[String])): ItemResult = {
    val p = new Phases
    try {
      val (rows, quality, err) = body(p)
      ItemResult(i, label, p.startNs, p.wallNs, p.done.toSeq, rows, quality, err)
    } catch {
      case NonFatal(e) =>
        p.mark("failed")
        ItemResult(i, label, p.startNs, p.wallNs, p.done.toSeq, 0L, 0.0, Some(e.getClass.getName))
    } finally dropCached()
  }

  /** After every item, outside its timing, as `graft.Bench` does between
    * queries: drop blocks the item left cached. */
  private def dropCached(): Unit = Workload.dropCached(spark)
}

object Workload {
  private val concurrentPhases = new java.util.concurrent.atomic.AtomicInteger

  /** Run `body`, which runs items from several client threads. While any
    * such phase runs, items leave their cached blocks in place, as one
    * client's drop would pull them from under another client's query;
    * the last phase to end drops them all. */
  def concurrently[A](spark: SparkSession)(body: => A): A = {
    concurrentPhases.incrementAndGet()
    try body
    finally if (concurrentPhases.decrementAndGet() == 0) dropCached(spark)
  }

  private def dropCached(spark: SparkSession): Unit =
    if (concurrentPhases.get == 0)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}

/** `search`: the reference's `POST /api/search` hot path as a closed loop of
  * seeded `SearchService.searchWithFallback(...).collect()` requests. */
final class SearchWorkload(val spark: SparkSession, dir: String, seed: Long,
                           val timedCount: Int) extends Workload {
  val name = "search"
  var truth: SearchTruth = _
  var requests: Seq[SearchRequest] = Nil

  def setup(): Unit = {
    truth = SearchTruth.load(spark, dir)
    requests = Inputs.searchRequests(seed, 2, timedCount, truth.numVectors)
    // Warm-up from its own seeded list, sent by several concurrent clients:
    // latency keeps falling for ~80 requests while the JIT compiles the
    // planner and LSH paths. The run budget allows fewer; parallel clients
    // get further in the same wall time. The timed loop that follows is
    // single-client.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(SearchWorkload.WarmClients)
    try Workload.concurrently(spark) {
      val warm = Inputs.searchRequests(seed, 1, SearchWorkload.WarmRequests, truth.numVectors)
        .map(r => pool.submit(() => request(r)))
      warm.foreach(f => warmup += f.get())
    } finally pool.shutdown()
  }

  def run(i: Int): ItemResult = request(requests(i))

  private def request(req: SearchRequest): ItemResult =
    attempt(req.id, s"k${req.clampedK}") { p =>
      val df = SearchService.searchWithFallback(spark, dir, req.vecId, req.k, req.langs)
      p.mark("build")
      df.queryExecution.executedPlan
      p.mark("plan")
      val got = df.collect().map(_.getLong(0)).toSeq
      p.mark("exec")
      val err =
        if (got.size > req.clampedK) Some("TooManyRows")
        else if (got.distinct.size != got.size) Some("DuplicateRows")
        else if (!got.forall(id => truth.lang(id).exists(req.langs.contains))) Some("FilterViolation")
        else None
      (got.size.toLong, truth.recall(req, got), err)
    }
}

object SearchWorkload {
  val WarmRequests = 45
  val WarmClients = 3
}

/** `analyze`: a closed loop over nine registry queries, each built fresh
  * through `SparkEntry.queries(name)` inside `QueryRegistry.withExecConfs`
  * and executed over `queryExecution.toRdd`. Every execution's result
  * digest must equal the digest verified against the query's DuckDB twin. */
final class AnalyzeWorkload(val spark: SparkSession, dir: String, seed: Long,
                            cycles: Int, verified: Map[String, String]) extends Workload {
  val name = "analyze"
  val order: Seq[String] = Inputs.analyzeCycle(seed, 2, cycles)
  def timedCount: Int = order.size

  /** A cold cycle and a warm one: the first timed cycle after a single
    * warm-up cycle still ran about a quarter slower than later ones. */
  def setup(): Unit =
    Inputs.analyzeCycle(seed, 1, AnalyzeWorkload.WarmCycles).zipWithIndex
      .foreach { case (q, i) => warmup += query(i, q) }

  def run(i: Int): ItemResult = query(i, order(i))

  private def query(i: Int, q: String): ItemResult =
    attempt(i, q) { p =>
      val d = QueryRegistry.withExecConfs(spark, q, dir) {
        val df = SparkEntry.queries(q)(spark, dir)
        p.mark("build")
        df.queryExecution.executedPlan
        p.mark("plan")
        val d = Digest.of(df)
        p.mark("exec")
        d
      }
      val ok = verified.get(q).contains(d.render)
      (d.rows, if (ok) 1.0 else 0.0,
        if (ok) None else if (verified.contains(q)) Some("DigestMismatch") else Some("Unverified"))
    }
}

object AnalyzeWorkload {
  val WarmCycles = 2
}

/** `ingest`: seeded micro-batches of raw records through
  * `StreamingCuration.processBatch`, the body of the streaming curation
  * query, into one corpus directory that grows through the run. The first
  * batch founds the corpus during set-up; each call to [[run]] then
  * processes the next batch of the list, so a traced item is a batch of its
  * own and never a replay. At the end of the run the corpus key set must
  * equal the new titles of every processed batch, with no key twice. */
final class IngestWorkload(val spark: SparkSession, work: String, seed: Long,
                           val timedCount: Int) extends Workload {
  import IngestWorkload._
  val name = "ingest"
  private val root = s"$work/ingest/seed$seed"
  val corpusDir = s"$root/corpus"
  /** The founding batch, then enough for a traced pass over every item. */
  val batches: Seq[IngestBatch] = Inputs.ingestBatches(seed, 3, 1 + 2 * timedCount)
  private var next = 0
  /** Files written, bytes written and raw input bytes of each processed
    * batch, by item label. */
  val storage = scala.collection.mutable.Map.empty[String, (Int, Long, Long)]
  var corpusFiles = 0
  var corpusBytes = 0L
  var corpusRows = 0L

  def setup(): Unit = {
    deleteTree(new java.io.File(root))
    // The founding batch beside a warm-up on a corpus of its own: alone,
    // latency keeps falling for ~17 batches while the JIT compiles the
    // parse, dedup and write paths. The timed loop that follows is
    // single-client.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1 + WarmClients)
    try Workload.concurrently(spark) {
      val founding = pool.submit(() => process(corpusDir, batches(0), 0))
      val warm = (1 to WarmClients).map { c =>
        pool.submit { () =>
          Inputs.ingestBatches(seed, 4 + c, WarmBatchesPerClient).map(b => process(s"$root/warm$c", b, -1))
        }
      }
      warmup += founding.get()
      warm.foreach(f => warmup ++= f.get())
    } finally pool.shutdown()
    next = 1
  }

  def run(i: Int): ItemResult = {
    val b = batches(next)
    next += 1
    process(corpusDir, b, i)
  }

  private def process(dir: String, b: IngestBatch, i: Int): ItemResult = {
    import spark.implicits._
    val raw = b.records.map(_.text).toDF("raw")
    val before = corpusParts(dir)
    val label = s"batch${b.id}"
    attempt(i, label) { p =>
      StreamingCuration.processBatch(dir)(raw, b.id)
      p.mark("batch")
      if (dir == corpusDir) {
        val written = corpusParts(dir) -- before.keySet
        storage(label) = (written.size, written.values.sum, b.rawBytes)
      }
      (b.records.size.toLong, 1.0, None)
    }
  }

  override def units(r: ItemResult): Double = r.rows.toDouble

  /** Quality is the Jaccard similarity of the corpus key set and the
    * planted new keys; any difference, or a key held twice, fails. */
  override def verdict(timed: Seq[ItemResult]): (Double, Seq[Option[String]]) = {
    val parts = corpusParts(corpusDir)
    corpusFiles = parts.size
    corpusBytes = parts.values.sum
    val got = spark.read.parquet(corpusDir).select(lower(trim(col("title"))), col("year"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    corpusRows = got.size
    val want = batches.take(next).flatMap(_.newKeys).toSet
    val gotSet = got.toSet
    val quality = (gotSet & want).size.toDouble / (gotSet | want).size
    (quality, Seq(
      if (got.size != gotSet.size) Some("DuplicateKeys")
      else if (gotSet != want) Some("CorpusKeysDiffer")
      else None))
  }

  /** Parquet files under the live corpus, by path, with their sizes. */
  private def corpusParts(dir: String): Map[String, Long] = {
    val top = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(top)) Map.empty
    else {
      val s = java.nio.file.Files.walk(top)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(_.toString.endsWith(".parquet"))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      } finally s.close()
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object IngestWorkload {
  val WarmBatchesPerClient = 8
  val WarmClients = 1
}

/** A workload's items and `ingest` batches in one closed loop, interleaved
  * in seeded order on one SparkContext. The ingest workload should have a
  * session of its own ([[Session.sibling]]): its warm-up then runs beside
  * the base warm-up, which is shorter than running the two in turn, and
  * the confs the base items set never reach a batch. */
final class MixedWorkload(val name: String, base: Workload, val ingest: IngestWorkload, seed: Long)
    extends Workload {
  def spark: SparkSession = base.spark
  val order: Seq[(Boolean, Int)] = Inputs.mixedOrder(seed, base.timedCount, ingest.timedCount)
  def timedCount: Int = order.size

  def setup(): Unit = {
    Workload.concurrently(spark) {
      val side = Future(ingest.setup())(ExecutionContext.global)
      base.setup()
      Await.result(side, Duration.Inf)
    }
    warmup ++= base.warmup
    warmup ++= ingest.warmup
  }

  def run(i: Int): ItemResult = order(i) match {
    case (true, j) => ingest.run(j).copy(item = i)
    case (false, j) => base.run(j).copy(item = i)
  }

  /** Quality is the base workload's quality times the ingest key-set
    * Jaccard similarity; the ingest end-of-run check carries over. */
  override def verdict(timed: Seq[ItemResult]): (Double, Seq[Option[String]]) = {
    val (batchItems, baseItems) = timed.partition(r => Inputs.itemKind(r.label) == "batch")
    val (bq, bc) = base.verdict(baseItems)
    val (iq, ic) = ingest.verdict(batchItems)
    (bq * iq, bc ++ ic)
  }
}
