package graft.streaming

import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming analogs of the reference's incremental curation
  * loop (SURVEY.md §2.11): checkpointed, stateful, watermarked transforms.
  * These take an unbounded (readStream / MemoryStream) DataFrame with the
  * `events` schema and return the streaming transform; sinks/checkpoints
  * are bound by the caller (tests use the memory sink, production binds
  * `writeStream.option("checkpointLocation", ...)` — the exactly-once
  * replacement for the reference's pickle checkpoint,
  * /root/reference/movie_generator.py:106-168).
  *
  * Every aggregation here carries a watermark: the reference's all-time
  * dedup set (movie_generator.py:58) grows without bound — the watermarked
  * forms are the 100 TB-honest design (SURVEY §7.4).
  */
object StreamingOps {

  /** Watermarked tumbling-window aggregation (batch twin: q40). */
  def tumblingCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     width: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Watermarked session windows per user (batch twin: q42). */
  def sessionize(events: DataFrame,
                 gap: String = "30 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Stream-stream event-time interval join (batch twin: q140): view →
    * purchase attribution within one hour per user. Both inputs carry the
    * `events` schema and a watermark; the two-sided time-range condition
    * is what bounds the join state — a buffered view is evictable one
    * hour past the purchase-side watermark, so state is
    * O(watermark × rate), never O(stream). Output matches q140's columns
    * exactly (StreamingSpec pins row-set parity on the harness data). */
  /** `joinType` "inner" (default) matches q140 exactly; "leftOuter"
    * additionally emits every UNCONVERTED view (purchase_id/lag_us = -1
    * sentinels) once the watermark proves no purchase can still arrive —
    * the abandonment feed. Outer rows require the watermark to pass the
    * view's join window, so they surface with watermark delay (exactly
    * Spark's contract for outer stream-stream joins). */
  def intervalJoinStream(views: DataFrame, purchases: DataFrame,
                         watermark: String = "2 hours",
                         joinType: String = "inner"): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("vts"))
      .withWatermark("vts", watermark)
    joinPreparedStreams(v, purchases, watermark, joinType)
  }

  /** The interval join's purchase-side prep + join + projection, shared
    * by [[intervalJoinStream]] and [[defendedIntervalJoinStream]] (whose
    * view side arrives already watermarked — a branch may define its
    * watermark only once). `v` must carry (user_id, view_id, vts) with a
    * watermark already attached to its event-time column. */
  private def joinPreparedStreams(v: DataFrame, purchases: DataFrame,
                                  watermark: String,
                                  joinType: String): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", watermark)
    v.join(p,
        col("user_id") === col("p_user_id") &&
          col("pts") > col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("user_id"), col("view_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(unix_micros(col("pts")) - unix_micros(col("vts")), lit(-1L))
          .as("lag_us"))
  }

  /** Stateful streaming dedup with bounded state (batch twin: q44;
    * the watermarked fix for the reference's unbounded seen-set). */
  def dedupStream(events: DataFrame,
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Hot-key-DEFENDED stream-stream interval join (batch twin: q153;
    * VERDICT r7 #4): the interval join's state and output grow as
    * views × purchases per user inside the hour window, so a bot user
    * spamming views makes its key quadratic in rate — and no join-side
    * skew handling absorbs OUTPUT growth. The defense composes q44's
    * watermarked dedup AS A RATE LIMIT in front of the join: keep one
    * view per (user, 10-minute bucket) within the watermark, bounding
    * every user's buffered-view fan-in to at most one per 10-minute
    * bucket — ≤ 7 per attribution hour (partial buckets clip at both
    * ends) — before any pair forms. Purchases are never dropped.
    *
    * Parity with the batch twin holds under event-time-ordered per-user
    * arrival (dropDuplicatesWithinWatermark keeps the first ARRIVED;
    * the batch form keeps the first in EVENT TIME — same documented
    * precondition as StreamingFunnel). StreamingSpec pins it. */
  def defendedIntervalJoinStream(views: DataFrame, purchases: DataFrame,
                                 watermark: String = "2 hours",
                                 joinType: String = "inner"): DataFrame = {
    // the view branch defines its watermark ONCE (before the dedup; it
    // propagates through the rename into the join — redefining it on the
    // renamed column is disallowed with multiple stateful operators)
    val v = views.filter(col("event_type") === "view")
      .withColumn("vbucket", expr("unix_micros(ts) div 600000000"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "vbucket")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("vts"))
    joinPreparedStreams(v, purchases, watermark, joinType)
  }

  /** Streaming percolation (batch twins: q150/q151 — the alerting form
    * RetrievalOps promises): match each arriving document against the
    * standing rule registry `stored` (qid, n_required, terms ARRAY —
    * rule-registry-sized, broadcast). STATELESS by construction: a doc
    * row carries its whole token set, so the per-(rule, doc) verdict
    * `|tokens ∩ terms| == n_required` needs no cross-row state — append
    * mode needs no watermark, restart at any batch boundary is
    * exactly-once for free, and nothing but the document stream scan
    * grows with volume. Emits one (doc_id, qid) row per fired rule.
    * A registry with a `not_terms` array column (q155's negation rules)
    * additionally requires zero forbidden-term overlap — the same
    * stateless per-doc check. */
  def percolateStream(docs: DataFrame, stored: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val hasNot = stored.columns.contains("not_terms")
    val regCols = Seq(col("qid"), col("n_required"), col("terms")) ++
      (if (hasNot) Seq(col("not_terms")) else Nil)
    val reg = stored.select(regCols: _*).withColumn("one", lit(1))
    val notClear =
      if (hasNot) size(array_intersect(col("toks"), col("not_terms"))) === 0
      else lit(true)
    docs
      .withColumn("toks", array_distinct(
        graft.functions.TextFunctions.tokens(lower(col("text")))))
      .withColumn("one", lit(1))
      .join(broadcast(reg), Seq("one"))
      .filter(size(array_intersect(col("toks"), col("terms"))).cast("long")
        === col("n_required") && notClear)
      .select(col("doc_id"), col("qid"))
  }

  /** Custom per-key state via flatMapGroupsWithState (SURVEY §2.11) — the
    * arbitrary-state surface the built-in windows can't express: per user,
    * a running event counter plus a "milestone" record emitted each time
    * the count crosses a multiple of `every`. State is one Long per user
    * (bounded by the key cardinality, not the stream length). */
  def milestones(events: org.apache.spark.sql.Dataset[UserEvent],
                 every: Long = 3): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[Long]) => {
          var count = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer[Milestone]()
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            count += 1
            if (count % every == 0)
              out += Milestone(userId, count, e.event_id)
          }
          state.update(count)
          out.iterator
        })
      .toDF()
  }
}

case class UserEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                     event_type: String, value: Double)
case class Milestone(user_id: Long, milestone: Long, at_event_id: Long)

/** Per-user funnel progress in epoch MICROS (events carry micro precision;
  * java.sql.Timestamp.getTime would truncate to millis and shift the
  * conversion-window boundary vs the batch twin). */
case class FunnelState(t1: Long, t2: Long, t3: Long) // -1 = step not reached
case class FunnelHit(user_id: Long, step: Int, at_event_id: Long)

object StreamingFunnel {
  private val hour = 3600000000L
  private val day = 86400000000L

  private def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Streaming funnel state machine (batch twin: q97): per user, first
    * view, first click within 1 h of it, first purchase within 24 h of
    * that — one FunnelState (3 longs) per user, bounded by key
    * cardinality. Events are sorted by event time WITHIN each micro-batch;
    * step hits are emitted exactly once (Append mode). Equal to the batch
    * funnel whenever per-user arrival respects event time across batches
    * (the general out-of-order case needs watermark-delayed emission —
    * a deliberate non-goal here, matching how the reference processes its
    * generation log strictly in sequence, movie_generator.py:179-238). */
  def funnel(events: org.apache.spark.sql.Dataset[UserEvent]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer[FunnelHit]()
          batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            e.event_type match {
              case "view" if st.t1 < 0 =>
                st = st.copy(t1 = t); out += FunnelHit(userId, 1, e.event_id)
              case "click" if st.t1 >= 0 && st.t2 < 0 &&
                  t > st.t1 && t <= st.t1 + hour =>
                st = st.copy(t2 = t); out += FunnelHit(userId, 2, e.event_id)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 &&
                  t > st.t2 && t <= st.t2 + day =>
                st = st.copy(t3 = t); out += FunnelHit(userId, 3, e.event_id)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }
}
