package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming semantics (SURVEY.md §2.8). The reference only has an event
  * bus + async queues (orchestrator/event_system.py); here the event feed
  * is a first-class Structured Streaming source with watermarked windowed
  * aggregation and stateful sessionization — plus the batch-equivalent
  * forms used by the correctness gate (identical expressions, same
  * results on a bounded input).
  */
object EventStream {

  /** Watermarked tumbling/sliding window aggregation over a stream.
    * `slide == window` gives tumbling. */
  def windowedCounts(events: DataFrame, window: String, slide: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Batch-equivalent tumbling window (same epoch-aligned buckets
    * Structured Streaming produces). */
  def tumblingBatch(events: DataFrame, windowSec: Long): DataFrame =
    events
      .groupBy((floor(unix_timestamp(col("ts")) / windowSec) * windowSec)
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))

  /** Batch-equivalent sliding window: each event belongs to up to
    * ceil(window/slide) overlapping windows — enumerate them (explode),
    * then aggregate. This is exactly what Spark's `window(ts, w, s)`
    * does; the exact-membership filter prunes the enumeration's tail for
    * non-divisible window/slide and for slide > window (sampling). */
  def slidingBatch(events: DataFrame, windowSec: Long, slideSec: Long): DataFrame = {
    val k = ((windowSec + slideSec - 1) / slideSec).toInt.max(1)
    events
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("base", floor(col("sec") / slideSec) * slideSec)
      .withColumn("k", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("window_start", col("base") - col("k").cast("long") * slideSec)
      .filter(col("window_start") + windowSec > col("sec"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-event session labels — the pre-aggregation frame of
    * [[sessionizeBatch]]: every input column plus `sec` and the
    * user-scoped `session_id`. Session boundary when the gap to the
    * previous event of the same user exceeds `gapSec`; session id =
    * running count of boundaries (lag + cumulative sum windows, both
    * user-partitioned — no global sort). Exposed separately so
    * within-session analytics (path mining, q216) can reuse the exact
    * labeling the session rollup aggregates over. */
  def sessionLabels(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    events
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("boundary",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > gapSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("boundary")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_sec", "boundary")
  }

  /** Batch sessionization: one row per (user, session) with event count
    * and duration — the aggregate over [[sessionLabels]]. */
  def sessionizeBatch(events: DataFrame, gapSec: Long): DataFrame =
    sessionLabels(events, gapSec)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("sec")) - min(col("sec"))).as("duration_sec"))

  /** Priority lanes (event_system.py EventPriority LOW=1…CRITICAL=4 and
    * Event.priority, :79-132): the synthetic feed has no explicit
    * priority column, so the lane derives from event type the way the
    * reference's publishers pick priorities for their event classes —
    * errors are CRITICAL (SYSTEM_ERROR), state mutations HIGH,
    * interaction events NORMAL, anything else LOW. */
  def withPriority(events: DataFrame): DataFrame =
    events.withColumn("priority",
      when(col("event_type") === "error", 4)
        .when(col("event_type").isin("purchase", "signup"), 3)
        .when(col("event_type").isin("click", "view"), 2)
        .otherwise(1))

  /** Batch twin of the reference's EventBatchProcessor
    * (event_system.py:305-352): a batch flushes when it reaches
    * `batchSize` events OR `flushIntervalSec` elapses, and each priority
    * lane batches separately (the dispatcher drains lanes
    * highest-priority-first — sort the output by priority desc to see
    * processing order). Declarative form of the two thresholds: no batch
    * spans a flush-interval boundary (`floor(sec/interval)` — the flush
    * timer anchored to the epoch rather than to the previous flush, the
    * one documented divergence), and within an interval bucket events
    * chunk into groups of `batchSize` in (ts, event_id) arrival order.
    * One window pass + one aggregate — shuffle keys are (priority,
    * bucket), so the plan scales with the feed like any windowed agg. */
  def eventBatches(events: DataFrame, batchSize: Int,
      flushIntervalSec: Long): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    require(flushIntervalSec > 0,
      s"flushIntervalSec must be positive: $flushIntervalSec")
    val lane = Window.partitionBy(col("priority"), col("interval_bucket"))
      .orderBy(col("sec"), col("event_id"))
    withPriority(events)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("interval_bucket", floor(col("sec") / flushIntervalSec))
      .withColumn("rn", row_number().over(lane))
      .withColumn("batch_seq", floor((col("rn") - 1) / batchSize))
      .groupBy(col("priority"), col("interval_bucket"), col("batch_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("batch_start_sec"),
        max(col("sec")).as("batch_end_sec"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** foreachBatch wrapper with the event bus's batching-threshold
    * trigger (EventBatchProcessor.add_event, event_system.py:319-331):
    * micro-batches accumulate in a pending frame; a flush fires when the
    * pending count reaches `batchSize` (size threshold) or a newer
    * flush-interval bucket arrives (interval elapsed — the feed is
    * ts-ordered). A flush emits every CLOSED interval bucket whole, plus
    * the FULL chunks of the open bucket's lanes; partial chunks stay
    * pending until the bucket closes or `close()` is called. Chunk
    * CONTENTS are stable under this incremental flushing (chunking is
    * consecutive groups of `batchSize` in lane order, so flushing a
    * whole-chunk prefix never moves a later chunk's boundary); only the
    * `batch_seq` label restarts per flush — the parity spec compares
    * batches by contents. PRECONDITION: micro-batches deliver events in
    * (ts, event_id) order — an event arriving after a later-ordered
    * event of the same lane could land behind an already-flushed chunk
    * boundary (same-second ties included: ties must arrive in event_id
    * order). Feeds that cannot guarantee tie order should deliver whole
    * interval buckets per micro-batch or re-sort in foreachBatch.
    * Pending state is a DataFrame (lineage-truncated per micro-batch);
    * nothing collects to the driver. */
  final class PriorityBatcher(batchSize: Int, flushIntervalSec: Long,
      handler: DataFrame => Unit,
      deadLetter: Option[DataFrame => Unit] = None) {
    import graft.engine.Lineage.LineageOps
    private var pending: Option[DataFrame] = None
    private val carried = Seq("priority", "sec", "interval_bucket")

    /** Dead-letter routing (event_system.py:458-488 DeadLetterQueue +
      * :869-872 add_failed_event): a flush whose handler throws sends
      * the SAME batch frame to the dead-letter sink instead of crashing
      * the stream or silently dropping the batch. With no sink
      * configured the handler's exception propagates (fail-fast). */
    private def deliver(batches: DataFrame): Unit =
      deadLetter match {
        case None => handler(batches)
        case Some(dlq) =>
          try handler(batches)
          catch { case scala.util.control.NonFatal(_) => dlq(batches) }
      }

    def processBatch(micro: DataFrame): Unit = {
      val withBucket = EventStream.withPriority(micro)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("interval_bucket", floor(col("sec") / flushIntervalSec))
      val all = pending.map(_.unionByName(withBucket)).getOrElse(withBucket)
        .truncateLineage()
      pending = Some(all)
      // one aggregate answers all three trigger questions: count (size
      // threshold), and min<max bucket (an older bucket is now closed)
      val stats = all.agg(count(lit(1)).as("n"),
        min(col("interval_bucket")).as("min_ib"),
        max(col("interval_bucket")).as("max_ib")).head()
      val n = stats.getLong(0)
      if (n == 0 || stats.isNullAt(2)) return
      val maxIb = stats.getLong(2)
      val closed = col("interval_bucket") < maxIb
      // size OR interval threshold — the add_event trigger pair
      val hasClosed = stats.getLong(1) < maxIb
      if (n < batchSize && !hasClosed) return
      // open-bucket lanes contribute their full chunks only
      val lane = Window.partitionBy(col("priority"), col("interval_bucket"))
        .orderBy(col("sec"), col("event_id"))
      val marked = all
        .withColumn("rn", row_number().over(lane))
        .withColumn("lane_n", count(lit(1)).over(
          Window.partitionBy(col("priority"), col("interval_bucket"))))
      val fullChunk = col("rn") <=
        floor(col("lane_n") / batchSize) * batchSize
      val ready = marked.filter(closed || fullChunk).drop("rn", "lane_n")
      if (ready.limit(1).count() > 0) {
        deliver(EventStream.eventBatches(ready.drop(carried: _*),
          batchSize, flushIntervalSec))
        pending = Some(marked.filter(!closed && !fullChunk)
          .drop("rn", "lane_n").truncateLineage())
      }
    }

    /** Flush the pending tail (stop_processing's final
      * batch_processor.flush(), event_system.py:796-798). */
    def close(): Unit = pending.foreach { p =>
      if (p.limit(1).count() > 0)
        deliver(EventStream.eventBatches(p.drop(carried: _*),
          batchSize, flushIntervalSec))
      pending = None
    }
  }

  final case class Ev(user_id: Long, event_id: Long, sec: Long)
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      duration_sec: Long)
  private final case class SessState(start: Long, last: Long, n: Long, emitted: Long)

  /** Streaming sessionization via flatMapGroupsWithState — the stateful
    * path a live feed would use. An idle-group processing-time timeout
    * (2× the session gap) closes the trailing open session and REMOVES
    * the group's state, so the state store does not grow with every
    * user ever seen. The batch form above is the oracle-checkable twin. */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[Ev], gapSec: Long)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // idle group: flush the trailing open session, free the state
            val st = state.get
            state.remove()
            if (st.n > 0)
              Iterator(SessionOut(user, st.emitted + 1, st.n, st.last - st.start))
            else Iterator.empty
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.sec, e.event_id))
            var st = state.getOption.getOrElse(SessState(-1, Long.MinValue / 4, 0, 0))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              if (e.sec - st.last > gapSec) {
                if (st.n > 0)
                  out += SessionOut(user, st.emitted + 1, st.n, st.last - st.start)
                st = SessState(e.sec, e.sec, 1,
                  st.emitted + (if (st.n > 0) 1 else 0))
              } else st = st.copy(last = e.sec, n = st.n + 1)
            }
            state.update(st)
            state.setTimeoutDuration(gapSec * 2 * 1000L)
            out.iterator
          }
      }
  }

  final case class TypedEv(user_id: Long, event_id: Long, sec: Long,
      event_type: String)
  final case class Transition(user_id: Long, prev_type: String,
      next_type: String)
  final case class LastEvent(sec: Long, event_id: Long,
      event_type: String)

  /** Streaming twin of the q215 Markov transition census: per-user
    * state is just the LAST event seen; each micro-batch sorts its
    * group slice by (sec, event_id), chains it onto the stored last
    * event, and emits one Transition per adjacent pair — so a
    * transition spanning a batch boundary is produced exactly once,
    * from state. Same in-order-feed contract as the other incremental
    * twins (within-batch disorder is fine — the slice is sorted; cross-
    * batch disorder is not replayed). State is one (sec, id, type)
    * triple per user — constant per key, never grows with history.
    * Aggregating the output by (prev_type, next_type) reproduces q215's
    * count frame exactly (parity pinned in ActivityAnalyticsSpec). */
  def transitionsStream(events: org.apache.spark.sql.Dataset[TypedEv])
      : org.apache.spark.sql.Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[TypedEv], state: GroupState[LastEvent]) =>
          val sorted = evs.toSeq.sortBy(e => (e.sec, e.event_id))
          val chain = state.getOption
            .map(s => TypedEv(user, s.event_id, s.sec, s.event_type))
            .toList ::: sorted.toList
          val out = chain.iterator.sliding(2).withPartial(false)
            .map(p => Transition(user, p(0).event_type, p(1).event_type))
            .toList
          val last = chain.last
          state.update(LastEvent(last.sec, last.event_id, last.event_type))
          out.iterator
      }
  }

  /** Tagged input row for [[asOfStream]]: `side` 0 = right (reference
    * stream, e.g. views), 1 = left (lookup stream, e.g. purchases). */
  final case class AsOfEv(user_id: Long, sec: Long, event_id: Long,
      side: Int, value: Double)
  final case class AsOfMatch(user_id: Long, p_eid: Long, p_sec: Long,
      v_eid: Option[Long], v_sec: Option[Long], gap_sec: Option[Long],
      v_value: Option[Double])
  final case class LastRight(sec: Long, eid: Long, value: Double)

  /** Streaming twin of the q241 backward as-of join — point-in-time
    * enrichment on a live feed. Per-key state is ONE row: the latest
    * right-side event seen (constant per key, never grows with
    * history — the streaming advantage over a stream-stream interval
    * join, whose state must buffer the whole tolerance window). Each
    * micro-batch sorts its group slice by (sec, side, event_id) —
    * right before left at equal timestamps, so equal-ts matches work
    * exactly like the batch operator — walks it once, and emits one
    * AsOfMatch per left row from whatever right state was current.
    * Same in-order-feed contract as the other incremental twins.
    * Parity vs the batch AsOfJoin is pinned in AsOfStreamSpec. */
  def asOfStream(in: org.apache.spark.sql.Dataset[AsOfEv],
      tolerance: Option[Long] = None)
      : org.apache.spark.sql.Dataset[AsOfMatch] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastRight, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[AsOfEv], state: GroupState[LastRight]) =>
          val sorted = evs.toSeq.sortBy(e => (e.sec, e.side, e.event_id))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfMatch]
          sorted.foreach { e =>
            if (e.side == 0) cur = Some(LastRight(e.sec, e.event_id, e.value))
            else {
              val hit = cur.filter(r =>
                tolerance.forall(t => e.sec - r.sec <= t))
              out += AsOfMatch(user, e.event_id, e.sec,
                hit.map(_.eid), hit.map(_.sec), hit.map(e.sec - _.sec),
                hit.map(_.value))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  final case class CusumIn(k: String, day: String, s_t: Long)
  final case class CusumPoint(k: String, day: String, cpos: Long, cneg: Long)
  final case class CusumSt(ps: Long, mn: Long, mx: Long)

  /** Streaming twin of q252's CUSUM decomposition — the online form the
    * chart was invented for. Per-key state is the (prefix sum, running
    * min, running max) triple, with S_0 = 0 covered by the zero initial
    * state — three longs per key, never grows with history. Input rows
    * carry the mean-centered series s_t (centering parameters come from
    * a reference window, as in any production control chart); each
    * micro-batch sorts its slice by day and folds it onto the stored
    * triple, so a chart spanning batch boundaries continues exactly.
    * Same in-order-feed contract as the other incremental twins.
    * Parity vs q252's window form is pinned in ControlChartSpec. */
  final case class EwmaIn(k: String, day: String, cnt: Long)
  final case class EwmaPoint(k: String, day: String, ewma: Double,
      dev: Option[Double], alarm: Boolean)
  final case class EwmaSt(e: Double, seeded: Boolean)

  /** Streaming twin of q253's α = 1/2 EWMA fold — per-key state is ONE
    * double (the smoothed level). Each step is the same exact IEEE
    * add-then-halve as the batch fold, applied in day order, so stream
    * and batch produce bit-identical levels; the first observation
    * seeds the level and emits no deviation. Alarm fires when today's
    * count strays more than 50% from yesterday's level (q253's rule).
    * Parity vs the batch fold is pinned in ControlChartSpec. */
  def ewmaStream(in: org.apache.spark.sql.Dataset[EwmaIn])
      : org.apache.spark.sql.Dataset[EwmaPoint] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.k)
      .flatMapGroupsWithState[EwmaSt, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[EwmaIn], state: GroupState[EwmaSt]) =>
          val sorted = rows.toSeq.sortBy(_.day)
          var st = state.getOption.getOrElse(EwmaSt(0.0, seeded = false))
          val out = sorted.map { r =>
            val x = r.cnt.toDouble
            if (!st.seeded) {
              st = EwmaSt(x, seeded = true)
              EwmaPoint(k, r.day, x, None, alarm = false)
            } else {
              val dev = math.abs(x - st.e)
              val alarm = dev * 2.0 > st.e
              st = EwmaSt((st.e + x) / 2.0, seeded = true)
              EwmaPoint(k, r.day, st.e, Some(dev), alarm)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def cusumStream(in: org.apache.spark.sql.Dataset[CusumIn])
      : org.apache.spark.sql.Dataset[CusumPoint] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.k)
      .flatMapGroupsWithState[CusumSt, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[CusumIn], state: GroupState[CusumSt]) =>
          val sorted = rows.toSeq.sortBy(_.day)
          var st = state.getOption.getOrElse(CusumSt(0L, 0L, 0L))
          val out = sorted.map { r =>
            val ps = st.ps + r.s_t
            st = CusumSt(ps, math.min(st.mn, ps), math.max(st.mx, ps))
            CusumPoint(k, r.day, ps - st.mn, st.mx - ps)
          }
          state.update(st)
          out.iterator
      }
  }
}
