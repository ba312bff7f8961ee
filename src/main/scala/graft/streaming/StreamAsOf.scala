package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig}

import StreamingEtl.{tsToUs, usToTs}

/** STREAM–STREAM backward as-of join on `transformWithState` — the one
  * operator family round 7 left unclaimed (the native batch/stream-static
  * as-of is [[graft.plans.AsOf]]; this adds cross-batch RIGHT-side state).
  *
  * Semantics (append mode): for every left row, the LATEST right row of
  * the same key with `rightTs <= leftTs`, no matter which micro-batch
  * either side arrives in. A left row is held in state until the event-
  * time watermark passes its timestamp — only then is its match decided
  * and emitted, so a right row arriving AFTER the left it must match
  * (but before the watermark does) still wins.
  *
  * Late-data contract (documented, spec-pinned): rows with an event time
  * behind the current watermark are DROPPED before they reach the
  * processor — Spark's event-time watermark filter applies to every
  * stateful operator, transformWithState included — exactly the contract
  * of Spark's built-in stream–stream interval join. Within the watermark
  * delay, arrival order is free: a right row arriving any number of
  * batches after the left it must match still wins, because lefts are
  * only released once the watermark passes their timestamp. Batch
  * equivalence therefore holds for every row the watermark admitted.
  *
  * The 100 TB story: state per key is BOUNDED — lefts live only until the
  * watermark passes them (watermark delay × arrival rate), and rights are
  * dominance-pruned on every timer sweep (a right row at-or-before the
  * watermark is kept only if it is the LATEST such row: any older one can
  * never again be "latest at-or-before" for a left the watermark has not
  * yet released). The join shuffles once on the key — the same cost class
  * as any stream–stream join — and the per-key merge work is
  * O((|L|+|R|) log |R|) per sweep over only the buffered window.
  */
object StreamAsOf {

  /** Tagged union row for the two inputs (one source type keeps a single
    * watermark column through the union). */
  final case class AsOfStreamEvent(
      userId: Long, isLeft: Boolean, id: Long, ts: Timestamp, value: Double)

  /** Buffered left row awaiting watermark release. State carries epoch
    * MICROSECONDS — full event-time precision: `Timestamp.getTime` is
    * ms-only and silently truncated sub-ms event times through the join
    * (caught when the µs-grained corpus was promoted to the driver gate);
    * watermark GATING is µs-exact too (round-13 advisor): Spark's late-row
    * filter compares the µs event time against the ms watermark, so rows
    * with tsUs in [wm·1000, wm·1000+999] are still admissible in LATER
    * batches — a release/prune decision made at the ms floor could emit a
    * left (or drop a dominated right) while a same-millisecond right that
    * must win is still in flight. Every gate below therefore compares
    * `tsUs` strictly against `wm · 1000` (conservative under either
    * boundary convention of the late filter: any future-admitted row has
    * tsUs ≥ wm·1000, hence strictly above every released left). */
  final case class BufLeft(tsUs: Long, eventId: Long)

  /** Right-side state: candidate match rows (epoch µs, as [[BufLeft]]). */
  final case class BufRight(tsUs: Long, errorId: Long, value: Double)

  private def wmToUs(wmMs: Long): Long = wmMs * 1000L

  /** Join output: left columns plus the matched right columns (None when
    * no right row at-or-before the left's time exists). */
  final case class StreamAsOfJoined(
      userId: Long, eventId: Long, ts: Timestamp,
      errorId: Option[Long], errorTs: Option[Timestamp],
      errorValue: Option[Double])

  /** Per-key processor: rights accumulate (dominance-pruned), lefts
    * buffer until the watermark passes their event time, emission happens
    * in `handleExpiredTimer` (each left arms a timer at its own
    * timestamp). */
  class StreamAsOfProcessor
      extends StatefulProcessor[Long, AsOfStreamEvent, StreamAsOfJoined] {
    @transient private var lefts: ListState[BufLeft] = _
    @transient private var rights: ListState[BufRight] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lefts = getHandle.getListState[BufLeft]("lefts",
        Encoders.product[BufLeft], TTLConfig.NONE)
      rights = getHandle.getListState[BufRight]("rights",
        Encoders.product[BufRight], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[AsOfStreamEvent],
                                 timers: TimerValues): Iterator[StreamAsOfJoined] = {
      val wm = timers.getCurrentWatermarkInMs()
      rows.foreach { e =>
        if (e.isLeft) {
          lefts.appendValue(BufLeft(tsToUs(e.ts), e.id))
          // release gate: fire once the watermark STRICTLY clears this
          // left's millisecond — at floorMs(ts)+1 the µs-exact release
          // condition (tsUs < wm·1000) is guaranteed to hold; max() keeps
          // the timer ahead of the current watermark (a timer at-or-behind
          // it is invalid)
          getHandle.registerTimer(math.max(e.ts.getTime + 1L, wm + 1L))
        } else {
          rights.appendValue(BufRight(tsToUs(e.ts), e.id, e.value))
        }
      }
      Iterator.empty // all emission is watermark-gated in the timer
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[StreamAsOfJoined] = {
      val wmUs = wmToUs(timers.getCurrentWatermarkInMs())
      // (tsUs, errorId) order: equal-timestamp rights tie-break by id, so
      // the "latest at-or-before" pick is deterministic across runs (the
      // forward twin always sorted this way; round-13 advisor)
      val allRights = rights.get().toArray.sortBy(r => (r.tsUs, r.errorId))
      val allLefts = lefts.get().toArray
      // µs-exact release: only lefts STRICTLY behind the watermark boundary
      // are decidable — an admissible future right has tsUs ≥ wm·1000,
      // which cannot be at-or-before any released left
      val (ready, pending) = allLefts.partition(l => l.tsUs < wmUs)
      // deterministic emission order; matches stay correct regardless
      val out = ready.sortBy(l => (l.tsUs, l.eventId)).iterator.map { l =>
        // latest right at-or-before the left's time (µs-exact): binary
        // search for the first index whose time exceeds l.tsUs
        var lo = 0; var hi = allRights.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (allRights(mid).tsUs <= l.tsUs) lo = mid + 1 else hi = mid
        }
        val m = if (lo > 0) Some(allRights(lo - 1)) else None
        StreamAsOfJoined(key, l.eventId, usToTs(l.tsUs),
          m.map(_.errorId), m.map(r => usToTs(r.tsUs)), m.map(_.value))
      }.toArray
      if (ready.nonEmpty) {
        lefts.clear()
        if (pending.nonEmpty) lefts.put(pending)
      }
      // dominance prune (µs-exact): of the rights STRICTLY behind the
      // watermark boundary only the latest can ever match again (every
      // unreleased left has tsUs ≥ wm·1000); rights at-or-beyond the
      // boundary all stay — a same-millisecond left may still be pending
      val cut = allRights.lastIndexWhere(r => r.tsUs < wmUs)
      if (cut > 0) { // index 0 with cut==0 is already minimal
        // keeps the latest strictly-behind right + all at-or-beyond wm·1000
        val keep = allRights.drop(cut)
        rights.clear()
        if (keep.nonEmpty) rights.put(keep)
      }
      out.iterator
    }
  }

  /** Public API: backward as-of enrichment of a purchase stream with the
    * latest error per user — the streaming twin of the batch
    * `asof_last_error` query ([[graft.plans.AsOf.backward]]), so the spec
    * can assert stream ≡ batch on identical data.
    *
    * @param purchases streaming DataFrame with (event_id, user_id, ts)
    * @param errors    streaming DataFrame with (error_id, user_id, ts, value)
    * @param watermark event-time watermark delay for BOTH sides (the union
    *                  takes the min of the two source watermarks)
    */
  def asOfEnrichStreams(purchases: DataFrame, errors: DataFrame,
                        watermark: String = "10 minutes"): Dataset[StreamAsOfJoined] = {
    val spark = purchases.sparkSession
    import spark.implicits._
    val l = purchases.select(
      col("user_id").cast("long").as("userId"), lit(true).as("isLeft"),
      col("event_id").cast("long").as("id"), col("ts"),
      lit(0.0).as("value"))
      .withWatermark("ts", watermark)
    val r = errors.select(
      col("user_id").cast("long").as("userId"), lit(false).as("isLeft"),
      col("error_id").cast("long").as("id"), col("ts"),
      col("value").cast("double").as("value"))
      .withWatermark("ts", watermark)
    l.unionByName(r).as[AsOfStreamEvent]
      .groupByKey(_.userId)
      .transformWithState(new StreamAsOfProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Forward-join output: left columns plus the EARLIEST right at-or-after
    * within tolerance (None when no right lands in the window). */
  final case class StreamAsOfFwdJoined(
      userId: Long, eventId: Long, ts: Timestamp,
      matchedId: Option[Long], matchedTs: Option[Timestamp],
      matchedValue: Option[Double])

  /** STREAM–STREAM FORWARD as-of (earliest right at-or-after, bounded by
    * `tolMs`) — completing the direction matrix. The tolerance is
    * MANDATORY here, and that is a semantic necessity, not a shortcut:
    * "earliest at-or-after" with no bound is only decidable at stream end
    * (a right with a smaller timestamp than any seen candidate may arrive
    * arbitrarily late), exactly why Spark's own stream–stream joins demand
    * a time-range condition. With the bound, a left is decidable once the
    * watermark passes `leftTs + tol` (its timer), and a right is dead once
    * `rightTs <= wm − tol` (no pending left's window can reach it) — both
    * sides' state stays bounded by tolerance × arrival rate. */
  class StreamAsOfForwardProcessor(tolMs: Long)
      extends StatefulProcessor[Long, AsOfStreamEvent, StreamAsOfFwdJoined] {
    @transient private var lefts: ListState[BufLeft] = _
    @transient private var rights: ListState[BufRight] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lefts = getHandle.getListState[BufLeft]("lefts",
        Encoders.product[BufLeft], TTLConfig.NONE)
      rights = getHandle.getListState[BufRight]("rights",
        Encoders.product[BufRight], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[AsOfStreamEvent],
                                 timers: TimerValues): Iterator[StreamAsOfFwdJoined] = {
      val wm = timers.getCurrentWatermarkInMs()
      rows.foreach { e =>
        if (e.isLeft) {
          lefts.appendValue(BufLeft(tsToUs(e.ts), e.id))
          // decidable once the watermark STRICTLY clears the end of its
          // window's millisecond (the µs-exact release needs
          // tsUs + tolUs < wm·1000; floorMs(ts) + tol + 1 guarantees it)
          getHandle.registerTimer(math.max(e.ts.getTime + tolMs + 1L, wm + 1L))
        } else {
          rights.appendValue(BufRight(tsToUs(e.ts), e.id, e.value))
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[StreamAsOfFwdJoined] = {
      val wmUs = wmToUs(timers.getCurrentWatermarkInMs())
      val tolUs = tolMs * 1000L
      val allRights = rights.get().toArray.sortBy(r => (r.tsUs, r.errorId))
      val allLefts = lefts.get().toArray
      // µs-exact release: a left is decidable only when its whole window
      // [ts, ts + tol] is STRICTLY behind the watermark boundary — an
      // admissible future right has tsUs ≥ wm·1000 > ts + tol, outside it
      val (ready, pending) =
        allLefts.partition(l => l.tsUs + tolUs < wmUs)
      val out = ready.sortBy(l => (l.tsUs, l.eventId)).iterator.map { l =>
        // earliest right in [l.ts, l.ts + tol] (µs-exact): first index
        // at-or-after
        var lo = 0; var hi = allRights.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (allRights(mid).tsUs < l.tsUs) lo = mid + 1 else hi = mid
        }
        val m = if (lo < allRights.length && allRights(lo).tsUs <= l.tsUs + tolUs)
          Some(allRights(lo)) else None
        StreamAsOfFwdJoined(key, l.eventId, usToTs(l.tsUs),
          m.map(_.errorId), m.map(r => usToTs(r.tsUs)), m.map(_.value))
      }.toArray
      if (ready.nonEmpty) {
        lefts.clear()
        if (pending.nonEmpty) lefts.put(pending)
      }
      // time-cutoff prune (µs-exact): every pending or future left has
      // tsUs ≥ wm·1000 − tol (pending: its release gate has not passed;
      // future: the late filter admits only tsUs ≥ wm·1000), so a right
      // strictly below that can never land in a window again
      val keep = allRights.filter(r => r.tsUs >= wmUs - tolUs)
      if (keep.length != allRights.length) {
        rights.clear()
        if (keep.nonEmpty) rights.put(keep)
      }
      out.iterator
    }
  }

  /** Public API: forward as-of enrichment — each left event matched to the
    * EARLIEST right within `(toleranceMs)` after it, cross-batch; the
    * streaming twin of the batch `asof_next_purchase` query
    * ([[graft.plans.AsOf.forward]] with tolerance), so the spec can assert
    * stream ≡ batch on identical data.
    */
  def asOfNextStreams(lefts: DataFrame, rights: DataFrame,
                      toleranceMs: Long,
                      watermark: String = "10 minutes"): Dataset[StreamAsOfFwdJoined] = {
    require(toleranceMs > 0, "forward stream-stream as-of needs a positive tolerance")
    val spark = lefts.sparkSession
    import spark.implicits._
    val l = lefts.select(
      col("user_id").cast("long").as("userId"), lit(true).as("isLeft"),
      col("event_id").cast("long").as("id"), col("ts"),
      lit(0.0).as("value"))
      .withWatermark("ts", watermark)
    val r = rights.select(
      col("user_id").cast("long").as("userId"), lit(false).as("isLeft"),
      col("event_id").cast("long").as("id"), col("ts"),
      col("value").cast("double").as("value"))
      .withWatermark("ts", watermark)
    l.unionByName(r).as[AsOfStreamEvent]
      .groupByKey(_.userId)
      .transformWithState(new StreamAsOfForwardProcessor(toleranceMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
