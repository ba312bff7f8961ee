package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.model.{AggregatedInfo, TripStation}

/** Typed Dataset API surface (SURVEY.md §2.7): the reference's stateful
  * Transformer (reference/src/com/bigdata/consumer/CustomTransformer.kt:22-46)
  * as an `Aggregator[TripStation, Buf, AggregatedInfo]`.
  *
  * The reference maintains the running mean incrementally
  * (`(n·avg + x)/(n+1)`, CustomTransformer.kt:38-39); an Aggregator must be
  * mergeable across partitions, so the buffer carries (sum, count) instead —
  * mathematically the same arithmetic mean, but associative, which is what
  * makes it distributable (partial aggregation map-side, merge at the
  * reducer). `updateTime` is max(tripTime) — equivalent to the reference's
  * last-processed-time under in-order arrival (SURVEY.md §2.4 A4).
  */
object TypedAgg {

  /** `maxTime` is event-time MICROSECONDS (TimestampType's native
    * precision). `Timestamp.getTime` alone is millis — folding through it
    * silently truncated update_time against the batch path on real data
    * (sub-millisecond event times; the station_day_agg_stream_tws spec's
    * snapshot equality on real data checks it).
    *
    * `tempSum` is a WIDE DECIMAL, not a double (round 14): the double fold
    * summed in arrival order, so the typed mean was order-dependent and
    * the punctuated streams could not be hash-gated against the
    * decimal-exact batch/oracle grid — only their integer columns were.
    * Per-value quantization and the finishing round are
    * [[graft.functions.DeterministicAgg]]'s own local twins
    * (`wideDecimalLocal` / `roundFixedLocal` — ONE definition of the
    * portable arithmetic), so `finish` lands on the identical
    * floor(x·1e4+0.5)/1e4 grid as `avgRounded` and the DuckDB oracle, and
    * the TWS punctuator is gate-able verbatim
    * (`station_day_agg_stream_tws`). */
  final case class Buf(
      started: Long,
      ended: Long,
      tempSum: java.math.BigDecimal,
      tempCount: Long,
      maxTime: Long)

  def toMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Aggregates one (station, day) group of TripStation rows. Keyed use:
    * `ds.groupByKey(t => (t.stationName, day(t.tripTime))).agg(agg.toColumn)`.
    */
  final class StationDayAggregator
      extends Aggregator[TripStation, Buf, AggregatedInfo] {

    override def zero: Buf =
      Buf(0L, 0L, java.math.BigDecimal.ZERO, 0L, Long.MinValue)

    override def reduce(b: Buf, t: TripStation): Buf = Buf(
      b.started + (if (t.tripType == "purchase") 1L else 0L),
      b.ended + (if (t.tripType == "purchase") 0L else 1L),
      // a NULL temperature contributes to NEITHER sum NOR count — the
      // oracle divides by COUNT(e.value), which counts non-null only, and
      // the declarative avg skips nulls the same way (round-15 advisor:
      // the row still counts toward started/ended, like COUNT(*))
      t.temperature.fold(b.tempSum)(v => b.tempSum.add(
        graft.functions.DeterministicAgg.wideDecimalLocal(v))),
      b.tempCount + (if (t.temperature.isDefined) 1L else 0L),
      math.max(b.maxTime, toMicros(t.tripTime))
    )

    override def merge(a: Buf, b: Buf): Buf = Buf(
      a.started + b.started,
      a.ended + b.ended,
      a.tempSum.add(b.tempSum),
      a.tempCount + b.tempCount,
      math.max(a.maxTime, b.maxTime)
    )

    override def finish(b: Buf): AggregatedInfo = AggregatedInfo(
      stationName = null, // filled by the caller from the group key
      eventDay = null,
      startedTrips = b.started,
      endedTrips = b.ended,
      // the exact column chain avgRounded plans: decimal sum -> double ->
      // divide by count -> the shared portable rounding grid; an all-NULL
      // group averages to None = SQL NULL, exactly like avg() and the
      // oracle's SUM/COUNT division (round-15 advisor)
      avgTemperature = if (b.tempCount == 0) None
        else Some(graft.functions.DeterministicAgg.roundFixedLocal(
          b.tempSum.doubleValue() / b.tempCount, 4)),
      updateTime = fromMicros(b.maxTime)
    )

    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[AggregatedInfo] =
      Encoders.product[AggregatedInfo]
  }
}
