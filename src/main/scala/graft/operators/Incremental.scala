package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.DeterministicAgg.roundFixed

/** Incremental aggregate maintenance — the pattern that keeps a 100 TB
  * pipeline from rescanning history on every ingest: the public aggregate
  * ([[TripEtl.stationDayAgg]]) is re-expressed as a MERGEABLE state table
  * (every column either additive or max/min — the non-mergeable `avg`
  * becomes the pair (decimal sum, count) and is only divided at the edge),
  * so updating the rollup after a new batch is
  *
  *   finalize( merge( storedState, state(newBatch) ) )
  *
  * — one partial agg over the NEW data plus one merge agg whose left side
  * is the (group-cardinality-sized, not event-sized) state table. The
  * decimal-backed temperature sum is the same
  * [[graft.functions.DeterministicAgg]] arithmetic the one-shot aggregate
  * uses, and decimal addition is associative, so ANY split of the event
  * stream finalizes to the bit-identical public aggregate — the driver
  * proves it by hash-matching `station_day_agg_incremental` against the
  * SAME oracle SQL as the one-shot `station_day_agg`.
  */
object Incremental {
  private val keys = Seq(col("station_name"), col("event_day"))

  /** The mergeable state of [[TripEtl.stationDayAgg]] for one event slice:
    * additive counts, the WIDE (decimal) temperature sum kept undivided
    * and unrounded — rounding before the merge would destroy
    * associativity — and the running max. */
  def stationDayAggState(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("event_day", to_date(col("trip_time")))
      .groupBy(keys: _*)
      .agg(
        sum(when(TripEtl.isStarted(col("trip_type")), 1L).otherwise(0L))
          .as("started_trips"),
        sum(when(TripEtl.isStarted(col("trip_type")), 0L).otherwise(1L))
          .as("ended_trips"),
        sum(col("temperature").cast("decimal(38,10)")).as("temp_sum"),
        count(col("temperature")).as("temp_cnt"),
        max(col("trip_time")).as("update_time"))

  /** Merge two state tables: one hash agg over the union — every column
    * re-aggregates with its own merge function. Decimal sums add exactly;
    * `sum` skips a slice where the group had no temperatures (null
    * temp_sum), matching the one-shot aggregate's null handling. */
  def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(keys: _*)
      .agg(
        sum(col("started_trips")).as("started_trips"),
        sum(col("ended_trips")).as("ended_trips"),
        sum(col("temp_sum")).as("temp_sum"),
        sum(col("temp_cnt")).as("temp_cnt"),
        max(col("update_time")).as("update_time"))

  /** Divide and round at the edge — after this the table is the public
    * [[TripEtl.stationDayAgg]] shape (and value-identical to it). */
  def finalizeState(state: DataFrame): DataFrame =
    state.select(
      col("station_name"), col("event_day"),
      col("started_trips"), col("ended_trips"),
      when(col("temp_cnt") === 0L, lit(null).cast("double"))
        .otherwise(roundFixed(
          col("temp_sum").cast("double") / col("temp_cnt"), 4))
        .as("avg_temperature"),
      col("update_time"))

  /** The driver-facing composition: split the stream deterministically into
    * a "history" slice and a "new batch" slice (trip_id mod — content
    * stable), build each slice's state, merge, finalize. Equals the
    * one-shot aggregate over all events by construction. */
  def stationDayAggIncremental(enriched: DataFrame, mod: Int = 5): DataFrame = {
    val history = enriched.filter(pmod(col("trip_id"), lit(mod.toLong)) =!= 0L)
    val fresh = enriched.filter(pmod(col("trip_id"), lit(mod.toLong)) === 0L)
    finalizeState(mergeStates(
      stationDayAggState(history), stationDayAggState(fresh)))
  }

  /** Batch replay of the STREAMING SCD Type-2 fold
    * ([[graft.streaming.StreamingEtl.scd2Streaming]]), proving stream ≡
    * batch on real data: events are cut into `slices` consecutive
    * event-time ranges (the micro-batches), and each user's rows are fed
    * to the stream's own per-user step
    * ([[graft.streaming.StreamingEtl.scd2Fold]]) one slice at a time, the
    * open run — the streaming operator's ENTIRE state — threaded from
    * slice to slice. Because slices are cut by global event time,
    * per-user delivery is in order — exactly the streaming contract — so
    * the closed runs plus each user's last open run equal the one-shot
    * dimension build row for row. The driver proves it by hash-matching
    * `user_scd2_incremental` against the SAME oracle SQL as `user_scd2`.
    *
    * Shape: one hash exchange on user_id, a sort on (user_id, ts,
    * event_id) within each partition, and a streaming fold over the
    * sorted rows that emits each run when it closes and the open run at
    * the end of its user. A row without a ts lies in no slice and is
    * dropped; a null user_id is one user. The slice bounds come from one
    * min/max agg over the ts column — a 1-row collect (metadata-scale; at
    * 100 TB the same two numbers are free from parquet footer
    * statistics).
    */
  def scd2Incremental(events: DataFrame, slices: Int = 3): DataFrame = {
    import graft.streaming.StreamingEtl.{Scd2State, scd2Fold, tsToUs, usToTs}
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val ev = events.select(
      col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
    // no ts at all: every row is dropped below, any bounds will do
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 0L)
      else (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val spanUs = math.max(1L, (hi - lo) / slices + 1) * 1000L // last slice inclusive
    val loUs = lo * 1000L
    def slice(r: Row): Long = Math.floorDiv(tsToUs(r.getTimestamp(2)) - loUs, spanUs)
    val out = StructType(Seq(
      StructField("user_id", ev.schema("user_id").dataType),
      StructField("event_type", StringType),
      StructField("valid_from", TimestampType),
      StructField("valid_to", TimestampType),
      StructField("n_events", LongType, nullable = false),
      StructField("is_current", BooleanType, nullable = false)))
    ev.filter(col("ts").isNotNull)
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { rows: Iterator[Row] =>
        val it = rows.buffered
        var open = Option.empty[Scd2State]
        // one (user, slice) micro-batch per step
        Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
          val (uid, s) = (it.head.get(0), slice(it.head))
          val batch = Iterator.continually(it)
            .takeWhile(i => i.hasNext && i.head.get(0) == uid && slice(i.head) == s)
            .map { i => val r = i.next(); (r.getString(1), r.getTimestamp(2)) }
          val emitted = scala.collection.mutable.ArrayBuffer[Row]()
          open = scd2Fold(open, batch) { (run, to) =>
            emitted += Row(uid, run.eventType, usToTs(run.validFromUs), to,
              run.nEvents, false)
          }
          if (!it.hasNext || it.head.get(0) != uid) {
            emitted ++= open.map(run => Row(uid, run.eventType,
              usToTs(run.validFromUs), null, run.nEvents, true))
            open = None
          }
          emitted
        }
      }(Encoders.row(out))
  }

  // -------------------------- incremental JOIN-view maintenance (delta rules)

  /** Incremental maintenance of a JOIN view — the third member of the IVM
    * family (mergeable aggregates above; SCD2 replay; now joins). The
    * materialized view is `orders ⋈ customer`; a refresh delivers BOTH a
    * fact delta ΔF (orders on/after `cutoff` — late-arriving facts) and a
    * dimension UPSERT ΔD (every `revMod`-th customer revised: segment
    * re-tagged, balance adjusted). The maintained view is assembled from
    * the standard delta rules instead of a full re-join:
    *
    *   V_new = (V_old ▷ ΔD.key)   -- stored rows whose dim is untouched
    *         ∪ (F_old ⋈ ΔD)       -- only AFFECTED facts re-derive
    *         ∪ (ΔF ⋈ D_new)       -- new facts join the post-upsert dim
    *
    * The three legs are disjoint by construction (untouched vs revised
    * key; old vs new fact), so no dedup pass is needed. At 100 TB:
    * V_old is a stored table (not recomputed as it is in this
    * self-contained query — the station_day_agg_incremental trade-off),
    * the anti join is a broadcast of ΔD's KEYS, `F_old ⋈ ΔD` prunes to
    * the revised keys' partitions when facts are bucketed by custkey, and
    * ΔF is batch-sized — no history rescan anywhere. The driver oracle is
    * the FULL recompute over the post-upsert dimension: the hash match is
    * the proof that the delta algebra loses and invents nothing.
    */
  def maintainOrdersView(orders: DataFrame, customer: DataFrame,
                         cutoff: String = "2001-01-01",
                         revMod: Long = 20): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    val fOld = orders.filter(col("o_orderdate") < cut)
    val fNew = orders.filter(col("o_orderdate") >= cut)
    val dimDelta = customer.filter(col("c_custkey") % revMod === 0)
      .withColumn("c_mktsegment", concat(lit("REV-"), col("c_mktsegment")))
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
    val dimNew = customer
      .join(dimDelta.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
      .unionByName(dimDelta.select(customer.columns.map(col): _*))

    def enrich(f: DataFrame, d: DataFrame): DataFrame =
      f.join(broadcast(d), f("o_custkey") === d("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))

    val vOld = enrich(fOld, customer)
    val untouched = vOld.join(
      broadcast(dimDelta.select(col("c_custkey").as("rev_key"))),
      col("o_custkey") === col("rev_key"), "left_anti")
    untouched
      .unionByName(enrich(fOld, dimDelta))
      .unionByName(enrich(fNew, dimNew))
  }
}
