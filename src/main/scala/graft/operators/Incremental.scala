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
    * event-time ranges (the micro-batches), and the per-user open run —
    * the streaming operator's ENTIRE state, (event_type, valid_from,
    * n_events) — is threaded across slices as one weighted pseudo-event
    * (ts = valid_from, weight = n_events, event_id = Long.MinValue so it
    * sorts before every real event in its slice). Each slice re-runs the
    * run-length machinery of [[Relational.scd2UserState]] with weighted
    * counts; runs that close inside the slice are final output, the open
    * run becomes the next slice's carry. Because slices are cut by global
    * event time, per-user delivery is in order — exactly the streaming
    * contract — and the fold's closed+open union equals the one-shot
    * dimension build row for row. The driver proves it by hash-matching
    * `user_scd2_incremental` against the SAME oracle SQL as `user_scd2`.
    *
    * The slice boundaries come from one min/max agg over the ts column —
    * a 1-row collect (metadata-scale; at 100 TB the same two numbers are
    * free from parquet footer statistics).
    */
  def scd2Incremental(events: DataFrame, slices: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(
      col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).head()
    if (bounds.isNullAt(0)) { // empty input: nothing to slice, nothing open
      return events.sparkSession.createDataFrame(
        events.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            events.schema("user_id").dataType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("valid_from",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("valid_to",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("n_events",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("is_current",
            org.apache.spark.sql.types.BooleanType, nullable = false))))
    }
    val (lo, hi) = (bounds.getTimestamp(0).getTime, bounds.getTimestamp(1).getTime)
    val span = math.max(1L, (hi - lo) / slices + 1) // ms; last slice inclusive

    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ws = Window.partitionBy(col("user_id")).orderBy(col("seg").asc)

    var state: DataFrame = null // open runs: user_id, event_type, valid_from, n_events
    val closed = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 0 until slices) {
      val sliceLo = lit(new java.sql.Timestamp(lo + i * span))
      val sliceHi = lit(new java.sql.Timestamp(lo + (i + 1) * span))
      val slice = ev
        .filter(col("ts") >= sliceLo && col("ts") < sliceHi)
        .withColumn("wt", lit(1L))
      val withCarry =
        if (state == null) slice
        else state.select(
          col("user_id"), col("event_type"), col("valid_from").as("ts"),
          lit(Long.MinValue).as("event_id"), col("n_events").as("wt"))
          .unionByName(slice)
      val runs = withCarry
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("seg", sum(col("chg")).over(run))
        .groupBy(col("user_id"), col("seg"))
        .agg(
          min(col("event_type")).as("event_type"),
          min(col("ts")).as("valid_from"),
          sum(col("wt")).as("n_events"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(ws))
        // checkpoint each slice's runs (round-17): `runs` is referenced by
        // BOTH the slice's closed output and the next slice's carry, and the
        // carry chains — without the barrier slice 1's window machinery
        // appears ~2^slices times in the final plan. Materializing here is
        // exactly what the streaming original does with its per-batch state
        // store; the rows are run-segment scale (≤ users × segments).
        // never released early: `closed`'s final union reads this unrecomputable block
        .localCheckpoint(true)
      closed += runs.filter(col("valid_to").isNotNull)
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"), lit(false).as("is_current"))
      state = runs.filter(col("valid_to").isNull)
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("n_events"))
    }
    val open = state.select(
      col("user_id"), col("event_type"), col("valid_from"),
      lit(null).cast("timestamp").as("valid_to"), col("n_events"),
      lit(true).as("is_current"))
    closed.reduce(_.unionByName(_)).unionByName(open)
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
