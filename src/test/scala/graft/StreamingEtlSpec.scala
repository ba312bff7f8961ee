package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TripStation
import graft.operators.TripEtl
import graft.streaming.StreamingEtl

/** Streaming semantics (SURVEY.md §2.5 T2/T3/T4, round-1 verdict #4):
  * update-mode emissions, equivalence with the batch aggregate, timer-driven
  * punctuation + eviction, and the Kafka-shaped sink. */
class StreamingEtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  private def enrichedDf(rows: Seq[TripStation]) = {
    import spark.implicits._
    rows.toDF().withColumnRenamed("tripTime", "trip_time")
      .withColumnRenamed("stationName", "station_name")
      .withColumnRenamed("tripType", "trip_type")
  }

  test("readEventsStream decodes real testdata timestamps like the batch reader") {
    // the r7 regen flipped events.ts from TIMESTAMP(NANOS) to timestamp[us];
    // the streaming source must branch on the footer exactly like
    // Tables.events (an unconditional ns->us divide collapses every stream
    // timestamp into 1970)
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft-ts-probe")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamingEtl.readEventsStream(spark, staged.toString)
      .writeStream.format("memory").queryName("ts_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val years = spark.table("ts_probe")
        .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi"))
        .head()
      assert(years.getInt(0) >= 2000 && years.getInt(1) <= 2100,
        s"stream ts years [${years.getInt(0)},${years.getInt(1)}] — encoding misread")
      assert(spark.table("ts_probe").count() ==
        graft.sources.Tables.events(spark, dir).count())
    } finally q.stop()
  }

  test("update-mode streaming aggregation converges to the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TripStation]
    val streamDf = input.toDF()
      .withColumnRenamed("tripTime", "trip_time")
      .withColumnRenamed("stationName", "station_name")
      .withColumnRenamed("tripType", "trip_type")
    val q = StreamingEtl.stationDayAggStreaming(streamDf)
      .writeStream.format("memory").queryName("sda").outputMode("update").start()
    try {
      val batch1 = Seq(
        TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0),
        TripStation("A", ts("2024-01-01 11:00:00"), "view", 30.0))
      val batch2 = Seq(
        TripStation("A", ts("2024-01-01 12:00:00"), "purchase", 20.0),
        TripStation("B", ts("2024-01-01 12:30:00"), "view", 5.0))
      input.addData(batch1: _*)
      q.processAllAvailable()
      val after1 = spark.table("sda").collect()
      assert(after1.length == 1) // one changed group emitted
      assert(after1.head.getAs[Long]("started_trips") == 1L)

      input.addData(batch2: _*)
      q.processAllAvailable()

      // last emission per key == batch aggregate over all data
      val emissions = spark.table("sda").collect()
      val lastPerKey = emissions.groupBy(r => (r.getAs[String]("station_name")))
        .map { case (k, rs) => k -> rs.last }
      val batchResult = TripEtl.stationDayAgg(enrichedDf(batch1 ++ batch2))
        .collect().map(r => r.getAs[String]("station_name") -> r).toMap
      assert(lastPerKey.keySet == batchResult.keySet)
      lastPerKey.foreach { case (k, got) =>
        val want = batchResult(k)
        assert(got.getAs[Long]("started_trips") == want.getAs[Long]("started_trips"), k)
        assert(got.getAs[Long]("ended_trips") == want.getAs[Long]("ended_trips"), k)
        assert(got.getAs[Double]("avg_temperature") == want.getAs[Double]("avg_temperature"), k)
        assert(got.getAs[Timestamp]("update_time") == want.getAs[Timestamp]("update_time"), k)
      }
    } finally q.stop()
  }

  test("T4 under the RocksDB state store provider: agg converges and RocksDB actually runs") {
    // the reference's state store IS RocksDB (KafkaConsumer.kt:52-55);
    // the repo's parity argument has been "config, not code" — this runs
    // the same update-mode aggregation with the provider flipped to
    // Spark's RocksDB implementation and asserts (a) the converged values
    // are unchanged and (b) RocksDB really served the state (its custom
    // metrics appear in the progress), so the claim is proven once, not
    // assumed. A cloned session scopes the provider conf: it is captured
    // at first micro-batch planning, never leaking to parallel suites.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import ss.implicits._
    implicit val sqlCtx = ss.sqlContext
    val input = MemoryStream[TripStation]
    val streamDf = input.toDF()
      .withColumnRenamed("tripTime", "trip_time")
      .withColumnRenamed("stationName", "station_name")
      .withColumnRenamed("tripType", "trip_type")
    val q = StreamingEtl.stationDayAggStreaming(streamDf)
      .writeStream.format("memory").queryName("sda_rocks")
      .outputMode("update").start()
    try {
      input.addData(
        TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0),
        TripStation("A", ts("2024-01-01 11:00:00"), "view", 30.0))
      q.processAllAvailable()
      input.addData(
        TripStation("A", ts("2024-01-01 12:00:00"), "purchase", 20.0),
        TripStation("B", ts("2024-01-01 12:30:00"), "view", 5.0))
      q.processAllAvailable()
      val lastPerKey = ss.table("sda_rocks").collect()
        .groupBy(_.getAs[String]("station_name"))
        .map { case (k, rs) => k -> rs.last }
      assert(lastPerKey("A").getAs[Long]("started_trips") == 2L)
      assert(lastPerKey("A").getAs[Long]("ended_trips") == 1L)
      assert(lastPerKey("A").getAs[Double]("avg_temperature") == 20.0)
      assert(lastPerKey("B").getAs[Long]("ended_trips") == 1L)
      // the provider proof: RocksDB's own custom metrics in the state
      // operator progress — absent under the default HDFS-backed provider
      val metrics = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb custom metrics — provider did not run: ${metrics.mkString(",")}")
    } finally q.stop()
  }

  test("hopping windows compose unchanged onto a stream and converge to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val streamDf = input.toDF().toDF("event_type", "ts", "value")
    // the BATCH operator applied verbatim to the stream — hopping windows
    // are a plain windowed aggregation, so Structured Streaming runs the
    // identical plan with incremental state (complete mode here keeps the
    // tiny test comparable; production uses a watermark + append)
    val q = graft.operators.Relational.hoppingCounts(streamDf, 360, 90)
      .writeStream.format("memory").queryName("hop").outputMode("complete").start()
    try {
      input.addData(("a", ts("2024-01-01 06:00:00"), 1.5))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 07:30:00"), 2.0),
        ("b", ts("2024-01-01 06:45:00"), 4.0))
      q.processAllAvailable()
      val got = spark.table("hop").collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSet
      val batch = graft.operators.Relational.hoppingCounts(
        Seq(("a", ts("2024-01-01 06:00:00"), 1.5),
          ("a", ts("2024-01-01 07:30:00"), 2.0),
          ("b", ts("2024-01-01 06:45:00"), 4.0))
          .toDF("event_type", "ts", "value"), 360, 90)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got == batch, s"stream=$got\nbatch=$batch")
      // overlap sanity: the 06:00 and 07:30 'a' events share windows where
      // both count (n_events = 2) — the defining hopping property
      assert(got.exists { case (_, t, n, _) => t == "a" && n == 2L })
    } finally q.stop()
  }

  test("punctuated aggregation emits updates, then a timer snapshot with eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TripStation]
    val q = StreamingEtl.punctuatedStationDayAgg(input.toDS(), emitEveryMs = 300000L)
      .writeStream.format("memory").queryName("punct").outputMode("update").start()
    try {
      input.addData(
        TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0),
        TripStation("A", ts("2024-01-01 11:00:00"), "purchase", 30.0))
      q.processAllAvailable()
      // First trigger runs at watermark 0, so the group's event-time timer
      // (wm + 5min) is already in the past for the follow-up batch: we see
      // the update emission AND the punctuate snapshot, identical content —
      // the reference's punctuator forwards unchanged aggregates too.
      val first = spark.table("punct").collect()
      assert(first.nonEmpty)
      assert(first.forall(_.getAs[Long]("startedTrips") == 2L))
      assert(first.forall(_.getAs[Double]("avgTemperature") == 20.0))
      val emissionsAfterDay1 = first.length

      // Advance event time far past day 1 + watermark(1d): group A's state
      // was evicted at punctuation; a late day-1 event is now dropped by the
      // watermark (documented divergence from the reference, which would
      // restart the group from zero — SURVEY.md §7.4(2)).
      input.addData(TripStation("B", ts("2024-01-04 00:00:00"), "view", 1.0))
      q.processAllAvailable()
      input.addData(TripStation("A", ts("2024-01-01 12:00:00"), "purchase", 99.0))
      q.processAllAvailable()

      val all = spark.table("punct").collect()
      val aRows = all.filter(r => r.getAs[String]("stationName") == "A")
      // no A emission gained a third trip: the late event never reached state
      assert(aRows.length >= emissionsAfterDay1)
      assert(aRows.forall(_.getAs[Long]("startedTrips") == 2L))
      val bRows = all.filter(r => r.getAs[String]("stationName") == "B")
      assert(bRows.nonEmpty)
      assert(bRows.forall(_.getAs[Long]("endedTrips") == 1L))
    } finally q.stop()
  }

  test("full-snapshot punctuation re-emits UNCHANGED groups at each boundary (exact T2)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TripStation]
    val q = StreamingEtl.punctuatedFullSnapshotAgg(input.toDS(), punctuateEveryMs = 300000L)
      .writeStream.format("memory").queryName("snap").outputMode("update").start()
    try {
      // batch 1: two groups, same day. Data is processed at watermark 0 and
      // forwards NOTHING (punctuation cadence, not update mode); the drain
      // then advances the watermark past the first aligned boundary and the
      // trailing timeout batch runs the first full-store sweep: BOTH groups
      // forward exactly one snapshot.
      input.addData(
        TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0),
        TripStation("B", ts("2024-01-01 10:30:00"), "view", 4.0))
      q.processAllAvailable()
      val after1 = spark.table("snap").collect()
      assert(after1.count(_.getAs[String]("stationName") == "A") == 1)
      assert(after1.count(_.getAs[String]("stationName") == "B") == 1)
      assert(after1.filter(_.getAs[String]("stationName") == "A")
        .forall(_.getAs[Long]("startedTrips") == 1L))

      // batch 2: data for A only, then the watermark crosses the next
      // boundary — the sweep must re-emit group B too, UNCHANGED: that is
      // the reference punctuator's re-emit-all cadence, which the per-group
      // -timer variant does not reproduce.
      input.addData(TripStation("A", ts("2024-01-01 12:00:00"), "purchase", 30.0))
      q.processAllAvailable()
      val after2 = spark.table("snap").collect()
      val a2 = after2.filter(_.getAs[String]("stationName") == "A")
      val b2 = after2.filter(_.getAs[String]("stationName") == "B")
      assert(a2.length == 2, s"A emitted ${a2.length} times")
      assert(a2.map(_.getAs[Long]("startedTrips")).toSet == Set(1L, 2L))
      assert(b2.length == 2)
      assert(b2.forall(_.getAs[Long]("endedTrips") == 1L)) // identical re-emits

      // batch parity: the latest snapshot per group equals the batch aggregate
      val batchResult = TripEtl.stationDayAgg(enrichedDf(Seq(
        TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0),
        TripStation("B", ts("2024-01-01 10:30:00"), "view", 4.0),
        TripStation("A", ts("2024-01-01 12:00:00"), "purchase", 30.0))))
        .collect().map(r => r.getAs[String]("station_name") -> r).toMap
      Seq("A", "B").foreach { k =>
        val got = after2.filter(_.getAs[String]("stationName") == k)
          .maxBy(_.getAs[Timestamp]("updateTime").getTime)
        val want = batchResult(k)
        assert(got.getAs[Long]("startedTrips") == want.getAs[Long]("started_trips"), k)
        assert(got.getAs[Long]("endedTrips") == want.getAs[Long]("ended_trips"), k)
        assert(got.getAs[Timestamp]("updateTime") == want.getAs[Timestamp]("update_time"), k)
      }

      // day closes (watermark past 2024-01-02): day-1 groups forward a final
      // snapshot and are EVICTED — no further emissions at later boundaries
      input.addData(TripStation("D", ts("2024-01-03 12:00:00"), "view", 1.0))
      q.processAllAvailable()
      val closedA = spark.table("snap").collect()
        .count(_.getAs[String]("stationName") == "A")
      input.addData(TripStation("D", ts("2024-01-03 18:00:00"), "view", 1.0))
      q.processAllAvailable()
      val afterMore = spark.table("snap").collect()
        .count(_.getAs[String]("stationName") == "A")
      assert(afterMore == closedA, "evicted day-1 group re-emitted after close")
    } finally q.stop()
  }

  test("transformWithState full-snapshot processor matches the fMGWS sweep semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.conf
    val savedProvider = conf.getOption("spark.sql.streaming.stateStore.providerClass")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TripStation]
    val q = StreamingEtl.punctuatedFullSnapshotAggTws(input.toDS(), punctuateEveryMs = 300000L)
      .writeStream.format("memory").queryName("snaptws").outputMode("update").start()
    try {
      // identical scenario to the fMGWS test: first drain sweeps both
      // groups once via the shared aligned timer
      input.addData(
        TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0),
        TripStation("B", ts("2024-01-01 10:30:00"), "view", 4.0))
      q.processAllAvailable()
      val after1 = spark.table("snaptws").collect()
      assert(after1.count(_.getAs[String]("stationName") == "A") == 1)
      assert(after1.count(_.getAs[String]("stationName") == "B") == 1)

      // data for A only; the boundary sweep re-emits UNCHANGED B too —
      // and under TWS the timer fires even for data-carrying keys, no
      // armed-boundary state needed
      input.addData(TripStation("A", ts("2024-01-01 12:00:00"), "purchase", 30.0))
      q.processAllAvailable()
      val after2 = spark.table("snaptws").collect()
      val a2 = after2.filter(_.getAs[String]("stationName") == "A")
      val b2 = after2.filter(_.getAs[String]("stationName") == "B")
      assert(a2.map(_.getAs[Long]("startedTrips")).toSet == Set(1L, 2L), a2.mkString(","))
      assert(b2.length == 2 && b2.forall(_.getAs[Long]("endedTrips") == 1L))

      // day close: final snapshot then eviction — no emissions afterwards
      input.addData(TripStation("D", ts("2024-01-03 12:00:00"), "view", 1.0))
      q.processAllAvailable()
      val closedA = spark.table("snaptws").collect()
        .count(_.getAs[String]("stationName") == "A")
      input.addData(TripStation("D", ts("2024-01-03 18:00:00"), "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("snaptws").collect()
        .count(_.getAs[String]("stationName") == "A") == closedA)
    } finally {
      q.stop()
      savedProvider match {
        case Some(v) => conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("TWS punctuation query killed under fire recovers exactly-once state from its checkpoint") {
    import spark.implicits._
    val conf = spark.conf
    val savedProvider = conf.getOption("spark.sql.streaming.stateStore.providerClass")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-chaos-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chaos-ckpt").toString
    // durable FILE source (not MemoryStream): offsets name files, so the
    // restart is deterministic no matter where the kill lands — a file is
    // either committed (skipped on recovery) or not (reprocessed), never half
    def addFile(rows: TripStation*): Unit =
      rows.toSeq.toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val emissions = new scala.collection.mutable.ArrayBuffer[graft.model.AggregatedInfo]()
    def sink(ds: org.apache.spark.sql.Dataset[graft.model.AggregatedInfo], id: Long): Unit =
      emissions.synchronized { emissions ++= ds.collect() }
    def start() =
      StreamingEtl.punctuatedFullSnapshotAggTws(
        spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[TripStation].schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir).as[TripStation],
        punctuateEveryMs = 300000L)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink _)
        .start()

    val aAndB = Seq(
      TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0),
      TripStation("A", ts("2024-01-01 11:00:00"), "purchase", 30.0),
      TripStation("B", ts("2024-01-01 10:30:00"), "view", 4.0),
      TripStation("A", ts("2024-01-01 12:00:00"), "purchase", 20.0))
    try {
      val q1 = start()
      addFile(aAndB(0), aAndB(1), aAndB(2))
      q1.processAllAvailable() // file 1 committed: A=2 trips, B=1 in state
      // KILL UNDER FIRE: drop file 2 in and stop immediately — the batch may
      // be mid-flight, committed, or not-yet-started when stop() lands; the
      // recovery contract is that ALL THREE races converge to the same state
      addFile(aAndB(3))
      q1.stop()

      val q2 = start()
      q2.processAllAvailable() // file 2 lands exactly once (or was committed)
      // flush: push the watermark past day 1 so every surviving group emits
      // its final snapshot through the timer sweep, then evicts
      addFile(TripStation("Z", ts("2024-01-05 00:00:00"), "view", 1.0))
      q2.processAllAvailable()
      addFile(TripStation("Z", ts("2024-01-05 06:00:00"), "view", 1.0))
      q2.processAllAvailable()
      q2.stop()

      // the LAST emission per station is the final snapshot; it must equal
      // the batch aggregate over the full input — state survived the kill,
      // and the refire neither lost file 2 nor double-counted it
      val last = emissions.synchronized {
        emissions.filter(e => Set("A", "B")(e.stationName))
          .groupBy(_.stationName).map { case (k, es) => k -> es.last }
      }
      val batch = TripEtl.stationDayAgg(enrichedDf(aAndB)).collect()
        .map(r => r.getAs[String]("station_name") -> r).toMap
      assert(last.keySet == batch.keySet, s"${last.keySet} vs ${batch.keySet}")
      last.foreach { case (k, got) =>
        val want = batch(k)
        assert(got.startedTrips == want.getAs[Long]("started_trips"), k)
        assert(got.endedTrips == want.getAs[Long]("ended_trips"), k)
        assert(got.avgTemperature.contains(want.getAs[Double]("avg_temperature")), k)
        assert(got.updateTime == want.getAs[Timestamp]("update_time"), k)
      }
      // and no intermediate emission ever OVERSHOT the true total (the
      // double-count signature a replayed file would leave)
      emissions.synchronized {
        emissions.filter(_.stationName == "A").foreach { e =>
          assert(e.startedTrips <= 3L, e)
        }
      }
    } finally {
      savedProvider match {
        case Some(v) => conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming window anomalies emit scored windows (anomalies-topic path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TripStation]
    val enriched = input.toDF()
      .withColumnRenamed("tripTime", "trip_time")
      .withColumnRenamed("stationName", "station_name")
      .withColumnRenamed("tripType", "trip_type")
      .withColumn("station_nation", lit(4)) // total_docks = 5
    val q = StreamingEtl.windowAnomaliesStreaming(enriched, 360, 50)
      .writeStream.format("memory").queryName("anom").outputMode("update").start()
    try {
      // 3 returns, 0 rentals in one window at docks=5 -> ratio 0.6 > 0.5
      input.addData(
        TripStation("A", ts("2024-01-01 00:10:00"), "view", 1.0),
        TripStation("A", ts("2024-01-01 00:20:00"), "view", 1.0),
        TripStation("A", ts("2024-01-01 00:30:00"), "view", 1.0),
        TripStation("B", ts("2024-01-01 00:10:00"), "purchase", 1.0),
        TripStation("B", ts("2024-01-01 00:20:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("anom").collect()
        .map(r => r.getAs[String]("station_name") -> r).toMap
      assert(rows("A").getAs[Long]("returned_over_rented") == 3L)
      assert(rows("A").getAs[Boolean]("is_anomaly"))
      assert(rows("B").getAs[Long]("returned_over_rented") == 0L)
      assert(!rows("B").getAs[Boolean]("is_anomaly"))

      // Kafka-shaped sink projection of the anomaly stream round-trips
      val rec = StreamingEtl.toKafkaShape(
        spark.table("anom"), Seq("station_name", "window_start")).collect()
      assert(rec.nonEmpty)
      assert(rec.forall(_.getAs[String]("value").contains("is_anomaly")))
    } finally q.stop()
  }

  test("checkpointed query restarts from its checkpoint without reprocessing (T6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString

    // memory sink is not fault-tolerant; foreachBatch is the standard
    // checkpoint-recoverable sink
    val emissions = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def sink(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      emissions.synchronized {
        emissions ++= df.collect().map(r =>
          (r.getAs[String]("station_name"), r.getAs[Long]("started_trips")))
      }
    def start(input: MemoryStream[TripStation]) =
      StreamingEtl.stationDayAggStreaming(
        input.toDF()
          .withColumnRenamed("tripTime", "trip_time")
          .withColumnRenamed("stationName", "station_name")
          .withColumnRenamed("tripType", "trip_type"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink _)
        .start()

    val input1 = MemoryStream[TripStation]
    val q1 = start(input1)
    input1.addData(TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 10.0))
    q1.processAllAvailable()
    assert(emissions.synchronized(emissions.contains(("A", 1L))))
    q1.stop()

    // restart against the SAME checkpoint with a fresh source: committed
    // state survives the restart — the next event lands on top of the old
    // count. (MemoryStream offsets are positional, so data is added only
    // AFTER the restart; a pre-start batch would alias committed offsets.)
    val input2 = MemoryStream[TripStation]
    // this batch aliases the already-committed offset 1 → it must be
    // SKIPPED on recovery (exactly-once, no reprocessing): the sentinel
    // station "SKIPPED" must never reach the sink
    input2.addData(TripStation("SKIPPED", ts("2024-01-01 10:30:00"), "purchase", 1.0))
    val q2 = start(input2)
    input2.addData(TripStation("A", ts("2024-01-01 11:00:00"), "purchase", 30.0))
    q2.processAllAvailable()
    q2.stop()
    emissions.synchronized {
      // state restored: count includes the pre-restart event (2, not 1)
      assert(emissions.contains(("A", 2L)), emissions)
      // committed offset range was not re-read
      assert(!emissions.exists(_._1 == "SKIPPED"), emissions)
    }
  }

  test("streaming parquet file sink is exactly-once across restart (S7 streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-psink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-psink-ckpt").toString
    def start(input: MemoryStream[TripStation]) =
      input.toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()

    val input1 = MemoryStream[TripStation]
    val q1 = start(input1)
    input1.addData(TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 1.0))
    q1.processAllAvailable()
    q1.stop()

    // restart on the same checkpoint: the batch aliasing the committed
    // offset must be SKIPPED (file-sink manifest + offset log), only the
    // post-restart batch lands
    val input2 = MemoryStream[TripStation]
    input2.addData(TripStation("SKIPPED", ts("2024-01-01 10:30:00"), "view", 1.0))
    val q2 = start(input2)
    input2.addData(TripStation("B", ts("2024-01-01 11:00:00"), "view", 2.0))
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(out).collect().map(_.getAs[String]("stationName"))
    assert(rows.sorted.toSeq == Seq("A", "B"), rows.mkString(","))
  }

  test("streaming dedup drops replayed content across microbatches, state bounded by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF()
      .withColumnRenamed("_1", "doc_id")
      .withColumnRenamed("_2", "text")
      .withColumnRenamed("_3", "ingest_ts")
    val q = StreamingEtl.dedupedDocsStreaming(docs)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData((1L, "alpha", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // same content replayed in a LATER microbatch within the watermark →
      // dropped; new content kept
      input.addData(
        (2L, "alpha", ts("2024-01-01 10:05:00")),
        (3L, "beta", ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      val kept = spark.table("dedup").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(1L, 3L), kept.mkString(","))
    } finally q.stop()
  }

  test("stream-stream interval join matches errors in the preceding hour only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (event_id, user_id, ts) rows fed as two independent streams
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val errors = MemoryStream[(Long, Long, Timestamp)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumnRenamed("_1", "event_id")
      .withColumnRenamed("_2", "user_id")
      .withColumnRenamed("_3", "ts")
    val q = StreamingEtl.purchasesWithRecentErrors(
      shape(purchases.toDF()), shape(errors.toDF()), windowMinutes = 60)
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      errors.addData(
        (100L, 1L, ts("2024-01-01 09:30:00")), // 30 min before -> matches
        (101L, 1L, ts("2024-01-01 08:30:00")), // 90 min before -> outside window
        (102L, 2L, ts("2024-01-01 09:45:00"))) // other user
      purchases.addData((1L, 1L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("error_id")))
      assert(rows.toSet == Set((1L, 100L)), rows.mkString(","))
    } finally q.stop()
  }

  test("streaming session_window merges bursts within the gap, splits across it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TripStation]
    val enriched = input.toDF()
      .withColumnRenamed("tripTime", "trip_time")
      .withColumnRenamed("stationName", "station_name")
      .withColumnRenamed("tripType", "trip_type")
    val q = StreamingEtl.sessionizedStreaming(enriched, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      // burst 1 (10:00, 10:10) and a second batch event at 10:25 — all
      // within the 30-min gap: MERGE into one session. 12:00 is > gap away:
      // a separate session.
      input.addData(
        TripStation("A", ts("2024-01-01 10:00:00"), "purchase", 1.0),
        TripStation("A", ts("2024-01-01 10:10:00"), "view", 1.0))
      q.processAllAvailable()
      input.addData(
        TripStation("A", ts("2024-01-01 10:25:00"), "view", 1.0),
        TripStation("A", ts("2024-01-01 12:00:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getAs[Timestamp]("session_start"), r.getAs[Long]("n_events")))
        .sortBy(_._1.getTime)
      assert(rows.length == 2, rows.mkString(","))
      assert(rows.head == (ts("2024-01-01 10:00:00"), 3L)) // merged across batches
      assert(rows.last == (ts("2024-01-01 12:00:00"), 1L))
    } finally q.stop()
  }

  test("producer replay: CSV directory -> JSON records -> parseTrips round-trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-replay")
    // two files so the directory walk + per-file throttle are exercised;
    // header row in each (the reference's contains("trip_id") filter)
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "tripId,tripTime,tripType,stationId,temperature\n" +
        "1,2024-01-01 10:00:00,purchase,168,10.5\n" +
        "2,2024-01-01 11:00:00,view,7,20.0\n")
    java.nio.file.Files.writeString(dir.resolve("b.csv"),
      "tripId,tripTime,tripType,stationId,temperature\n" +
        "3,2024-01-01 12:00:00,purchase,168,30.25\n")

    val q = StreamingEtl.producerReplay(spark, dir.toString,
      stationFilter = Some(168L))
      .writeStream.format("memory").queryName("replay").outputMode("append").start()
    try {
      q.processAllAvailable()
      val recs = spark.table("replay").collect()
      // header rows dropped, station filter applied: trips 1 and 3 only
      assert(recs.length == 2)
      assert(recs.forall(r => r.getAs[String]("key").startsWith("{\"tripId\":")))

      // the emitted JSON is exactly what the consumer boundary parses:
      // replay value -> parseTrips recovers the typed trips
      val parsed = TripEtl.parseTrips(
        spark.table("replay").select("value"))
        .orderBy("tripId").collect()
      assert(parsed.map(_.getAs[Long]("tripId")).toSeq == Seq(1L, 3L))
      assert(parsed.map(_.getAs[Long]("stationId")).toSeq == Seq(168L, 168L))
      assert(parsed.map(_.getAs[Double]("temperature")).toSeq == Seq(10.5, 30.25))
      assert(parsed.head.getAs[Timestamp]("tripTime") == ts("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("streaming MinHash-LSH flags near-dup candidates across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = StreamingEtl.nearDupCandidatesStreaming(docs)
      .writeStream.format("memory").queryName("snddup").outputMode("append").start()
    try {
      val base = (1 to 12).map(i => s"w$i").mkString(" ")
      input.addData((1L, base, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("snddup").collect().isEmpty) // nothing to pair yet

      // a LATER microbatch: near-dup of doc 1 (same first 10 tokens) plus
      // an unrelated doc — only the near-dup shares band keys with state
      input.addData(
        (2L, (1 to 10).map(i => s"w$i").mkString(" ") + " x11 x12",
          ts("2024-01-01 10:05:00")),
        (3L, (1 to 12).map(i => s"z$i").mkString(" "), ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      val pairs = spark.table("snddup").collect()
        .map(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB"))).toSet
      assert(pairs == Set((1L, 2L)), pairs.mkString(","))

      // replays of an already-registered doc do not re-emit its pairs
      input.addData((2L, (1 to 10).map(i => s"w$i").mkString(" ") + " x11 x12",
        ts("2024-01-01 10:07:00")))
      q.processAllAvailable()
      val n = spark.table("snddup").collect()
        .count(r => (r.getAs[Long]("docA"), r.getAs[Long]("docB")) == ((1L, 2L)))
      val distinctBands = spark.table("snddup").collect()
        .map(_.getAs[Int]("band")).distinct.length
      assert(n == distinctBands, s"replay re-emitted: $n pairs over $distinctBands bands")
    } finally q.stop()
  }

  test("stateless text operators compose unchanged onto a stream (PII redact + sample)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // redactPii and stratifiedSample are pure per-row plans, so the SAME
    // operator call runs on a streaming frame — no streaming-specific
    // variant needed; this pins that composition property
    val input = MemoryStream[(Long, String, String, String, Long)]
    val docs = input.toDF()
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = graft.operators.TextOps.redactPii(
      graft.operators.TextOps.stratifiedSample(docs,
        rates = Map("en" -> 1.0), defaultRate = 0.0))
      .writeStream.format("memory").queryName("stream_pii").outputMode("append").start()
    try {
      input.addData(
        (1L, "mail bob@x.io now", "en", "s", 0L),
        (2L, "kept text", "en", "s", 0L),
        (3L, "dropped stratum", "de", "s", 0L))
      q.processAllAvailable()
      val rows = spark.table("stream_pii").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("redacted_text")).toMap
      assert(!rows.contains(3L)) // de stratum sampled out at rate 0
      assert(rows(1L) == "mail <EMAIL> now")
      assert(rows(2L) == "kept text")
    } finally q.stop()
  }

  test("toKafkaShape produces key/value JSON strings that round-trip") {
    import spark.implicits._
    val df = Seq(("A", 2L, 20.0)).toDF("station_name", "started", "avg_temp")
    val rec = StreamingEtl.toKafkaShape(df, Seq("station_name")).collect().head
    assert(rec.getAs[String]("key") == """{"station_name":"A"}""")
    val parsed = Seq(rec.getAs[String]("value")).toDF("value")
      .select(from_json(col("value"), df.schema).as("v")).select("v.*").collect().head
    assert(parsed.getAs[Long]("started") == 2L)
    assert(parsed.getAs[Double]("avg_temp") == 20.0)
  }

  test("streaming heavy hitters: MG superset guarantee across micro-batches, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 5
    val input = MemoryStream[(String, Long)]
    val q = StreamingEtl.heavyHittersStreaming(
        input.toDF().toDF("event_type", "user_id"), k = k)
      .writeStream.format("memory").queryName("hh").outputMode("update").start()
    try {
      // planted skew: user 7 dominates type "click" across BOTH batches;
      // the noise users rotate so no single one crosses N/k
      val batch1 = (1 to 30).map(i => ("click", 7L)) ++
        (1 to 20).map(i => ("click", 100L + i))
      val batch2 = (1 to 25).map(i => ("click", 7L)) ++
        (1 to 20).map(i => ("click", 200L + i)) ++
        (1 to 3).map(i => ("view", 9L))
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val rows = spark.table("hh").collect()
        .map(r => (r.getAs[String]("eventType"), r.getAs[Long]("nTotal"),
          r.getAs[scala.collection.Seq[Long]]("candidates")))
      // last click emission covers the full prefix
      val lastClick = rows.filter(_._1 == "click").maxBy(_._2)
      assert(lastClick._2 == batch1.length + batch2.count(_._1 == "click"))
      // user 7 has true count 55 > N/k = 95/5 = 19 -> MUST be a candidate
      assert(lastClick._3.contains(7L))
      // bounded state surfaces as a bounded candidate list
      rows.foreach { case (_, _, cands) => assert(cands.size <= k - 1) }
      val lastView = rows.filter(_._1 == "view").maxBy(_._2)
      assert(lastView._2 == 3L && lastView._3.contains(9L))
    } finally q.stop()
  }

  test("streaming SCD2: runs close across micro-batches with O(1) open-run state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp, Long)]
    val q = StreamingEtl.scd2Streaming(
        input.toDF().toDF("user_id", "event_type", "ts", "event_id"))
      .writeStream.format("memory").queryName("scd2").outputMode("update").start()
    try {
      // batch 1: user 1 view view click -> one closed view run + open click
      input.addData(
        (1L, "view", ts("2024-01-01 10:00:00"), 1L),
        (1L, "view", ts("2024-01-01 10:05:00"), 2L),
        (1L, "click", ts("2024-01-01 10:10:00"), 3L))
      q.processAllAvailable()
      val after1 = spark.table("scd2").collect()
      val closed1 = after1.filter(!_.getAs[Boolean]("isCurrent"))
      assert(closed1.length == 1)
      assert(closed1.head.getAs[String]("eventType") == "view" &&
        closed1.head.getAs[Long]("nEvents") == 2L &&
        closed1.head.getAs[Timestamp]("validTo") == ts("2024-01-01 10:10:00"))
      val open1 = after1.filter(_.getAs[Boolean]("isCurrent"))
      assert(open1.length == 1 && open1.head.getAs[String]("eventType") == "click" &&
        open1.head.getAs[Timestamp]("validTo") == null)

      // batch 2: the CARRIED open click run closes against a new view run —
      // state crossed the batch boundary; the open view run re-emits
      input.addData((1L, "view", ts("2024-01-01 10:20:00"), 4L))
      q.processAllAvailable()
      val all = spark.table("scd2").collect()
      val closed = all.filter(!_.getAs[Boolean]("isCurrent"))
        .map(r => (r.getAs[String]("eventType"),
          r.getAs[Timestamp]("validFrom"), r.getAs[Timestamp]("validTo"),
          r.getAs[Long]("nEvents"))).toSet
      assert(closed == Set(
        ("view", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L),
        ("click", ts("2024-01-01 10:10:00"), ts("2024-01-01 10:20:00"), 1L)))
      // matches the batch operator on the same archive (closed rows; the
      // open run differs only in its refresh cadence)
      val archive = Seq(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
        (2L, ts("2024-01-01 10:05:00"), 1L, "view", 0.0, "{}"),
        (3L, ts("2024-01-01 10:10:00"), 1L, "click", 0.0, "{}"),
        (4L, ts("2024-01-01 10:20:00"), 1L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batchClosed = graft.operators.Relational.scd2UserState(archive)
        .filter(!col("is_current")).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Timestamp]("valid_from"),
          r.getAs[Timestamp]("valid_to"), r.getAs[Long]("n_events"))).toSet
      assert(batchClosed == closed)
    } finally q.stop()
  }

  test("streaming SCD2: a null event_type continues a run, and the row after it opens one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp, Long)]
    val q = StreamingEtl.scd2Streaming(
        input.toDF().toDF("user_id", "event_type", "ts", "event_id"))
      .writeStream.format("memory").queryName("scd2nulls").outputMode("update").start()
    try {
      // the null ends batch 1, so the open run carries it across the boundary
      input.addData(
        (1L, "view", ts("2024-01-01 10:00:00"), 1L),
        (1L, null, ts("2024-01-01 10:05:00"), 2L))
      q.processAllAvailable()
      input.addData((1L, "view", ts("2024-01-01 10:10:00"), 3L))
      q.processAllAvailable()
      val rows = spark.table("scd2nulls").collect()
      val closed = rows.filter(!_.getAs[Boolean]("isCurrent"))
        .map(r => (r.getAs[String]("eventType"), r.getAs[Timestamp]("validFrom"),
          r.getAs[Timestamp]("validTo"), r.getAs[Long]("nEvents"))).toSet
      val current = rows.filter(_.getAs[Boolean]("isCurrent"))
        .maxBy(_.getAs[Timestamp]("validFrom").getTime)
      val archive = Seq(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
        (2L, ts("2024-01-01 10:05:00"), 1L, null),
        (3L, ts("2024-01-01 10:10:00"), 1L, "view"))
        .toDF("event_id", "ts", "user_id", "event_type")
      val oneShot = graft.operators.Relational.scd2UserState(archive).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Timestamp]("valid_from"),
          r.getAs[Timestamp]("valid_to"), r.getAs[Long]("n_events"))).toSet
      // the one-shot build: {view, null} then {view}, two runs
      assert(oneShot == Set(
        ("view", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L),
        ("view", ts("2024-01-01 10:10:00"), null, 1L)))
      assert(closed + ((current.getAs[String]("eventType"),
        current.getAs[Timestamp]("validFrom"), null, current.getAs[Long]("nEvents"))) ==
        oneShot, rows.mkString("\n"))
    } finally q.stop()
  }

  test("streaming histogram sketch: cross-batch counts equal the batch histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val (lo, hi) = (0.0, 100.0)
    val q = StreamingEtl.valueHistogramStreaming(
        input.toDF().toDF("event_type", "value"), lo, hi, buckets = 16)
      .writeStream.format("memory").queryName("histsketch")
      .outputMode("update").start()
    try {
      val batch1 = Seq(("purchase", 1.0), ("purchase", 7.0), ("error", 99.9),
        ("purchase", 6.26), ("error", 0.0))
      val batch2 = Seq(("purchase", 1.5), ("purchase", 50.0), ("error", 99.0),
        ("purchase", 100.0)) // 100.0 clamps into the last bucket
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // Update mode re-emits refreshed rows; the latest emission per
      // (type, bucket) is the maintained count
      val streamed = spark.table("histsketch").collect()
        .groupBy(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket")))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("cnt")).max }
      val width = (hi - lo) / 16
      val expected = (batch1 ++ batch2)
        .groupBy { case (t, v) =>
          (t, math.min(15L, math.max(0L, math.floor((v - lo) / width).toLong))) }
        .map { case (k, vs) => k -> vs.size.toLong }
      assert(streamed == expected)
      // state is bucket-bounded: no (type, bucket) pair exceeds the grid
      assert(streamed.keys.forall { case (_, b) => b >= 0 && b < 16 })
    } finally q.stop()
  }

  test("streaming histogram sketch over the real events stream equals the batch histogram") {
    val dir = "/root/testdata/sf0.001"
    val staged = java.nio.file.Files.createTempDirectory("graft-hist-probe")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = StreamingEtl.valueHistogramStreaming(
        StreamingEtl.readEventsStream(spark, staged.toString), lo = 0.0, hi = 100.0)
      .writeStream.format("memory").queryName("hist_real")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // update mode re-emits refreshed rows; counts only grow, so the max
      // per (type, bucket) is the maintained count
      val streamed = spark.table("hist_real")
        .groupBy("event_type", "bucket").agg(max(col("cnt")).as("cnt"))
      val batch = StreamingEtl.valueHistogramStreaming(
        graft.sources.Tables.events(spark, dir), lo = 0.0, hi = 100.0)
      assert(batch.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming covariance: maintained d2-cell grid equals the batch operator cell for cell") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingCovariance.covarianceStream(
        input.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("cov_stream")
      .outputMode("update").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      // update mode re-emits refreshed cells; the maintained grid is the
      // LATEST emission per (i, j) = the one with the largest count
      val streamed = spark.table("cov_stream").collect()
        .groupBy(r => (r.getAs[Int]("i"), r.getAs[Int]("j")))
        .map { case (k, rs) =>
          val last = rs.maxBy(_.getAs[Long]("n_vectors"))
          k -> ((last.getAs[Long]("n_vectors"), last.getAs[Double]("cov")))
        }
      val batch = Similarity.covarianceMatrix(emb).collect()
        .map { r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
          ((r.getAs[Long]("n_vectors"), r.getAs[Double]("cov"))) }.toMap
      // decimal-exact moments + the identical finishing tree: the
      // streamed snapshot must EQUAL the batch grid, not approximate it
      assert(streamed == batch,
        s"${streamed.size} streamed cells vs ${batch.size} batch cells")
    } finally q.stop()
  }

  test("streaming HNSW ingest: incrementally built graph equals the batch build edge for edge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.sources.Tables
    // real vectors, streamed in FOUR ascending-id micro-batches (the
    // ingest contract: new corpus additions get new, larger ids); the
    // accumulated candidate log, snapshot-ranked, must equal a
    // from-scratch batch build over the same vectors — the index is
    // maintainable without rebuilds
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val n = rows.length.toLong
    val bits = Similarity.autoBits(n)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingHnsw.candidateEdges(
        input.toDF().toDF("vec_id", "embedding"), bits = bits)
      .writeStream.format("memory").queryName("hnsw_ingest")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      val streamed = graft.streaming.StreamingHnsw.snapshotEdges(
        emb, spark.table("hnsw_ingest")).collect().map(_.toSeq).toSet
      val batch = Similarity.hnswBuild(emb, knownCount = n)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream-built graph diverged: ${streamed.size} vs ${batch.size} edges")
      // the candidate log is append-only and duplicate-tolerant: feeding
      // NOTHING more and snapshotting again is a no-op (publish-once
      // refresh discipline)
      val again = graft.streaming.StreamingHnsw.snapshotEdges(
        emb, spark.table("hnsw_ingest")).collect().map(_.toSeq).toSet
      assert(again == batch)
    } finally q.stop()
  }

  test("streaming count-min: the maintained grid's estimates equal the batch sketch row for row") {
    // per-cell counts are mergeable state, so the update-mode streaming
    // aggregate over the SHARED grid pipeline must converge to the batch
    // grid exactly — same argument as the covariance moments, checked
    // end-to-end through the probe/verify tail
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSnapshots
      .cmStreamCounts(spark, dir).collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational
      .countMinCounts(graft.sources.Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming HLL: the maintained registers' estimates equal the batch sketch row for row") {
    // register maxima are idempotent mergeable state (the strongest
    // algebra in the streaming-maintenance family — replays are free,
    // not just mergeable), so the update-mode streaming aggregate over
    // the SHARED hash/rho projection must converge to the batch register
    // table exactly — checked end-to-end through the estimate tail
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSnapshots
      .hllStreamUsers(spark, dir).collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational
      .eventTypeHllUsers(graft.sources.Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("hnswStreamEdges covers a STRIDED-id corpus: stream == batch when ids are not dense in [0, n)") {
    import spark.implicits._
    // ids at i·10⁶ — the 10x scale replica's shape, and the case the
    // original n·c/chunks chunk bounds silently DROPPED (only ids < n
    // were ever staged; the streamed graph covered a fraction of the
    // corpus while the dense-id driver gate stayed green). Range-quarter
    // bounds must stage every vector whatever the id distribution.
    val rnd = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("hnsw_stride").toString
    (0L until 40L).map { i =>
      i * 1000000L -> Seq.fill(64)(rnd.nextGaussian().toFloat)
    }.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val streamed = graft.streaming.StreamingSnapshots
      .hnswStreamEdges(spark, dir).collect().map(_.toSeq).toSet
    val batch = graft.operators.Similarity.hnswBuild(
        graft.sources.Tables.embeddings(spark, dir), knownCount = 40L)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"strided-id stream diverged: ${streamed.size} vs ${batch.size} edges")
    assert(batch.nonEmpty)
  }

  test("streaming MinHash dedup: the maintained band-bucket state yields the batch pairs verbatim") {
    // the text-side streaming-maintenance proof: four ascending-doc_id
    // chunk arrivals through the real file-source harness, candidate log
    // appended across micro-batches, batch verify tail — must equal the
    // batch minhashPairs output row for row (the candidate-set equality
    // argument in StreamingMinhash's scaladoc, checked end to end)
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSnapshots
      .minhashStreamPairs(spark, dir).collect().map(_.toSeq).toSet
    val batch = graft.operators.TextOps
      .minhashPairs(graft.sources.Tables.documents(spark, dir),
        n = 5, threshold = 0.7)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streamed dedup diverged: ${streamed.size} vs ${batch.size} pairs")
    assert(batch.nonEmpty, "fixture has no near-dup pairs — vacuous test")
  }

  test("minhashStreamPairs covers a STRIDED-id corpus: stream == batch when ids are not dense") {
    import spark.implicits._
    // the hnswStreamEdges lesson applied to the text side: ids at i·10⁶
    // (the 10x replica's shape) must all be staged by the range-quarter
    // chunk bounds; duplicate texts guarantee same-bucket collisions so
    // the candidate path is actually exercised
    def sentence(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until 40).map(_ => s"w${r.nextInt(30)}").mkString(" ")
    }
    val dir = java.nio.file.Files.createTempDirectory("mh_stride").toString
    (0L until 30L).map { i =>
      // 10 base sentences, each repeated 3x at strided ids -> real dups
      (i * 1000000L, sentence((i % 10).toInt), "en", "synth", 200L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val streamed = graft.streaming.StreamingSnapshots
      .minhashStreamPairs(spark, dir).collect().map(_.toSeq).toSet
    val batch = graft.operators.TextOps
      .minhashPairs(graft.sources.Tables.documents(spark, dir),
        n = 5, threshold = 0.7)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"strided-id stream diverged: ${streamed.size} vs ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming MinHash dedup: a non-monotone doc_id arrival fails the stream loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two IDENTICAL texts share every band bucket; id 2 commits in batch
    // 1, id 1 arrives in batch 2 — the per-bucket high-water-mark check
    // must kill the query instead of silently emitting a misoriented or
    // duplicate pair (the StreamingHnsw ingest-contract rule)
    val text = (0 until 40).map(i => s"tok$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingMinhash.candidatePairs(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("mh_ingest_bad")
      .outputMode("append").start()
    try {
      input.addData((2L, text))
      q.processAllAvailable()
      input.addData((1L, text))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def rootChain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(rootChain(e).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("ingest contract violated")),
        s"expected the contract IllegalStateException, got: $e")
    } finally q.stop()
  }

  test("streaming HNSW ingest: a non-monotone vec_id arrival fails the stream loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two IDENTICAL vectors land in the same buckets in every table; id 2
    // commits in batch 1, id 1 arrives in batch 2 — the ingest-contract
    // high-water-mark check must kill the query instead of silently
    // admitting a member set the batch cap would never produce
    // (round-10 advisor)
    val v = Seq.fill(64)(0.5f)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingHnsw.candidateEdges(
        input.toDF().toDF("vec_id", "embedding"), bits = 4)
      .writeStream.format("memory").queryName("hnsw_ingest_bad")
      .outputMode("append").start()
    try {
      input.addData((2L, v))
      q.processAllAvailable()
      input.addData((1L, v))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def rootChain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(rootChain(e).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("ingest contract violated")),
        s"expected the contract IllegalStateException, got: $e")
    } finally q.stop()
  }

  test("stream-stream as-of snapshot equals the batch asof_last_error row for row") {
    // the r12-verdict #1 promotion: the full event corpus through the
    // transformWithState join (time-range chunk landings + two-round
    // sentinel flush) must reproduce the batch window form exactly —
    // including row COUNT (every purchase released exactly once)
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSnapshots
      .asOfStreamLastError(spark, dir).collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational
      .lastErrorBeforePurchase(graft.sources.Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream diverged: ${streamed.size} vs ${batch.size} rows")
    assert(batch.nonEmpty)
  }

  test("stream-stream FORWARD as-of snapshot equals the batch asof_next_purchase row for row") {
    // the direction matrix's last gate promotion: the tolerance-bounded
    // earliest-after join (transformWithState) over the full event corpus
    // must reproduce the batch custom-operator query exactly
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSnapshots
      .asOfStreamNextPurchase(spark, dir).collect().map(_.toSeq).toSet
    val ev = graft.sources.Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = graft.plans.AsOf
      .forward(errors, purchases, "user_id", "p_user", "ts", "p_ts",
        tolerance = Some(3600L * 1000000L))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("p_ts").as("next_purchase_ts"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream diverged: ${streamed.size} vs ${batch.size} rows")
    assert(batch.nonEmpty)
  }

  test("streaming sessionization snapshot equals the batch sessionize relation") {
    // MERGING state proof: native session_window across four event-time
    // chunk landings + sentinel flush == the batch two-window form,
    // session for session (seq, bounds, counts, duration)
    val dir = "/root/testdata/sf0.001"
    val cols = Seq("user_id", "session_seq", "session_start", "session_end",
      "n_events", "duration_us").map(col)
    val streamed = graft.streaming.StreamingSnapshots
      .userSessionsStream(spark, dir).select(cols: _*)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational
      .sessionize(graft.sources.Tables.events(spark, dir), gapMinutes = 30)
      .select(cols: _*).collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream diverged: ${streamed.size} vs ${batch.size} sessions")
    assert(batch.nonEmpty)
  }

  test("streaming exact dedup snapshot keeps exactly the min-id copy per content") {
    // keep-first-arrival under the ascending-duplicate-rank ingest
    // contract == keep-min-id over the planted union (the batch
    // doc_dedup_docs semantics); planted replays at +maxId+1 must ALL
    // drop against cross-batch state
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars").map(col)
    val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = docs.select(cols: _*)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
        .select((col("doc_id") + off).as("doc_id") +: cols.tail: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
    val expected = planted.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingSnapshots
      .dedupStreamDocs(spark, dir).collect().map(_.toSeq).toSet
    assert(streamed == expected,
      s"stream diverged: ${streamed.size} vs ${expected.size} survivors")
    // the planting was not vacuous: replays existed and were dropped
    assert(expected.size < planted.count(),
      "fixture has no replays — vacuous dedup test")
  }

  test("streaming heavy hitters snapshot equals the batch two-pass operator") {
    // per-type MG candidate union (provable superset when 1/k < minFrac,
    // any arrival order) + the batch exact-recount tail == the batch
    // heavyUsers over the same planted-skew feed
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSnapshots
      .heavyStreamUsers(spark, dir).collect().map(_.toSeq).toSet
    val batch = graft.operators.Relational
      .heavyUsers(graft.operators.Relational.plantHeavyUsers(
        graft.sources.Tables.events(spark, dir)))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream diverged: ${streamed.size} vs ${batch.size} heavy users")
    assert(batch.nonEmpty, "no planted heavy users — vacuous test")
  }

  test("reshard pipeline snapshot matches the closed-form per-batch shard aggregates") {
    // tar landing -> streaming dedup -> tar sink, end to end: output
    // batches (rank-ordered) must carry exactly the contents whose MIN id
    // falls in that landing chunk — replays produce NO batch dirs at all
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (idLo, idHi) = (mm.getLong(0), mm.getLong(1))
    val off = idHi + 1L
    val halfSpan = idHi - idLo + 1L
    val u = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
        .select((col("doc_id") + off).as("doc_id"), col("text")))
    val expected = u
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("first_id"), min(col("text")).as("text"))
      .select(expr(s"((first_id - ${idLo}L) * 4L) div ${2L * halfSpan}L")
        .as("batch"), col("text"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(encode(col("text"), "UTF-8")).cast("long")).as("total_bytes"),
        bit_xor(graft.operators.TextOps.portableHash64(
          encode(col("text"), "UTF-8"))).as("content_hash"))
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingSnapshots
      .reshardStreamShards(spark, dir).collect().map(_.toSeq).toSet
    assert(streamed == expected,
      s"pipeline diverged:\n got $streamed\n exp $expected")
    // replays landed in chunks 2-3 and were all deduped: only the
    // original-id chunks may appear as output batches
    assert(streamed.nonEmpty && streamed.size <= 2)
  }

  // stream gate == its batch twin, columns compared by name (the oracle's
  // column-order-free comparison)
  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet

  private val sf0001 = "/root/testdata/sf0.001"

  private def assertGateEqualsBatch(gate: String, batch: => org.apache.spark.sql.DataFrame) = {
    val streamed = rowSet(SparkEntry.queries(gate)(spark, sf0001))
    val expected = rowSet(batch)
    assert(streamed == expected,
      s"$gate diverged: ${streamed.size} vs ${expected.size} rows")
    assert(expected.nonEmpty)
  }

  test("station_day_agg_stream snapshot equals the batch station_day_agg") {
    assertGateEqualsBatch("station_day_agg_stream",
      SparkEntry.queries("station_day_agg")(spark, sf0001))
  }

  test("station_day_agg_stream_tws snapshot equals the batch station_day_agg") {
    assertGateEqualsBatch("station_day_agg_stream_tws",
      SparkEntry.queries("station_day_agg")(spark, sf0001))
  }

  test("station_day_agg_stream_restart output equals the batch station_day_agg") {
    assertGateEqualsBatch("station_day_agg_stream_restart",
      SparkEntry.queries("station_day_agg")(spark, sf0001))
  }

  test("window_anomalies_stream snapshot equals the batch window_anomalies") {
    assertGateEqualsBatch("window_anomalies_stream",
      SparkEntry.queries("window_anomalies")(spark, sf0001))
  }

  test("asof_stream_last_error_restart output equals the batch asof_last_error") {
    // the batch twin of asOfStreamLastError (whose own spec pins
    // stream == batch above)
    assertGateEqualsBatch("asof_stream_last_error_restart",
      graft.operators.Relational.lastErrorBeforePurchase(
        graft.sources.Tables.events(spark, sf0001)))
  }

  test("emb_hnsw_stream_restart graph equals the batch hnswBuild") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    assertGateEqualsBatch("emb_hnsw_stream_restart",
      graft.operators.Similarity.hnswBuild(emb,
        knownCount = graft.sources.Tables.parquetRowCount(spark, sf0001, "embeddings")))
  }
}
