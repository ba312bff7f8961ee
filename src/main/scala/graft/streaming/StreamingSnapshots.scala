package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Relational, Similarity, TextOps, TripEtl}
import graft.sources.{Tables, TarShards}
import StreamGate.{drainOnce, ensureStaged, into, stageRanges, stageSplits}

/** The stream gates: `SparkEntry` queries that run a real Structured Streaming
  * job end to end and return its result in the shape of a batch twin, so
  * the batch twin's DuckDB oracle checks the streamed result. Input
  * arrives through the file source from a scratch staging of the corpus,
  * never from a MemoryStream, so the corpus is never collected into
  * memory. [[StreamGate]] runs every gate; each gate keeps only what it
  * stages, the operator it streams and its snapshot tail.
  *
  * State-partition sizing: every gate's state is bounded by a grid, a
  * sketch or the watermark, never by the corpus, so 4 shuffle partitions
  * (8 where the stateful compute itself is the cost) carry it at any
  * scale. Spark's default of 32 pays one state-delta commit per partition
  * per micro-batch: for the covariance grid that was the dominant cost,
  * about 4x the aggregate work.
  *
  * Sinks: emissions of grid- or sketch-bounded state go to an update-mode
  * memory sink and the snapshot keeps each key's latest emission;
  * corpus-scale output goes to an append-mode parquet sink and is never
  * held in memory. Gates whose streams hold rows back until the
  * watermark passes land one far-future sentinel round last (user -1,
  * dropped from the snapshot); Spark's no-data micro-batch then applies
  * the advanced watermark in the same drain. */
object StreamingSnapshots {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private val typeUserSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("user_id", LongType)))

  /** [[Similarity.covarianceMatrix]] maintained by a stream. 48 splits at
    * 16 per trigger give three micro-batches whose heavy map side (the d²
    * pair explode) reads 16 splits in parallel; one split per batch put
    * ~2.7M exploded rows in one task at sf0.1. The snapshot is each cell's latest
    * emission: `n_vectors` grows with each one, since every vector touches
    * every cell. */
  def covStreamSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val base = Tables.scratchDir("graft_covstream", emb)
    val in = stageSplits(s"$base/in", emb.select(col("vec_id"), col("embedding")), 48)
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    g.memory(drainOnce, minBatches = 2)(StreamingCovariance.covarianceStream(
        g.ss.readStream.schema(embSchema).option("maxFilesPerTrigger", 16).parquet(in)))
      .groupBy(col("i"), col("j"))
      .agg(max(struct(col("n_vectors"), col("cov"))).as("last"))
      .select(col("i"), col("j"),
        col("last.n_vectors").as("n_vectors"), col("last.cov").as("cov"))
  }

  /** The corpus as four ascending-vec_id range chunks, shared by both HNSW
    * gates: new corpus additions get new, larger ids, and the stateful
    * bucket cap relies on that order. Returns (embeddings, bits, scratch
    * base, staged rounds). */
  private def hnswStaged(spark: SparkSession,
                         sfDir: String): (DataFrame, Int, String, Seq[Seq[String]]) = {
    val emb = Tables.embeddings(spark, sfDir)
    val bits = Similarity.autoBits(Tables.parquetRowCount(spark, sfDir, "embeddings"))
    val base = Tables.scratchDir("graft_hnswstream", emb)
    val (rounds, _) = stageRanges(base, col("vec_id"), chunks = 4,
      Seq("" -> emb.select(col("vec_id"), col("embedding"))))
    (emb, bits, base, rounds)
  }

  /** [[Similarity.hnswBuild]]'s graph, built incrementally by a stream: each
    * id-range chunk lands and drains before the next, and
    * [[StreamingHnsw.candidateEdges]] fails loudly on an id below a bucket's
    * high-water mark. Candidate edges append to a parquet sink; the
    * snapshot ranks them with the batch build's own tail. 8 state
    * partitions: this stream's cost is the banding compute, which uses the
    * parallelism (4 and 8 measured even). */
  def hnswStreamEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val (emb, bits, base, rounds) = hnswStaged(spark, sfDir)
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 8)
    val (in, vectors) = g.feed("in", embSchema)
    StreamingHnsw.snapshotEdges(emb, g.parquet(into(rounds, in), minBatches = 2)(
      StreamingHnsw.candidateEdges(vectors, bits = bits)))
  }

  /** [[hnswStreamEdges]] across a torn crash after chunk 0: recovers the
    * flatMapGroupsWithState bucket-membership state (member lists and
    * high-water marks). The replay must load the state from before the torn
    * batch; a store serving the post-batch version puts the high-water
    * marks above the replayed ids and trips the ingest-contract check, and
    * lost members admit a different member set than the batch cap. */
  def hnswStreamEdgesRestart(spark: SparkSession, sfDir: String): DataFrame = {
    val (emb, bits, base, rounds) = hnswStaged(spark, sfDir)
    val g = new StreamGate(spark, s"$base/restart", shufflePartitions = 8)
    val (in, vectors) = g.feed("in", embSchema)
    StreamingHnsw.snapshotEdges(emb,
      g.parquetRestart("hnswStreamEdgesRestart", into(rounds, in))(
        StreamingHnsw.candidateEdges(vectors, bits = bits)))
  }

  /** Near-duplicate detection against a growing corpus: documents land as
    * four ascending-doc_id range chunks, per-(band, bucket) member state
    * emits candidate pairs as later documents collide with residents
    * ([[StreamingMinhash.candidatePairs]], which checks the id order), and
    * the snapshot runs the batch path's exact-Jaccard tail. 4 state
    * partitions: against 8 they halve the state commits, which outweighs
    * the map parallelism (5.3 -> 4.4 s at sf0.1). */
  def minhashStreamPairs(spark: SparkSession, sfDir: String,
                         threshold: Double = 0.7): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = Tables.scratchDir("graft_mhstream", docs)
    val (rounds, _) = stageRanges(base, col("doc_id"), chunks = 4,
      Seq("" -> docs.select(col("doc_id"), col("text"))))
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    val (in, texts) = g.feed("in", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    StreamingMinhash.snapshotPairs(docs,
      g.parquet(into(rounds, in), minBatches = 2)(StreamingMinhash.candidatePairs(texts)),
      threshold = threshold)
  }

  /** The Count-Min grid ([[Relational.countMinGrid]], shared with the batch
    * sketch) maintained by a stream: per-cell counts merge exactly, a
    * cell's count grows with each emission, so the latest emission is
    * `max(cnt)`, and the batch probe tail runs over it. */
  def cmStreamCounts(spark: SparkSession, sfDir: String,
                     depth: Int = 4, width: Int = 256): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val base = Tables.scratchDir("graft_cmstream", ev)
    val in = stageSplits(s"$base/in", ev.select(col("user_id")), 24)
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    val grid = g.memory(drainOnce, minBatches = 2)(Relational.countMinGrid(
        g.ss.readStream.schema(StructType(Seq(StructField("user_id", LongType))))
          .option("maxFilesPerTrigger", 8).parquet(in), depth, width))
      .groupBy(col("r"), col("c")).agg(max(col("cnt")).as("cnt"))
    // the tail runs on the clone too: one plan cannot mix two sessions
    Relational.countMinEstimates(Tables.events(g.ss, sfDir), grid, depth, width,
      probeLo = 0L, probeHi = 19L)
  }

  /** The HyperLogLog registers ([[Relational.hllRegisters]], shared with the
    * batch sketch) maintained by a stream. Register maxima are idempotent
    * as well as mergeable, so replays are free; the latest emission per
    * register is `max(r)`, fed to the batch estimate tail. */
  def hllStreamUsers(spark: SparkSession, sfDir: String,
                     p: Int = 8): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val base = Tables.scratchDir("graft_hllstream", ev)
    val in = stageSplits(s"$base/in", ev.select(col("event_type"), col("user_id")), 24)
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    val regs = g.memory(drainOnce, minBatches = 2)(Relational.hllRegisters(
        g.ss.readStream.schema(typeUserSchema).option("maxFilesPerTrigger", 8).parquet(in), p))
      .groupBy(col("event_type"), col("reg")).agg(max(col("r")).as("r"))
    Relational.hllEstimateTail(regs, p)
  }

  /** Data chunks of the trip feed, sentinel excluded. Two give state two
    * data micro-batches to span; more only re-pay the per-batch fixed cost
    * on the same rows. */
  private val tripChunks = 2

  private val tripStreamSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The events as ascending event-time chunks plus a sentinel 2 days + 1 h
    * past the last event, which puts the 1-day-delay watermark past every
    * real day's end, so the gated topologies also evict state. One staging
    * serves all four trip gates; each lands through its own run dir.
    * Returns (scratch base, rounds, last real day, last real event time):
    * the sentinel's own groups all start after both. */
  private def tripStaged(spark: SparkSession, sfDir: String)
      : (String, Seq[Seq[String]], java.sql.Date, Timestamp) = {
    val ev = Tables.events(spark, sfDir)
    val base = Tables.scratchDir("graft_tripstream", ev)
    val (rounds, tHi) = stageRanges(base, unix_micros(col("ts")), tripChunks,
      Seq("" -> ev.select(tripStreamSchema.fieldNames.toSeq.map(col): _*)),
      Some(hi => Row(-1L, -1L, "view",
        new Timestamp(hi / 1000L + 2 * 86400000L + 3600000L), 0.0, """{"k":0}""")))
    val maxDay = java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(Math.floorDiv(tHi, 86400000000L)))
    (base, rounds, maxDay, new Timestamp(tHi / 1000L))
  }

  /** Enriched trips ([[TripEtl.enrichTrips]]) from a trip-gate run's landing dir. */
  private def trips(g: StreamGate, sfDir: String): (String, DataFrame) = {
    val (in, events) = g.feed("in", tripStreamSchema)
    (in, TripEtl.enrichTrips(events, Tables.supplier(g.ss, sfDir)))
  }

  /** Latest emission per (station, day) by started + ended trips, which
    * grows with every folded event; drops the sentinel's days. */
  private def latestStationDay(emissions: DataFrame, maxDay: java.sql.Date): DataFrame =
    emissions.groupBy(col("station_name"), col("event_day"))
      .agg(max(struct(
        (col("started_trips") + col("ended_trips")).as("n"),
        col("started_trips"), col("ended_trips"),
        col("avg_temperature"), col("update_time"))).as("last"))
      .filter(col("event_day") <= lit(maxDay))
      .select(col("station_name"), col("event_day"),
        col("last.started_trips").as("started_trips"),
        col("last.ended_trips").as("ended_trips"),
        col("last.avg_temperature").as("avg_temperature"),
        col("last.update_time").as("update_time"))

  /** The reference's flagship topology as a stream: broadcast enrich into
    * the update-mode per-(station, day) aggregate
    * ([[StreamingEtl.stationDayAggStreaming]]); `station_day_agg`'s oracle
    * applies verbatim, so an unflushed or double-counted group fails. */
  def stationDayAggStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, rounds, maxDay, _) = tripStaged(spark, sfDir)
    val g = new StreamGate(spark, s"$base/agg", shufflePartitions = 4)
    val (in, enriched) = trips(g, sfDir)
    latestStationDay(g.memory(into(rounds, in), minBatches = rounds.size)(
      StreamingEtl.stationDayAggStreaming(enriched)), maxDay)
  }

  /** [[stationDayAggStream]] across a torn crash after chunk 0: the
    * reference's contract that state survives a restart with no record
    * lost or double-counted (commit.interval.ms = 0, streams.cleanUp()).
    * Append mode emits each (station, day) once, when the sentinel's
    * watermark closes it, so the appended set is the final aggregate. */
  def stationDayAggStreamRestart(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, rounds, maxDay, _) = tripStaged(spark, sfDir)
    val g = new StreamGate(spark, s"$base/restart", shufflePartitions = 4)
    val (in, enriched) = trips(g, sfDir)
    g.parquetRestart("stationDayAggStreamRestart", into(rounds, in))(
        StreamingEtl.stationDayAggStreaming(enriched))
      .filter(col("event_day") <= lit(maxDay))
  }

  /** The reference punctuator ([[StreamingEtl.punctuatedFullSnapshotAggTws]]:
    * nothing forwards between watermark-aligned sweeps, every live group
    * forwards at each sweep) as a stream. Sharing the declarative twin's
    * oracle pins punctuator == update-mode aggregate on real data. */
  def stationDayAggStreamTws(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, rounds, maxDay, _) = tripStaged(spark, sfDir)
    val g = new StreamGate(spark, s"$base/tws", shufflePartitions = 4, rocksDb = true)
    val (in, enriched) = trips(g, sfDir)
    import g.ss.implicits._
    val emitted = g.memory(into(rounds, in), minBatches = rounds.size)(
      StreamingEtl.punctuatedFullSnapshotAggTws(enriched
        .select(col("station_name").as("stationName"), col("trip_time").as("tripTime"),
          col("trip_type").as("tripType"), col("temperature"))
        .as[graft.model.TripStation]).toDF())
    latestStationDay(emitted.select(emitted.columns.toSeq.map(c =>
      col(c).as(c.replaceAll("([A-Z])", "_$1").toLowerCase)): _*), maxDay)
  }

  /** The reference's anomaly topic as a stream
    * ([[StreamingEtl.windowAnomaliesStreaming]]): tumbling windowed counts
    * scored per station. The latest emission per (window, station) has the
    * largest `n_events`; the sentinel's windows start after the last real
    * event. */
  def windowAnomaliesStream(spark: SparkSession, sfDir: String,
                            windowMinutes: Int = 360,
                            pPercent: Int = 50): DataFrame = {
    val (base, rounds, _, maxTs) = tripStaged(spark, sfDir)
    val g = new StreamGate(spark, s"$base/anom", shufflePartitions = 4)
    val (in, enriched) = trips(g, sfDir)
    g.memory(into(rounds, in), minBatches = rounds.size)(
        StreamingEtl.windowAnomaliesStreaming(enriched, windowMinutes, pPercent))
      .groupBy(col("window_start"), col("station_name"))
      .agg(max(struct(col("n_events"),
        col("returned_over_rented"), col("rented_over_returned"),
        col("total_docks"), col("n_to_docks_ratio"), col("is_anomaly"))).as("last"))
      .filter(col("window_start") <= lit(maxTs))
      .select(col("window_start"), col("station_name"),
        col("last.returned_over_rented").as("returned_over_rented"),
        col("last.rented_over_returned").as("rented_over_returned"),
        col("last.total_docks").as("total_docks"),
        col("last.n_to_docks_ratio").as("n_to_docks_ratio"),
        col("last.is_anomaly").as("is_anomaly"))
  }

  private val asOfFeedSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))

  /** Purchases (P) and errors (E) as two ascending event-time chunks each
    * on shared bounds, so cross-feed arrival stays inside the watermark
    * delay, plus a sentinel on both feeds: the global watermark is the
    * minimum over both. The sentinel clears tolerance + 1 h past the last
    * event, because a forward left is decidable only once the watermark
    * passes ts + tolerance; the tolerance is therefore part of the key.
    * Shared by the three as-of gates. */
  private def asOfStaged(spark: SparkSession, sfDir: String,
                         toleranceMs: Long): (String, Seq[Seq[String]]) = {
    val ev = Tables.events(spark, sfDir)
    val base = Tables.scratchDir(s"graft_asofshared_t$toleranceMs", ev)
    def side(eventType: String) = ev.filter(col("event_type") === eventType)
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("value"), lit(0.0)).as("value"))
    val (rounds, _) = stageRanges(base, unix_micros(col("ts")), chunks = 2,
      Seq("P" -> side("purchase"), "E" -> side("error")),
      Some(hi => Row(-1L, -1L, new Timestamp(hi / 1000L + toleranceMs + 3600000L), 0.0)))
    (base, rounds)
  }

  /** Each purchase with its latest at-or-before error
    * ([[StreamAsOf.asOfEnrichStreams]], transformWithState on RocksDB;
    * per-user state is watermark-bounded). After the flush every purchase
    * is emitted exactly once, so `asof_last_error`'s DuckDB ASOF JOIN
    * checks the row count too. The restart recovers ListState of buffered
    * lefts, pruned rights and armed timers. */
  private def asOfLastError(spark: SparkSession, sfDir: String,
                            restart: Boolean): DataFrame = {
    val (base, rounds) = asOfStaged(spark, sfDir, toleranceMs = 3600000L)
    val g = new StreamGate(spark, s"$base/${if (restart) "restart" else "bwd"}",
      shufflePartitions = 4, rocksDb = true)
    val (inP, purchases) = g.feed("inP", asOfFeedSchema)
    val (inE, errors) = g.feed("inE", asOfFeedSchema)
    val join = StreamAsOf.asOfEnrichStreams(
      purchases.select(col("event_id"), col("user_id"), col("ts")),
      errors.select(col("event_id").as("error_id"), col("user_id"), col("ts"),
        col("value"))).toDF()
    val landings = into(rounds, inP, inE)
    (if (restart) g.parquetRestart("asOfStreamLastErrorRestart", landings)(join)
     else g.parquet(landings, minBatches = rounds.size)(join))
      .filter(col("userId") >= 0L)
      .select(col("eventId").as("event_id"), col("userId").as("user_id"),
        col("ts"), col("errorTs").as("last_error_ts"))
  }

  def asOfStreamLastError(spark: SparkSession, sfDir: String): DataFrame =
    asOfLastError(spark, sfDir, restart = false)

  def asOfStreamLastErrorRestart(spark: SparkSession, sfDir: String): DataFrame =
    asOfLastError(spark, sfDir, restart = true)

  /** Each error with the earliest purchase within the tolerance after it
    * ([[StreamAsOf.asOfNextStreams]]), over the backward gate's staging
    * with the sides swapped: errors land as lefts, purchases as rights. */
  def asOfStreamNextPurchase(spark: SparkSession, sfDir: String,
                             toleranceMs: Long = 3600000L): DataFrame = {
    val (base, rounds) = asOfStaged(spark, sfDir, toleranceMs)
    val g = new StreamGate(spark, s"$base/fwd", shufflePartitions = 4, rocksDb = true)
    val (inL, errors) = g.feed("inL", asOfFeedSchema)
    val (inR, purchases) = g.feed("inR", asOfFeedSchema)
    g.parquet(into(rounds.map(_.reverse), inL, inR), minBatches = rounds.size)(
        StreamAsOf.asOfNextStreams(
          errors.select(col("event_id"), col("user_id"), col("ts")),
          purchases, toleranceMs = toleranceMs).toDF())
      .filter(col("userId") >= 0L)
      .select(col("eventId").as("event_id"), col("userId").as("user_id"),
        col("ts"), col("matchedTs").as("next_purchase_ts"))
  }

  /** Gap sessions ([[StreamingEtl.sessionWindows]]) over merging state:
    * in-order chunks make stream == batch, since an event that could merge
    * into a session arrives before the watermark can close it. The
    * sentinel at +2 h puts the 1-h-delay watermark past every real
    * session's end. The tail re-derives the batch presentation: sequence
    * by start per user, and the end as the last event (session_window's end
    * is last + gap). */
  def userSessionsStream(spark: SparkSession, sfDir: String,
                         gapMinutes: Int = 30): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val base = Tables.scratchDir("graft_sessstream", ev)
    val (rounds, _) = stageRanges(base, unix_micros(col("ts")), chunks = 2,
      Seq("" -> ev.select(col("user_id"), col("ts"))),
      Some(hi => Row(-1L, new Timestamp(hi / 1000L + 2 * 3600000L))))
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    val (in, events) = g.feed("in", StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType))))
    g.parquet(into(rounds, in), minBatches = rounds.size)(StreamingEtl.sessionWindows(
        events, tsCol = "ts", keyCol = "user_id", gapMinutes = gapMinutes,
        watermark = "1 hour"))
      .filter(col("user_id") >= 0L)
      .withColumn("session_seq", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("session_start"))).cast("long"))
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("last_event").as("session_end"), col("n_events"),
        (unix_micros(col("last_event")) - unix_micros(col("session_start")))
          .as("duration_us"))
  }

  /** Exact dedup ([[StreamingEtl.dedupedDocsStreaming]]) of the corpus plus
    * planted replays (doc_id ≡ 3 mod 7 again at doc_id + max + 1; the corpus
    * has distinct texts). Chunk n holds each content's (n+1)-th copy by id,
    * so keep-first-arrival == keep-min-id, and no batch holds two copies of
    * one content. ingest_ts steps a minute per chunk, inside the 1-hour
    * horizon, so every replay meets live state. */
  def dedupStreamDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    val base = Tables.scratchDir("graft_dedupstream", docs)
    val chunks = 4
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val stages = (0 until chunks).map(c => s"$base/stage$c")
    ensureStaged(stages) {
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val planted = docs.select(cols.map(col): _*)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
          .select((col("doc_id") + off).as("doc_id") +: cols.tail.map(col): _*))
      // ranks past the chunk count lump into the last chunk: all replays
      val arrival = least(row_number().over(Window
        .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))), lit(chunks)) - 1
      val ranked = planted.withColumn("arrival", arrival)
      (0 until chunks).foreach { c =>
        ranked.filter(col("arrival") === c).drop("arrival")
          .withColumn("ingest_ts", lit(new Timestamp(1704067200000L + c * 60000L)))
          .coalesce(1).write.mode("overwrite").parquet(stages(c))
      }
    }
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    val (in, landed) = g.feed("in", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("ingest_ts", TimestampType))))
    g.parquet(into(stages.map(Seq(_)), in), minBatches = 2)(
        StreamingEtl.dedupedDocsStreaming(landed, tsCol = "ingest_ts", watermark = "1 hour"))
      .select(cols.map(col): _*)
  }

  /** Heavy hitters ([[StreamingEtl.heavyHittersStreaming]]: per-type
    * Misra-Gries, at most k-1 entries per type) over the planted-skew feed.
    * The survivor set depends on arrival order, but with 1/k < minFrac the
    * union of the types' candidates is a superset of the true heavy hitters
    * under any order, and the batch operator's exact recount removes the
    * false ones. */
  def heavyStreamUsers(spark: SparkSession, sfDir: String, k: Int = 200,
                       minFrac: Double = 0.01): DataFrame = {
    require(1.0 / k < minFrac,
      s"k=$k too small for minFrac=$minFrac: the per-type union superset " +
        "guarantee needs 1/k < minFrac")
    val ev = Tables.events(spark, sfDir)
    val base = Tables.scratchDir("graft_heavystream", ev)
    val in = stageSplits(s"$base/in",
      Relational.plantHeavyUsers(ev).select(col("event_type"), col("user_id")), 24)
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    val finals = g.memory(drainOnce, minBatches = 2)(StreamingEtl.heavyHittersStreaming(
        g.ss.readStream.schema(typeUserSchema).option("maxFilesPerTrigger", 8).parquet(in),
        k = k).toDF())
      .groupBy(col("eventType"))
      .agg(max(struct(col("nTotal"), col("candidates"))).as("last"))
      .select(col("last.nTotal").as("nTotal"), col("last.candidates").as("candidates"))
      .collect() // <= #types rows of <= k-1 ids
    val n = finals.map(_.getAs[Long]("nTotal")).sum
    val cands = finals
      .flatMap(_.getAs[scala.collection.Seq[Long]]("candidates")).distinct.toSeq
    Relational.plantHeavyUsers(Tables.events(g.ss, sfDir))
      .filter(col("user_id").isin(cands: _*))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= math.ceil(n * minFrac).toLong)
  }

  /** The standing curation job end to end ([[ShardPipeline.reshardDeduped]]:
    * tar source, dropDuplicates state, foreachBatch tar sink) over the
    * corpus plus planted replays, one tar shard per id-range chunk. The
    * snapshot aggregates each output batch dir (member count, bytes, XOR of
    * content hashes); content-keyed, so the within-batch survivor choice
    * does not matter, and a replay that survives dedup shows as an extra
    * batch dir. */
  def reshardStreamShards(spark: SparkSession, sfDir: String,
                          nShards: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    val base = Tables.scratchDir("graft_reshardstream", docs)
    val chunks = 4
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (idLo, idHi) =
      if (mm.isNullAt(0)) (0L, -1L) else (mm.getLong(0), mm.getLong(1))
    // originals fill chunks 0-1 of the union id space, replays 2-3; the
    // oracle replays this integer division (Column./ would be double)
    val chunkOfDocId: Column =
      expr(s"((doc_id - ${idLo}L) * 4L) div ${2L * (idHi - idLo + 1L)}L")
    val stages = (0 until chunks).map(c => s"$base/stage$c")
    ensureStaged(stages) {
      val u = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
          .select((col("doc_id") + idHi + 1L).as("doc_id"), col("text")))
      (0 until chunks).foreach { c =>
        TarShards.writeShards(
          u.filter(chunkOfDocId === c.toLong)
            .select(lit(0).as("shard_id"),
              concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
              encode(col("text"), "UTF-8").as("content")),
          stages(c), nShards = 1)
        Files.createFile(Paths.get(s"${stages(c)}/_SUCCESS")): Unit
      }
    }
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 4)
    val (in, out) = (g.dir("in"), g.dir("out"))
    g.run(into(stages.map(Seq(_)), in), minBatches = 2)(
      ShardPipeline.reshardDeduped(g.ss, in, out, g.ckpt, nShards))
    // batch dirs in batch-id order; an all-duplicate batch writes none
    val batchDirs = {
      val ls = Files.list(Paths.get(out))
      try ls.iterator().asScala.toList finally ls.close()
    }.map(_.getFileName.toString).filter(_.startsWith("batch-"))
      .sortBy(_.stripPrefix("batch-").toLong)
    require(batchDirs.nonEmpty, "reshard pipeline produced no output shards")
    batchDirs.zipWithIndex.map { case (d, r) =>
      spark.read.format("graft.sources.TarDataSource").load(s"$out/$d")
        .agg(count(lit(1)).as("n_docs"), sum(col("size")).as("total_bytes"),
          bit_xor(TextOps.portableHash64(col("content"))).as("content_hash"))
        .select(lit(r.toLong).as("batch"), col("n_docs"),
          col("total_bytes"), col("content_hash"))
    }.reduce(_ unionByName _)
  }
}
