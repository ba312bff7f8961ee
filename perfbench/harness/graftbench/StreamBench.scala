package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TripEtl
import graft.sources.Tables
import graft.streaming.StreamingEtl

/** The paper's topology as a live stream: `readEventsStream`, then
  * `enrichTrips` with the supplier dimension, then
  * `stationDayAggStreaming` in update mode, stopped and restarted once
  * from the same checkpoint.
  *
  * The chunks arrive staged, one parquet file each, with a schedule
  * (streamgen.py makes both from the seed). Set-up lands the priming
  * chunk (the file source reads the schema from it) and starts the
  * stream. Then one generator thread lands the chunks open-loop, each by
  * an atomic rename at its due time. Warm-up chunks land first, at the
  * reference cadence, until `warmup_batches` micro-batches have read
  * input (this is set-up); then the timed segments. The query is stopped
  * and restarted when the restart segment begins. */
final class StreamBench(spark: SparkSession, args: Map[String, String], trace: Boolean) {
  private val dataDir = args("data")
  private val work = Paths.get(args("work"))
  private val stage = Paths.get(args("stage"))
  private val landing = work.resolve("landing")
  private val ckpt = work.resolve("checkpoint")

  /** A scheduled chunk: its file, its segment, and its due time as an
    * offset from the start of its part, warm-up or timed (-1 for the
    * priming chunk). */
  private case class Chunk(file: String, segment: String, dueOffMs: Double)

  private def schedule(): Seq[Chunk] =
    Files.readAllLines(Paths.get(args("schedule"))).asScala.toSeq.map { l =>
      val Array(file, segment, due) = l.split('\t')
      Chunk(file, segment, due.toDouble)
    }

  private def land(file: String): Unit =
    Files.move(stage.resolve(file), landing.resolve(file),
      StandardCopyOption.ATOMIC_MOVE): Unit

  /** Emissions per batch id; a re-executed batch replaces its own rows. */
  private val emitted = new java.util.concurrent.ConcurrentSkipListMap[Long, Array[Row]]()

  private def buildStream(): DataFrame =
    StreamingEtl.stationDayAggStreaming(
      TripEtl.enrichTrips(
        StreamingEtl.readEventsStream(spark, landing.toString),
        Tables.supplier(spark, dataDir)))

  private def start(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.queryName(name).outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        emitted.put(id, batch.collect()): Unit
      }
      .start()

  /** Lands `chunks` in order, each at `startMs` plus its due offset,
    * never waiting on the stream, until the list ends or `stop` is set;
    * returns the landing times of those landed. */
  private def generate(chunks: Seq[Chunk], startMs: Double,
                       stop: () => Boolean = () => false): Seq[Double] = {
    val landed = mutable.ArrayBuffer[Double]()
    chunks.iterator.takeWhile(_ => !stop()).foreach { c =>
      val due = startMs + c.dueOffMs
      var now = Clock.nowMs()
      while (now < due) {
        Thread.sleep(math.max(0L, math.min(5L, (due - now).toLong)))
        now = Clock.nowMs()
      }
      land(c.file)
      landed += Clock.nowMs()
    }
    landed.toSeq
  }

  private def dataBatches(q: StreamingQuery): Int = q.recentProgress.count(_.numInputRows > 0)

  def run(): Map[String, Any] = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val all = schedule()
    val priming = all.filter(_.segment == "priming")
    val warmup = all.filter(_.segment == "warmup")
    val chunks = all.filter(c => c.dueOffMs >= 0 && c.segment != "warmup")
    Files.createDirectories(landing)
    priming.foreach(c => land(c.file))

    val rec = if (trace) Some(new Recorder) else None
    rec.foreach(spark.sparkContext.addSparkListener)
    val busCpu0 = rec.map(_.busCpuNs()).getOrElse(0L)
    val cg0 = WholeStageCodegenExec.codeGenTime
    val b0 = Clock.nowMs()
    val df = buildStream()
    val b1 = Clock.nowMs()
    val q1 = start(df, "station_day_1")
    q1.processAllAvailable() // the priming chunk's batch: the stream is up

    // warm-up (set-up): chunks at the reference cadence until enough
    // micro-batches have run for their duration to settle
    val warmBatches = args("warmup_batches").toInt
    val warmed = generate(warmup, Clock.nowMs(), () => dataBatches(q1) > warmBatches).size
    require(dataBatches(q1) > warmBatches, s"warm-up ran out of chunks after $warmed")

    // the timed part: one generator thread lands the rest open-loop
    val genStartMs = Clock.nowMs() + 50.0
    var landed = Seq.empty[Double]
    val gen = new Thread(() => landed = generate(chunks, genStartMs), "chunk-generator")
    gen.start()
    def waitUntil(ms: Double): Unit = while (Clock.nowMs() < ms) Thread.sleep(2)
    val firstTimedMs = genStartMs
    waitUntil(firstTimedMs)
    val mark0 = Proc.mark()

    // stop and restart at the start of the restart segment
    waitUntil(genStartMs + chunks.find(_.segment == "restart").get.dueOffMs)
    val stopMs = Clock.nowMs()
    q1.stop()
    val progress1 = q1.recentProgress.map(_.json).toSeq
    val restartMs = Clock.nowMs()
    val q2 = start(buildStream(), "station_day_2")
    gen.join()
    q2.processAllAvailable()
    val mark1 = Proc.mark()
    q2.stop()
    val progress2 = q2.recentProgress.map(_.json).toSeq
    val codegenS = (WholeStageCodegenExec.codeGenTime - cg0) / 1e9
    val tracedRecord = rec.map { r =>
      Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(r)
      val jobs = r.jobs(math.floor(firstTimedMs), Double.MaxValue)
      val scans = r.executions(math.floor(firstTimedMs), Double.MaxValue)
      Map(
        "jobs" -> jobs.map(_.fields),
        "build_jobs" -> r.jobs(math.floor(b0), math.floor(b1)).size,
        "scan_ms" -> scans.map(_.scanMs).sum,
        "scan_rows" -> scans.map(_.rows).sum,
        "exchanges" -> scans.lastOption.map(_.exchanges).getOrElse(0),
        "bus_cpu_s" -> (r.busCpuNs() - busCpu0) / 1e9,
        "store_peak_bytes" -> r.storePeakBytes,
        "listener_progress" -> r.progress.map(Json.parse))
    }

    // final snapshot: the latest emission of each (station, day)
    val latest = mutable.LinkedHashMap[(String, java.sql.Date), Row]()
    emitted.asScala.foreach { case (_, rows) =>
      rows.foreach(r => latest((r.getAs[String]("station_name"), r.getAs[java.sql.Date]("event_day"))) = r)
    }
    val snapDir = work.resolve("snapshot").toString
    spark.createDataFrame(latest.values.toSeq.asJava, df.schema)
      .coalesce(1).write.mode("overwrite").parquet(snapDir)

    Map(
      "workload" -> "station_stream", "seed" -> args("seed").toLong,
      "first_timed_ms" -> firstTimedMs,
      "build_s" -> (b1 - b0) / 1e3, "codegen_s" -> codegenS,
      "gen_start_ms" -> genStartMs,
      "landed_ms" -> landed, "warmup_chunks" -> warmed,
      "stop_ms" -> stopMs, "restart_ms" -> restartMs,
      "progress" -> (progress1 ++ progress2).map(Json.parse),
      "checkpoint" -> ckpt.toString, "landing" -> landing.toString,
      "snapshot" -> snapDir,
      "oracle_sql" -> graft.SparkEntry.oracleSql("station_day_agg"),
      "timed" -> Proc.interval(mark0, mark1),
      "traced" -> tracedRecord)
  }
}
