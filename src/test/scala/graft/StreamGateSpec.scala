package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamGate

/** The stream-gate runner's own checks: each must fire on the run it
  * exists to reject. */
class StreamGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val idSchema = StructType(Seq(StructField("id", LongType)))

  private def tmp() = Files.createTempDirectory("stream_gate").toString

  private def ids(values: Seq[Long]): DataFrame = {
    import spark.implicits._
    values.toDF("id")
  }

  /** ids 0..39 staged as two range chunks; a gate over them, with its
    * landing rounds and its parquet-sink start. */
  private def gate(): (StreamGate, Seq[StreamGate.Round], () => StreamingQuery) = {
    val base = tmp()
    val (rounds, _) = StreamGate.stageRanges(base, col("id"), chunks = 2,
      Seq("" -> ids(0L until 40L)))
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 2)
    val (in, stream) = g.feed("in", idSchema)
    val sink = g.dir("sink")
    (g, StreamGate.into(rounds, in), () => stream.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", g.ckpt).start())
  }

  test("requireMultiBatch fails a one-landing run that asks for two data batches") {
    val (g, rounds, start) = gate()
    val e = intercept[IllegalArgumentException] {
      g.run(rounds.take(1), minBatches = 2)(start())
    }
    assert(e.getMessage.contains("expected >= 2 data micro-batches"), e.getMessage)
    g.run(rounds.drop(1), minBatches = 1)(start()) // the same stream, resumed
  }

  test("requireReplayed fails a restart from an untorn checkpoint") {
    def restartFirstBatch(tear: Boolean): StreamingQuery = {
      val (g, rounds, start) = gate()
      g.run(rounds.take(1), minBatches = 1)(start())
      if (tear) assert(StreamGate.tearNewestCommit(g.ckpt) == 0L)
      var q: StreamingQuery = null
      g.run(rounds.drop(1), minBatches = 1) { q = start(); q }
      q
    }
    val e = intercept[IllegalArgumentException] {
      StreamGate.requireReplayed(restartFirstBatch(tear = false), tornBatchId = 0L)
    }
    assert(e.getMessage.contains("replay torn batch 0"), e.getMessage)
    StreamGate.requireReplayed(restartFirstBatch(tear = true), tornBatchId = 0L)
  }

  test("parquetRestart replays the torn batch once: every row exactly once") {
    val base = tmp()
    val (rounds, _) = StreamGate.stageRanges(base, col("id"), chunks = 3,
      Seq("" -> ids(0L until 60L)))
    val g = new StreamGate(spark, s"$base/run", shufflePartitions = 2)
    val (in, stream) = g.feed("in", idSchema)
    val out = g.parquetRestart("spec", StreamGate.into(rounds, in))(stream)
    assert(out.count() == 60L && out.distinct().count() == 60L)
  }

  test("tearNewestCommit removes both commits/N and commits/.N.crc") {
    val (g, rounds, start) = gate()
    g.run(rounds, minBatches = 2)(start())
    val commits = new File(s"${g.ckpt}/commits")
    def has(name: String) = new File(commits, name).exists
    assert(has("1") && has(".1.crc"), commits.list().mkString(", "))
    assert(StreamGate.tearNewestCommit(g.ckpt) == 1L)
    assert(!has("1") && !has(".1.crc"), commits.list().mkString(", "))
    assert(has("0") && has(".0.crc"))
  }

  test("range staging stages every row of strided and near-Long.MaxValue ids") {
    import spark.implicits._
    val max = Long.MaxValue
    // (ids, the four chunks their key range splits them into)
    val cases = Seq(
      (0L until 40L).map(_ * 1000000L) -> (0L until 40L).map(_ * 1000000L).grouped(10).toSeq,
      Seq(0L, max / 3, max - 1, max) -> Seq(Seq(0L), Seq(max / 3), Nil, Seq(max - 1, max)),
      (max - 7 to max) -> (max - 7 to max).grouped(2).toSeq)
    cases.foreach { case (values, expected) =>
      val (rounds, hi) = StreamGate.stageRanges(tmp(), col("id"), chunks = 4,
        Seq("" -> ids(values)))
      assert(hi == values.max)
      val chunks = rounds.map { case Seq(dir) =>
        assert(new File(dir).list().count(_.startsWith("part-")) == 1, dir)
        spark.read.parquet(dir).as[Long].collect().toSeq.sorted
      }
      assert(chunks == expected, s"staged $chunks from $values")
    }
  }

  test("range staging fails fast when the event-time span is shorter than the chunk count") {
    import spark.implicits._
    val oneInstant = Seq.fill(5)(Timestamp.valueOf("2024-01-01 00:00:00")).toDF("ts")
    val e = intercept[IllegalArgumentException] {
      StreamGate.stageRanges(tmp(), unix_micros(col("ts")), chunks = 2,
        Seq("" -> oneInstant))
    }
    assert(e.getMessage.contains("needs a key span of >= 2"), e.getMessage)
  }
}
