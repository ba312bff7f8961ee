package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** One run of a stream gate: a `SparkEntry` query that runs a real
  * Structured Streaming job over staged input and returns its snapshot. The runner
  * owns the protocol every gate shares: the cloned session, the per-run
  * directories, start, atomic landings with a drain after each round, the
  * multi-batch check and stop. Its restart variant adds the torn
  * checkpoint, the timed reload+replay drain and the replay check.
  *
  * `runDir` holds the run's mutable surfaces (checkpoint, landing dirs,
  * sink) and is wiped on construction, so a repeated in-JVM run (bench
  * warm-up and timed passes) starts from a clean checkpoint instead of
  * resuming a stale one. Staged input lives outside it and is reused. */
private[graft] final class StreamGate(spark: SparkSession, runDir: String,
                                      shufflePartitions: Int,
                                      rocksDb: Boolean = false) {
  import StreamGate._

  wipe(runDir)
  val ckpt = s"$runDir/ckpt"
  private val tmp = dir("tmp")

  /** The gate's own session: it shares the SparkContext and catalog of
    * `spark` but carries its own SQLConf, so the stream's partition count
    * never leaks into queries planned concurrently on the caller's
    * session, and the memory sink's view dies with the clone instead of
    * piling up in the shared catalog. Confs are set before start(): the
    * partition count is captured at the first micro-batch's planning. */
  val ss: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    // A gate runs for seconds; background state-store maintenance
    // (default every 60 s) can only contend with it, holding a provider's
    // lock mid-batch, which showed as multi-second stalls in cold runs.
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    // requireMultiBatch counts q.recentProgress, which keeps only this many
    // records (default 100); a longer run must not undercount.
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    // transformWithState needs the RocksDB provider
    if (rocksDb) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** A directory of this run, created empty. */
  def dir(name: String): String = {
    Files.createDirectories(Paths.get(s"$runDir/$name"))
    s"$runDir/$name"
  }

  /** A landing directory and the live parquet stream over it. */
  def feed(name: String, schema: StructType): (String, DataFrame) = {
    val in = dir(name)
    (in, ss.readStream.schema(schema).parquet(in))
  }

  /** Starts the query, lands `rounds`, checks that at least `minBatches`
    * micro-batches carried data, and stops. */
  def run(rounds: Seq[Round], minBatches: Int)(start: => StreamingQuery): Unit = {
    val q = start
    try {
      land(q, rounds)
      requireMultiBatch(q, minBatches)
    } finally q.stop()
  }

  /** Runs `df` into an update-mode memory sink; returns every emission.
    * Only for grid- or sketch-bounded state: the emissions are held in
    * memory. */
  def memory(rounds: Seq[Round], minBatches: Int)(df: DataFrame): DataFrame = {
    run(rounds, minBatches)(df.writeStream.format("memory").queryName("gate")
      .option("checkpointLocation", ckpt).outputMode("update").start())
    ss.table("gate")
  }

  /** Runs `df` into an append-mode parquet sink; returns its committed
    * output, read through the sink's manifest with the stream's schema. */
  def parquet(rounds: Seq[Round], minBatches: Int)(df: DataFrame): DataFrame = {
    run(rounds, minBatches)(toParquet(df))
    spark.read.schema(df.schema).parquet(s"$runDir/sink")
  }

  /** [[parquet]] across a torn crash. The first query lands round 0 and
    * stops; the checkpoint is torn ([[tearNewestCommit]]); a new query on
    * the same checkpoint must reload the state, re-execute the torn batch
    * (asserted) and land the remaining rounds, while the sink's manifest
    * drops the replayed batch's second write. State lost in the reload
    * makes the totals short, a re-appended replay double-counts: either
    * fails the oracle. The restart needs a sink with a commit log, which
    * is why it is parquet: Spark refuses to recover an update-mode memory
    * sink. The reload+replay drain is timed on its own and reported to
    * stderr as `graft: <gate> reload+replay <s> s`. */
  def parquetRestart(gate: String, rounds: Seq[Round])(df: DataFrame): DataFrame = {
    run(rounds.take(1), minBatches = 1)(toParquet(df))
    val torn = tearNewestCommit(ckpt)
    val t0 = System.nanoTime()
    val q = toParquet(df)
    try {
      q.processAllAvailable()
      System.err.println(f"graft: $gate reload+replay ${(System.nanoTime() - t0) / 1e9}%.2f s")
      land(q, rounds.drop(1))
      requireReplayed(q, torn)
      requireMultiBatch(q, rounds.size - 1)
    } finally q.stop()
    spark.read.schema(df.schema).parquet(s"$runDir/sink")
  }

  private def toParquet(df: DataFrame): StreamingQuery =
    df.writeStream.format("parquet").option("path", s"$runDir/sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()

  private def land(q: StreamingQuery, rounds: Seq[Round]): Unit =
    rounds.foreach { round =>
      round.foreach { case (stage, in) => landChunk(stage, in) }
      q.processAllAvailable()
    }

  /** Copies each staged data file to the run's tmp dir, then moves it into
    * `in` atomically: the live source lists `in` between renames, so a
    * direct copy could be read half-written, and the staged file must
    * survive for the next run. The staged dir's name prefixes each landed
    * file so names stay unique across chunks. Hidden and `_` files
    * (checksums, `_SUCCESS`) stay behind. */
  private def landChunk(stage: String, in: String): Unit = {
    val ls = Files.list(Paths.get(stage))
    val files = try ls.iterator().asScala.toList finally ls.close()
    files.filterNot(p => "._".contains(p.getFileName.toString.head)).foreach { p =>
      val name = s"${Paths.get(stage).getFileName}-${p.getFileName}"
      Files.copy(p, Paths.get(s"$tmp/$name"), StandardCopyOption.REPLACE_EXISTING)
      Files.move(Paths.get(s"$tmp/$name"), Paths.get(s"$in/$name"),
        StandardCopyOption.ATOMIC_MOVE): Unit
    }
  }
}

private[graft] object StreamGate {
  /** Staged dirs landed together before one drain, each with its landing dir. */
  type Round = Seq[(String, String)]

  /** One drain and no landing: the source reads staged splits itself,
    * `maxFilesPerTrigger` at a time. */
  val drainOnce: Seq[Round] = Seq(Nil)

  /** Pairs each round's staged dirs, in order, with landing dirs. */
  def into(rounds: Seq[Seq[String]], ins: String*): Seq[Round] = rounds.map(_.zip(ins))

  private def wipe(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir)): Unit
  }

  /** Runs `stage` unless every dir already holds a `_SUCCESS` marker. A
    * staging is a pure function of the corpus and its scratch base is
    * keyed by the corpus, so within one JVM it is built once; a missing
    * marker (first run, or a crashed partial staging) rebuilds all. */
  def ensureStaged(dirs: Seq[String])(stage: => Unit): Unit =
    if (!dirs.forall(d => Files.exists(Paths.get(s"$d/_SUCCESS")))) {
      dirs.foreach(wipe)
      stage
      System.err.println(s"graft: staged ${dirs.head} " +
        s"(+${dirs.size - 1} more); later in-JVM runs reuse it")
    } else System.err.println(s"graft: reusing staged ${dirs.head}")

  /** Stages `df` as `n` parquet splits for a `maxFilesPerTrigger` source;
    * returns the dir. */
  def stageSplits(dir: String, df: DataFrame, n: Int): String = {
    ensureStaged(Seq(dir))(df.repartition(n).write.mode("overwrite").parquet(dir))
    dir
  }

  /** Stages each `(name, df)` feed as `chunks` ascending ranges of `key`
    * into `base/stage<name><c>` — the arrival order an ingest with growing
    * ids or a log-shipping feed gives — plus, with a sentinel, one more
    * round carrying the sentinel row (made from the key's maximum) on every
    * feed. All feeds share one set of bounds over [min, max] of the key, so
    * any id distribution is covered and cross-feed arrival stays aligned.
    * Returns the staged dirs per round and the key's maximum.
    *
    * One file per chunk: a landing must be atomic as a unit, or the live
    * listing could split a chunk across micro-batches. */
  def stageRanges(base: String, key: Column, chunks: Int,
                  feeds: Seq[(String, DataFrame)],
                  sentinel: Option[Long => Row] = None): (Seq[Seq[String]], Long) = {
    val mm = feeds.map(_._2.select(key.as("k"))).reduce(_ union _)
      .agg(min(col("k")), max(col("k"))).head()
    val (lo, hi) = if (mm.isNullAt(0)) (0L, -1L) else (mm.getLong(0), mm.getLong(1))
    // an empty chunk would land no rows and requireMultiBatch would later
    // blame the stream; the real fault is a corpus too narrow to split
    require(BigInt(hi) - lo + 1 >= chunks,
      s"range staging under $base needs a key span of >= $chunks to fill " +
        s"$chunks chunks (got [$lo, $hi]); a corpus that cannot split " +
        "cannot prove cross-batch state")
    // BigInt: span · c wraps Long once the span passes 2^63 / chunks. Only
    // inner bounds are used, all <= hi, so narrowing back is exact.
    def bound(c: Int) = (BigInt(lo) + (BigInt(hi) - lo + 1) * c / chunks).toLong
    def inChunk(c: Int) = (if (c == 0) lit(true) else key >= bound(c)) &&
      (if (c == chunks - 1) lit(true) else key < bound(c + 1))
    val rounds = (0 until chunks + sentinel.size).map(c =>
      feeds.map { case (name, _) => s"$base/stage$name$c" })
    ensureStaged(rounds.flatten) {
      for (c <- 0 until chunks; (name, df) <- feeds)
        df.filter(inChunk(c)).coalesce(1).write.mode("overwrite")
          .parquet(s"$base/stage$name$c")
      for (s <- sentinel; (name, df) <- feeds)
        df.sparkSession.createDataFrame(java.util.List.of(s(hi)), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$name$chunks")
    }
    (rounds, hi)
  }

  /** Tears a stopped stream's checkpoint: deletes the newest commit-log
    * entry and keeps its offsets entry, sink manifest and state versions —
    * what a crash between sink commit and commit-log write leaves. Returns
    * the torn batch id. Fails if nothing was committed: the pre-crash leg
    * must have processed data for the replay to prove anything. */
  def tearNewestCommit(ckptDir: String): Long = {
    val commits = new java.io.File(s"$ckptDir/commits")
    val batches = Option(commits.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.forall(_.isDigit))
    require(batches.nonEmpty,
      s"restart gate: no committed batch in $ckptDir to tear")
    val newest = batches.maxBy(_.getName.toLong)
    require(newest.delete(), s"restart gate: could not tear commit ${newest.getName}")
    // Hadoop's checksummed local FS keeps a `.N.crc` sidecar; left behind,
    // it makes the replayed batch's commit rewrite collide on the rename.
    // A real crash before the commit write never created it.
    val crc = new java.io.File(commits, s".${newest.getName}.crc")
    if (crc.exists) require(crc.delete(),
      s"restart gate: could not tear commit sidecar ${crc.getName}")
    newest.getName.toLong
  }

  /** Requires the restarted query's first batch to be the torn one: a
    * later first batch means the uncommitted batch was skipped (data loss
    * under exactly-once). The newest batch may be a no-data watermark
    * batch, so a batch count could not show this; the batch id can. */
  def requireReplayed(q: StreamingQuery, tornBatchId: Long): Unit = {
    val ids = q.recentProgress.map(_.batchId)
    require(ids.nonEmpty && ids.min == tornBatchId,
      s"restart gate: expected the restarted query to replay torn batch " +
        s"$tornBatchId, but its executed batch ids start at " +
        s"${if (ids.isEmpty) "<none>" else ids.min.toString}")
  }

  /** Requires at least `minDataBatches` micro-batches with input rows:
    * cross-batch state is only proven if the run really was multi-batch. */
  def requireMultiBatch(q: StreamingQuery, minDataBatches: Int): Unit = {
    val n = q.recentProgress.count(_.numInputRows > 0)
    require(n >= minDataBatches,
      s"streaming gate expected >= $minDataBatches data micro-batches " +
        s"(cross-batch state proof), saw $n among ${q.recentProgress.length} " +
        "retained progress records (cap: spark.sql.streaming." +
        "numRecentProgressUpdates, raised to 1000 on gate sessions)")
  }
}
