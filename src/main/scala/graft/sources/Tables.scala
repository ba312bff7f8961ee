package graft.sources

import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver's synthetic parquet tables (TESTDATA.md) plus the
  * explicit schemas the engine declares for them (SURVEY.md §1.3: schemas are
  * always code-declared, never inferred — mirrors the reference's fixed data
  * classes under reference/src/com/bigdata/model/).
  *
  * Every reader takes the scale-factor directory so the same plan runs at any
  * scale; column pruning and filter pushdown happen in Catalyst because these
  * return plain lazy scans.
  */
object Tables {

  /** events — the trip-stream analog (FIXTURES.md §2):
    * event_type ↔ start/stop flag, ts ↔ Trip.dateTime, user_id % 10 ↔
    * stationId, value ↔ temperature, props ↔ extra JSON payload.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** supplier — the static Station dimension analog
    * (reference/src/com/bigdata/model/Station.kt:3-12). */
  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)
  ))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))

  /** Physical read schema per table — ALWAYS passed explicitly to the
    * parquet reader. Without it, `spark.read.parquet` launches a
    * schema-INFERENCE Spark job (footer merge on executors) at every
    * DataFrame construction; with it, building a plan touches no cluster at
    * all (and the SURVEY §1.3 rule — schemas code-declared, never
    * inferred — actually holds at the reader, not just in documentation).
    * `events.ts` is declared natively as TimestampType; [[events]] swaps in
    * [[eventsNanosReadSchema]] when the parquet footer actually declares
    * TIMESTAMP(NANOS) (which Spark 4 can only read as raw longs).
    */
  private val readSchemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> supplierSchema,
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "events" -> eventsSchema,
    "documents" -> documentsSchema,
    "embeddings" -> embeddingsSchema
  )

  // NOTE (round-16 optimization, measured and REJECTED): a reader-level
  // spread — repartitioning every sub-split scan to defaultParallelism
  // right here — was A/B'd at sf0.1 and made the bench WORSE overall
  // (+100 s full-run): multi-reference queries re-plan the exchange per
  // reference and their cpu grew 2-5× (event_quality_report 5.8 → 17.7
  // cpu-sec, important_parts 2.1 → 11.3, customer_k_anon 8.5 → 14.5),
  // iterative operators (BPE rounds, Lloyd chains, the suffix build)
  // re-execute it every round, and AQE adds a stage boundary per
  // reference. Spreading pays ONLY immediately ahead of a heavy
  // amplifying kernel, so it lives AT those kernels instead:
  // Similarity.covarianceMatrix, the Multimodal codec synth entries, and
  // Relational's decimal-heavy single-pass pricing aggregates.
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.schema(readSchemas(table)).parquet(s"$sfDir/$table.parquet")

  /** Read schema for events files whose footer declares TIMESTAMP(NANOS):
    * Spark 4 rejects that annotation outright ([PARQUET_TYPE_ILLEGAL]) unless
    * `spark.sql.legacy.parquet.nanosAsLong` maps it to a raw int64.
    */
  private val eventsNanosReadSchema: StructType = StructType(
    eventsSchema.map(f => if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** The `ts` logical-type unit declared by the footer of an events-shaped
    * parquet file (or the first file of a directory) — shared by the batch
    * reader and the streaming source, so both branch identically on the
    * generator's encoding. A driver-side metadata read, no Spark job (same
    * machinery as [[parquetRowCount]]), made on every call: a file rewritten
    * with another encoding while the JVM is up is read the new way. */
  private[graft] def tsUnitOfPath(spark: SparkSession,
                                  path: String): LogicalTypeAnnotation.TimeUnit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(root).isDirectory) {
        val files = fs.listStatus(root)
          .filter(_.getPath.getName.endsWith(".parquet"))
        if (files.isEmpty) sys.error(
          s"cannot probe ts encoding: no parquet files yet under $path — " +
            "stage at least one file before opening the stream")
        files.head.getPath
      } else root
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("ts"))
        .asPrimitiveType().getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
        case other => sys.error(
          s"events.ts in $path has unexpected logical type $other — testdata format changed?")
      }
    } finally r.close()
  }

  /** The nanos-aware read schema pair for events-shaped files, keyed by the
    * footer: (schema to hand the reader, whether a ns→µs conversion must
    * follow). Streaming and batch readers both use this. */
  private[graft] def eventsReadPlan(spark: SparkSession,
                                    path: String): (StructType, Boolean) =
    tsUnitOfPath(spark, path) match {
      case LogicalTypeAnnotation.TimeUnit.NANOS =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        (eventsNanosReadSchema, true)
      case _ => (eventsSchema, false)
    }

  /** events reader, robust to the testdata generator's timestamp encoding.
    * The footer decides (drivers have regenerated the file across rounds with
    * different physical types — r6 shipped TIMESTAMP(NANOS), r7 regenerated it
    * as TIMESTAMP(MICROS)):
    *   - MICROS/MILLIS → native TimestampType scan, nothing to convert.
    *   - NANOS → Spark 4 can't scan it as a timestamp; read raw int64 under
    *     the legacy `nanosAsLong` flag and truncate ns→µs (`div` is integer
    *     division — no double rounding). DuckDB (the driver's oracle) performs
    *     the identical ns→µs truncation, so both sides agree to the µs.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val (schema, convertNanos) = eventsReadPlan(spark, s"$sfDir/events.parquet")
    val raw = spark.read.schema(schema).parquet(s"$sfDir/events.parquet")
    if (convertNanos) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  /** Exact row count of a table from its parquet FOOTERS — a driver-side
    * metadata read (each footer stores per-row-group record counts), no
    * Spark job. This is what lets statistics-parameterized plans (e.g.
    * [[graft.operators.Similarity.lshNearDupPairs]] auto-bits) be BUILT
    * without launching work: at 100 TB a footer sweep is one namenode
    * listing plus one ~KB read per file, the same metadata a count() job
    * would route through an executor stage to reach (r5 verdict #6).
    */
  def parquetRowCount(spark: SparkSession, sfDir: String, table: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$sfDir/$table.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq.map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet"))
      else Seq(root)
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** CSV ingestion (reference S2/S3/S5, KafkaProducer.kt:37-57,
    * KafkaConsumer.kt:79-95): explicit schema, header handled by the reader
    * option instead of the reference's substring filter (S4). Exercised by
    * unit tests against generated CSV fixtures.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** One random token per JVM: round-trip scratch dirs from CONCURRENT
    * runs (two drivers benching the same corpus) never collide, while
    * repeated calls within one driver reuse — and `overwrite` — the same
    * dir instead of leaking a new one per pass. Cleaned on JVM exit. */
  private lazy val runToken: String =
    java.util.UUID.randomUUID.toString.take(8)

  /** Base for harness scratch (stagings, stream checkpoints, sinks):
    * prefer tmpfs (`/dev/shm`) when present — streaming gates issue many
    * tiny latency-sensitive writes per micro-batch (offset/commit logs,
    * state changelogs), and on a disk-backed `/tmp` those stall behind
    * the dirty-page writeback of unrelated batch queries' shuffle spill,
    * which was the dominant cold-run variance carrier in the round-15
    * bench samples (the streaming family held 6 of the top-6 cross-run
    * spreads while pure-CPU queries like `mm_mjpeg_sample` held steady).
    * Everything written here is ephemeral by design (rebuilt per corpus,
    * cleaned at JVM exit), so RAM backing changes durability of nothing;
    * a real cluster deployment keeps checkpoints on durable storage —
    * this is harness placement, not engine semantics. Overridable via
    * `SPARK_GRAFT_SCRATCH`; falls back to `/tmp` when no tmpfs. */
  private lazy val scratchBase: String =
    sys.env.get("SPARK_GRAFT_SCRATCH").orElse {
      Some("/dev/shm").filter(d => new java.io.File(d).canWrite)
    }.getOrElse("/tmp")

  /** Scratch dir for a format round-trip, keyed by (corpus, run):
    * a sha-256 prefix over ALL sorted input file paths — two distinct
    * corpora colliding would need a 64-bit digest collision, unlike the
    * previous 32-bit `String.hashCode` of just the first file (advisor
    * finding, round 9) — plus the per-run token for cross-process
    * isolation. Registered for recursive deletion at JVM shutdown so
    * per-run dirs don't accumulate in [[scratchBase]]. */
  private[graft] def scratchDir(prefix: String, input: DataFrame): String = {
    val paths = input.inputFiles.sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(paths.mkString("\n").getBytes("UTF-8"))
    val key = digest.take(8).map(b => f"$b%02x").mkString
    val dir = s"$scratchBase/${prefix}_${key}_$runToken"
    registerCleanup(dir)
    dir
  }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerCleanup(dir: String): Unit =
    if (cleanupRegistered.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(dir))
      }))
    }

  /** ORC round-trip as one self-contained driver query (the wds_roundtrip
    * pattern on Spark's OTHER built-in columnar format): write the
    * document corpus as zlib ORC partitioned by lang — `partitionBy`
    * exercises the directory-layout path a real lakehouse export uses,
    * and lang becomes a PARTITION column the read side prunes on — read
    * the directory back, and aggregate per lang: count, decimal-exact
    * char total, order-independent XOR of the portable text hash. The
    * DuckDB oracle computes the same three aggregates from `documents`
    * directly, so a hash match proves the ORC write → partition layout →
    * read is lossless (NULL texts ride along as ORC nulls — unlike tar,
    * a columnar file CAN carry them — and hash as 0 in the XOR on both
    * sides). The scratch dir is keyed by (corpus-sha, run-token) — see
    * [[scratchDir]] — and rewritten per pass within a run (overwrite —
    * the layout must reflect THIS corpus). */
  def orcRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame = {
    val dir = scratchDir("graft_orc", documents)
    documents.select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.mode("overwrite").option("compression", "zlib")
      .partitionBy("lang").orc(dir)
    spark.read.orc(dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        bit_xor(coalesce(
          graft.operators.TextOps.portableHash64(col("text")), lit(0L)))
          .as("content_hash"))
  }

  /** Avro round-trip ([[orcRoundTrip]]'s ROW-format twin — the third
    * interchange format, round-14): Spark 4 ships the avro connector
    * classes INSIDE spark-sql (`org.apache.spark.sql.avro.AvroFileFormat`
    * lives in spark-sql_2.13-4.1.2.jar — verified against this
    * environment's jars), but NOT the `DataSourceRegister` service entry
    * (no META-INF/services file in any jar names it — also verified), so
    * the SHORT name `.format("avro")` still throws the historical
    * "built-in but external module" error while the FULLY-QUALIFIED class
    * name resolves fine with zero extra dependencies; earlier Spark lines
    * needed the separate spark-avro artifact, which the offline cache
    * here does not carry. Avro is the schema-evolving ROW format
    * streaming platforms interchange (snappy-block container files); same
    * lang-partitioned layout and closed-form per-lang oracle as ORC/jsonl
    * — a hash match proves write → container encode → partition layout →
    * read is lossless, NULL text riding as a null union branch hashing 0. */
  def avroRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame = {
    val dir = scratchDir("graft_avro", documents)
    documents.select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        // LOGICAL-TYPE columns (round-15 verdict #7): the (long, string)
        // surface only proved avro's primitive encodings — the part that
        // actually breaks across engines is the LOGICAL types, so the
        // written schema now carries a timestamp-micros and a decimal,
        // both derived closed-form so the DuckDB oracle can replay them.
        //   doc_ts: micros since epoch = doc_id·10⁶ + (doc_id % 999983)
        //   — sub-second micros exercised, not just whole seconds. The
        //   REMAINDER operator (sign of dividend), not pmod: DuckDB's `%`
        //   is remainder too, so the twin derivations agree for ANY
        //   doc_id, not just the nonnegative ones the current generator
        //   emits (round-15 advisor — pmod diverged on negatives)
        timestamp_micros(col("doc_id") * 1000000L +
          (col("doc_id") % lit(999983L))).as("doc_ts"),
        //   price: DECIMAL(18,4) = (n_chars·10⁴ + doc_id % 10⁴)·0.0001 —
        //   integer scaled value × an exact decimal(4,4) literal, so the
        //   arithmetic is EXACT on both engines (no double rounding); a
        //   NULL n_chars propagates to a NULL price on both sides
        ((col("n_chars") * 10000L + (col("doc_id") % lit(10000L)))
          .cast("decimal(22,0)") * lit(new java.math.BigDecimal("0.0001")))
          .cast("decimal(18,4)").as("price"))
      .write.mode("overwrite").option("compression", "snappy")
      .partitionBy("lang")
      .format("org.apache.spark.sql.avro.AvroFileFormat").save(dir)
    spark.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        bit_xor(coalesce(
          graft.operators.TextOps.portableHash64(col("text")), lit(0L)))
          .as("content_hash"),
        // the logical-type proofs: a micros-truncated or tz-shifted
        // timestamp round-trip moves max_ts; a scale/precision mangle in
        // the decimal round-trip moves total_price (the final cast to
        // double is exact at any reachable magnitude — the scaled total
        // stays far below 2⁵³ — so the presentation cannot mask a defect)
        max(col("doc_ts")).as("max_ts"),
        sum(col("price")).cast("double").as("total_price"))
  }

  /** Gzipped JSON-LINES round-trip ([[orcRoundTrip]]'s text-format twin)
    * — jsonl.gz is THE interchange format LLM corpora actually ship as
    * (The Pile, RedPajama, Dolma all publish it), so the engine must
    * prove it can export and re-ingest it losslessly. Same lang-
    * partitioned layout and closed-form oracle as the ORC entry; the
    * read side passes an EXPLICIT schema — at 100 TB, schema inference
    * is a full extra pass over the data, so a declared schema is part of
    * the format discipline, not a convenience. JSON escaping makes the
    * trip lossless for any UTF-8 text; a null text serializes as an
    * absent field and reads back null, hashing as 0 in the XOR on both
    * sides exactly like ORC's null.
    */
  def jsonlRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame = {
    val dir = scratchDir("graft_jsonl", documents)
    documents.select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.mode("overwrite").option("compression", "gzip")
      .partitionBy("lang").json(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", LongType)))
    spark.read.schema(schema).json(dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        bit_xor(coalesce(
          graft.operators.TextOps.portableHash64(col("text")), lit(0L)))
          .as("content_hash"))
  }
}
