package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{TarIO, TarShards}

/** The WebDataset shard surface: ustar codec round-trips and loud
  * failures, the DSv2 connector's three scale levers (shard-level
  * planning-time pruning, payload-skipping column pruning, member-name
  * pushdown), and write→read losslessness on the real corpus. */
class TarSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def tarOf(members: (String, Array[Byte])*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    TarIO.write(members.iterator, out)
    out.toByteArray
  }

  test("ustar codec: members round-trip bit-exactly, incl. unpadded sizes and unicode names") {
    val members = Seq(
      "a.txt" -> bytes("hello"),
      "empty.bin" -> Array.empty[Byte],
      "exactly-512" -> Array.fill[Byte](512)(7),
      "héllo-愛.txt" -> bytes("unicode payload"),
      "b/nested/name.json" -> bytes("""{"k":1}"""))
    val decoded = TarIO.read(new ByteArrayInputStream(tarOf(members: _*)),
      readBytes = true).toList
    assert(decoded.map(_.name) == members.map(_._1))
    decoded.zip(members).foreach { case (m, (_, b)) =>
      assert(m.size == b.length && java.util.Arrays.equals(m.bytes, b), m.name)
    }
  }

  test("ustar codec: archives are byte-deterministic and GNU tar readable shape (magic+chksum)") {
    val a1 = tarOf("x" -> bytes("payload"))
    val a2 = tarOf("x" -> bytes("payload"))
    assert(java.util.Arrays.equals(a1, a2))
    assert(new String(a1, 257, 5, StandardCharsets.US_ASCII) == "ustar")
  }

  test("ustar codec: corruption fails loudly — checksum, magic, truncation, non-file member") {
    val good = tarOf("x" -> bytes("payload"))
    val badSum = good.clone(); badSum(0) = 'y'.toByte // name change breaks chksum
    val e1 = intercept[IllegalArgumentException] {
      TarIO.read(new ByteArrayInputStream(badSum), readBytes = true).toList
    }
    assert(e1.getMessage.contains("checksum"))
    val badMagic = good.clone(); badMagic(257) = 'X'.toByte
    // magic is checked before (and independently of) the checksum
    assert(intercept[IllegalArgumentException] {
      TarIO.read(new ByteArrayInputStream(badMagic), readBytes = true).toList
    }.getMessage.contains("magic"))
    val truncated = good.take(600) // header + partial payload block
    assert(intercept[java.io.EOFException] {
      TarIO.read(new ByteArrayInputStream(truncated), readBytes = true).toList
    }.getMessage.contains("truncated"))
    val dirMember = good.clone(); dirMember(156) = '5'.toByte // directory typeflag
    // repair checksum so the typeflag check itself is what fires
    locally {
      java.util.Arrays.fill(dirMember, 148, 156, ' '.toByte)
      var sum = 0L; (0 until 512).foreach(i => sum += (dirMember(i) & 0xff))
      val oct = "%06o".format(sum).getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(oct, 0, dirMember, 148, 6)
      dirMember(154) = 0; dirMember(155) = ' '.toByte
    }
    assert(intercept[IllegalArgumentException] {
      TarIO.read(new ByteArrayInputStream(dirMember), readBytes = true).toList
    }.getMessage.contains("regular files"))
  }

  test("connector: write->read is lossless on the real corpus (bytes equal per doc)") {
    val docs = sources.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val tmp = Files.createTempDirectory("graft_tar_spec").toString
    TarShards.writeShards(
      docs.select(pmod(col("doc_id"), lit(4)).cast("int").as("shard_id"),
        concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
        encode(col("text"), "UTF-8").as("content")),
      tmp, 4)
    val back = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .select(regexp_replace(col("name"), "\\.txt$", "").cast("long").as("doc_id"),
        decode(col("content"), "UTF-8").as("text_back"))
    val joined = docs.join(back, "doc_id")
    assert(joined.count() == docs.count())
    assert(joined.filter(col("text") =!= col("text_back")).count() == 0)
    // every doc landed in its keyed shard: 4 files, deterministic names
    val files = Files.list(Paths.get(tmp)).iterator()
    val all = Iterator.continually(files).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).toList.sorted
    assert(all.filter(_.endsWith(".tar")) ==
      (0 until 4).map(i => f"shard-$i%05d.tar").toList)
    // the atomic-publish discipline leaves no in-progress temp files behind
    assert(!all.exists(_.contains("inprogress")), all.toString)
  }

  test("inflate: .gz members decode transparently, mixed shards pass through") {
    val tmp = Files.createTempDirectory("graft_tar_gz").toString
    val text = "hello gzip member world " * 20
    val out = new java.io.FileOutputStream(s"$tmp/shard-00000.tar")
    TarIO.write(Iterator(
      "a.txt.gz" -> TarIO.gzip(bytes(text)),
      "b.txt" -> bytes("plain member")), out)
    out.close()
    val rows = spark.read.format("graft.sources.TarDataSource")
      .option("inflate", "true").load(tmp)
      .collect().map(r => r.getAs[String]("name") ->
        (r.getAs[Long]("size"), new String(r.getAs[Array[Byte]]("content"),
          StandardCharsets.UTF_8))).toMap
    // .gz member: suffix stripped, DECODED size and bytes
    assert(rows("a.txt") == (text.length.toLong, text))
    // plain member untouched
    assert(rows("b.txt") == ("plain member".length.toLong, "plain member"))
    // name filters see the decoded name
    val filtered = spark.read.format("graft.sources.TarDataSource")
      .option("inflate", "true").load(tmp)
      .filter(col("name") === "a.txt").collect()
    assert(filtered.length == 1 && filtered.head.getAs[String]("name") == "a.txt")
    // without inflate the raw member is reported as-is (compressed size)
    val raw = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .filter(col("name") === "a.txt.gz").collect()
    assert(raw.length == 1 &&
      raw.head.getAs[Long]("size") < text.length.toLong)
    // aggregate pushdown declines under inflate: decoded sizes can't come
    // from tar headers
    val aggPlan = spark.read.format("graft.sources.TarDataSource")
      .option("inflate", "true").load(tmp)
      .groupBy(col("shard")).agg(count(lit(1)), sum(col("size")))
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("pushedAggregation"), aggPlan)
    // ...but still pushes without inflate on the same shards
    val aggPlain = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .groupBy(col("shard")).agg(count(lit(1)), sum(col("size")))
      .queryExecution.executedPlan.toString
    assert(aggPlain.contains("pushedAggregation"), aggPlain)
    // corrupt .gz payload fails loudly under inflate
    val bad = Files.createTempDirectory("graft_tar_gz_bad").toString
    val out2 = new java.io.FileOutputStream(s"$bad/shard-00000.tar")
    TarIO.write(Iterator("c.txt.gz" -> bytes("not gzip at all")), out2)
    out2.close()
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.sources.TarDataSource")
        .option("inflate", "true").load(bad).collect()
    }
    assert(e.getMessage != null)
  }

  test("connector: shard equality filter prunes partitions at PLANNING time") {
    val tmp = writeCorpusShards(8)
    val all = spark.read.format("graft.sources.TarDataSource").load(tmp)
    assert(all.rdd.getNumPartitions == 8)
    val one = all.filter(col("shard") === "shard-00003.tar")
    assert(one.rdd.getNumPartitions == 1, "shard filter must prune files before reading")
    assert(one.select(countDistinct(col("shard"))).head.getLong(0) == 1)
    // prefix pruning too
    assert(all.filter(col("shard").startsWith("shard-0000"))
      .rdd.getNumPartitions == 8)
    assert(all.filter(col("shard") === "no-such.tar").rdd.getNumPartitions == 0)
  }

  test("connector: runtime (join-driven) filtering prunes shards at execution time") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.unsafe.types.UTF8String
    val tmp = writeCorpusShards(8)
    def freshScan() = new sources.TarScanBuilder(tmp,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()), -1)
      .build().asInstanceOf[sources.TarScan]
    def lit(s: String) = Expressions.literal(UTF8String.fromString(s))
    val shardRef = Expressions.column("shard")

    // IN (...) prunes to the named shards
    val s1 = freshScan()
    s1.filter(Array(new Predicate("IN",
      Array(shardRef, lit("shard-00002.tar"), lit("shard-00005.tar")))))
    assert(s1.planInputPartitions().length == 2)

    // equality (both child orders) prunes to one
    val s2 = freshScan()
    s2.filter(Array(new Predicate("=", Array(lit("shard-00007.tar"), shardRef))))
    assert(s2.planInputPartitions().length == 1)

    // conjunction intersects; an uninterpretable predicate is IGNORED, not
    // misapplied (runtime filters are optimization-only)
    val s3 = freshScan()
    s3.filter(Array(
      new Predicate("IN", Array(shardRef, lit("shard-00001.tar"), lit("shard-00002.tar"))),
      new Predicate("=", Array(shardRef, lit("shard-00002.tar"))),
      new Predicate("STARTS_WITH", Array(shardRef, lit("shard")))))
    assert(s3.planInputPartitions().length == 1)

    // a lone uninterpretable predicate leaves the scan untouched
    val s4 = freshScan()
    s4.filter(Array(new Predicate("STARTS_WITH", Array(shardRef, lit("sh")))))
    assert(s4.planInputPartitions().length == 8)

    // the capability is declared on the shard column — but ONLY while
    // shard survives into the scan output (PartitionPruning resolves the
    // refs against readSchema and would throw on a pruned column)
    assert(s4.filterAttributes().map(_.describe()).toSeq == Seq("shard"))
    val prunedBuilder = new sources.TarScanBuilder(tmp,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()), -1)
    prunedBuilder.pruneColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType, nullable = false))))
    val prunedScan = prunedBuilder.build().asInstanceOf[sources.TarScan]
    assert(prunedScan.filterAttributes().isEmpty,
      "no runtime-filter capability without the shard column in the output")

    // end-to-end: a dim-driven join stays correct whether or not the
    // optimizer chooses to inject the runtime filter
    import spark.implicits._
    val dim = Seq("shard-00003.tar").toDF("shard")
    val joined = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .join(dim, "shard")
    assert(joined.select(countDistinct(col("shard"))).head.getLong(0) == 1)
  }

  test("connector: column pruning drops `content` from the scan; name pushdown is visible") {
    val tmp = writeCorpusShards(4)
    val meta = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .filter(col("name").endsWith(".txt"))
      .select(col("shard"), col("size"))
    val plan = meta.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("BatchScan"))
      .getOrElse(fail(s"no BatchScan in:\n$plan"))
    assert(!scanLine.contains("content"), scanLine)
    val described = meta.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
    // pushed filter list from TarScan.description surfaces in the scan node
    assert(described.contains("StringEndsWith") || plan.contains("StringEndsWith"),
      described)
    // and the metadata scan still returns correct sizes (headers only)
    assert(meta.agg(sum(col("size"))).head.getLong(0) > 0)
  }

  test("connector: empty directory and missing directory read as zero rows, not errors") {
    val tmp = Files.createTempDirectory("graft_tar_empty").toString
    assert(spark.read.format("graft.sources.TarDataSource").load(tmp).count() == 0)
    assert(spark.read.format("graft.sources.TarDataSource")
      .load(tmp + "/definitely-missing").count() == 0)
  }

  test("streaming: new shards are consumed exactly once, incl. across a checkpoint restart") {
    val tmp = Files.createTempDirectory("graft_tar_stream").toString
    val ckpt = Files.createTempDirectory("graft_tar_ckpt").toString
    def addShard(i: Int, docs: (String, String)*): Unit = {
      val out = new java.io.FileOutputStream(s"$tmp/shard-$i.tar")
      TarIO.write(docs.iterator.map { case (n, t) => n -> bytes(t) }, out)
      out.close()
    }
    val outDir = Files.createTempDirectory("graft_tar_out").toString
    addShard(0, "a.txt" -> "alpha", "b.txt" -> "beta")
    addShard(1, "c.txt" -> "gamma")
    // parquet sink: fault-tolerant, so the checkpoint restart leg is real
    def startQuery() = spark.readStream
      .format("graft.sources.TarDataSource").load(tmp)
      .select(col("name"), decode(col("content"), "UTF-8").as("text"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def sunk(): List[String] = spark.read.parquet(outDir)
      .select("text").collect().map(_.getString(0)).sorted.toList
    val q = startQuery()
    try {
      q.processAllAvailable()
      assert(sunk() == List("alpha", "beta", "gamma"))
      addShard(2, "d.txt" -> "delta")
      q.processAllAvailable()
      assert(sunk() == List("alpha", "beta", "delta", "gamma"))
    } finally q.stop()
    // restart from the checkpoint: ONLY the shard added while down arrives,
    // nothing replays — each text stays exactly-once in the sink
    addShard(3, "e.txt" -> "epsilon")
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(sunk() == List("alpha", "beta", "delta", "epsilon", "gamma"))
    } finally q2.stop()
  }

  test("streaming: a graft-tar stream over the packed real corpus equals the batch read") {
    // member count, total bytes and the order-independent content-hash
    // XOR — the wds_roundtrip oracle's invariants — on the streaming path
    val tmp = writeCorpusShards(4)
    def summary(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)), sum(col("size")),
        bit_xor(graft.operators.TextOps.portableHash64(col("content")))).head()
    val q = spark.readStream.format("graft-tar").load(tmp)
      .writeStream.format("memory").queryName("tar_stream_vs_batch")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = summary(spark.table("tar_stream_vs_batch"))
      assert(streamed == summary(spark.read.format("graft-tar").load(tmp)))
      assert(streamed.getLong(0) == sources.Tables.documents(spark, dir)
        .filter(col("text").isNotNull).count())
    } finally q.stop()
  }

  test("statistics: pruned scans report pruned sizes; a small shard selection broadcasts") {
    import graft.sources.TarScan
    val tmp = writeCorpusShards(8)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val all = new TarScan(tmp, graft.sources.TarTable.SCHEMA, Array.empty, conf)
    val one = new TarScan(tmp, graft.sources.TarTable.SCHEMA,
      Array(org.apache.spark.sql.sources.EqualTo("shard", "shard-00003.tar")), conf)
    val allSize = all.estimateStatistics().sizeInBytes().getAsLong
    val oneSize = one.estimateStatistics().sizeInBytes().getAsLong
    assert(allSize > 0 && oneSize > 0 && oneSize < allSize / 4,
      s"one-shard stats $oneSize should be well under full $allSize")
    assert(!all.estimateStatistics().numRows().isPresent,
      "tar has no index — a guessed row count would be dishonest")
    // and the optimizer consumes them: joining the one-shard selection
    // against the full corpus table broadcasts the TAR side
    val tarSide = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .filter(col("shard") === "shard-00003.tar")
      .select(regexp_replace(col("name"), "\\.txt$", "").cast("long").as("doc_id"))
    val joined = sources.Tables.documents(spark, dir).join(tarSide, "doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(joined.count() > 0)
  }

  test("limit pushdown: readers stop mid-shard; the pushed limit is visible in the scan") {
    val tmp = writeCorpusShards(4)
    val limited = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .select(col("name")).limit(3)
    assert(limited.collect().length == 3)
    val leaves = limited.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(leaves.contains("limit=3"), leaves)
    // unlimited scans advertise no cap
    val full = spark.read.format("graft.sources.TarDataSource").load(tmp)
      .select(col("name"))
    assert(full.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString.contains("limit=-1"))
  }

  test("streaming: offsets serialize compactly and round-trip; legacy arrays still decode") {
    import graft.sources.{TarMicroBatchStream, TarShardSetOffset}
    val s = new TarMicroBatchStream("/nonexistent", null, Array.empty,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    // non-numbered names stay literal strings (the legacy wire shape)
    val o = TarShardSetOffset(scala.collection.immutable.SortedSet("b.tar", "a.tar"))
    assert(o.json() == """["a.tar","b.tar"]""")
    assert(s.deserializeOffset(o.json()) == o)
    // legacy checkpoint entries (plain sorted array) decode unchanged
    assert(s.deserializeOffset("""["shard-00000.tar","shard-00001.tar"]""") ==
      TarShardSetOffset(scala.collection.immutable.SortedSet(
        "shard-00000.tar", "shard-00001.tar")))
    assert(s.initialOffset() == TarShardSetOffset(
      scala.collection.immutable.SortedSet.empty[String]))
  }

  test("streaming: the seen-set offset is O(gaps), not O(shards), and decode is exact") {
    import graft.sources.{TarOffsetCodec, TarShardSetOffset}
    def name(i: Int) = f"shard-$i%05d.tar"
    // steady state (what writeShards + in-order admission produce): a
    // 10k-shard contiguous run serializes as ONE [first, last] range —
    // this is the r8-verdict #6 bound: the offset log stops rewriting
    // megabytes per micro-batch at 100k+ shards
    val contiguous = scala.collection.immutable.SortedSet.from(
      (0 until 10000).map(name))
    val j = TarOffsetCodec.encode(contiguous)
    assert(j == """[["shard-00000.tar","shard-09999.tar"]]""", j)
    assert(j.length < 50, s"offset must be O(1) for a contiguous run: $j")
    assert(TarOffsetCodec.decode(j) == contiguous)
    // gaps split runs; the decode expands to EXACTLY the encoded set, so
    // a late shard landing in a gap is still (target -- seen)-new
    val gappy = contiguous - name(5000) - name(7777)
    val jg = TarOffsetCodec.encode(gappy)
    assert(TarOffsetCodec.decode(jg) == gappy)
    assert(!TarOffsetCodec.decode(jg).contains(name(5000)))
    assert(jg.length < 150, s"3 runs expected: $jg")
    // mixed families and widths never merge across prefix/width/suffix
    val mixed = scala.collection.immutable.SortedSet(
      "a-001.tar", "a-002.tar", "a-0003.tar", "b-003.tar", "plain.tar")
    assert(TarOffsetCodec.decode(TarOffsetCodec.encode(mixed)) == mixed)
    // singleton runs collapse back to a literal, not a degenerate range
    val single = scala.collection.immutable.SortedSet("shard-00042.tar")
    assert(TarOffsetCodec.encode(single) == """["shard-00042.tar"]""")
    // a corrupted checkpoint range must fail LOUDLY, not spin the driver
    // through ~1e17 set insertions (decode trusts checkpoint bytes)
    val e = intercept[IllegalArgumentException](TarOffsetCodec.decode(
      """[["s-000000000000000001.tar","s-900000000000000000.tar"]]"""))
    assert(e.getMessage.contains("malformed offset"), e.getMessage)
  }

  test("listShards: numeric-aware ordering holds past the %05d pad width") {
    import graft.sources.TarScan
    val names = Seq("shard-100000.tar", "shard-99999.tar", "shard-00002.tar")
    val sorted = names.sortBy(TarScan.numericSortKey)
    assert(sorted == Seq("shard-00002.tar", "shard-99999.tar", "shard-100000.tar"),
      sorted)
    // distinct names with different zero-padding stay distinct keys
    assert(TarScan.numericSortKey("s-07.tar") != TarScan.numericSortKey("s-7.tar"))
  }

  test("sample grouping: members pair by key, dotted extensions stay whole, absent members are null") {
    import spark.implicits._
    val members = Seq(
      ("s.tar", "doc1.txt", 1L, bytes("one")),
      ("s.tar", "doc1.meta.json", 1L, bytes("m1")),
      ("s.tar", "doc2.txt", 1L, bytes("two")),
      ("t.tar", "doc3.meta.json", 1L, bytes("m3")))
      .toDF("shard", "name", "size", "content")
    val out = TarShards.samples(members, Seq("txt", "meta.json"))
      .select(col("key"), decode(col("txt"), "UTF-8").as("txt"),
        decode(col("`meta.json`"), "UTF-8").as("meta"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toList
    assert(out == List(("doc1", "one", "m1"), ("doc2", "two", null),
      ("doc3", null, "m3")))
  }

  test("property: any member list round-trips the ustar codec byte-exactly") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val memberGen = for {
      nameLen <- Gen.choose(1, 40)
      name <- Gen.listOfN(nameLen,
        Gen.frequency(8 -> Gen.alphaNumChar, 1 -> Gen.const('.'),
          1 -> Gen.const('/'))).map(_.mkString)
      size <- Gen.frequency(3 -> Gen.choose(0, 50), 2 -> Gen.choose(500, 600),
        1 -> Gen.const(512)) // straddle the block boundary deliberately
      body <- Gen.listOfN(size, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (name, body.toArray)
    val prop = Prop.forAll(Gen.listOfN(6, memberGen)) { members =>
      val decoded = TarIO.read(
        new ByteArrayInputStream(tarOf(members: _*)), readBytes = true).toList
      decoded.map(_.name) == members.map(_._1) &&
        decoded.zip(members).forall { case (m, (_, b)) =>
          java.util.Arrays.equals(m.bytes, b)
        }
    }
    val res = check(Parameters.default
      .withInitialSeed(org.scalacheck.rng.Seed(7L))
      .withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("streaming backpressure: maxShardsPerTrigger drains a burst as bounded micro-batches") {
    val tmp = Files.createTempDirectory("graft_tar_bp").toString
    val ckpt = Files.createTempDirectory("graft_tar_bp_ckpt").toString
    (0 until 5).foreach { i =>
      val out = new java.io.FileOutputStream(s"$tmp/s$i.tar")
      TarIO.write(Iterator(s"d$i.txt" -> bytes(s"doc$i")), out)
      out.close()
    }
    val q = spark.readStream.format("graft-tar")
      .option("maxShardsPerTrigger", 2).load(tmp)
      .writeStream.format("memory").queryName("tar_bp")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tar_bp").count() == 5, "every shard still arrives")
      // 5 shards at <= 2 per trigger need at least 3 non-empty batches
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.length >= 3 && sizes.max <= 2,
        s"batch sizes ${sizes.toList}: expected <= 2 shards per trigger")
    } finally q.stop()
  }

  test("re-shard pipeline: landing shards stream through dedup into balanced output shards, exactly once") {
    import graft.streaming.ShardPipeline
    val landing = Files.createTempDirectory("graft_pipe_in").toString
    val outDir = Files.createTempDirectory("graft_pipe_out").toString
    val ckpt = Files.createTempDirectory("graft_pipe_ckpt").toString
    def land(shard: String, docs: (String, String)*): Unit = {
      val out = new java.io.FileOutputStream(s"$landing/$shard.tar")
      TarIO.write(docs.iterator.map { case (n, t) => n -> bytes(t) }, out)
      out.close()
    }
    def curated(): List[String] = {
      val dirs = Files.list(Paths.get(outDir)).iterator()
      Iterator.continually(dirs).takeWhile(_.hasNext).map(_.next()).flatMap { d =>
        spark.read.format("graft.sources.TarDataSource").load(d.toString)
          .select(decode(col("content"), "UTF-8")).collect().map(_.getString(0))
      }.toList.sorted
    }
    // batch 1: an intra-batch duplicate collapses
    land("a", "1.txt" -> "alpha", "2.txt" -> "beta", "3.txt" -> "alpha")
    val q = ShardPipeline.reshardDeduped(spark, landing, outDir, ckpt, 4)
    try {
      q.processAllAvailable()
      assert(curated() == List("alpha", "beta"))
      // batch 2: cross-batch duplicates drop through streaming state
      land("b", "4.txt" -> "beta", "5.txt" -> "gamma")
      q.processAllAvailable()
      assert(curated() == List("alpha", "beta", "gamma"))
    } finally q.stop()
    // restart from the checkpoint: dedup state survives, only novelty lands
    land("c", "6.txt" -> "gamma", "7.txt" -> "delta")
    val q2 = ShardPipeline.reshardDeduped(spark, landing, outDir, ckpt, 4)
    try {
      q2.processAllAvailable()
      assert(curated() == List("alpha", "beta", "delta", "gamma"))
    } finally q2.stop()
  }

  test("SQL surface: the graft-tar short name works in DataFrame reads AND CREATE TABLE ... USING") {
    val tmp = writeCorpusShards(4)
    // short-name format resolution via the DataSourceRegister service file
    val viaShort = spark.read.format("graft-tar").load(tmp)
    assert(viaShort.count() > 0)
    assert(viaShort.schema.fieldNames.toSeq == Seq("shard", "name", "size", "content"))
    // SQL DDL surface: a named table over the shard directory
    spark.sql("DROP TABLE IF EXISTS graft_tar_sql_test")
    spark.sql(
      s"CREATE TABLE graft_tar_sql_test USING `graft-tar` OPTIONS (path '$tmp')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM graft_tar_sql_test WHERE name LIKE '%.txt'")
        .head().getLong(0)
      assert(n == viaShort.count())
      // shard pruning works through the SQL surface too
      val pruned = spark.sql(
        "SELECT * FROM graft_tar_sql_test WHERE shard = 'shard-00001.tar'")
      assert(pruned.rdd.getNumPartitions == 1, "planning-time pruning through SQL")
    } finally spark.sql("DROP TABLE graft_tar_sql_test")
  }

  test("fsck: a corrupted shard is flagged with its error while healthy shards pass") {
    val tmp = writeCorpusShards(4)
    val clean = TarShards.fsck(spark, tmp).collect()
    assert(clean.length == 4 && clean.forall(_.getBoolean(2)))
    assert(clean.forall(r => r.getLong(3) > 0 && r.getLong(4) > 0))
    // flip a byte inside the victim's first header: checksum must trip
    val victim = Paths.get(tmp, "shard-00002.tar")
    val raw = Files.readAllBytes(victim)
    raw(0) = (raw(0) ^ 0x01).toByte
    Files.write(victim, raw)
    val swept = TarShards.fsck(spark, tmp).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!swept("shard-00002.tar").getBoolean(2))
    assert(swept("shard-00002.tar").getString(5).contains("checksum"))
    assert(swept.filterKeys(_ != "shard-00002.tar").values.forall(_.getBoolean(2)))
  }

  test("aggregate pushdown: COUNT/SUM/MIN/MAX(size) fold at the scan from headers only") {
    val tmp = writeCorpusShards(4)
    val tar = spark.read.format("graft-tar").load(tmp)
    // ground truth through the plain row scan
    val want = tar.groupBy(col("shard")).agg(
      count(lit(1)).as("n"), sum(col("size")).as("b"),
      min(col("size")).as("lo"), max(col("size")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    def scanDescr(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString

    // grouped form: the scan's description carries the pushed aggregation
    // and its output is the aggregate shape, not member rows
    val grouped = tar.groupBy(col("shard")).agg(
      count(lit(1)).as("n"), sum(col("size")).as("b"),
      min(col("size")).as("lo"), max(col("size")).as("hi"))
    val got = grouped.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
    val d = scanDescr(grouped)
    assert(d.contains("pushedAggregation=[group=shard,count,sum,min,max]"), d)

    // global form (no grouping): one partial row per shard, final merge
    val global = tar.agg(count(lit(1)).as("n"), sum(col("size")).as("b"))
    val g = global.head()
    assert(g.getLong(0) == want.values.map(_._1).sum)
    assert(g.getLong(1) == want.values.map(_._2).sum)
    assert(scanDescr(global).contains("pushedAggregation=[count,sum]"),
      scanDescr(global))

    // count(name) == count(*) (header columns are never null) also pushes
    assert(tar.agg(count(col("name"))).head().getLong(0) ==
      want.values.map(_._1).sum)

    // avg(size) rides the same path: Spark rewrites it to pushed
    // sum+count partials and divides in the final agg
    val avg = tar.agg(org.apache.spark.sql.functions.avg(col("size")))
    assert(scanDescr(avg).contains("pushedAggregation=[sum,count]"),
      scanDescr(avg))
    val total = want.values.map(_._1).sum
    assert(avg.head().getDouble(0) ==
      want.values.map(_._2).sum.toDouble / total)

    // non-pushable shapes still answer through the row scan: DISTINCT
    // aggregates, and anything under a residual filter
    val distinct = tar.agg(countDistinct(col("name")))
    assert(!scanDescr(distinct).contains("pushedAggregation"),
      scanDescr(distinct))
    assert(distinct.head().getLong(0) == total) // names are unique here
    val filtered = tar.filter(col("name").endsWith(".txt"))
      .agg(count(lit(1))).head().getLong(0)
    assert(filtered == total)

    // empty directory: pushdown declines, count is still 0 (not null)
    val emptyDir = Files.createTempDirectory("graft_tar_agg_empty").toString
    assert(spark.read.format("graft-tar").load(emptyDir)
      .agg(count(lit(1))).head().getLong(0) == 0L)

    // member-EMPTY shard (valid tar = just the zero trailer): the
    // unpushed plan yields no rows for it, so the pushed grouped
    // aggregate must not invent a (shard, 0) group (self-review
    // finding, round 9) — while the GLOBAL count keeps its zero partial
    // so the final sum stays non-null
    val out = new java.io.FileOutputStream(s"$tmp/shard-empty.tar")
    TarIO.write(Iterator.empty, out); out.close()
    val withEmpty = spark.read.format("graft-tar").load(tmp)
    val groups = withEmpty.groupBy(col("shard")).agg(count(lit(1)))
      .collect().map(_.getString(0)).toSet
    assert(!groups.contains("shard-empty.tar"), groups)
    assert(groups.size == 4, groups)
    assert(withEmpty.agg(count(lit(1))).head().getLong(0) ==
      want.values.map(_._1).sum)
  }

  private def writeCorpusShards(n: Int): String = {
    val docs = sources.Tables.documents(spark, dir).filter(col("text").isNotNull)
    val tmp = Files.createTempDirectory("graft_tar_prune").toString
    TarShards.writeShards(
      docs.select(pmod(col("doc_id"), lit(n)).cast("int").as("shard_id"),
        concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
        encode(col("text"), "UTF-8").as("content")),
      tmp, n)
    tmp
  }
}
