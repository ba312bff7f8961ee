package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.sources.Tables

/** Multimodal plumbing: binary payload construction, header round-trip
  * through the stubbed decoder, batch shape, and narrow execution. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val media = Multimodal.mediaFromDocuments(docs)

  test("media schema: binary payload + typed metadata struct") {
    val f = media.schema("payload")
    assert(f.dataType.typeName == "binary")
    val meta = media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("format", "width", "height", "nBytes"))
  }

  test("decode stub round-trips the header and histograms the body") {
    val feats = Multimodal.decodeFeatures(Multimodal.asMediaDataset(media))
    val joined = feats.toDF().join(docs, col("docId") === docs("doc_id"))
      .select("docId", "width", "height", "payloadBytes", "histogram", "n_chars")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val nChars = r.getAs[Long]("n_chars")
      val docId = r.getAs[Long]("docId")
      assert(r.getAs[Int]("width") == (nChars % 64 + 16).toInt)
      assert(r.getAs[Int]("height") == (docId % 48 + 16).toInt)
      // histogram covers exactly the body bytes (ASCII text: 1 byte/char)
      val hist = r.getSeq[Long](r.fieldIndex("histogram"))
      assert(hist.sum == r.getAs[Long]("payloadBytes") - 8)
    }
  }

  test("decode is a narrow op: partitioning is preserved, no shuffle") {
    val ds = Multimodal.asMediaDataset(media.repartition(7))
    val out = Multimodal.decodeFeatures(ds)
    assert(out.rdd.getNumPartitions == 7)
    // exactly ONE Exchange: the explicit repartition above; the decode
    // stage itself must not add any
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("frame sampling keeps every stride-th fixed-size frame") {
    val one = Multimodal.asMediaDataset(media.filter(col("docId") === 0))
    val total = one.collect().head.payload.length - 8
    val frames = Multimodal.sampleFrames(one, frameBytes = 32, stride = 2).collect()
    val nFrames = (total + 31) / 32
    val expected = (nFrames + 1) / 2
    assert(frames.length == expected)
    assert(frames.forall(_.frameIdx % 2 == 0))
    assert(frames.filter(_.frameIdx < nFrames - 1).forall(_.frame.length == 32))
  }

  test("parsePpm decodes a real hand-built P6 payload, comments and all") {
    // 2x2 RGB image with a header comment — bytes chosen so each channel
    // sum is distinct; this is a REAL netpbm P6 stream, not the stub format
    val pixels = Array[Byte](
      10, 20, 30, 40, 50, 60,
      70, 80, 90, 100, 110, 120)
    val header = "P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII")
    val (w, h, body) = Multimodal.parsePpm(header ++ pixels)
    assert(w == 2 && h == 2)
    assert(java.util.Arrays.equals(body, pixels))
    // malformed input fails loudly (no silent zeroed features at scale)
    intercept[IllegalArgumentException] {
      Multimodal.parsePpm("P5\n2 2\n255\n".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.parsePpm("P6\n2 2\n255\n".getBytes("US-ASCII") ++ pixels.take(5))
    }
  }

  test("PPM generate -> binary decode round-trip matches text-side channel sums") {
    val stats = Multimodal.ppmDecodeStats(docs).collect()
    val texts = docs.select("doc_id", "text", "n_chars").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_chars"))).toMap
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (text, nChars) = texts(id)
      val w = (nChars % 16 + 8).toInt
      val h = (id % 12 + 8).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Long]("n_pixels") == w.toLong * h)
      // independent reconstruction: text cycled to w*h*3 bytes
      val t = if (text == null || text.isEmpty) " " else text
      val bytes = Array.tabulate(w * h * 3)(i => t.charAt(i % t.length).toLong)
      def chan(c: Int) = bytes.grouped(3).map(_(c)).sum
      assert(r.getAs[Long]("sum_r") == chan(0))
      assert(r.getAs[Long]("sum_g") == chan(1))
      assert(r.getAs[Long]("sum_b") == chan(2))
    }
  }

  test("parseBmp decodes a hand-built padded BMP; padding never enters the sums") {
    import spark.implicits._
    // 3x2 bottom-up 24-bit BMP: width 3 -> stride 12, 3 padding bytes per
    // row, deliberately NON-ZERO (0x7f) so a decoder that sums the whole
    // raster is caught red-handed
    def le(v: Int, n: Int): Array[Byte] =
      Array.tabulate(n)(k => ((v >> (8 * k)) & 0xff).toByte)
    val row0 = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 0x7f, 0x7f, 0x7f)
    val row1 = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 0x7f, 0x7f, 0x7f)
    def bmp(height: Int): Array[Byte] =
      "BM".getBytes("US-ASCII") ++ le(54 + 24, 4) ++ le(0, 4) ++ le(54, 4) ++
        le(40, 4) ++ le(3, 4) ++ le(height, 4) ++ le(1, 2) ++ le(24, 2) ++
        le(0, 4) ++ le(24, 4) ++ le(2835, 4) ++ le(2835, 4) ++ le(0, 8) ++
        row0 ++ row1
    val (w, h, stride, raster) = Multimodal.parseBmp(bmp(2))
    assert(w == 3 && h == 2 && stride == 12 && raster.length == 24)
    val media = Seq(
      Multimodal.MediaFile(1L, bmp(2), Multimodal.MediaMeta("image/bmp", 3, 2, 78)),
      // negative height = top-down row order: same pixels, same sums
      Multimodal.MediaFile(2L, bmp(-2), Multimodal.MediaMeta("image/bmp", 3, 2, 78))
    ).toDS()
    val stats = Multimodal.decodeBmpStats(media).collect()
      .map(s => s.docId -> s).toMap
    for (s <- stats.values) {
      assert(s.width == 3 && s.height == 2 && s.nPixels == 6)
      // BGR pixel layout: byte 0 is blue — and no 0x7f padding anywhere
      assert(s.sumB == 1 + 4 + 7 + 10 + 40 + 70)
      assert(s.sumG == 2 + 5 + 8 + 20 + 50 + 80)
      assert(s.sumR == 3 + 6 + 9 + 30 + 60 + 90)
    }
    // malformed input fails loudly
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.parseBmp(bmp(2).patch(0, "PNG".getBytes("US-ASCII").take(2), 2))
    }
    intercept[IllegalArgumentException] { // truncated raster
      Multimodal.parseBmp(bmp(2).dropRight(1))
    }
    intercept[IllegalArgumentException] { // 32-bit depth unsupported
      Multimodal.parseBmp(bmp(2).patch(28, le(32, 2), 2))
    }
  }

  test("BMP generate -> binary decode round-trip matches text-side channel sums") {
    val stats = Multimodal.bmpDecodeStats(docs).collect()
    val texts = docs.select("doc_id", "text", "n_chars").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_chars"))).toMap
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (text, nChars) = texts(id)
      val w = ((nChars % 4 + 2) * 4).toInt
      val h = (id % 12 + 8).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Long]("n_pixels") == w.toLong * h)
      // independent reconstruction: text cycled to w*h*3 bytes, BGR order
      val t = if (text == null || text.isEmpty) " " else text
      val bytes = Array.tabulate(w * h * 3)(i => t.charAt(i % t.length).toLong)
      def chan(c: Int) = bytes.grouped(3).map(_(c)).sum
      assert(r.getAs[Long]("sum_b") == chan(0))
      assert(r.getAs[Long]("sum_g") == chan(1))
      assert(r.getAs[Long]("sum_r") == chan(2))
    }
  }

  test("parseWav decodes a hand-built PCM16 file, walks unknown chunks, fails loudly") {
    // canonical little-endian writer, independent of the operator's
    def le(v: Int, n: Int): Array[Byte] =
      Array.tabulate(n)(k => ((v >> (8 * k)) & 0xff).toByte)
    def bytes(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
    val samples = Seq[Short](100, -2, 32767, -32768)
    val data = bytes(samples.map(s => le(s & 0xffff, 2)): _*)
    // a LIST chunk before fmt/data — the walk must skip it per the spec
    val junk = bytes("LIST".getBytes, le(4, 4), "INFO".getBytes)
    val fmt = bytes("fmt ".getBytes, le(16, 4), le(1, 2), le(1, 2),
      le(8000, 4), le(16000, 4), le(2, 2), le(16, 2))
    val dataCh = bytes("data".getBytes, le(data.length, 4), data)
    val content = bytes("WAVE".getBytes, junk, fmt, dataCh)
    val wav = bytes("RIFF".getBytes, le(content.length, 4), content)
    val (rate, got) = Multimodal.parseWav(wav)
    assert(rate == 8000 && got.toSeq == samples)
    // loud failures: bad magic, stereo, truncated data
    intercept[IllegalArgumentException] {
      Multimodal.parseWav("RIFX".getBytes ++ wav.drop(4)) }
    val stereoFmt = bytes("fmt ".getBytes, le(16, 4), le(1, 2), le(2, 2),
      le(8000, 4), le(32000, 4), le(4, 2), le(16, 2))
    val stereoContent = bytes("WAVE".getBytes, stereoFmt, dataCh)
    intercept[IllegalArgumentException] {
      Multimodal.parseWav(bytes("RIFF".getBytes,
        le(stereoContent.length, 4), stereoContent)) }
    intercept[IllegalArgumentException] {
      Multimodal.parseWav(wav.dropRight(1)) }
  }

  test("WAV generate -> binary decode round-trip matches text-side sample stats") {
    val out = Multimodal.wavDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val n = (nChars % 32 + 16).toInt
      assert(r.getAs[Int]("sample_rate") == 8000)
      assert(r.getAs[Long]("n_samples") == n.toLong)
      val t = if (text == null || text.isEmpty) " " else text
      val body = Array.tabulate(n * 2)(i => t.charAt(i % t.length).toInt)
      val ss = (0 until n).map(i => body(2 * i) + 256 * body(2 * i + 1))
      assert(r.getAs[Long]("sum_samples") == ss.map(_.toLong).sum)
      assert(r.getAs[Int]("max_sample") == ss.max)
    }
  }

  test("mu-law expand matches the JDK's independent G.711 codec on all 256 codes") {
    import javax.sound.sampled._
    val codes = Array.tabulate(256)(_.toByte)
    val srcFmt = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val dstFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(codes), srcFmt, codes.length.toLong)
    val converted = AudioSystem.getAudioInputStream(dstFmt, in)
    val buf = converted.readAllBytes()
    assert(buf.length == 512)
    (0 until 256).foreach { i =>
      val jdk = ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort
      assert(Multimodal.muLawDecode(codes(i)) == jdk,
        s"code $i: ours ${Multimodal.muLawDecode(codes(i))} vs JDK $jdk")
    }
    // compress(expand(code)) is the identity on codes — except 0x7f/0xff,
    // the two encodings of zero, which both re-encode to 0xff (G.711's
    // documented +0/-0 alias)
    (0 until 256).foreach { i =>
      val c = codes(i)
      val re = Multimodal.muLawEncode(Multimodal.muLawDecode(c))
      if ((c & 0xff) == 0x7f) assert((re & 0xff) == 0xff)
      else assert(re == c, s"code $i re-encoded to ${re & 0xff}")
    }
    // and compression actually quantizes: a dense linear sweep collapses
    // onto the <= 255 distinct decoded levels
    val levels = (Short.MinValue to Short.MaxValue).by(7)
      .map(s => Multimodal.muLawDecode(Multimodal.muLawEncode(s.toShort))).toSet
    assert(levels.size > 200 && levels.size <= 255)
  }

  test("A-law expand matches the JDK codec on all 256 codes; container round-trips") {
    import javax.sound.sampled._
    val codes = Array.tabulate(256)(_.toByte)
    val srcFmt = new AudioFormat(AudioFormat.Encoding.ALAW, 8000f, 8, 1, 1, 8000f, false)
    val dstFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val converted = AudioSystem.getAudioInputStream(dstFmt,
      new AudioInputStream(new java.io.ByteArrayInputStream(codes), srcFmt, 256L))
    val buf = converted.readAllBytes()
    (0 until 256).foreach { i =>
      val jdk = ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort
      assert(Multimodal.aLawDecode(codes(i)) == jdk,
        s"code $i: ours ${Multimodal.aLawDecode(codes(i))} vs JDK $jdk")
      // compress(expand(code)) is the identity on every A-law code (A-law
      // has no +0/-0 alias: segment 0 decodes to +-8 minimum, never 0)
      assert(Multimodal.aLawEncode(Multimodal.aLawDecode(codes(i))) == codes(i),
        s"code $i did not re-encode to itself")
    }
    // generated format-6 containers decode through the same walk and match
    // the per-byte expand exactly
    val out = Multimodal.aLawDecodeStats(docs).collect()
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val t = if (text == null || text.isEmpty) " " else text
      val n = (nChars % 32 + 16).toInt
      val decoded = (0 until n)
        .map(i => Multimodal.aLawDecode(t.charAt(i % t.length).toByte).toInt)
      assert(r.getAs[Long]("sum_pcm") == decoded.map(_.toLong).sum)
      assert(r.getAs[Int]("min_pcm") == decoded.min)
    }
    // a mu-law payload fed to the A-law parser is refused (tag mismatch)
    val mu = Multimodal.muLawFromDocuments(docs).limit(1).collect()
      .head.getAs[Array[Byte]]("payload")
    intercept[IllegalArgumentException](Multimodal.parseWavMuLaw(mu, formatTag = 6))
  }

  test("mu-law WAVE generate -> container walk -> expand matches text-side algebra, fails loudly") {
    val out = Multimodal.muLawDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val t = if (text == null || text.isEmpty) " " else text
      val n = (nChars % 32 + 16).toInt
      val decoded = (0 until n)
        .map(i => Multimodal.muLawDecode(t.charAt(i % t.length).toByte).toInt)
      assert(r.getAs[Long]("n_samples") == n.toLong)
      assert(r.getAs[Long]("sum_pcm") == decoded.map(_.toLong).sum)
      assert(r.getAs[Int]("min_pcm") == decoded.min)
    }
    // loud failures: PCM format tag, fact/data mismatch, truncation
    val media = Multimodal.muLawFromDocuments(docs).limit(1).collect().head
    val payload = media.getAs[Array[Byte]]("payload")
    def boom(mut: Array[Byte] => Array[Byte]): Unit =
      intercept[IllegalArgumentException](Multimodal.parseWavMuLaw(mut(payload.clone())))
    boom { a => a(20) = 1; a }      // format tag 7 -> 1 (PCM): refused
    boom { a => a(46) = (a(46) + 1).toByte; a } // fact frame count drifts
    boom(_.dropRight(3))             // truncation breaks the declared size
    val (_, codes) = Multimodal.parseWavMuLaw(payload)
    assert(codes.length == (texts(media.getAs[Long]("docId"))._2 % 32 + 16).toInt)
  }

  test("IMA ADPCM: decoder matches an independently computed reference vector") {
    // expected samples computed OUTSIDE this codebase from the public IMA
    // spec (step/index tables + clamp rules) for the nibble stream of the
    // bytes "Hello, ADPCM!" (low nibble first), state (pred=0, idx=0)
    val body = "Hello, ADPCM!".getBytes("US-ASCII")
    val expected = Array[Short](0, 0, 7, 19, 39, 14, 59, 3, 100, -99, 274,
      -185, 123, 179, 434, 572, 951, 1410, 1965, 2039, 2787, 3483, 4297,
      3093, 4535, 5117, 5998)
    val got = Multimodal.imaAdpcmDecodeNibbles(0, 0, body, 0, body.length * 2)
    assert(got.toSeq == expected.toSeq)
  }

  test("IMA ADPCM: encoder tracks the decoder; round-trip error is step-bounded") {
    // a gentle 8 kHz-ish sine: successive deltas stay well inside the
    // adaptive step range, so reconstruction must track closely
    val n = 2048
    val sine = Array.tabulate(n)(i =>
      (8000 * math.sin(2 * math.Pi * i / 64)).toInt.toShort)
    val wav = Multimodal.encodeWavImaAdpcm(sine, 8000, blockAlign = 256)
    val (rate, back) = Multimodal.parseWavImaAdpcm(wav)
    assert(rate == 8000 && back.length == n)
    // block boundaries restart from an exact sample, so error cannot
    // accumulate; the per-sample bound is the local quantizer step
    val maxErr = sine.zip(back).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr < 512, s"max reconstruction error $maxErr")
    val sigPow = sine.map(s => s.toLong * s).sum
    val errPow = sine.zip(back).map { case (a, b) =>
      val d = (a - b).toLong; d * d }.sum
    assert(errPow * 50 < sigPow, s"SNR below 17 dB: err=$errPow sig=$sigPow")
    // 4 bits/sample: the data chunk must be ~4x smaller than PCM16
    assert(wav.length < n * 2 / 3, s"ADPCM did not compress: ${wav.length}")
    // multi-block with padding: n not a multiple of samplesPerBlock
    val odd = sine.take(1000) // 256-byte blocks hold 505 samples
    val wav2 = Multimodal.encodeWavImaAdpcm(odd, 8000, blockAlign = 256)
    val (_, back2) = Multimodal.parseWavImaAdpcm(wav2)
    assert(back2.length == 1000, s"fact truncation failed: ${back2.length}")
    assert(odd.zip(back2).map { case (a, b) => math.abs(a - b) }.max < 512)
  }

  test("IMA ADPCM WAVE generate -> stateful decode matches the fold replica, fails loudly") {
    val out = Multimodal.imaAdpcmDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val t = if (text == null || text.isEmpty) " " else text
      val nb = (nChars % 24 + 12).toInt
      val body = Array.tabulate(nb)(i => t.charAt(i % t.length).toByte)
      val decoded = Multimodal.imaAdpcmDecodeNibbles(0, 0, body, 0, nb * 2)
      assert(r.getAs[Long]("n_samples") == (2 * nb + 1).toLong)
      assert(r.getAs[Long]("sum_pcm") == decoded.map(_.toLong).sum)
      assert(r.getAs[Int]("min_pcm") == decoded.map(_.toInt).min)
    }
    // loud failures: PCM tag, inconsistent samplesPerBlock, step index
    // out of range, ragged data, fact drift, truncation
    val media = Multimodal.imaAdpcmFromDocuments(docs).limit(1).collect().head
    val payload = media.getAs[Array[Byte]]("payload")
    def boom(mut: Array[Byte] => Array[Byte]): Unit =
      intercept[IllegalArgumentException](Multimodal.parseWavImaAdpcm(mut(payload.clone())))
    boom { a => a(20) = 1; a }                  // format tag 0x11 -> PCM
    boom { a => a(38) = (a(38) + 1).toByte; a } // samplesPerBlock drifts
    boom { a => a(62) = 89; a }                 // block step index > 88
    boom { a => a(48) = (a(48) + 1).toByte; a } // fact count drifts
    boom(_.dropRight(3))                        // truncation breaks sizes
  }

  test("QOI: hand-built chunk stream decodes through every op type") {
    // 3x2 image exercising RGB, RUN, DIFF, LUMA, INDEX in that order
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val header = bytes('q', 'o', 'i', 'f', 0, 0, 0, 3, 0, 0, 0, 2, 3, 0)
    val chunks = bytes(
      0xfe, 10, 20, 30,        // RGB literal       -> (10,20,30)
      0xc0 | (2 - 1),          // RUN 2             -> (10,20,30) x2
      0x40 | (3 << 4) | (2 << 2) | 1, // DIFF +1,0,-1 -> (11,20,29)
      0x80 | (10 + 32), (((2) + 8) << 4) | ((-3) + 8), // LUMA dg=10,dr-dg=2,db-dg=-3 -> (23,30,36)
      (10 * 3 + 20 * 5 + 30 * 7 + 255 * 11) % 64 // INDEX back to (10,20,30)
    )
    val marker = bytes(0, 0, 0, 0, 0, 0, 0, 1)
    val (w, h, rgb) = Multimodal.parseQoi(header ++ chunks ++ marker)
    assert(w == 3 && h == 2)
    val px = rgb.grouped(3).map(p => (p(0) & 0xff, p(1) & 0xff, p(2) & 0xff)).toList
    assert(px == List((10, 20, 30), (10, 20, 30), (10, 20, 30),
      (11, 20, 29), (23, 30, 36), (10, 20, 30)))
    // loud failures: bad magic, truncated stream, bad end marker
    intercept[IllegalArgumentException] {
      Multimodal.parseQoi(bytes('q', 'o', 'i', 'x') ++ (header ++ chunks ++ marker).drop(4)) }
    intercept[IllegalArgumentException] {
      Multimodal.parseQoi(header ++ chunks.dropRight(1) ++ marker) }
    intercept[IllegalArgumentException] {
      Multimodal.parseQoi(header ++ chunks ++ bytes(0, 0, 0, 0, 0, 0, 0, 2)) }
  }

  test("QOI: encoder round-trips arbitrary pixels and actually compresses runs") {
    val rnd = new scala.util.Random(7)
    val w = 13; val h = 9
    val noisy = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
    val (w2, h2, back) = Multimodal.parseQoi(Multimodal.encodeQoi(w, h, noisy))
    assert(w2 == w && h2 == h && back.toSeq == noisy.toSeq)
    // a flat image must be dominated by RUN chunks: far below 3 B/px
    val flat = Array.fill(64 * 64 * 3)(42.toByte)
    val enc = Multimodal.encodeQoi(64, 64, flat)
    assert(enc.length < 64 * 64 * 3 / 10, s"flat image encoded to ${enc.length}")
    val (_, _, flatBack) = Multimodal.parseQoi(enc)
    assert(flatBack.toSeq == flat.toSeq)
    // leading run of the implicit initial pixel (0,0,0) — the one
    // encoder/decoder index-table asymmetry in the spec; must round-trip
    val leadBlack = Array.fill(5 * 3)(0.toByte) ++ Array.fill(3)(200.toByte)
    val (_, _, lb) = Multimodal.parseQoi(Multimodal.encodeQoi(6, 1, leadBlack))
    assert(lb.toSeq == leadBlack.toSeq)
  }

  test("QOI generate -> codec decode round-trip matches text-side channel sums") {
    val out = Multimodal.qoiDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val w = (nChars % 12 + 4).toInt
      val hh = (r.getAs[Long]("doc_id") % 8 + 4).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == hh)
      val t = if (text == null || text.isEmpty) " " else text
      val body = Array.tabulate(w * hh * 3)(i => t.charAt(i % t.length).toInt)
      assert(r.getAs[Long]("sum_r") ==
        body.indices.collect { case i if i % 3 == 0 => body(i).toLong }.sum)
      assert(r.getAs[Long]("sum_g") ==
        body.indices.collect { case i if i % 3 == 1 => body(i).toLong }.sum)
      assert(r.getAs[Long]("sum_b") ==
        body.indices.collect { case i if i % 3 == 2 => body(i).toLong }.sum)
    }
  }

  test("PNG: encoder round-trips through all five filters, multi-IDAT, CRC checks") {
    val rnd = new scala.util.Random(11)
    // h >= 5 so every filter type (y % 5) appears; w odd to hit edge bytes
    val w = 11; val h = 9
    val noisy = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
    val enc = Multimodal.encodePng(w, h, noisy)
    val (w2, h2, back) = Multimodal.parsePng(enc)
    assert(w2 == w && h2 == h && back.toSeq == noisy.toSeq)
    // DEFLATE must actually compress a flat image
    val flat = Array.fill(64 * 64 * 3)(42.toByte)
    val flatEnc = Multimodal.encodePng(64, 64, flat)
    assert(flatEnc.length < 64 * 64 * 3 / 10, s"flat image encoded to ${flatEnc.length}")
    assert(Multimodal.parsePng(flatEnc)._3.toSeq == flat.toSeq)
    // a large-enough image forces >1 IDAT chunk (512 B chunking); count them
    def countIdat(p: Array[Byte]): Int = {
      var pos = 8; var n = 0
      while (pos + 12 <= p.length) {
        val len = ((p(pos) & 0xff) << 24) | ((p(pos + 1) & 0xff) << 16) |
          ((p(pos + 2) & 0xff) << 8) | (p(pos + 3) & 0xff)
        if (new String(p, pos + 4, 4, "US-ASCII") == "IDAT") n += 1
        pos += 12 + len
      }
      n
    }
    val big = Array.fill(40 * 40 * 3)(rnd.nextInt(256).toByte)
    assert(countIdat(Multimodal.encodePng(40, 40, big)) > 1)
    assert(Multimodal.parsePng(Multimodal.encodePng(40, 40, big))._3.toSeq == big.toSeq)
    // loud failures: bad signature, corrupted byte (CRC), truncation
    intercept[IllegalArgumentException] {
      Multimodal.parsePng(enc.updated(1, 'Q'.toByte)) }
    intercept[IllegalArgumentException] {
      // flip one bit inside the first IDAT body: CRC must catch it
      val idatPos = {
        var pos = 8
        while (new String(enc, pos + 4, 4, "US-ASCII") != "IDAT") {
          val len = ((enc(pos) & 0xff) << 24) | ((enc(pos + 1) & 0xff) << 16) |
            ((enc(pos + 2) & 0xff) << 8) | (enc(pos + 3) & 0xff)
          pos += 12 + len
        }
        pos + 8
      }
      Multimodal.parsePng(enc.updated(idatPos, (enc(idatPos) ^ 1).toByte)) }
    intercept[IllegalArgumentException] { Multimodal.parsePng(enc.dropRight(4)) }
  }

  test("PNG generate -> codec decode round-trip matches text-side channel sums") {
    val out = Multimodal.pngDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val w = (nChars % 10 + 5).toInt
      val hh = (r.getAs[Long]("doc_id") % 7 + 5).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == hh)
      val t = if (text == null || text.isEmpty) " " else text
      val body = Array.tabulate(w * hh * 3)(i => t.charAt(i % t.length).toInt)
      assert(r.getAs[Long]("sum_r") ==
        body.indices.collect { case i if i % 3 == 0 => body(i).toLong }.sum)
      assert(r.getAs[Long]("sum_g") ==
        body.indices.collect { case i if i % 3 == 1 => body(i).toLong }.sum)
      assert(r.getAs[Long]("sum_b") ==
        body.indices.collect { case i if i % 3 == 2 => body(i).toLong }.sum)
    }
  }

  test("GIF: LZW round-trips through KwKwK, width growth, and table reset") {
    // KwKwK stress: "ababab..." makes the encoder emit a code the decoder
    // hasn't finished defining on nearly every step
    val kwk = Array.tabulate(60 * 1)(i => (if (i % 2 == 0) 'a' else 'b').toByte)
    val (kw, kh, kback) = Multimodal.parseGif(Multimodal.encodeGif(60, 1, kwk))
    assert(kw == 60 && kh == 1 && kback.toSeq == kwk.toSeq)
    // random bytes: forces literal-heavy streams and the 9->10 bit bump
    val rnd = new scala.util.Random(13)
    val noisy = Array.fill(40 * 25)(rnd.nextInt(256).toByte)
    val (w2, h2, back) = Multimodal.parseGif(Multimodal.encodeGif(40, 25, noisy))
    assert(w2 == 40 && h2 == 25 && back.toSeq == noisy.toSeq)
    // big enough to fill the 4096-entry table and force a mid-stream
    // clear + full reset (random over a small alphabet grows long entries)
    val big = Array.fill(200 * 120)(rnd.nextInt(4).toByte)
    val (_, _, bigBack) = Multimodal.parseGif(Multimodal.encodeGif(200, 120, big))
    assert(bigBack.toSeq == big.toSeq)
    // LZW must actually compress the repetitive stream
    assert(Multimodal.encodeGif(200, 120, big).length < 200 * 120 / 2)
    // loud failures: bad magic, truncated sub-blocks, missing trailer
    val enc = Multimodal.encodeGif(40, 25, noisy)
    intercept[IllegalArgumentException] {
      Multimodal.parseGif(enc.updated(3, 'X'.toByte)) }
    intercept[IllegalArgumentException] { Multimodal.parseGif(enc.dropRight(1)) }
    intercept[IllegalArgumentException] {
      Multimodal.parseGif(enc.dropRight(1) :+ 0x00.toByte) }
    // truncation INSIDE an extension block's sub-block walk must fail with
    // the same loud require contract, not ArrayIndexOutOfBoundsException:
    // header+GCT, then a graphic-control extension introducer cut short
    val headerGct = enc.take(13 + 768)
    val cutInExtension = headerGct ++ Array[Byte](0x21, 0xf9.toByte, 0x04)
    val e = intercept[IllegalArgumentException] {
      Multimodal.parseGif(cutInExtension) }
    assert(e.getMessage.contains("GIF truncated"), e.getMessage)
    // truncated mid-descriptor (image separator then nothing) fails the same way
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.parseGif(headerGct :+ 0x2c.toByte) }
    assert(e2.getMessage.contains("GIF truncated"), e2.getMessage)
  }

  test("GIF generate -> codec decode round-trip matches text-side pixel sums") {
    val out = Multimodal.gifDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val w = (nChars % 14 + 6).toInt
      val hh = (r.getAs[Long]("doc_id") % 9 + 6).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == hh)
      val t = if (text == null || text.isEmpty) " " else text
      val sum = (0 until w * hh).map(i => t.charAt(i % t.length).toLong).sum
      assert(r.getAs[Long]("sum_px") == sum)
    }
  }

  test("animated GIF: delta frames composite back to the exact inputs") {
    // sparse evolution: frame k+1 changes a handful of pixels; the writer
    // must store only bounding-box deltas, the reader must composite them
    val rnd = new scala.util.Random(17)
    val w = 23; val h = 11
    val f0 = Array.fill(w * h)((rnd.nextInt(200)).toByte) // indices < 200: 255 stays free
    val frames = Iterator.iterate(f0) { prev =>
      val next = prev.clone()
      (1 to 5).foreach { _ =>
        next(rnd.nextInt(w * h)) = rnd.nextInt(200).toByte }
      next
    }.take(6).toArray
    val enc = Multimodal.encodeGifAnim(w, h, frames)
    val (bw, bh, back, deltaFrames) = Multimodal.parseGifAnim(enc)
    assert(bw == w && bh == h && back.length == 6)
    frames.zip(back).zipWithIndex.foreach { case ((exp, got), k) =>
      assert(got.toSeq == exp.toSeq, s"frame $k composites wrong") }
    assert(deltaFrames == 5, s"expected 5 delta frames, got $deltaFrames")
    // delta coding must beat storing every frame intact: the animation is
    // one full frame plus five deltas of <=5 changed pixels, so each delta
    // must cost a small bounded number of bytes, not a full-frame body
    val singleFull = Multimodal.encodeGif(w, h, f0).length
    assert(enc.length < singleFull + 5 * 80,
      s"${enc.length} bytes: deltas cost full-frame bodies (one intra = $singleFull)")
    // an unchanged consecutive frame encodes as a 1x1 transparent delta
    val still = Multimodal.encodeGifAnim(w, h, Array(f0, f0.clone()))
    val (_, _, backStill, _) = Multimodal.parseGifAnim(still)
    assert(backStill.length == 2 && backStill(1).toSeq == backStill(0).toSeq)
    // bounded animation overhead: NETSCAPE ext (19B) + two GCEs (2x8B) +
    // the 1x1 transparent delta frame (~16B) on top of one intra frame
    assert(still.length < Multimodal.encodeGif(w, h, f0).length + 64)
  }

  test("animated GIF: all-256-index frames fall back to intra coding") {
    val w = 16; val h = 16
    val a = Array.tabulate(w * h)(i => i.toByte)         // uses all 256 values
    val b = a.clone(); b(7) = ((a(7) + 1) & 0xff).toByte // one changed pixel
    val enc = Multimodal.encodeGifAnim(w, h, Array(a, b))
    val (_, _, back, deltaFrames) = Multimodal.parseGifAnim(enc)
    assert(back.length == 2)
    assert(back(0).toSeq == a.toSeq && back(1).toSeq == b.toSeq)
    assert(deltaFrames == 0, "no transparent index exists, so no delta frames")
  }

  test("animated GIF: loud failures on disposal, trailer, and truncation") {
    val w = 9; val h = 7
    val frames = Array(
      Array.fill(w * h)(3.toByte),
      Array.tabulate(w * h)(i => (i % 5).toByte))
    val enc = Multimodal.encodeGifAnim(w, h, frames)
    // unsupported disposal method (restore-to-background = 2) in the GCE:
    // the first GCE's packed byte sits right after the NETSCAPE extension
    val gcePacked = enc.indexOfSlice(Seq[Byte](0x21, 0xf9.toByte, 0x04))
    assert(gcePacked > 0)
    val badDisposal = enc.clone()
    badDisposal(gcePacked + 3) = (2 << 2).toByte
    val e = intercept[IllegalArgumentException] {
      Multimodal.parseGifAnim(badDisposal) }
    assert(e.getMessage.contains("disposal"), e.getMessage)
    intercept[IllegalArgumentException] {
      Multimodal.parseGifAnim(enc :+ 0x00.toByte) } // trailing bytes
    intercept[IllegalArgumentException] {
      Multimodal.parseGifAnim(enc.dropRight(1)) }   // missing trailer
    // truncation inside the NETSCAPE application extension
    intercept[IllegalArgumentException] {
      Multimodal.parseGifAnim(enc.take(13 + 768 + 5)) }
  }

  test("animated GIF generate -> decode matches the ticker-scheme oracle") {
    val out = Multimodal.gifAnimDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    def tickerSum(t: String, w: Int, h: Int, upToK: Int, fromK: Int): Long =
      (fromK to upToK).map { k =>
        (0 until h).map { r =>
          val j = r + h * math.max(0, (k - r) / h)
          (0 until w).map(c => t.charAt((w * j + c) % t.length).toLong).sum
        }.sum
      }.sum
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val w = (nChars % 14 + 6).toInt
      val hh = (r.getAs[Long]("doc_id") % 9 + 6).toInt
      val nf = (r.getAs[Long]("doc_id") % 4 + 2).toInt
      val t = if (text == null || text.isEmpty) " " else text
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == hh)
      assert(r.getAs[Int]("n_frames") == nf)
      assert(r.getAs[Long]("n_pixels") == w.toLong * hh * nf)
      assert(r.getAs[Long]("sum_px") == tickerSum(t, w, hh, nf - 1, 0))
    }
    // poster variant: the LAST composited frame only
    val poster = Multimodal.gifAnimPosterStats(docs).collect()
    for (r <- poster) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val w = (nChars % 14 + 6).toInt
      val hh = (r.getAs[Long]("doc_id") % 9 + 6).toInt
      val nf = (r.getAs[Long]("doc_id") % 4 + 2).toInt
      val t = if (text == null || text.isEmpty) " " else text
      assert(r.getAs[Long]("n_pixels") == w.toLong * hh)
      assert(r.getAs[Long]("sum_px") == tickerSum(t, w, hh, nf - 1, nf - 1))
    }
  }

  test("JPEG block-constant round-trip is bit-exact (the oracle class)") {
    // every 8x8 block constant + all-ones qtable -> DC-only blocks with
    // integer coefficients: the full Huffman/DCT pipeline runs and the
    // decode must reproduce the input EXACTLY
    val rnd = new scala.util.Random(7)
    for ((w, h) <- Seq((16, 16), (32, 24), (8, 8))) {
      val gray = new Array[Byte](w * h)
      for (by <- 0 until h / 8; bx <- 0 until w / 8) {
        val v = rnd.nextInt(256).toByte
        for (yy <- 0 until 8; xx <- 0 until 8)
          gray((by * 8 + yy) * w + bx * 8 + xx) = v
      }
      val payload = Multimodal.encodeJpeg(w, h, gray)
      val (dw, dh, nc, px) = Multimodal.parseJpeg(payload)
      assert((dw, dh, nc) == ((w, h, 1)))
      assert(px.toSeq == gray.toSeq, s"${w}x$h block-constant decode drifted")
    }
    // non-multiple-of-8 dims: constant image, edge-replicated padding keeps
    // every block constant -> still exact, and output is cropped to w x h
    val (w2, h2) = (13, 10)
    val const = Array.fill(w2 * h2)(77.toByte)
    val (dw2, dh2, _, px2) = Multimodal.parseJpeg(Multimodal.encodeJpeg(w2, h2, const))
    assert((dw2, dh2) == ((w2, h2)))
    assert(px2.toSeq == const.toSeq)
  }

  test("JPEG restart intervals: RST markers emitted, consumed, still exact") {
    val rnd = new scala.util.Random(11)
    val w = 32; val h = 24 // 12 MCUs -> RSTs with interval 3
    val gray = new Array[Byte](w * h)
    for (by <- 0 until h / 8; bx <- 0 until w / 8) {
      val v = rnd.nextInt(256).toByte
      for (yy <- 0 until 8; xx <- 0 until 8)
        gray((by * 8 + yy) * w + bx * 8 + xx) = v
    }
    val payload = Multimodal.encodeJpeg(w, h, gray, restartInterval = 3)
    // DRI marker present and at least one RST0-7 in the scan
    def hasMarker(m: Int) = payload.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == m)
    assert(hasMarker(0xdd), "missing DRI segment")
    assert((0xd0 to 0xd7).exists(hasMarker), "no RST marker in scan")
    val (_, _, _, px) = Multimodal.parseJpeg(payload)
    assert(px.toSeq == gray.toSeq)
    // the JDK's independent ImageIO decoder must agree on our restart framing
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    assert(img != null, "ImageIO rejected our restart-interval JPEG")
    val ioPx = for (y <- 0 until h; x <- 0 until w)
      yield img.getRaster.getSample(x, y, 0)
    assert(ioPx.zip(px.map(_ & 0xff)).map(p => math.abs(p._1 - p._2)).max <= 1)
  }

  test("JPEG lossy path agrees with the JDK's independent codec (ImageIO)") {
    // 1) our ENCODER's output on arbitrary content decodes identically
    //    (within IDCT tolerance) under ImageIO — proves the emitted stream
    //    is spec-valid baseline JPEG, not a private dialect
    val rnd = new scala.util.Random(13)
    val w = 24; val h = 16
    val gray = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val payload = Multimodal.encodeJpeg(w, h, gray, qtab = Array.fill(64)(4))
    val (dw, dh, nc, ours) = Multimodal.parseJpeg(payload)
    assert((dw, dh, nc) == ((w, h, 1)))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    assert(img != null, "ImageIO could not decode our baseline JPEG")
    val diffs = for (y <- 0 until h; x <- 0 until w)
      yield math.abs(img.getRaster.getSample(x, y, 0) - (ours(y * w + x) & 0xff))
    assert(diffs.max <= 2, s"max IDCT divergence ${diffs.max} vs ImageIO")

    // 2) our DECODER handles an INDEPENDENTLY-ENCODED stream (the JDK's
    //    writer: its own quant scaling, its own Huffman emission)
    val src = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      src.getRaster.setSample(x, y, 0, gray(y * w + x) & 0xff)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpg", baos))
    val foreign = baos.toByteArray
    val (fw, fh, fnc, fpx) = Multimodal.parseJpeg(foreign)
    assert((fw, fh, fnc) == ((w, h, 1)))
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(foreign))
    val fdiffs = for (y <- 0 until h; x <- 0 until w)
      yield math.abs(ref.getRaster.getSample(x, y, 0) - (fpx(y * w + x) & 0xff))
    assert(fdiffs.max <= 2, s"max divergence ${fdiffs.max} on a foreign stream")
  }

  test("JPEG 3-component 4:4:4 color: decode agrees with ImageIO") {
    val rnd = new scala.util.Random(17)
    val w = 16; val h = 16
    // smooth-ish content (small palette) keeps coefficients tame
    val rgb = Array.fill(w * h * 3)((rnd.nextInt(4) * 60 + 20).toByte)
    val payload = Multimodal.encodeJpeg(w, h, rgb, components = 3,
      qtab = Array.fill(64)(4))
    val (dw, dh, nc, ours) = Multimodal.parseJpeg(payload)
    assert((dw, dh, nc) == ((w, h, 3)))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    assert(img != null, "ImageIO could not decode our 4:4:4 color JPEG")
    val diffs = for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) yield {
      val rgbIo = img.getRGB(x, y)
      val io = c match {
        case 0 => (rgbIo >> 16) & 0xff
        case 1 => (rgbIo >> 8) & 0xff
        case _ => rgbIo & 0xff
      }
      math.abs(io - (ours((y * w + x) * 3 + c) & 0xff))
    }
    assert(diffs.max <= 3, s"max color divergence ${diffs.max} vs ImageIO")
  }

  test("JPEG loud failures: bad SOI, progressive SOF, truncation, trailing bytes") {
    val gray = Array.fill(16 * 16)(42.toByte)
    val enc = Multimodal.encodeJpeg(16, 16, gray)
    intercept[IllegalArgumentException] {
      Multimodal.parseJpeg(enc.updated(1, 0x00.toByte)) } // broken SOI
    // patch SOF0 -> SOF2 (progressive): must be rejected loudly, not parsed
    val sofAt = enc.sliding(2).indexWhere(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc0)
    val progressive = enc.updated(sofAt + 1, 0xc2.toByte)
    val e = intercept[RuntimeException] { Multimodal.parseJpeg(progressive) }
    assert(e.getMessage.toLowerCase.contains("unsupported"), e.getMessage)
    intercept[IllegalArgumentException] { Multimodal.parseJpeg(enc.dropRight(1)) }
    intercept[IllegalArgumentException] {
      Multimodal.parseJpeg(enc :+ 0x00.toByte) } // trailing bytes after EOI
  }

  test("JPEG generate -> decode matches the closed-form block sums") {
    val out = Multimodal.jpegDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val (text, nChars) = texts(r.getAs[Long]("doc_id"))
      val w = ((nChars % 3 + 2) * 8).toInt
      val hh = ((r.getAs[Long]("doc_id") % 3 + 2) * 8).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == hh)
      val t = if (text == null || text.isEmpty) " " else text
      val nb = (w / 8) * (hh / 8)
      val sum = (0 until nb).map(i => 64L * t.charAt(i % t.length)).sum
      assert(r.getAs[Long]("sum_px") == sum)
    }
  }

  test("AVI/MJPEG: container round-trips frames bit-exactly, tolerates JUNK chunks") {
    val rnd = new scala.util.Random(23)
    val (w, h) = (24, 16)
    val grays = Array.tabulate(3) { _ =>
      val g = new Array[Byte](w * h)
      for (by <- 0 until h / 8; bx <- 0 until w / 8) {
        val v = rnd.nextInt(256).toByte
        for (yy <- 0 until 8; xx <- 0 until 8)
          g((by * 8 + yy) * w + bx * 8 + xx) = v
      }
      g
    }
    val frames = grays.map(g => Multimodal.encodeJpeg(w, h, g))
    val avi = Multimodal.encodeAvi(w, h, frames)
    val (dw, dh, got) = Multimodal.parseAvi(avi)
    assert((dw, dh) == ((w, h)))
    assert(got.length == 3)
    got.indices.foreach { i =>
      assert(java.util.Arrays.equals(got(i), frames(i)), s"frame $i drifted")
      // and each extracted frame still decodes to its source raster
      val (_, _, _, px) = Multimodal.parseJpeg(got(i))
      assert(px.toSeq == grays(i).toSeq)
    }

    // real AVIs carry JUNK alignment chunks — splice one in before the
    // movi list (adjusting the RIFF size) and require the walk to skip it
    val junk = "JUNK".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 9, 9, 9, 9)
    val moviAt = {
      var p = 12; var found = -1
      while (found < 0) {
        val id = new String(avi, p, 4, "US-ASCII")
        val size = java.nio.ByteBuffer.wrap(avi, p + 4, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        if (id == "LIST" && new String(avi, p + 8, 4, "US-ASCII") == "movi") found = p
        else p += 8 + size + (size & 1)
      }
      found
    }
    val spliced = avi.take(moviAt) ++ junk ++ avi.drop(moviAt)
    val newSize = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(spliced.length - 8).array()
    System.arraycopy(newSize, 0, spliced, 4, 4)
    val (_, _, viaJunk) = Multimodal.parseAvi(spliced)
    assert(viaJunk.length == 3 && java.util.Arrays.equals(viaJunk(1), frames(1)))
  }

  test("AVI loud failures: bad magic, size drift, truncation, frame-count mismatch") {
    val frames = Array.tabulate(2)(k =>
      Multimodal.encodeJpeg(8, 8, Array.fill(64)((60 + k).toByte)))
    val avi = Multimodal.encodeAvi(8, 8, frames)
    def boom(mut: Array[Byte] => Array[Byte]): Unit =
      intercept[IllegalArgumentException](Multimodal.parseAvi(mut(avi.clone())))
    boom { a => a(0) = 'X'.toByte; a }                    // not RIFF
    boom { a => a(8) = 'W'.toByte; a }                    // not the AVI form
    boom { a => a(4) = (a(4) + 1).toByte; a }             // declared size drift
    boom(_.dropRight(12))                                  // truncated tail
    boom(_.take(40))                                       // truncated mid-header
    // declared frame count vs movi payloads must reconcile
    boom { a =>
      // avih totalFrames field: 12(RIFF)+12(LIST hdrl)+8(avih hdr)+16
      val at = 12 + 12 + 8 + 16
      a(at) = (a(at) + 1).toByte; a
    }
    // a non-MJPG video handler is refused
    boom { a =>
      val at = a.indexOfSlice("MJPG".getBytes("US-ASCII"))
      a(at) = 'H'.toByte; a
    }
  }

  test("AVI generate -> full video decode matches the closed-form per-frame sums") {
    val out = Multimodal.mjpegDecodeStats(docs).collect()
    assert(out.length == docs.count())
    val texts = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    for (r <- out) {
      val docId = r.getAs[Long]("doc_id")
      val (text, nChars) = texts(docId)
      val w = ((nChars % 3 + 2) * 8).toInt
      val hh = ((docId % 3 + 2) * 8).toInt
      val nf = (docId % 4 + 2).toInt
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == hh)
      assert(r.getAs[Int]("n_frames") == nf)
      assert(r.getAs[Long]("n_pixels") == w.toLong * hh * nf)
      val t = if (text == null || text.isEmpty) " " else text
      val nb = (w / 8) * (hh / 8)
      val sum = (0 until nf).flatMap(k =>
        (0 until nb).map(i => 64L * t.charAt((k + i) % t.length))).sum
      assert(r.getAs[Long]("sum_px") == sum, s"doc $docId")
    }
    // stride-2 sampling decodes only even frames; sums restrict accordingly
    val sampled = Multimodal.mjpegDecodeStats(docs, stride = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (r <- out) {
      val docId = r.getAs[Long]("doc_id")
      val s = sampled(docId)
      val nf = (docId % 4 + 2).toInt
      assert(s.getAs[Int]("n_frames") == (nf + 1) / 2)
      assert(s.getAs[Long]("sum_px") <= r.getAs[Long]("sum_px"))
    }
  }

  test("codec fuzz: corrupted compressed payloads terminate cleanly, never hang") {
    // flip bytes in the COMPRESSED BODY (past the fixed header region —
    // dimensions are out of scope: QOI/GIF carry no header checksum, and a
    // flipped 16-bit dim is an allocation test, not a codec-state test) and
    // require every parse to either succeed or throw; completing the loop
    // at all proves no decoder state machine hangs on corrupt chunk/LZW/
    // DEFLATE input
    val rnd = new scala.util.Random(41)
    val px = Array.fill(24 * 18 * 3)(rnd.nextInt(256).toByte)
    val idx = Array.fill(24 * 18)(rnd.nextInt(256).toByte)
    val jpeg = Multimodal.encodeJpeg(24, 18, idx)
    // fuzz only the entropy-coded scan: find the SOS segment end
    val sosAt = jpeg.sliding(2).indexWhere(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xda)
    val jpegScanStart = sosAt + 2 +
      (((jpeg(sosAt + 2) & 0xff) << 8) | (jpeg(sosAt + 3) & 0xff))
    val cases = Seq[(String, Array[Byte], Int, Array[Byte] => Any)](
      ("qoi", Multimodal.encodeQoi(24, 18, px), 14, Multimodal.parseQoi),
      ("png", Multimodal.encodePng(24, 18, px), 8, Multimodal.parsePng),
      ("gif", Multimodal.encodeGif(24, 18, idx), 13 + 768 + 10 + 1,
        Multimodal.parseGif),
      // inter-frame path: compositing + transparency + sub-rect descriptors
      ("gif_anim", Multimodal.encodeGifAnim(24, 18, Array(
        idx.map(b => (b & 0x7f).toByte),
        idx.map(b => ((b & 0x7f) ^ 3).toByte))), 13 + 768 + 19 + 8 + 10 + 1,
        Multimodal.parseGifAnim),
      ("jpeg", jpeg, jpegScanStart, Multimodal.parseJpeg),
      // full video pipeline: container walk + every frame entropy-decoded
      ("avi", Multimodal.encodeAvi(24, 18,
        Array(jpeg, Multimodal.encodeJpeg(24, 18, idx))), 12 + 12 + 64,
        (b: Array[Byte]) => {
          val (_, _, fs) = Multimodal.parseAvi(b)
          fs.foreach(Multimodal.parseJpeg)
        }))
    for ((name, payload, skip, parse) <- cases) {
      var failures = 0
      (1 to 60).foreach { _ =>
        val pos = skip + rnd.nextInt(payload.length - skip)
        val mutated = payload.clone()
        mutated(pos) = (mutated(pos) ^ (1 << rnd.nextInt(8))).toByte
        try parse(mutated)
        catch { case _: Exception => failures += 1 }
      }
      // the codecs are dense encodings: most single-bit body flips must be
      // DETECTED (CRC, end-marker, pixel-count, or chunk-structure checks)
      assert(failures > 0, s"$name: no mutation was ever rejected")
    }
  }

  test("MC video: lossless round-trip on arbitrary content, real motion, real compression") {
    // arbitrary (pseudo-random) frames: the lossless-transform claim must
    // hold for ANY content, not just the block-constant oracle class
    val rnd = new scala.util.Random(7)
    val (w, h) = (16, 12)
    val noise = Array.fill(4)(Array.fill[Byte](w * h)(rnd.nextInt(256).toByte))
    val (dw, dh, _, back) = Multimodal.parseMcVideo(
      Multimodal.encodeMcVideo(w, h, noise))
    assert(dw == w && dh == h && back.length == 4)
    back.zip(noise).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }

    // translating content: frame k+1 == frame k shifted 4px left (content
    // wraps), so motion search must find exact inter predictions and
    // collapse interior blocks to SKIPs — and the stream must be SMALLER
    // than the same frames coded all-intra (frame 0 repeated style)
    val base = Array.tabulate(w * h)(i => ((i * 37 + i / w * 11) % 251).toByte)
    val moving = Array.tabulate(5) { k =>
      Array.tabulate(h * w) { i =>
        val y = i / w; val x = i % w
        base(y * w + (x + 4 * k) % w)
      }
    }
    val stream = Multimodal.encodeMcVideo(w, h, moving)
    val (_, _, skips, dec) = Multimodal.parseMcVideo(stream)
    dec.zip(moving).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
    assert(skips > 0, "exact translation found no SKIP blocks — motion search broken")
    // static video: 4 all-SKIP P-frames cost <= 3 bytes/block + 1 type
    // byte + (up to 2 bytes each in the header's frame-length index)
    val still = Multimodal.encodeMcVideo(w, h, Array.fill(5)(moving(0)))
    val intraOnly = Multimodal.encodeMcVideo(w, h, Array(moving(0)))
    val skipBound = 4 * (3 + 3 * (w / 4) * (h / 4))
    assert(still.length <= intraOnly.length + skipBound,
      s"static P-frames cost ${still.length - intraOnly.length}, bound $skipBound")
    assert(stream.length < 5 * intraOnly.length,
      s"P-frames (${stream.length}) should beat 5x intra (${5 * intraOnly.length})")
  }

  test("property: MC video reconstructs ANY frame sequence bit-exactly") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // mixes of flat regions (SKIP-friendly), shifted copies (INTER), and
    // noise (INTRA) — every mode boundary gets exercised
    val (w, h) = (12, 8)
    val frameGen: Gen[Array[Byte]] = Gen.oneOf(
      Gen.choose(0, 255).map(v => Array.fill[Byte](w * h)(v.toByte)),
      Gen.choose(0, 1000).map(seed =>
        Array.tabulate[Byte](w * h)(i => ((i * 31 + seed) % 256).toByte)),
      Gen.listOfN(w * h, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    val prop = Prop.forAll(Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, frameGen))) { frames =>
      val arr = frames.toArray
      val (dw, dh, _, back) = Multimodal.parseMcVideo(
        Multimodal.encodeMcVideo(w, h, arr))
      dw == w && dh == h && back.length == arr.length &&
        back.zip(arr).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    }
    val res = check(Parameters.default
      .withInitialSeed(org.scalacheck.rng.Seed(11L))
      .withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("MC video: GOP sampling decodes only needed keyframe groups, byte-skipping the rest") {
    val (w, h) = (16, 8)
    val rnd = new scala.util.Random(3)
    val frames = Array.fill(7)(Array.fill[Byte](w * h)(rnd.nextInt(256).toByte))
    def sums(fs: Array[Array[Byte]]): Array[Long] =
      fs.map(_.foldLeft(0L)((a, b) => a + (b & 0xff)))
    val full = sums(frames)

    // gop=2, stride=2: samples are exactly the I-frames -> P-frames never decode
    val g2 = Multimodal.encodeMcVideo(w, h, frames, gop = 2)
    val (dw, dh, decoded, sampled) = Multimodal.decodeMcVideoSampled(g2, 2)
    assert(dw == w && dh == h)
    assert(sampled.map(_._1).toList == List(0, 2, 4, 6))
    sampled.foreach { case (k, s) => assert(s == full(k), s"frame $k") }
    assert(decoded == 4, s"gop==stride must decode ONLY keyframes, decoded $decoded")

    // gop=0 (single GOP): the chain forces decoding up to the last sample
    val g0 = Multimodal.encodeMcVideo(w, h, frames, gop = 0)
    val (_, _, decoded0, sampled0) = Multimodal.decodeMcVideoSampled(g0, 3)
    assert(sampled0.map(_._1).toList == List(0, 3, 6))
    sampled0.foreach { case (k, s) => assert(s == full(k)) }
    assert(decoded0 == 7, "single-GOP sampling cannot skip reference frames")

    // stride larger than the sequence: only frame 0, only GOP 0 decoded
    val (_, _, decodedWide, sampledWide) = Multimodal.decodeMcVideoSampled(g2, 100)
    assert(sampledWide.map(_._1).toList == List(0) && decodedWide == 1)

    // and the gop'd stream still full-decodes losslessly
    val (_, _, _, back) = Multimodal.parseMcVideo(g2)
    back.zip(frames).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
  }

  test("MC video: corruption fails loudly (magic, truncation, mode, coefficient order)") {
    val frames = Array.tabulate(3)(k =>
      Array.tabulate[Byte](8 * 8)(i => ((i + k * 17) % 200).toByte))
    val good = Multimodal.encodeMcVideo(8, 8, frames)
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(intercept[IllegalArgumentException] {
      Multimodal.parseMcVideo(badMagic)
    }.getMessage.contains("magic"))
    intercept[IllegalArgumentException] {
      Multimodal.parseMcVideo(good.take(good.length / 2))
    }
    // every single-byte truncation of the tail must be detected too
    (1 to 8).foreach { cut =>
      intercept[IllegalArgumentException] {
        Multimodal.parseMcVideo(good.take(good.length - cut))
      }
    }
    // and trailing garbage after the last frame is rejected, not ignored
    assert(intercept[IllegalArgumentException] {
      Multimodal.parseMcVideo(good ++ Array[Byte](1, 2, 3))
    }.getMessage.contains("trailing"))
  }

  test("MC video: driver stats equal the MJPEG-class closed form on real docs") {
    // the lossless reconstruction makes sum_px the generated-frame sum —
    // cross-check against an independent in-test computation
    val out = Multimodal.mcVideoDecodeStats(docs.limit(20))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(5))).toMap
    val src = docs.limit(20).select("doc_id", "text", "n_chars").collect()
    assert(src.nonEmpty)
    src.foreach { r =>
      val id = r.getLong(0)
      val t = Option(r.getString(1)).filter(_.nonEmpty).getOrElse(" ")
      val nChars = r.getLong(2)
      val w = ((nChars % 3 + 2) * 8).toInt
      val h = ((id % 3 + 2) * 8).toInt
      val nf = (id % 3 + 3).toInt
      val tb = t.getBytes("UTF-8")
      val nb = (w / 8) * (h / 8)
      var sum = 0L
      (0 until nf).foreach { k =>
        (0 until nb).foreach { i => sum += 64L * (tb((k + i) % tb.length) & 0xff) }
      }
      assert(out(id) == ((w, h, nf, sum)), s"doc $id")
    }
  }

  test("MC video scene cuts: static clip has none, alternating clip cuts every pair") {
    import spark.implicits._
    // constant text -> every block of every frame is the same byte ->
    // all-zero deltas -> zero cuts, zero diff (doc_id 0: nf=3, h=16)
    // alternating 'a'/'~' (delta 29 > tau=20 per pixel) -> EVERY adjacent
    // pair is a cut (doc_id 1: nf=4)
    val fix = Seq(
      (0L, "aaaaaaaa", "en", "test", 8L),
      (1L, "a~a~a~a~", "en", "test", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.mcVideoSceneCuts(fix, tau = 20).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (nf0, cuts0, max0, sum0) = out(0L)
    assert(nf0 == 3 && cuts0 == 0L && max0 == 0L && sum0 == 0L, out(0L).toString)
    val (nf1, cuts1, max1, _) = out(1L)
    // doc 1: w=(8%3+2)*8=32, h=(1%3+2)*8=24 -> nb=12 blocks; every block
    // flips a<->~ between frames ('~'-'a' = 29):
    // dk = 64 * 12 * 29 = 22272 > 20*32*24 = 15360
    assert(nf1 == 4 && cuts1 == 3L && max1 == 22272L, out(1L).toString)
    // and on real docs both classes occur (threshold neither vacuous nor
    // all-firing)
    val real = Multimodal.mcVideoSceneCuts(docs.limit(50), tau = 20)
      .agg(sum($"n_cuts"), sum($"n_frames" - 1)).head()
    assert(real.getLong(0) > 0 && real.getLong(0) < real.getLong(1), real.toString)
  }

  test("image exact-dup groups: counts reconcile with distinct-hash arithmetic, linear plan") {
    import spark.implicits._
    val d = docs.limit(200)
    val hashes = Multimodal.imageAHashes(d)
    val nImages = hashes.count()
    val nDistinct = hashes.select("hash_lo", "hash_hi").distinct().count()
    val groups = Multimodal.imageExactDupGroups(d).collect()
    // every group has >= 2 members, and total members across dup groups
    // equals images minus singleton hashes
    assert(groups.forall(_.getAs[Long]("n_images") >= 2L))
    val dupMembers = groups.map(_.getAs[Long]("n_images")).sum
    val singletons = nImages - dupMembers
    assert(singletons == nDistinct - groups.length,
      s"images=$nImages distinct=$nDistinct dupGroups=${groups.length} dupMembers=$dupMembers")
    // canonical ids are distinct across groups (one canonical per hash)
    val canonicals = groups.map(_.getAs[Long]("canonical"))
    assert(canonicals.distinct.length == canonicals.length)
    // linear shape: one aggregation, no join/pair explosion in the plan
    val plan = Multimodal.imageExactDupGroups(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"exact-dup must not join:\n$plan")
  }

  test("resizePpmHalf: real pixel downscale — box averages, odd-edge crop, loud failures") {
    // 3x3 image with known channel values; odd row/col must crop away
    val w = 3; val h = 3
    val body = Array.tabulate[Byte](w * h * 3)(i => (i * 10).toByte)
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val img = header ++ body
    val (ow, oh, out) = Multimodal.parsePpm(Multimodal.resizePpmHalf(img))
    assert(ow == 1 && oh == 1)
    // channel c of the single output pixel = floor(mean of the 2x2 corner)
    (0 until 3).foreach { c =>
      val expect = ((body(c) & 0xff) + (body(3 + c) & 0xff) +
        (body(3 * w + c) & 0xff) + (body(3 * w + 3 + c) & 0xff)) / 4
      assert((out(c) & 0xff) == expect, s"channel $c")
    }
    // 1x1 cannot halve
    val tiny = "P6\n1 1\n255\nabc".getBytes("US-ASCII")
    assert(intercept[IllegalArgumentException] {
      Multimodal.resizePpmHalf(tiny)
    }.getMessage.contains("too small"))
  }

  test("image aHash near-dup: planted twins surface, nothing else; halves stay 32-bit") {
    val hashes = Multimodal.imageAHashes(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // two 32-bit halves, never negative, never above 2^32
    hashes.values.foreach { case (lo, hi) =>
      assert(lo >= 0 && lo < (1L << 32) && hi >= 0 && hi < (1L << 32))
    }
    val twins = hashes.keys.filter(_ < 0L).toSeq
    assert(twins.nonEmpty)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    twins.foreach { t =>
      assert(ham(hashes(t), hashes(-t - 1L)) <= 6, s"twin $t over threshold")
    }
    val pairs = Multimodal.imageNearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly the planted twins (negative twin id sorts first in each pair)
    assert(pairs.map(p => (p._1, p._2)).sorted.toList ==
      twins.map(t => (t, -t - 1L)).sorted.toList)
    pairs.foreach { case (a, b, d) => assert(d == ham(hashes(a), hashes(b))) }
    // the completeness guarantee is a hard boundary, not a suggestion
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(docs, maxHamming = 8)
    }
  }

  test("audio features: energy and ZCR match hand-computed values on a known signal") {
    // alternating +1000/-1000 square wave: every neighbor flips sign,
    // so each 8-sample window has 7 crossings and energy 8e6
    import spark.implicits._
    val samples = Array.tabulate[Short](16)(i => if (i % 2 == 0) 1000 else -1000)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    // the PRODUCTION kernel must count the sign flips (the ASCII driver
    // corpus never produces a negative sample, so only a crafted signal
    // exercises this path): 2 windows, 7 strict crossings each
    val (totalE, totalZ, maxE) = Multimodal.audioWindowFeatures(samples, 8)
    assert(totalE == 16L * 1000 * 1000 && totalZ == 14 && maxE == 8L * 1000 * 1000)
    // zeros are not sign changes (strict product < 0), window boundaries
    // don't pair, and trailing partials drop
    val edge = Array[Short](5, 0, -5, 3, -3, 3, -3, 3, /* window 2 */ 1, 1)
    val (_, zEdge, _) = Multimodal.audioWindowFeatures(edge, 8)
    assert(zEdge == 5, s"got $zEdge: 0 breaks both adjacent pairs, 5 true flips")
    assert(bytes.length == 32) // the hand signal really is 16 samples
    // and the driver query on real docs is self-consistent: window count
    // is n_samples/8 and max window energy never exceeds the total
    val out = Multimodal.audioFeatureStats(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) / 8, "n_windows = n_samples/8")
      assert(r.getLong(5) <= r.getLong(3), "max window energy <= total")
      assert(r.getLong(4) <= r.getLong(2) * 7, "zcr bounded by 7 per window")
    }
  }

  test("resizeMeta halves dimensions without touching the payload") {
    val r = Multimodal.resizeMeta(media, 2)
      .select(col("meta.width").as("w2"), col("payload")).collect().head
    val orig = media.select(col("meta.width"), col("payload")).collect().head
    assert(r.getAs[Int]("w2") == orig.getAs[Int]("width") / 2)
    assert(java.util.Arrays.equals(
      r.getAs[Array[Byte]]("payload"), orig.getAs[Array[Byte]]("payload")))
  }

  test("published mm_* schemas: column name and type of every multimodal query") {
    // building a query plans it but runs no job; the literal table pins
    // what Verify dumps and the oracle compares, column by column
    val expected: Map[String, Seq[(String, String)]] = Map(
      "mm_adpcm_decode" -> Seq(
        "doc_id" -> "bigint", "sample_rate" -> "int", "n_samples" -> "bigint",
        "sum_pcm" -> "bigint", "min_pcm" -> "int"),
      "mm_alaw_decode" -> Seq(
        "doc_id" -> "bigint", "sample_rate" -> "int", "n_samples" -> "bigint",
        "sum_pcm" -> "bigint", "min_pcm" -> "int"),
      "mm_audio_features" -> Seq(
        "doc_id" -> "bigint", "n_samples" -> "bigint", "n_windows" -> "bigint",
        "total_energy" -> "bigint", "total_zcr" -> "bigint", "max_energy" -> "bigint"),
      "mm_bmp_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_pixels" -> "bigint",
        "sum_r" -> "bigint", "sum_g" -> "bigint", "sum_b" -> "bigint"),
      "mm_feature_stats" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int",
        "payload_bytes" -> "bigint", "mean_byte" -> "double"),
      "mm_frame_sample" -> Seq(
        "doc_id" -> "bigint", "n_kept_frames" -> "bigint", "kept_bytes" -> "bigint"),
      "mm_gif_anim_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_frames" -> "int",
        "n_pixels" -> "bigint", "sum_px" -> "bigint"),
      "mm_gif_anim_poster" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_frames" -> "int",
        "n_pixels" -> "bigint", "sum_px" -> "bigint"),
      "mm_gif_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_pixels" -> "bigint",
        "sum_px" -> "bigint"),
      "mm_image_exact_dup" -> Seq(
        "hash_lo" -> "bigint", "hash_hi" -> "bigint", "n_images" -> "bigint",
        "canonical" -> "bigint"),
      "mm_image_near_dup" -> Seq(
        "img_a" -> "bigint", "img_b" -> "bigint", "hamming" -> "bigint"),
      "mm_jpeg_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_pixels" -> "bigint",
        "sum_px" -> "bigint"),
      "mm_mc_gop_sample" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_kept" -> "int",
        "n_pixels_kept" -> "bigint", "sum_px" -> "bigint", "n_decoded" -> "bigint"),
      "mm_mc_scene_cuts" -> Seq(
        "doc_id" -> "bigint", "n_frames" -> "int", "n_cuts" -> "bigint",
        "max_diff" -> "bigint", "sum_diff" -> "bigint"),
      "mm_mc_video_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_frames" -> "int",
        "n_pixels" -> "bigint", "sum_px" -> "bigint"),
      "mm_mjpeg_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_frames" -> "int",
        "n_pixels" -> "bigint", "sum_px" -> "bigint"),
      "mm_mjpeg_sample" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_frames" -> "int",
        "n_pixels" -> "bigint", "sum_px" -> "bigint"),
      "mm_png_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_pixels" -> "bigint",
        "sum_r" -> "bigint", "sum_g" -> "bigint", "sum_b" -> "bigint"),
      "mm_ppm_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_pixels" -> "bigint",
        "sum_r" -> "bigint", "sum_g" -> "bigint", "sum_b" -> "bigint"),
      "mm_qoi_decode" -> Seq(
        "doc_id" -> "bigint", "width" -> "int", "height" -> "int", "n_pixels" -> "bigint",
        "sum_r" -> "bigint", "sum_g" -> "bigint", "sum_b" -> "bigint"),
      "mm_resize_stats" -> Seq(
        "doc_id" -> "bigint", "out_w" -> "int", "out_h" -> "int", "n_pixels" -> "bigint",
        "sum_r" -> "bigint", "sum_g" -> "bigint", "sum_b" -> "bigint"),
      "mm_ulaw_decode" -> Seq(
        "doc_id" -> "bigint", "sample_rate" -> "int", "n_samples" -> "bigint",
        "sum_pcm" -> "bigint", "min_pcm" -> "int"),
      "mm_wav_decode" -> Seq(
        "doc_id" -> "bigint", "sample_rate" -> "int", "n_samples" -> "bigint",
        "sum_samples" -> "bigint", "max_sample" -> "int"))
    val built = SparkEntry.queries.collect { case (n, f) if n.startsWith("mm_") =>
      n -> f(spark, "/root/testdata/sf0.001").schema.fields.toSeq
        .map(c => c.name -> c.dataType.simpleString)
    }
    assert(built.size == 23)
    assert(built == expected)
  }
}
