package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns: media as an opaque `binary` payload plus typed
  * metadata, decoded by real pure-JVM codecs.
  *
  * Each format is one entry of the codec table ([[Multimodal.Codec]]):
  * the size columns it reads from `documents`, its payload synth (a
  * column expression for the byte-level containers, an encoder run per
  * row for the compressed formats), whether its encode + decode chain is
  * heavy enough to spread the scan, and its `parse*`. Every payload body
  * is the document text cycled to the raster or sample count, so the
  * DuckDB oracle recomputes each published statistic from the text alone.
  *
  * A query synthesizes its codec's media table, parses each payload and
  * adapts the result to one of three decoded forms, each with one stats
  * fold: an RGB raster ([[Multimodal.RgbStats]]: PPM, BMP, QOI, PNG, the
  * PPM resize), grey frames ([[Multimodal.FrameStats]], a still is one
  * frame: GIF, animated GIF, JPEG, MJPEG in AVI, motion-compensated
  * video) or PCM samples ([[Multimodal.PcmStats]]: WAV, G.711 mu/A-law,
  * IMA ADPCM). One helper, `publish`, selects the published columns. The
  * queries with their own fold (audio features, scene cuts, GOP
  * sampling, aHash and the feature stub) share the synth, the
  * [[Multimodal.ByteReader]] and the text guard.
  *
  * The codecs are real: QOI's run/index/delta state machine, PNG's
  * DEFLATE and five-filter reconstruction with CRC checks, GIF's
  * variable-width LZW (with inter-frame deltas for animation), baseline
  * JPEG (Huffman + DCT), MJPEG in an AVI/RIFF container, G.711 and IMA
  * ADPCM audio, and a motion-compensated I/P video codec with a lossless
  * 4x4 integer transform. The one stub, [[Multimodal.decodeFeatures]],
  * stands in for licensed H.264/H.265 parsers. Every decode is a narrow
  * `mapPartitions` (one iterator per partition, no shuffle), and every
  * malformed payload fails a loud `require`.
  */
object Multimodal {

  /** Typed media row: opaque payload + structured metadata. */
  final case class MediaMeta(format: String, width: Int, height: Int, nBytes: Long)
  final case class MediaFile(docId: Long, payload: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(
      docId: Long, width: Int, height: Int, payloadBytes: Long,
      histogram: Seq[Long], meanByte: Double)
  final case class Frame(docId: Long, frameIdx: Int, frame: Array[Byte])

  /** Integer-exact per-channel sums of a decoded RGB raster. */
  final case class RgbStats(docId: Long, width: Int, height: Int, nPixels: Long,
                            sumR: Long, sumG: Long, sumB: Long)
  /** Integer-exact pixel sum over decoded grey frames: `nFrames` is what
    * the format holds (or a sampler kept), `nPixels` what was summed. */
  final case class FrameStats(docId: Long, width: Int, height: Int, nFrames: Int,
                              nPixels: Long, sumPx: Long)
  /** Integer-exact sum, min and max of decoded PCM samples. */
  final case class PcmStats(docId: Long, sampleRate: Int, nSamples: Long,
                            sumPcm: Long, minPcm: Int, maxPcm: Int)

  // ───────────────────────── the codec table ─────────────────────────

  /** One format. `w`, `h` and `n` are its size columns over `documents`
    * (`n` counts frames, samples or code bytes; audio has no pixel dims
    * and sets w = h = 0), `payload` builds its bytes from them and the
    * guarded text `t`, `spread` opts the heavy chains into [[spreadScan]],
    * and `parse` is the format's decoder. */
  private final case class Codec[P](mime: String, w: Column, h: Column, n: Column,
                                    spread: Boolean, payload: Payload,
                                    parse: Array[Byte] => P)

  /** A payload is a column expression over (t, w, h, n), or, for the
    * formats whose encoder is imperative, a function of (text bytes, w, h,
    * n) run per row. */
  private sealed trait Payload
  private final case class SqlPayload(bytes: Column) extends Payload
  private final case class CodedPayload(
      encode: (Array[Byte], Int, Int, Int) => Array[Byte]) extends Payload

  private val SampleRate = 8000
  private val one = lit(1)
  private val zero = lit(0)
  private def ascii(s: String): Column = encode(lit(s), "UTF-8")
  /** The body every synth cycles: `t` to exactly `n` chars by rpad, which
    * pads cyclically and truncates to a prefix on Spark and DuckDB alike
    * (the ASCII corpus makes chars == bytes; the parsers re-check sizes). */
  private def cycled(n: String): Column = encode(expr(s"rpad(t, $n, t)"), "UTF-8")

  /** P6 PPM: an ASCII header, then the raw RGB24 body. */
  private val Ppm = Codec("image/x-portable-pixmap",
    col("n_chars") % 16 + 8, col("doc_id") % 12 + 8, one, spread = false,
    SqlPayload(concat(
      encode(concat(lit("P6\n"), col("w").cast("string"), lit(" "),
        col("h").cast("string"), lit("\n255\n")), "UTF-8"),
      cycled("w * h * 3"))),
    parsePpm)

  /** Windows BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + a bottom-up BGR
    * raster. The width is a multiple of 4, so rows carry no padding
    * ([[parseBmp]] still handles padded and top-down rasters). */
  private val Bmp = {
    val nBody = col("w") * col("h") * 3
    Codec("image/bmp",
      (col("n_chars") % 4 + 2) * 4, col("doc_id") % 12 + 8, one, spread = false,
      SqlPayload(concat(
        unhex(lit("424D")),             // 'BM'
        le(nBody + 54, 4),              // file size
        unhex(lit("00000000")),         // reserved
        unhex(lit("36000000")),         // pixel-data offset = 54
        unhex(lit("28000000")),         // BITMAPINFOHEADER size = 40
        le(col("w"), 4),
        le(col("h"), 4),                // positive height = bottom-up rows
        unhex(lit("0100")),             // planes = 1
        unhex(lit("1800")),             // bitCount = 24
        unhex(lit("00000000")),         // compression = BI_RGB
        le(nBody, 4),                   // imageSize
        unhex(lit("130B0000130B0000")), // 2835 px/m x,y (72 dpi)
        unhex(lit("0000000000000000")), // palette sizes (none at 24-bit)
        cycled("w * h * 3"))),
      bmpRgb)
  }

  /** RIFF/WAVE PCM16 mono: canonical 44-byte header, then `n` samples of
    * two text bytes each (ASCII < 0x80 keeps every sample positive). */
  private val Wav = Codec("audio/wav", zero, zero, col("n_chars") % 32 + 16, spread = false,
    SqlPayload(concat(
      ascii("RIFF"), le(col("n") * 2 + 36, 4), ascii("WAVE"),
      ascii("fmt "), le(lit(16), 4),
      le(lit(1), 2),                   // audio format = PCM
      le(lit(1), 2),                   // channels = mono
      le(lit(SampleRate), 4),
      le(lit(SampleRate * 2), 4),      // byte rate = rate · block align
      le(lit(2), 2),                   // block align = ch · bits/8
      le(lit(16), 2),                  // bits per sample
      ascii("data"), le(col("n") * 2, 4),
      cycled("n * 2"))),
    parseWav)

  /** G.711 WAVE (format tag 7 = mu-law, 6 = A-law, 8 bits/sample) with the
    * `fact` chunk non-PCM streams require; the CODE stream is the text
    * cycled to `n` bytes, so the oracle maps each byte through the
    * integer expand formula. */
  private def g711(formatTag: Int, expand: Byte => Short) =
    Codec("audio/basic", zero, zero, col("n_chars") % 32 + 16, spread = false,
      SqlPayload(concat(
        ascii("RIFF"), le(col("n") + 50, 4), ascii("WAVE"),
        ascii("fmt "), le(lit(18), 4),
        le(lit(formatTag), 2),
        le(lit(1), 2),                   // mono
        le(lit(SampleRate), 4),
        le(lit(SampleRate), 4),          // byte rate = rate · blockAlign(1)
        le(lit(1), 2),                   // block align
        le(lit(8), 2),                   // bits per sample
        le(lit(0), 2),                   // cbSize (no codec extension)
        ascii("fact"), le(lit(4), 4),
        le(col("n"), 4),                 // decoded frame count
        ascii("data"), le(col("n"), 4),
        cycled("n"))),
      (p: Array[Byte]) => {
        val (rate, codes) = parseWavMuLaw(p, formatTag)
        (rate, codes.map(expand))
      })
  private val MuLaw = g711(7, muLawDecode)
  private val ALaw = g711(6, aLawDecode)

  /** IMA ADPCM WAVE (format tag 0x11): one block whose CODE stream is the
    * text cycled to `n` bytes with header state (0, 0), so the oracle
    * replays the decoder's state machine as a DuckDB `list_reduce` fold. */
  private val Adpcm = {
    val nSamples = col("n") * 2 + 1
    // the RIFF/data sizes count CHARACTERS (rpad length) while the body is
    // UTF-8 BYTES: equal only for ASCII text, enforced here so a non-ASCII
    // corpus fails at generation, not as a size mismatch in the decoder
    val body = cycled("n")
    val checkedBody = when(octet_length(body) === col("n"), body)
      .otherwise(raise_error(concat(
        lit("imaAdpcmFromDocuments: non-ASCII text breaks the char==byte "),
        lit("size assumption for doc_id "), col("doc_id").cast("string"))))
    Codec("audio/adpcm", zero, zero, col("n_chars") % 24 + 12, spread = false,
      SqlPayload(concat(
        ascii("RIFF"), le(col("n") + 56, 4), ascii("WAVE"),
        ascii("fmt "), le(lit(20), 4),
        le(lit(0x11), 2),                // WAVE_FORMAT_IMA_ADPCM
        le(lit(1), 2),                   // mono
        le(lit(SampleRate), 4),
        le(lit(SampleRate), 4),          // nominal byte rate
        le(col("n") + 4, 2),             // block align (header + code bytes)
        le(lit(4), 2),                   // bits per sample
        le(lit(2), 2),                   // cbSize
        le(nSamples, 2),                 // samplesPerBlock
        ascii("fact"), le(lit(4), 4),
        le(nSamples, 4),                 // decoded frame count
        ascii("data"), le(col("n") + 4, 4),
        le(lit(0), 2), le(lit(0), 2),    // block header: pred 0, idx 0, rsvd
        checkedBody)),
      parseWavImaAdpcm)
  }

  /** QOI (lossless run/index/delta chunks): the RGB stream is the text
    * cycled to w·h·3 bytes, really compressed by [[encodeQoi]]. */
  private val Qoi = Codec("image/qoi",
    col("n_chars") % 12 + 4, col("doc_id") % 8 + 4, one, spread = false,
    CodedPayload((tb, w, h, _) => encodeQoi(w, h, cycle(tb, w * h * 3))), parseQoi)

  /** PNG (filtered scanlines, DEFLATE, CRC-guarded chunks). */
  private val Png = Codec("image/png",
    col("n_chars") % 10 + 5, col("doc_id") % 7 + 5, one, spread = true,
    CodedPayload((tb, w, h, _) => encodePng(w, h, cycle(tb, w * h * 3))), parsePng)

  /** GIF89a with a 256-entry grayscale palette (entry i = (i,i,i)), so the
    * LZW-coded index stream is the text bytes cycled to w·h. */
  private val Gif = Codec("image/gif",
    col("n_chars") % 14 + 6, col("doc_id") % 9 + 6, one, spread = false,
    CodedPayload((tb, w, h, _) => encodeGif(w, h, cycle(tb, w * h))), parseGif)

  /** Animated GIF89a of `n` "ticker" frames ([[tickerFrames]]), stored as
    * transparent-index deltas by [[encodeGifAnim]]. */
  private val GifAnim = Codec("image/gif",
    col("n_chars") % 14 + 6, col("doc_id") % 9 + 6, col("doc_id") % 4 + 2, spread = true,
    CodedPayload((tb, w, h, nf) => encodeGifAnim(w, h, tickerFrames(tb, w, h, nf))),
    parseGifAnim)

  /** Baseline JPEG of an 8×8-block-constant raster ([[blockConstantGray]]):
    * the one image class the lossy DCT codec reproduces bit-exactly. */
  private val Jpeg = Codec("image/jpeg",
    (col("n_chars") % 3 + 2) * 8, (col("doc_id") % 3 + 2) * 8, one, spread = true,
    CodedPayload((tb, w, h, _) => encodeJpeg(w, h, blockConstantGray(w, h, tb, 0))),
    parseJpeg)

  /** MJPEG in an AVI container: frame k's blocks read the text cycled from
    * offset k, so adjacent frames differ slightly, as video frames do. */
  private val Avi = Codec("video/x-msvideo",
    (col("n_chars") % 3 + 2) * 8, (col("doc_id") % 3 + 2) * 8, col("doc_id") % 4 + 2,
    spread = true,
    CodedPayload((tb, w, h, nf) => encodeAvi(w, h,
      Array.tabulate(nf)(k => encodeJpeg(w, h, blockConstantGray(w, h, tb, k))))),
    parseAvi)

  /** Motion-compensated I/P video of the same frame class as [[Avi]]:
    * frame k+1 is frame k shifted one block, so motion search finds exact
    * inter predictions and most P-blocks collapse to SKIPs. A keyframe
    * every `gop` frames (0: only the first). */
  private def mcVideo(gop: Int) = Codec("video/x-graft-mc",
    (col("n_chars") % 3 + 2) * 8, (col("doc_id") % 3 + 2) * 8, col("doc_id") % 3 + 3,
    spread = true,
    CodedPayload((tb, w, h, nf) =>
      encodeMcVideo(w, h, Array.tabulate(nf)(k => blockConstantGray(w, h, tb, k)), gop)),
    parseMcVideo)

  // ─────────────── synth, decode, the three folds, publish ───────────────

  /** The document text with null or empty replaced by one space — the
    * guard the oracle replicates, so every synth cycles a non-empty text. */
  private val guardedText: Column =
    when(col("text").isNull || col("text") === "", lit(" ")).otherwise(col("text")).as("t")

  /** Spread a sub-parallel documents scan before an expensive encode +
    * decode chain. The documents table is one single-row-group parquet
    * file, so a JPEG/AVI/MC-video chain otherwise runs on one core
    * (mm_mjpeg_decode at sf0.1: 3.15 s before the spread, 0.38 s after).
    * A no-op when the scan already spans the cluster. Only the heavy
    * chains opt in: for the byte-level codecs the extra exchange measured
    * as pure overhead. */
  private def spreadScan(documents: DataFrame): DataFrame =
    Spread.byKey(documents, col("doc_id"))

  /** The media table (docId, payload, meta) of `c` over `documents`. */
  private def synth(documents: DataFrame, c: Codec[_]): DataFrame = {
    val base = (if (c.spread) spreadScan(documents) else documents).select(
      col("doc_id"), guardedText, c.w.cast("int").as("w"), c.h.cast("int").as("h"),
      c.n.cast("int").as("n"))
    c.payload match {
      case SqlPayload(bytes) =>
        base.select(col("doc_id").as("docId"), bytes.as("payload"),
          struct(lit(c.mime).as("format"), col("w").as("width"), col("h").as("height"),
            length(bytes).cast("long").as("nBytes")).as("meta"))
      case CodedPayload(encode) =>
        val mime = c.mime
        base.as(Encoders.product[(Long, String, Int, Int, Int)]).mapPartitions(
          _.map { case (docId, t, w, h, n) =>
            val payload = encode(t.getBytes("UTF-8"), w, h, n)
            MediaFile(docId, payload, MediaMeta(mime, w, h, payload.length.toLong))
          })(Encoders.product[MediaFile]).toDF()
    }
  }

  /** The one decode pass: parse every payload and fold it, narrow. */
  private def decodeMedia[P, S <: Product : TypeTag](media: Dataset[MediaFile],
      parse: Array[Byte] => P)(fold: (MediaFile, P) => S): Dataset[S] =
    media.mapPartitions(_.map(m => fold(m, parse(m.payload))))(Encoders.product[S])

  /** [[decodeMedia]] over the media table `c` synthesizes. */
  private def decode[P, S <: Product : TypeTag](documents: DataFrame, c: Codec[P])(
      fold: (MediaFile, P) => S): Dataset[S] =
    decodeMedia(asMediaDataset(synth(documents, c)), c.parse)(fold)

  /** The RGB fold: per-channel sums of a packed R,G,B raster. */
  private def rgb(m: MediaFile, raster: (Int, Int, Array[Byte])): RgbStats = {
    val (w, h, px) = raster
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i + 2 < px.length) {
      sr += px(i) & 0xff; sg += px(i + 1) & 0xff; sb += px(i + 2) & 0xff
      i += 3
    }
    RgbStats(m.docId, w, h, w.toLong * h, sr, sg, sb)
  }

  /** The grey fold: the pixel sum over `frames` (a still is one frame). */
  private def grey(m: MediaFile, w: Int, h: Int, nFrames: Int,
                   frames: collection.Seq[Array[Byte]]): FrameStats = {
    var s = 0L
    frames.foreach { f =>
      var i = 0
      while (i < f.length) { s += f(i) & 0xff; i += 1 }
    }
    FrameStats(m.docId, w, h, nFrames, w.toLong * h * frames.length, s)
  }

  /** The PCM fold: sample count, sum, min and max (0 when empty). */
  private def pcm(m: MediaFile, decoded: (Int, Array[Short])): PcmStats = {
    val (rate, s) = decoded
    var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
    var i = 0
    while (i < s.length) {
      val v = s(i).toInt
      sum += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    PcmStats(m.docId, rate, s.length.toLong, sum,
      if (s.isEmpty) 0 else mn, if (s.isEmpty) 0 else mx)
  }

  /** The published columns of a stats fold: `fields` under their
    * snake_case names (`sumR` → `sum_r`), in order. */
  private def publish(stats: Dataset[_], fields: String*): DataFrame =
    stats.toDF().select(fields.map(f =>
      col(f).as(f.replaceAll("([A-Z])", "_$1").toLowerCase)): _*)

  private val RgbColumns = Seq("docId", "width", "height", "nPixels", "sumR", "sumG", "sumB")
  private val StillColumns = Seq("docId", "width", "height", "nPixels", "sumPx")
  private val VideoColumns = Seq("docId", "width", "height", "nFrames", "nPixels", "sumPx")
  private val PcmColumns = Seq("docId", "sampleRate", "nSamples", "sumPcm", "minPcm")

  // ───────────────────────────── queries ─────────────────────────────

  def ppmDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, Ppm)(rgb), RgbColumns: _*)

  def bmpDecodeStats(documents: DataFrame): DataFrame =
    publish(decodeBmpStats(asMediaDataset(synth(documents, Bmp))), RgbColumns: _*)

  /** The BMP decode as a typed Dataset; channel sums exclude row padding
    * and are row-order invariant, so bottom-up and top-down agree. */
  def decodeBmpStats(media: Dataset[MediaFile]): Dataset[RgbStats] =
    decodeMedia(media, Bmp.parse)(rgb)

  def qoiDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, Qoi)(rgb), RgbColumns: _*)

  def pngDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, Png)(rgb), RgbColumns: _*)

  /** 2x2 box-filter downscale of the PPM rasters, re-encoded to P6 and
    * decoded again, so the sums prove the decode → filter → encode →
    * decode chain. */
  def resizeStats(documents: DataFrame): DataFrame =
    publish(decodeMedia(asMediaDataset(synth(documents, Ppm)),
      (p: Array[Byte]) => parsePpm(resizePpmHalf(p)))(rgb), RgbColumns: _*)
      .withColumnsRenamed(Map("width" -> "out_w", "height" -> "out_h"))

  def gifDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, Gif) { (m, p) =>
      val (w, h, px) = p
      grey(m, w, h, 1, Seq(px))
    },
      StillColumns: _*)

  def jpegDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, Jpeg) { (m, p) =>
      val (w, h, ncomp, px) = p
      require(ncomp == 1, s"expected grayscale payloads, got $ncomp")
      grey(m, w, h, 1, Seq(px))
    }, StillColumns: _*)

  /** Every frame composited through the GIF89a delta chain. */
  def gifAnimDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, GifAnim) { (m, p) =>
      val (w, h, frames, _) = p
      grey(m, w, h, frames.length, frames)
    }, VideoColumns: _*)

  /** Pixel stats of the FINAL composited frame only — yet every delta
    * before it still decodes (inter-frame dependency), unlike the MJPEG
    * stride path where sampled-out frames skip the entropy decode. */
  def gifAnimPosterStats(documents: DataFrame): DataFrame =
    publish(decode(documents, GifAnim) { (m, p) =>
      val (w, h, frames, _) = p
      grey(m, w, h, frames.length, Seq(frames.last))
    }, VideoColumns: _*)

  /** MJPEG video: the container walk touches every chunk, but only every
    * `stride`-th frame runs the full Huffman + IDCT decode — the
    * video-ingest pattern of sampling first. Frame dims must match the
    * container header. */
  def mjpegDecodeStats(documents: DataFrame, stride: Int = 1): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    publish(decode(documents, Avi) { (m, p) =>
      val (w, h, frames) = p
      val kept = frames.indices.filter(_ % stride == 0).map { k =>
        val (fw, fh, ncomp, px) = parseJpeg(frames(k))
        require(fw == w && fh == h, s"frame $k is ${fw}x$fh but container says ${w}x$h")
        require(ncomp == 1, s"expected grayscale payloads, got $ncomp")
        px
      }
      grey(m, w, h, kept.length, kept)
    }, VideoColumns: _*)
  }

  /** Full decode of the motion-compensated stream; lossless, so the sum
    * equals the generator's closed form. */
  def mcVideoDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, mcVideo(0)) { (m, p) =>
      val (w, h, _, frames) = p
      require(w == m.meta.width && h == m.meta.height,
        s"container says ${m.meta.width}x${m.meta.height}, stream ${w}x$h")
      grey(m, w, h, frames.length, frames)
    }, VideoColumns: _*)

  /** Scene-cut (shot boundary) detection over the motion-compensated
    * stream: a cut is an adjacent frame pair whose absolute pixel delta
    * exceeds `tau` per pixel, tested in integers (`sum |Δ| > tau·w·h`) so
    * the oracle replays it from the closed form (frame k's block i is
    * text byte (k+i) mod len). The match is thus also a pairwise
    * losslessness proof of the I/P reconstruction. */
  def mcVideoSceneCuts(documents: DataFrame, tau: Int = 20): DataFrame =
    decode(documents, mcVideo(0)) { (m, p) =>
      val (w, h, _, frames) = p
      var nCuts = 0L; var maxDiff = 0L; var sumDiff = 0L
      var k = 1
      while (k < frames.length) {
        val a = frames(k - 1); val b = frames(k)
        var d = 0L; var i = 0
        while (i < a.length) { d += math.abs((b(i) & 0xff) - (a(i) & 0xff)); i += 1 }
        if (d > tau.toLong * w * h) nCuts += 1
        if (d > maxDiff) maxDiff = d
        sumDiff += d
        k += 1
      }
      (m.docId, frames.length, nCuts, maxDiff, sumDiff)
    }.toDF("doc_id", "n_frames", "n_cuts", "max_diff", "sum_diff")

  /** GOP-sampled decode: a keyframe every `gop` frames, and only every
    * `stride`-th frame reconstructed through [[decodeMcVideoSampled]].
    * With stride == gop the samples are exactly the I-frames and every
    * P-frame's bytes are skipped through the index — under inter-frame
    * coding the keyframe interval, not the stride, sets the decode cost. */
  def mcVideoGopSampleStats(documents: DataFrame, gop: Int = 2,
                            stride: Int = 2): DataFrame =
    decodeMedia(asMediaDataset(synth(documents, mcVideo(gop))),
      decodeMcVideoSampled(_, stride)) { (m, p) =>
      val (w, h, decoded, sampled) = p
      require(w == m.meta.width && h == m.meta.height,
        s"container says ${m.meta.width}x${m.meta.height}, stream ${w}x$h")
      (m.docId, w, h, sampled.length, w.toLong * h * sampled.length,
        sampled.map(_._2).sum, decoded.toLong)
    }.toDF("doc_id", "width", "height", "n_kept", "n_pixels_kept", "sum_px", "n_decoded")

  def wavDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, Wav)(pcm), "docId", "sampleRate", "nSamples", "sumPcm", "maxPcm")
      .withColumnsRenamed(Map("sum_pcm" -> "sum_samples", "max_pcm" -> "max_sample"))

  def muLawDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, MuLaw)(pcm), PcmColumns: _*)

  def aLawDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, ALaw)(pcm), PcmColumns: _*)

  def imaAdpcmDecodeStats(documents: DataFrame): DataFrame =
    publish(decode(documents, Adpcm)(pcm), PcmColumns: _*)

  /** Audio DSP over the WAV decode: non-overlapping 8-sample windows, each
    * with its short-time energy (Σ s²) and zero-crossing count, all in
    * integers so the oracle replays them; a trailing partial window is
    * dropped, the standard framing convention. */
  def audioFeatureStats(documents: DataFrame): DataFrame =
    decode(documents, Wav) { (m, p) =>
      val (_, samples) = p
      val (totalEnergy, totalZcr, maxEnergy) = audioWindowFeatures(samples, 8)
      (m.docId, samples.length.toLong, (samples.length / 8).toLong,
        totalEnergy, totalZcr, maxEnergy)
    }.toDF("doc_id", "n_samples", "n_windows", "total_energy", "total_zcr",
      "max_energy")

  /** The G.711 and ADPCM synths, as media tables. */
  def muLawFromDocuments(documents: DataFrame): DataFrame = synth(documents, MuLaw)
  def imaAdpcmFromDocuments(documents: DataFrame): DataFrame = synth(documents, Adpcm)

  // ───────────────────────────── byte layer ─────────────────────────────

  /** Bounds-checked reads over one payload: little- and big-endian words
    * at an offset, plus a cursor for the sequential (varint) streams. A
    * read outside the payload fails the loud `require` contract, naming
    * the format, instead of throwing an index exception. */
  private[graft] final class ByteReader(val bytes: Array[Byte], format: String) {
    var pos = 0
    private def need(i: Int, n: Int): Unit =
      require(n >= 0 && i >= 0 && n <= bytes.length - i,
        s"$format truncated: need $n bytes at offset $i of ${bytes.length}")
    def u8(i: Int): Int = { need(i, 1); bytes(i) & 0xff }
    def le16(i: Int): Int = { need(i, 2); (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8) }
    def le32(i: Int): Int = le16(i) | (le16(i + 2) << 16)
    def be16(i: Int): Int = { need(i, 2); ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff) }
    def be32(i: Int): Int = (be16(i) << 16) | be16(i + 2)
    def tag(i: Int): String = { need(i, 4); new String(bytes, i, 4, "US-ASCII") }
    def u8(): Int = { val b = u8(pos); pos += 1; b }
    def skip(n: Int): Unit = { need(pos, n); pos += n }
    def varint(): Int = {
      var shift = 0; var v = 0
      var b = u8()
      while ((b & 0x80) != 0) {
        v |= (b & 0x7f) << shift; shift += 7; b = u8()
        require(shift <= 28, s"$format varint overlong")
      }
      v | (b << shift)
    }
    def svarint(): Int = { val z = varint(); (z >>> 1) ^ -(z & 1) }
  }

  /** The encoders' byte sink, writing the words [[ByteReader]] reads. */
  private[graft] final class ByteWriter extends java.io.ByteArrayOutputStream {
    def le16(v: Int): Unit = { write(v & 0xff); write((v >>> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    def be16(v: Int): Unit = { write((v >>> 8) & 0xff); write(v & 0xff) }
    def be32(v: Int): Unit = { be16(v >>> 16); be16(v & 0xffff) }
    def tag(s: String): Unit = write(s.getBytes("US-ASCII"))
    def varint(v0: Int): Unit = {
      var v = v0
      require(v >= 0, s"varint needs nonnegative, got $v")
      while ((v & ~0x7f) != 0) { write((v & 0x7f) | 0x80); v >>>= 7 }
      write(v)
    }
    def svarint(v: Int): Unit = varint((v << 1) ^ (v >> 31)) // sign into bit 0
  }

  /** The RIFF chunk walk of every RIFF parser: `visit(id, body offset,
    * size)` per chunk in [from, until), word-aligned; a chunk header or
    * body that overruns `until` fails loudly. */
  private def riffChunks(in: ByteReader, from: Int, until: Int)(
      visit: (String, Int, Int) => Unit): Unit = {
    var pos = from
    while (pos < until) {
      require(until - pos >= 8, s"RIFF chunk header at $pos overruns its parent ($until)")
      val id = in.tag(pos); val size = in.le32(pos + 4)
      require(size >= 0 && size <= until - pos - 8,
        s"RIFF chunk '$id' size $size overruns its parent at $pos")
      visit(id, pos + 8, size)
      pos += 8 + size + (size & 1)
    }
  }

  /** The RIFF/WAVE envelope of the three WAVE parsers — magic, declared
    * size, chunk walk; each parser checks its own `fmt `/`fact` chunks. */
  private def waveChunks(in: ByteReader, minLength: Int)(
      visit: (String, Int, Int) => Unit): Unit = {
    val n = in.bytes.length
    require(n >= minLength && in.tag(0) == "RIFF" && in.tag(8) == "WAVE",
      "not a RIFF/WAVE payload")
    require(in.le32(4) == n - 8, s"RIFF size ${in.le32(4)} != payload length - 8 (${n - 8})")
    riffChunks(in, 12, n)(visit)
  }

  /** `tb` cycled to exactly `n` bytes — the Scala side of the synths' rpad. */
  private def cycle(tb: Array[Byte], n: Int): Array[Byte] =
    Array.tabulate(n)(i => tb(i % tb.length))

  // ─────────────────────────── codec kernels ───────────────────────────

  /** Synthesize a deterministic media table from `documents`: the payload is
    * an 8-byte big-endian (width, height) header followed by the UTF-8 text
    * bytes — a stand-in with the exact schema a real ingest would produce
    * (doc_id, payload binary, meta struct). Pure column ops; at 100 TB this
    * is a narrow map over the scan.
    */
  def mediaFromDocuments(documents: DataFrame): DataFrame = {
    val width = (col("n_chars") % 64 + 16).cast("int")
    val height = (col("doc_id") % 48 + 16).cast("int")
    val payload = concat(
      unhex(lpad(hex(width), 8, "0")),
      unhex(lpad(hex(height), 8, "0")),
      encode(col("text"), "UTF-8"))
    documents.select(
      col("doc_id").as("docId"),
      payload.as("payload"),
      struct(
        lit("fake/raw").as("format"),
        width.as("width"),
        height.as("height"),
        length(payload).cast("long").as("nBytes")).as("meta"))
  }

  /** Minimal-but-real netpbm P6 parser: magic, whitespace runs, `#` comment
    * lines anywhere in the header, three decimal fields, one final
    * whitespace byte, then exactly width·height·3 raw bytes. */
  private[graft] def parsePpm(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(payload.length >= 2 && payload(0) == 'P' && payload(1) == '6',
      "not a P6 PPM payload")
    var pos = 2
    def skipSeparators(): Unit = {
      var more = true
      while (more && pos < payload.length) {
        val c = payload(pos).toChar
        if (c == '#') { while (pos < payload.length && payload(pos) != '\n') pos += 1 }
        else if (c.isWhitespace) pos += 1
        else more = false
      }
    }
    def readInt(): Int = {
      skipSeparators()
      val start = pos
      while (pos < payload.length && (payload(pos) & 0xff) >= '0' && (payload(pos) & 0xff) <= '9')
        pos += 1
      require(pos > start, s"malformed PPM header at byte $start")
      new String(payload, start, pos - start, "US-ASCII").toInt
    }
    val width = readInt()
    val height = readInt()
    val maxval = readInt()
    require(maxval > 0 && maxval < 256, s"unsupported PPM maxval $maxval")
    pos += 1 // the single whitespace byte that terminates the header
    val n = width * height * 3
    // EXACT length, not >=: an oversized body means the generator's
    // chars==bytes assumption broke (e.g. non-ASCII text inflating the
    // UTF-8 encoding) and the raster would be channel-misaligned — the
    // loud-failure contract covers that class, not just truncation
    require(payload.length - pos == n,
      s"PPM body length mismatch: header declares $n bytes, " +
        s"have ${payload.length - pos}")
    (width, height, java.util.Arrays.copyOfRange(payload, pos, pos + n))
  }

  /** REAL image resize — pixels, not metadata: 2x2 box-filter downscale
    * of a P6 PPM raster (each output channel is the floor-average of its
    * four source bytes; odd trailing rows/columns are cropped, the
    * convention box filters use), then a RE-ENCODE back to P6. */
  private[graft] def resizePpmHalf(payload: Array[Byte]): Array[Byte] = {
    val (w, h, body) = parsePpm(payload)
    val ow = w / 2; val oh = h / 2
    require(ow >= 1 && oh >= 1, s"image ${w}x$h too small to halve")
    val out = new Array[Byte](ow * oh * 3)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        var c = 0
        while (c < 3) {
          val i00 = 3 * ((2 * oy) * w + 2 * ox) + c
          val i01 = 3 * ((2 * oy) * w + 2 * ox + 1) + c
          val i10 = 3 * ((2 * oy + 1) * w + 2 * ox) + c
          val i11 = 3 * ((2 * oy + 1) * w + 2 * ox + 1) + c
          val v = ((body(i00) & 0xff) + (body(i01) & 0xff) +
            (body(i10) & 0xff) + (body(i11) & 0xff)) / 4
          out(3 * (oy * ow + ox) + c) = v.toByte
          c += 1
        }
        ox += 1
      }
      oy += 1
    }
    val header = s"P6\n$ow $oh\n255\n".getBytes("US-ASCII")
    val full = new Array[Byte](header.length + out.length)
    System.arraycopy(header, 0, full, 0, header.length)
    System.arraycopy(out, 0, full, header.length, out.length)
    full
  }

  /** The windowed-DSP kernel itself — exposed so the SIGN path of the
    * zero-crossing count is unit-testable with crafted signals: the
    * ASCII-derived driver corpus never produces a negative sample (high
    * byte < 0x80), so an end-to-end check alone would let a broken sign
    * test ship. Returns (total energy, total crossings, max window
    * energy). */
  private[graft] def audioWindowFeatures(samples: Array[Short],
                                         win: Int): (Long, Long, Long) = {
    val nw = samples.length / win
    var totalEnergy = 0L
    var totalZcr = 0L
    var maxEnergy = 0L
    var k = 0
    while (k < nw) {
      var e = 0L
      var z = 0L
      var j = 0
      while (j < win) {
        val s = samples(k * win + j).toLong
        e += s * s
        if (j < win - 1 &&
          s * samples(k * win + j + 1).toLong < 0) z += 1
        j += 1
      }
      totalEnergy += e
      totalZcr += z
      if (e > maxEnergy) maxEnergy = e
      k += 1
    }
    (totalEnergy, totalZcr, maxEnergy)
  }

  // ───────── IMAGE near-dup via perceptual average-hash (aHash) ─────────
  //
  // The multimodal half of the dedup story: hash IMAGES (not text) into
  // 64 bits — 8x8 box-downscale of the decoded raster's first channel,
  // threshold each cell against the integer mean — then find near-dups
  // with a BANDED Hamming join. 8 bands of 8 bits give PROVABLE recall
  // for distance ≤ 7 (pigeonhole: 7 differing bits cannot touch all 8
  // bands), the typo-join completeness discipline; candidates are
  // band-bucket joins, never all-pairs. The hash travels as two 32-bit
  // halves (lo, hi) because a 1<<63 BIGINT shift overflows in ANSI
  // engines — both engines compare halves, so the oracle replays
  // bit_count(xor(lo)) + bit_count(xor(hi)) exactly.

  /** 16x16 PPM per document (fixed dims — position-stable rasters), plus
    * a PLANTED noisy twin (img_id = -doc_id - 1, the negative id space —
    * disjoint from real doc_ids at any corpus size; every 97th body
    * byte +16 mod 256) for every doc_id % 50 == 0: the pair-finder gate
    * must surface exactly the twins (twin hamming ≤ 1 measured, nearest
    * cross-pair ≥ 14 — a wide margin around the ≤ 6 threshold). */
  private val AHashW = 16
  private val AHashH = 16

  def imageAHashes(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), guardedText).as[(Long, String)].mapPartitions { rows =>
      rows.flatMap { case (docId, t) =>
        val body = cycle(t.getBytes("UTF-8"), AHashW * AHashH * 3)
        val orig = (docId, ahashOfBody(body))
        if (docId % 50 == 0) {
          val tb = body.clone()
          var j = 0
          while (j < tb.length) { tb(j) = ((tb(j) & 0xff) + 16).toByte; j += 97 }
          // twin ids live in the NEGATIVE id space (-doc_id - 1): disjoint
          // from real doc_ids at ANY corpus size — an additive offset
          // would collide once the corpus outgrows it
          Seq(orig, (-docId - 1L, ahashOfBody(tb)))
        } else Seq(orig)
      }
    }.map { case (id, (lo, hi)) => (id, lo, hi) }
      .toDF("img_id", "hash_lo", "hash_hi")
  }

  /** aHash of a 16x16 RGB body — THROUGH the codec: the body is encoded
    * to P6 and re-decoded before hashing, so the hash pipeline exercises
    * the same parse path real payloads take. */
  private def ahashOfBody(body: Array[Byte]): (Long, Long) = {
    val header = s"P6\n$AHashW $AHashH\n255\n".getBytes("US-ASCII")
    val (w, h, px) = parsePpm(header ++ body)
    require(w == AHashW && h == AHashH, "ahash ppm round-trip drift")
    val v = new Array[Long](64)
    var i = 0
    while (i < 64) {
      val ox = i % 8; val oy = i / 8
      var sm = 0L
      var dy = 0
      while (dy < 2) {
        var dx = 0
        while (dx < 2) {
          sm += px(3 * ((2 * oy + dy) * w + 2 * ox + dx)) & 0xff
          dx += 1
        }
        dy += 1
      }
      v(i) = sm / 4
      i += 1
    }
    val mean = v.sum / 64
    var lo = 0L; var hi = 0L
    i = 0
    while (i < 64) {
      if (v(i) > mean) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (lo, hi)
  }

  /** Banded Hamming near-dup join over the image hashes: explode each
    * hash into 8 one-byte bands, bucket-join on (band index, band
    * value), then exact-verify candidates with bit_count. Complete for
    * `maxHamming` ≤ 7 by pigeonhole; the DuckDB oracle is the
    * brute-force all-pairs join, so the hash match IS the lossless-
    * filtering proof. */
  def imageNearDupPairs(documents: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 7, s"8x8-banding is only complete for hamming <= 7")
    val hashes = imageAHashes(documents)
    val bands = hashes.select(col("img_id"), col("hash_lo"), col("hash_hi"),
      explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("band_val", expr(
        "CASE WHEN band < 4 THEN shiftright(hash_lo, band * 8) " +
          "ELSE shiftright(hash_hi, (band - 4) * 8) END & 255"))
    val a = bands.select(col("img_id").as("img_a"), col("hash_lo").as("lo_a"),
      col("hash_hi").as("hi_a"), col("band"), col("band_val"))
    val b = bands.select(col("img_id").as("img_b"), col("hash_lo").as("lo_b"),
      col("hash_hi").as("hi_b"), col("band"), col("band_val"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("img_a") < col("img_b"))
      .select(col("img_a"), col("img_b"),
        expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** EXACT-duplicate image groups by full aHash equality — the
    * MEASURED-LINEAR twin of [[imageNearDupPairs]] (the
    * events_in_windows_ranked discipline): the pair query's output is
    * definitionally quadratic in hash density (N images sharing a hash
    * ball emit N·(N−1)/2 pairs — no complete algorithm can beat its own
    * output size), while the grouped form answers the dedup question a
    * pipeline usually actually asks ("which images collapse, and to
    * which canonical") with ONE partial-combining hash agg — linear at
    * any corpus density. Canonical = min img_id (deterministic).
    */
  def imageExactDupGroups(documents: DataFrame): DataFrame =
    imageAHashes(documents)
      .groupBy(col("hash_lo"), col("hash_hi"))
      .agg(count(lit(1)).as("n_images"), min(col("img_id")).as("canonical"))
      .filter(col("n_images") >= 2)

  /** Little-endian integer column as `nBytes` raw bytes — the BMP header
    * word shape, built from pure column ops (hex/lpad/unhex per byte) so
    * payload generation stays a narrow codegen'd projection. */
  private def le(c: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(k =>
      unhex(lpad(hex(shiftright(c, 8 * k) % 256), 2, "0"))): _*)

  /** Minimal-but-real BMP parser: BITMAPFILEHEADER ('BM', pixel-data
    * offset) + BITMAPINFOHEADER (>=40 bytes; width, signed height, planes,
    * bit depth, compression), uncompressed 24-bit only. Returns (width,
    * rowCount, rowStride, raster bytes from the declared offset); the
    * stride includes each row's 4-byte-alignment padding. */
  private[graft] def parseBmp(payload: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val in = new ByteReader(payload, "BMP")
    import in.{le16, le32}
    require(payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M',
      "not a BMP payload")
    val dataOffset = le32(10)
    val infoSize = le32(14)
    require(infoSize >= 40, s"unsupported BMP info-header size $infoSize")
    val width = le32(18)
    val heightRaw = le32(22) // signed: negative = top-down row order
    require(width > 0 && heightRaw != 0,
      s"malformed BMP dimensions ${width}x$heightRaw")
    require(le16(26) == 1, "BMP planes must be 1")
    val bpp = le16(28)
    require(bpp == 24, s"unsupported BMP bit depth $bpp (24-bit BI_RGB only)")
    require(le32(30) == 0, "compressed BMP unsupported (BI_RGB only)")
    require(dataOffset >= 14 + infoSize && dataOffset <= payload.length,
      s"BMP pixel-data offset $dataOffset out of range")
    val rows = math.abs(heightRaw)
    val stride = ((width * 3 + 3) / 4) * 4 // rows pad to 4-byte boundaries
    // EXACT length (same contract as parsePpm): a mis-sized raster means
    // channel misalignment, which must fail the task, not skew a feature
    require(payload.length - dataOffset == stride.toLong * rows,
      s"BMP raster length mismatch: header declares ${stride.toLong * rows} " +
        s"bytes at offset $dataOffset, have ${payload.length - dataOffset}")
    (width, rows, stride,
      java.util.Arrays.copyOfRange(payload, dataOffset, payload.length))
  }

  /** [[parseBmp]]'s BGR rows, padding dropped, as the packed RGB raster
    * the RGB fold reads (channel sums do not depend on row order). */
  private def bmpRgb(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (w, h, stride, body) = parseBmp(payload)
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val at = (i / w) * stride + (i % w) * 3
      rgb(3 * i) = body(at + 2); rgb(3 * i + 1) = body(at + 1); rgb(3 * i + 2) = body(at)
      i += 1
    }
    (w, h, rgb)
  }

  /** Minimal-but-real RIFF/WAVE parser: 'RIFF' + size + 'WAVE', then the
    * spec-compliant chunk walk (unknown chunks skipped) to the `fmt `
    * chunk (PCM format 1, mono, 16-bit required) and the `data` chunk
    * (even byte count). Returns (sampleRate, signed LE16 samples). */
  private[graft] def parseWav(payload: Array[Byte]): (Int, Array[Short]) = {
    val in = new ByteReader(payload, "WAVE")
    import in.{le16, le32}
    var rate = -1
    var dataAt = -1
    var dataLen = -1
    waveChunks(in, minLength = 44) { (id, at, size) =>
      if (id == "fmt ") {
        require(size >= 16, s"fmt chunk too small ($size)")
        require(le16(at) == 1, "compressed WAV unsupported (PCM only)")
        require(le16(at + 2) == 1, "only mono WAV supported")
        require(le16(at + 14) == 16, "only 16-bit PCM supported")
        rate = le32(at + 4)
        require(rate > 0, s"malformed sample rate $rate")
      } else if (id == "data") {
        require(size % 2 == 0, s"odd PCM16 data size $size")
        dataAt = at
        dataLen = size
      }
    }
    require(rate > 0, "missing fmt chunk")
    require(dataAt > 0, "missing data chunk")
    (rate, Array.tabulate(dataLen / 2)(i => le16(dataAt + 2 * i).toShort))
  }


  // ─────────────── G.711 µ-law (companded audio, ITU-T) ───────────────

  /** ITU-T G.711 µ-law compress: 16-bit linear PCM → 8-bit code
    * (bias 0x84, clip 32635, segment exponent + 4-bit mantissa, ones'
    * complement). Table-free — the algorithm IS the spec; MultimodalSpec
    * verifies all 256 codes against the JDK's independent codec. */
  private[graft] def muLawEncode(s: Short): Byte = {
    val BIAS = 0x84; val CLIP = 32635
    var x = s.toInt
    val sign = if (x < 0) { x = -x; 0x80 } else 0
    if (x > CLIP) x = CLIP
    x += BIAS
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (x & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = (x >> (exp + 3)) & 0x0f
    (~(sign | (exp << 4) | mant)).toByte
  }

  /** G.711 µ-law expand: 8-bit code → 16-bit linear PCM. */
  private[graft] def muLawDecode(b: Byte): Short = {
    val u = (~b) & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u >> 4) & 0x07
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** ITU-T G.711 A-law compress: 16-bit linear → 8-bit code (13-bit
    * precision, segment/mantissa, even-bit inversion 0x55). Same
    * table-free discipline as [[muLawEncode]]; JDK-cross-verified. */
  private[graft] def aLawEncode(s: Short): Byte = {
    var x = s.toInt >> 3 // 16-bit -> 13-bit
    val mask = if (x >= 0) 0xd5 else { x = -x - 1; 0x55 }
    val segEnds = Array(0x1f, 0x3f, 0x7f, 0xff, 0x1ff, 0x3ff, 0x7ff, 0xfff)
    var seg = 0
    while (seg < 8 && x > segEnds(seg)) seg += 1
    val aval =
      if (seg >= 8) 0x7f
      else (seg << 4) | (if (seg < 2) (x >> 1) & 0x0f else (x >> seg) & 0x0f)
    (aval ^ mask).toByte
  }

  /** G.711 A-law expand: 8-bit code → 16-bit linear. */
  private[graft] def aLawDecode(b: Byte): Short = {
    val a = (b ^ 0x55) & 0xff
    var t = (a & 0x0f) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else { t += 0x108; t <<= seg - 1 }
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** Parse a G.711 WAVE container: the [[parseWav]] chunk walk, but
    * requiring format tag `formatTag` (7 = mu-law, 6 = A-law) / 8-bit /
    * mono, and cross-checking the `fact` chunk's frame count against the
    * data size (one byte per sample). Returns (sampleRate, raw codes). */
  private[graft] def parseWavMuLaw(payload: Array[Byte],
                                   formatTag: Int = 7): (Int, Array[Byte]) = {
    val in = new ByteReader(payload, "WAVE")
    import in.{le16, le32}
    var rate = -1; var dataAt = -1; var dataLen = -1; var factFrames = -1
    waveChunks(in, minLength = 12) { (id, at, size) =>
      if (id == "fmt ") {
        require(size >= 16, s"fmt chunk too small ($size)")
        require(le16(at) == formatTag,
          s"expected WAVE format tag $formatTag, got ${le16(at)}")
        require(le16(at + 2) == 1, "only mono supported")
        require(le16(at + 14) == 8, "mu-law samples are 8-bit")
        rate = le32(at + 4)
        require(rate > 0, s"malformed sample rate $rate")
      } else if (id == "fact") {
        require(size >= 4, "fact chunk too small")
        factFrames = le32(at)
      } else if (id == "data") {
        dataAt = at; dataLen = size
      }
    }
    require(rate > 0, "missing fmt chunk")
    require(dataAt > 0, "missing data chunk")
    require(factFrames >= 0, "missing fact chunk (required for non-PCM)")
    require(factFrames == dataLen,
      s"fact declares $factFrames frames, data holds $dataLen mu-law bytes")
    (rate, java.util.Arrays.copyOfRange(payload, dataAt, dataAt + dataLen))
  }

  // ───────────── IMA ADPCM (DVI4, WAVE format tag 0x11) ─────────────

  /** IMA/DVI ADPCM step-size table (89 entries) and index-adaptation
    * table, verbatim from the IMA ADPCM reference algorithm (public
    * spec; also RFC 3551 §4.5.1's DVI4). The first PREDICTIVE codec in
    * the media path: 4 bits/sample with decoder state (predictor +
    * step index) threaded through the whole stream — a sample cannot
    * be decoded without every nibble before it in its block. */
  private[graft] val imaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private[graft] val imaIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Decode `nNibbles` 4-bit codes (low nibble of each byte first, per
    * the WAVE 0x11 layout) starting from block state (pred0, idx0);
    * pred0 itself is sample 0. Pure integer state machine. */
  private[graft] def imaAdpcmDecodeNibbles(
      pred0: Int, idx0: Int, data: Array[Byte], from: Int,
      nNibbles: Int): Array[Short] = {
    val out = new Array[Short](nNibbles + 1)
    out(0) = pred0.toShort
    var pred = pred0; var idx = idx0
    var k = 0
    while (k < nNibbles) {
      val b = data(from + (k >> 1)) & 0xff
      val nib = if ((k & 1) == 0) b & 0x0f else b >> 4
      val step = imaStepTable(idx)
      var diff = step >> 3
      if ((nib & 1) != 0) diff += step >> 2
      if ((nib & 2) != 0) diff += step >> 1
      if ((nib & 4) != 0) diff += step
      pred = if ((nib & 8) != 0) pred - diff else pred + diff
      if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
      idx += imaIndexTable(nib & 7)
      if (idx < 0) idx = 0 else if (idx > 88) idx = 88
      out(k + 1) = pred.toShort
      k += 1
    }
    out
  }

  /** REAL IMA ADPCM encoder: PCM16 → WAVE format 0x11 data-chunk blocks.
    * Every block is exactly `blockAlign` bytes — 4-byte header (the
    * block's first sample verbatim as the predictor, the carried step
    * index, a reserved zero) + 2 codes/byte. The final block is padded
    * to size with zero-delta codes; the WAVE `fact` chunk carries the
    * TRUE sample count so the decoder drops the padding. The encoder
    * threads the DECODER's reconstruction through its own state (codebook
    * tracking), so quantization error never accumulates. */
  private[graft] def imaAdpcmEncode(
      samples: Array[Short], blockAlign: Int): Array[Byte] = {
    require(samples.nonEmpty, "ADPCM needs at least one sample")
    require(blockAlign >= 5, s"blockAlign $blockAlign leaves no code bytes")
    val perBlock = (blockAlign - 4) * 2 + 1
    val nBlocks = (samples.length + perBlock - 1) / perBlock
    val out = new Array[Byte](nBlocks * blockAlign)
    // seed the step index from the first delta (any 0..88 header value is
    // spec-legal) — avoids the slope-overload attack transient a cold
    // start at step 7 would smear over the first dozens of samples
    var idx = 0
    if (samples.length > 1) {
      val d0 = math.abs(samples(1) - samples(0))
      while (idx < 88 && imaStepTable(idx) < d0) idx += 1
    }
    var block = 0
    while (block < nBlocks) {
      val base = block * perBlock
      val o = block * blockAlign
      var pred: Int = samples(base)
      out(o) = (pred & 0xff).toByte
      out(o + 1) = ((pred >> 8) & 0xff).toByte
      out(o + 2) = idx.toByte
      out(o + 3) = 0
      var k = 0
      while (k < perBlock - 1) {
        val s = base + 1 + k
        val target: Int = if (s < samples.length) samples(s) else pred
        val step = imaStepTable(idx)
        var d = target - pred
        var nib = 0
        if (d < 0) { nib = 8; d = -d }
        if (d >= step) { nib |= 4; d -= step }
        if (d >= (step >> 1)) { nib |= 2; d -= step >> 1 }
        if (d >= (step >> 2)) nib |= 1
        // decoder-tracked reconstruction
        var diff = step >> 3
        if ((nib & 1) != 0) diff += step >> 2
        if ((nib & 2) != 0) diff += step >> 1
        if ((nib & 4) != 0) diff += step
        pred = if ((nib & 8) != 0) pred - diff else pred + diff
        if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
        idx += imaIndexTable(nib & 7)
        if (idx < 0) idx = 0 else if (idx > 88) idx = 88
        val at = o + 4 + (k >> 1)
        if ((k & 1) == 0) out(at) = nib.toByte
        else out(at) = (out(at) | (nib << 4)).toByte
        k += 1
      }
      block += 1
    }
    out
  }

  /** Wrap ADPCM blocks in a spec-complete WAVE container: fmt chunk with
    * the 2-byte codec extension (samplesPerBlock), mandatory fact chunk. */
  private[graft] def encodeWavImaAdpcm(
      samples: Array[Short], sampleRate: Int, blockAlign: Int): Array[Byte] = {
    val data = imaAdpcmEncode(samples, blockAlign)
    val perBlock = (blockAlign - 4) * 2 + 1
    val out = new ByteWriter
    import out.{le16, le32, tag}
    tag("RIFF"); le32(4 + 28 + 12 + 8 + data.length); tag("WAVE")
    tag("fmt "); le32(20)
    le16(0x11)                       // WAVE_FORMAT_IMA_ADPCM
    le16(1)                          // mono
    le32(sampleRate)
    le32(sampleRate * blockAlign / perBlock) // byte rate
    le16(blockAlign)
    le16(4)                          // bits per sample
    le16(2)                          // cbSize
    le16(perBlock)                   // samplesPerBlock
    tag("fact"); le32(4); le32(samples.length)
    tag("data"); le32(data.length)
    out.write(data)
    out.toByteArray
  }

  /** Parse + fully decode an IMA ADPCM WAVE file: the [[parseWav]] chunk
    * walk, format tag 0x11 / 4-bit / mono validation, samplesPerBlock ≡
    * (blockAlign−4)·2+1 cross-check, per-block state-machine decode,
    * fact-count truncation of the final block's padding. Returns
    * (sampleRate, decoded PCM16). */
  private[graft] def parseWavImaAdpcm(payload: Array[Byte]): (Int, Array[Short]) = {
    val in = new ByteReader(payload, "WAVE")
    import in.{u8, le16, le32}
    var rate = -1; var blockAlign = -1; var perBlock = -1
    var dataAt = -1; var dataLen = -1; var factFrames = -1
    waveChunks(in, minLength = 12) { (id, at, size) =>
      if (id == "fmt ") {
        require(size >= 20, s"ADPCM fmt chunk too small ($size): needs cbSize+samplesPerBlock")
        require(le16(at) == 0x11,
          s"expected WAVE format tag 17 (IMA ADPCM), got ${le16(at)}")
        require(le16(at + 2) == 1, "only mono supported")
        require(le16(at + 14) == 4, "IMA ADPCM samples are 4-bit")
        rate = le32(at + 4)
        require(rate > 0, s"malformed sample rate $rate")
        blockAlign = le16(at + 12)
        require(le16(at + 16) >= 2, "fmt cbSize must carry samplesPerBlock")
        perBlock = le16(at + 18)
        require(blockAlign >= 5 && perBlock == (blockAlign - 4) * 2 + 1,
          s"samplesPerBlock $perBlock inconsistent with blockAlign $blockAlign")
      } else if (id == "fact") {
        require(size >= 4, "fact chunk too small")
        factFrames = le32(at)
      } else if (id == "data") {
        dataAt = at; dataLen = size
      }
    }
    require(rate > 0, "missing fmt chunk")
    require(dataAt > 0, "missing data chunk")
    require(factFrames >= 0, "missing fact chunk (required for non-PCM)")
    require(dataLen % blockAlign == 0,
      s"data length $dataLen is not a whole number of $blockAlign-byte blocks")
    val nBlocks = dataLen / blockAlign
    require(nBlocks > 0, "empty ADPCM data chunk")
    require(factFrames > (nBlocks - 1).toLong * perBlock && factFrames <= nBlocks.toLong * perBlock,
      s"fact declares $factFrames samples, $nBlocks blocks hold up to ${nBlocks.toLong * perBlock}")
    val out = new Array[Short](factFrames)
    var block = 0; var emitted = 0
    while (block < nBlocks) {
      val o = dataAt + block * blockAlign
      val pred0 = le16(o).toShort.toInt
      val idx0 = u8(o + 2)
      require(idx0 <= 88, s"block $block step index $idx0 out of range")
      require(u8(o + 3) == 0, s"block $block reserved header byte nonzero")
      val want = math.min(perBlock, factFrames - emitted)
      val decoded = imaAdpcmDecodeNibbles(pred0, idx0, payload, o + 4, perBlock - 1)
      System.arraycopy(decoded, 0, out, emitted, want)
      emitted += want
      block += 1
    }
    (rate, out)
  }

  /** QOI color hash — the spec's (r·3 + g·5 + b·7 + a·11) % 64 with the
    * constant alpha 255 of a 3-channel image. */
  private def qoiHash(r: Int, g: Int, b: Int): Int =
    (r * 3 + g * 5 + b * 7 + 255 * 11) % 64

  /** REAL QOI encoder (RGB, colorspace 0) — the reference algorithm:
    * runs up to 62, index hits, 2-bit DIFF, LUMA, literal RGB chunks,
    * 14-byte header, 8-byte end marker. Exercised by the generator and
    * the round-trip specs; byte-level chunk behavior pinned against
    * hand-built fixtures in MultimodalSpec. */
  private[graft] def encodeQoi(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, s"pixel body ${rgb.length} != $w*$h*3")
    val out = new ByteWriter
    out.tag("qoif")
    out.be32(w); out.be32(h)
    out.write(3) // channels
    out.write(0) // colorspace: sRGB with linear alpha
    val index = new Array[Int](64) // packed 0xRRGGBB + (1 << 24) occupancy
    var prevR = 0; var prevG = 0; var prevB = 0
    var run = 0
    val nPx = w * h
    var p = 0
    while (p < nPx) {
      val r = rgb(3 * p) & 0xff
      val g = rgb(3 * p + 1) & 0xff
      val b = rgb(3 * p + 2) & 0xff
      if (r == prevR && g == prevG && b == prevB) {
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val hsh = qoiHash(r, g, b)
        val packed = (1 << 24) | (r << 16) | (g << 8) | b
        if (index(hsh) == packed) {
          out.write(hsh) // QOI_OP_INDEX (tag 0b00)
        } else {
          index(hsh) = packed
          // wrap-around signed byte diffs vs the previous pixel
          val dr = ((r - prevR + 128) & 0xff) - 128
          val dg = ((g - prevG + 128) & 0xff) - 128
          val db = ((b - prevB + 128) & 0xff) - 128
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1) {
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          } else {
            val drDg = ((dr - dg + 128) & 0xff) - 128
            val dbDg = ((db - dg + 128) & 0xff) - 128
            if (dg >= -32 && dg <= 31 && drDg >= -8 && drDg <= 7 &&
              dbDg >= -8 && dbDg <= 7) {
              out.write(0x80 | (dg + 32)); out.write(((drDg + 8) << 4) | (dbDg + 8))
            } else {
              out.write(0xfe); out.write(r); out.write(g); out.write(b)
            }
          }
        }
      }
      prevR = r; prevG = g; prevB = b
      p += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    var z = 0
    while (z < 7) { out.write(0); z += 1 }
    out.write(1)
    out.toByteArray
  }

  /** REAL QOI decoder — not a stub, and not just a container walk: every
    * chunk type (RUN / INDEX / DIFF / LUMA / RGB / RGBA) reconstructs
    * pixels through the codec state machine (previous pixel + 64-slot
    * index table), with the header and the 8-byte end marker validated
    * and loud failure on truncation, overrun, or trailing garbage.
    * Returns (w, h, rgb24). */
  private[graft] def parseQoi(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
    val in = new ByteReader(payload, "QOI")
    import in.{u8, be32}
    require(payload.length >= 22 &&
      payload(0) == 'q' && payload(1) == 'o' &&
      payload(2) == 'i' && payload(3) == 'f', "not a QOI payload")
    val w = be32(4); val h = be32(8)
    require(w > 0 && h > 0, s"malformed QOI dims ${w}x$h")
    val channels = u8(12)
    require(channels == 3 || channels == 4, s"bad channel count $channels")
    require(u8(13) == 0 || u8(13) == 1, s"bad colorspace ${u8(13)}")
    val nPx = w * h
    val rgb = new Array[Byte](nPx * 3)
    val index = new Array[Int](64) // packed ARGB (alpha participates in hash)
    var r = 0; var g = 0; var b = 0; var a = 255
    var p = 0
    var pos = 14
    while (p < nPx) {
      require(pos < payload.length - 8, "QOI chunk stream truncated")
      val tag = u8(pos); pos += 1
      var run = 1
      if (tag == 0xfe) { // QOI_OP_RGB
        r = u8(pos); g = u8(pos + 1); b = u8(pos + 2); pos += 3
      } else if (tag == 0xff) { // QOI_OP_RGBA
        r = u8(pos); g = u8(pos + 1); b = u8(pos + 2); a = u8(pos + 3); pos += 4
      } else ((tag >> 6): @unchecked) match {
        case 0 => // INDEX
          val v = index(tag & 0x3f)
          a = (v >>> 24) & 0xff; r = (v >>> 16) & 0xff
          g = (v >>> 8) & 0xff; b = v & 0xff
        case 1 => // DIFF, 2-bit deltas biased +2
          r = (r + ((tag >> 4) & 3) - 2) & 0xff
          g = (g + ((tag >> 2) & 3) - 2) & 0xff
          b = (b + (tag & 3) - 2) & 0xff
        case 2 => // LUMA
          val dg = (tag & 0x3f) - 32
          val b2 = u8(pos); pos += 1
          r = (r + dg + ((b2 >> 4) & 0xf) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (b2 & 0xf) - 8) & 0xff
        case 3 => // RUN, biased -1
          run = (tag & 0x3f) + 1
      }
      index((r * 3 + g * 5 + b * 7 + a * 11) % 64) =
        (a << 24) | (r << 16) | (g << 8) | b
      require(p + run <= nPx, s"QOI run overruns the pixel count at $p")
      var k = 0
      while (k < run) {
        rgb(3 * p) = r.toByte; rgb(3 * p + 1) = g.toByte; rgb(3 * p + 2) = b.toByte
        p += 1; k += 1
      }
    }
    require(pos + 8 == payload.length, "trailing bytes after QOI stream")
    var z = 0
    while (z < 7) { require(u8(pos + z) == 0, "bad QOI end marker"); z += 1 }
    require(u8(pos + 7) == 1, "bad QOI end marker")
    (w, h, rgb)
  }

  /** PNG Paeth predictor (spec §9.4) — exact integer form. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** REAL PNG encoder (8-bit truecolor, no interlace): each scanline gets
    * filter `y % 5` — cycling None/Sub/Up/Average/Paeth forces the decoder
    * to implement the FULL filter-reconstruction state machine, not just
    * the trivial filter-0 path — the filtered stream is zlib-deflated
    * (PNG's IDAT *is* a zlib stream, which `java.util.zip.Deflater`
    * emits natively), and the stream is split across multiple IDAT chunks
    * (decoders must concatenate). Every chunk carries its CRC32. */
  private[graft] def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, s"pixel body ${rgb.length} != $w*$h*3")
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      val f = y % 5
      raw(y * (stride + 1)) = f.toByte
      var x = 0
      while (x < stride) {
        val cur = rgb(y * stride + x) & 0xff
        val a = if (x >= 3) rgb(y * stride + x - 3) & 0xff else 0
        val b = if (y > 0) rgb((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) rgb((y - 1) * stride + x - 3) & 0xff else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - ((a + b) >> 1)
          case 4 => cur - paeth(a, b, c)
        }
        raw(y * (stride + 1) + 1 + x) = (filtered & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val z = zbuf.toByteArray

    val out = new ByteWriter
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    def writeChunk(typ: String, data: Array[Byte]): Unit = {
      out.be32(data.length)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.be32(crc.getValue.toInt)
    }
    val ihdr = new ByteWriter
    ihdr.be32(w); ihdr.be32(h)
    ihdr.write(8) // bit depth
    ihdr.write(2) // color type: truecolor RGB
    ihdr.write(Array[Byte](0, 0, 0)) // compression, filter method, no interlace
    writeChunk("IHDR", ihdr.toByteArray)
    // multi-IDAT: decoders must treat all IDAT data as ONE zlib stream
    val idatChunk = 512
    var off = 0
    while (off < z.length) {
      val len = math.min(idatChunk, z.length - off)
      writeChunk("IDAT", java.util.Arrays.copyOfRange(z, off, off + len))
      off += len
    }
    writeChunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** REAL PNG decoder — signature + chunk walk with CRC32 VERIFIED on
    * every chunk, IHDR validation (8-bit truecolor, no interlace), all
    * IDAT payloads concatenated into one zlib stream, inflated via
    * `java.util.zip.Inflater`, and each scanline un-filtered through the
    * full five-filter reconstruction (None/Sub/Up/Average/Paeth — the
    * spec's exact integer arithmetic). Loud failure on truncation, bad
    * CRC, wrong inflated size, unknown filter, or trailing data.
    * Returns (w, h, rgb24). */
  private[graft] def parsePng(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
    val in = new ByteReader(payload, "PNG")
    import in.{u8, be32}
    require(payload.length >= 8 + 25 + 12 &&
      u8(0) == 0x89 && payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G' &&
      u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a,
      "not a PNG payload")
    var pos = 8
    var w = 0; var h = 0
    var sawIhdr = false; var sawIend = false
    val zAll = new java.io.ByteArrayOutputStream()
    while (!sawIend) {
      require(pos + 12 <= payload.length, "PNG chunk stream truncated")
      val len = be32(pos)
      require(len >= 0 && pos + 12 + len <= payload.length,
        s"PNG chunk length $len overruns payload")
      val typ = new String(payload, pos + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(payload, pos + 4, 4 + len)
      require(crc.getValue.toInt == be32(pos + 8 + len), s"bad CRC on $typ chunk")
      typ match {
        case "IHDR" =>
          require(!sawIhdr, "duplicate IHDR")
          require(len == 13, s"IHDR length $len")
          w = be32(pos + 8); h = be32(pos + 12)
          require(w > 0 && h > 0, s"malformed PNG dims ${w}x$h")
          require(u8(pos + 16) == 8, s"unsupported bit depth ${u8(pos + 16)}")
          require(u8(pos + 17) == 2, s"unsupported color type ${u8(pos + 17)}")
          require(u8(pos + 18) == 0 && u8(pos + 19) == 0 && u8(pos + 20) == 0,
            "unsupported compression/filter/interlace method")
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "IDAT before IHDR")
          zAll.write(payload, pos + 8, len)
        case "IEND" =>
          require(len == 0, "non-empty IEND")
          sawIend = true
        case other =>
          // ancillary chunks (none emitted by encodePng) are skipped per
          // spec; a critical unknown chunk (uppercase first letter) is fatal
          require(other.head.isLower, s"unknown critical chunk $other")
      }
      pos += 12 + len
    }
    require(pos == payload.length, "trailing bytes after IEND")
    require(zAll.size() > 0, "no IDAT data")

    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(zAll.toByteArray)
    var filled = 0
    while (filled < raw.length && !inflater.finished()) {
      val n = inflater.inflate(raw, filled, raw.length - filled)
      require(n > 0 || inflater.finished(), "truncated zlib stream in IDAT")
      filled += n
    }
    val leftover = inflater.inflate(new Array[Byte](1))
    require(filled == raw.length && leftover == 0,
      s"inflated size $filled != expected ${raw.length}")
    inflater.end()

    val rgb = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xff
      require(f <= 4, s"unknown PNG filter $f on row $y")
      var x = 0
      while (x < stride) {
        val cur = raw(y * (stride + 1) + 1 + x) & 0xff
        val a = if (x >= 3) rgb(y * stride + x - 3) & 0xff else 0
        val b = if (y > 0) rgb((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) rgb((y - 1) * stride + x - 3) & 0xff else 0
        val recon = f match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + b
          case 3 => cur + ((a + b) >> 1)
          case 4 => cur + paeth(a, b, c)
        }
        rgb(y * stride + x) = (recon & 0xff).toByte
        x += 1
      }
      y += 1
    }
    (w, h, rgb)
  }

  /** REAL GIF89a encoder (8-bit palette, no interlace): grayscale global
    * color table, then the classic ppmtogif-convention LZW — initial code
    * size 9 (min-code-size 8), clear=256/EOI=257, dictionary keyed
    * (prefixCode, byte), code width bumped AFTER emit when the next free
    * slot exceeds the current width's range, clear emitted on a full
    * (4096) table — packed LSB-first into 255-byte sub-blocks. */
  private[graft] def encodeGif(w: Int, h: Int, indices: Array[Byte]): Array[Byte] = {
    require(indices.length == w * h, s"index body ${indices.length} != $w*$h")
    val out = new ByteWriter
    import out.le16
    out.tag("GIF89a")
    le16(w); le16(h)
    out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
    out.write(0)    // background color index
    out.write(0)    // pixel aspect ratio
    var ci = 0
    while (ci < 256) { out.write(ci); out.write(ci); out.write(ci); ci += 1 }
    out.write(0x2c) // image descriptor
    le16(0); le16(0); le16(w); le16(h)
    out.write(0) // no local color table, no interlace
    out.write(8) // LZW minimum code size
    out.write(lzwEncodeGifBody(indices))
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** The LZW half of [[encodeGif]], shared with the animated writer: the
    * variable-width coded stream for one image, framed into 255-byte
    * sub-blocks and closed with the block terminator. */
  private[graft] def lzwEncodeGifBody(indices: Array[Byte]): Array[Byte] = {
    require(indices.nonEmpty, "LZW body needs at least one index")
    // LZW with sub-block framing
    val body = new java.io.ByteArrayOutputStream()
    val block = new Array[Byte](255)
    var blockLen = 0
    var acc = 0L; var accBits = 0
    def flushByte(b: Int): Unit = {
      block(blockLen) = b.toByte; blockLen += 1
      if (blockLen == 255) { body.write(255); body.write(block, 0, 255); blockLen = 0 }
    }
    val clear = 256; val eoi = 257
    var nBits = 9; var maxCode = (1 << nBits) - 1
    var freeEnt = 258
    def emit(code: Int): Unit = {
      acc |= code.toLong << accBits; accBits += nBits
      while (accBits >= 8) { flushByte((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
      // ppmtogif convention: width check AFTER the emit, so a code equal
      // to the width's max still fits before the bump
      if (freeEnt > maxCode && nBits < 12) { nBits += 1; maxCode = (1 << nBits) - 1 }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    emit(clear)
    var cur: Int = indices(0) & 0xff
    var p = 1
    while (p < indices.length) {
      val k = indices(p) & 0xff
      val key = Integer.valueOf((cur << 8) | k)
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        emit(cur)
        if (freeEnt < 4096) { dict.put(key, Integer.valueOf(freeEnt)); freeEnt += 1 }
        else {
          emit(clear)
          dict.clear(); freeEnt = 258; nBits = 9; maxCode = (1 << nBits) - 1
        }
        cur = k
      }
      p += 1
    }
    emit(cur); emit(eoi)
    while (accBits > 0) { flushByte((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
    if (blockLen > 0) { body.write(blockLen); body.write(block, 0, blockLen) }
    body.write(0) // block terminator
    body.toByteArray
  }

  /** REAL GIF decoder — header + logical screen descriptor validation,
    * global color table READ (pixels come out through the palette, not as
    * raw indices), extension blocks skipped per spec, and a full LZW
    * state machine: variable code width (9→12), clear-code table reset,
    * dictionary reconstruction INCLUDING the KwKwK case (a code equal to
    * the next free slot names the entry being built), sub-block
    * reassembly, EOI/terminator/trailer enforcement, exact pixel count.
    * Returns (w, h, gray bytes — the palette's R channel per pixel).
    */
  private[graft] def parseGif(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
    // bounds-checked reads: a payload truncated inside an extension or
    // descriptor fails the loud require contract, not with an index error
    val in = new ByteReader(payload, "GIF")
    import in.{u8, le16}
    require(payload.length >= 14, "GIF too short")
    val magic = new String(payload, 0, 6, "US-ASCII")
    require(magic == "GIF89a" || magic == "GIF87a", s"not a GIF payload: $magic")
    val screenW = le16(6); val screenH = le16(8)
    val packed = u8(10)
    var pos = 13
    val palette = new Array[Byte](256)
    if ((packed & 0x80) != 0) {
      val gctSize = 2 << (packed & 7)
      require(pos + 3 * gctSize <= payload.length, "GCT truncated")
      var i = 0
      while (i < gctSize) { palette(i) = payload(pos + 3 * i); i += 1 }
      pos += 3 * gctSize
    }
    // walk blocks to the first image descriptor, skipping extensions
    while (u8(pos) == 0x21) {
      pos += 2 // extension introducer + label
      while (u8(pos) != 0) pos += 1 + u8(pos)
      pos += 1
    }
    require(u8(pos) == 0x2c, s"expected image descriptor, got 0x${u8(pos)}%02x")
    val w = le16(pos + 5); val h = le16(pos + 7)
    require(w > 0 && h > 0 && w <= screenW && h <= screenH,
      s"malformed GIF dims ${w}x$h in ${screenW}x$screenH")
    val imgPacked = u8(pos + 9)
    require((imgPacked & 0x40) == 0, "interlaced GIF unsupported")
    require((imgPacked & 0x80) == 0, "local color table unsupported")
    pos += 10
    val minCodeSize = u8(pos); pos += 1
    require(minCodeSize == 8, s"unsupported LZW min code size $minCodeSize")
    val (gray, afterBody) = lzwDecodeGifBody(payload, pos, w * h)
    pos = afterBody
    require(pos < payload.length && u8(pos) == 0x3b, "missing GIF trailer")
    require(pos + 1 == payload.length, "trailing bytes after GIF trailer")
    // palette indirection: the decoder returns PIXELS, not indices
    var q = 0
    while (q < w * h) { gray(q) = palette(gray(q) & 0xff); q += 1 }
    (w, h, gray)
  }

  /** The LZW half of [[parseGif]], shared with the animated parser:
    * sub-block reassembly + the full variable-width decode (clear-code
    * reset, KwKwK reconstruction, exact pixel count) for ONE image whose
    * coded stream starts at `startPos` (just past the min-code-size
    * byte). Returns the raw palette INDICES and the offset of the first
    * byte after the block terminator. */
  private[graft] def lzwDecodeGifBody(
      payload: Array[Byte], startPos: Int, nPx: Int): (Array[Byte], Int) = {
    val in = new ByteReader(payload, "GIF")
    import in.u8
    var pos = startPos
    // reassemble sub-blocks
    val z = new java.io.ByteArrayOutputStream()
    while (u8(pos) != 0) {
      val len = u8(pos)
      require(pos + 1 + len < payload.length, "GIF sub-block truncated")
      z.write(payload, pos + 1, len)
      pos += 1 + len
    }
    pos += 1 // block terminator
    val zb = z.toByteArray

    // LZW decode — mirror of encodeGif's width/reset conventions
    val clear = 256; val eoi = 257
    val gray = new Array[Byte](nPx)
    var outPos = 0
    // dictionary as (prefix link, last byte) — O(1) per entry, entries
    // materialized by walking links backward
    val prefix = new Array[Int](4096)
    val last = new Array[Byte](4096)
    val depth = new Array[Int](4096)
    var i = 0
    while (i < 256) { prefix(i) = -1; last(i) = i.toByte; depth(i) = 1; i += 1 }
    var freeEnt = 258
    var nBits = 9; var maxCode = (1 << nBits) - 1
    var acc = 0L; var accBits = 0; var zPos = 0
    var prev = -1
    val scratch = new Array[Byte](4096)
    def writeEntry(code: Int): Byte = { // returns first byte of the entry
      var d = depth(code); var c = code
      require(outPos + d <= nPx, s"GIF pixel overrun at $outPos")
      var s = d
      while (c != -1) { s -= 1; scratch(s) = last(c); c = prefix(c) }
      System.arraycopy(scratch, 0, gray, outPos, d)
      outPos += d
      scratch(0)
    }
    var done = false
    while (!done) {
      while (accBits < nBits && zPos < zb.length) {
        acc |= (zb(zPos) & 0xffL) << accBits; accBits += 8; zPos += 1
      }
      require(accBits >= nBits, "LZW stream truncated before EOI")
      val code = (acc & maxCode).toInt
      acc >>>= nBits; accBits -= nBits
      if (code == clear) {
        freeEnt = 258; nBits = 9; maxCode = (1 << nBits) - 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        require(code < 256, s"first LZW code $code is not a literal")
        writeEntry(code)
        prev = code
      } else {
        require(code <= freeEnt && code < 4096, s"LZW code $code beyond table $freeEnt")
        val firstByte =
          if (code < freeEnt) writeEntry(code)
          else { // KwKwK: entry being defined names itself
            var c = prev
            while (prefix(c) != -1) c = prefix(c)
            val fb = last(c)
            require(outPos + depth(prev) + 1 <= nPx, s"GIF pixel overrun at $outPos")
            writeEntry(prev)
            gray(outPos) = fb; outPos += 1
            fb
          }
        if (freeEnt < 4096) {
          prefix(freeEnt) = prev; last(freeEnt) = firstByte
          depth(freeEnt) = depth(prev) + 1
          freeEnt += 1
        }
        if (freeEnt > maxCode && nBits < 12) { nBits += 1; maxCode = (1 << nBits) - 1 }
        prev = code
      }
    }
    require(outPos == nPx, s"GIF decoded $outPos of $nPx pixels")
    (gray, pos)
  }

  // ─────────── animated GIF (GIF89a inter-frame delta coding) ───────────

  /** REAL GIF89a ANIMATION encoder — the first INTER-frame coder in the
    * media path (every earlier video/image codec is intra-only). Each
    * input is a full composited frame; the writer stores frame 0 intact
    * and every later frame as a DELTA per the GIF89a spec's own
    * inter-frame machinery: disposal method 1 ("do not dispose") carries
    * the canvas forward, unchanged pixels inside the changed-region
    * bounding box are coded as a transparent palette index, and pixels
    * outside the box are not stored at all (sub-rectangle image
    * descriptors). The transparent index is any palette entry unused by
    * every frame; when all 256 are in use the writer falls back to
    * intra-only full frames (still a valid animation, no transparency).
    * A NETSCAPE2.0 looping application extension exercises the
    * application-extension block type on the read side. */
  private[graft] def encodeGifAnim(w: Int, h: Int, frames: Array[Array[Byte]],
                                   delayCs: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "animated GIF needs at least one frame")
    frames.zipWithIndex.foreach { case (f, k) =>
      require(f.length == w * h, s"frame $k body ${f.length} != $w*$h") }
    val used = new Array[Boolean](256)
    frames.foreach(f => f.foreach(b => used(b & 0xff) = true))
    val transIdx = used.indexOf(false) // -1 when every index is in use
    val out = new ByteWriter
    import out.le16
    out.tag("GIF89a")
    le16(w); le16(h)
    out.write(0xf7); out.write(0); out.write(0)
    var ci = 0
    while (ci < 256) { out.write(ci); out.write(ci); out.write(ci); ci += 1 }
    // NETSCAPE2.0 looping application extension (loop count 0 = forever)
    out.write(0x21); out.write(0xff); out.write(11)
    out.tag("NETSCAPE2.0")
    out.write(3); out.write(1); le16(0); out.write(0)
    var k = 0
    while (k < frames.length) {
      val full = k == 0 || transIdx < 0
      // tight bounding box of the pixels that changed since frame k-1
      var x0 = w; var y0 = h; var x1 = -1; var y1 = -1
      if (!full) {
        val prev = frames(k - 1); val cur = frames(k)
        var i = 0
        while (i < cur.length) {
          if (cur(i) != prev(i)) {
            val y = i / w; val x = i % w
            if (x < x0) x0 = x
            if (x > x1) x1 = x
            if (y < y0) y0 = y
            if (y > y1) y1 = y
          }
          i += 1
        }
      }
      // graphic control extension: disposal 1 keeps the canvas, the
      // transparency flag marks delta frames
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write((1 << 2) | (if (full) 0 else 1))
      le16(delayCs)
      out.write(if (full) 0 else transIdx)
      out.write(0)
      val (left, top, fw, fh, bodyIdx) =
        if (full) (0, 0, w, h, frames(k))
        else if (x1 < 0) (0, 0, 1, 1, Array(transIdx.toByte)) // no change
        else {
          val fw = x1 - x0 + 1; val fh = y1 - y0 + 1
          val sub = new Array[Byte](fw * fh)
          val prev = frames(k - 1); val cur = frames(k)
          var y = 0
          while (y < fh) {
            var x = 0
            while (x < fw) {
              val i = (y0 + y) * w + (x0 + x)
              sub(y * fw + x) = if (cur(i) != prev(i)) cur(i) else transIdx.toByte
              x += 1
            }
            y += 1
          }
          (x0, y0, fw, fh, sub)
        }
      out.write(0x2c)
      le16(left); le16(top); le16(fw); le16(fh)
      out.write(0) // no local color table, no interlace
      out.write(8) // LZW minimum code size
      out.write(lzwEncodeGifBody(bodyIdx))
      k += 1
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** REAL animated-GIF decoder — walks the full GIF89a block grammar
    * (graphic control / application / comment extensions, any number of
    * image descriptors), LZW-decodes every sub-rectangle frame through
    * [[lzwDecodeGifBody]], and COMPOSITES: disposal method 1 carries the
    * canvas, transparent-index pixels leave the underlying canvas pixel
    * visible. Frame k's returned pixels therefore depend on every frame
    * before it — the inter-frame access pattern (no frame skipping
    * without decoding predecessors). Returns (w, h, composited
    * palette-mapped gray frames). */
  private[graft] def parseGifAnim(
      payload: Array[Byte]): (Int, Int, Array[Array[Byte]], Int) = {
    val in = new ByteReader(payload, "GIF")
    import in.{u8, le16}
    require(payload.length >= 14, "GIF too short")
    val magic = new String(payload, 0, 6, "US-ASCII")
    require(magic == "GIF89a", s"not an animated GIF payload: $magic")
    val w = le16(6); val h = le16(8)
    require(w > 0 && h > 0, s"malformed GIF screen ${w}x$h")
    val packed = u8(10)
    require((packed & 0x80) != 0, "animated GIF needs a global color table")
    var pos = 13
    val palette = new Array[Byte](256)
    val gctSize = 2 << (packed & 7)
    require(pos + 3 * gctSize <= payload.length, "GCT truncated")
    var i = 0
    while (i < gctSize) { palette(i) = payload(pos + 3 * i); i += 1 }
    pos += 3 * gctSize
    val canvas = new Array[Byte](w * h) // index space; background index 0
    val framesOut = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var transparent = false; var transIdx = 0; var deltaFrames = 0
    var done = false
    while (!done) {
      u8(pos) match {
        case 0x3b =>
          require(pos + 1 == payload.length, "trailing bytes after GIF trailer")
          done = true
        case 0x21 =>
          val label = u8(pos + 1)
          if (label == 0xf9) {
            require(u8(pos + 2) == 4, s"GCE block size ${u8(pos + 2)} != 4")
            val p = u8(pos + 3)
            val disposal = (p >> 2) & 7
            require(disposal <= 1,
              s"unsupported GIF disposal method $disposal (none/keep only)")
            transparent = (p & 1) != 0
            transIdx = u8(pos + 6)
            require(u8(pos + 7) == 0, "GCE missing terminator")
            pos += 8
          } else { // application / comment / plain-text: skip sub-blocks
            pos += 2
            while (u8(pos) != 0) pos += 1 + u8(pos)
            pos += 1
          }
        case 0x2c =>
          val left = le16(pos + 1); val top = le16(pos + 3)
          val fw = le16(pos + 5); val fh = le16(pos + 7)
          require(fw > 0 && fh > 0 && left + fw <= w && top + fh <= h,
            s"frame rect ${fw}x$fh at ($left,$top) outside ${w}x$h screen")
          val imgPacked = u8(pos + 9)
          require((imgPacked & 0x40) == 0, "interlaced GIF unsupported")
          require((imgPacked & 0x80) == 0, "local color table unsupported")
          pos += 10
          val minCodeSize = u8(pos); pos += 1
          require(minCodeSize == 8, s"unsupported LZW min code size $minCodeSize")
          val (indices, afterBody) = lzwDecodeGifBody(payload, pos, fw * fh)
          pos = afterBody
          if (transparent || fw != w || fh != h) deltaFrames += 1
          var y = 0
          while (y < fh) {
            var x = 0
            while (x < fw) {
              val v = indices(y * fw + x)
              if (!(transparent && (v & 0xff) == transIdx))
                canvas((top + y) * w + (left + x)) = v
              x += 1
            }
            y += 1
          }
          val snap = new Array[Byte](w * h)
          var q = 0
          while (q < snap.length) { snap(q) = palette(canvas(q) & 0xff); q += 1 }
          framesOut += snap
          transparent = false; transIdx = 0 // a GCE scopes exactly one image
        case other =>
          throw new IllegalArgumentException(
            f"unexpected GIF block 0x$other%02x at offset $pos")
      }
    }
    require(framesOut.nonEmpty, "animated GIF holds no frames")
    (w, h, framesOut.toArray, deltaFrames)
  }

  /** The "ticker" frames of the animated-GIF synth: frame 0 lays the text
    * out row by row (row r reads the text cycled from offset w·r); every
    * later frame j repaints ONE row — row (j mod h) gets the text from
    * offset w·j — so adjacent frames differ in at most one row and the
    * delta coder has real sparse changes to exploit. Composited frame k
    * is closed-form: row r reads offset w·(r + h·max(0, ⌊(k−r)/h⌋)), which
    * keeps the text-side oracle exact through palette, LZW, transparency
    * and compositing. */
  private def tickerFrames(tb: Array[Byte], w: Int, h: Int, nf: Int): Array[Array[Byte]] =
    Array.tabulate(nf) { k =>
      val f = new Array[Byte](w * h)
      var r = 0
      while (r < h) {
        // Scala's / truncates toward zero, but k−r > −h here, so the
        // negative case lands on 0 exactly like the oracle's floor+clamp
        val off = w * (r + h * math.max(0, (k - r) / h))
        var c = 0
        while (c < w) { f(r * w + c) = tb((off + c) % tb.length); c += 1 }
        r += 1
      }
      f
    }

  // ─────────────── JPEG (baseline sequential DCT, JFIF) ───────────────

  /** Zig-zag scan order: coded position k → raster index in the 8×8 block
    * (ITU-T T.81 figure A.6). */
  private[graft] val jpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // T.81 Annex K.3 "typical" Huffman tables: (counts for code lengths
  // 1..16, symbol values). The encoder writes these into DHT segments;
  // the decoder always rebuilds its tables from the DHT bytes, so these
  // constants never leak into the decode path.
  private val jpegDcLumSpec: (Array[Int], Array[Int]) = (
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    (0 to 11).toArray)
  private val jpegDcChrSpec: (Array[Int], Array[Int]) = (
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    (0 to 11).toArray)
  private val jpegAcLumSpec: (Array[Int], Array[Int]) = (
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125),
    Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
      0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
      0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
      0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
      0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
      0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
      0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
      0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
      0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))
  private val jpegAcChrSpec: (Array[Int], Array[Int]) = (
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119),
    Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
      0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
      0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
      0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
      0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
      0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
      0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
      0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
      0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
      0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
      0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
      0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))

  /** Canonical Huffman (code, length) per symbol from a (BITS, HUFFVAL)
    * spec — T.81 Annex C code assignment. */
  private def jpegHuffCodes(spec: (Array[Int], Array[Int])): Array[(Int, Int)] = {
    val (bits, vals) = spec
    val out = new Array[(Int, Int)](vals.length)
    var code = 0; var k = 0; var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) { out(k) = (code, len); code += 1; k += 1; i += 1 }
      code <<= 1; len += 1
    }
    out
  }

  /** Bit size category of a DC difference / AC coefficient (T.81 F.1.2.1). */
  private def jpegCat(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** REAL baseline-JPEG encoder (JFIF, 8-bit, no subsampling): grayscale
    * (1 component) or YCbCr 4:4:4 (3 components, `pixels` interleaved
    * RGB), caller-supplied quantization table (all-ones by default — with
    * 8×8-block-constant input that makes the round trip bit-exact: a
    * constant block has only a DC coefficient, 8·(v−128), an integer that
    * quantizes losslessly), Annex K Huffman tables, optional restart
    * interval. Forward path: level shift → 2-D DCT (double) → quantize →
    * zig-zag → DC prediction + AC run-length → Huffman with 0xFF00 byte
    * stuffing → SOI/APP0/DQT/SOF0/DHT/[DRI]/SOS/EOI framing. */
  private[graft] def encodeJpeg(w: Int, h: Int, pixels: Array[Byte],
      components: Int = 1, qtab: Array[Int] = Array.fill(64)(1),
      restartInterval: Int = 0): Array[Byte] = {
    require(components == 1 || components == 3, s"components $components")
    require(pixels.length == w * h * components,
      s"pixel body ${pixels.length} != $w*$h*$components")
    require(qtab.length == 64 && qtab.forall(q => q >= 1 && q <= 255),
      "quant table must be 64 entries in [1,255]")
    val out = new ByteWriter
    import out.be16
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xe0) // APP0/JFIF
    be16(16); out.tag("JFIF"); out.write(0)
    out.write(1); out.write(1) // version 1.1
    out.write(0); be16(1); be16(1) // no units, 1:1 aspect
    out.write(0); out.write(0)     // no thumbnail
    // DQT: table 0 (luma); components 2,3 share table 1 (same values here)
    val nQtabs = if (components == 3) 2 else 1
    for (tq <- 0 until nQtabs) {
      marker(0xdb); be16(2 + 1 + 64); out.write(tq) // Pq=0 (8-bit), Tq
      for (k <- 0 until 64) out.write(qtab(jpegZigzag(k)))
    }
    marker(0xc0) // SOF0 baseline
    be16(8 + 3 * components); out.write(8); be16(h); be16(w); out.write(components)
    for (c <- 0 until components) {
      out.write(c + 1); out.write(0x11) // 1x1 sampling: 4:4:4
      out.write(if (c == 0) 0 else 1)
    }
    val tableSpecs =
      if (components == 3)
        Seq((0, 0, jpegDcLumSpec), (1, 0, jpegAcLumSpec),
          (0, 1, jpegDcChrSpec), (1, 1, jpegAcChrSpec))
      else Seq((0, 0, jpegDcLumSpec), (1, 0, jpegAcLumSpec))
    for ((cls, id, (bits, vals)) <- tableSpecs) {
      marker(0xc4); be16(2 + 1 + 16 + vals.length)
      out.write((cls << 4) | id)
      bits.foreach(out.write); vals.foreach(out.write)
    }
    if (restartInterval > 0) { marker(0xdd); be16(4); be16(restartInterval) }
    marker(0xda) // SOS
    be16(6 + 2 * components); out.write(components)
    for (c <- 0 until components) {
      out.write(c + 1)
      out.write(if (c == 0) 0x00 else 0x11) // DC/AC table ids
    }
    out.write(0); out.write(63); out.write(0) // Ss, Se, Ah/Al

    // entropy-coded segment: MSB-first bit packing with 0xFF00 stuffing
    var acc = 0L; var accBits = 0
    def putBits(code: Int, len: Int): Unit = {
      if (len > 0) {
        acc = (acc << len) | (code & ((1L << len) - 1)); accBits += len
        while (accBits >= 8) {
          val b = ((acc >>> (accBits - 8)) & 0xff).toInt
          out.write(b); if (b == 0xff) out.write(0x00)
          accBits -= 8
        }
      }
    }
    def flushBits(): Unit = if (accBits > 0) { // pad with 1s per spec
      val pad = 8 - accBits
      putBits((1 << pad) - 1, pad)
    }
    val dcCodes = Array(jpegHuffCodes(jpegDcLumSpec), jpegHuffCodes(jpegDcChrSpec))
    val acCodes = Array(jpegHuffCodes(jpegAcLumSpec), jpegHuffCodes(jpegAcChrSpec))
    // AC symbol -> index in HUFFVAL (codes array is HUFFVAL-ordered)
    val acSymIdx = Array(jpegAcLumSpec._2.zipWithIndex.toMap,
      jpegAcChrSpec._2.zipWithIndex.toMap)

    val cosT = Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
    def fdct(block: Array[Double]): Array[Double] = {
      val f = new Array[Double](64)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var s = 0.0
          var x = 0
          while (x < 8) {
            var y = 0
            while (y < 8) { s += block(y * 8 + x) * cosT(x)(u) * cosT(y)(v); y += 1 }
            x += 1
          }
          val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
          f(v * 8 + u) = 0.25 * cu * cv * s
          v += 1
        }
        u += 1
      }
      f
    }

    // RGB -> YCbCr planes (JFIF equations) for 3-component; identity for 1
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    def sample(plane: Int, x: Int, y: Int): Double = {
      val cx = math.min(x, w - 1); val cy = math.min(y, h - 1) // edge replicate
      if (components == 1) (pixels(cy * w + cx) & 0xff).toDouble
      else {
        val r = (pixels((cy * w + cx) * 3) & 0xff).toDouble
        val g = (pixels((cy * w + cx) * 3 + 1) & 0xff).toDouble
        val b = (pixels((cy * w + cx) * 3 + 2) & 0xff).toDouble
        plane match {
          case 0 => 0.299 * r + 0.587 * g + 0.114 * b
          case 1 => -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
          case _ => 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        }
      }
    }
    val dcPred = new Array[Int](components)
    var mcusSinceRestart = 0; var rstIdx = 0
    val block = new Array[Double](64)
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        if (restartInterval > 0 && mcusSinceRestart == restartInterval) {
          flushBits(); marker(0xd0 + (rstIdx & 7)); rstIdx += 1
          java.util.Arrays.fill(dcPred, 0); mcusSinceRestart = 0
        }
        var c = 0
        while (c < components) {
          var i = 0
          while (i < 64) {
            block(i) = sample(c, bx * 8 + i % 8, by * 8 + i / 8) - 128.0
            i += 1
          }
          val coef = fdct(block)
          val tid = if (c == 0) 0 else 1
          val zz = new Array[Int](64)
          var k = 0
          while (k < 64) {
            zz(k) = Math.round(coef(jpegZigzag(k)) / qtab(jpegZigzag(k))).toInt
            k += 1
          }
          val diff = zz(0) - dcPred(c); dcPred(c) = zz(0)
          val dcat = jpegCat(diff)
          val (dcode, dlen) = dcCodes(tid)(dcat)
          putBits(dcode, dlen)
          if (dcat > 0)
            putBits(if (diff < 0) diff + (1 << dcat) - 1 else diff, dcat)
          var run = 0; var kk = 1
          while (kk < 64) {
            if (zz(kk) == 0) run += 1
            else {
              while (run >= 16) { // ZRL
                val (zc, zl) = acCodes(tid)(acSymIdx(tid)(0xf0))
                putBits(zc, zl); run -= 16
              }
              val cat = jpegCat(zz(kk))
              require(cat <= 10,
                s"AC coefficient ${zz(kk)} exceeds the baseline Huffman range" +
                  " — use a coarser quant table")
              val (code, len) = acCodes(tid)(acSymIdx(tid)((run << 4) | cat))
              putBits(code, len)
              putBits(if (zz(kk) < 0) zz(kk) + (1 << cat) - 1 else zz(kk), cat)
              run = 0
            }
            kk += 1
          }
          if (run > 0) { // EOB
            val (ec, el) = acCodes(tid)(acSymIdx(tid)(0x00))
            putBits(ec, el)
          }
          c += 1
        }
        mcusSinceRestart += 1
        bx += 1
      }
      by += 1
    }
    flushBits()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** REAL baseline-JPEG decoder — not a stub and not a container walk:
    * full marker parse (SOI, APPn/COM skip, DQT, SOF0 with 4:4:4
    * validation, DHT, DRI, SOS, EOI), canonical Huffman decode rebuilt
    * from the DHT bytes (T.81 F.2.2.3 DECODE with mincode/maxcode/valptr),
    * 0xFF00 un-stuffing, restart-marker handling with DC-predictor reset,
    * DC prediction + EXTEND, AC run-length/ZRL/EOB, dequantization,
    * zig-zag inversion, exact 2-D IDCT (double), level shift + clamp,
    * YCbCr→RGB for 3-component scans, edge cropping for non-multiple-of-8
    * dims. Every malformed-input path fails a loud `require`.
    * Returns (w, h, components, pixel bytes interleaved).
    */
  private[graft] def parseJpeg(payload: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val in = new ByteReader(payload, "JPEG")
    import in.{u8, be16}
    require(payload.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8,
      "not a JPEG payload (missing SOI)")
    var pos = 2
    val qtabs = new Array[Array[Int]](4)
    // Huffman tables: (class 0=DC/1=AC)(id) -> (mincode, maxcode, valptr, vals)
    val huff = Array.ofDim[(Array[Int], Array[Int], Array[Int], Array[Int])](2, 4)
    var w = 0; var h = 0; var ncomp = 0
    var compQ: Array[Int] = null
    var restartInterval = 0
    var sofSeen = false

    def buildHuff(bits: Array[Int], vals: Array[Int]) = {
      val mincode = new Array[Int](17); val maxcode = new Array[Int](17)
      val valptr = new Array[Int](17)
      var code = 0; var k = 0; var len = 1
      while (len <= 16) {
        if (bits(len - 1) == 0) { mincode(len) = 0; maxcode(len) = -1 }
        else {
          valptr(len) = k
          mincode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxcode(len) = code - 1
        }
        code <<= 1; len += 1
      }
      require(k == vals.length, s"DHT: ${vals.length} values for $k codes")
      (mincode, maxcode, valptr, vals)
    }

    var scanComps: Array[(Int, Int, Int)] = null // (compIdx, dcTab, acTab)
    var entropyStart = -1
    while (entropyStart < 0) {
      require(u8(pos) == 0xff, f"expected marker at $pos, got 0x${u8(pos)}%02x")
      val m = u8(pos + 1); pos += 2
      m match {
        case 0xd8 => sys.error("unexpected second SOI")
        case 0xd9 => sys.error("EOI before any scan")
        case x if x >= 0xe0 && x <= 0xef => pos += be16(pos) // APPn
        case 0xfe => pos += be16(pos)                        // COM
        case 0xdb => // DQT — possibly several tables in one segment
          val end = pos + be16(pos); pos += 2
          while (pos < end) {
            val pq = u8(pos) >> 4; val tq = u8(pos) & 0x0f; pos += 1
            require(pq == 0, s"only 8-bit quant tables supported, got Pq=$pq")
            require(tq < 4, s"quant table id $tq")
            val t = new Array[Int](64)
            for (k <- 0 until 64) { t(jpegZigzag(k)) = u8(pos); pos += 1 }
            qtabs(tq) = t
          }
          require(pos == end, "DQT length mismatch")
        case 0xc4 => // DHT — possibly several tables in one segment
          val end = pos + be16(pos); pos += 2
          while (pos < end) {
            val tc = u8(pos) >> 4; val th = u8(pos) & 0x0f; pos += 1
            require(tc <= 1 && th < 4, s"DHT class/id $tc/$th")
            val bits = Array.tabulate(16)(i => u8(pos + i)); pos += 16
            val n = bits.sum
            require(n > 0 && n <= 256, s"DHT with $n values")
            val vals = Array.tabulate(n)(i => u8(pos + i)); pos += n
            huff(tc)(th) = buildHuff(bits, vals)
          }
          require(pos == end, "DHT length mismatch")
        case 0xc0 => // SOF0 baseline sequential
          val end = pos + be16(pos); pos += 2
          require(u8(pos) == 8, s"only 8-bit precision, got ${u8(pos)}")
          h = be16(pos + 1); w = be16(pos + 3); ncomp = u8(pos + 5)
          require(w > 0 && h > 0, s"malformed JPEG dims ${w}x$h")
          require(ncomp == 1 || ncomp == 3, s"$ncomp components unsupported")
          pos += 6
          compQ = new Array[Int](ncomp)
          for (c <- 0 until ncomp) {
            require(u8(pos) == c + 1, s"non-sequential component id ${u8(pos)}")
            require(u8(pos + 1) == 0x11,
              f"subsampled scan unsupported (sampling 0x${u8(pos + 1)}%02x)")
            require(u8(pos + 2) < 4, s"quant table id ${u8(pos + 2)}")
            compQ(c) = u8(pos + 2); pos += 3
          }
          require(pos == end, "SOF0 length mismatch")
          sofSeen = true
        case x if x == 0xc2 || (x >= 0xc1 && x <= 0xcf && x != 0xc4 && x != 0xc8 && x != 0xcc) =>
          sys.error(f"non-baseline SOF marker 0xff$x%02x unsupported")
        case 0xdd => // DRI
          require(be16(pos) == 4, "DRI length")
          restartInterval = be16(pos + 2); pos += 4
        case 0xda => // SOS
          require(sofSeen, "SOS before SOF0")
          val end = pos + be16(pos); pos += 2
          val ns = u8(pos); pos += 1
          require(ns == ncomp, s"partial scans unsupported ($ns of $ncomp)")
          scanComps = Array.tabulate(ns) { c =>
            require(u8(pos) == c + 1, "scan component order")
            val t = u8(pos + 1); pos += 2
            require((t >> 4) < 4 && (t & 0x0f) < 4, s"Huffman table id $t")
            (c, t >> 4, t & 0x0f)
          }
          require(u8(pos) == 0 && u8(pos + 1) == 63 && u8(pos + 2) == 0,
            "spectral selection must be 0..63 (sequential)")
          pos += 3
          require(pos == end, "SOS length mismatch")
          entropyStart = pos
        case other => sys.error(f"unsupported JPEG marker 0xff$other%02x")
      }
    }

    // entropy-coded segment reader: bit-by-bit, 0xFF00 un-stuffed, stops
    // (pads with 1s) at any real marker — restarts are consumed explicitly
    var bitPos = entropyStart
    var bitBuf = 0; var bitCnt = 0; var atMarker = false
    def readBit(): Int = {
      if (bitCnt == 0) {
        if (atMarker) return 1 // spec padding past segment end
        val b = u8(bitPos)
        if (b == 0xff) {
          if (u8(bitPos + 1) == 0x00) { bitPos += 2; bitBuf = 0xff; bitCnt = 8 }
          else { atMarker = true; return 1 }
        } else { bitPos += 1; bitBuf = b; bitCnt = 8 }
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def decodeHuff(tc: Int, th: Int): Int = {
      val t = huff(tc)(th)
      require(t != null, s"scan references undefined Huffman table $tc/$th")
      val (mincode, maxcode, valptr, vals) = t
      var code = readBit(); var len = 1
      while (len <= 16 && (maxcode(len) < 0 || code > maxcode(len))) {
        code = (code << 1) | readBit(); len += 1
      }
      require(len <= 16, "invalid Huffman code in entropy segment")
      vals(valptr(len) + code - mincode(len))
    }
    def receiveExtend(cat: Int): Int = {
      if (cat == 0) 0
      else {
        var v = 0
        var i = 0
        while (i < cat) { v = (v << 1) | readBit(); i += 1 }
        if (v < (1 << (cat - 1))) v - (1 << cat) + 1 else v
      }
    }

    val cosT = Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
    def idct(coef: Array[Int]): Array[Int] = {
      val out = new Array[Int](64)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
              val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
              s += cu * cv * coef(v * 8 + u) * cosT(x)(u) * cosT(y)(v)
              v += 1
            }
            u += 1
          }
          val px = Math.round(s / 4.0 + 128.0).toInt
          out(y * 8 + x) = math.max(0, math.min(255, px))
          x += 1
        }
        y += 1
      }
      out
    }

    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val planes = Array.fill(ncomp)(new Array[Int](w * h))
    val dcPred = new Array[Int](ncomp)
    val coef = new Array[Int](64)
    var mcusSinceRestart = 0; var rstExpect = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        if (restartInterval > 0 && mcusSinceRestart == restartInterval) {
          // byte-align, consume RSTn, reset predictors (T.81 F.2.1.3.1)
          bitCnt = 0; atMarker = false
          require(u8(bitPos) == 0xff && u8(bitPos + 1) == 0xd0 + (rstExpect & 7),
            f"expected RST${rstExpect & 7} at $bitPos, got " +
              f"0x${u8(bitPos)}%02x${u8(bitPos + 1)}%02x")
          bitPos += 2; rstExpect += 1
          java.util.Arrays.fill(dcPred, 0); mcusSinceRestart = 0
        }
        for ((c, dcT, acT) <- scanComps) {
          java.util.Arrays.fill(coef, 0)
          val dcat = decodeHuff(0, dcT)
          require(dcat <= 11, s"DC category $dcat out of range")
          dcPred(c) += receiveExtend(dcat)
          coef(0) = dcPred(c)
          var k = 1
          var eob = false
          while (k < 64 && !eob) {
            val rs = decodeHuff(1, acT)
            val run = rs >> 4; val cat = rs & 0x0f
            if (cat == 0) {
              if (run == 15) k += 16 // ZRL
              else eob = true        // EOB
            } else {
              k += run
              require(k < 64, s"AC coefficient index $k overruns the block")
              coef(jpegZigzag(k)) = receiveExtend(cat)
              k += 1
            }
          }
          val qt = qtabs(compQ(c))
          require(qt != null, s"scan references undefined quant table ${compQ(c)}")
          var i = 0
          while (i < 64) { coef(i) *= qt(i); i += 1 }
          val px = idct(coef)
          // crop into the plane (last row/col blocks may overhang)
          var yy = 0
          while (yy < 8) {
            val py = by * 8 + yy
            if (py < h) {
              var xx = 0
              while (xx < 8) {
                val pxx = bx * 8 + xx
                if (pxx < w) planes(c)(py * w + pxx) = px(yy * 8 + xx)
                xx += 1
              }
            }
            yy += 1
          }
        }
        mcusSinceRestart += 1
        bx += 1
      }
      by += 1
    }
    // byte-align and require EOI (skipping a trailing restart if emitted)
    bitCnt = 0
    require(u8(bitPos) == 0xff && u8(bitPos + 1) == 0xd9,
      f"missing EOI after scan (got 0x${u8(bitPos)}%02x${u8(bitPos + 1)}%02x)")
    require(bitPos + 2 == payload.length, "trailing bytes after JPEG EOI")

    val outPx = new Array[Byte](w * h * ncomp)
    if (ncomp == 1) {
      var i = 0
      while (i < w * h) { outPx(i) = planes(0)(i).toByte; i += 1 }
    } else {
      // JFIF YCbCr -> RGB, rounded and clamped
      var i = 0
      while (i < w * h) {
        val y = planes(0)(i).toDouble
        val cb = planes(1)(i) - 128.0
        val cr = planes(2)(i) - 128.0
        def cl(v: Double): Byte =
          math.max(0, math.min(255, Math.round(v).toInt)).toByte
        outPx(i * 3) = cl(y + 1.402 * cr)
        outPx(i * 3 + 1) = cl(y - 0.344136 * cb - 0.714136 * cr)
        outPx(i * 3 + 2) = cl(y + 1.772 * cb)
        i += 1
      }
    }
    (w, h, ncomp, outPx)
  }

  /** 8×8-block-constant grayscale raster: block i takes text byte
    * `(off + i) % len` — the one image class a lossy DCT codec with
    * all-ones quant tables reproduces bit-exactly (DC-only blocks,
    * integer coefficients), which keeps the closed-form text oracle
    * valid while the full entropy/transform pipeline really runs.
    * `off` shifts the cycle per video frame. */
  private[graft] def blockConstantGray(w: Int, h: Int, tb: Array[Byte],
                                       off: Int): Array[Byte] = {
    val bwn = w / 8; val bhn = h / 8
    val gray = new Array[Byte](w * h)
    var bi = 0
    while (bi < bwn * bhn) {
      val v = tb((off + bi) % tb.length)
      val x0 = (bi % bwn) * 8; val y0 = (bi / bwn) * 8
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) { gray((y0 + yy) * w + x0 + xx) = v; xx += 1 }
        yy += 1
      }
      bi += 1
    }
    gray
  }

  // ─────────────── MJPEG video in an AVI (RIFF) container ───────────────

  /** REAL AVI (RIFF) writer carrying an MJPEG video stream — each frame
    * is a standalone baseline JPEG ([[encodeJpeg]]), the classic
    * intra-only video codec (and the normal form security cameras and
    * browsers still emit). Container per the public AVI RIFF spec:
    * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
    * 00dc...) idx1)`, chunks word-aligned, `AVIF_HASINDEX` set and a
    * keyframe `idx1` written (every MJPEG frame is a keyframe). */
  private[graft] def encodeAvi(w: Int, h: Int, frames: Array[Array[Byte]],
                               usPerFrame: Int = 100000): Array[Byte] = {
    require(frames.nonEmpty, "AVI needs at least one frame")
    val out = new ByteWriter
    import out.{le16, le32, tag}
    val n = frames.length
    val maxFrame = frames.map(_.length).max
    val pad = frames.map(f => f.length & 1)
    val moviSize = 4 + frames.indices.map(i => 8 + frames(i).length + pad(i)).sum
    val idx1Size = 16 * n
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idx1Size)

    tag("RIFF"); le32(riffSize); tag("AVI ")
    tag("LIST"); le32(hdrlSize); tag("hdrl")
    tag("avih"); le32(56)
    le32(usPerFrame); le32(maxFrame * (1000000 / usPerFrame).max(1))
    le32(0) /* padding granularity */ ; le32(0x10) // AVIF_HASINDEX
    le32(n); le32(0) /* initial frames */ ; le32(1) /* streams */
    le32(maxFrame); le32(w); le32(h)
    le32(0); le32(0); le32(0); le32(0) // reserved
    tag("LIST"); le32(strlSize); tag("strl")
    tag("strh"); le32(56)
    tag("vids"); tag("MJPG")
    le32(0) /* flags */ ; le16(0) /* priority */ ; le16(0) /* language */
    le32(0) /* initial frames */
    le32(usPerFrame) /* scale */ ; le32(1000000) /* rate: fps = rate/scale */
    le32(0) /* start */ ; le32(n) /* length in frames */
    le32(maxFrame) /* suggested buffer */ ; le32(-1) /* default quality */
    le32(0) /* sample size: varies per frame */
    le16(0); le16(0); le16(w); le16(h) // rcFrame
    tag("strf"); le32(40) // BITMAPINFOHEADER
    le32(40); le32(w); le32(h); le16(1) /* planes */ ; le16(24)
    tag("MJPG") /* biCompression */ ; le32(w * h * 3)
    le32(0); le32(0); le32(0); le32(0)
    tag("LIST"); le32(moviSize); tag("movi")
    val chunkOffsets = new Array[Int](n) // relative to the 'movi' fourcc
    var off = 4
    frames.indices.foreach { i =>
      chunkOffsets(i) = off
      tag("00dc"); le32(frames(i).length); out.write(frames(i))
      if (pad(i) == 1) out.write(0)
      off += 8 + frames(i).length + pad(i)
    }
    tag("idx1"); le32(idx1Size)
    frames.indices.foreach { i =>
      tag("00dc"); le32(0x10) /* AVIIF_KEYFRAME */
      le32(chunkOffsets(i)); le32(frames(i).length)
    }
    out.toByteArray
  }

  /** REAL AVI container parse — not a stub: validates the RIFF magic and
    * EXACT declared size, walks the chunk tree with [[riffChunks]] (every
    * read bounds-checked, truncation fails loudly), requires one
    * `vids`/`MJPG` stream, reads the frame count + dimensions from
    * `avih`, collects every `00dc`/`00db` chunk of the `movi` list
    * (skipping `JUNK`/unknown chunks per the RIFF spec, honoring word
    * alignment), and cross-checks the collected frame count against the
    * header's. Returns (width, height, frames — each a standalone JPEG
    * payload for [[parseJpeg]]). */
  private[graft] def parseAvi(payload: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
    val in = new ByteReader(payload, "AVI")
    import in.{le32, tag}
    require(tag(0) == "RIFF", s"not a RIFF file: ${tag(0)}")
    val riffSize = le32(4)
    require(riffSize >= 4 && riffSize + 8 == payload.length,
      s"RIFF size $riffSize disagrees with payload ${payload.length}")
    require(tag(8) == "AVI ", s"RIFF form ${tag(8)} is not AVI")

    var width = -1; var height = -1; var declaredFrames = -1
    var streamOk = false
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()

    // one recursive-descent chunk walk over the header lists
    def walk(from: Int, until: Int): Unit = riffChunks(in, from, until) { (id, at, size) =>
      id match {
        case "LIST" =>
          tag(at) match {
            case "hdrl" | "strl" => walk(at + 4, at + size)
            case "movi" =>
              riffChunks(in, at + 4, at + size) { (cid, c, csz) =>
                if (cid == "00dc" || cid == "00db")
                  frames += java.util.Arrays.copyOfRange(payload, c, c + csz)
              } // skip rec LISTs/JUNK/other streams
            case _ => () // unknown list: skip
          }
        case "avih" =>
          require(size >= 40, s"avih segment too short: $size")
          declaredFrames = le32(at + 16)
          width = le32(at + 32)
          height = le32(at + 36)
        case "strh" =>
          require(size >= 8, s"strh segment too short: $size")
          if (tag(at) == "vids") {
            val handler = tag(at + 4)
            require(handler == "MJPG",
              s"unsupported video handler $handler (MJPEG only)")
            streamOk = true
          }
        case _ => () // JUNK / idx1 / unknown: skip (RIFF contract)
      }
    }
    walk(12, 8 + riffSize)
    require(streamOk, "no vids/MJPG stream header found")
    require(width > 0 && height > 0, s"bad AVI dimensions ${width}x$height")
    require(declaredFrames == frames.length,
      s"avih declares $declaredFrames frames, movi holds ${frames.length}")
    (width, height, frames.toArray)
  }

  /** STUB DECODE — deterministic fake in place of a real decode, scoped
    * to THIRD-PARTY BITSTREAMS only (licensed H.264/H.265 parsers this
    * container cannot ship); every codec class has a real implementation
    * in this file. Parses the
    * 8-byte header and computes a 16-bin byte histogram + mean byte over
    * the body, standing in for frame-level features. `mapPartitions`
    * processes a whole partition per call — the batch shape a vectorized
    * decoder needs (amortized model / codec init), and a narrow op: no
    * shuffle, partitioning preserved.
    */
  def decodeFeatures(media: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init would go here (codec handles, model weights, ...)
      rows.map { m =>
        val bb = java.nio.ByteBuffer.wrap(m.payload)
        val width = bb.getInt(0)
        val height = bb.getInt(4)
        val body = m.payload.drop(8)
        val hist = new Array[Long](16)
        var sum = 0L
        body.foreach { b =>
          val u = b & 0xff
          hist(u / 16) += 1
          sum += u
        }
        MediaFeatures(
          m.docId, width, height, m.payload.length.toLong,
          hist.toSeq,
          if (body.isEmpty) 0.0 else sum.toDouble / body.length)
      }
    }
  }

  /** Resize: a metadata-only transform (a real implementation would also
    * re-encode the payload) — demonstrates struct-column surgery without
    * breaking the schema contract. */
  def resizeMeta(media: DataFrame, factor: Int): DataFrame =
    media.withColumn("meta", struct(
      col("meta.format").as("format"),
      (col("meta.width") / factor).cast("int").as("width"),
      (col("meta.height") / factor).cast("int").as("height"),
      col("meta.nBytes").as("nBytes")))

  /** Frame sampling: split the payload body into fixed-size frames and keep
    * every `stride`-th — the video-ingest access pattern (decode only the
    * sampled frames downstream). One row per kept frame; narrow op.
    */
  def sampleFrames(media: Dataset[MediaFile], frameBytes: Int, stride: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val body = m.payload.drop(8)
      body.grouped(frameBytes).zipWithIndex.collect {
        case (frame, idx) if idx % stride == 0 => Frame(m.docId, idx, frame)
      }
    }
  }

  /** Driver-facing frame-sampling stats: every `stride`-th `frameBytes`
    * frame of each payload body, counted and byte-summed — the query form
    * of [[sampleFrames]] (the typed per-frame rows stay the API surface).
    * Narrow flatMap + one hash agg on doc_id.
    */
  def frameSampleStats(documents: DataFrame, frameBytes: Int = 256,
                       stride: Int = 4): DataFrame = {
    val media = asMediaDataset(mediaFromDocuments(documents))
    sampleFrames(media, frameBytes, stride)
      .groupBy(col("docId"))
      .agg(
        count(lit(1)).as("n_kept_frames"),
        sum(length(col("frame")).cast("long")).as("kept_bytes"))
      .select(col("docId").as("doc_id"), col("n_kept_frames"), col("kept_bytes"))
  }

  /** The media table as a typed Dataset (encoder boundary for the stages). */
  def asMediaDataset(media: DataFrame): Dataset[MediaFile] = {
    import media.sparkSession.implicits._
    media.as[MediaFile]
  }

  /** Feature table for the driver contract: decode-stub features in
    * DataFrame form (histogram kept as count; full array in the typed API).
    */
  def mediaFeatureStats(documents: DataFrame): DataFrame = {
    val media = asMediaDataset(mediaFromDocuments(documents))
    decodeFeatures(media).toDF()
      .select(
        col("docId").as("doc_id"),
        col("width"), col("height"),
        col("payloadBytes").as("payload_bytes"),
        graft.functions.DeterministicAgg.roundFixed(col("meanByte"), 4).as("mean_byte"))
  }

  // ───── MOTION-COMPENSATED inter-frame video (I/P frames, 4x4 integer
  // transform in its LOSSLESS configuration) ─────
  //
  // The coding tools are the real thing: full-search block motion
  // estimation against the RECONSTRUCTED previous frame, SKIP/INTER/INTRA
  // block modes, residual coding through the H.264-style 4x4 integer
  // transform C = [[1,1,1,1],[2,1,-1,-2],[1,-1,-1,1],[1,-2,2,-1]], zigzag
  // + (position, level) entropy coding with varints. The transform pair
  // is run in its LOSSLESS configuration: C's rows are orthogonal with
  // norms (4,10,4,10), so X = Cᵀ·(Y ⊙ 400/(nᵢ·nⱼ))·C / 400 reconstructs
  // the residual EXACTLY in integer arithmetic (the decoder `require`s
  // the division is exact — any drift is loud). Lossless reconstruction
  // is what keeps the closed-form text oracle valid for ARBITRARY frame
  // content while motion compensation really decides what gets coded
  // (exact-motion blocks collapse to 3-byte SKIPs; that is where the
  // compression comes from).
  //
  // Container-level scale story is the same as every codec here: the
  // payload is one opaque binary cell, decode is mapPartitions (narrow,
  // no shuffle), and only the sampled/projected frames pay decode cost.

  private val McTransform = Array(
    Array(1, 1, 1, 1), Array(2, 1, -1, -2),
    Array(1, -1, -1, 1), Array(1, -2, 2, -1))
  private val McNorms = Array(4, 10, 4, 10)
  private val McZigzag4 = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** Forward 4x4: Y = C·X·Cᵀ (integer-exact). */
  private def mcForward(x: Array[Int]): Array[Int] = {
    val t = new Array[Int](16); val y = new Array[Int](16)
    var i = 0
    while (i < 4) { // t = C·X
      var j = 0
      while (j < 4) {
        var s = 0; var k = 0
        while (k < 4) { s += McTransform(i)(k) * x(k * 4 + j); k += 1 }
        t(i * 4 + j) = s; j += 1
      }
      i += 1
    }
    i = 0
    while (i < 4) { // y = t·Cᵀ
      var j = 0
      while (j < 4) {
        var s = 0; var k = 0
        while (k < 4) { s += t(i * 4 + k) * McTransform(j)(k); k += 1 }
        y(i * 4 + j) = s; j += 1
      }
      i += 1
    }
    y
  }

  /** Inverse 4x4, integer-exact: X = Cᵀ·(Y ⊙ 400/(nᵢnⱼ))·C / 400, with a
    * loud `require` that the final division has zero remainder — in the
    * lossless configuration a nonzero remainder can only mean bitstream
    * corruption or an encoder bug, never rounding. */
  private def mcInverse(y: Array[Int]): Array[Int] = {
    val s = new Array[Int](16)
    var i = 0
    while (i < 16) {
      s(i) = y(i) * (400 / (McNorms(i / 4) * McNorms(i % 4))); i += 1
    }
    val t = new Array[Int](16); val w = new Array[Int](16)
    i = 0
    while (i < 4) { // t = Cᵀ·S
      var j = 0
      while (j < 4) {
        var acc = 0; var k = 0
        while (k < 4) { acc += McTransform(k)(i) * s(k * 4 + j); k += 1 }
        t(i * 4 + j) = acc; j += 1
      }
      i += 1
    }
    i = 0
    while (i < 4) { // w = t·C
      var j = 0
      while (j < 4) {
        var acc = 0; var k = 0
        while (k < 4) { acc += t(i * 4 + k) * McTransform(k)(j); k += 1 }
        require(acc % 400 == 0,
          s"inverse transform remainder ${acc % 400} — corrupt MC bitstream")
        w(i * 4 + j) = acc / 400; j += 1
      }
      i += 1
    }
    w
  }

  /** Encode grayscale frames into the GMC2 bitstream. Frame layout is a
    * GOP structure: frame fi is an I-frame (all-INTRA, no reference) when
    * fi == 0 or, with `gop > 0`, when fi % gop == 0; every other frame is
    * a P-frame whose blocks choose SKIP / INTER / INTRA per the best
    * full-search motion match (±8 px, clamped, first-best deterministic
    * order) against the reconstructed previous frame. The header carries
    * a PER-FRAME BYTE-LENGTH INDEX — what makes the sequential stream
    * seekable, so a sampled decode ([[decodeMcVideoSampled]]) byte-skips
    * whole GOPs it does not need. The encoder reconstructs every block
    * through the DECODER's inverse path and `require`s it equals the
    * source — the no-drift discipline the ADPCM codec established. */
  private[graft] def encodeMcVideo(w: Int, h: Int, frames: Array[Array[Byte]],
                                   gop: Int = 0): Array[Byte] = {
    require(frames.nonEmpty, "MC video needs at least one frame")
    require(w % 4 == 0 && h % 4 == 0, s"MC frame ${w}x$h not 4x4-aligned")
    require(gop >= 0, s"bad GOP size $gop")

    def residualBlock(cur: Array[Byte], bx: Int, by: Int,
                      pred: (Int, Int) => Int): Array[Int] = {
      val r = new Array[Int](16)
      var dy = 0
      while (dy < 4) {
        var dx = 0
        while (dx < 4) {
          r(dy * 4 + dx) = (cur((by + dy) * w + bx + dx) & 0xff) - pred(dx, dy)
          dx += 1
        }
        dy += 1
      }
      r
    }
    def writeCoeffs(out: ByteWriter, y: Array[Int]): Unit = {
      var nnz = 0
      var i = 0
      while (i < 16) { if (y(McZigzag4(i)) != 0) nnz += 1; i += 1 }
      out.varint(nnz)
      i = 0
      while (i < 16) {
        val v = y(McZigzag4(i))
        if (v != 0) { out.varint(i); out.svarint(v) }
        i += 1
      }
    }

    var ref: Array[Byte] = null // reconstructed previous frame
    val coded = frames.zipWithIndex.map { case (cur, fi) =>
      require(cur.length == w * h, s"frame $fi is ${cur.length} bytes, want ${w * h}")
      val isI = fi == 0 || (gop > 0 && fi % gop == 0)
      val fout = new ByteWriter
      val recon = new Array[Byte](w * h)
      fout.write(if (isI) 'I' else 'P')
      var by = 0
      while (by < h) {
        var bx = 0
        while (bx < w) {
          // motion search (P-frames): best SAD in ±8, deterministic order
          var bestSad = Int.MaxValue; var bestDx = 0; var bestDy = 0
          if (!isI) {
            var my = math.max(-8, -by)
            val myMax = math.min(8, h - 4 - by)
            while (my <= myMax && bestSad != 0) {
              var mx = math.max(-8, -bx)
              val mxMax = math.min(8, w - 4 - bx)
              while (mx <= mxMax && bestSad != 0) {
                var sad = 0
                var dy = 0
                while (dy < 4 && sad < bestSad) {
                  var dx = 0
                  while (dx < 4) {
                    sad += math.abs((cur((by + dy) * w + bx + dx) & 0xff) -
                      (ref((by + my + dy) * w + bx + mx + dx) & 0xff))
                    dx += 1
                  }
                  dy += 1
                }
                if (sad < bestSad) { bestSad = sad; bestDx = mx; bestDy = my }
                mx += 1
              }
              my += 1
            }
          }
          var intraSad = 0
          var i = 0
          while (i < 16) {
            intraSad += math.abs(
              (cur((by + i / 4) * w + bx + i % 4) & 0xff) - 128)
            i += 1
          }
          val (mode, pred: ((Int, Int) => Int)) =
            if (!isI && bestSad == 0) (0, (dx: Int, dy: Int) =>
              ref((by + bestDy + dy) * w + bx + bestDx + dx) & 0xff)
            else if (!isI && bestSad <= intraSad) (1, (dx: Int, dy: Int) =>
              ref((by + bestDy + dy) * w + bx + bestDx + dx) & 0xff)
            else (2, (_: Int, _: Int) => 128)
          if (!isI) fout.write(mode)
          if (mode != 2) { fout.svarint(bestDx); fout.svarint(bestDy) }
          val res = residualBlock(cur, bx, by, pred)
          if (mode != 0) writeCoeffs(fout, mcForward(res))
          // reconstruct through the decoder's path; must be drift-free
          val back = if (mode == 0) new Array[Int](16)
                     else mcInverse(mcForward(res))
          i = 0
          while (i < 16) {
            val v = pred(i % 4, i / 4) + back(i)
            require(v == (cur((by + i / 4) * w + bx + i % 4) & 0xff),
              s"encoder drift at frame $fi block ($bx,$by)")
            recon((by + i / 4) * w + bx + i % 4) = v.toByte
            i += 1
          }
          bx += 4
        }
        by += 4
      }
      ref = recon
      fout.toByteArray
    }

    val out = new ByteWriter
    out.tag("GMC2")
    out.varint(w); out.varint(h); out.varint(frames.length)
    out.varint(gop)
    coded.foreach(f => out.varint(f.length)) // the seek index
    coded.foreach(out.write)
    out.toByteArray
  }

  /** Shared GMC2 header walk: (w, h, nf, gop, per-frame byte lengths). */
  private def mcHeader(in: ByteReader): (Int, Int, Int, Int, Array[Int]) = {
    require(in.u8() == 'G' && in.u8() == 'M' && in.u8() == 'C' && in.u8() == '2',
      "bad MC video magic")
    val w = in.varint(); val h = in.varint(); val nf = in.varint()
    val gop = in.varint()
    require(w > 0 && h > 0 && w % 4 == 0 && h % 4 == 0,
      s"bad MC dimensions ${w}x$h")
    require(nf >= 1, "MC video with zero frames")
    require(gop >= 0, s"bad MC GOP $gop")
    val lens = Array.fill(nf)(in.varint())
    lens.foreach(l => require(l >= 1, "bad MC frame length"))
    (w, h, nf, gop, lens)
  }

  /** Decode ONE coded frame in place; returns the reconstruction and
    * bumps the caller's skip counter. `ref` is null iff the frame must
    * be an I-frame. */
  private def decodeMcFrame(in: ByteReader, w: Int, h: Int, expectI: Boolean,
                            ref: Array[Byte], addSkips: Long => Unit): Array[Byte] = {
    val ft = in.u8()
    require((expectI && ft == 'I') || (!expectI && ft == 'P'),
      s"frame type ${ft.toChar} where ${if (expectI) 'I' else 'P'} expected")
    val recon = new Array[Byte](w * h)
    var skips = 0L
    var by = 0
    while (by < h) {
      var bx = 0
      while (bx < w) {
        val mode = if (expectI) 2 else in.u8()
        require(mode >= 0 && mode <= 2, s"bad MC block mode $mode")
        val (mvx, mvy) =
          if (mode != 2) (in.svarint(), in.svarint()) else (0, 0)
        if (mode != 2) {
          require(by + mvy >= 0 && by + mvy + 4 <= h &&
            bx + mvx >= 0 && bx + mvx + 4 <= w,
            s"MC motion vector ($mvx,$mvy) out of frame at ($bx,$by)")
        }
        val back =
          if (mode == 0) { skips += 1; new Array[Int](16) }
          else {
            val y = new Array[Int](16)
            val nnz = in.varint()
            require(nnz <= 16, s"bad MC coefficient count $nnz")
            var j = 0
            var lastPos = -1
            while (j < nnz) {
              val p = in.varint()
              require(p > lastPos && p < 16, s"bad MC coefficient position $p")
              lastPos = p
              y(McZigzag4(p)) = in.svarint()
              j += 1
            }
            mcInverse(y)
          }
        var i = 0
        while (i < 16) {
          val pred =
            if (mode == 2) 128
            else ref((by + mvy + i / 4) * w + bx + mvx + i % 4) & 0xff
          val v = pred + back(i)
          require(v >= 0 && v <= 255,
            s"MC reconstruction $v out of pixel range — corrupt stream")
          recon((by + i / 4) * w + bx + i % 4) = v.toByte
          i += 1
        }
        bx += 4
      }
      by += 4
    }
    addSkips(skips)
    recon
  }

  /** Decode the full GMC2 bitstream: returns (w, h, skip-block count,
    * frames as reconstructed grayscale rasters). Every structural
    * violation (magic, truncation, bad mode, inexact inverse, frame
    * length drift, trailing bytes) fails loudly. */
  private[graft] def parseMcVideo(payload: Array[Byte]):
      (Int, Int, Long, Array[Array[Byte]]) = {
    val in = new ByteReader(payload, "MC bitstream")
    val (w, h, nf, gop, lens) = mcHeader(in)
    var skips = 0L
    var ref: Array[Byte] = null
    val frames = Array.tabulate(nf) { fi =>
      val isI = fi == 0 || (gop > 0 && fi % gop == 0)
      val start = in.pos
      val recon = decodeMcFrame(in, w, h, isI, ref, skips += _)
      require(in.pos - start == lens(fi),
        s"frame $fi consumed ${in.pos - start} bytes, index says ${lens(fi)}")
      ref = recon
      recon
    }
    require(in.pos == payload.length,
      s"${payload.length - in.pos} trailing bytes after the last MC frame")
    (w, h, skips, frames)
  }

  /** SPARSE decode: reconstruct only every `stride`-th frame, using the
    * GOP structure + the header's frame-length index to BYTE-SKIP every
    * GOP that contains no sampled frame and to stop each needed GOP at
    * its last sampled frame. This is the video-ingest access pattern the
    * MJPEG stride sampler can't have: with inter-frame coding a frame
    * needs its references, so the keyframe interval — not the stride —
    * decides the real decode cost. Returns (w, h, framesDecoded,
    * sampled (index, pixelSum) pairs). */
  private[graft] def decodeMcVideoSampled(payload: Array[Byte], stride: Int):
      (Int, Int, Int, Array[(Int, Long)]) = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val in = new ByteReader(payload, "MC bitstream")
    val (w, h, nf, gop, lens) = mcHeader(in)
    val gopLen = if (gop > 0) gop else nf
    var decoded = 0
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    var g = 0
    while (g * gopLen < nf) {
      val start = g * gopLen
      val end = math.min(start + gopLen, nf)
      // last sampled frame in this GOP, or -1
      var lastNeeded = -1
      var k = start
      while (k < end) { if (k % stride == 0) lastNeeded = k; k += 1 }
      if (lastNeeded < 0) {
        // no sample here: byte-skip the whole GOP through the index
        var i = start
        while (i < end) { in.skip(lens(i)); i += 1 }
      } else {
        var ref: Array[Byte] = null
        var fi = start
        while (fi <= lastNeeded) {
          val fs = in.pos
          ref = decodeMcFrame(in, w, h, fi == start, ref, _ => ())
          require(in.pos - fs == lens(fi),
            s"frame $fi consumed ${in.pos - fs} bytes, index says ${lens(fi)}")
          decoded += 1
          if (fi % stride == 0) {
            var s = 0L; var i = 0
            while (i < ref.length) { s += ref(i) & 0xff; i += 1 }
            out += ((fi, s))
          }
          fi += 1
        }
        while (fi < end) { in.skip(lens(fi)); fi += 1 }
      }
      g += 1
    }
    require(in.pos == payload.length,
      s"${payload.length - in.pos} trailing bytes after the last MC frame")
    (w, h, decoded, out.toArray)
  }

}
