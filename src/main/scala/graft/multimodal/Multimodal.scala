package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.security.MessageDigest

/** Multimodal column handling for training-data pipelines.
  *
  * Model: media is an opaque `binary` column plus a typed metadata struct
  * (format, width, height, …). Decode / feature-extract / resize /
  * frame-sample run as BATCHED partition-level transforms
  * (Dataset.mapPartitions) so a real decoder could amortize native-library
  * init per batch — the Scala twin of Python's mapInPandas shape.
  *
  * Decode is REAL for the formats the JDK ships readers for (PNG, JPEG,
  * GIF, BMP — `javax.imageio`, no external library): `decodeImage` parses
  * the actual header for format + true dimensions. Bytes no installed
  * reader recognizes (webp, audio, raw text) fall back to `decodeStub`,
  * which derives deterministic fake dimensions/features from a SHA-256 of
  * the bytes — keeping every path oracle-checkable.
  *
  * At scale: decode is a narrow map (no shuffle); binary columns ride
  * parquet; `spark.sql.files.maxPartitionBytes` bounds per-task memory, and
  * frame-sampled outputs explode row counts predictably (sampleFrames
  * controls the fan-out).
  */
object Multimodal extends Serializable {

  final case class MediaRow(media_id: Long, content: Array[Byte])
  final case class DecodedMeta(media_id: Long, format: String, width: Int,
                               height: Int, n_bytes: Long, checksum: String)
  final case class Frame(media_id: Long, frame_idx: Int, feature: Double)

  /** STUB decoder: the deterministic oracle twin for formats ImageIO has
    * no reader for. All fake fields derive from sha256(content). */
  def decodeStub(content: Array[Byte]): (String, Int, Int, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    val h = md.digest(content)
    val hex = h.map("%02x".format(_)).mkString
    val width = 64 + (((h(0) & 0xFF) << 8 | (h(1) & 0xFF)) % 1984) // 64..2047
    val height = 64 + (((h(2) & 0xFF) << 8 | (h(3) & 0xFF)) % 1984)
    val format = Seq("png", "jpeg", "webp")((h(4) & 0xFF) % 3)
    (format, width, height, hex)
  }

  /** REAL header decode via JDK `javax.imageio`: format name + true
    * dimensions, parsed from the actual bytes (header-only — getWidth on
    * the reader never decodes pixels). None when no installed reader
    * recognizes the content. Streams are memory-cached, never spilled to
    * executor-local disk. */
  def decodeImage(content: Array[Byte]): Option[(String, Int, Int)] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(content))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          Some((r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0)))
        } finally r.dispose()
      }
    } catch { case _: java.io.IOException => None }
    finally iis.close()
  }

  /** Real decode when a JDK reader exists, stub otherwise — one seam, so
    * every operator (meta, frames, resize) gets genuine PNG/JPEG
    * dimensions and a deterministic twin for everything else. */
  def decodeAny(content: Array[Byte]): (String, Int, Int, String) =
    decodeImage(content) match {
      case Some((fmt, w, h)) =>
        val hex = MessageDigest.getInstance("SHA-256").digest(content)
          .map("%02x".format(_)).mkString
        (fmt, w, h, hex)
      case None => decodeStub(content)
    }

  /** Batched decode: one codec init per partition, streaming batches. */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[DecodedMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init would go here for a native codec; ImageIO
      // readers are cheap to construct per record
      it.map { m =>
        val (fmt, w, h, sum) = decodeAny(m.content)
        DecodedMeta(m.media_id, fmt, w, h, m.content.length.toLong, sum)
      }
    }
  }

  /** Frame sampling (video-shaped fan-out): emit `n` frames per media row
    * with a deterministic per-frame feature. */
  def sampleFrames(media: Dataset[MediaRow], n: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val (_, w, h, _) = decodeAny(m.content)
      (0 until n).iterator.map { i =>
        Frame(m.media_id, i, (w.toLong * (i + 1) % h).toDouble / h)
      }
    }
  }

  final case class ResizePlan(media_id: Long, width: Int, height: Int,
                              out_w: Int, out_h: Int, scaled: Boolean)

  /** Thumbnail planning: fit each image inside maxSide × maxSide
    * preserving aspect ratio — integer arithmetic only (truncating
    * division on positive dims), so the plan is cross-engine exact. The
    * actual pixel resample would run in the same per-partition batched
    * decode as decodeMeta; the dimension arithmetic and fan-in/fan-out
    * plumbing here are the real pipeline pieces. */
  def resizePlan(media: Dataset[MediaRow], maxSide: Int)
      : Dataset[ResizePlan] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val (_, w, h, _) = decodeAny(m.content)
      if (w <= maxSide && h <= maxSide)
        ResizePlan(m.media_id, w, h, w, h, scaled = false)
      else if (w >= h)
        ResizePlan(m.media_id, w, h, maxSide,
          math.max(1, h * maxSide / w), scaled = true)
      else
        ResizePlan(m.media_id, w, h,
          math.max(1, w * maxSide / h), maxSide, scaled = true)
    }
  }

  final case class AudioSegment(media_id: Long, seg_idx: Int,
                                start_ms: Long, end_ms: Long, energy: Double)

  /** Audio-shaped windowed segmentation: stub-decode sample-rate/length
    * from the digest, then emit fixed windows with hop (the spectrogram
    * framing shape). Fan-out is lengthMs/hopMs per row — predictable,
    * narrow, no shuffle; a real decoder slots into the per-partition init
    * exactly like decodeMeta. */
  def segmentAudio(media: Dataset[MediaRow], windowMs: Long, hopMs: Long)
      : Dataset[AudioSegment] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val md = MessageDigest.getInstance("SHA-256")
      val h = md.digest(m.content)
      // stub: duration 1000..8999 ms from digest bytes 5-6
      val durMs = 1000L + (((h(5) & 0xFF) << 8 | (h(6) & 0xFF)) % 8000)
      val nSegs = ((durMs - windowMs) / hopMs + 1).max(1)
      (0L until nSegs).iterator.map { i =>
        val start = i * hopMs
        val end = math.min(start + windowMs, durMs)
        // stub energy: rational in the window bounds — cross-engine exact
        val energy = ((start + end) % 1000L).toDouble / 1000.0
        AudioSegment(m.media_id, i.toInt, start, end, energy)
      }
    }
  }

  /** Build a fake media table from documents (text bytes as the opaque
    * payload) — exercises the binary-column path end-to-end. No ImageIO
    * reader matches text bytes, so these rows take the stub twin. */
  def mediaFromDocuments(s: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import s.implicits._
    docs.select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaRow]
  }

  /** Encode one deterministic tiny RGB PNG — a REAL PNG byte stream via
    * ImageIO, with pixel values a pure function of (x, y, seed). */
  /** Thread-confined reusable PNG writer/reader — `ImageIO.write`/`read`
    * run a provider scan and build fresh writer/reader + stream objects
    * per call, which dominates tight fixture/decode loops (measured on
    * `multimodal_mjpeg`, same class of cost as the synchronized
    * AudioSystem registry on the audio side). Writer/reader instances
    * are NOT thread-safe → one per executor thread (bounded: the
    * local[32] pool). */
  object Iio {
    private val pngW =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
    private val pngR =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next())
    // GIF writer/reader reused the same way (multimodal_gif measured
    // ~21ms/doc with per-call provider scans + fresh writer/reader
    // objects — the dominant cost of the entry, same class as the PNG
    // and AudioSystem findings above).
    private val gifW =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())
    private val gifR =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())
    def gifWriter: javax.imageio.ImageWriter = gifW.get()
    def gifReader: javax.imageio.ImageReader = gifR.get()

    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      val w = pngW.get()
      w.setOutput(ios)
      w.write(img)
      ios.flush()
      bos.toByteArray
    }

    /** PNG signature → reused reader; anything else → the generic
      * detecting path (same acceptance behavior as `ImageIO.read`). */
    def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
      if (bytes.length > 8 && (bytes(0) & 0xFF) == 0x89 &&
        bytes(1) == 'P'.toByte) {
        val r = pngR.get()
        r.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)), true, true)
        r.read(0)
      } else
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  def tinyPng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var idx = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(idx) = ((x * 31 + y * 17 + seed) & 0xFFFFFF).toInt
        idx += 1
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w) // bulk write, not per-pixel sync
    Iio.encodePng(img)
  }

  // ------------------------------------------------------ animated GIF

  /** 256-level grayscale palette shared by the GIF fixture writer and
    * the oracle's closed-form replay: palette(i) = (i, i, i). Indexed
    * GIF encoding is LOSSLESS (LZW over palette indices), so a pixel
    * written as index i decodes to exactly gray i — what makes real
    * pixel decode oracle-checkable without shipping reference images. */
  private lazy val gray256: java.awt.image.IndexColorModel = {
    val v = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, v, v, v)
  }

  /** Encode one GENUINE multi-frame (animated) GIF via the JDK's ImageIO
    * GIF writer sequence API — the moving-picture twin of [[tinyPng]].
    * Frame f's pixel (x, y) is palette index
    * (x·7 + y·13 + f·31 + seed) mod 256. */
  def tinyGif(w: Int, h: Int, nFrames: Int, seed: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = Iio.gifWriter
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      val row = new Array[Byte](w)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, gray256)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            row(x) = ((x * 7 + y * 13 + f * 31 + seed) % 256).toByte
            x += 1
          }
          raster.setDataElements(0, y, w, 1, row)
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
      ios.flush()
    } catch {
      // the cached writer must never survive mid-sequence: reset()
      // clears its output/sequence state so the next call on this
      // thread starts clean (the stream alone is closed by finally)
      case t: Throwable =>
        try writer.reset()
        catch { case scala.util.control.NonFatal(r) => t.addSuppressed(r) }
        throw t
    } finally ios.close()
    bos.toByteArray
  }

  /** REAL animated-GIF frame decode via the JDK ImageIO GIF reader:
    * counts frames with getNumImages(allowSearch) and DECODES each
    * frame's pixels, returning (frame_idx, width, height, Σ gray-level)
    * per frame. None when the bytes are not a GIF any installed reader
    * accepts — callers fall back to the labeled stub, like
    * [[decodeImage]]. */
  def decodeGifFrames(content: Array[Byte])
      : Option[IndexedSeq[(Int, Int, Int, Long)]] = {
    // GIF signature → reused reader (the Iio.readImage convention);
    // anything else is exactly what the generic detecting path rejected
    // before: ImageIO's GIF reader sniffs on the same "GIF8" magic, so
    // acceptance behavior is unchanged while the per-call provider scan
    // and reader construction disappear from the hot loop.
    if (content.length < 6 || content(0) != 'G'.toByte ||
      content(1) != 'I'.toByte || content(2) != 'F'.toByte ||
      content(3) != '8'.toByte) return None
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(content))
    val r = Iio.gifReader
    // rejection must be TOTAL over corrupt GIF8-prefixed bytes: the JDK
    // GIF reader throws RuntimeExceptions (not just IOException) on
    // malformed LZW/descriptor data. Only the reader's calls are
    // guarded, so a bug in the ARGB sum below still fails the job.
    // reset() clears the cached reader's input state so the next call
    // on this thread starts clean.
    def reading[T](body: => T): Option[T] =
      try Some(body)
      catch { case scala.util.control.NonFatal(_) => r.reset(); None }
    // bulk ARGB fetch: one ColorModel conversion pass per frame instead
    // of a per-pixel getRGB call (same palette-faithful values — the
    // gray level is the blue channel either way)
    def graySum(i: Int, img: java.awt.image.BufferedImage) = {
      val w = img.getWidth
      val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var s = 0L
      var k = 0
      while (k < px.length) { s += (px(k) & 0xFF).toLong; k += 1 }
      (i, w, h, s)
    }
    try {
      reading { r.setInput(iis, false, false); r.getNumImages(true) }
        .flatMap { n =>
          val frames = (0 until n).iterator
            .map(i => reading(r.read(i)).map(graySum(i, _)))
            .takeWhile(_.isDefined).flatten.toVector
          if (frames.size == n) Some(frames) else None
        }
    } finally iis.close()
  }

  final case class H264Row(media_id: Long, width: Int, height: Int,
                           y_sum: Long, u_sum: Long, v_sum: Long)

  /** Real H.264 baseline I-SLICE decode: one genuine Annex-B stream
    * (SPS + PPS + IDR) per document, built by [[H264.encode]] and
    * decoded by [[H264.decode]] through the full intra pipeline —
    * exp-Golomb headers, CAVLC coefficients under nC neighbour
    * contexts, the luma-DC Hadamard + 8.5.10 scaling (both QP
    * branches, qp = id % 52), chroma-DC Hadamards, and the intra
    * predictors. Fixtures are constant-per-macroblock YUV wired as a
    * DC/H/V prediction CHAIN (first MB DC with no neighbours = 128,
    * first row H, later rows V) with per-MB DC-only levels, so the
    * lossy reconstruction is EXACT and the oracle replays it in closed
    * form as two window prefix sums over the MB grid, weighted by the
    * SPS frame-cropping pixel counts (width/height cycle off the MB
    * grid by id). AC paths, I_4x4, large CAVLC levels, and hostile
    * input are pinned by H264Spec's round-trip and fuzz properties. */
  def h264sFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[H264Row] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val mbW = 3 + (id % 4).toInt
          val mbH = 1 + (id % 2).toInt
          val qp = (id % 52).toInt
          val width = mbW * 16 - 2 * (id % 3).toInt
          val height = mbH * 16 - 2 * (id % 2).toInt
          val mbs = Array.tabulate(mbW * mbH) { k =>
            val i = k / mbW; val j = k % mbW
            val m = H264.MbSpec(mbType = 1,
              i16Mode =
                if (i == 0 && j == 0) H264.I16_DC
                else if (i == 0) H264.I16_H
                else H264.I16_V,
              chromaMode =
                if (i == 0 && j == 0) H264.CH_DC
                else if (i == 0) H264.CH_H
                else H264.CH_V)
            m.lumaDc(0) = ((id + 3 * i + 5 * j) % 5).toInt - 2
            m.cbDc(0) = ((id + i + 2 * j) % 5).toInt - 2
            m.crDc(0) = ((2 * id + 3 * i + j) % 5).toInt - 2
            m
          }
          val (stream, _) = H264.encode(width, height, mbs,
            H264.EncodeOpts(qp = qp))
          H264.decode(stream).iterator.map { f =>
            H264Row(id, f.width, f.height,
              f.y.foldLeft(0L)(_ + _), f.u.foldLeft(0L)(_ + _),
              f.v.foldLeft(0L)(_ + _))
          }
        }
      }
  }

  final case class H264FilteredRow(media_id: Long, width: Int, height: Int,
                                   y_sum: Long, y_ssq: Long, u_ssq: Long,
                                   v_ssq: Long)

  /** H.264 I-slice decode with the IN-LOOP DEBLOCKING FILTER active —
    * the filter itself behind the oracle gate, the
    * [[vp8FilteredFromDocuments]] construction: COLUMN-BAND constant
    * images on a SINGLE MB row (DC + H-pred chain, per-step deltas kept
    * in [0,2] so every internal edge and every second-order interaction
    * provably no-ops — see H264.scala's filter analysis), so only the
    * vertical MB-boundary edges fire: bS=4 with the strong 3-tap /
    * weak 1-tap split decided by the (α>>2)+2 rule per boundary, and
    * the chroma 2-tap. qp cycles 0..51 so threshold-masked edges
    * (α/β = 0 below 16), strong, and weak paths all land in the
    * oracle, which replays the per-column filter arithmetic in closed
    * form; sums of SQUARES gate the smoothing (plain sums barely move).
    * Normal-filter (bS<4) arithmetic is pinned by H264Spec's filtered
    * round-trip instead — constant bands cannot trigger it. */
  def h264FilteredFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[H264FilteredRow] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val mbW = 3 + (id % 4).toInt
          val qp = (id % 52).toInt
          val mbs = Array.tabulate(mbW) { j =>
            val m = H264.MbSpec(mbType = 1,
              i16Mode = if (j == 0) H264.I16_DC else H264.I16_H,
              chromaMode = if (j == 0) H264.CH_DC else H264.CH_H)
            m.lumaDc(0) = ((id + 5 * j) % 3).toInt
            m.cbDc(0) = ((id + j) % 2).toInt
            m.crDc(0) = ((id + 3 * j) % 2).toInt
            m
          }
          val (stream, _) = H264.encode(mbW * 16, 16, mbs,
            H264.EncodeOpts(qp = qp, deblock = true))
          H264.decode(stream).iterator.map { f =>
            H264FilteredRow(id, f.width, f.height,
              f.y.foldLeft(0L)(_ + _),
              f.y.foldLeft(0L)((a, v) => a + v.toLong * v),
              f.u.foldLeft(0L)((a, v) => a + v.toLong * v),
              f.v.foldLeft(0L)((a, v) => a + v.toLong * v))
          }
        }
      }
  }

  /** CABAC twin of [[h264sFromDocuments]] — the same exact-chain
    * construction pushed through the OTHER entropy mode (arithmetic
    * decision/bypass/terminate engine, significance maps, UEG0 levels)
    * with phase-shifted parameters so the two entries' outputs differ;
    * no crop (the CAVLC entry covers that path). */
  def h264CabacFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[H264Row] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val mbW = 2 + ((id + 1) % 4).toInt
          val mbH = 1 + ((id + 1) % 2).toInt
          val qp = ((id + 17) % 52).toInt
          val mbs = Array.tabulate(mbW * mbH) { k =>
            val i = k / mbW; val j = k % mbW
            val m = H264.MbSpec(mbType = 1,
              i16Mode =
                if (i == 0 && j == 0) H264.I16_DC
                else if (i == 0) H264.I16_H
                else H264.I16_V,
              chromaMode =
                if (i == 0 && j == 0) H264.CH_DC
                else if (i == 0) H264.CH_H
                else H264.CH_V)
            m.lumaDc(0) = ((id + 3 * i + 5 * j + 1) % 5).toInt - 2
            m.cbDc(0) = ((id + i + 2 * j + 2) % 5).toInt - 2
            m.crDc(0) = ((2 * id + 3 * i + j + 3) % 5).toInt - 2
            m
          }
          val (stream, _) = H264.encode(mbW * 16, mbH * 16, mbs,
            H264.EncodeOpts(qp = qp, cabac = true))
          H264.decode(stream).iterator.map { f =>
            H264Row(id, f.width, f.height,
              f.y.foldLeft(0L)(_ + _), f.u.foldLeft(0L)(_ + _),
              f.v.foldLeft(0L)(_ + _))
          }
        }
      }
  }

  final case class Vp8Row(media_id: Long, width: Int, height: Int,
                          y_sum: Long, u_sum: Long, v_sum: Long)

  /** Real VP8 (lossy WebP) KEYFRAME decode: one genuine VP8-in-RIFF file
    * per document, built by [[Vp8.encode]] and decoded by [[Vp8.decode]]
    * through the full keyframe pipeline — bool-coded header, mode
    * partition, DCT token partitions (1 or 2 by id), skip flags, Y2
    * inverse WHT feeding per-subblock inverse DCTs, and the intra
    * predictors. Fixtures are constant-per-macroblock YUV images wired
    * as a DC/H/V prediction CHAIN (first MB DC=128, first row H_PRED,
    * later rows V_PRED) with per-MB DC-only coefficient levels, so the
    * lossy reconstruction is EXACT and the oracle replays it in closed
    * form as two window prefix sums over the MB grid. AC paths,
    * negative/large tokens, TM_PRED, and cropping are exercised by
    * Vp8Spec's independent-reference round-trip. */
  def vp8sFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[Vp8Row] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val mbW = 2 + (id % 3).toInt
          val mbH = 2 + (id % 2).toInt
          val q = (id % 32).toInt
          val mbs = Array.tabulate(mbW * mbH) { k =>
            val i = k / mbW; val j = k % mbW
            val mode =
              if (i == 0 && j == 0) Vp8.DC_PRED
              else if (i == 0) Vp8.H_PRED
              else Vp8.V_PRED
            val m = Vp8.MbSpec(mode, mode)
            m.y2(0) = ((id + 3 * i + 5 * j) % 5).toInt - 2
            m.u.foreach(_(0) = ((id + i + 2 * j) % 5).toInt - 2)
            m.v.foreach(_(0) = ((2 * id + 3 * i + j) % 5).toInt - 2)
            m
          }
          val (payload, _) = Vp8.encode(mbW * 16, mbH * 16, mbs,
            Vp8.EncodeOpts(qIndex = q,
              tokenPartitions = if (id % 4 == 0) 2 else 1))
          val bytes = Vp8.container(payload)
          for {
            p <- Vp8.vp8Payload(bytes).iterator
            f <- Vp8.decode(p).iterator
          } yield Vp8Row(id, f.width, f.height,
            f.y.foldLeft(0L)(_ + _), f.u.foldLeft(0L)(_ + _),
            f.v.foldLeft(0L)(_ + _))
        }
      }
  }

  final case class Vp8FilteredRow(media_id: Long, width: Int, height: Int,
                                  y_sum: Long, y_ssq: Long, u_ssq: Long,
                                  v_ssq: Long)

  /** VP8 KEYFRAME decode with the IN-LOOP DEBLOCKING FILTER active —
    * the filter itself behind the oracle gate. Fixtures are COLUMN-BAND
    * constant images on a SINGLE MB row (a DC/H_PRED chain — see the
    * in-code note on why multiple rows break the closed form), so no
    * horizontal MB edge exists and every vertical MB edge adjusts whole
    * columns uniformly with zero corner interactions: the normal
    * filter's wide
    * 27/18/9-tap kernel touches cols 13-15|0-2 (5-7|0-2 chroma), the
    * simple filter (odd ids, luma-only) cols 15|0, each with
    * closed-form integer adjustments from the band delta. The plain sum
    * is INVARIANT under the symmetric wide kernel, so the gate is the
    * sum of SQUARES, which any smoothing changes; filter level and
    * sharpness cycle by id so masked-out edges, level-0 no-ops, and the
    * sharpness interior-limit derivation all land in the oracle.
    * hev-path edges (sharp-step neighborhoods) are pinned by Vp8Spec's
    * independent-reference round-trip instead — constants cannot
    * trigger hev. */
  def vp8FilteredFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[Vp8FilteredRow] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          // ONE MB row: the per-MB raster filter order interleaves
          // vertical and horizontal edges across MB rows (a lower MB's
          // top edge is filtered before its right neighbor's left
          // edge), so with multiple rows horizontal edges see
          // half-filtered columns and fire — the closed form stays
          // exact only when no horizontal MB edge exists
          val mbW = 3 + (id % 4).toInt
          val mbH = 1
          val q = (id % 32).toInt
          val mbs = Array.tabulate(mbW * mbH) { k =>
            val j = k % mbW
            val mode = if (j == 0) Vp8.DC_PRED else Vp8.H_PRED
            val m = Vp8.MbSpec(mode, mode)
            m.y2(0) = ((id + 5 * j) % 5).toInt - 2
            m.u.foreach(_(0) = ((id + 2 * j) % 5).toInt - 2)
            m.v.foreach(_(0) = ((2 * id + j) % 5).toInt - 2)
            m
          }
          val (payload, _) = Vp8.encode(mbW * 16, mbH * 16, mbs,
            Vp8.EncodeOpts(qIndex = q,
              filterLevel = ((id * 7) % 64).toInt,
              sharpness = (id % 8).toInt,
              simpleFilter = id % 2 == 1))
          val bytes = Vp8.container(payload)
          for {
            p <- Vp8.vp8Payload(bytes).iterator
            f <- Vp8.decode(p).iterator
          } yield Vp8FilteredRow(id, f.width, f.height,
            f.y.foldLeft(0L)(_ + _),
            f.y.foldLeft(0L)((a, v) => a + v.toLong * v),
            f.u.foldLeft(0L)((a, v) => a + v.toLong * v),
            f.v.foldLeft(0L)((a, v) => a + v.toLong * v))
        }
      }
  }

  final case class Vp8lRow(media_id: Long, width: Int, height: Int,
                           n_pix: Long, sum_green: Long, sum_red: Long,
                           sum_blue: Long)

  /** Real VP8L (lossless WebP) PIXEL decode: one genuine VP8L-in-RIFF
    * file per document — dims and per-pixel ARGB pure doc_id arithmetic,
    * bytes a real [[Vp8l.encode]] bitstream cycling the codec's FULL
    * feature envelope by doc_id: subtract-green, color cache, LZ77
    * last-row backref, and (by id mod 5) the predictor transform
    * (4-px blocks sweeping all 14 modes), the cross-color transform,
    * meta prefix-code partitioning, and color-indexing with packed
    * sub-byte indices (the palette variant constrains the pixel formula
    * to ≤16 colors — mirrored in the oracle) — decoded back by
    * [[Vp8l.decode]], per-channel sums over ACTUALLY DECODED pixels.
    * Rows that fail the real decode are dropped (DLQ); the oracle
    * replays the pixel formula in closed form, so a stub or any
    * entropy/transform-layer slip mismatches every row. */
  def vp8lsFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[Vp8lRow] = {
    import s.implicits._
    // codec work is pure CPU: split for cores, not file blocks (the
    // sf-dir documents file is a handful of splits)
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
      it.flatMap { id =>
        val w = 8 + (id % 9).toInt
        val h = 6 + (id % 5).toInt
        val m = (id % 5).toInt // major-transform variant
        val lz = m == 0 && id % 3 == 0
        val img = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          val ye = if (lz && y == h - 1) h - 2 else y
          var x = 0
          while (x < w) {
            val g = ((x * 3 + ye * 5 + id) % 16).toInt
            val r = if (m == 4) g % 8 else ((x + 2 * ye + id) % 8).toInt
            val b = if (m == 4) (2 * g) % 8
              else ((2 * x + ye + id) % 8).toInt
            img(y * w + x) = (0xFF << 24) | (r << 16) | (g << 8) | b
            x += 1
          }
          y += 1
        }
        val bytes = Vp8l.container(Vp8l.encode(img, w, h, Vp8l.EncodeOpts(
          subtractGreen = id % 2 == 0 && m != 4,
          cacheBits = if (id % 2 == 1) 4 else 0,
          lastRowLz77 = lz,
          predictorBits = if (m == 1) 2 else 0,
          crossColorBits = if (m == 2) 3 else 0,
          palette = m == 4,
          metaBits = if (m == 3) 3 else 0)))
        for {
          payload <- Vp8l.vp8lPayload(bytes).iterator
          (dw, dh, px) <- Vp8l.decode(payload).iterator
        } yield {
          var sg = 0L; var sr = 0L; var sb = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            sg += (p >>> 8) & 0xFF; sr += (p >>> 16) & 0xFF; sb += p & 0xFF
            i += 1
          }
          Vp8lRow(id, dw, dh, px.length.toLong, sg, sr, sb)
        }
      }
    }
  }

  /** Perceptual-hash image dedup (the LAION-style near-dup pass over
    * decoded image CONTENT, not bytes): dHash — the 8×8 grid of
    * horizontal gradient signs over a 9×8 grayscale — computed from
    * GENUINELY DECODED pixels of genuinely-encoded PNGs, then an exact
    * hash groupBy. Identical images (regardless of byte-level encoding
    * differences) collapse to one canonical row.
    *
    * Fixture: each doc gets a 9×8 gray PNG whose pixels are a quadratic
    * seed formula; docs divisible by 3 share their 21-block's base seed
    * (planted duplicate groups), everything else is unique. The oracle
    * replays formula → dHash → groups in closed form — a stubbed decode
    * or any gray/gradient slip mismatches every hash.
    *
    * Scale shape: decode + hash is one narrow pure-CPU mapPartitions
    * (core-split); the dedup itself shuffles only (8-byte hash, id) —
    * exactly the exact-dedup digest pattern, so it holds at any corpus
    * size. Gradient-sign bits are also the natural input to a banded
    * Hamming near-dup (the SimHash machinery) when byte-identical
    * grouping is too strict. */
  def imageDedup(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val hashes = graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val seed = if (id % 3 == 0) (id / 21) * 21 else id
          val bytes = grayPng(9, 8, seed)
          decodeGray(bytes).iterator.map(g => (id, dHash(g)))
        }
      }.toDF("doc_id", "phash")
    hashes.groupBy("phash")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("phash"))
  }

  /** Perceptual NEAR-dup pairs over decoded image content: dHash as in
    * [[imageDedup]], then banded Hamming search — the 64-bit hash
    * splits into four 16-bit bands; a pair differing in ≤3 bits leaves
    * ≥1 band intact (pigeonhole), so a band-equality self-join is
    * RECALL-COMPLETE for Hamming ≤ 3 and the exact bit_count verify
    * keeps output = every pair at Hamming ≤ 3 — the same
    * band-then-verify shape as dedup_simhash, over image CONTENT.
    *
    * Fixture: block bases as in imageDedup, plus docs at block offsets
    * 3 and 6 carry the base image with ONE perturbed pixel — a single
    * gray change flips at most its two adjacent gradient signs, so the
    * planted near-dups sit at Hamming ≤ 2 of their base (and ≤ 4 of
    * each other — sometimes over the threshold, exactly as the oracle
    * replays). */
  def imageNearDup(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val hashes = graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val bytes = nearDupPng(id)
          decodeGray(bytes).iterator.map(g => (id, dHash(g)))
        }
      }.toDF("doc_id", "phash")
      .localCheckpoint() // banded join + verify attach reuse it
    val bands = hashes.select(col("doc_id"), col("phash"),
      explode(expr("transform(sequence(0, 3), b -> struct(b AS band," +
        " shiftright(phash, b * 16) & 65535 AS chunk))")).as("bc"))
      .select(col("doc_id"), col("phash"),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    bands.select(col("doc_id").as("a"), col("phash").as("ha"),
        col("band"), col("chunk"))
      .join(bands.select(col("doc_id").as("b"), col("phash").as("hb"),
        col("band"), col("chunk")), Seq("band", "chunk"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(expr("ha ^ hb")).cast("int").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  /** The near-dup fixture image bytes for one doc: the block-base
    * [[grayAt]] image, with one pixel perturbed for block offsets 3
    * and 6. Genuine PNG encode, like [[grayPng]]. */
  def nearDupPng(id: Long): Array[Byte] = {
    val base = (id / 21) * 21
    val off = (id % 21).toInt
    val g = Array.tabulate(9 * 8)(i => grayAt(i % 9, i / 9, base))
    if (off == 3) g(2 * 9 + 4) = (g(2 * 9 + 4) + 96) % 256
    else if (off == 6) g(5 * 9 + 7) = (g(5 * 9 + 7) + 96) % 256
    else if (off != 0) {
      // unique image per non-planted doc
      var i = 0
      while (i < g.length) { g(i) = grayAt(i % 9, i / 9, id); i += 1 }
    }
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val v = g(y * 9 + x)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    Iio.encodePng(img)
  }

  /** dHash of a row-major 9×8 gray array: 8×8 horizontal gradient
    * signs, bit (y·8 + x) set iff gray(x+1, y) > gray(x, y). */
  def dHash(g: Array[Int]): Long = {
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Gray value of the image-dedup fixture at (x, y) for `seed` —
    * quadratic so gradient signs vary with the seed (a linear ramp
    * would give every image the same dHash). */
  def grayAt(x: Int, y: Int, seed: Long): Int =
    ((x * x * 3 + y * y * 5 + x * y + seed * (x + 2 * y + 1)) % 256).toInt

  /** Encode one genuine grayscale PNG of the [[grayAt]] formula. */
  def grayPng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = grayAt(x, y, seed)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    Iio.encodePng(img)
  }

  /** REAL pixel decode to a row-major gray array (blue channel of the
    * decoded RGB — fixtures are gray so channels agree); None when no
    * reader accepts the bytes. */
  def decodeGray(content: Array[Byte]): Option[Array[Int]] =
    try {
      val img = Iio.readImage(content)
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val out = new Array[Int](w * h)
        img.getRGB(0, 0, w, h, out, 0, w) // one bulk conversion pass
        var i = 0
        while (i < out.length) { out(i) = out(i) & 0xFF; i += 1 }
        Some(out)
      }
    } catch { case _: java.io.IOException => None }

  final case class GifFrame(media_id: Long, n_frames: Int, frame_idx: Int,
                            width: Int, height: Int, pix_sum: Long)

  /** Real-pixel fixture + decode: one genuine animated GIF per document
    * (dims and frame count pure doc_id arithmetic, pixels the
    * [[tinyGif]] formula), frame-decoded back by [[decodeGifFrames]].
    * Rows that fail the real decode are DROPPED (DLQ in a real
    * pipeline) — so a stubbed decode, a frame-count-only shortcut, or
    * any pixel slip mismatches the oracle's closed-form pixel sums.
    * Narrow batched mapPartitions, no shuffle. */
  def gifsFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[GifFrame] = {
    import s.implicits._
    // ImageIO encode+decode is pure CPU: split for cores
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
      it.flatMap { id =>
        val w = 16 + (id % 5).toInt
        val h = 12 + (id % 3).toInt
        val nF = 2 + (id % 4).toInt
        val bytes = tinyGif(w, h, nF, id)
        decodeGifFrames(bytes).iterator.flatMap { frames =>
          frames.iterator.map { case (i, fw, fh, sum) =>
            GifFrame(id, frames.length, i, fw, fh, sum)
          }
        }
      }
    }
  }

  // ---------------------------------------------------------------- audio

  /** JVM-wide direct javax.sound SPI access. `AudioSystem`'s static
    * entry points funnel every call through a synchronized provider
    * registry, which SERIALIZES 32 executor threads decoding small
    * files (measured on `multimodal_g711`: 138s of task time, 12s of
    * actual CPU — threads parked on the registry lock). The public SPI
    * (`ServiceLoader` over `javax.sound.sampled.spi.*`) yields the same
    * stateless provider instances once per JVM, after which reads /
    * writes / conversions are lock-free. */
  object AudioSpi {
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter, FormatConversionProvider}
    private lazy val readers: Array[AudioFileReader] = {
      val b = Array.newBuilder[AudioFileReader]
      java.util.ServiceLoader.load(classOf[AudioFileReader]).forEach(r => b += r)
      b.result()
    }
    private lazy val writers: Array[AudioFileWriter] = {
      val b = Array.newBuilder[AudioFileWriter]
      java.util.ServiceLoader.load(classOf[AudioFileWriter]).forEach(w => b += w)
      b.result()
    }
    private lazy val converters: Array[FormatConversionProvider] = {
      val b = Array.newBuilder[FormatConversionProvider]
      java.util.ServiceLoader.load(classOf[FormatConversionProvider])
        .forEach(c => b += c)
      b.result()
    }

    /** Per-thread MRU ordering over the readers. The registry order puts
      * `SoftMidiAudioFileReader` BEFORE `WaveFileReader`, and its probe
      * consults the synchronized MIDI provider registry on EVERY
      * rejection — a thread dump of the 1000×-tier g711 probe showed 31
      * of 32 executor threads parked in `MidiSystem.getProviders` via
      * exactly that path. Moving whichever reader last ACCEPTED to the
      * front makes a homogeneous decode stream consult the expensive
      * rejectors at most once per thread. */
    private val readerOrder =
      ThreadLocal.withInitial[Array[Int]](() => readers.indices.toArray)

    /** First reader accepting the bytes — what
      * `AudioSystem.getAudioInputStream` does, minus the locks. */
    def read(bytes: Array[Byte]): Option[javax.sound.sampled.AudioInputStream] = {
      val order = readerOrder.get()
      var i = 0
      while (i < order.length) {
        try {
          val ais = readers(order(i)).getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          if (i > 0) { // move the accepting reader to the front
            val hit = order(i)
            System.arraycopy(order, 0, order, 1, i)
            order(0) = hit
          }
          return Some(ais)
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          case _: java.io.IOException => ()
        }
        i += 1
      }
      None
    }

    def write(ais: javax.sound.sampled.AudioInputStream,
              tpe: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      var i = 0
      var done = false
      while (!done && i < writers.length) {
        if (writers(i).isFileTypeSupported(tpe, ais)) {
          writers(i).write(ais, tpe, bos)
          done = true
        }
        i += 1
      }
      require(done, s"no writer for $tpe")
      bos.toByteArray
    }

    def convert(target: javax.sound.sampled.AudioFormat,
                src: javax.sound.sampled.AudioInputStream)
        : Option[javax.sound.sampled.AudioInputStream] = {
      var i = 0
      while (i < converters.length) {
        if (converters(i).isConversionSupported(target, src.getFormat))
          return Some(converters(i).getAudioInputStream(target, src))
        i += 1
      }
      None
    }
  }

  /** Deterministic 16-bit PCM sample function — pure (frame, seed)
    * arithmetic over non-negative BIGINTs so DuckDB replays it exactly:
    * s(i) = ((i·2654435761 + seed·977) mod 65536) − 32768 ∈ [−32768, 32767]. */
  def pcmSample(i: Long, seed: Long): Int =
    (((i * 2654435761L + seed * 977L) % 65536L) - 32768L).toInt

  /** Encode one GENUINE RIFF/WAVE file (16-bit signed PCM, mono,
    * little-endian) via JDK `javax.sound.sampled.AudioSystem` — the audio
    * twin of [[tinyPng]]. Samples are [[pcmSample]](i, seed). */
  def tinyWav(nFrames: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v = pcmSample(i.toLong, seed)
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    AudioSpi.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE)
  }

  final case class WavDecoded(sampleRate: Int, channels: Int, bits: Int,
                              nFrames: Long, samples: Array[Int])

  /** REAL audio decode via JDK `javax.sound.sampled` (WAV/AIFF/AU — the
    * formats the JDK ships parsers for; no external library): parses the
    * actual RIFF header for format + frame count and reads the PCM frames
    * back to Int samples (16-bit signed LE mono is what our fixtures
    * write; anything else a reader accepts still decodes, we just
    * reassemble 16-bit LE). None when no installed reader recognizes the
    * bytes — the caller falls back to the labeled stub, exactly like
    * [[decodeImage]]. */
  def decodeWav(content: Array[Byte]): Option[WavDecoded] =
    try {
      val ais = AudioSpi.read(content).getOrElse(return None)
      try {
        val f = ais.getFormat
        val bytes = ais.readAllBytes()
        val samples = new Array[Int](bytes.length / 2)
        // honor the container's byte order: WAV PCM is little-endian,
        // AIFF is big-endian — the reader hands back raw frame bytes
        val big = f.isBigEndian
        var i = 0
        while (i < samples.length) {
          samples(i) =
            if (big) (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xFF)
            else (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF)
          i += 1
        }
        Some(WavDecoded(f.getSampleRate.toInt, f.getChannels,
          f.getSampleSizeInBits, ais.getFrameLength, samples))
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Real-audio fixture: one tiny WAV per document — frame count a pure
    * doc_id arithmetic (1600 + id mod 1600 frames at 8 kHz), bytes a
    * genuine AudioSystem WAVE encode of [[pcmSample]](i, doc_id). The
    * DuckDB oracle PREDICTS rate/frames/energy from the arithmetic while
    * the Spark side must genuinely parse the RIFF header and PCM frames
    * to report them. Narrow mapPartitions, no shuffle. */
  def wavsFromDocuments(s: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import s.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        MediaRow(id, tinyWav(1600 + (id % 1600).toInt, 8000, id))
      }
    }
  }

  /** Encode the same 16-bit PCM as a GENUINE AIFF (big-endian) via the
    * JDK — byte-level completely different from [[tinyWav]]'s RIFF
    * little-endian layout, same decoded samples. */
  def tinyAiff(nFrames: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v = pcmSample(i.toLong, seed)
      pcm(2 * i) = ((v >> 8) & 0xFF).toByte // big-endian
      pcm(2 * i + 1) = (v & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    AudioSpi.write(ais, javax.sound.sampled.AudioFileFormat.Type.AIFF)
  }

  /** Audio CONTENT dedup across container formats: planted duplicate
    * blocks carry the same PCM, alternately encoded as RIFF/WAVE
    * (little-endian) and AIFF (big-endian) — byte-level dedup finds
    * nothing, content dedup must really decode both containers (and get
    * the endianness right) to group them. Content key = exact integer
    * moments of the DECODED samples (Σ|s| and the position-weighted
    * Σ s·(i+1)) plus the frame count — oracle-replayable from the
    * sample formula in closed form. Decode is one core-split pure-CPU
    * mapPartitions; the dedup shuffles (nf, k1, k2, id) only. */
  def audioDedup(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val base = if (id % 3 == 0) (id / 21) * 21 else id
          val nf = 1600 + (base % 1600).toInt
          val bytes =
            if (id % 2 == 1) tinyAiff(nf, 8000, base)
            else tinyWav(nf, 8000, base)
          decodeWav(bytes).iterator
            .filter(w => w.nFrames <= w.samples.length)
            .map { w =>
              var k1 = 0L; var k2 = 0L
              var i = 0
              while (i < w.nFrames.toInt) {
                val v = w.samples(i).toLong
                k1 += math.abs(v)
                k2 += v * (i + 1)
                i += 1
              }
              (id, w.nFrames, k1, k2)
            }
        }
      }.toDF("doc_id", "nf", "k1", "k2")
      .groupBy("nf", "k1", "k2")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"),
        col("nf").cast("long").as("n_frames"), col("k1").as("energy"))
  }

  final case class WavSegment(media_id: Long, sample_rate: Int,
                              n_frames: Long, duration_ms: Long, seg_idx: Int,
                              start_frame: Long, end_frame: Long, energy: Long)

  /** Windowed energy over GENUINELY DECODED samples (the spectrogram
    * framing pass, but with real PCM underneath instead of the stub):
    * fixed windows of `windowFrames` with `hopFrames` hop; energy is the
    * integer Σ|s(i)| over the window — exact, so the oracle replays it
    * from the sample formula. Rows whose bytes no audio reader accepts
    * are dropped (a real pipeline routes them to a DLQ; the fixture
    * generator never produces them). Also dropped: truncated media whose
    * header-declared frame count exceeds the PCM data actually read
    * (would index past the sample array), and media shorter than one
    * window (the oracle's generate_series emits zero windows there). */
  def segmentWav(media: Dataset[MediaRow], windowFrames: Int,
                 hopFrames: Int): Dataset[WavSegment] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      decodeWav(m.content).iterator
        .filter(w => w.nFrames >= windowFrames &&
          w.nFrames <= w.samples.length)
        .flatMap { w =>
        val nSegs = ((w.nFrames - windowFrames) / hopFrames) + 1
        (0L until nSegs).iterator.map { seg =>
          val start = seg * hopFrames
          val end = math.min(start + windowFrames, w.nFrames)
          var e = 0L
          var i = start
          while (i < end) { e += math.abs(w.samples(i.toInt).toLong); i += 1 }
          WavSegment(m.media_id, w.sampleRate, w.nFrames,
            w.nFrames * 1000L / w.sampleRate, seg.toInt, start, end, e)
        }
      }
    }
  }

  // --------------------------------------------------------------- G.711

  /** Deterministic 8-bit companded code stream — pure (frame, seed)
    * arithmetic so DuckDB replays it: c(i) = (i·31 + seed·7) mod 256.
    * Walks all 256 codes, so every expand-table entry is exercised. */
  def g711Code(i: Long, seed: Long): Int =
    ((i * 31L + seed * 7L) % 256L).toInt

  /** Encode one GENUINE G.711 WAVE file (μ-law or A-law companded 8-bit
    * mono — wFormatTag 7/6, the telephony compression WAV has carried
    * since the format existed) via JDK `javax.sound.sampled`. Unlike
    * [[tinyWav]]'s linear PCM this is genuinely COMPRESSED audio: 8 bits
    * per sample logarithmically companded from a 14-bit dynamic range. */
  def tinyG711(nFrames: Int, sampleRate: Int, seed: Long,
               aLaw: Boolean): Array[Byte] = {
    val codes = new Array[Byte](nFrames)
    var i = 0
    while (i < nFrames) { codes(i) = g711Code(i.toLong, seed).toByte; i += 1 }
    val enc =
      if (aLaw) javax.sound.sampled.AudioFormat.Encoding.ALAW
      else javax.sound.sampled.AudioFormat.Encoding.ULAW
    val fmt = new javax.sound.sampled.AudioFormat(
      enc, sampleRate.toFloat, 8, 1, 1, sampleRate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(codes), fmt, nFrames.toLong)
    AudioSpi.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE)
  }

  final case class G711Decoded(law: String, sampleRate: Int,
                               samples: Array[Int])

  /** REAL G.711 decompression via the JDK codec chain: parse the WAVE
    * header (which declares the companded format), then run the actual
    * μ-law/A-law expander (`AudioSystem` format conversion) back to
    * linear 16-bit PCM. The expansion is the classic closed form —
    * μ-law: u = ~c, mag = ((8·mant + 0x84) << exp) − 0x84;
    * A-law: u = c ⊕ 0x55, mag = exp==0 ? 16·mant + 8
    * : (16·mant + 0x108) << (exp−1) — verified bit-exact against the
    * JDK for all 256 codes of both laws (G711Spec), which is what lets
    * the DuckDB oracle replay the decode in closed form. None when the
    * bytes are not a companded audio file. */
  def decodeG711(content: Array[Byte]): Option[G711Decoded] =
    try {
      val src = AudioSpi.read(content).getOrElse(return None)
      try {
        val e = src.getFormat.getEncoding
        val law =
          if (e == javax.sound.sampled.AudioFormat.Encoding.ULAW) "ulaw"
          else if (e == javax.sound.sampled.AudioFormat.Encoding.ALAW) "alaw"
          else return None
        val rate = src.getFormat.getSampleRate
        val pcmFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          rate, 16, 1, 2, rate, false)
        val dec = AudioSpi.convert(pcmFmt, src).getOrElse(return None)
        try {
          val bytes = dec.readAllBytes()
          val samples = new Array[Int](bytes.length / 2)
          var i = 0
          while (i < samples.length) {
            samples(i) = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF)
            i += 1
          }
          Some(G711Decoded(law, rate.toInt, samples))
        } finally dec.close()
      } finally src.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: IllegalArgumentException => None // no conversion chain
      case _: java.io.IOException => None
    }

  final case class G711Row(media_id: Long, law: String, sample_rate: Int,
                           n_frames: Long, sum_abs: Long, sum_pos: Long)

  /** Compressed-audio fixture + REAL decompression: one genuine G.711
    * WAVE per document (law alternating by doc parity, frame count and
    * codes pure doc_id arithmetic), decoded by the actual JDK expander.
    * Content features are exact integer moments of the EXPANDED linear
    * samples (Σ|s| and position-weighted Σ s·(i+1)) — the oracle replays
    * code→linear expansion in closed form, so a stub, a codec skip, or a
    * wrong-law expand mismatches every row. Narrow mapPartitions, no
    * shuffle. */
  def g711FromDocuments(s: SparkSession, docs: DataFrame): Dataset[G711Row] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
      it.flatMap { id =>
        val nf = 800 + (id % 800).toInt
        val bytes = tinyG711(nf, 8000, id, aLaw = id % 2 == 1)
        decodeG711(bytes).iterator
          .filter(g => g.samples.length == nf)
          .map { g =>
            var sa = 0L; var sp = 0L
            var i = 0
            while (i < g.samples.length) {
              val v = g.samples(i).toLong
              sa += math.abs(v)
              sp += v * (i + 1)
              i += 1
            }
            G711Row(id, g.law, g.sampleRate, nf.toLong, sa, sp)
          }
      }
    }
  }

  // ---------------------------------------------------------------- video

  /** ADTS sampling-frequency table (index 0..12) — pinned per the
    * codec-table policy; the universally published 13-entry list. */
  private val adtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** Encode one GENUINE ADTS (AAC transport) stream: per frame the
    * 56-bit header — 0xFFF syncword, MPEG-4 ID, layer 00,
    * protection_absent, 2-bit profile, 4-bit sampling_frequency_index,
    * 3-bit channel_configuration, the 13-bit aac_frame_length COUNTING
    * THE HEADER, 0x7FF buffer fullness (the VBR marker), 0 extra raw
    * data blocks — followed by the payload bytes. The essence is
    * opaque (AAC spectral decode stays out of scope — see README); the
    * TRANSPORT layer here is real and parsed back by [[parseAdts]]. */
  def buildAdts(profile: Int, sfi: Int, channels: Int,
                payloads: Seq[Array[Byte]]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    for (p <- payloads) {
      val frameLen = 7 + p.length
      require(frameLen < (1 << 13))
      out += 0xFF.toByte
      out += 0xF1.toByte // 1111 0 00 1: MPEG-4, layer 00, no CRC
      out += (((profile & 3) << 6) | ((sfi & 15) << 2) |
        ((channels >> 2) & 1)).toByte
      out += (((channels & 3) << 6) | ((frameLen >> 11) & 3)).toByte
      out += ((frameLen >> 3) & 0xFF).toByte
      out += (((frameLen & 7) << 5) | 0x1F).toByte // fullness hi = 11111
      out += 0xFC.toByte // fullness lo ×6 = 111111, 0 extra blocks
      out ++= p
    }
    out.toArray
  }

  final case class AdtsMeta(nFrames: Int, profile: Int, sampleRate: Int,
                            channels: Int, payloadBytes: Long)

  /** Walk a genuine ADTS stream frame by frame: syncword + header
    * validation (layer 00, sampling index in range, frame length ≥
    * header), None on any structural break — truncation, bad sync, a
    * frame overrunning the buffer. Returns meta plus each frame's
    * payload bytes (the raw_data_block an AAC decoder consumes). */
  def parseAdtsFrames(bytes: Array[Byte])
      : Option[(AdtsMeta, Array[Array[Byte]])] = {
    var pos = 0
    var n = 0
    var payload = 0L
    var profile = -1; var sfi = -1; var chan = -1
    val frames = Array.newBuilder[Array[Byte]]
    while (pos < bytes.length) {
      if (pos + 7 > bytes.length) return None // truncated header
      val b0 = bytes(pos) & 0xFF; val b1 = bytes(pos + 1) & 0xFF
      if (b0 != 0xFF || (b1 & 0xF0) != 0xF0) return None // bad sync
      if (((b1 >> 1) & 3) != 0) return None // layer must be 00
      val protAbsent = b1 & 1
      val b2 = bytes(pos + 2) & 0xFF
      val fProfile = (b2 >> 6) & 3
      val fSfi = (b2 >> 2) & 15
      if (fSfi >= adtsRates.length) return None
      val b3 = bytes(pos + 3) & 0xFF
      val fChan = (((b2 & 1) << 2) | (b3 >> 6)) & 7
      val frameLen = ((b3 & 3) << 11) | ((bytes(pos + 4) & 0xFF) << 3) |
        ((bytes(pos + 5) & 0xFF) >> 5)
      val hdrLen = if (protAbsent == 1) 7 else 9
      if (frameLen < hdrLen || pos + frameLen > bytes.length) return None
      if (n == 0) { profile = fProfile; sfi = fSfi; chan = fChan }
      else if (fProfile != profile || fSfi != sfi || fChan != chan)
        return None // mid-stream parameter change: treat as corrupt
      frames += java.util.Arrays.copyOfRange(bytes, pos + hdrLen,
        pos + frameLen)
      payload += frameLen - hdrLen
      pos += frameLen
      n += 1
    }
    if (n == 0) None
    else Some((AdtsMeta(n, profile, adtsRates(sfi), chan, payload),
      frames.result()))
  }

  def parseAdts(bytes: Array[Byte]): Option[AdtsMeta] =
    parseAdtsFrames(bytes).map(_._1)

  final case class AacRow(media_id: Long, n_frames: Int, n_bands: Long,
                          sf_sum: Long, coeff_abs_sum: Long,
                          n_nonzero: Long)

  /** AAC-LC spectral-layer decode inside genuine ADTS transport: each
    * document gets 1–2 raw_data_blocks whose per-band codebooks cycle
    * all twelve (zero bands, the four quad books, the six pair books,
    * and codebook 11 WITH escape-range magnitudes), values pure doc_id
    * arithmetic inside each book's LAV — encoded by [[Aac.encodeFrame]],
    * shipped via [[buildAdts]], demuxed by [[parseAdtsFrames]], and
    * decoded back to exact integer coefficients by [[Aac.decodeFrame]].
    * The layer is lossless over integers, so the oracle replays every
    * coefficient in closed form; a mis-walked section, a dropped sign
    * bit, or a bungled escape mismatches the sums. */
  def aacsFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[AacRow] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val nFrames = 1 + (id % 2).toInt
          val maxSfb = 6 + (id % 6).toInt
          val payloads = (0 until nFrames).map { f =>
            val cbs = Array.tabulate(maxSfb)(k => ((id + 3 * f + k) % 12).toInt)
            val sfs = Array.tabulate(maxSfb) { k =>
              if (cbs(k) == 0) 0
              else 100 + ((id + 5 * f + 7 * k) % 21).toInt - 10
            }
            val total = Aac.bandOffset(maxSfb)
            val coeffs = new Array[Int](total)
            var k = 0
            while (k < maxSfb) {
              val cb = cbs(k)
              if (cb != 0) {
                val lavs = Array(0, 1, 1, 2, 2, 4, 4, 7, 7, 12, 12, 16)
                val base = Aac.bandOffset(k)
                val w = Aac.swbWidth(k)
                var p = 0
                while (p < w) {
                  coeffs(base + p) =
                    if (cb == 11) ((id + f + k + p) % 41).toInt - 20
                    else {
                      val l = lavs(cb)
                      ((id + f + k + p) % (2 * l + 1)).toInt - l
                    }
                  p += 1
                }
              }
              k += 1
            }
            val bw = new H264.BitWriter
            Aac.encodeFrame(bw, 100 + (id % 50).toInt, maxSfb, cbs, sfs,
              coeffs)
            bw.bytes()
          }
          val file = buildAdts(1, (id % 12).toInt, 1, payloads)
          for {
            (_, frames) <- parseAdtsFrames(file).iterator
            decoded = frames.flatMap(Aac.decodeFrame)
            if decoded.length == nFrames
          } yield {
            var bands = 0L; var sfSum = 0L; var absSum = 0L; var nz = 0L
            decoded.foreach { fr =>
              var k = 0
              while (k < fr.maxSfb) {
                if (fr.codebooks(k) != 0) {
                  bands += 1
                  sfSum += fr.scaleFactors(k)
                }
                k += 1
              }
              fr.coeffs.foreach { v =>
                absSum += math.abs(v)
                if (v != 0) nz += 1
              }
            }
            AacRow(id, decoded.length, bands, sfSum, absSum, nz)
          }
        }
      }
  }

  final case class AdtsRow(media_id: Long, n_frames: Int, profile: Int,
                           sample_rate: Int, channels: Int,
                           payload_bytes: Long, duration_ms: Long)

  /** Genuine ADTS streams per document — frame counts, profile,
    * sampling index, channels, and per-frame payload sizes all pure
    * doc_id arithmetic — walked back by [[parseAdts]]; duration is the
    * AAC frame clock (1024 samples/frame). The oracle predicts every
    * field in closed form, so a parser slipping a header bit or
    * miscounting a frame boundary mismatches. */
  def adtssFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[AdtsRow] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val nFrames = 1 + (id % 7).toInt
          val profile = (id % 3).toInt
          val sfi = (id % 12).toInt
          val channels = 1 + (id % 2).toInt
          val payloads = (0 until nFrames).map { f =>
            Array.fill(20 + ((id + 13 * f) % 50).toInt)(
              ((id + f) & 0xFF).toByte)
          }
          val bytes = buildAdts(profile, sfi, channels, payloads)
          parseAdts(bytes).iterator.map { m =>
            AdtsRow(id, m.nFrames, m.profile, m.sampleRate, m.channels,
              m.payloadBytes,
              m.nFrames.toLong * 1024L * 1000L / m.sampleRate)
          }
        }
      }
  }

  /** Encode one GENUINE ISO BMFF (MP4) header: ftyp + moov{mvhd} + free
    * boxes with correct sizes — the container-metadata twin of
    * [[tinyPng]]/[[tinyWav]]. `v1` selects the 64-bit mvhd variant
    * (version 1) a modern muxer writes for long media. */
  def tinyMp4(timescale: Int, duration: Long, v1: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def fourcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    // ftyp: major isom, minor 0x200, compatible [isom, iso2]
    out.writeInt(24); fourcc("ftyp"); fourcc("isom"); out.writeInt(0x200)
    fourcc("isom"); fourcc("iso2")
    // moov { mvhd }
    // version+flags(4) + times+timescale+duration (28 v1 / 16 v0) +
    // rate(4) + volume(2) + reserved(10) + matrix(36) + pre_defined(24) +
    // next_track_ID(4) — the spec's 100/112-byte mvhd payloads
    val mvhdPayload = if (v1) 112 else 100
    out.writeInt(8 + 8 + mvhdPayload); fourcc("moov")
    out.writeInt(8 + mvhdPayload); fourcc("mvhd")
    out.writeByte(if (v1) 1 else 0); out.writeByte(0); out.writeShort(0)
    if (v1) {
      out.writeLong(0L); out.writeLong(0L) // creation/modification
      out.writeInt(timescale); out.writeLong(duration)
    } else {
      out.writeInt(0); out.writeInt(0)
      out.writeInt(timescale); out.writeInt(duration.toInt)
    }
    out.writeInt(0x00010000) // rate 1.0
    out.writeShort(0x0100) // volume 1.0
    out.writeShort(0); out.writeInt(0); out.writeInt(0) // reserved
    // unity matrix
    Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(out.writeInt)
    (0 until 6).foreach(_ => out.writeInt(0)) // pre_defined
    out.writeInt(2) // next_track_ID
    // trailing free box (parsers must skip unknown/irrelevant boxes)
    out.writeInt(16); fourcc("free"); out.writeLong(0L)
    out.flush()
    bos.toByteArray
  }

  final case class Mp4Meta(brand: String, timescale: Long, duration: Long,
                           mvhdVersion: Int)

  /** REAL ISO BMFF box walk (pure-JVM byte parsing — the MP4 analog of a
    * header-only ImageIO read): iterates top-level boxes by declared
    * size, records the ftyp major brand, descends into moov, and reads
    * timescale/duration from mvhd handling BOTH the 32-bit (version 0)
    * and 64-bit (version 1) layouts, plus the two other legal size
    * encodings: size==1 (64-bit largesize follows the fourcc — how real
    * muxers write big mdat) and size==0 (box extends to end of file,
    * legal only for the last top-level box). Skips boxes it does not
    * know — required for real files. None when the structure is not
    * BMFF. */
  def parseMp4(content: Array[Byte]): Option[Mp4Meta] = {
    val bb = java.nio.ByteBuffer.wrap(content)
    def typeAt(p: Int): String =
      new String(content, p, 4, "US-ASCII")
    // resolved (payload-inclusive size, header length); None = malformed
    def boxSize(p: Int, limit: Int): Option[Long] = {
      val s32 = bb.getInt(p).toLong & 0xFFFFFFFFL
      val sz =
        if (s32 == 1L) { // 64-bit largesize after the fourcc
          if (p + 16 > limit) return None
          val s64 = bb.getLong(p + 8)
          if (s64 < 16L) return None else s64
        } else if (s32 == 0L) (limit - p).toLong // to end of enclosure
        else s32
      if (sz < 8L || p + sz > limit) None else Some(sz)
    }
    // payload offset within a box: 16 when largesize is present, else 8
    def hdrLen(p: Int): Int =
      if ((bb.getInt(p).toLong & 0xFFFFFFFFL) == 1L) 16 else 8
    try {
      var pos = 0
      var brand: Option[String] = None
      var meta: Option[(Long, Long, Int)] = None
      while (pos + 8 <= content.length) {
        val size = boxSize(pos, content.length).getOrElse(return None)
        typeAt(pos + 4) match {
          case "ftyp" => brand = Some(typeAt(pos + hdrLen(pos)))
          case "moov" =>
            var cp = pos + hdrLen(pos)
            val end = pos + size.toInt
            while (cp + 8 <= end) {
              val cs = boxSize(cp, end).getOrElse(return None)
              if (typeAt(cp + 4) == "mvhd") {
                val b = cp + hdrLen(cp) // payload base
                val version = content(b) & 0xFF
                if (version == 1)
                  meta = Some((bb.getInt(b + 20).toLong & 0xFFFFFFFFL,
                    bb.getLong(b + 24), 1))
                else
                  meta = Some((bb.getInt(b + 12).toLong & 0xFFFFFFFFL,
                    bb.getInt(b + 16).toLong & 0xFFFFFFFFL, 0))
              }
              cp += cs.toInt
            }
          case _ => ()
        }
        pos += size.toInt
      }
      for (b <- brand; (ts, dur, v) <- meta) yield Mp4Meta(b, ts, dur, v)
    } catch { case _: IndexOutOfBoundsException => None }
  }

  final case class Mp4Row(media_id: Long, brand: String, mvhd_version: Int,
                          timescale: Long, duration: Long, duration_ms: Long)

  /** Real-container fixture + decode: one genuine MP4 header per document
    * (timescale/duration pure doc_id arithmetic, alternating mvhd v0/v1),
    * box-walked back by [[parseMp4]]. Oracle predicts every field from
    * the arithmetic; a stub or broken walker mismatches every row. */
  def mp4sFromDocuments(s: SparkSession, docs: DataFrame): Dataset[Mp4Row] = {
    import s.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val ts = 500L + id % 1000L
        val dur = 10000L + (id * 13L) % 90000L
        val bytes = tinyMp4(ts.toInt, dur, v1 = id % 3 == 0)
        val m = parseMp4(bytes).getOrElse(
          throw new IllegalStateException(s"BMFF walk failed for $id"))
        Mp4Row(id, m.brand, m.mvhdVersion, m.timescale, m.duration,
          m.duration * 1000L / m.timescale)
      }
    }
  }

  // ------------------------------------------------------------- FLAC

  /** Deterministic sawtooth PCM — pure (frame, seed) arithmetic the
    * oracle replays: s(i) = ((i·331 + seed·7919) mod 4096) − 2048.
    * Mostly-linear runs make the fixed/LPC predictors genuinely
    * compress (residual ≈ 0 away from wrap points), so the Rice coder
    * is exercised on realistic residual distributions. */
  def flacSample(i: Long, seed: Long): Int =
    (((i * 331L + seed * 7919L) % 4096L) - 2048L).toInt

  final case class FlacRow(media_id: Long, n_samples: Long,
                           n_flac_frames: Int, mode: String, sum_abs: Long,
                           sum_pos: Long)

  /** Compressed-audio fixture + REAL entropy decode: one genuine FLAC
    * stream per document ([[Flac]] — Rice-coded prediction residuals,
    * CRC-8/CRC-16 verified frames, STREAMINFO MD5 verified on decode),
    * block size 256 so every file spans multiple frames, predictor
    * path alternating FIXED / LPC by doc parity. Features are exact
    * integer moments of the DECODED samples — the oracle replays
    * [[flacSample]] in closed form, and the in-decoder MD5 check means
    * a single residual slip anywhere kills the row rather than
    * shifting a sum. Narrow mapPartitions, no shuffle. */
  def flacsFromDocuments(s: SparkSession, docs: DataFrame): Dataset[FlacRow] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val nf = 600 + (id % 900).toInt
          val samples = Array.tabulate(nf)(i => flacSample(i.toLong, id))
          val useLpc = id % 2 == 1
          val bytes = Flac.encode(samples, blockSize = 256, useLpc = useLpc)
          Flac.decode(bytes).iterator
            .filter(d => d.md5Ok && d.nSamples == nf.toLong)
            .map { d =>
              var sa = 0L; var sp = 0L
              var i = 0
              while (i < d.samples.length) {
                val v = d.samples(i).toLong
                sa += math.abs(v)
                sp += v * (i + 1)
                i += 1
              }
              FlacRow(id, d.nSamples, d.nFrames,
                if (useLpc) "lpc" else "fixed", sa, sp)
            }
        }
      }
  }

  // -------------------------------------------------------- MJPEG in MP4

  /** Size-prefixed ISO BMFF box from payload parts. */
  private def bmffBox(tpe: String, parts: Array[Byte]*): Array[Byte] = {
    val payload = parts.iterator.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(8 + payload)
    bb.putInt(8 + payload)
    bb.put(tpe.getBytes("US-ASCII"))
    parts.foreach(bb.put)
    bb.array()
  }

  /** Reusable JPEG codec pair — `ImageIO.write`/`read` do a registry
    * scan and build fresh writer/reader + stream objects per call,
    * which dominates a tight fixture/decode loop; a demuxer amortizes
    * codec init per batch (the mapPartitions design this file's header
    * describes). NOT thread-safe: one per partition iterator. */
  final class JpegCodec {
    private val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    private val reader =
      javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    // (w,h) → reusable gray image; the fixture dimension space is tiny
    // (17×11 combos) and a fresh BufferedImage per frame was 43% task
    // GC at the 1000× tier
    private val imgCache =
      new java.util.HashMap[Long, java.awt.image.BufferedImage]()

    private def grayImage(w: Int, h: Int): java.awt.image.BufferedImage = {
      val key = (w.toLong << 32) | h.toLong
      var img = imgCache.get(key)
      if (img == null) {
        img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        imgCache.put(key, img)
      }
      img
    }

    def encodeGray(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = grayImage(w, h)
      java.util.Arrays.fill(
        img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData,
        gray.toByte)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(img)
      ios.flush()
      bos.toByteArray
    }

    // separate (w,h) → destination cache for decode (never shared with
    // the encode image: a partial decode must not corrupt a fixture)
    private val destCache =
      new java.util.HashMap[Long, java.awt.image.BufferedImage]()

    /** Decode + per-pixel gray sum in one pass over the raster buffer.
      * Reuses a destination image per (w,h) when the stream is the
      * grayscale layout our fixtures carry; falls back to a fresh
      * allocation for anything else. */
    def decodeSum(bytes: Array[Byte]): (Int, Int, Long) = {
      reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)), true, true)
      val img = {
        val w = reader.getWidth(0); val h = reader.getHeight(0)
        val key = (w.toLong << 32) | h.toLong
        var dest = destCache.get(key)
        try {
          if (dest == null || dest.getType !=
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
            dest = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          }
          val p = reader.getDefaultReadParam
          p.setDestination(dest)
          val out = reader.read(0, p)
          destCache.put(key, dest)
          out
        } catch {
          case _: javax.imageio.IIOException =>
            // non-gray stream rejected the destination: restart clean
            reader.setInput(
              new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes)), true, true)
            reader.read(0)
        }
      }
      var sum = 0L
      img.getRaster.getDataBuffer match {
        case db: java.awt.image.DataBufferByte
            if img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY =>
          val data = db.getData
          var i = 0
          while (i < data.length) { sum += data(i) & 0xFF; i += 1 }
        case _ =>
          val r = img.getRaster
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += r.getSample(x, y, 0); x += 1 }
            y += 1
          }
      }
      (img.getWidth, img.getHeight, sum)
    }
  }

  /** One REAL solid-gray JPEG via ImageIO — lossy-codec frames whose
    * decode is nonetheless exact: a constant image is DC-only in every
    * MCU, which survives JFIF quantization bit-exact for all 256 gray
    * values at arbitrary (non-8-aligned) dimensions (pinned by
    * MjpegSpec's 256-value round-trip). */
  def jpegGray(w: Int, h: Int, gray: Int): Array[Byte] =
    new JpegCodec().encodeGray(w, h, gray)

  /** Mux REAL JPEG frames into a GENUINE ISO BMFF file — the MJPEG/MP4
    * layout: ftyp + mdat (concatenated frame bytes) + moov{mvhd,
    * trak{tkhd, mdia{mdhd, hdlr, minf{vmhd, dinf{dref{url}},
    * stbl{stsd('jpeg' VideoSampleEntry), stts, stsc, stsz, stco}}}}}.
    * Frames are chunked in PAIRS (last chunk may hold one), so stco has
    * multiple entries and stsc needs a real first-chunk run walk — a
    * parser that assumes one chunk or uniform sizes desyncs. */
  def tinyMjpeg(w: Int, h: Int, grays: Array[Int],
                codec: JpegCodec = new JpegCodec(),
                chunkSize: Int = 2): Array[Byte] =
    muxMp4Video(w, h, grays.map(g => codec.encodeGray(w, h, g)),
      "jpeg", Array.emptyByteArray, chunkSize)

  /** Generic single-video-track MP4 muxer (the [[tinyMjpeg]] layout,
    * sample-entry fourcc and extension boxes parameterized — 'avc1'
    * appends an avcC configuration record via `entryExt`). */
  def muxMp4Video(w: Int, h: Int, frames: Array[Array[Byte]],
                  fourcc: String, entryExt: Array[Byte],
                  chunkSize: Int = 2): Array[Byte] = {
    val n = frames.length
    def u32(vs: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(bb.putInt)
      bb.array()
    }
    val ftyp = bmffBox("ftyp", "isom".getBytes("US-ASCII"), u32(0x200),
      "isom".getBytes("US-ASCII"), "iso2".getBytes("US-ASCII"))
    val mdat = bmffBox("mdat", frames.toIndexedSeq: _*)
    val mdatBase = ftyp.length + 8
    // chunks of `chunkSize` frames (+ a short trailing chunk)
    val chunkStarts = 0.until(n, chunkSize).toArray
    val stcoOffsets = chunkStarts.map { s =>
      mdatBase + frames.iterator.take(s).map(_.length).sum
    }
    val stscEntries =
      if (n % chunkSize == 0) Array((1, chunkSize))
      else Array((1, chunkSize), (chunkStarts.length, n % chunkSize))
    val duration = n * 3000 // 30 fps at timescale 90000
    val mvhd = bmffBox("mvhd", u32(0, 0, 0, 90000, duration, 0x00010000),
      Array[Byte](0x01, 0x00, 0, 0), u32(0, 0),
      u32(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000),
      u32(0, 0, 0, 0, 0, 0, 2))
    val tkhd = bmffBox("tkhd", u32(0x07, 0, 0, 1, 0, duration, 0, 0),
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 0),
      u32(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000),
      u32(w << 16, h << 16))
    val mdhd = bmffBox("mdhd", u32(0, 0, 0, 90000, duration),
      Array[Byte](0x55, 0xC4.toByte, 0, 0))
    val hdlr = bmffBox("hdlr", u32(0), "vide".getBytes("US-ASCII"),
      u32(0, 0, 0), Array[Byte](0))
    val vmhd = bmffBox("vmhd", u32(1), Array[Byte](0, 0, 0, 0, 0, 0, 0, 0))
    val dinf = bmffBox("dinf",
      bmffBox("dref", u32(0, 1), bmffBox("url ", u32(1))))
    // VideoSampleEntry: 78-byte body after the 8-byte entry header,
    // then codec-specific extension boxes (avcC for 'avc1')
    val entry = {
      val bb = java.nio.ByteBuffer.allocate(86 + entryExt.length)
      bb.putInt(86 + entryExt.length); bb.put(fourcc.getBytes("US-ASCII"))
      bb.put(new Array[Byte](6)); bb.putShort(1) // reserved + dref index
      bb.put(new Array[Byte](16)) // pre_defined / reserved
      bb.putShort(w.toShort); bb.putShort(h.toShort)
      bb.putInt(0x00480000); bb.putInt(0x00480000) // 72 dpi
      bb.putInt(0); bb.putShort(1) // reserved, frame_count
      bb.put(new Array[Byte](32)) // compressorname
      bb.putShort(24); bb.putShort(-1) // depth, pre_defined
      bb.put(entryExt)
      bb.array()
    }
    val stsd = bmffBox("stsd", u32(0, 1), entry)
    val stts = bmffBox("stts", u32(0, 1, n, 3000))
    val stsc = bmffBox("stsc",
      u32(0, stscEntries.length),
      u32(stscEntries.flatMap(e => Seq(e._1, e._2, 1)).toIndexedSeq: _*))
    val stsz = bmffBox("stsz", u32(0, 0, n),
      u32(frames.map(_.length).toIndexedSeq: _*))
    val stco = bmffBox("stco", u32(0, stcoOffsets.length),
      u32(stcoOffsets.toIndexedSeq: _*))
    val stbl = bmffBox("stbl", stsd, stts, stsc, stsz, stco)
    val minf = bmffBox("minf", vmhd, dinf, stbl)
    val mdia = bmffBox("mdia", mdhd, hdlr, minf)
    val trak = bmffBox("trak", tkhd, mdia)
    val moov = bmffBox("moov", mvhd, trak)
    ftyp ++ mdat ++ moov
  }

  /** AVCDecoderConfigurationRecord in an 'avcC' box — what an 'avc1'
    * sample entry carries: version, profile/compat/level echoed from
    * the SPS, lengthSizeMinusOne=3 (4-byte sample NAL lengths), and the
    * parameter-set NAL units themselves. */
  def buildAvcc(spsNal: Array[Byte], ppsNal: Array[Byte]): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
    b += 1 // configurationVersion
    b += spsNal(1); b += spsNal(2); b += spsNal(3) // profile/compat/level
    b += 0xFF.toByte // reserved ++ lengthSizeMinusOne = 3
    b += 0xE1.toByte // reserved ++ numOfSequenceParameterSets = 1
    b += ((spsNal.length >> 8) & 0xFF).toByte
    b += (spsNal.length & 0xFF).toByte
    b ++= spsNal
    b += 1 // numOfPictureParameterSets
    b += ((ppsNal.length >> 8) & 0xFF).toByte
    b += (ppsNal.length & 0xFF).toByte
    b ++= ppsNal
    bmffBox("avcC", b.toArray)
  }

  /** Locate and parse the avcC box inside a sample-entry extension:
    * (SPS NAL, PPS NAL). None on structural breaks or a length size
    * other than 4. */
  def parseAvcc(ext: Array[Byte]): Option[(Array[Byte], Array[Byte])] = {
    var p = 0
    while (p + 8 <= ext.length) {
      val sz = ((ext(p) & 0xFF) << 24) | ((ext(p + 1) & 0xFF) << 16) |
        ((ext(p + 2) & 0xFF) << 8) | (ext(p + 3) & 0xFF)
      if (sz < 8 || p + sz > ext.length) return None
      val tpe = new String(ext, p + 4, 4, "US-ASCII")
      if (tpe == "avcC") {
        val b = p + 8
        if (b + 8 > p + sz) return None
        if ((ext(b + 4) & 3) != 3) return None // need 4-byte lengths
        if ((ext(b + 5) & 0x1F) != 1) return None // exactly one SPS
        val l1 = ((ext(b + 6) & 0xFF) << 8) | (ext(b + 7) & 0xFF)
        val spsEnd = b + 8 + l1
        if (spsEnd + 3 > p + sz) return None
        val sps = java.util.Arrays.copyOfRange(ext, b + 8, spsEnd)
        if ((ext(spsEnd) & 0xFF) != 1) return None // exactly one PPS
        val l2 = ((ext(spsEnd + 1) & 0xFF) << 8) | (ext(spsEnd + 2) & 0xFF)
        if (spsEnd + 3 + l2 > p + sz) return None
        val pps = java.util.Arrays.copyOfRange(ext, spsEnd + 3,
          spsEnd + 3 + l2)
        return Some((sps, pps))
      }
      p += sz
    }
    None
  }

  /** AVCC sample (4-byte length-prefixed NALs) + parameter sets →
    * Annex-B for [[H264.decode]] — the conversion every MP4 video
    * ingest performs. None if a NAL overruns its sample. */
  def avccSampleToAnnexB(sps: Array[Byte], pps: Array[Byte],
                         sample: Array[Byte]): Option[Array[Byte]] = {
    val sc = Array[Byte](0, 0, 0, 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    out ++= sc; out ++= sps
    out ++= sc; out ++= pps
    var p = 0
    while (p < sample.length) {
      if (p + 4 > sample.length) return None
      val len = ((sample(p) & 0xFF) << 24) | ((sample(p + 1) & 0xFF) << 16) |
        ((sample(p + 2) & 0xFF) << 8) | (sample(p + 3) & 0xFF)
      if (len <= 0 || p + 4 + len > sample.length) return None
      out ++= sc
      out ++= java.util.Arrays.copyOfRange(sample, p + 4, p + 4 + len)
      p += 4 + len
    }
    Some(out.toArray)
  }

  final case class H264Mp4Row(media_id: Long, n_frames: Int, width: Int,
                              height: Int, y_sum: Long, u_sum: Long,
                              v_sum: Long)

  /** H.264-in-MP4 end to end — the layout a crawl actually stores
    * video in: genuine IDR NALs muxed as 'avc1' samples (4-byte
    * length-prefixed, SPS/PPS in the avcC configuration record, the
    * real chunked sample table), then DEMUXED back through the generic
    * sample-table walk, avcC parsed, each sample converted
    * AVCC→Annex-B, and every frame pixel-decoded by [[H264.decode]].
    * Frames are the multimodal_h264 DC/H/V chain construction varied
    * per frame index, so per-frame reconstruction stays exact and the
    * oracle sums closed-form prefix sums over (frame, MB). */
  def h264Mp4FromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[H264Mp4Row] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        it.flatMap { id =>
          val nFrames = 1 + (id % 3).toInt
          val mbW = 2 + (id % 3).toInt
          val mbH = 1 + (id % 2).toInt
          val qp = (id % 52).toInt
          var spsNal: Array[Byte] = null
          var ppsNal: Array[Byte] = null
          val samples = Array.tabulate(nFrames) { f =>
            val mbs = Array.tabulate(mbW * mbH) { k =>
              val i = k / mbW; val j = k % mbW
              val m = H264.MbSpec(mbType = 1,
                i16Mode =
                  if (i == 0 && j == 0) H264.I16_DC
                  else if (i == 0) H264.I16_H
                  else H264.I16_V,
                chromaMode =
                  if (i == 0 && j == 0) H264.CH_DC
                  else if (i == 0) H264.CH_H
                  else H264.CH_V)
              m.lumaDc(0) = ((id + 7 * f + 3 * i + 5 * j) % 5).toInt - 2
              m.cbDc(0) = ((id + 11 * f + i + 2 * j) % 5).toInt - 2
              m.crDc(0) = ((2 * id + 5 * f + 3 * i + j) % 5).toInt - 2
              m
            }
            val (sps, pps, idr, _) = H264.encodeNals(mbW * 16, mbH * 16,
              mbs, H264.EncodeOpts(qp = qp))
            spsNal = sps; ppsNal = pps
            // one 4-byte length-prefixed NAL per sample
            val len = idr.length
            Array[Byte]((len >> 24).toByte, (len >> 16).toByte,
              (len >> 8).toByte, len.toByte) ++ idr
          }
          val file = muxMp4Video(mbW * 16, mbH * 16, samples, "avc1",
            buildAvcc(spsNal, ppsNal))
          for {
            info <- parseMjpeg(file).iterator
            if info.codec == "avc1"
            (sps, pps) <- parseAvcc(info.entryExt).iterator
            frames = info.frames.flatMap(sm =>
              avccSampleToAnnexB(sps, pps, sm).flatMap(H264.decode))
            if frames.length == nFrames
          } yield H264Mp4Row(id, frames.length,
            frames.head.width, frames.head.height,
            frames.foldLeft(0L)((a, fr) => a + fr.y.foldLeft(0L)(_ + _)),
            frames.foldLeft(0L)((a, fr) => a + fr.u.foldLeft(0L)(_ + _)),
            frames.foldLeft(0L)((a, fr) => a + fr.v.foldLeft(0L)(_ + _)))
        }
      }
  }

  final case class MjpegInfo(codec: String, width: Int, height: Int,
                             frames: Array[Array[Byte]],
                             entryExt: Array[Byte] = Array.emptyByteArray)

  /** REAL MP4 sample-table walk — the part of a demuxer that locates
    * each video frame's bytes: descend moov→trak→mdia→minf→stbl, read
    * the stsd sample-entry fourcc + dimensions, then resolve every
    * sample's byte range from stsz (per-sample or uniform sizes), stco
    * (chunk offsets) and the stsc first-chunk run table (the real
    * algorithm: each stsc entry applies from its first_chunk until the
    * next entry's). Handles largesize/to-EOF box encodings like
    * [[parseMp4]]. None on any structural inconsistency. */
  def parseMjpeg(content: Array[Byte]): Option[MjpegInfo] = {
    val bb = java.nio.ByteBuffer.wrap(content)
    def cc(p: Int): String = new String(content, p, 4, "US-ASCII")
    // first child box of `tpe` within [from, to) → (payloadStart, boxEnd)
    def child(from: Int, to: Int, tpe: String): Option[(Int, Int)] = {
      var p = from
      while (p + 8 <= to) {
        val s32 = bb.getInt(p).toLong & 0xFFFFFFFFL
        val (sz, hdr) =
          if (s32 == 1L) {
            if (p + 16 > to) return None
            (bb.getLong(p + 8), 16)
          } else if (s32 == 0L) ((to - p).toLong, 8)
          else (s32, 8)
        if (sz < hdr || p + sz > to) return None
        if (cc(p + 4) == tpe) return Some((p + hdr, (p + sz).toInt))
        p += sz.toInt
      }
      None
    }
    def assemble(stsdS: Int, stszS: Int, stscS: Int, stcoS: Int)
        : Option[MjpegInfo] = {
      val se = stsdS + 8 // first sample entry (after ver/flags + count)
      val codec = cc(se + 4)
      val width = bb.getShort(se + 32).toInt & 0xFFFF
      val height = bb.getShort(se + 34).toInt & 0xFFFF
      // codec-specific extension boxes after the 86-byte fixed entry
      // (avcC for 'avc1'); bounded by the declared entry size
      val entrySz = bb.getInt(se)
      val entryExt =
        if (entrySz > 86 && se + entrySz <= content.length)
          java.util.Arrays.copyOfRange(content, se + 86, se + entrySz)
        else Array.emptyByteArray
      val uniform = bb.getInt(stszS + 4)
      val n = bb.getInt(stszS + 8)
      // corrupt tables must fail the walk, not the JVM: counts bounded
      // by the file size (every table entry occupies ≥4 bytes in it),
      // sample sizes non-negative (stsz is unsigned; a negative read is
      // a corrupt high bit and would slip past additive bounds checks)
      if (n <= 0 || n > content.length || uniform < 0) return None
      val sizes = Array.tabulate(n) { i =>
        if (uniform != 0) uniform else bb.getInt(stszS + 12 + 4 * i)
      }
      if (sizes.exists(_ < 0)) return None
      val nChunks = bb.getInt(stcoS + 4)
      if (nChunks <= 0 || nChunks > content.length) return None
      val chunkOff = Array.tabulate(nChunks) { i =>
        bb.getInt(stcoS + 8 + 4 * i).toLong & 0xFFFFFFFFL
      }
      val nStsc = bb.getInt(stscS + 4)
      if (nStsc <= 0 || nStsc > content.length) return None
      val stsc = Array.tabulate(nStsc) { i =>
        (bb.getInt(stscS + 8 + 12 * i), bb.getInt(stscS + 12 + 12 * i))
      }
      if (stsc.exists(e => e._2 < 0)) return None
      val frames = Array.newBuilder[Array[Byte]]
      var sample = 0
      var chunk = 1
      while (chunk <= nChunks && sample < n) {
        // samples-per-chunk = last stsc entry with first_chunk <= chunk
        var spc = stsc(0)._2
        var e = 0
        while (e < nStsc && stsc(e)._1 <= chunk) { spc = stsc(e)._2; e += 1 }
        var off = chunkOff(chunk - 1)
        var k = 0
        while (k < spc && sample < n) {
          val sz = sizes(sample)
          if (off + sz > content.length) return None
          frames += java.util.Arrays.copyOfRange(
            content, off.toInt, (off + sz).toInt)
          off += sz
          sample += 1
          k += 1
        }
        chunk += 1
      }
      if (sample != n) None
      else Some(MjpegInfo(codec, width, height, frames.result(), entryExt))
    }
    try {
      val boxes = for {
        (moovS, moovE) <- child(0, content.length, "moov")
        (trakS, trakE) <- child(moovS, moovE, "trak")
        (mdiaS, mdiaE) <- child(trakS, trakE, "mdia")
        (minfS, minfE) <- child(mdiaS, mdiaE, "minf")
        (stblS, stblE) <- child(minfS, minfE, "stbl")
        (stsdS, _) <- child(stblS, stblE, "stsd")
        (stszS, _) <- child(stblS, stblE, "stsz")
        (stscS, _) <- child(stblS, stblE, "stsc")
        (stcoS, _) <- child(stblS, stblE, "stco")
      } yield (stsdS, stszS, stscS, stcoS)
      boxes.flatMap { case (sd, sz, sc, co) => assemble(sd, sz, sc, co) }
    } catch { case _: IndexOutOfBoundsException => None }
  }

  final case class MjpegFrameRow(media_id: Long, codec: String,
                                 n_frames: Int, frame_idx: Int, width: Int,
                                 height: Int, pixel_sum: Long)

  /** REAL video-frame extraction + decode, driver-gated: one genuine
    * MJPEG/MP4 per document (frame count, dims and per-frame gray pure
    * doc_id arithmetic; every frame a REAL ImageIO JPEG), demuxed back
    * by [[parseMjpeg]]'s sample-table walk and each frame decoded by the
    * REAL JDK JPEG codec to its pixel sum. The oracle predicts each
    * frame's sum in closed form (solid DC-only JPEGs round-trip exactly
    * — MjpegSpec pins all 256 grays) — a stub, a demuxer that can't
    * walk stsc/stsz/stco, or a skipped JPEG decode mismatches. Narrow
    * mapPartitions, no shuffle. */
  def mjpegFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[MjpegFrameRow] = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        val codec = new JpegCodec() // amortized per partition
        it.flatMap { id =>
          val w = 24 + (id % 17).toInt
          val h = 16 + (id % 11).toInt
          val nf = 2 + (id % 4).toInt
          val grays = Array.tabulate(nf)(f => ((id * 37 + f * 101) % 256).toInt)
          val bytes = tinyMjpeg(w, h, grays, codec)
          parseMjpeg(bytes).iterator.flatMap { info =>
            info.frames.iterator.zipWithIndex.map { case (fb, fi) =>
              val (fw, fh, sum) = codec.decodeSum(fb)
              MjpegFrameRow(id, info.codec, info.frames.length, fi,
                fw, fh, sum)
            }
          }
        }
      }
  }

  /** Video CONTENT dedup across encodings — the moving-picture member
    * of the content-dedup family (`multimodal_image_dedup` /
    * `multimodal_audio_dedup`): planted duplicate blocks carry the same
    * FRAME CONTENT re-encoded at DIFFERENT resolutions and different
    * sample-table chunk layouts — every byte of the files differs
    * (different JPEG bitstreams, different stsc/stco), so byte- and
    * even frame-digest-level dedup find nothing. Grouping requires the
    * real pipeline: demux the sample table, decode every frame with the
    * real JDK JPEG codec, and reduce each frame to a
    * RESOLUTION-INVARIANT content signature — the per-frame mean gray,
    * which is exact for solid frames (sum = g·w·h, mean = g; the
    * MjpegSpec round-trip guarantee) — then key on exact integer
    * moments of the mean sequence. Oracle replays the arithmetic in
    * closed form. Decode is a core-split pure-CPU mapPartitions; the
    * dedup shuffles (nf, k1, k2, id) only — the audio-dedup shape. */
  def videoDedup(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    graft.operators.Spread.forCpu(docs.select(col("doc_id")).as[Long])
      .mapPartitions { it =>
        val codec = new JpegCodec()
        it.flatMap { id =>
          val base = if (id % 3 == 0) (id / 21) * 21 else id
          val nf = 2 + (base % 4).toInt
          val grays = Array.tabulate(nf)(f => ((base * 37 + f * 101) % 256).toInt)
          val w = 16 + (id % 31).toInt // resolution varies per COPY
          val h = 12 + (id % 17).toInt
          val chunkSize = if (id % 2 == 0) 2 else 1 // layout varies too
          val bytes = tinyMjpeg(w, h, grays, codec, chunkSize)
          parseMjpeg(bytes).iterator.map { info =>
            var k1 = 0L
            var k2 = 0L
            var fi = 0
            while (fi < info.frames.length) {
              val (fw, fh, sum) = codec.decodeSum(info.frames(fi))
              val mean = sum / (fw.toLong * fh) // exact: solid frames
              k1 += mean
              k2 += mean * (fi + 1)
              fi += 1
            }
            (id, info.frames.length, k1, k2)
          }
        }
      }.toDF("doc_id", "nf", "k1", "k2")
      .groupBy("nf", "k1", "k2")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("nf").as("n_frames"),
        col("k1").as("sig"))
  }

  /** Genuine WEBP (RIFF) container bytes: 'RIFF' size 'WEBP', a leading
    * UNKNOWN chunk with an ODD payload size (real RIFF pads chunks to
    * even — a walker that forgets the pad byte desyncs), then either a
    * VP8L (lossless) header — signature byte 0x2F + the packed
    * 14-bit width-1 / 14-bit height-1 little-endian bitfield — or a
    * VP8X (extended) header — flags + 24-bit LE canvas dims. Both are
    * the public container layouts; only the pixel payload is omitted
    * (header-only, like the PNG/MP4 fixtures). */
  def tinyWebp(w: Int, h: Int, lossless: Boolean): Array[Byte] = {
    require(w >= 1 && w <= 0x4000 && h >= 1 && h <= 0x4000)
    val bos = new java.io.ByteArrayOutputStream()
    def cc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def u32le(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >>> 8) & 0xFF)
      bos.write((v >>> 16) & 0xFF); bos.write((v >>> 24) & 0xFF)
    }
    // junk chunk payload (odd size 3 → 1 pad byte)
    val junk = Array[Byte](7, 7, 7)
    val imgPayload: Array[Byte] =
      if (lossless) {
        val bits = (w - 1) | ((h - 1) << 14) // alpha 0, version 0
        Array[Byte](0x2F,
          (bits & 0xFF).toByte, ((bits >>> 8) & 0xFF).toByte,
          ((bits >>> 16) & 0xFF).toByte, ((bits >>> 24) & 0xFF).toByte)
      } else {
        val cw = w - 1; val ch = h - 1
        Array[Byte](0, 0, 0, 0, // flags + reserved
          (cw & 0xFF).toByte, ((cw >>> 8) & 0xFF).toByte,
          ((cw >>> 16) & 0xFF).toByte,
          (ch & 0xFF).toByte, ((ch >>> 8) & 0xFF).toByte,
          ((ch >>> 16) & 0xFF).toByte)
      }
    val imgCc = if (lossless) "VP8L" else "VP8X"
    def padded(n: Int): Int = n + (n & 1)
    val riffSize = 4 + (8 + padded(junk.length)) + (8 + padded(imgPayload.length))
    cc("RIFF"); u32le(riffSize); cc("WEBP")
    cc("JUNK"); u32le(junk.length); bos.write(junk)
    if ((junk.length & 1) == 1) bos.write(0)
    cc(imgCc); u32le(imgPayload.length); bos.write(imgPayload)
    if ((imgPayload.length & 1) == 1) bos.write(0)
    bos.toByteArray
  }

  final case class WebpMeta(variant: String, width: Int, height: Int)

  /** REAL RIFF/WEBP chunk walk (pure-JVM byte parsing — the webp analog
    * of a header-only ImageIO read): validates the RIFF/WEBP envelope,
    * iterates chunks honoring the even-byte pad rule, skips unknown
    * chunks, and reads dimensions from whichever of the three public
    * image-header layouts appears first — VP8L's packed 14-bit bitfield
    * (after its 0x2F signature), VP8X's 24-bit LE canvas fields, or the
    * lossy VP8 frame header (0x9D 0x01 0x2A start code, 14-bit dims).
    * None when the structure is not WEBP. */
  def parseWebp(content: Array[Byte]): Option[WebpMeta] = {
    def u32le(p: Int): Long =
      (content(p) & 0xFFL) | ((content(p + 1) & 0xFFL) << 8) |
        ((content(p + 2) & 0xFFL) << 16) | ((content(p + 3) & 0xFFL) << 24)
    def u24le(p: Int): Int =
      (content(p) & 0xFF) | ((content(p + 1) & 0xFF) << 8) |
        ((content(p + 2) & 0xFF) << 16)
    def u16le(p: Int): Int =
      (content(p) & 0xFF) | ((content(p + 1) & 0xFF) << 8)
    def cc(p: Int): String = new String(content, p, 4, "US-ASCII")
    try {
      if (content.length < 12 || cc(0) != "RIFF" || cc(8) != "WEBP")
        return None
      val limit = math.min(content.length.toLong, 8L + u32le(4)).toInt
      var pos = 12
      while (pos + 8 <= limit) {
        val size = u32le(pos + 4)
        val p = pos + 8
        if (p + size > limit) return None
        cc(pos) match {
          case "VP8L" if size >= 5 && content(p) == 0x2F =>
            val bits = u32le(p + 1)
            return Some(WebpMeta("VP8L", ((bits & 0x3FFF) + 1).toInt,
              (((bits >>> 14) & 0x3FFF) + 1).toInt))
          case "VP8X" if size >= 10 =>
            return Some(WebpMeta("VP8X", u24le(p + 4) + 1, u24le(p + 7) + 1))
          case "VP8 " if size >= 10 && (content(p + 3) & 0xFF) == 0x9D &&
              (content(p + 4) & 0xFF) == 0x01 &&
              (content(p + 5) & 0xFF) == 0x2A =>
            return Some(WebpMeta("VP8",
              u16le(p + 6) & 0x3FFF, u16le(p + 8) & 0x3FFF))
          case _ => ()
        }
        pos = p + (size + (size & 1)).toInt
      }
      None
    } catch { case _: IndexOutOfBoundsException => None }
  }

  final case class WebpRow(media_id: Long, variant: String, width: Int,
                           height: Int, n_pixels: Long)

  /** Real-container fixture + decode: one genuine WEBP header per
    * document (dims pure doc_id arithmetic, alternating VP8L/VP8X
    * layouts, a leading odd-sized unknown chunk), RIFF-walked back by
    * [[parseWebp]]. Oracle predicts every field from the arithmetic; a
    * stub, a walker that forgets the RIFF pad byte, or one that reads
    * only one header layout mismatches. */
  def webpsFromDocuments(s: SparkSession, docs: DataFrame): Dataset[WebpRow] = {
    import s.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = 16 + (id % 241).toInt
        val h = 16 + ((id * 11) % 199).toInt
        val bytes = tinyWebp(w, h, lossless = id % 2 == 0)
        val m = parseWebp(bytes).getOrElse(
          throw new IllegalStateException(s"RIFF walk failed for $id"))
        WebpRow(id, m.variant, m.width, m.height,
          m.width.toLong * m.height.toLong)
      }
    }
  }

  /** Real-image fixture: one tiny PNG per document, dimensions a pure
    * doc_id arithmetic (8 + id % 61, 8 + 7·id % 53) — so the DuckDB
    * oracle PREDICTS width/height while the Spark side must genuinely
    * encode and re-parse a PNG header to report them. Generation is a
    * narrow mapPartitions (no shuffle), the same batch shape a real
    * ingest-side transcode runs in. */
  def imagesFromDocuments(s: SparkSession, docs: DataFrame)
      : Dataset[MediaRow] = {
    import s.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val w = 8 + (id % 61).toInt
        val h = 8 + ((id * 7) % 53).toInt
        MediaRow(id, tinyPng(w, h, id))
      }
    }
  }
}
