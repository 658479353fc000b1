package graft.multimodal

/** Pure-JVM FLAC codec pair (encoder for fixtures + full decoder) — the
  * entropy-coded audio analog of [[Vp8l]]: the public FLAC bitstream
  * (xiph.org format spec), 16-bit mono subset.
  *
  * Implements the real format machinery end to end:
  *   - stream layout: "fLaC" magic + STREAMINFO metadata block (the
  *     decoder skips any other metadata blocks, as the spec requires);
  *   - frames: 14-bit sync, blocking strategy, block-size / sample-rate
  *     code tables (incl. the 8- and 16-bit trailing-size escapes),
  *     channel assignment, sample-size codes, the UTF-8-coded frame
  *     number, and the CRC-8 header check;
  *   - subframes: CONSTANT, VERBATIM, FIXED orders 0–4 (the standard
  *     difference predictors) and LPC (quantized coefficients with
  *     precision/shift headers);
  *   - residuals: partitioned Rice coding, both 4- and 5-bit parameter
  *     methods, the 0b1111/0b11111 raw-bits escape, partition orders
  *     ≥ 0, zigzag folding, unary quotients;
  *   - integrity: CRC-16 frame footers and the STREAMINFO MD5 of the
  *     raw little-endian samples, both VERIFIED on decode (what
  *     `flac -t` checks) — a bit slip anywhere fails loudly.
  *
  * FlacSpec pins encoder↔decoder round-trips bit-exact across the whole
  * envelope (all predictor paths, frame sequencing, escape codes) and
  * that corrupted CRC / MD5 are rejected, which is what lets
  * `multimodal_flac`'s oracle replay decoded-sample moments in closed
  * form.
  */
object Flac extends Serializable {

  /** Decoder capacity limit, in samples (~25 min of 44.1 kHz mono).
    * STREAMINFO's 36-bit total-samples claim is UNTRUSTED input — it
    * sizes an upfront allocation, so a single flipped header byte could
    * demand a multi-GB array (found by the byte-flip fuzz). Streams
    * claiming more than this are rejected as "too large for this
    * decoder", a DOCUMENTED limit distinct from corruption: a caller
    * that must distinguish the two can compare the claim against this
    * constant before calling [[decode]]. */
  val MaxDecodedSamples: Long = 1L << 26

  // ------------------------------------------------------------ bit I/O

  private final class BitWriter {
    private val bos = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nAcc = 0
    def writeBits(value: Long, n: Int): Unit = {
      var left = n
      while (left > 0) {
        val take = math.min(left, 56 - nAcc)
        acc = (acc << take) | ((value >>> (left - take)) & ((1L << take) - 1))
        nAcc += take
        left -= take
        while (nAcc >= 8) {
          bos.write(((acc >>> (nAcc - 8)) & 0xFF).toInt)
          nAcc -= 8
        }
      }
    }
    def writeUnary(q: Int): Unit = {
      var i = 0
      while (i < q) { writeBits(0, 1); i += 1 }
      writeBits(1, 1)
    }
    def alignByte(): Unit = if (nAcc > 0) writeBits(0, 8 - nAcc)
    def toBytes: Array[Byte] = { alignByte(); bos.toByteArray }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var bitPos = 0
    def readBits(n: Int): Long = {
      var v = 0L
      var left = n
      while (left > 0) {
        if (pos >= bytes.length) throw new IllegalStateException("EOF")
        val avail = 8 - bitPos
        val take = math.min(left, avail)
        val cur = (bytes(pos) & 0xFF) >>> (avail - take)
        v = (v << take) | (cur & ((1 << take) - 1))
        bitPos += take
        if (bitPos == 8) { bitPos = 0; pos += 1 }
        left -= take
      }
      v
    }
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0L) q += 1
      q
    }
    def alignByte(): Unit = if (bitPos != 0) { bitPos = 0; pos += 1 }
    def remaining: Int = bytes.length - pos
  }

  // ------------------------------------------------------------- CRC/MD5

  /** CRC-8, polynomial 0x07, init 0 — the FLAC frame-header check. */
  def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xFF
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0 — the FLAC frame footer check. */
  def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xFF) << 8
      var b = 0
      while (b < 8) {
        crc =
          if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
          else (crc << 1) & 0xFFFF
        b += 1
      }
      i += 1
    }
    crc
  }

  /** STREAMINFO MD5: over the raw samples as little-endian 16-bit. */
  def sampleMd5(samples: Array[Int]): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      buf(2 * i) = (samples(i) & 0xFF).toByte
      buf(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    md.digest(buf)
  }

  // ----------------------------------------------------------- predictors

  /** Standard FLAC fixed-predictor residual (order 0–4 difference
    * cascade); `i >= order`. */
  private def fixedResidual(s: Array[Int], i: Int, order: Int): Long =
    order match {
      case 0 => s(i).toLong
      case 1 => s(i).toLong - s(i - 1)
      case 2 => s(i).toLong - 2L * s(i - 1) + s(i - 2)
      case 3 => s(i).toLong - 3L * s(i - 1) + 3L * s(i - 2) - s(i - 3)
      case _ => s(i).toLong - 4L * s(i - 1) + 6L * s(i - 2) - 4L * s(i - 3) + s(i - 4)
    }

  private def fixedReconstruct(s: Array[Int], i: Int, order: Int, r: Long): Long =
    order match {
      case 0 => r
      case 1 => r + s(i - 1)
      case 2 => r + 2L * s(i - 1) - s(i - 2)
      case 3 => r + 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
      case _ => r + 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
    }

  // ------------------------------------------------------------- encoder

  private def zigzag(r: Long): Long = (r << 1) ^ (r >> 63)

  private def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  /** Rice cost in bits of one partition at parameter p. */
  private def riceCost(res: Array[Long], p: Int): Long = {
    var bits = 0L
    var i = 0
    while (i < res.length) {
      bits += (zigzag(res(i)) >>> p) + 1 + p
      i += 1
    }
    bits
  }

  private def writeResiduals(w: BitWriter, res: Array[Long]): Unit = {
    // method 00 (4-bit params), partition order 0 — one partition
    w.writeBits(0, 2)
    w.writeBits(0, 4)
    var best = 0
    var bestCost = riceCost(res, 0)
    var p = 1
    while (p <= 14) {
      val c = riceCost(res, p)
      if (c < bestCost) { bestCost = c; best = p }
      p += 1
    }
    // raw escape: widest zigzagged residual
    var width = 1
    var i = 0
    while (i < res.length) {
      val need = 64 - java.lang.Long.numberOfLeadingZeros(zigzag(res(i)))
      if (need > width) width = need
      i += 1
    }
    if (width.toLong * res.length < bestCost && width <= 31) {
      w.writeBits(0xF, 4) // escape
      w.writeBits(width.toLong, 5)
      i = 0
      while (i < res.length) { w.writeBits(zigzag(res(i)), width); i += 1 }
    } else {
      w.writeBits(best.toLong, 4)
      i = 0
      while (i < res.length) {
        val u = zigzag(res(i))
        w.writeUnary((u >>> best).toInt)
        if (best > 0) w.writeBits(u & ((1L << best) - 1), best)
        i += 1
      }
    }
  }

  /** UTF-8-style coded frame number (the spec's extended UTF-8). */
  private def writeUtf8Number(out: java.io.ByteArrayOutputStream, v: Long): Unit =
    if (v < 0x80) out.write(v.toInt)
    else if (v < 0x800) {
      out.write(0xC0 | (v >> 6).toInt); out.write(0x80 | (v & 0x3F).toInt)
    } else if (v < 0x10000) {
      out.write(0xE0 | (v >> 12).toInt)
      out.write(0x80 | ((v >> 6) & 0x3F).toInt)
      out.write(0x80 | (v & 0x3F).toInt)
    } else {
      out.write(0xF0 | (v >> 18).toInt)
      out.write(0x80 | ((v >> 12) & 0x3F).toInt)
      out.write(0x80 | ((v >> 6) & 0x3F).toInt)
      out.write(0x80 | (v & 0x3F).toInt)
    }

  /** Encode 16-bit mono samples at 8 kHz. `useLpc` routes every frame
    * through the LPC subframe path (order-2 quantized coefficients
    * [2,-1] shift 0 — numerically the fixed-2 predictor, but exercising
    * the LPC header/coefficient machinery); otherwise the best FIXED
    * order 0–2 per frame (CONSTANT when the block is flat). */
  def encode(samples: Array[Int], blockSize: Int, useLpc: Boolean): Array[Byte] = {
    require(blockSize >= 16 && blockSize <= 65536)
    val n = samples.length
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO, last-metadata flag set
    // min = max = the nominal block size; the trailing partial frame is
    // allowed to be shorter and does not lower the declared minimum
    val si = new BitWriter
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(0, 24); si.writeBits(0, 24) // frame sizes unknown
    si.writeBits(8000, 20)
    si.writeBits(0, 3) // channels - 1
    si.writeBits(15, 5) // bits per sample - 1
    si.writeBits(n.toLong, 36)
    val siBytes = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length + 16)
    out.write(siBytes)
    out.write(sampleMd5(samples))
    // frames
    var frameNo = 0L
    var off = 0
    while (off < n) {
      val len = math.min(blockSize, n - off)
      val block = java.util.Arrays.copyOfRange(samples, off, off + len)
      out.write(encodeFrame(block, frameNo, useLpc))
      off += len
      frameNo += 1
    }
    out.toByteArray
  }

  private def encodeFrame(block: Array[Int], frameNo: Long,
                          useLpc: Boolean): Array[Byte] = {
    val hdr = new java.io.ByteArrayOutputStream()
    hdr.write(0xFF); hdr.write(0xF8) // sync + reserved + fixed-blocksize
    // block size code 0b0111 (16-bit size-1 follows); sample rate 0b0100 (8 kHz)
    hdr.write(0x74)
    // channel assignment 0 (mono) << 4 | sample size 0b100 (16) << 1 | 0
    hdr.write(0x08)
    writeUtf8Number(hdr, frameNo)
    hdr.write(((block.length - 1) >> 8) & 0xFF)
    hdr.write((block.length - 1) & 0xFF)
    val hb = hdr.toByteArray
    val frame = new java.io.ByteArrayOutputStream()
    frame.write(hb)
    frame.write(crc8(hb, 0, hb.length))
    val w = new BitWriter
    encodeSubframe(w, block, useLpc)
    frame.write(w.toBytes)
    val fb = frame.toByteArray
    val c16 = crc16(fb, 0, fb.length)
    frame.write((c16 >> 8) & 0xFF)
    frame.write(c16 & 0xFF)
    frame.toByteArray
  }

  private def encodeSubframe(w: BitWriter, block: Array[Int],
                             useLpc: Boolean): Unit = {
    val n = block.length
    var flat = true
    var i = 1
    while (flat && i < n) { flat = block(i) == block(0); i += 1 }
    if (flat) {
      w.writeBits(0, 1); w.writeBits(0, 6); w.writeBits(0, 1) // CONSTANT
      w.writeBits(block(0).toLong & 0xFFFF, 16)
      return
    }
    if (useLpc && n > 2) {
      // LPC order 2, precision 4, shift 0, coeffs [2, -1]
      w.writeBits(0, 1); w.writeBits(32L + 1, 6); w.writeBits(0, 1)
      w.writeBits(block(0).toLong & 0xFFFF, 16)
      w.writeBits(block(1).toLong & 0xFFFF, 16)
      w.writeBits(3, 4) // precision - 1
      w.writeBits(0, 5) // shift
      w.writeBits(2L & 0xF, 4)
      w.writeBits((-1L) & 0xF, 4)
      val res = new Array[Long](n - 2)
      i = 2
      while (i < n) {
        res(i - 2) = block(i).toLong - (2L * block(i - 1) - block(i - 2))
        i += 1
      }
      writeResiduals(w, res)
      return
    }
    // pick the cheapest fixed order 0..2 by residual magnitude sum
    var bestOrder = 0
    var bestSum = Long.MaxValue
    var order = 0
    while (order <= math.min(2, n - 1)) {
      var sum = 0L
      i = order
      while (i < n) { sum += math.abs(fixedResidual(block, i, order)); i += 1 }
      if (sum < bestSum) { bestSum = sum; bestOrder = order }
      order += 1
    }
    w.writeBits(0, 1); w.writeBits(8L + bestOrder, 6); w.writeBits(0, 1)
    i = 0
    while (i < bestOrder) { w.writeBits(block(i).toLong & 0xFFFF, 16); i += 1 }
    val res = new Array[Long](n - bestOrder)
    i = bestOrder
    while (i < n) { res(i - bestOrder) = fixedResidual(block, i, bestOrder); i += 1 }
    writeResiduals(w, res)
  }

  // ------------------------------------------------------------- decoder

  final case class FlacDecoded(sampleRate: Int, nSamples: Long,
                               nFrames: Int, samples: Array[Int],
                               md5Ok: Boolean)

  private val blockSizeTable: Array[Int] =
    Array(-1, 192, 576, 1152, 2304, 4608, -8, -16, 256, 512, 1024, 2048,
      4096, 8192, 16384, 32768)

  private val sampleRateTable: Array[Int] =
    Array(0, 88200, 176400, 192000, 8000, 16000, 22050, 24000, 32000,
      44100, 48000, 96000, -8, -16, -160, -1)

  /** Decode a FLAC stream (16-bit mono subset; CONSTANT / VERBATIM /
    * FIXED 0–4 / LPC subframes, all block-size and 8 kHz-relevant
    * sample-rate codes, both Rice methods + raw escape, any partition
    * order). Verifies every frame's CRC-8 and CRC-16 and the stream
    * MD5; None on any structural or integrity failure. Also None for
    * streams whose STREAMINFO claims more than [[MaxDecodedSamples]]
    * samples — an explicit capacity limit, not a corruption verdict. */
  def decode(bytes: Array[Byte]): Option[FlacDecoded] =
    try decodeInner(bytes)
    catch {
      case _: IllegalStateException => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  private def decodeInner(bytes: Array[Byte]): Option[FlacDecoded] = {
    if (bytes.length < 42 ||
      new String(bytes, 0, 4, "US-ASCII") != "fLaC") return None
    var pos = 4
    var streamRate = 0
    var totalSamples = 0L
    var md5: Array[Byte] = null
    var last = false
    var sawStreaminfo = false
    while (!last) {
      if (pos + 4 > bytes.length) return None
      val h = bytes(pos) & 0xFF
      last = (h & 0x80) != 0
      val tpe = h & 0x7F
      val len = ((bytes(pos + 1) & 0xFF) << 16) | ((bytes(pos + 2) & 0xFF) << 8) |
        (bytes(pos + 3) & 0xFF)
      pos += 4
      if (pos + len > bytes.length) return None
      if (tpe == 0) {
        sawStreaminfo = true
        val r = new BitReader(bytes, pos)
        r.readBits(16); r.readBits(16); r.readBits(24); r.readBits(24)
        streamRate = r.readBits(20).toInt
        val channels = r.readBits(3).toInt + 1
        val bps = r.readBits(5).toInt + 1
        totalSamples = r.readBits(36)
        if (channels != 1 || bps != 16) return None
        md5 = java.util.Arrays.copyOfRange(bytes, pos + 18, pos + 34)
      }
      pos += len // decoder skips non-STREAMINFO metadata, per spec
    }
    if (!sawStreaminfo) return None
    // STREAMINFO's 36-bit total is UNTRUSTED input: allocating it
    // upfront lets a single flipped header byte demand a multi-GB
    // array (found by the byte-flip fuzz as a heap-pressure OOM).
    // Capacity-guard the claim and grow the buffer with what the
    // frames ACTUALLY decode — a lying header then fails the
    // got != claimed check at the end having allocated nothing.
    if (totalSamples > MaxDecodedSamples) return None // documented cap
    val claimed = totalSamples.toInt
    var outSamples = new Array[Int](math.min(claimed, 1 << 16))
    var got = 0
    var nFrames = 0
    while (pos < bytes.length && got < claimed) {
      val frameStart = pos
      // ---- frame header
      if ((bytes(pos) & 0xFF) != 0xFF || (bytes(pos + 1) & 0xFC) != 0xF8)
        return None
      val b2 = bytes(pos + 2) & 0xFF
      val bsCode = b2 >> 4
      val srCode = b2 & 0xF
      val b3 = bytes(pos + 3) & 0xFF
      val chanAsgn = b3 >> 4
      val ssCode = (b3 >> 1) & 7
      if (chanAsgn != 0 || ssCode != 4) return None // mono 16-bit subset
      pos += 4
      // UTF-8 frame number
      val first = bytes(pos) & 0xFF
      var extra = 0
      if (first >= 0xF0) extra = 3
      else if (first >= 0xE0) extra = 2
      else if (first >= 0xC0) extra = 1
      pos += 1 + extra
      var blockLen = bsCode match {
        case 0 => return None // reserved
        case 6 => val v = (bytes(pos) & 0xFF) + 1; pos += 1; v
        case 7 =>
          val v = (((bytes(pos) & 0xFF) << 8) | (bytes(pos + 1) & 0xFF)) + 1
          pos += 2; v
        case c => blockSizeTable(c)
      }
      srCode match {
        case 0 => () // from STREAMINFO
        case 12 => pos += 1
        case 13 | 14 => pos += 2
        case 15 => return None
        case c => if (sampleRateTable(c) <= 0) return None
      }
      val declared = crc8(bytes, frameStart, pos)
      if ((bytes(pos) & 0xFF) != declared) return None
      pos += 1
      blockLen = math.min(blockLen, claimed - got)
      // ---- one mono subframe
      val r = new BitReader(bytes, pos)
      if (r.readBits(1) != 0L) return None
      val tpe = r.readBits(6).toInt
      val wasted = if (r.readBits(1) == 1L) r.readUnary() + 1 else 0
      val bps = 16 - wasted
      val block = new Array[Int](blockLen)
      def sext(v: Long, bits: Int): Int = {
        val sh = 64 - bits
        ((v << sh) >> sh).toInt
      }
      if (tpe == 0) {
        val v = sext(r.readBits(bps), bps)
        java.util.Arrays.fill(block, v)
      } else if (tpe == 1) {
        var i = 0
        while (i < blockLen) { block(i) = sext(r.readBits(bps), bps); i += 1 }
      } else if (tpe >= 8 && tpe <= 12) {
        val order = tpe - 8
        var i = 0
        while (i < order) { block(i) = sext(r.readBits(bps), bps); i += 1 }
        val res = readResiduals(r, blockLen, order)
        i = order
        while (i < blockLen) {
          val v = fixedReconstruct(block, i, order, res(i - order))
          block(i) = v.toInt
          i += 1
        }
      } else if (tpe >= 32) {
        val order = tpe - 32 + 1
        var i = 0
        while (i < order) { block(i) = sext(r.readBits(bps), bps); i += 1 }
        val precision = r.readBits(4).toInt + 1
        if (precision == 16) return None // reserved escape
        val shift = sext(r.readBits(5), 5)
        if (shift < 0) return None
        val coefs = new Array[Long](order)
        i = 0
        while (i < order) { coefs(i) = sext(r.readBits(precision), precision).toLong; i += 1 }
        val res = readResiduals(r, blockLen, order)
        i = order
        while (i < blockLen) {
          var pred = 0L
          var j = 0
          while (j < order) { pred += coefs(j) * block(i - 1 - j); j += 1 }
          block(i) = (res(i - order) + (pred >> shift)).toInt
          i += 1
        }
      } else return None
      if (wasted > 0) {
        var i = 0
        while (i < blockLen) { block(i) = block(i) << wasted; i += 1 }
      }
      r.alignByte()
      pos = r.pos
      val declared16 = (((bytes(pos) & 0xFF) << 8) | (bytes(pos + 1) & 0xFF))
      if (crc16(bytes, frameStart, pos) != declared16) return None
      pos += 2
      if (got + blockLen > outSamples.length)
        outSamples = java.util.Arrays.copyOf(outSamples, math.min(claimed,
          math.max(outSamples.length * 2, got + blockLen)))
      System.arraycopy(block, 0, outSamples, got, blockLen)
      got += blockLen
      nFrames += 1
    }
    if (got != claimed) return None
    if (outSamples.length != claimed)
      outSamples = java.util.Arrays.copyOf(outSamples, claimed)
    val md5Ok = java.util.Arrays.equals(sampleMd5(outSamples), md5)
    val rate = if (streamRate > 0) streamRate else return None
    if (!md5Ok) None
    else Some(FlacDecoded(rate, totalSamples, nFrames, outSamples, md5Ok))
  }

  private def readResiduals(r: BitReader, blockLen: Int,
                            order: Int): Array[Long] = {
    val method = r.readBits(2).toInt
    if (method > 1) throw new IllegalStateException("reserved residual method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val partOrder = r.readBits(4).toInt
    val nParts = 1 << partOrder
    if (blockLen % nParts != 0) throw new IllegalStateException("bad partition")
    val res = new Array[Long](blockLen - order)
    var idx = 0
    var part = 0
    while (part < nParts) {
      val count =
        if (partOrder == 0) blockLen - order
        else if (part == 0) blockLen / nParts - order
        else blockLen / nParts
      val param = r.readBits(pBits).toInt
      if (param == escape) {
        val width = r.readBits(5).toInt
        var i = 0
        while (i < count) {
          res(idx) = if (width == 0) 0L else unzigzag(r.readBits(width))
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < count) {
          val q = r.readUnary().toLong
          val u = (q << param) | (if (param > 0) r.readBits(param) else 0L)
          res(idx) = unzigzag(u)
          idx += 1; i += 1
        }
      }
      part += 1
    }
    res
  }
}
