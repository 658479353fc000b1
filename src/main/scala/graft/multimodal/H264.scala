package graft.multimodal

/** H.264/AVC (ISO/IEC 14496-10, the dominant distribution video codec)
  * BASELINE-PROFILE I-SLICE codec, pure JVM — the intra-frame slice of
  * the public standard, the natural sequel to [[Vp8]]: where VP8 closed
  * the lossy-IMAGE essence gap, this closes the keyframe slice of the
  * lossy-VIDEO gap (an MP4 crawl's seekable samples are exactly these
  * IDR frames).
  *
  * What follows the published standard (ALGORITHMS):
  *  - Annex-B byte-stream framing: start codes, NAL headers, and
  *    emulation-prevention bytes (0x000003 insertion/removal) in both
  *    directions.
  *  - Exp-Golomb entropy coding (ue/se), RBSP trailing bits.
  *  - SPS/PPS/slice-header syntax (the minimal IDR field set, frame
  *    cropping for non-16-aligned dimensions, deblocking disabled via
  *    the real `disable_deblocking_filter_idc` header field).
  *  - CAVLC residual STRUCTURE: coeff_token with the nC neighbour
  *    context (nA/nB averaging and availability rules, the REAL 6-bit
  *    FLC table for nC ≥ 8 including the (0,0)→0b000011 special case),
  *    trailing-one sign bits, level decoding with the unary
  *    level_prefix, the suffixLength adaptation thresholds, the
  *    prefix-14/15/16 escape ranges, total_zeros and run_before
  *    zigzag-run reconstruction.
  *  - The 4x4 integer inverse core transform (the 1/2-shift butterfly
  *    form with the final (x+32)>>6), the 4x4 inverse Hadamard for
  *    Intra16x16 luma DC, and the 2x2 chroma-DC Hadamard.
  *  - Intra prediction: all nine 4x4 modes (V/H/DC/DDL/DDR/VR/HD/VL/HU
  *    with the above-right substitution rules), the four 16x16 modes
  *    (V/H/DC/Plane with the (a+b(x−7)+c(y−7)+16)>>5 plane form), the
  *    four chroma modes with the per-4x4-subblock DC neighbour rule,
  *    and the predicted-mode signalling (min(modeA, modeB), DC when
  *    unavailable, the rem<pred ? rem : rem+1 rule).
  *  - mb_type packing for I_16x16 (1 + pm + 4·cbpChroma + 12·cbpLuma),
  *    the inverse 4x4 luma block scan (quadrant order), mb_qp_delta.
  *
  * What is PINNED PLACEHOLDER DATA (same policy as [[Vp8]]: the offline
  * container carries no copy of the spec's tables and no reference
  * decoder to validate against, and silently-misremembered constants
  * would be worse than labeled ones; the encoder emits against the
  * same pinned forms, so streams round-trip bit-exactly through every
  * code path, and swapping in the spec's tables is a data-only change):
  *  - The coeff_token VLC code ASSIGNMENTS for the nC<8 contexts and
  *    the chroma-DC context (context selection and symbol alphabets are
  *    real; the per-context code words are a deterministic permuted
  *    gamma code — see [[ctWrite]]).
  *  - total_zeros / run_before code assignments (alphabet-sized FLC;
  *    the alphabets, the zerosLeft bookkeeping, and the decode
  *    reconstruction are real).
  *  - The coded_block_pattern ue(v) mapping for I_4x4 (identity in
  *    place of the spec's me(v) table).
  *  - The dequantisation weight table V[qp%6][class] and the chroma-QP
  *    mapping (identity in place of the spec's saturating table).
  *
  * The ENCODER exists to produce genuine fixture streams and carries
  * its own reconstruction: H264Spec's round-trip property asserts
  * decoder output == the encoder's internal reconstruction across
  * prediction modes, QPs, both MB types, CAVLC level ranges, and
  * non-16-aligned (cropped) dimensions.
  */
object H264 {

  // ---------------------------------------------------------- bit I/O

  /** MSB-first bit reader over an RBSP (emulation bytes already
    * removed). Reads past the end return zero bits, never throw. */
  final class BitReader(bytes: Array[Byte]) {
    private var pos = 0
    def bit(): Int = {
      val i = pos >> 3
      val b = if (i < bytes.length) (bytes(i) >> (7 - (pos & 7))) & 1 else 0
      pos += 1
      b
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Exp-Golomb unsigned: count leading zeros, then that many bits. */
    def ue(): Int = {
      var z = 0
      while (bit() == 0 && z < 31) z += 1
      (1 << z) - 1 + (if (z > 0) bits(z) else 0)
    }
    /** Exp-Golomb signed: k odd → +(k+1)/2, k even → −k/2. */
    def se(): Int = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
    def bitPos: Int = pos
    def exhausted(len: Int): Boolean = pos >= len * 8
    /** Skip pcm_alignment_zero_bit padding to the next byte boundary. */
    def byteAlign(): Unit = while ((pos & 7) != 0) pos += 1
  }

  /** MSB-first bit writer producing an RBSP. */
  final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nBits = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nBits += 1
      if (nBits == 8) { buf += cur.toByte; cur = 0; nBits = 0 }
    }
    def bits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit((v >> i) & 1); i -= 1 }
    }
    def ue(v: Int): Unit = {
      val k = v + 1
      val z = 31 - Integer.numberOfLeadingZeros(k)
      bits(0, z)
      bits(k, z + 1)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    /** rbsp_trailing_bits: the stop bit then zero-pad to a byte. */
    def trailing(): Unit = {
      bit(1)
      while (nBits != 0) bit(0)
    }
    /** pcm_alignment_zero_bit padding to the next byte boundary. */
    def byteAlign(): Unit = while (nBits != 0) bit(0)
    def byteAlignedBits: Int = nBits
    def bytes(): Array[Byte] = {
      require(nBits == 0, "unterminated RBSP")
      buf.toArray
    }
  }

  // ------------------------------------------- NAL / emulation bytes

  /** RBSP → EBSP: insert emulation_prevention_three_byte after any
    * 0x0000 followed by a byte ≤ 0x03. */
  def ebsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    for (b <- rbsp) {
      if (zeros == 2 && (b & 0xFF) <= 3) {
        out += 0x03.toByte
        zeros = 0
      }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  /** EBSP → RBSP: drop 0x03 after 0x0000. */
  def unEbsp(e: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    var i = 0
    while (i < e.length) {
      val b = e(i)
      if (zeros == 2 && b == 0x03) zeros = 0 // skip the emulation byte
      else {
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toArray
  }

  /** One NAL unit (header byte + EBSP payload), no start code — the
    * form avcC and AVCC-in-MP4 samples carry. */
  def nalBytes(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Array[Byte] =
    Array(((refIdc << 5) | nalType).toByte) ++ ebsp(rbsp)

  /** One Annex-B NAL: 4-byte start code, header byte, EBSP payload. */
  def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Array[Byte] =
    Array[Byte](0, 0, 0, 1) ++ nalBytes(refIdc, nalType, rbsp)

  /** Split an Annex-B stream into (nal_type, RBSP) units. */
  def splitNals(stream: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 2 < stream.length) {
      if (stream(i) == 0 && stream(i + 1) == 0 && stream(i + 2) == 1)
        starts += i + 3
      i += 1
    }
    starts.toSeq.zipAll(starts.toSeq.drop(1), -1, stream.length + 3)
      .collect { case (s, e0) if s >= 0 && s < stream.length =>
        // the next start code's 00 00 (or 00 00 00) prefix belongs to it
        var e = math.min(e0 - 3, stream.length)
        while (e > s && stream(e - 1) == 0) e -= 1
        val hdr = stream(s) & 0xFF
        ((hdr & 0x1F), unEbsp(stream.slice(s + 1, e)))
      }
  }

  // ------------------------------------------------ transforms/quant

  /** Dequant weights V[qp%6][class] (class 0: corner positions, 1:
    * (odd,odd), 2: mixed) — PINNED PLACEHOLDER DATA (see the object
    * doc): monotone in qp%6 and ordered class0 < class2 < class1 like
    * the published table, values pinned to a documented formula. */
  private[multimodal] def vTab(m: Int, cls: Int): Int =
    (10 + 2 * m) + cls * (3 + m / 2)

  private def posClass(i: Int): Int = {
    val x = i & 3; val y = i >> 2
    if ((x == 0 || x == 2) && (y == 0 || y == 2)) 0
    else if ((x & 1) == 1 && (y & 1) == 1) 1
    else 2
  }

  /** Residual 4x4 dequant: d = c · V[qp%6][cls] << (qp/6). */
  private[multimodal] def dequant4x4(c: Array[Int], qp: Int): Array[Int] =
    Array.tabulate(16)(i => c(i) * vTab(qp % 6, posClass(i)) << (qp / 6))

  /** 4x4 inverse core transform (8.5.12.2 butterfly form), in raster
    * order, output BEFORE the (x+32)>>6 rounding. */
  private[multimodal] def icore4x4(d: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    // rows
    var y = 0
    while (y < 4) {
      val o = 4 * y
      val e0 = d(o) + d(o + 2)
      val e1 = d(o) - d(o + 2)
      val e2 = (d(o + 1) >> 1) - d(o + 3)
      val e3 = d(o + 1) + (d(o + 3) >> 1)
      t(o) = e0 + e3; t(o + 1) = e1 + e2
      t(o + 2) = e1 - e2; t(o + 3) = e0 - e3
      y += 1
    }
    val r = new Array[Int](16)
    var x = 0
    while (x < 4) {
      val e0 = t(x) + t(x + 8)
      val e1 = t(x) - t(x + 8)
      val e2 = (t(x + 4) >> 1) - t(x + 12)
      val e3 = t(x + 4) + (t(x + 12) >> 1)
      r(x) = e0 + e3; r(x + 4) = e1 + e2
      r(x + 8) = e1 - e2; r(x + 12) = e0 - e3
      x += 1
    }
    r
  }

  /** Full residual path for one 4x4 block: dequant → icore → round. */
  private[multimodal] def residual4x4(c: Array[Int], qp: Int): Array[Int] =
    icore4x4(dequant4x4(c, qp)).map(v => (v + 32) >> 6)

  /** 4x4 inverse Hadamard (Intra16x16 luma DC), no shifts. */
  private[multimodal] def ihadamard4x4(c: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var y = 0
    while (y < 4) {
      val o = 4 * y
      val e0 = c(o) + c(o + 2); val e1 = c(o) - c(o + 2)
      val e2 = c(o + 1) - c(o + 3); val e3 = c(o + 1) + c(o + 3)
      t(o) = e0 + e3; t(o + 1) = e1 + e2
      t(o + 2) = e1 - e2; t(o + 3) = e0 - e3
      y += 1
    }
    val r = new Array[Int](16)
    var x = 0
    while (x < 4) {
      val e0 = t(x) + t(x + 8); val e1 = t(x) - t(x + 8)
      val e2 = t(x + 4) - t(x + 12); val e3 = t(x + 4) + t(x + 12)
      r(x) = e0 + e3; r(x + 4) = e1 + e2
      r(x + 8) = e1 - e2; r(x + 12) = e0 - e3
      x += 1
    }
    r
  }

  /** Intra16x16 luma-DC scaling after the inverse Hadamard (8.5.10's
    * two-branch rounding form). */
  private[multimodal] def scaleLumaDc(f: Int, qp: Int): Int = {
    val v = vTab(qp % 6, 0)
    if (qp >= 36) (f * v) << (qp / 6 - 6)
    else (f * v + (1 << (5 - qp / 6))) >> (6 - qp / 6)
  }

  /** 2x2 chroma-DC inverse Hadamard + scaling ((f·V << qp/6) >> 5). */
  private[multimodal] def chromaDc(c: Array[Int], qp: Int): Array[Int] = {
    val d0 = c(0) + c(1) + c(2) + c(3)
    val d1 = c(0) - c(1) + c(2) - c(3)
    val d2 = c(0) + c(1) - c(2) - c(3)
    val d3 = c(0) - c(1) - c(2) + c(3)
    val v = vTab(qp % 6, 0)
    Array(d0, d1, d2, d3).map(f => ((f * v) << (qp / 6)) >> 5)
  }

  /** Chroma QP from luma QP — PINNED PLACEHOLDER identity mapping (the
    * spec's saturating table is data; see the object doc). */
  private[multimodal] def chromaQp(qpY: Int): Int = qpY

  /** Zigzag scan order for 4x4 blocks (position of scan index i). */
  private[multimodal] val zigzag4x4: Array[Int] =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** Inverse 4x4 luma block scan: blkIdx → (x4, y4) in 4-pel units —
    * 2x2 quadrants of 2x2 blocks, raster within each. */
  private[multimodal] def blkXY(i: Int): (Int, Int) = {
    val x = 2 * ((i >> 2) & 1) + (i & 1)
    val y = 2 * (i >> 3) + ((i >> 1) & 1)
    (x, y)
  }

  private def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  // ------------------------------------------------- intra prediction

  /** Plane-buffer view: `plane` is a (stride × rows) Int array holding
    * reconstructed samples; coordinates may probe one row/col outside
    * the current block for neighbours. */
  private final class Plane(val buf: Array[Int], val stride: Int,
                            val w: Int, val h: Int) {
    def apply(x: Int, y: Int): Int = buf(y * stride + x)
    def update(x: Int, y: Int, v: Int): Unit = buf(y * stride + x) = v
  }

  // 16x16 / chroma prediction modes (luma numbering: 0=V 1=H 2=DC 3=Plane;
  // chroma numbering per spec: 0=DC 1=H 2=V 3=Plane)
  val I16_V = 0; val I16_H = 1; val I16_DC = 2; val I16_PLANE = 3
  val CH_DC = 0; val CH_H = 1; val CH_V = 2; val CH_PLANE = 3

  // 4x4 modes
  val B_V = 0; val B_H = 1; val B_DC = 2; val B_DDL = 3; val B_DDR = 4
  val B_VR = 5; val B_HD = 6; val B_VL = 7; val B_HU = 8

  /** NxN DC / V / H / Plane prediction into `out` (N=16 luma, N=8
    * chroma), spec availability rules: DC falls back to one side or
    * 128; plane uses the H/V gradient form with the >>5 rounding. */
  private def predictNxN(p: Plane, x0: Int, y0: Int, n: Int, mode: Int,
                         lumaNumbering: Boolean): Array[Int] = {
    val hasA = y0 > 0
    val hasL = x0 > 0
    val out = new Array[Int](n * n)
    // translate chroma numbering onto the luma one
    val m =
      if (lumaNumbering) mode
      else mode match {
        case CH_DC => I16_DC; case CH_H => I16_H
        case CH_V => I16_V; case _ => I16_PLANE
      }
    m match {
      case I16_V =>
        require(hasA, "V prediction needs the above row")
        var y = 0
        while (y < n) {
          var x = 0
          while (x < n) { out(y * n + x) = p(x0 + x, y0 - 1); x += 1 }
          y += 1
        }
      case I16_H =>
        require(hasL, "H prediction needs the left column")
        var y = 0
        while (y < n) {
          val v = p(x0 - 1, y0 + y)
          var x = 0
          while (x < n) { out(y * n + x) = v; x += 1 }
          y += 1
        }
      case I16_DC =>
        var s = 0
        if (hasA) { var x = 0; while (x < n) { s += p(x0 + x, y0 - 1); x += 1 } }
        if (hasL) { var y = 0; while (y < n) { s += p(x0 - 1, y0 + y); y += 1 } }
        val dc =
          if (hasA && hasL) (s + n) >> (1 + log2(n))
          else if (hasA || hasL) (s + n / 2) >> log2(n)
          else 128
        java.util.Arrays.fill(out, dc)
      case _ => // plane
        require(hasA && hasL, "plane prediction needs both edges")
        val half = n / 2
        var hAcc = 0; var vAcc = 0
        var i = 1
        while (i <= half) {
          hAcc += i * (p(x0 + half - 1 + i, y0 - 1) - p(x0 + half - 1 - i, y0 - 1))
          vAcc += i * (p(x0 - 1, y0 + half - 1 + i) - p(x0 - 1, y0 + half - 1 - i))
          i += 1
        }
        // spec constants: 16x16 → (5·H+32)>>6; 8x8 chroma → (17·H+16)>>5
        val b = if (n == 16) (5 * hAcc + 32) >> 6 else (17 * hAcc + 16) >> 5
        val c = if (n == 16) (5 * vAcc + 32) >> 6 else (17 * vAcc + 16) >> 5
        val a = 16 * (p(x0 + n - 1, y0 - 1) + p(x0 - 1, y0 + n - 1))
        var y = 0
        while (y < n) {
          var x = 0
          while (x < n) {
            out(y * n + x) =
              clamp255((a + b * (x - half + 1) + c * (y - half + 1) + 16) >> 5)
            x += 1
          }
          y += 1
        }
    }
    out
  }

  private def log2(n: Int): Int = 31 - Integer.numberOfLeadingZeros(n)

  /** Chroma 8x8 DC prediction, spec per-4x4-subblock neighbour rule:
    * sub-block (0,0) averages above+left; (1,0) prefers its above
    * segment; (0,1) prefers its left segment; (1,1) averages both. */
  private def predictChromaDc(p: Plane, x0: Int, y0: Int): Array[Int] = {
    val hasA = y0 > 0
    val hasL = x0 > 0
    val out = new Array[Int](64)
    var sy = 0
    while (sy < 2) {
      var sx = 0
      while (sx < 2) {
        var sA = 0; var sL = 0
        if (hasA) { var x = 0; while (x < 4) { sA += p(x0 + 4 * sx + x, y0 - 1); x += 1 } }
        if (hasL) { var y = 0; while (y < 4) { sL += p(x0 - 1, y0 + 4 * sy + y); y += 1 } }
        val useA = hasA && (sx == sy || sx == 1)
        val useL = hasL && (sx == sy || sy == 1)
        val dc =
          if (useA && useL && sx == sy) (sA + sL + 4) >> 3
          else if (useA && (sx == 1 || !useL)) (sA + 2) >> 2
          else if (useL) (sL + 2) >> 2
          else if (useA) (sA + 2) >> 2
          else 128
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { out((4 * sy + y) * 8 + 4 * sx + x) = dc; x += 1 }
          y += 1
        }
        sx += 1
      }
      sy += 1
    }
    out
  }

  /** 4x4 intra prediction (all nine modes) into a 16-element array.
    * `hasAR` — above-right availability; when absent the spec
    * substitutes the rightmost above sample. */
  private[multimodal] def predict4x4(p: Plane, x0: Int, y0: Int, mode: Int,
                                     hasAR: Boolean): Array[Int] = {
    val hasA = y0 > 0
    val hasL = x0 > 0
    val out = new Array[Int](16)
    // neighbour fetch with the above-right substitution
    def A(i: Int): Int =
      if (i <= 3) p(x0 + i, y0 - 1)
      else if (hasAR) p(x0 + i, y0 - 1)
      else p(x0 + 3, y0 - 1)
    def L(i: Int): Int = p(x0 - 1, y0 + i)
    def X: Int = p(x0 - 1, y0 - 1) // above-left
    @inline def avg2(a: Int, b: Int) = (a + b + 1) >> 1
    @inline def avg3(a: Int, b: Int, c: Int) = (a + 2 * b + c + 2) >> 2
    mode match {
      case B_V =>
        require(hasA)
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { out(4 * y + x) = A(x); x += 1 }; y += 1 }
      case B_H =>
        require(hasL)
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { out(4 * y + x) = L(y); x += 1 }; y += 1 }
      case B_DC =>
        var s = 0
        if (hasA) s += A(0) + A(1) + A(2) + A(3)
        if (hasL) s += L(0) + L(1) + L(2) + L(3)
        val dc =
          if (hasA && hasL) (s + 4) >> 3
          else if (hasA || hasL) (s + 2) >> 2
          else 128
        java.util.Arrays.fill(out, dc)
      case B_DDL =>
        require(hasA)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(4 * y + x) =
              if (x == 3 && y == 3) avg3(A(6), A(7), A(7))
              else avg3(A(x + y), A(x + y + 1), A(x + y + 2))
            x += 1
          }
          y += 1
        }
      case B_DDR =>
        require(hasA && hasL)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(4 * y + x) =
              if (x > y) avg3(A(x - y - 2), A(x - y - 1), A(x - y))
              else if (x < y) avg3(L(y - x - 2), L(y - x - 1), L(y - x))
              else avg3(A(0), X, L(0))
            x += 1
          }
          y += 1
        }
      case B_VR =>
        require(hasA && hasL)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val z = 2 * x - y
            out(4 * y + x) =
              if (z >= 0 && (z & 1) == 0)
                avg2(if (x - (y >> 1) - 1 < 0) X else A(x - (y >> 1) - 1),
                     A(x - (y >> 1)))
              else if (z >= 0)
                avg3(if (x - (y >> 1) - 2 < 0) X else A(x - (y >> 1) - 2),
                     if (x - (y >> 1) - 1 < 0) X else A(x - (y >> 1) - 1),
                     A(x - (y >> 1)))
              else if (z == -1) avg3(L(0), X, A(0))
              else avg3(L(y - 2 * x - 1), L(y - 2 * x - 2), L(y - 2 * x - 3))
            x += 1
          }
          y += 1
        }
      case B_HD =>
        require(hasA && hasL)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val z = 2 * y - x
            out(4 * y + x) =
              if (z >= 0 && (z & 1) == 0)
                avg2(if (y - (x >> 1) - 1 < 0) X else L(y - (x >> 1) - 1),
                     L(y - (x >> 1)))
              else if (z >= 0)
                avg3(if (y - (x >> 1) - 2 < 0) X else L(y - (x >> 1) - 2),
                     if (y - (x >> 1) - 1 < 0) X else L(y - (x >> 1) - 1),
                     L(y - (x >> 1)))
              else if (z == -1) avg3(A(0), X, L(0))
              else avg3(A(x - 2 * y - 1), A(x - 2 * y - 2), A(x - 2 * y - 3))
            x += 1
          }
          y += 1
        }
      case B_VL =>
        require(hasA)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(4 * y + x) =
              if ((y & 1) == 0) avg2(A(x + (y >> 1)), A(x + (y >> 1) + 1))
              else avg3(A(x + (y >> 1)), A(x + (y >> 1) + 1), A(x + (y >> 1) + 2))
            x += 1
          }
          y += 1
        }
      case B_HU =>
        require(hasL)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val z = x + 2 * y
            out(4 * y + x) =
              if (z > 5) L(3)
              else if (z == 5) avg3(L(2), L(3), L(3))
              else if ((z & 1) == 0) avg2(L(y + (x >> 1)), L(y + (x >> 1) + 1))
              else avg3(L(y + (x >> 1)), L(y + (x >> 1) + 1), L(y + (x >> 1) + 2))
            x += 1
          }
          y += 1
        }
      case other => throw new IllegalArgumentException(s"mode $other")
    }
    out
  }

  // ------------------------------------------------------------ CAVLC

  /** Valid (totalCoeff, trailingOnes) symbols, canonical enumeration —
    * 62 for the luma/chroma-AC alphabet (tc ≤ 16), 14 for chroma DC
    * (tc ≤ 4). */
  private def ctSymbols(maxTc: Int): Array[(Int, Int)] =
    (for { tc <- 0 to maxTc; t1 <- 0 to math.min(3, tc) } yield (tc, t1))
      .toArray
  private val ctSymsLuma = ctSymbols(16)
  private val ctSymsChromaDc = ctSymbols(4)
  private val ctRankLuma = ctSymsLuma.zipWithIndex.toMap
  private val ctRankChromaDc = ctSymsChromaDc.zipWithIndex.toMap

  /** coeff_token context from nC — REAL spec rule: classes [0,2), [2,4),
    * [4,8), ≥8 (FLC), and the chroma-DC context for nC == −1. */
  private def ctCtx(nC: Int): Int =
    if (nC == -1) 4
    else if (nC < 2) 0 else if (nC < 4) 1 else if (nC < 8) 2 else 3

  /** Placeholder coeff_token code for the non-FLC contexts: the symbol
    * rank is permuted per context (so the nC context machinery is
    * load-bearing — a wrong context mis-decodes), then coded with a
    * prefix-free gamma-4 code (unary quotient, 2-bit remainder).
    * PINNED PLACEHOLDER code ASSIGNMENT (see the object doc); the
    * alphabet and context selection are the spec's. */
  private def ctPermute(rank: Int, ctx: Int, n: Int): Int =
    (rank + 7 * (ctx + 1)) % n
  private def ctUnpermute(pidx: Int, ctx: Int, n: Int): Int =
    ((pidx - 7 * (ctx + 1)) % n + n) % n

  private def ctWrite(bw: BitWriter, nC: Int, tc: Int, t1: Int): Unit = {
    val ctx = ctCtx(nC)
    if (ctx == 3) {
      // REAL nC ≥ 8 6-bit FLC: ((tc−1)<<2)|t1, with (0,0) → 0b000011
      // (the slot of the impossible (1,3) pair)
      val code = if (tc == 0) 3 else ((tc - 1) << 2) | t1
      bw.bits(code, 6)
    } else {
      val (syms, rank) =
        if (ctx == 4) (ctSymsChromaDc, ctRankChromaDc((tc, t1)))
        else (ctSymsLuma, ctRankLuma((tc, t1)))
      val pidx = ctPermute(rank, ctx, syms.length)
      var q = pidx >> 2
      while (q > 0) { bw.bit(1); q -= 1 }
      bw.bit(0)
      bw.bits(pidx & 3, 2)
    }
  }

  private def ctRead(br: BitReader, nC: Int): (Int, Int) = {
    val ctx = ctCtx(nC)
    if (ctx == 3) {
      val code = br.bits(6)
      if (code == 3) (0, 0) else ((code >> 2) + 1, code & 3)
    } else {
      val syms = if (ctx == 4) ctSymsChromaDc else ctSymsLuma
      var q = 0
      while (br.bit() == 1 && q < 64) q += 1
      val pidx = (q << 2) | br.bits(2)
      val rank = ctUnpermute(math.min(pidx, syms.length - 1), ctx, syms.length)
      syms(rank)
    }
  }

  /** Alphabet-sized FLC — the PINNED PLACEHOLDER code assignment for
    * total_zeros / run_before (alphabets and bookkeeping are real). */
  private def flcWidth(alphabet: Int): Int =
    if (alphabet <= 1) 0 else 32 - Integer.numberOfLeadingZeros(alphabet - 1)
  private def flcWrite(bw: BitWriter, v: Int, alphabet: Int): Unit =
    bw.bits(v, flcWidth(alphabet))
  private def flcRead(br: BitReader, alphabet: Int): Int = {
    val v = br.bits(flcWidth(alphabet))
    math.min(v, alphabet - 1)
  }

  /** Decode one level given the current suffixLength — the REAL spec
    * algorithm: unary level_prefix, the 14/15/16 escape ranges, the
    * levelCode→level zig mapping. */
  private def levelRead(br: BitReader, suffixLength: Int): Int = {
    var prefix = 0
    while (br.bit() == 0 && prefix < 32) prefix += 1
    val suffixSize =
      if (prefix == 14 && suffixLength == 0) 4
      else if (prefix >= 15) prefix - 3
      else suffixLength
    var levelCode = (math.min(15, prefix) << suffixLength) +
      (if (suffixSize > 0) br.bits(suffixSize) else 0)
    if (prefix >= 15 && suffixLength == 0) levelCode += 15
    if (prefix >= 16) levelCode += (1 << (prefix - 3)) - 4096
    if ((levelCode & 1) == 0) (levelCode + 2) >> 1 else -((levelCode + 1) >> 1)
  }

  /** Encode one level — chooses the minimal prefix whose decode range
    * contains levelCode, exactly inverting [[levelRead]]. */
  private def levelWrite(bw: BitWriter, level: Int, suffixLength: Int): Unit = {
    val levelCode = if (level > 0) 2 * level - 2 else -2 * level - 1
    def emit(prefix: Int, suffix: Int, suffixSize: Int): Unit = {
      var i = 0
      while (i < prefix) { bw.bit(0); i += 1 }
      bw.bit(1)
      if (suffixSize > 0) bw.bits(suffix, suffixSize)
    }
    if (suffixLength == 0) {
      if (levelCode < 14) emit(levelCode, 0, 0)
      else if (levelCode < 30) emit(14, levelCode - 14, 4)
      else {
        require(levelCode < 30 + 4096, s"level $level out of coded range")
        emit(15, levelCode - 30, 12)
      }
    } else {
      if (levelCode < (15 << suffixLength))
        emit(levelCode >> suffixLength,
          levelCode & ((1 << suffixLength) - 1), suffixLength)
      else {
        require(levelCode < (15 << suffixLength) + 4096,
          s"level $level out of coded range")
        emit(15, levelCode - (15 << suffixLength), 12)
      }
    }
  }

  /** suffixLength init + adaptation — REAL spec thresholds. */
  private def slInit(tc: Int, t1: Int): Int =
    if (tc > 10 && t1 < 3) 1 else 0
  private def slAdapt(suffixLength: Int, level: Int): Int = {
    var sl = if (suffixLength == 0) 1 else suffixLength
    if (math.abs(level) > (3 << (sl - 1)) && sl < 6) sl + 1 else sl
  }

  /** Decode one residual block: returns (coeffs in SCAN order, length
    * maxCoeffs, and totalCoeff for nC bookkeeping). */
  private[multimodal] def cavlcRead(br: BitReader, nC: Int,
                                    maxCoeffs: Int): (Array[Int], Int) = {
    val out = new Array[Int](maxCoeffs)
    val (tc, t1) = ctRead(br, nC)
    // hostile input: the nC≥8 FLC can name tc up to 16 even for 15- or
    // 4-coeff blocks — treat as structurally empty rather than throw
    if (tc == 0 || tc > maxCoeffs) return (out, 0)
    val levels = new Array[Int](tc)
    var i = 0
    while (i < t1) {
      levels(i) = if (br.bit() == 1) -1 else 1
      i += 1
    }
    var sl = slInit(tc, t1)
    while (i < tc) {
      var lvl = levelRead(br, sl)
      if (i == t1 && t1 < 3) // the first coded level is |l|≥2: decode +2
        lvl = if (lvl > 0) lvl + 1 else lvl - 1
      levels(i) = lvl
      sl = slAdapt(sl, lvl)
      i += 1
    }
    val totalZeros =
      if (tc < maxCoeffs) flcRead(br, maxCoeffs - tc + 1) else 0
    var zerosLeft = totalZeros
    var scanPos = tc + totalZeros - 1
    i = 0
    while (i < tc) {
      out(math.max(0, scanPos)) = levels(i)
      if (i < tc - 1) {
        val run = if (zerosLeft > 0) flcRead(br, zerosLeft + 1) else 0
        zerosLeft -= run
        scanPos -= 1 + run
      }
      i += 1
    }
    (out, tc)
  }

  /** Encode one residual block (coeffs in SCAN order). Returns
    * totalCoeff. */
  private[multimodal] def cavlcWrite(bw: BitWriter, nC: Int,
                                     coeffs: Array[Int],
                                     maxCoeffs: Int): Int = {
    val nz = (0 until maxCoeffs).filter(coeffs(_) != 0)
    val tc = nz.length
    if (tc == 0) { ctWrite(bw, nC, 0, 0); return 0 }
    // decoding order: highest scan position first
    val desc = nz.reverse
    var t1 = 0
    while (t1 < math.min(3, tc) && math.abs(coeffs(desc(t1))) == 1) t1 += 1
    ctWrite(bw, nC, tc, t1)
    var i = 0
    while (i < t1) {
      bw.bit(if (coeffs(desc(i)) < 0) 1 else 0)
      i += 1
    }
    var sl = slInit(tc, t1)
    while (i < tc) {
      val lvl0 = coeffs(desc(i))
      require(math.abs(lvl0) >= (if (i == t1 && t1 < 3) 2 else 1),
        "first coded level after <3 trailing ones must be |l|>=2")
      val lvl =
        if (i == t1 && t1 < 3) { if (lvl0 > 0) lvl0 - 1 else lvl0 + 1 }
        else lvl0
      levelWrite(bw, lvl, sl)
      sl = slAdapt(sl, lvl0) // decode adapts on the ADJUSTED (full) level
      i += 1
    }
    val totalZeros = desc.head + 1 - tc
    if (tc < maxCoeffs) flcWrite(bw, totalZeros, maxCoeffs - tc + 1)
    var zerosLeft = totalZeros
    i = 0
    while (i < tc - 1) {
      val run = desc(i) - desc(i + 1) - 1
      if (zerosLeft > 0) flcWrite(bw, run, zerosLeft + 1)
      zerosLeft -= run
      i += 1
    }
    tc
  }

  // ----------------------------------------------------- frame layer

  final case class Frame(width: Int, height: Int, y: Array[Int],
                         u: Array[Int], v: Array[Int])

  /** Encoder input for one macroblock: prediction modes plus quantised
    * coefficient levels in SCAN order ([[zigzag4x4]] for 4x4 blocks and
    * the luma-DC block; raster for the 2x2 chroma DC). For I_16x16,
    * `lumaAc` index 0 of each block is ignored (AC blocks code scan
    * positions 1..15). */
  final case class MbSpec(
      mbType: Int, // 0 = I_4x4, 1 = I_16x16, 2 = I_PCM
      pcmY: Array[Int] = null, // 256 raw luma samples (I_PCM)
      pcmCb: Array[Int] = null, // 64 raw Cb samples (I_PCM)
      pcmCr: Array[Int] = null, // 64 raw Cr samples (I_PCM)
      i16Mode: Int = I16_DC,
      b4Modes: Array[Int] = Array.fill(16)(B_DC),
      chromaMode: Int = CH_DC,
      lumaDc: Array[Int] = new Array[Int](16),
      lumaAc: Array[Array[Int]] = Array.fill(16)(new Array[Int](16)),
      cbDc: Array[Int] = new Array[Int](4),
      crDc: Array[Int] = new Array[Int](4),
      cbAc: Array[Array[Int]] = Array.fill(4)(new Array[Int](16)),
      crAc: Array[Array[Int]] = Array.fill(4)(new Array[Int](16)),
      qpDelta: Int = 0)

  private val MB_I4x4 = 0
  val MB_PCM = 2

  /** Scan-order coeffs → raster 4x4 via [[zigzag4x4]], with position 0
    * replaced by a pre-scaled DC; dequant applies to scan 1..15 only. */
  private def acResidual(scan: Array[Int], dc: Int, qp: Int): Array[Int] = {
    val raster = new Array[Int](16)
    var i = 1
    while (i < 16) {
      val pos = zigzag4x4(i)
      raster(pos) = scan(i) * vTab(qp % 6, posClass(pos)) << (qp / 6)
      i += 1
    }
    raster(0) = dc
    icore4x4(raster).map(v => (v + 32) >> 6)
  }

  /** Full 4x4 block residual from scan-order coeffs (I_4x4 path). */
  private def fullResidual(scan: Array[Int], qp: Int): Array[Int] = {
    val raster = new Array[Int](16)
    var i = 0
    while (i < 16) { raster(zigzag4x4(i)) = scan(i); i += 1 }
    residual4x4(raster, qp)
  }

  /** Quadrant-order position of the 4x4 block at in-MB (x4, y4). */
  private def blkIdxOf(x4: Int, y4: Int): Int =
    ((y4 >> 1) << 3) | ((x4 >> 1) << 2) | ((y4 & 1) << 1) | (x4 & 1)

  /** Decode-order key of the ABSOLUTE 4x4 block (bx, by) — MB raster
    * index then in-MB quadrant order; drives above-right availability. */
  private def decodeOrder(bx: Int, by: Int, mbW: Int): Int =
    ((by >> 2) * mbW + (bx >> 2)) * 16 + blkIdxOf(bx & 3, by & 3)

  /** Shared per-frame decoding state: reconstructed planes (padded to
    * MB multiples) and the nC / pred-mode bookkeeping grids. */
  private final class FrameState(val mbW: Int, val mbH: Int) {
    val yPlane = new Plane(new Array[Int](mbW * 16 * mbH * 16), mbW * 16,
      mbW * 16, mbH * 16)
    val uPlane = new Plane(new Array[Int](mbW * 8 * mbH * 8), mbW * 8,
      mbW * 8, mbH * 8)
    val vPlane = new Plane(new Array[Int](mbW * 8 * mbH * 8), mbW * 8,
      mbW * 8, mbH * 8)
    // totalCoeff per 4x4 block for nC (luma 4x4 grid; chroma 2x2 per MB)
    val tcY = Array.fill(mbH * 4, mbW * 4)(-1) // -1 = not yet decoded
    val tcCb = Array.fill(mbH * 2, mbW * 2)(-1)
    val tcCr = Array.fill(mbH * 2, mbW * 2)(-1)
    // intra 4x4 pred mode per block (2 = DC for non-I4x4 MBs)
    val modeY = Array.fill(mbH * 4, mbW * 4)(-1)
    // per-MB QP after mb_qp_delta — drives the deblocking thresholds
    val mbQp = new Array[Int](mbW * mbH)
    // CABAC neighbour-context grids: MB type / chroma mode / cbp halves
    // / per-MB DC coded-block flags (-1 = not yet decoded)
    val mbTypeArr = Array.fill(mbW * mbH)(-1)
    val chromaModeArr = Array.fill(mbW * mbH)(-1)
    val mbCbpLuma = Array.fill(mbW * mbH)(-1)
    val mbCbpChroma = Array.fill(mbW * mbH)(-1)
    val dcFlagY = Array.fill(mbW * mbH)(-1)
    val dcFlagCb = Array.fill(mbW * mbH)(-1)
    val dcFlagCr = Array.fill(mbW * mbH)(-1)

    def nc(tc: Array[Array[Int]], bx: Int, by: Int): Int = {
      val nA = if (bx > 0) tc(by)(bx - 1) else -1
      val nB = if (by > 0) tc(by - 1)(bx) else -1
      if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
      else if (nA >= 0) nA
      else if (nB >= 0) nB
      else 0
    }

    /** predIntra4x4PredMode: min of neighbours, DC when unavailable. */
    def predMode(bx: Int, by: Int): Int = {
      val mA = if (bx > 0) modeY(by)(bx - 1) else -1
      val mB = if (by > 0) modeY(by - 1)(bx) else -1
      if (mA < 0 || mB < 0) B_DC else math.min(mA, mB)
    }

    def hasAboveRight(bx: Int, by: Int): Boolean =
      by > 0 && bx + 1 < mbW * 4 &&
        decodeOrder(bx + 1, by - 1, mbW) < decodeOrder(bx, by, mbW)
  }

  // ------------------------------------------------------- SPS / PPS

  private def writeSps(mbW: Int, mbH: Int, width: Int,
                       height: Int): Array[Byte] = {
    val bw = new BitWriter
    bw.bits(66, 8) // profile_idc: Baseline
    bw.bits(0, 8)  // constraint flags + reserved
    bw.bits(10, 8) // level_idc
    bw.ue(0)       // sps_id
    bw.ue(0)       // log2_max_frame_num_minus4
    bw.ue(2)       // pic_order_cnt_type
    bw.ue(0)       // max_num_ref_frames
    bw.bit(0)      // gaps_in_frame_num_value_allowed
    bw.ue(mbW - 1)
    bw.ue(mbH - 1)
    bw.bit(1)      // frame_mbs_only
    bw.bit(1)      // direct_8x8_inference
    val cropR = (mbW * 16 - width) / 2
    val cropB = (mbH * 16 - height) / 2
    if (cropR > 0 || cropB > 0) {
      bw.bit(1)
      bw.ue(0); bw.ue(cropR); bw.ue(0); bw.ue(cropB)
    } else bw.bit(0)
    bw.bit(0)      // vui_parameters_present
    bw.trailing()
    bw.bytes()
  }

  private final case class Sps(mbW: Int, mbH: Int, width: Int, height: Int)

  private def readSps(rbsp: Array[Byte]): Option[Sps] = {
    val br = new BitReader(rbsp)
    val profile = br.bits(8)
    br.bits(8); br.bits(8)
    if (br.ue() != 0) return None // sps_id
    br.ue() // log2_max_frame_num_minus4
    val poc = br.ue()
    if (poc == 0) br.ue() // log2_max_pic_order_cnt_lsb_minus4
    else if (poc == 1) return None // not emitted by us
    br.ue() // max_num_ref_frames
    br.bit()
    val mbW = br.ue() + 1
    val mbH = br.ue() + 1
    val frameMbsOnly = br.bit()
    if (frameMbsOnly == 0) br.bit() // mb_adaptive
    br.bit() // direct_8x8
    var width = mbW * 16; var height = mbH * 16
    if (br.bit() == 1) {
      val l = br.ue(); val r = br.ue(); val t = br.ue(); val b = br.ue()
      // hostile input: ue() can overflow Int — negative offsets would
      // GROW the frame past the decoded MB grid
      if (l < 0 || r < 0 || t < 0 || b < 0) return None
      width -= 2 * (l + r)
      height -= 2 * (t + b)
    }
    // the 1024-MB-side / 2^16-MB caps bound hostile allocations
    if (profile != 66 || mbW <= 0 || mbH <= 0 || mbW > 1024 || mbH > 1024 ||
        mbW * mbH > (1 << 16) ||
        width <= 0 || height <= 0 || width > mbW * 16 || height > mbH * 16)
      None
    else Some(Sps(mbW, mbH, width, height))
  }

  private def writePps(initQp: Int, cabac: Boolean = false): Array[Byte] = {
    val bw = new BitWriter
    bw.ue(0)       // pps_id
    bw.ue(0)       // sps_id
    bw.bit(if (cabac) 1 else 0) // entropy_coding_mode
    bw.bit(0)      // bottom_field_pic_order_in_frame_present
    bw.ue(0)       // num_slice_groups_minus1
    bw.ue(0)       // num_ref_idx_l0_default_active_minus1
    bw.ue(0)       // num_ref_idx_l1_default_active_minus1
    bw.bit(0)      // weighted_pred
    bw.bits(0, 2)  // weighted_bipred_idc
    bw.se(initQp - 26)
    bw.se(0)       // pic_init_qs
    bw.se(0)       // chroma_qp_index_offset
    bw.bit(1)      // deblocking_filter_control_present
    bw.bit(0)      // constrained_intra_pred
    bw.bit(0)      // redundant_pic_cnt_present
    bw.trailing()
    bw.bytes()
  }

  private def readPps(rbsp: Array[Byte]): Option[(Int, Boolean)] = {
    val br = new BitReader(rbsp)
    if (br.ue() != 0 || br.ue() != 0) return None
    val cabac = br.bit() == 1
    br.bit()
    if (br.ue() != 0) return None // slice groups unsupported
    br.ue(); br.ue(); br.bit(); br.bits(2)
    val initQp = br.se() + 26
    br.se(); br.se()
    br.bit() // deblocking control present (we always emit 1)
    br.bit(); br.bit()
    Some((initQp, cabac))
  }

  // -------------------------------------------------------- decoding

  /** Add a 4x4 residual onto a prediction patch and store clamped. */
  private def addBlock4(plane: Plane, x0: Int, y0: Int,
                        pred: Array[Int], predStride: Int,
                        px: Int, py: Int, res: Array[Int]): Unit = {
    var y = 0
    while (y < 4) {
      var x = 0
      while (x < 4) {
        plane(x0 + x, y0 + y) =
          clamp255(pred((py + y) * predStride + px + x) + res(4 * y + x))
        x += 1
      }
      y += 1
    }
  }

  /** 15-coeff AC read widened to a 16-slot scan array (idx 0 = 0). */
  private def cavlcReadAc(br: BitReader, nC: Int): (Array[Int], Int) = {
    val (a15, tc) = cavlcRead(br, nC, 15)
    val scan = new Array[Int](16)
    System.arraycopy(a15, 0, scan, 1, 15)
    (scan, tc)
  }

  private def cavlcWriteAc(bw: BitWriter, nC: Int,
                           scan: Array[Int]): Int = {
    val a15 = new Array[Int](15)
    System.arraycopy(scan, 1, a15, 0, 15)
    cavlcWrite(bw, nC, a15, 15)
  }

  /** Chroma residual + reconstruction for one MB (both components) —
    * spec order: Cb DC, Cr DC, then Cb AC ×4, Cr AC ×4. */
  private def decodeChroma(br: BitReader, st: FrameState, mbX: Int,
                           mbY: Int, chromaMode: Int, cbpC: Int,
                           qpY: Int): Unit = {
    val qpc = chromaQp(qpY)
    val cx0 = mbX * 8; val cy0 = mbY * 8
    def predOf(p: Plane): Array[Int] =
      if (chromaMode == CH_DC) predictChromaDc(p, cx0, cy0)
      else predictNxN(p, cx0, cy0, 8, chromaMode, lumaNumbering = false)
    val predU = predOf(st.uPlane)
    val predV = predOf(st.vPlane)
    val uDcScan = if (cbpC > 0) cavlcRead(br, -1, 4)._1 else new Array[Int](4)
    val vDcScan = if (cbpC > 0) cavlcRead(br, -1, 4)._1 else new Array[Int](4)
    val uDc = chromaDc(uDcScan, qpc)
    val vDc = chromaDc(vDcScan, qpc)
    var comp = 0
    while (comp < 2) {
      val (plane, pred, dcs, tcGrid) =
        if (comp == 0) (st.uPlane, predU, uDc, st.tcCb)
        else (st.vPlane, predV, vDc, st.tcCr)
      var b = 0
      while (b < 4) {
        val bx = mbX * 2 + (b & 1)
        val by = mbY * 2 + (b >> 1)
        val (acScan, tc) =
          if (cbpC == 2) cavlcReadAc(br, st.nc(tcGrid, bx, by))
          else (new Array[Int](16), 0)
        tcGrid(by)(bx) = tc
        val res = acResidual(acScan, dcs(b), qpc)
        addBlock4(plane, cx0 + (b & 1) * 4, cy0 + (b >> 1) * 4,
          pred, 8, (b & 1) * 4, (b >> 1) * 4, res)
        b += 1
      }
      comp += 1
    }
  }

  /** Decode one macroblock; returns the updated slice QP or None on a
    * structurally invalid stream. */
  private def decodeMb(br: BitReader, st: FrameState, mbX: Int,
                       mbY: Int, qpIn: Int): Option[Int] = {
    val mbType = br.ue()
    if (mbType > 25) return None // out of I-slice range
    var qp = qpIn
    val x0 = mbX * 16; val y0 = mbY * 16
    if (mbType == 25) {
      // ---- I_PCM: byte-aligned raw samples, the lossless escape
      br.byteAlign()
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) { st.yPlane(x0 + x, y0 + y) = br.bits(8); x += 1 }
        y += 1
      }
      val cx0 = mbX * 8; val cy0 = mbY * 8
      var c = 0
      while (c < 2) {
        val plane = if (c == 0) st.uPlane else st.vPlane
        var cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 8) { plane(cx0 + cx, cy0 + cy) = br.bits(8); cx += 1 }
          cy += 1
        }
        c += 1
      }
      pcmBookkeep(st, mbX, mbY)
      return Some(qp)
    }
    if (mbType == 0) {
      // ---- I_4x4
      val modes = new Array[Int](16)
      var b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val pred = st.predMode(bx, by)
        val mode =
          if (br.bit() == 1) pred
          else { val rem = br.bits(3); if (rem < pred) rem else rem + 1 }
        modes(b) = mode
        st.modeY(by)(bx) = mode
        b += 1
      }
      val chromaMode = br.ue()
      if (chromaMode > 3) return None
      val cbp = br.ue() // PINNED PLACEHOLDER identity me(v) mapping
      if (cbp > 47) return None
      val cbpL = cbp & 15; val cbpC = cbp >> 4
      if (cbp != 0) qp += br.se()
      if (qp < 0 || qp > 51) return None
      b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val (coeffs, tc) =
          if ((cbpL & (1 << (b >> 2))) != 0)
            cavlcRead(br, st.nc(st.tcY, bx, by), 16)
          else (new Array[Int](16), 0)
        st.tcY(by)(bx) = tc
        val pred = predict4x4(st.yPlane, bx * 4, by * 4, modes(b),
          st.hasAboveRight(bx, by))
        addBlock4(st.yPlane, bx * 4, by * 4, pred, 4, 0, 0,
          fullResidual(coeffs, qp))
        b += 1
      }
      decodeChroma(br, st, mbX, mbY, chromaMode, cbpC, qp)
      st.mbQp(mbY * st.mbW + mbX) = qp
      Some(qp)
    } else {
      // ---- I_16x16: mb_type packs (pm, cbpChroma, cbpLuma)
      val t = mbType - 1
      val pm = t % 4
      val cbpC = (t / 4) % 3
      val cbpL = if (t >= 12) 15 else 0
      val chromaMode = br.ue()
      if (chromaMode > 3) return None
      qp += br.se()
      if (qp < 0 || qp > 51) return None
      var y4 = 0
      while (y4 < 4) {
        var x4 = 0
        while (x4 < 4) { st.modeY(mbY * 4 + y4)(mbX * 4 + x4) = B_DC; x4 += 1 }
        y4 += 1
      }
      val (dcScan, _) = cavlcRead(br, st.nc(st.tcY, mbX * 4, mbY * 4), 16)
      val dcRaster = new Array[Int](16)
      var i = 0
      while (i < 16) { dcRaster(zigzag4x4(i)) = dcScan(i); i += 1 }
      val dcs = ihadamard4x4(dcRaster).map(f => scaleLumaDc(f, qp))
      val pred16 = predictNxN(st.yPlane, x0, y0, 16, pm, lumaNumbering = true)
      var b = 0
      while (b < 16) {
        val (x4, y4b) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4b
        val (acScan, tc) =
          if (cbpL != 0) cavlcReadAc(br, st.nc(st.tcY, bx, by))
          else (new Array[Int](16), 0)
        st.tcY(by)(bx) = tc
        val res = acResidual(acScan, dcs(y4b * 4 + x4), qp)
        addBlock4(st.yPlane, x0 + x4 * 4, y0 + y4b * 4,
          pred16, 16, x4 * 4, y4b * 4, res)
        b += 1
      }
      decodeChroma(br, st, mbX, mbY, chromaMode, cbpC, qp)
      st.mbQp(mbY * st.mbW + mbX) = qp
      Some(qp)
    }
  }

  // ------------------------------------------------ CABAC slice layer

  import H264Cabac.{CAT_LUMA_DC, CAT_LUMA_AC, CAT_LUMA_4x4, CAT_CHROMA_DC,
    CAT_CHROMA_AC}

  private def mbi(st: FrameState, mbX: Int, mbY: Int): Int =
    mbY * st.mbW + mbX

  /** mb_type bin-0 context: neighbours that are NOT I_4x4. */
  private def mbTypeInc(st: FrameState, mbX: Int, mbY: Int): Int = {
    val a = if (mbX > 0) st.mbTypeArr(mbi(st, mbX - 1, mbY)) else -1
    val b = if (mbY > 0) st.mbTypeArr(mbi(st, mbX, mbY - 1)) else -1
    (if (a > 0) 1 else 0) + (if (b > 0) 1 else 0)
  }

  private def chromaModeInc(st: FrameState, mbX: Int, mbY: Int): Int = {
    val a = if (mbX > 0) st.chromaModeArr(mbi(st, mbX - 1, mbY)) else -1
    val b = if (mbY > 0) st.chromaModeArr(mbi(st, mbX, mbY - 1)) else -1
    (if (a > 0) 1 else 0) + (if (b > 0) 1 else 0)
  }

  /** cbp luma-bin context: condA + 2·condB over the ZERO-ness of the
    * left/above 8x8 quadrant's bit (own already-decoded bits inside
    * the MB, the neighbour MB's stored cbp across its edge). */
  private def cbpLumaInc(st: FrameState, mbX: Int, mbY: Int,
                         cbpSoFar: Int, q: Int): Int = {
    val condA =
      if ((q & 1) == 1) { if (((cbpSoFar >> (q - 1)) & 1) == 0) 1 else 0 }
      else if (mbX > 0) {
        val c = st.mbCbpLuma(mbi(st, mbX - 1, mbY))
        if (c >= 0 && ((c >> (q + 1)) & 1) == 0) 1 else 0
      } else 0
    val condB =
      if (q >= 2) { if (((cbpSoFar >> (q - 2)) & 1) == 0) 1 else 0 }
      else if (mbY > 0) {
        val c = st.mbCbpLuma(mbi(st, mbX, mbY - 1))
        if (c >= 0 && ((c >> (q + 2)) & 1) == 0) 1 else 0
      } else 0
    condA + 2 * condB
  }

  private def cbpChromaInc(st: FrameState, mbX: Int, mbY: Int,
                           two: Boolean): Int = {
    def cond(i: Int): Int = {
      val c = if (i >= 0) st.mbCbpChroma(i) else -1
      if (c < 0) 0
      else if (two) { if (c == 2) 1 else 0 }
      else { if (c > 0) 1 else 0 }
    }
    cond(if (mbX > 0) mbi(st, mbX - 1, mbY) else -1) +
      2 * cond(if (mbY > 0) mbi(st, mbX, mbY - 1) else -1)
  }

  /** coded_block_flag context: left + 2·above flags from the
    * coefficient grids (unavailable → 0). */
  private def cbfIncGrid(tc: Array[Array[Int]], bx: Int, by: Int): Int = {
    val a = if (bx > 0) tc(by)(bx - 1) else -1
    val b = if (by > 0) tc(by - 1)(bx) else -1
    (if (a > 0) 1 else 0) + 2 * (if (b > 0) 1 else 0)
  }

  private def cbfIncMb(flags: Array[Int], st: FrameState, mbX: Int,
                       mbY: Int): Int = {
    val a = if (mbX > 0) flags(mbi(st, mbX - 1, mbY)) else -1
    val b = if (mbY > 0) flags(mbi(st, mbX, mbY - 1)) else -1
    (if (a > 0) 1 else 0) + 2 * (if (b > 0) 1 else 0)
  }

  /** mb_qp_delta, CABAC: unary-coded signed map (d>0 → 2d−1, else
    * −2d), bin 0 keyed by the previous MB's delta. */
  private def qpdRead(rd: H264Cabac.Reader, prevNz: Boolean): Int = {
    var k = 0
    while (rd.decision(if (k == 0) H264Cabac.ctxQpd0(prevNz)
                       else H264Cabac.ctxQpdRest) == 1 && k < 120) k += 1
    if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
  }

  private def qpdWrite(wr: H264Cabac.Writer, prevNz: Boolean,
                       d: Int): Unit = {
    val k = if (d > 0) 2 * d - 1 else -2 * d
    var i = 0
    while (i < k) {
      wr.decision(if (i == 0) H264Cabac.ctxQpd0(prevNz)
                  else H264Cabac.ctxQpdRest, 1)
      i += 1
    }
    wr.decision(if (k == 0) H264Cabac.ctxQpd0(prevNz)
                else H264Cabac.ctxQpdRest, 0)
  }

  /** One residual block, CABAC: coded_block_flag, the significance +
    * last maps in scan order, levels (UEG0 with the c1/c2 context
    * scheme) in reverse scan order, bypass signs. Returns (coeffs in
    * block-scan space 0..numCoeff−1, totalCoeff). */
  private def cabacBlockRead(rd: H264Cabac.Reader, cat: Int, cbfInc: Int,
                             numCoeff: Int): (Array[Int], Int) = {
    val out = new Array[Int](numCoeff)
    if (rd.decision(H264Cabac.ctxCbf(cat, cbfInc)) == 0) return (out, 0)
    val sig = new Array[Boolean](numCoeff)
    var lastPos = numCoeff - 1
    var i = 0
    var stop = false
    while (i < numCoeff - 1 && !stop) {
      if (rd.decision(H264Cabac.ctxSig(cat, i)) == 1) {
        sig(i) = true
        if (rd.decision(H264Cabac.ctxLast(cat, i)) == 1) {
          lastPos = i; stop = true
        }
      }
      i += 1
    }
    if (!stop) sig(numCoeff - 1) = true
    var numEq1 = 0; var numGt1 = 0; var tc = 0
    var p = lastPos
    while (p >= 0) {
      if (sig(p)) {
        val prefix = rd.tu(H264Cabac.ctxLvlBin0(cat, numEq1, numGt1),
          H264Cabac.ctxLvlRest(cat, numGt1), 14)
        val minus1 = if (prefix == 14) 14 + rd.eg0Bypass() else prefix
        val level = minus1 + 1
        out(p) = if (rd.bypass() == 1) -level else level
        if (level == 1) numEq1 += 1 else numGt1 += 1
        tc += 1
      }
      p -= 1
    }
    (out, tc)
  }

  private def cabacBlockWrite(wr: H264Cabac.Writer, cat: Int, cbfInc: Int,
                              coeffs: Array[Int], numCoeff: Int): Int = {
    val nz = (0 until numCoeff).filter(coeffs(_) != 0)
    if (nz.isEmpty) {
      wr.decision(H264Cabac.ctxCbf(cat, cbfInc), 0)
      return 0
    }
    wr.decision(H264Cabac.ctxCbf(cat, cbfInc), 1)
    val lastNz = nz.last
    var i = 0
    var stop = false
    while (i < numCoeff - 1 && !stop) {
      val s = coeffs(i) != 0
      wr.decision(H264Cabac.ctxSig(cat, i), if (s) 1 else 0)
      if (s) {
        val isLast = i == lastNz
        wr.decision(H264Cabac.ctxLast(cat, i), if (isLast) 1 else 0)
        if (isLast) stop = true
      }
      i += 1
    }
    var numEq1 = 0; var numGt1 = 0
    var p = lastNz
    while (p >= 0) {
      val v = coeffs(p)
      if (v != 0) {
        val level = math.abs(v)
        val minus1 = level - 1
        if (minus1 < 14)
          wr.tu(H264Cabac.ctxLvlBin0(cat, numEq1, numGt1),
            H264Cabac.ctxLvlRest(cat, numGt1), 14, minus1)
        else {
          wr.tu(H264Cabac.ctxLvlBin0(cat, numEq1, numGt1),
            H264Cabac.ctxLvlRest(cat, numGt1), 14, 14)
          wr.eg0Bypass(minus1 - 14)
        }
        wr.bypass(if (v < 0) 1 else 0)
        if (level == 1) numEq1 += 1 else numGt1 += 1
      }
      p -= 1
    }
    nz.length
  }

  /** I_PCM neighbour bookkeeping — REAL spec rules: a PCM MB counts as
    * TotalCoeff 16 for every nC derivation, as DC for 4x4
    * prediction-mode inference, and as QP 0 for deblocking (raw
    * samples carry no quantization error to smooth). */
  private def pcmBookkeep(st: FrameState, mbX: Int, mbY: Int): Unit = {
    var y4 = 0
    while (y4 < 4) {
      var x4 = 0
      while (x4 < 4) {
        st.tcY(mbY * 4 + y4)(mbX * 4 + x4) = 16
        st.modeY(mbY * 4 + y4)(mbX * 4 + x4) = B_DC
        x4 += 1
      }
      y4 += 1
    }
    var b = 0
    while (b < 4) {
      st.tcCb(mbY * 2 + (b >> 1))(mbX * 2 + (b & 1)) = 16
      st.tcCr(mbY * 2 + (b >> 1))(mbX * 2 + (b & 1)) = 16
      b += 1
    }
    st.mbQp(mbY * st.mbW + mbX) = 0
  }

  /** Chroma residual + reconstruction, CABAC twin of [[decodeChroma]]:
    * same element order (Cb DC, Cr DC, Cb AC ×4, Cr AC ×4), entropy via
    * coded_block_flag + significance maps. */
  private def decodeChromaCabac(rd: H264Cabac.Reader, st: FrameState,
                                mbX: Int, mbY: Int, chromaMode: Int,
                                cbpC: Int, qpY: Int): Unit = {
    val qpc = chromaQp(qpY)
    val cx0 = mbX * 8; val cy0 = mbY * 8
    val idx = mbi(st, mbX, mbY)
    def predOf(p: Plane): Array[Int] =
      if (chromaMode == CH_DC) predictChromaDc(p, cx0, cy0)
      else predictNxN(p, cx0, cy0, 8, chromaMode, lumaNumbering = false)
    val predU = predOf(st.uPlane)
    val predV = predOf(st.vPlane)
    def readDc(flags: Array[Int]): Array[Int] =
      if (cbpC > 0) {
        val (scan, tc) = cabacBlockRead(rd, CAT_CHROMA_DC,
          cbfIncMb(flags, st, mbX, mbY), 4)
        flags(idx) = if (tc > 0) 1 else 0
        scan
      } else { flags(idx) = 0; new Array[Int](4) }
    val uDcScan = readDc(st.dcFlagCb)
    val vDcScan = readDc(st.dcFlagCr)
    val uDc = chromaDc(uDcScan, qpc)
    val vDc = chromaDc(vDcScan, qpc)
    var comp = 0
    while (comp < 2) {
      val (plane, pred, dcs, tcGrid) =
        if (comp == 0) (st.uPlane, predU, uDc, st.tcCb)
        else (st.vPlane, predV, vDc, st.tcCr)
      var b = 0
      while (b < 4) {
        val bx = mbX * 2 + (b & 1)
        val by = mbY * 2 + (b >> 1)
        val (acScan, tc) =
          if (cbpC == 2) {
            val (a15, t) = cabacBlockRead(rd, CAT_CHROMA_AC,
              cbfIncGrid(tcGrid, bx, by), 15)
            val scan = new Array[Int](16)
            System.arraycopy(a15, 0, scan, 1, 15)
            (scan, t)
          } else (new Array[Int](16), 0)
        tcGrid(by)(bx) = tc
        addBlock4(plane, cx0 + (b & 1) * 4, cy0 + (b >> 1) * 4,
          pred, 8, (b & 1) * 4, (b >> 1) * 4,
          acResidual(acScan, dcs(b), qpc))
        b += 1
      }
      comp += 1
    }
  }

  /** CABAC twin of [[decodeMb]]. Returns (new slice QP, this MB's
    * qp-delta ≠ 0 — the next MB's bin-0 context). I_PCM inside CABAC
    * (its engine-reinit dance) is out of scope: the terminate-coded
    * PCM bin decoding 1 returns None. */
  private def decodeMbCabac(rd: H264Cabac.Reader, st: FrameState,
                            mbX: Int, mbY: Int, qpIn: Int,
                            prevDeltaNz: Boolean)
      : Option[(Int, Boolean)] = {
    var qp = qpIn
    val x0 = mbX * 16; val y0 = mbY * 16
    val idx = mbi(st, mbX, mbY)
    val isI16 = rd.decision(H264Cabac.ctxMbType(mbTypeInc(st, mbX, mbY)))
    if (isI16 == 0) {
      // ---- I_4x4
      st.mbTypeArr(idx) = 0
      val modes = new Array[Int](16)
      var b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val pred = st.predMode(bx, by)
        val mode =
          if (rd.decision(H264Cabac.ctxPrev4x4) == 1) pred
          else {
            val rem = rd.decision(H264Cabac.ctxRem4x4) |
              (rd.decision(H264Cabac.ctxRem4x4) << 1) |
              (rd.decision(H264Cabac.ctxRem4x4) << 2)
            if (rem < pred) rem else rem + 1
          }
        modes(b) = mode
        st.modeY(by)(bx) = mode
        b += 1
      }
      val chromaMode = rd.tu(
        H264Cabac.ctxChroma(chromaModeInc(st, mbX, mbY)),
        H264Cabac.ctxChromaRest, 3)
      st.chromaModeArr(idx) = chromaMode
      var cbpL = 0
      var q = 0
      while (q < 4) {
        if (rd.decision(H264Cabac.ctxCbpL(
            cbpLumaInc(st, mbX, mbY, cbpL, q))) == 1) cbpL |= 1 << q
        q += 1
      }
      val cbpC =
        if (rd.decision(H264Cabac.ctxCbpC0(
            cbpChromaInc(st, mbX, mbY, two = false))) == 0) 0
        else 1 + rd.decision(H264Cabac.ctxCbpC1(
          cbpChromaInc(st, mbX, mbY, two = true)))
      st.mbCbpLuma(idx) = cbpL
      st.mbCbpChroma(idx) = cbpC
      var myNz = false
      if (cbpL != 0 || cbpC != 0) {
        val d = qpdRead(rd, prevDeltaNz)
        qp += d
        myNz = d != 0
      }
      if (qp < 0 || qp > 51) return None
      st.dcFlagY(idx) = 0
      b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val (coeffs, tc) =
          if ((cbpL & (1 << (b >> 2))) != 0)
            cabacBlockRead(rd, CAT_LUMA_4x4, cbfIncGrid(st.tcY, bx, by), 16)
          else (new Array[Int](16), 0)
        st.tcY(by)(bx) = tc
        val pred = predict4x4(st.yPlane, bx * 4, by * 4, modes(b),
          st.hasAboveRight(bx, by))
        addBlock4(st.yPlane, bx * 4, by * 4, pred, 4, 0, 0,
          fullResidual(coeffs, qp))
        b += 1
      }
      decodeChromaCabac(rd, st, mbX, mbY, chromaMode, cbpC, qp)
      st.mbQp(idx) = qp
      Some((qp, myNz))
    } else {
      // ---- not I_4x4: the terminate-coded bin distinguishes I_PCM
      if (rd.terminate() == 1) return None // PCM unsupported under CABAC
      st.mbTypeArr(idx) = 1
      val cbpL = if (rd.decision(H264Cabac.ctxMbTypeSuf(0)) == 1) 15 else 0
      val cbpC =
        if (rd.decision(H264Cabac.ctxMbTypeSuf(1)) == 0) 0
        else 1 + rd.decision(H264Cabac.ctxMbTypeSuf(2))
      val pm = (rd.decision(H264Cabac.ctxMbTypeSuf(3)) << 1) |
        rd.decision(H264Cabac.ctxMbTypeSuf(4))
      val chromaMode = rd.tu(
        H264Cabac.ctxChroma(chromaModeInc(st, mbX, mbY)),
        H264Cabac.ctxChromaRest, 3)
      st.chromaModeArr(idx) = chromaMode
      st.mbCbpLuma(idx) = cbpL
      st.mbCbpChroma(idx) = cbpC
      val d = qpdRead(rd, prevDeltaNz)
      qp += d
      if (qp < 0 || qp > 51) return None
      var y4 = 0
      while (y4 < 4) {
        var x4 = 0
        while (x4 < 4) { st.modeY(mbY * 4 + y4)(mbX * 4 + x4) = B_DC; x4 += 1 }
        y4 += 1
      }
      val (dcScan, dcTc) = cabacBlockRead(rd, CAT_LUMA_DC,
        cbfIncMb(st.dcFlagY, st, mbX, mbY), 16)
      st.dcFlagY(idx) = if (dcTc > 0) 1 else 0
      val dcRaster = new Array[Int](16)
      var i = 0
      while (i < 16) { dcRaster(zigzag4x4(i)) = dcScan(i); i += 1 }
      val dcs = ihadamard4x4(dcRaster).map(f => scaleLumaDc(f, qp))
      val pred16 = predictNxN(st.yPlane, x0, y0, 16, pm, lumaNumbering = true)
      var b = 0
      while (b < 16) {
        val (x4, y4b) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4b
        val (acScan, tc) =
          if (cbpL != 0) {
            val (a15, t) = cabacBlockRead(rd, CAT_LUMA_AC,
              cbfIncGrid(st.tcY, bx, by), 15)
            val scan = new Array[Int](16)
            System.arraycopy(a15, 0, scan, 1, 15)
            (scan, t)
          } else (new Array[Int](16), 0)
        st.tcY(by)(bx) = tc
        addBlock4(st.yPlane, x0 + x4 * 4, y0 + y4b * 4, pred16, 16,
          x4 * 4, y4b * 4, acResidual(acScan, dcs(y4b * 4 + x4), qp))
        b += 1
      }
      decodeChromaCabac(rd, st, mbX, mbY, chromaMode, cbpC, qp)
      st.mbQp(idx) = qp
      Some((qp, d != 0))
    }
  }

  /** Decode an Annex-B byte stream (SPS + PPS + one IDR slice) to a
    * cropped 4:2:0 frame. None on any structural inconsistency. */
  def decode(stream: Array[Byte]): Option[Frame] =
    // Try: a hostile stream can name a prediction mode whose required
    // neighbours don't exist (a conformance violation — predictors
    // require() it); decode degrades to None instead of crashing a task
    scala.util.Try {
      val nals = splitNals(stream)
      for {
        sps <- nals.collectFirst { case (7, r) => r }.flatMap(readSps)
        pps <- nals.collectFirst { case (8, r) => r }.flatMap(readPps)
        slice <- nals.collectFirst { case (5, r) => r }
        frame <- decodeSlice(sps, pps._1, pps._2, slice)
      } yield frame
    }.toOption.flatten

  private def decodeSlice(sps: Sps, initQp: Int, cabac: Boolean,
                          rbsp: Array[Byte]): Option[Frame] = {
    val br = new BitReader(rbsp)
    if (br.ue() != 0) return None // first_mb_in_slice
    val sliceType = br.ue()
    if (sliceType != 2 && sliceType != 7) return None // I slice only
    if (br.ue() != 0) return None // pps_id
    br.bits(4) // frame_num (log2_max_frame_num = 4)
    br.ue()    // idr_pic_id
    br.bit(); br.bit() // dec_ref_pic_marking (IDR)
    var qp = initQp + br.se()
    if (qp < 0 || qp > 51) return None
    val idc = br.ue() // disable_deblocking_filter_idc
    var offA = 0; var offB = 0
    if (idc != 1) { offA = 2 * br.se(); offB = 2 * br.se() }
    val st = new FrameState(sps.mbW, sps.mbH)
    if (cabac) {
      br.byteAlign() // cabac_alignment_one_bit padding
      val rd = new H264Cabac.Reader(() => br.bit())
      var prevNz = false
      var k = 0
      val n = sps.mbW * sps.mbH
      while (k < n) {
        decodeMbCabac(rd, st, k % sps.mbW, k / sps.mbW, qp, prevNz) match {
          case Some((q, nz)) => qp = q; prevNz = nz
          case None => return None
        }
        val eos = rd.terminate() // end_of_slice_flag after every MB
        if (eos == 1 && k != n - 1) return None
        if (eos == 0 && k == n - 1) return None
        k += 1
      }
    } else {
      var mbY = 0
      while (mbY < sps.mbH) {
        var mbX = 0
        while (mbX < sps.mbW) {
          decodeMb(br, st, mbX, mbY, qp) match {
            case Some(q) => qp = q
            case None => return None
          }
          mbX += 1
        }
        mbY += 1
      }
    }
    if (idc != 1) deblockFrame(st, st.mbQp, offA, offB)
    Some(cropFrame(st, sps.width, sps.height))
  }

  private def cropFrame(st: FrameState, w: Int, h: Int): Frame = {
    def cropPlane(p: Plane, cw: Int, ch: Int): Array[Int] = {
      val out = new Array[Int](cw * ch)
      var y = 0
      while (y < ch) {
        System.arraycopy(p.buf, y * p.stride, out, y * cw, cw)
        y += 1
      }
      out
    }
    Frame(w, h, cropPlane(st.yPlane, w, h),
      cropPlane(st.uPlane, w / 2, h / 2), cropPlane(st.vPlane, w / 2, h / 2))
  }

  // ----------------------------------------- in-loop deblocking (8.7)

  /** α / β / tc0 threshold lookups — PINNED PLACEHOLDER DATA (the
    * spec's three indexed tables; same policy as the object doc):
    * zero below index 16 and monotone above, like the published
    * curves, values pinned to documented formulas. Encoder and oracle
    * replay the same lookups. */
  private[multimodal] def alphaT(i0: Int): Int = {
    val i = math.max(0, math.min(51, i0))
    if (i < 16) 0 else math.min(255, (i - 15) * (i - 15))
  }
  private[multimodal] def betaT(i0: Int): Int = {
    val i = math.max(0, math.min(51, i0))
    if (i < 16) 0 else math.min(18, 2 + (i - 16) / 2)
  }
  private[multimodal] def tc0T(i0: Int): Int = {
    val i = math.max(0, math.min(51, i0))
    if (i < 16) 0 else math.min(13, 1 + (i - 16) / 3)
  }

  private def clip3(lo: Int, hi: Int, v: Int): Int =
    if (v < lo) lo else if (v > hi) hi else v

  /** Filter one line of an edge: q0 sits at `qpos`, samples step by
    * `step` (1 for vertical edges, stride for horizontal). REAL spec
    * algorithm: the filterSamplesFlag gate, bS=4 strong/weak split on
    * (α>>2)+2 with per-side ap/aq < β, and the bS<4 normal filter with
    * the tc0-clipped Δ and the luma p1/q1 refinements. */
  private def filterLine(buf: Array[Int], qpos: Int, step: Int, bS: Int,
                         alpha: Int, beta: Int, tc0: Int,
                         isLuma: Boolean): Unit = {
    @inline def p(k: Int) = buf(qpos - (k + 1) * step)
    @inline def q(k: Int) = buf(qpos + k * step)
    val p0 = p(0); val q0 = q(0); val p1 = p(1); val q1 = q(1)
    if (math.abs(p0 - q0) >= alpha || math.abs(p1 - p0) >= beta ||
        math.abs(q1 - q0) >= beta) return
    if (bS == 4) {
      if (isLuma) {
        val p2 = p(2); val q2 = q(2)
        val strongOk = math.abs(p0 - q0) < (alpha >> 2) + 2
        if (strongOk && math.abs(p2 - p0) < beta) {
          val p3 = p(3)
          buf(qpos - step) = (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3
          buf(qpos - 2 * step) = (p2 + p1 + p0 + q0 + 2) >> 2
          buf(qpos - 3 * step) = (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3
        } else buf(qpos - step) = (2 * p1 + p0 + q1 + 2) >> 2
        if (strongOk && math.abs(q2 - q0) < beta) {
          val q3 = q(3)
          buf(qpos) = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
          buf(qpos + step) = (q2 + q1 + q0 + p0 + 2) >> 2
          buf(qpos + 2 * step) = (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3
        } else buf(qpos) = (2 * q1 + q0 + p1 + 2) >> 2
      } else {
        buf(qpos - step) = (2 * p1 + p0 + q1 + 2) >> 2
        buf(qpos) = (2 * q1 + q0 + p1 + 2) >> 2
      }
    } else if (bS > 0) {
      val tc =
        if (isLuma)
          tc0 + (if (math.abs(p(2) - p0) < beta) 1 else 0) +
            (if (math.abs(q(2) - q0) < beta) 1 else 0)
        else tc0 + 1
      val delta = clip3(-tc, tc, (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3)
      buf(qpos - step) = clamp255(p0 + delta)
      buf(qpos) = clamp255(q0 - delta)
      if (isLuma) {
        val p2 = p(2); val q2 = q(2)
        if (math.abs(p2 - p0) < beta)
          buf(qpos - 2 * step) = p1 +
            clip3(-tc0, tc0, (p2 + ((p0 + q0 + 1) >> 1) - 2 * p1) >> 1)
        if (math.abs(q2 - q0) < beta)
          buf(qpos + step) = q1 +
            clip3(-tc0, tc0, (q2 + ((p0 + q0 + 1) >> 1) - 2 * q1) >> 1)
      }
    }
  }

  /** Whole-frame deblocking pass, MB raster order, vertical edges then
    * horizontal per MB (the spec's order). I-slice bS: 4 on MB
    * boundaries, 3 on internal 4x4 edges. Edge QP averages the two
    * MBs' QPs; chroma uses the chroma-QP map. `offA`/`offB` are the
    * slice-header alpha/beta offsets (already ×2). */
  private def deblockFrame(st: FrameState, mbQp: Array[Int],
                           offA: Int, offB: Int): Unit = {
    def idx(i: Int, j: Int) = math.max(0, math.min(51, i + j))
    var mbY = 0
    while (mbY < st.mbH) {
      var mbX = 0
      while (mbX < st.mbW) {
        val qp = mbQp(mbY * st.mbW + mbX)
        def edgeQps(boundary: Boolean, leftOrUp: Boolean): Int =
          if (!boundary) qp
          else {
            val nQp = mbQp(
              if (leftOrUp) mbY * st.mbW + mbX - 1
              else (mbY - 1) * st.mbW + mbX)
            (nQp + qp + 1) >> 1
          }
        // luma vertical edges e=0..3 (e0 = MB boundary), then horizontal
        var dir = 0
        while (dir < 2) { // 0 = vertical, 1 = horizontal
          var e = 0
          while (e < 4) {
            val boundary = e == 0
            val skipEdge = boundary &&
              (if (dir == 0) mbX == 0 else mbY == 0)
            if (!skipEdge) {
              val eqp = edgeQps(boundary, dir == 0)
              val a = alphaT(idx(eqp, offA))
              val b = betaT(idx(eqp, offB))
              val t = tc0T(idx(eqp, offA))
              val bS = if (boundary) 4 else 3
              var k = 0
              while (k < 16) {
                val (qx, qy) =
                  if (dir == 0) (mbX * 16 + 4 * e, mbY * 16 + k)
                  else (mbX * 16 + k, mbY * 16 + 4 * e)
                filterLine(st.yPlane.buf, qy * st.yPlane.stride + qx,
                  if (dir == 0) 1 else st.yPlane.stride, bS, a, b, t,
                  isLuma = true)
                k += 1
              }
              // chroma: edges at 0 and 4 only (e even)
              if (e % 2 == 0) {
                val cqp = chromaQp(eqp)
                val ca = alphaT(idx(cqp, offA))
                val cb = betaT(idx(cqp, offB))
                val ct = tc0T(idx(cqp, offA))
                var c = 0
                while (c < 8) {
                  val (qx, qy) =
                    if (dir == 0) (mbX * 8 + 2 * e, mbY * 8 + c)
                    else (mbX * 8 + c, mbY * 8 + 2 * e)
                  filterLine(st.uPlane.buf, qy * st.uPlane.stride + qx,
                    if (dir == 0) 1 else st.uPlane.stride, bS, ca, cb, ct,
                    isLuma = false)
                  filterLine(st.vPlane.buf, qy * st.vPlane.stride + qx,
                    if (dir == 0) 1 else st.vPlane.stride, bS, ca, cb, ct,
                    isLuma = false)
                  c += 1
                }
              }
            }
            e += 1
          }
          dir += 1
        }
        mbX += 1
      }
      mbY += 1
    }
  }

  // -------------------------------------------------------- encoding

  final case class EncodeOpts(qp: Int = 26, deblock: Boolean = false,
                              cabac: Boolean = false)

  private def anyNz(a: Array[Int], from: Int = 0): Boolean = {
    var i = from
    while (i < a.length) { if (a(i) != 0) return true; i += 1 }
    false
  }

  /** Encode one IDR frame from per-MB specs (MB raster order). Returns
    * the Annex-B stream and the encoder's own reconstruction (what a
    * conforming decoder must produce). Width/height must be even;
    * non-16-multiples are signalled via SPS frame cropping. */
  def encode(width: Int, height: Int, mbs: Array[MbSpec],
             opts: EncodeOpts = EncodeOpts()): (Array[Byte], Frame) = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0)
    val mbW = (width + 15) / 16
    val mbH = (height + 15) / 16
    require(mbs.length == mbW * mbH, s"need ${mbW * mbH} MB specs")
    val st = new FrameState(mbW, mbH)
    val bw = new BitWriter
    // slice header
    bw.ue(0) // first_mb_in_slice
    bw.ue(7) // slice_type: I (all slices in picture)
    bw.ue(0) // pps_id
    bw.bits(0, 4) // frame_num
    bw.ue(0) // idr_pic_id
    bw.bit(0); bw.bit(0) // dec_ref_pic_marking
    bw.se(0) // slice_qp_delta
    if (opts.deblock) {
      bw.ue(0) // disable_deblocking_filter_idc: filter on
      bw.se(0); bw.se(0) // slice_alpha_c0/beta offsets ÷2
    } else bw.ue(1) // filter off
    var qp = opts.qp
    if (opts.cabac) {
      while (bw.byteAlignedBits != 0) bw.bit(1) // cabac_alignment_one_bit
      val wr = new H264Cabac.Writer(b => bw.bit(b))
      var prevNz = false
      var k = 0
      val n = mbW * mbH
      while (k < n) {
        val (q, nz) = encodeMbCabac(wr, st, k % mbW, k / mbW, qp,
          prevNz, mbs(k))
        qp = q; prevNz = nz
        wr.terminate(if (k == n - 1) 1 else 0) // end_of_slice_flag
        k += 1
      }
      // the terminate(1) flush carried the stop bit; zero-pad to a byte
      while (bw.byteAlignedBits != 0) bw.bit(0)
    } else {
      var mbY = 0
      while (mbY < mbH) {
        var mbX = 0
        while (mbX < mbW) {
          qp = encodeMb(bw, st, mbX, mbY, qp, mbs(mbY * mbW + mbX))
          mbX += 1
        }
        mbY += 1
      }
      bw.trailing()
    }
    if (opts.deblock) deblockFrame(st, st.mbQp, 0, 0)
    val stream = nal(3, 7, writeSps(mbW, mbH, width, height)) ++
      nal(3, 8, writePps(opts.qp, opts.cabac)) ++ nal(3, 5, bw.bytes())
    (stream, cropFrame(st, width, height))
  }

  private def encodeChromaCabac(wr: H264Cabac.Writer, st: FrameState,
                                mbX: Int, mbY: Int, m: MbSpec, cbpC: Int,
                                qpY: Int): Unit = {
    val qpc = chromaQp(qpY)
    val cx0 = mbX * 8; val cy0 = mbY * 8
    val idx = mbi(st, mbX, mbY)
    def predOf(p: Plane): Array[Int] =
      if (m.chromaMode == CH_DC) predictChromaDc(p, cx0, cy0)
      else predictNxN(p, cx0, cy0, 8, m.chromaMode, lumaNumbering = false)
    val predU = predOf(st.uPlane)
    val predV = predOf(st.vPlane)
    def writeDc(flags: Array[Int], scan: Array[Int]): Unit =
      if (cbpC > 0) {
        val tc = cabacBlockWrite(wr, CAT_CHROMA_DC,
          cbfIncMb(flags, st, mbX, mbY), scan, 4)
        flags(idx) = if (tc > 0) 1 else 0
      } else flags(idx) = 0
    writeDc(st.dcFlagCb, m.cbDc)
    writeDc(st.dcFlagCr, m.crDc)
    val uDc = chromaDc(if (cbpC > 0) m.cbDc else new Array[Int](4), qpc)
    val vDc = chromaDc(if (cbpC > 0) m.crDc else new Array[Int](4), qpc)
    var comp = 0
    while (comp < 2) {
      val (plane, pred, dcs, tcGrid, acs) =
        if (comp == 0) (st.uPlane, predU, uDc, st.tcCb, m.cbAc)
        else (st.vPlane, predV, vDc, st.tcCr, m.crAc)
      var b = 0
      while (b < 4) {
        val bx = mbX * 2 + (b & 1)
        val by = mbY * 2 + (b >> 1)
        val tc =
          if (cbpC == 2) {
            val a15 = new Array[Int](15)
            System.arraycopy(acs(b), 1, a15, 0, 15)
            cabacBlockWrite(wr, CAT_CHROMA_AC,
              cbfIncGrid(tcGrid, bx, by), a15, 15)
          } else 0
        tcGrid(by)(bx) = tc
        val scan = if (cbpC == 2) acs(b) else new Array[Int](16)
        addBlock4(plane, cx0 + (b & 1) * 4, cy0 + (b >> 1) * 4,
          pred, 8, (b & 1) * 4, (b >> 1) * 4,
          acResidual(scan, dcs(b), qpc))
        b += 1
      }
      comp += 1
    }
  }

  /** CABAC twin of [[encodeMb]]; I_PCM specs are rejected (see
    * [[decodeMbCabac]]). Returns (new slice QP, qp-delta ≠ 0). */
  private def encodeMbCabac(wr: H264Cabac.Writer, st: FrameState,
                            mbX: Int, mbY: Int, qpIn: Int,
                            prevDeltaNz: Boolean,
                            m: MbSpec): (Int, Boolean) = {
    require(m.mbType != MB_PCM, "I_PCM under CABAC is out of scope")
    var qp = qpIn
    val x0 = mbX * 16; val y0 = mbY * 16
    val idx = mbi(st, mbX, mbY)
    val inc = mbTypeInc(st, mbX, mbY)
    if (m.mbType == MB_I4x4) {
      wr.decision(H264Cabac.ctxMbType(inc), 0)
      st.mbTypeArr(idx) = 0
      var cbpL = 0
      for (b <- 0 until 16 if anyNz(m.lumaAc(b))) cbpL |= 1 << (b >> 2)
      val cbpC =
        if (m.cbAc.exists(anyNz(_, 1)) || m.crAc.exists(anyNz(_, 1))) 2
        else if (anyNz(m.cbDc) || anyNz(m.crDc)) 1
        else 0
      var b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val pred = st.predMode(bx, by)
        val mode = m.b4Modes(b)
        if (mode == pred) wr.decision(H264Cabac.ctxPrev4x4, 1)
        else {
          wr.decision(H264Cabac.ctxPrev4x4, 0)
          val rem = if (mode < pred) mode else mode - 1
          wr.decision(H264Cabac.ctxRem4x4, rem & 1)
          wr.decision(H264Cabac.ctxRem4x4, (rem >> 1) & 1)
          wr.decision(H264Cabac.ctxRem4x4, (rem >> 2) & 1)
        }
        st.modeY(by)(bx) = mode
        b += 1
      }
      wr.tu(H264Cabac.ctxChroma(chromaModeInc(st, mbX, mbY)),
        H264Cabac.ctxChromaRest, 3, m.chromaMode)
      st.chromaModeArr(idx) = m.chromaMode
      var q = 0
      while (q < 4) {
        wr.decision(H264Cabac.ctxCbpL(cbpLumaInc(st, mbX, mbY, cbpL, q)),
          (cbpL >> q) & 1)
        q += 1
      }
      wr.decision(H264Cabac.ctxCbpC0(cbpChromaInc(st, mbX, mbY,
        two = false)), if (cbpC > 0) 1 else 0)
      if (cbpC > 0)
        wr.decision(H264Cabac.ctxCbpC1(cbpChromaInc(st, mbX, mbY,
          two = true)), if (cbpC == 2) 1 else 0)
      st.mbCbpLuma(idx) = cbpL
      st.mbCbpChroma(idx) = cbpC
      var myNz = false
      if (cbpL != 0 || cbpC != 0) {
        qpdWrite(wr, prevDeltaNz, m.qpDelta)
        qp += m.qpDelta
        myNz = m.qpDelta != 0
      }
      require(qp >= 0 && qp <= 51, s"qp $qp out of range")
      st.dcFlagY(idx) = 0
      b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val tc =
          if ((cbpL & (1 << (b >> 2))) != 0)
            cabacBlockWrite(wr, CAT_LUMA_4x4,
              cbfIncGrid(st.tcY, bx, by), m.lumaAc(b), 16)
          else 0
        st.tcY(by)(bx) = tc
        val pred = predict4x4(st.yPlane, bx * 4, by * 4, m.b4Modes(b),
          st.hasAboveRight(bx, by))
        addBlock4(st.yPlane, bx * 4, by * 4, pred, 4, 0, 0,
          fullResidual(m.lumaAc(b), qp))
        b += 1
      }
      encodeChromaCabac(wr, st, mbX, mbY, m, cbpC, qp)
      st.mbQp(idx) = qp
      (qp, myNz)
    } else {
      wr.decision(H264Cabac.ctxMbType(inc), 1)
      wr.terminate(0) // not I_PCM
      st.mbTypeArr(idx) = 1
      val cbpL = if ((0 until 16).exists(b => anyNz(m.lumaAc(b), 1))) 15 else 0
      val cbpC =
        if (m.cbAc.exists(anyNz(_, 1)) || m.crAc.exists(anyNz(_, 1))) 2
        else if (anyNz(m.cbDc) || anyNz(m.crDc)) 1
        else 0
      wr.decision(H264Cabac.ctxMbTypeSuf(0), if (cbpL == 15) 1 else 0)
      wr.decision(H264Cabac.ctxMbTypeSuf(1), if (cbpC > 0) 1 else 0)
      if (cbpC > 0)
        wr.decision(H264Cabac.ctxMbTypeSuf(2), if (cbpC == 2) 1 else 0)
      wr.decision(H264Cabac.ctxMbTypeSuf(3), (m.i16Mode >> 1) & 1)
      wr.decision(H264Cabac.ctxMbTypeSuf(4), m.i16Mode & 1)
      wr.tu(H264Cabac.ctxChroma(chromaModeInc(st, mbX, mbY)),
        H264Cabac.ctxChromaRest, 3, m.chromaMode)
      st.chromaModeArr(idx) = m.chromaMode
      st.mbCbpLuma(idx) = cbpL
      st.mbCbpChroma(idx) = cbpC
      qpdWrite(wr, prevDeltaNz, m.qpDelta)
      qp += m.qpDelta
      require(qp >= 0 && qp <= 51, s"qp $qp out of range")
      var y4 = 0
      while (y4 < 4) {
        var x4 = 0
        while (x4 < 4) { st.modeY(mbY * 4 + y4)(mbX * 4 + x4) = B_DC; x4 += 1 }
        y4 += 1
      }
      val dcTc = cabacBlockWrite(wr, CAT_LUMA_DC,
        cbfIncMb(st.dcFlagY, st, mbX, mbY), m.lumaDc, 16)
      st.dcFlagY(idx) = if (dcTc > 0) 1 else 0
      val dcRaster = new Array[Int](16)
      var i = 0
      while (i < 16) { dcRaster(zigzag4x4(i)) = m.lumaDc(i); i += 1 }
      val dcs = ihadamard4x4(dcRaster).map(f => scaleLumaDc(f, qp))
      val pred16 = predictNxN(st.yPlane, x0, y0, 16, m.i16Mode,
        lumaNumbering = true)
      var b = 0
      while (b < 16) {
        val (x4, y4b) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4b
        val tc =
          if (cbpL != 0) {
            val a15 = new Array[Int](15)
            System.arraycopy(m.lumaAc(b), 1, a15, 0, 15)
            cabacBlockWrite(wr, CAT_LUMA_AC,
              cbfIncGrid(st.tcY, bx, by), a15, 15)
          } else 0
        st.tcY(by)(bx) = tc
        addBlock4(st.yPlane, x0 + x4 * 4, y0 + y4b * 4, pred16, 16,
          x4 * 4, y4b * 4, acResidual(m.lumaAc(b), dcs(y4b * 4 + x4), qp))
        b += 1
      }
      encodeChromaCabac(wr, st, mbX, mbY, m, cbpC, qp)
      st.mbQp(idx) = qp
      (qp, m.qpDelta != 0)
    }
  }

  /** Encode to separate NAL units (header + EBSP, no start codes) —
    * the parts an MP4 muxer stores: SPS/PPS inside avcC, the IDR slice
    * as a length-prefixed sample. Same pipeline as [[encode]]. */
  def encodeNals(width: Int, height: Int, mbs: Array[MbSpec],
                 opts: EncodeOpts = EncodeOpts())
      : (Array[Byte], Array[Byte], Array[Byte], Frame) = {
    val (stream, recon) = encode(width, height, mbs, opts)
    val parts = splitNals(stream)
    def find(t: Int): Array[Byte] = {
      val rbsp = parts.collectFirst { case (`t`, r) => r }.get
      nalBytes(3, t, rbsp)
    }
    (find(7), find(8), find(5), recon)
  }

  /** Mirror of [[decodeMb]]: emit syntax from the spec and run the
    * SAME reconstruction updates into the encoder's state. */
  private def encodeMb(bw: BitWriter, st: FrameState, mbX: Int, mbY: Int,
                       qpIn: Int, m: MbSpec): Int = {
    var qp = qpIn
    val x0 = mbX * 16; val y0 = mbY * 16
    if (m.mbType == MB_PCM) {
      bw.ue(25)
      bw.byteAlign()
      val py = if (m.pcmY != null) m.pcmY else Array.fill(256)(128)
      val pcb = if (m.pcmCb != null) m.pcmCb else Array.fill(64)(128)
      val pcr = if (m.pcmCr != null) m.pcmCr else Array.fill(64)(128)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          val v = py(16 * y + x) & 0xFF
          bw.bits(v, 8)
          st.yPlane(x0 + x, y0 + y) = v
          x += 1
        }
        y += 1
      }
      val cx0 = mbX * 8; val cy0 = mbY * 8
      var c = 0
      while (c < 2) {
        val (plane, src) = if (c == 0) (st.uPlane, pcb) else (st.vPlane, pcr)
        var cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 8) {
            val v = src(8 * cy + cx) & 0xFF
            bw.bits(v, 8)
            plane(cx0 + cx, cy0 + cy) = v
            cx += 1
          }
          cy += 1
        }
        c += 1
      }
      pcmBookkeep(st, mbX, mbY)
      return qp
    }
    if (m.mbType == MB_I4x4) {
      // derived CBP: quadrant bit iff any of its blocks carries coeffs
      var cbpL = 0
      for (b <- 0 until 16 if anyNz(m.lumaAc(b))) cbpL |= 1 << (b >> 2)
      val cbpC =
        if (anyNz(m.cbAc.flatten, 0) || anyNz(m.crAc.flatten, 0)) 2
        else if (anyNz(m.cbDc) || anyNz(m.crDc)) 1
        else 0
      val cbp = (cbpC << 4) | cbpL
      bw.ue(0) // mb_type: I_4x4
      var b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val pred = st.predMode(bx, by)
        val mode = m.b4Modes(b)
        if (mode == pred) bw.bit(1)
        else {
          bw.bit(0)
          bw.bits(if (mode < pred) mode else mode - 1, 3)
        }
        st.modeY(by)(bx) = mode
        b += 1
      }
      bw.ue(m.chromaMode)
      bw.ue(cbp) // PINNED PLACEHOLDER identity me(v) mapping
      if (cbp != 0) { bw.se(m.qpDelta); qp += m.qpDelta }
      require(qp >= 0 && qp <= 51, s"qp $qp out of range")
      b = 0
      while (b < 16) {
        val (x4, y4) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4
        val tc =
          if ((cbpL & (1 << (b >> 2))) != 0)
            cavlcWrite(bw, st.nc(st.tcY, bx, by), m.lumaAc(b), 16)
          else 0
        st.tcY(by)(bx) = tc
        val pred = predict4x4(st.yPlane, bx * 4, by * 4, m.b4Modes(b),
          st.hasAboveRight(bx, by))
        addBlock4(st.yPlane, bx * 4, by * 4, pred, 4, 0, 0,
          fullResidual(m.lumaAc(b), qp))
        b += 1
      }
      encodeChroma(bw, st, mbX, mbY, m, cbpC, qp)
    } else {
      val cbpL = if ((0 until 16).exists(b => anyNz(m.lumaAc(b), 1))) 15 else 0
      val cbpC =
        if (m.cbAc.exists(anyNz(_, 1)) || m.crAc.exists(anyNz(_, 1))) 2
        else if (anyNz(m.cbDc) || anyNz(m.crDc)) 1
        else 0
      bw.ue(1 + m.i16Mode + 4 * cbpC + (if (cbpL == 15) 12 else 0))
      bw.ue(m.chromaMode)
      bw.se(m.qpDelta); qp += m.qpDelta
      require(qp >= 0 && qp <= 51, s"qp $qp out of range")
      var y4 = 0
      while (y4 < 4) {
        var x4 = 0
        while (x4 < 4) { st.modeY(mbY * 4 + y4)(mbX * 4 + x4) = B_DC; x4 += 1 }
        y4 += 1
      }
      cavlcWrite(bw, st.nc(st.tcY, mbX * 4, mbY * 4), m.lumaDc, 16)
      val dcRaster = new Array[Int](16)
      var i = 0
      while (i < 16) { dcRaster(zigzag4x4(i)) = m.lumaDc(i); i += 1 }
      val dcs = ihadamard4x4(dcRaster).map(f => scaleLumaDc(f, qp))
      val pred16 = predictNxN(st.yPlane, x0, y0, 16, m.i16Mode,
        lumaNumbering = true)
      var b = 0
      while (b < 16) {
        val (x4, y4b) = blkXY(b)
        val bx = mbX * 4 + x4; val by = mbY * 4 + y4b
        val tc =
          if (cbpL != 0) cavlcWriteAc(bw, st.nc(st.tcY, bx, by), m.lumaAc(b))
          else 0
        st.tcY(by)(bx) = tc
        addBlock4(st.yPlane, x0 + x4 * 4, y0 + y4b * 4, pred16, 16,
          x4 * 4, y4b * 4, acResidual(m.lumaAc(b), dcs(y4b * 4 + x4), qp))
        b += 1
      }
      encodeChroma(bw, st, mbX, mbY, m, cbpC, qp)
    }
    st.mbQp(mbY * st.mbW + mbX) = qp
    qp
  }

  private def encodeChroma(bw: BitWriter, st: FrameState, mbX: Int,
                           mbY: Int, m: MbSpec, cbpC: Int,
                           qpY: Int): Unit = {
    val qpc = chromaQp(qpY)
    val cx0 = mbX * 8; val cy0 = mbY * 8
    def predOf(p: Plane): Array[Int] =
      if (m.chromaMode == CH_DC) predictChromaDc(p, cx0, cy0)
      else predictNxN(p, cx0, cy0, 8, m.chromaMode, lumaNumbering = false)
    val predU = predOf(st.uPlane)
    val predV = predOf(st.vPlane)
    if (cbpC > 0) {
      cavlcWrite(bw, -1, m.cbDc, 4)
      cavlcWrite(bw, -1, m.crDc, 4)
    }
    val uDc = chromaDc(if (cbpC > 0) m.cbDc else new Array[Int](4), qpc)
    val vDc = chromaDc(if (cbpC > 0) m.crDc else new Array[Int](4), qpc)
    var comp = 0
    while (comp < 2) {
      val (plane, pred, dcs, tcGrid, acs) =
        if (comp == 0) (st.uPlane, predU, uDc, st.tcCb, m.cbAc)
        else (st.vPlane, predV, vDc, st.tcCr, m.crAc)
      var b = 0
      while (b < 4) {
        val bx = mbX * 2 + (b & 1)
        val by = mbY * 2 + (b >> 1)
        val tc =
          if (cbpC == 2) cavlcWriteAc(bw, st.nc(tcGrid, bx, by), acs(b))
          else 0
        tcGrid(by)(bx) = tc
        val scan = if (cbpC == 2) acs(b) else new Array[Int](16)
        addBlock4(plane, cx0 + (b & 1) * 4, cy0 + (b >> 1) * 4,
          pred, 8, (b & 1) * 4, (b >> 1) * 4,
          acResidual(scan, dcs(b), qpc))
        b += 1
      }
      comp += 1
    }
  }
}
