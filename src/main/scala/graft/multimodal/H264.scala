package graft.multimodal

/** H.264 / AVC (ITU-T H.264, ISO/IEC 14496-10) — INTRA-ONLY baseline:
  * the dominant real-crawl video codec's tractable core, transcribed
  * from the public spec the way [[Mpeg1]] transcribed ISO 11172-2. Real
  * NAL framing with emulation-prevention bytes, Exp-Golomb headers
  * (SPS/PPS/IDR slice), macroblock-layer CAVLC entropy coding, the
  * normative dequantisation (8.5.10/8.5.12 v-matrix), the 4x4 integer
  * inverse transform and luma-DC inverse Hadamard, and spatial intra
  * prediction with the spec's availability rules.
  *
  * SUBSET, stated plainly (no H.264 decoder exists in this container;
  * parity laws + table laws in H264Spec carry correctness):
  *
  *  - NAL: SPS(7) / PPS(8) / IDR slice(5); anything else rejects.
  *    Emulation prevention 00 00 03 is implemented on both sides
  *    (insert on encode, strip + validate on decode) — though H264Spec
  *    proves in-subset streams can never NEED it (the longest zero run
  *    this grammar can emit is the 16-zero level prefix, '1'-terminated,
  *    below the 22-zero-bit escape threshold), so the decode path is
  *    law-tested structurally and by fuzz.
  *  - SPS: profile 66 (Baseline), 4:2:0, 8-bit, frame_mbs_only,
  *    pic_order_cnt_type 2, no cropping, no VUI; dimensions must be
  *    multiples of 16. PPS: entropy_coding_mode 0 (CAVLC) or 1 —
  *    CABAC I slices decode through the clause-9.3 engine in
  *    [[H264Cabac]] (normative state machine / renormalization /
  *    terminate; the context INIT CONSTANTS are the stated cut — see
  *    that file's scaladoc); CABAC P slices reject. One slice group,
  *    deblocking-control present. Unlike the CAVLC residual subset,
  *    the CABAC residual path is FULL: any significance map, any
  *    levels, reconstructed through the real transforms.
  *  - Slices: I (slice_type 7/2) and MOTION-COMPENSATED P (slice_type
  *    5/0): mb_skip_run-interleaved P_Skip macroblocks (motion = the
  *    normative 8.4.1.1 predictor over the real neighbor state) and
  *    P_L0_16x16 macroblocks with se(v) mvd against the 8.4.1.3 median
  *    predictor, single reference (the previous decoded picture),
  *    INTEGER-PEL vectors only (a resolved mv with a fractional
  *    component rejects — the 6-tap half-pel / quarter-pel
  *    interpolation is the stated cut), edge-clamped reference fetch
  *    per 8.4.2.2.1, and CBP 0 or luma-15 TC≤1 residuals (other inter
  *    codepoints, 16x8/8x16/8x8 partitions, ref_idx > 0 and intra-in-P
  *    macroblock types reject). One slice per picture,
  *    disable_deblocking_filter_idc MUST be 1 (in-loop deblocking is
  *    out of subset; streams that enable it reject — reconstruction
  *    here is bit-exact, never approximated). Slice data must end in
  *    valid rbsp_trailing_bits: payload past the last macroblock
  *    rejects.
  *  - Macroblocks: I_NxN (Intra_4x4, modes V/H/DC; modes 3..8 reject)
  *    and I_16x16 with CBP luma 0, CBP chroma 0 (mb_type 1..3 — V/H/DC;
  *    plane mode, AC-coded and chroma-coded I_16x16 types, and I_PCM
  *    reject). coded_block_pattern me(v) accepts the two in-subset
  *    intra codepoints (15 and 0, both chroma 0); others reject.
  *  - CAVLC residuals: TotalCoeff ≤ 1 per block (coeff_token '1',
  *    '01', '000101' of the 0 ≤ nC < 2 table — nC is COMPUTED by the
  *    normative neighbor rule and is provably < 2 when every block
  *    carries ≤ 1 coefficient; nC ≥ 2 rejects), level_prefix with the
  *    suffixLength-0 escapes (prefix 14 → 4-bit suffix, prefix 15 →
  *    12-bit suffix, prefix 16 → 13-bit extended escape — levels to
  *    ±6159, which covers EVERY flat residual of the 4x4 luma chain
  *    (|residual| ≤ 255 needs |z| ≤ 1632) but bounds the I_16x16 DC
  *    chain at |residual| ≤ 241 at QP 24 (z ≈ 25.6·r); a larger
  *    I_16x16 residual has no in-range level and encode() rejects
  *    with a clear message),
  *    the full 16-entry total_zeros table for TotalCoeff = 1
  *    (prefix-free, Kraft 511/512 — the spec table is deliberately
  *    incomplete by one 9-bit point; H264Spec pins both), run_before
  *    never occurs at TotalCoeff 1. The coefficient may sit at ANY
  *    scan position: reconstruction runs the REAL integer transforms
  *    (dequant v-matrix → 4x4 inverse, DC Hadamard → 8.5.10 scaling),
  *    which H264Spec proves equal to the encoder's closed-form DC
  *    solvers on DC-only blocks over the whole level range.
  *
  * Strictness contract (H264FuzzSpec law): unknown NAL types, VLC
  * prefixes outside the grammar, out-of-subset syntax values and
  * truncation reject the whole stream with None — never a crash, never
  * a partial guess. */
object H264 {

  // ---- encoder plans -------------------------------------------------------

  sealed trait MbPlan
  /** flat Intra_16x16 macroblock at luma `yVal`; `mode` 0=V (needs a top
    * neighbor), 1=H (needs left), 2=DC. Chroma stays flat 128. */
  final case class MbI16(yVal: Int, mode: Int = 2) extends MbPlan
  /** flat Intra_4x4 macroblock at luma `yVal` (all 16 blocks DC-mode,
    * CBP luma 15 when any residual is nonzero). */
  final case class MbI4(yVal: Int) extends MbPlan

  sealed trait PMbPlan
  /** P_Skip: motion = the 8.4.1.1 predictor over the neighbor state,
    * no residual — reconstruction copies the reference at that vector. */
  case object PSkip extends PMbPlan
  /** P_L0_16x16 with INTEGER-PEL motion (dx, dy) in pels into the
    * reference — pred(x, y) = ref(x + dx, y + dy), edge-clamped per
    * 8.4.2.2.1 — plus an optional flat luma residual `dLuma` added
    * after motion compensation (CBP luma 15, one DC level per 4x4). */
  final case class PMove(dx: Int, dy: Int, dLuma: Int = 0) extends PMbPlan

  /** a frame: intra MBs from `mb`; or a P slice — `skipAll` puts one
    * mb_skip_run over the whole picture (the static-scene inter class:
    * every predictor collapses to (0,0), reconstruction = the
    * reference verbatim), `pmb` plans each macroblock as [[PSkip]] or
    * [[PMove]] (the moving-scene class: real vectors, real skip-run
    * interleaving, residuals on top of motion). */
  final case class FramePlan(mb: (Int, Int) => MbPlan,
      skipAll: Boolean = false,
      pmb: Option[(Int, Int) => PMbPlan] = None)

  final case class Frame(y: Array[Int], cb: Array[Int], cr: Array[Int])
  final case class Decoded(width: Int, height: Int, frames: Vector[Frame])

  /** the one QP this subset's encoder uses: at QP 24 both dequant
    * chains step finely enough that EVERY integer flat residual is
    * exactly representable (encode asserts it found an exact level). */
  val EncQp = 24

  // normAdjust4x4 v-matrix (Table: LevelScale classes per qP%6; column
  // 0 = positions (0,0),(0,2),(2,0),(2,2); column 1 = (1,1),(1,3),
  // (3,1),(3,3); column 2 = the rest)
  private val V = Array(
    Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
    Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))
  private def vClass(i: Int, j: Int): Int =
    if ((i % 2 == 0) && (j % 2 == 0)) 0
    else if ((i % 2 == 1) && (j % 2 == 1)) 1
    else 2
  private[multimodal] def levelScale(qpMod6: Int, i: Int, j: Int): Int =
    V(qpMod6)(vClass(i, j))

  /** 4x4 zigzag: zz(k) = raster index of the k-th scanned coefficient. */
  private[multimodal] val Zig4: Array[Int] =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** luma 4x4 block Z-scan: blkIdx → (x4, y4) in 4x4-block units. */
  private val BlkX = Array(0, 1, 0, 1, 2, 3, 2, 3, 0, 1, 0, 1, 2, 3, 2, 3)
  private val BlkY = Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3)

  // ---- motion prediction (8.4.1) ------------------------------------------

  private def med3(a: Int, b: Int, c: Int): Int =
    math.max(math.min(a, b), math.min(math.max(a, b), c))

  /** per-picture 16x16 motion state in QUARTER-PEL units, shared by
    * encoder and decoder so both resolve identical vectors. Specialized
    * to this subset's P pictures: every macroblock is inter with
    * ref_idx 0 and a 16x16 partition, so neighbor availability (raster
    * order + picture bounds) IS the 8.4.1.3 refIdx-match test. */
  private final class MvGrid(mbw: Int, mbh: Int) {
    private val mx = new Array[Int](mbw * mbh)
    private val my = new Array[Int](mbw * mbh)
    def set(x: Int, y: Int, vx: Int, vy: Int): Unit = {
      mx(y * mbw + x) = vx; my(y * mbw + x) = vy
    }
    private def vx(x: Int, y: Int) = mx(y * mbw + x)
    private def vy(x: Int, y: Int) = my(y * mbw + x)

    /** 8.4.1.3: the P_L0_16x16 median predictor at MB (x, y) — C is
      * the above-right neighbor, replaced by above-left D when outside
      * the picture. */
    def pred(x: Int, y: Int): (Int, Int) = {
      val hasA = x > 0
      val hasB = y > 0
      val hasC = y > 0 && x + 1 < mbw
      val hasD = y > 0 && x > 0
      val cSrc: Option[(Int, Int)] =
        if (hasC) Some((x + 1, y - 1))
        else if (hasD) Some((x - 1, y - 1)) else None
      val (ax, ay) = if (hasA) (vx(x - 1, y), vy(x - 1, y)) else (0, 0)
      val (bx, by) = if (hasB) (vx(x, y - 1), vy(x, y - 1)) else (0, 0)
      val (cx, cy) = cSrc.map { case (nx, ny) => (vx(nx, ny), vy(nx, ny)) }
        .getOrElse((0, 0))
      val mA = hasA; val mB = hasB; val mC = cSrc.isDefined
      // clause 1: B and C (after D substitution) unavailable, A not
      if (!mB && !mC && mA) (ax, ay)
      else if ((if (mA) 1 else 0) + (if (mB) 1 else 0) +
        (if (mC) 1 else 0) == 1) {
        // clause 2: exactly one neighbor matches the reference
        if (mA) (ax, ay) else if (mB) (bx, by) else (cx, cy)
      } else (med3(ax, bx, cx), med3(ay, by, cy))
    }

    /** 8.4.1.1: the P_Skip vector at MB (x, y) — (0,0) when the left
      * or top neighbor is unavailable or carries a zero vector, else
      * the 16x16 predictor. */
    def skipMv(x: Int, y: Int): (Int, Int) = {
      if (x == 0 || y == 0) (0, 0)
      else if ((vx(x - 1, y) == 0 && vy(x - 1, y) == 0) ||
        (vx(x, y - 1) == 0 && vy(x, y - 1) == 0)) (0, 0)
      else pred(x, y)
    }
  }

  // ---- total_zeros, TotalCoeff = 1 (Table 9-7 column 1) ------------------
  // value → (code, bits); prefix-free, Kraft 511/512 (H264Spec law)
  private[multimodal] val TotalZeros1: Array[(Int, Int)] = Array(
    (0x1, 1), (0x3, 3), (0x2, 3), (0x3, 4), (0x2, 4), (0x3, 5), (0x2, 5),
    (0x3, 6), (0x2, 6), (0x3, 7), (0x2, 7), (0x3, 8), (0x2, 8), (0x3, 9),
    (0x2, 9), (0x1, 9))

  // ---- bit I/O (RBSP level; EBSP escaping happens at NAL assembly) --------

  private[multimodal] final class BW {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var n = 0
    def put(v: Long, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >>> i) & 1).toInt; n += 1
        if (n == 8) { out.write(acc); acc = 0; n = 0 }
        i -= 1
      }
    }
    def ue(v: Int): Unit = {
      val c = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(c)
      put(0, len - 1); put(c.toLong, len)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    /** rbsp_trailing_bits: stop bit + alignment zeros. */
    def stop(): Unit = { put(1, 1); if (n > 0) put(0, 8 - n) }
    /** cabac_alignment_one_bits: '1's to the byte boundary (7.3.4). */
    def align1(): Unit = while (n != 0) put(1, 1)
    def bytes: Array[Byte] = out.toByteArray
  }

  private[multimodal] final class BR(val b: Array[Byte]) {
    var pos = 0; var bit = 0
    def eof: Boolean = pos >= b.length
    def bit1(): Int = {
      if (eof) throw Reject
      val v = (b(pos) >> (7 - bit)) & 1
      bit += 1; if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    def bits(n: Int): Int = { var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit1(); i += 1 }; v }
    def ue(): Int = {
      var zeros = 0
      while (bit1() == 0) { zeros += 1; if (zeros > 31) throw Reject }
      if (zeros == 0) 0 else ((1 << zeros) | bits(zeros)) - 1
    }
    def se(): Int = { val k = ue(); if (k % 2 == 1) (k + 1) / 2 else -(k / 2) }
  }

  /** decode rejection — one throwable, caught once at [[decode]]. */
  private object Reject extends RuntimeException { override def fillInStackTrace(): Throwable = this }
  private def rej(cond: Boolean): Unit = if (cond) throw Reject

  // ---- EBSP <-> RBSP -------------------------------------------------------

  /** insert emulation-prevention 0x03 before a third byte ≤ 3 that
    * follows two zero bytes (7.4.1). */
  private[multimodal] def escape(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    for (x <- rbsp) {
      if (zeros >= 2 && (x & 0xff) <= 3) { out.write(3); zeros = 0 }
      out.write(x)
      zeros = if (x == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  private def unescape(ebsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(ebsp.length)
    var zeros = 0; var i = 0
    while (i < ebsp.length) {
      val x = ebsp(i) & 0xff
      if (zeros >= 2 && x == 3) {
        // emulation prevention: must be followed by 0..3
        rej(i + 1 >= ebsp.length || (ebsp(i + 1) & 0xff) > 3)
        zeros = 0
      } else {
        out.write(x)
        zeros = if (x == 0) zeros + 1 else 0
        rej(zeros >= 3) // 00 00 00..02 inside a NAL is a framing violation
      }
      i += 1
    }
    out.toByteArray
  }

  // ---- exact flat-residual levels -----------------------------------------

  /** reconstructed flat residual from one Intra_16x16 DC level `z` at
    * QP 24: inverse Hadamard of a DC-only matrix is flat z, 8.5.10
    * scales it to (10z+2)>>2, the DC-only 4x4 inverse adds
    * (dc+32)>>6 to every pel. */
  private def recI16(z: Int): Int = ((((10 * z + 2) >> 2) + 32) >> 6)
  /** reconstructed flat residual from one Luma4x4 DC level `z` at QP 24:
    * d00 = z·10 << (24/6 − 4) = 10z, then (d00+32)>>6. */
  private def recI4(z: Int): Int = ((10 * z + 32) >> 6)

  /** smallest-|z| level whose reconstruction chain hits `r` exactly;
    * `slope` ≈ dz/dr of the chain (25.6 for the I16 DC path — two
    * rounding stages — 6.4 for the I4 path), used only to seed the
    * scan window. `rec` is monotone in z, so the window is sound. */
  // ---- normative inverse transforms (8.5.10 / 8.5.12) ---------------------
  // The decoder reconstructs through the REAL integer transforms, so a
  // conforming TC≤1 stream with its coefficient at ANY scan position
  // decodes per spec; the closed forms above are the encoder's level
  // solvers for the DC-only case and must agree with this path on it
  // (H264Spec pins the equivalence over the full level range).

  /** dequantise a scan-ordered 4x4 luma residual block into the raster
    * d-matrix at QP 24: d = c · levelScale(24%6, i, j) << (24/6 − 4). */
  private def dequant4x4(coeffs: Array[Int]): Array[Int] = {
    val d = new Array[Int](16)
    var k = 0
    while (k < 16) {
      val r = Zig4(k)
      d(r) = coeffs(k) * levelScale(EncQp % 6, r / 4, r % 4)
      k += 1
    }
    d
  }

  /** the 4x4 integer inverse transform incl. the final (x+32)>>6. */
  private def invTransform4x4(d: Array[Int]): Array[Int] = {
    val e = new Array[Int](16); val f = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val p0 = d(i * 4); val p1 = d(i * 4 + 1)
      val p2 = d(i * 4 + 2); val p3 = d(i * 4 + 3)
      val a = p0 + p2; val b = p0 - p2
      val c = (p1 >> 1) - p3; val t = p1 + (p3 >> 1)
      e(i * 4) = a + t; e(i * 4 + 1) = b + c
      e(i * 4 + 2) = b - c; e(i * 4 + 3) = a - t
      i += 1
    }
    var j = 0
    while (j < 4) {
      val p0 = e(j); val p1 = e(4 + j); val p2 = e(8 + j); val p3 = e(12 + j)
      val a = p0 + p2; val b = p0 - p2
      val c = (p1 >> 1) - p3; val t = p1 + (p3 >> 1)
      f(j) = a + t; f(4 + j) = b + c; f(8 + j) = b - c; f(12 + j) = a - t
      j += 1
    }
    var k = 0
    while (k < 16) { f(k) = (f(k) + 32) >> 6; k += 1 }
    f
  }

  /** the luma-DC 4x4 inverse Hadamard (±1 butterfly, no rounding). */
  private def invHadamard4x4(c: Array[Int]): Array[Int] = {
    val e = new Array[Int](16); val f = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val p0 = c(i * 4); val p1 = c(i * 4 + 1)
      val p2 = c(i * 4 + 2); val p3 = c(i * 4 + 3)
      val a = p0 + p2; val b = p0 - p2; val cc = p1 - p3; val t = p1 + p3
      e(i * 4) = a + t; e(i * 4 + 1) = b + cc
      e(i * 4 + 2) = b - cc; e(i * 4 + 3) = a - t
      i += 1
    }
    var j = 0
    while (j < 4) {
      val p0 = e(j); val p1 = e(4 + j); val p2 = e(8 + j); val p3 = e(12 + j)
      val a = p0 + p2; val b = p0 - p2; val cc = p1 - p3; val t = p1 + p3
      f(j) = a + t; f(4 + j) = b + cc; f(8 + j) = b - cc; f(12 + j) = a - t
      j += 1
    }
    f
  }

  /** 8.5.10 luma-DC scaling at QP 24 (< 36 branch). */
  private def dcScaleY(f: Int): Int =
    (f * levelScale(EncQp % 6, 0, 0) + (1 << (5 - EncQp / 6))) >>
      (6 - EncQp / 6)

  /** equivalence hooks for H264Spec: the general transform path on a
    * DC-only block must equal the encoder's closed-form solvers. */
  private[multimodal] def generalI4(z: Int): Array[Int] = {
    val c = new Array[Int](16); c(0) = z
    invTransform4x4(dequant4x4(c))
  }
  private[multimodal] def generalI16(z: Int): Array[Int] = {
    val c = new Array[Int](16); c(0) = z
    invHadamard4x4(Array.tabulate(16)(k => c.apply(Zig4.indexOf(k))))
      .map(f => invTransform4x4(
        { val d = new Array[Int](16); d(0) = dcScaleY(f); d })(0))
  }
  private[multimodal] def closedI4(z: Int): Int = recI4(z)
  private[multimodal] def closedI16(z: Int): Int = recI16(z)

  private def solveLevel(r: Int, rec: Int => Int, slope: Double): Int = {
    if (r == 0) return 0
    val guess = math.round(r * slope).toInt
    var z = guess - 32
    while (z <= guess + 32) { if (rec(z) == r) return z; z += 1 }
    throw new IllegalArgumentException(s"no exact level for residual $r")
  }

  // ---- encoder -------------------------------------------------------------

  /** one CAVLC residual block holding a single DC-position level `z`
    * (or nothing when z == 0): coeff_token, T1 sign / level, total_zeros. */
  private def writeBlock(w: BW, z: Int): Unit = {
    if (z == 0) { w.put(1, 1); return } // coeff_token (0,0)
    val az = math.abs(z)
    if (az == 1) { // (T1=1, TC=1) '01' + trailing-one sign
      w.put(1, 2); w.put(if (z < 0) 1 else 0, 1)
    } else { // (T1=0, TC=1) '000101' + level, suffixLength 0
      w.put(5, 6)
      val lc = 2 * (az - 1) + (if (z < 0) 1 else 0) - 2 // first level, T1<3
      if (lc < 14) w.put(1, lc + 1)
      else if (lc < 30) { w.put(1, 15); w.put((lc - 14).toLong, 4) }
      else if (lc < 4126) { w.put(1, 16); w.put((lc - 30).toLong, 12) }
      else { // prefix 16: the extended escape, 13-bit suffix
        require(lc < 4126 + 8192, s"level $z out of the prefix-16 range")
        w.put(1, 17); w.put((lc - 4126).toLong, 13)
      }
    }
    val (c, n) = TotalZeros1(0) // single coeff at scan position 0
    w.put(c.toLong, n)
  }

  // ---- shared intra-MB decision (CAVLC and CABAC emitters) ---------------

  private sealed trait IntraDec
  private final case class DecI16(mode: Int, z: Int) extends IntraDec
  private final case class DecI4(zs: Array[Int]) extends IntraDec

  /** resolve one intra macroblock of the plan against the running
    * reconstruction: compute the prediction, solve the exact level(s),
    * write the MB's reconstruction into `rec`, and return what either
    * entropy coder needs to emit. Decisions are entropy-independent,
    * so CAVLC and CABAC streams of one plan reconstruct identically. */
  private def decideIntraMb(plan: MbPlan, rec: Array[Int], width: Int,
      mbx: Int, mby: Int): IntraDec = {
    def clip(v: Int) = math.max(0, math.min(255, v))
    plan match {
      case MbI16(g0, mode) =>
        val g = clip(g0)
        val pred = mode match {
          case 0 => require(mby > 0, "V needs a top neighbor")
            rec((mby * 16 - 1) * width + mbx * 16) // flat top row
          case 1 => require(mbx > 0, "H needs a left neighbor")
            rec(mby * 16 * width + mbx * 16 - 1)
          case 2 =>
            val hasL = mbx > 0; val hasT = mby > 0
            def sumT = (0 until 16).map(i =>
              rec((mby * 16 - 1) * width + mbx * 16 + i)).sum
            def sumL = (0 until 16).map(i =>
              rec((mby * 16 + i) * width + mbx * 16 - 1)).sum
            if (hasL && hasT) (sumT + sumL + 16) >> 5
            else if (hasL) (sumL + 8) >> 4
            else if (hasT) (sumT + 8) >> 4
            else 128
        }
        val z = solveLevel(g - pred, recI16, 25.6)
        require(clip(pred + recI16(z)) == g, "inexact I16 reconstruction")
        var y = mby * 16
        while (y < mby * 16 + 16) {
          var x = mbx * 16
          while (x < mbx * 16 + 16) { rec(y * width + x) = g; x += 1 }
          y += 1
        }
        DecI16(mode, z)
      case MbI4(g0) =>
        val g = clip(g0)
        // per-4x4 DC predictions walk the Z-scan with running recon
        val zs = new Array[Int](16)
        for (b <- 0 until 16) {
          val x0 = mbx * 16 + BlkX(b) * 4; val y0 = mby * 16 + BlkY(b) * 4
          val hasL = x0 > 0; val hasT = y0 > 0
          def sT = (0 until 4).map(i => rec((y0 - 1) * width + x0 + i)).sum
          def sL = (0 until 4).map(i => rec((y0 + i) * width + x0 - 1)).sum
          val pred =
            if (hasL && hasT) (sT + sL + 4) >> 3
            else if (hasL) (sL + 2) >> 2
            else if (hasT) (sT + 2) >> 2
            else 128
          zs(b) = solveLevel(g - pred, recI4, 6.4)
          require(clip(pred + recI4(zs(b))) == g, "inexact I4 reconstruction")
          // write this block's recon so later blocks predict from it
          var yy = y0
          while (yy < y0 + 4) { var xx = x0
            while (xx < x0 + 4) { rec(yy * width + xx) = g; xx += 1 }
            yy += 1 }
        }
        DecI4(zs)
    }
  }

  def encode(width: Int, height: Int, frames: Seq[FramePlan],
      cabac: Boolean = false): Array[Byte] = {
    require(width % 16 == 0 && height % 16 == 0 && frames.nonEmpty,
      "subset: dimensions multiples of 16")
    require(!cabac || frames.forall(f => !f.skipAll && f.pmb.isEmpty),
      "subset: CABAC streams are intra-only (CABAC P slices not coded)")
    val mbw = width / 16; val mbh = height / 16
    val out = new java.io.ByteArrayOutputStream()
    def nal(refIdc: Int, typ: Int, rbsp: Array[Byte]): Unit = {
      out.write(0); out.write(0); out.write(0); out.write(1)
      out.write((refIdc << 5) | typ)
      val esc = escape(rbsp); out.write(esc, 0, esc.length)
    }
    // SPS
    val sps = new BW
    sps.put(66, 8); sps.put(0xc0, 8); sps.put(20, 8) // profile/constraints/level
    sps.ue(0) // sps id
    sps.ue(0) // log2_max_frame_num_minus4
    sps.ue(2) // pic_order_cnt_type
    sps.ue(1) // max_num_ref_frames
    sps.put(0, 1) // gaps_in_frame_num
    sps.ue(mbw - 1); sps.ue(mbh - 1)
    sps.put(1, 1) // frame_mbs_only
    sps.put(0, 1) // direct_8x8_inference
    sps.put(0, 1) // frame_cropping
    sps.put(0, 1) // vui
    sps.stop(); nal(3, 7, sps.bytes)
    // PPS
    val pps = new BW
    pps.ue(0); pps.ue(0) // pps id, sps id
    pps.put(if (cabac) 1 else 0, 1) // entropy_coding_mode
    pps.put(0, 1) // bottom_field_pic_order_in_frame_present
    pps.ue(0) // num_slice_groups_minus1
    pps.ue(0); pps.ue(0) // num_ref_idx defaults
    pps.put(0, 1); pps.put(0, 2) // weighted_pred, weighted_bipred
    pps.se(EncQp - 26); pps.se(0) // pic_init_qp, pic_init_qs
    pps.se(0) // chroma_qp_index_offset
    pps.put(1, 1) // deblocking_filter_control_present
    pps.put(0, 1); pps.put(0, 1) // constrained_intra, redundant_pic_cnt
    pps.stop(); nal(3, 8, pps.bytes)

    var prevRec: Array[Int] = null
    var frameNum = 0
    for ((fp, fi) <- frames.zipWithIndex) {
      // skipAll is the all-PSkip special case of the general P plan
      // (one trailing mb_skip_run over the picture — identical bits)
      val pPlan: Option[(Int, Int) => PMbPlan] =
        if (fp.skipAll) Some((_, _) => PSkip) else fp.pmb
      if (pPlan.isDefined) {
        require(prevRec != null, "a P frame needs a reference")
        val plan = pPlan.get
        val w = new BW
        w.ue(0) // first_mb_in_slice
        w.ue(5) // slice_type P (all)
        w.ue(0) // pps id
        w.put(frameNum.toLong, 4) // frame_num
        w.put(0, 1) // num_ref_idx_active_override_flag
        w.put(0, 1) // ref_pic_list_modification_flag_l0
        w.put(0, 1) // adaptive_ref_pic_marking_mode_flag
        w.se(0) // slice_qp_delta
        w.ue(1) // disable_deblocking_filter_idc = 1 (subset)
        val rec = new Array[Int](width * height)
        val grid = new MvGrid(mbw, mbh)
        def clip(v: Int) = math.max(0, math.min(255, v))
        // motion-compensated copy, edge-clamped fetch (8.4.2.2.1), with
        // the flat residual added after — EXACTLY the decoder's chain
        def mc(mbx: Int, mby: Int, dx: Int, dy: Int, dl: Int): Unit = {
          var yy = 0
          while (yy < 16) {
            var xx = 0
            while (xx < 16) {
              val sy = math.max(0, math.min(height - 1, mby * 16 + yy + dy))
              val sx = math.max(0, math.min(width - 1, mbx * 16 + xx + dx))
              rec((mby * 16 + yy) * width + mbx * 16 + xx) =
                clip(prevRec(sy * width + sx) + dl)
              xx += 1
            }
            yy += 1
          }
        }
        var run = 0
        for (mby <- 0 until mbh; mbx <- 0 until mbw) plan(mbx, mby) match {
          case PSkip =>
            val (mvx, mvy) = grid.skipMv(mbx, mby)
            mc(mbx, mby, mvx / 4, mvy / 4, 0) // int-pel by induction
            grid.set(mbx, mby, mvx, mvy)
            run += 1
          case PMove(dx, dy, dl) =>
            w.ue(run); run = 0
            w.ue(0) // mb_type P_L0_16x16 (one ref → no ref_idx_l0 bits)
            val (px, py) = grid.pred(mbx, mby)
            w.se(dx * 4 - px) // mvd_l0 x (quarter-pel units)
            w.se(dy * 4 - py) // mvd_l0 y
            if (dl == 0) w.ue(0) // coded_block_pattern 0, inter column
            else {
              w.ue(11) // coded_block_pattern 15, inter column
              w.se(0) // mb_qp_delta
              val z = solveLevel(dl, recI4, 6.4) // throws if inexact
              for (_ <- 0 until 16) writeBlock(w, z)
            }
            mc(mbx, mby, dx, dy, dl)
            grid.set(mbx, mby, dx * 4, dy * 4)
        }
        if (run > 0) w.ue(run) // the trailing skip run
        w.stop(); nal(2, 1, w.bytes)
        frameNum = (frameNum + 1) % 16
        prevRec = rec
      } else {
      val w = new BW
      w.ue(0) // first_mb_in_slice
      w.ue(7) // slice_type I (all)
      w.ue(0) // pps id
      w.put(0, 4) // frame_num (log2=4; IDR resets to 0)
      w.ue(fi % 2) // idr_pic_id
      w.put(0, 1); w.put(0, 1) // dec_ref_pic_marking (IDR)
      w.se(0) // slice_qp_delta
      w.ue(1) // disable_deblocking_filter_idc = 1 (subset)
      val rec = Array.fill(width * height)(0)
      // decisions first (entropy-independent), then emit through the
      // chosen coder — both streams reconstruct the same plan
      val decs = (for (mby <- 0 until mbh; mbx <- 0 until mbw)
        yield decideIntraMb(fp.mb(mbx, mby), rec, width, mbx, mby))
        .toIndexedSeq
      if (!cabac) {
        for (dec <- decs) dec match {
          case DecI16(mode, z) =>
            w.ue(1 + mode) // I_16x16_<mode>_0_0
            w.ue(0) // intra_chroma_pred_mode DC
            w.se(0) // mb_qp_delta
            writeBlock(w, z) // Intra16x16DCLevel; CBP 0 → no AC/chroma
          case DecI4(zs) =>
            w.ue(0) // I_NxN
            for (_ <- 0 until 16) w.put(1, 1) // prev_intra4x4_pred_mode
            w.ue(0) // intra_chroma_pred_mode DC
            val cbp = if (zs.exists(_ != 0)) 15 else 0
            w.ue(if (cbp == 15) 2 else 3) // me(v), Table 9-4 intra column
            if (cbp == 15) {
              w.se(0) // mb_qp_delta
              for (b <- 0 until 16) writeBlock(w, zs(b))
            }
        }
        w.stop()
        nal(3, 5, w.bytes)
      } else {
        w.align1() // cabac_alignment_one_bits
        nal(3, 5, w.bytes ++ encodeCabacMbs(mbw, mbh, decs))
      }
      prevRec = rec
      frameNum = 1 // the IDR reset: the next P counts from 1
      }
    }
    out.toByteArray
  }

  // ---- CABAC I-slice macroblock layer -------------------------------------
  // The clause 9.3 binarizations and context models for this intra
  // subset over the [[H264Cabac]] engine (whose scaladoc states the
  // init-constant cut). Context indices follow the spec's ctxIdx
  // numbering: mb_type 3..10, mb_qp_delta 60..63, intra_chroma 64..67,
  // intra4x4 modes 68/69, CBP luma 73..76 / chroma 77..84,
  // coded_block_flag 85+catOff, significant/last 105/166+catOff,
  // coeff_abs_level_minus1 227+catOff, end_of_slice = terminate.
  // ctxBlockCat offsets: Intra16x16DCLevel (cat 0) cbf+0/sig+0/lvl+0,
  // LumaLevel4x4 (cat 2) cbf+8/sig+29/lvl+20. Unlike the CAVLC subset
  // (whose nC tables bound TotalCoeff ≤ 1), the CABAC residual path is
  // FULL: any significance map, any levels — the UEG0 suffix has no
  // table bound — reconstructed through the real transforms.

  private val NCtx = 277

  /** per-slice neighbor-conditioned context state shared by the CABAC
    * encoder and decoder (both sides must walk identical models). */
  private final class CabacMbState(mbw: Int, mbh: Int) {
    val isI4 = new Array[Boolean](mbw * mbh)
    val cbpLuma = new Array[Int](mbw * mbh)
    val dcCbf = Array.fill(mbw * mbh)(-1) // -1 = MB has no DC block
    val cbf4 = new Array[Int](mbw * 4 * mbh * 4)

    /** mb_type bin0 inc: neighbors that are available and not I_NxN. */
    def mbTypeInc(mbx: Int, mby: Int): Int =
      (if (mbx > 0 && !isI4(mby * mbw + mbx - 1)) 1 else 0) +
        (if (mby > 0 && !isI4((mby - 1) * mbw + mbx)) 1 else 0)

    /** CBP-luma bin inc for 8x8 `i8` (x8 = i8 & 1, y8 = i8 >> 1):
      * condTermN = neighbor 8x8's cbp bit == 0 (9.3.3.1.1.4);
      * unavailable → 0. */
    def cbpLumaInc(mbx: Int, mby: Int, i8: Int, cur: Int): Int = {
      val x8 = i8 & 1; val y8 = i8 >> 1
      def bit(mb: Int, j8: Int): Int = (cbpLuma(mb) >> j8) & 1
      val condA =
        if (x8 == 1) 1 - ((cur >> (y8 * 2)) & 1) // left 8x8, same MB
        else if (mbx > 0) 1 - bit(mby * mbw + mbx - 1, y8 * 2 + 1)
        else 0
      val condB =
        if (y8 == 1) 1 - ((cur >> x8) & 1) // top 8x8, same MB
        else if (mby > 0) 1 - bit((mby - 1) * mbw + mbx, 2 + x8)
        else 0
      condA + 2 * condB
    }

    /** coded_block_flag inc for a luma 4x4 at grid (bx, by): neighbor
      * block cbf; outside the picture → 1 (the intra rule). */
    def cbfInc4(mbw4: Int, bx: Int, by: Int): Int = {
      val a = if (bx > 0) cbf4(by * mbw4 + bx - 1) else 1
      val b = if (by > 0) cbf4((by - 1) * mbw4 + bx) else 1
      a + 2 * b
    }

    /** coded_block_flag inc for an I16 DC block: neighbor MB's DC cbf;
      * outside → 1 (intra); neighbor without a DC block → 0. */
    def cbfIncDc(mbx: Int, mby: Int): Int = {
      def of(mb: Int): Int = { val v = dcCbf(mb); if (v < 0) 0 else v }
      val a = if (mbx > 0) of(mby * mbw + mbx - 1) else 1
      val b = if (mby > 0) of((mby - 1) * mbw + mbx) else 1
      a + 2 * b
    }
  }

  private def lvlCatOff(cat: Int) = if (cat == 0) 0 else 20
  private def sigCatOff(cat: Int) = if (cat == 0) 0 else 29
  private def cbfCatOff(cat: Int) = if (cat == 0) 0 else 8

  /** CABAC-encode one residual block (scan-ordered coefficients):
    * coded_block_flag, significance map, reverse-scan UEG0 levels with
    * the numEq1/numGt1 context schedule, bypass signs. */
  private def writeResCabac(e: H264Cabac.Enc, cx: H264Cabac.Ctxs,
      cat: Int, cbfInc: Int, coeffs: Array[Int]): Unit = {
    val nz = coeffs.exists(_ != 0)
    e.decision(cx, 85 + cbfCatOff(cat) + cbfInc, if (nz) 1 else 0)
    if (!nz) return
    val last = (15 to 0 by -1).find(coeffs(_) != 0).get
    var i = 0
    while (i < 15 && i <= last) {
      val sig = coeffs(i) != 0
      e.decision(cx, 105 + sigCatOff(cat) + i, if (sig) 1 else 0)
      if (sig)
        e.decision(cx, 166 + sigCatOff(cat) + i, if (i == last) 1 else 0)
      i += 1
    }
    var numEq1 = 0; var numGt1 = 0
    var j = last
    while (j >= 0) {
      if (coeffs(j) != 0) {
        val am1 = math.abs(coeffs(j)) - 1
        val inc0 = if (numGt1 != 0) 0 else math.min(4, 1 + numEq1)
        val incG = 5 + math.min(4, numGt1)
        val prefix = math.min(am1, 14)
        var b = 0
        while (b < prefix) {
          e.decision(cx,
            227 + lvlCatOff(cat) + (if (b == 0) inc0 else incG), 1)
          b += 1
        }
        if (prefix < 14)
          e.decision(cx,
            227 + lvlCatOff(cat) + (if (prefix == 0) inc0 else incG), 0)
        else {
          var suf = am1 - 14; var k = 0
          while (suf >= (1 << k)) { e.bypass(1); suf -= (1 << k); k += 1 }
          e.bypass(0)
          var kk = k - 1
          while (kk >= 0) { e.bypass((suf >> kk) & 1); kk -= 1 }
        }
        e.bypass(if (coeffs(j) < 0) 1 else 0)
        if (am1 == 0) numEq1 += 1 else numGt1 += 1
      }
      j -= 1
    }
  }

  /** decode dual of [[writeResCabac]]; returns the scan-ordered block
    * (all-zero when coded_block_flag is 0). */
  private def readResCabac(d: H264Cabac.Dec, cx: H264Cabac.Ctxs,
      cat: Int, cbfInc: Int): Array[Int] = {
    val coeffs = new Array[Int](16)
    if (d.decision(cx, 85 + cbfCatOff(cat) + cbfInc) == 0) return coeffs
    val sig = new Array[Boolean](16)
    var last = -1
    var i = 0
    while (i < 15 && last < 0) {
      if (d.decision(cx, 105 + sigCatOff(cat) + i) == 1) {
        sig(i) = true
        if (d.decision(cx, 166 + sigCatOff(cat) + i) == 1) last = i
      }
      i += 1
    }
    if (last < 0) { sig(15) = true; last = 15 }
    var numEq1 = 0; var numGt1 = 0
    var j = last
    while (j >= 0) {
      if (sig(j)) {
        val inc0 = if (numGt1 != 0) 0 else math.min(4, 1 + numEq1)
        val incG = 5 + math.min(4, numGt1)
        var prefix = 0
        while (prefix < 14 && d.decision(cx,
          227 + lvlCatOff(cat) + (if (prefix == 0) inc0 else incG)) == 1)
          prefix += 1
        var am1 = prefix
        if (prefix == 14) {
          var k = 0
          while (d.bypass() == 1) { k += 1; rej(k > 30) }
          var suf = 0; var kk = 0
          while (kk < k) { suf = (suf << 1) | d.bypass(); kk += 1 }
          am1 = 14 + ((1 << k) - 1) + suf
        }
        coeffs(j) = if (d.bypass() == 1) -(am1 + 1) else am1 + 1
        if (am1 == 0) numEq1 += 1 else numGt1 += 1
      }
      j -= 1
    }
    coeffs
  }

  /** CABAC-encode the I-slice macroblock layer for the decided MBs —
    * returns the byte-aligned arithmetic payload to append after the
    * cabac_alignment_one_bits. */
  private def encodeCabacMbs(mbw: Int, mbh: Int,
      decs: IndexedSeq[IntraDec]): Array[Byte] = {
    val e = new H264Cabac.Enc
    val cx = new H264Cabac.Ctxs(NCtx)
    val st = new CabacMbState(mbw, mbh)
    for (mb <- decs.indices) {
      val mbx = mb % mbw; val mby = mb / mbw
      val incT = st.mbTypeInc(mbx, mby)
      decs(mb) match {
        case DecI16(mode, z) =>
          e.decision(cx, 3 + incT, 1) // not I_NxN
          e.terminate(0) // not I_PCM
          e.decision(cx, 6, 0) // CBP luma 0 (AC-coded I16 out of subset)
          e.decision(cx, 7, 0) // CBP chroma 0
          e.decision(cx, 9, (mode >> 1) & 1)
          e.decision(cx, 10, mode & 1)
          e.decision(cx, 64, 0) // intra_chroma_pred_mode DC
          e.decision(cx, 60, 0) // mb_qp_delta 0
          val dc = new Array[Int](16); dc(0) = z
          writeResCabac(e, cx, 0, st.cbfIncDc(mbx, mby), dc)
          st.isI4(mb) = false; st.cbpLuma(mb) = 0
          st.dcCbf(mb) = if (z != 0) 1 else 0
          // I16 AC blocks are uncoded: their cbf is 0
          for (b <- 0 until 16)
            st.cbf4((mby * 4 + BlkY(b)) * (mbw * 4) + mbx * 4 + BlkX(b)) = 0
        case DecI4(zs) =>
          e.decision(cx, 3 + incT, 0) // I_NxN
          for (_ <- 0 until 16) e.decision(cx, 68, 1) // most-probable (DC)
          e.decision(cx, 64, 0) // intra_chroma_pred_mode DC
          val cbp = if (zs.exists(_ != 0)) 15 else 0
          for (i8 <- 0 until 4)
            e.decision(cx, 73 + st.cbpLumaInc(mbx, mby, i8, cbp),
              (cbp >> i8) & 1)
          e.decision(cx, 77, 0) // CBP chroma 0
          if (cbp == 15) {
            e.decision(cx, 60, 0) // mb_qp_delta 0
            for (b <- 0 until 16) {
              val bx = mbx * 4 + BlkX(b); val by = mby * 4 + BlkY(b)
              val coeffs = new Array[Int](16); coeffs(0) = zs(b)
              writeResCabac(e, cx, 2, st.cbfInc4(mbw * 4, bx, by), coeffs)
              st.cbf4(by * (mbw * 4) + bx) = if (zs(b) != 0) 1 else 0
            }
          } else for (b <- 0 until 16)
            st.cbf4((mby * 4 + BlkY(b)) * (mbw * 4) + mbx * 4 + BlkX(b)) = 0
          st.isI4(mb) = true; st.cbpLuma(mb) = cbp; st.dcCbf(mb) = -1
      }
      e.terminate(if (mb == decs.length - 1) 1 else 0) // end_of_slice
    }
    e.flush()
  }

  /** CABAC I-slice decoder: same header as the CAVLC slice, then
    * cabac_alignment_one_bits and the arithmetic macroblock layer.
    * Reconstruction is the shared intra chain — the two entropy
    * coders MUST land on identical planes (H264CabacSpec law). */
  private def decodeSliceCabac(r: BR, sps: Sps): Frame = {
    val mbw = sps.mbw; val mbh = sps.mbh
    val width = mbw * 16; val height = mbh * 16
    val pm = Array.fill(mbw * 4 * mbh * 4)(2)
    rej(r.ue() != 0) // first_mb_in_slice: one slice per picture
    val st0 = r.ue(); rej(st0 != 7 && st0 != 2) // I slices only
    rej(r.ue() != 0) // pps id
    r.bits(4) // frame_num
    r.ue() // idr_pic_id
    r.bit1(); r.bit1() // dec_ref_pic_marking
    rej(r.se() != 0) // slice_qp_delta (subset: QP stays 24)
    rej(r.ue() != 1) // deblocking MUST be disabled (subset)
    while (r.bit != 0) rej(r.bit1() != 1) // cabac_alignment_one_bits
    val d = new H264Cabac.Dec(() => r.bit1())
    val cx = new H264Cabac.Ctxs(NCtx)
    val st = new CabacMbState(mbw, mbh)
    val rec = new Array[Int](width * height)
    var mb = 0; val total = mbw * mbh
    var ended = false
    while (mb < total) {
      rej(ended) // end_of_slice before the last macroblock
      val mbx = mb % mbw; val mby = mb / mbw
      val incT = st.mbTypeInc(mbx, mby)
      if (d.decision(cx, 3 + incT) == 1) { // I_16x16 (or I_PCM)
        rej(d.terminate() != 0) // I_PCM out of subset
        rej(d.decision(cx, 6) != 0) // AC-coded I16 out of subset
        rej(d.decision(cx, 7) != 0) // chroma-coded I16 out of subset
        val mode = (d.decision(cx, 9) << 1) | d.decision(cx, 10)
        rej(mode > 2) // plane mode out of subset
        rej(d.decision(cx, 64) != 0) // chroma pred: DC only
        rej(d.decision(cx, 60) != 0) // nonzero mb_qp_delta out of subset
        val dc = readResCabac(d, cx, 0, st.cbfIncDc(mbx, mby))
        reconI16Mb(rec, width, mbx, mby, mode, dc)
        st.isI4(mb) = false; st.cbpLuma(mb) = 0
        st.dcCbf(mb) = if (dc.exists(_ != 0)) 1 else 0
        for (b <- 0 until 16) {
          val bx = mbx * 4 + BlkX(b); val by = mby * 4 + BlkY(b)
          st.cbf4(by * (mbw * 4) + bx) = 0
          pm(by * (mbw * 4) + bx) = 2
        }
      } else { // I_NxN
        val flags = (0 until 16).map { _ =>
          if (d.decision(cx, 68) == 1) -1
          else d.decision(cx, 69) | (d.decision(cx, 69) << 1) |
            (d.decision(cx, 69) << 2) // FL bins, LSB first
        }
        rej(d.decision(cx, 64) != 0) // chroma pred: DC only
        var cbp = 0
        for (i8 <- 0 until 4)
          cbp |= d.decision(cx, 73 + st.cbpLumaInc(mbx, mby, i8, cbp)) << i8
        rej(cbp != 0 && cbp != 15) // partial luma CBP out of subset
        rej(d.decision(cx, 77) != 0) // chroma CBP out of subset
        if (cbp == 15) rej(d.decision(cx, 60) != 0) // mb_qp_delta 0
        for (b <- 0 until 16) {
          val bx = mbx * 4 + BlkX(b); val by = mby * 4 + BlkY(b)
          val mp = math.min(
            if (bx > 0) pm(by * (mbw * 4) + bx - 1) else 2,
            if (by > 0) pm((by - 1) * (mbw * 4) + bx) else 2)
          val mode = flags(b) match {
            case -1 => mp
            case m => val mm = if (m < mp) m else m + 1; rej(mm > 2); mm
          }
          pm(by * (mbw * 4) + bx) = mode
          val coeffs =
            if (cbp == 15) readResCabac(d, cx, 2, st.cbfInc4(mbw * 4, bx, by))
            else new Array[Int](16)
          st.cbf4(by * (mbw * 4) + bx) =
            if (coeffs.exists(_ != 0)) 1 else 0
          reconI4Block(rec, width, bx * 4, by * 4, mode,
            invTransform4x4(dequant4x4(coeffs)))
        }
        st.isI4(mb) = true; st.cbpLuma(mb) = cbp; st.dcCbf(mb) = -1
      }
      ended = d.terminate() == 1
      mb += 1
    }
    rej(!ended) // the last macroblock must carry end_of_slice = 1
    // post-terminate bits are the encoder flush + padding; CABAC's
    // 9-bit read-ahead makes a CAVLC-style trailing check inapplicable
    // (truncation still rejects: a short stream throws inside a read)
    val cw = width / 2; val ch = height / 2
    Frame(rec, Array.fill(cw * ch)(128), Array.fill(cw * ch)(128))
  }

  // ---- decoder -------------------------------------------------------------

  private final case class Sps(mbw: Int, mbh: Int)

  private def parseSps(r: BR): Sps = {
    val profile = r.bits(8); r.bits(8); r.bits(8)
    rej(profile != 66)
    rej(r.ue() != 0) // sps id
    rej(r.ue() != 0) // log2_max_frame_num_minus4 (subset: 4-bit frame_num)
    val poc = r.ue(); rej(poc != 2)
    r.ue() // max_num_ref_frames
    r.bit1() // gaps flag
    val mbw = r.ue() + 1; val mbh = r.ue() + 1
    rej(mbw <= 0 || mbh <= 0 || mbw > 1024 || mbh > 1024)
    rej(r.bit1() != 1) // frame_mbs_only
    r.bit1() // direct_8x8_inference
    rej(r.bit1() != 0) // cropping out of subset
    rej(r.bit1() != 0) // vui out of subset
    Sps(mbw, mbh)
  }

  private final case class Pps(qp: Int, cabac: Boolean)

  private def parsePps(r: BR): Pps = {
    rej(r.ue() != 0); rej(r.ue() != 0)
    val cabac = r.bit1() == 1 // entropy_coding_mode
    r.bit1()
    rej(r.ue() != 0) // slice groups out of subset
    r.ue(); r.ue(); r.bit1(); r.bits(2)
    val qp = 26 + r.se(); r.se(); r.se()
    rej(r.bit1() != 1) // deblocking control must be present…
    r.bit1(); r.bit1()
    rej(qp != EncQp) // …and the subset quantises at exactly QP 24
    Pps(qp, cabac)
  }

  /** CAVLC residual block, TotalCoeff ≤ 1 (subset): returns (level,
    * scanPos, totalCoeff) with scanPos = total_zeros. */
  private def readBlock(r: BR, nC: Int): (Int, Int, Int) = {
    rej(nC >= 2) // subset guarantees the 0 ≤ nC < 2 coeff_token table
    if (r.bit1() == 1) return (0, 0, 0) // (0,0) '1'
    val (t1, tc) =
      if (r.bit1() == 1) (1, 1) // '01'
      else { rej(r.bits(4) != 5); (0, 1) } // '000101' (0,1); rest rejects
    val level =
      if (t1 == 1) { if (r.bit1() == 1) -1 else 1 }
      else {
        var prefix = 0
        while (r.bit1() == 0) { prefix += 1; rej(prefix > 16) }
        var lc =
          if (prefix < 14) prefix
          else if (prefix == 14) 14 + r.bits(4)
          else if (prefix == 15) 30 + r.bits(12)
          else 4126 + r.bits(13) // prefix 16: extended escape
        lc += 2 // first level with TrailingOnes < 3
        if (lc % 2 == 0) (lc + 2) >> 1 else -((lc + 1) >> 1)
      }
    // total_zeros (TotalCoeff = 1, maxNumCoeff 16)
    var code = 0; var len = 0; var tz = -1
    while (tz < 0) {
      code = (code << 1) | r.bit1(); len += 1; rej(len > 9)
      var v = 0
      while (v < 16 && tz < 0) {
        val (c, n) = TotalZeros1(v)
        if (n == len && c == code) tz = v
        v += 1
      }
      // 9-bit exhaustion: the one unused 9-bit point rejects
      rej(len == 9 && tz < 0)
    }
    (level, tz, 1)
  }

  /** reconstruct one Intra_4x4 block: mode-predicted (V/H/DC with the
    * availability rules) plus the inverse-transformed residual. Shared
    * by the CAVLC and CABAC slice decoders. */
  private def reconI4Block(rec: Array[Int], width: Int, x0: Int, y0: Int,
      mode: Int, res: Array[Int]): Unit = {
    def clip(v: Int) = math.max(0, math.min(255, v))
    val hasL = x0 > 0; val hasT = y0 > 0
    var yy = 0
    while (yy < 4) {
      var xx = 0
      while (xx < 4) {
        val pred = mode match {
          case 0 => rej(!hasT); rec((y0 - 1) * width + x0 + xx)
          case 1 => rej(!hasL); rec((y0 + yy) * width + x0 - 1)
          case _ =>
            def sT = (0 until 4).map(i => rec((y0 - 1) * width + x0 + i)).sum
            def sL = (0 until 4).map(i => rec((y0 + i) * width + x0 - 1)).sum
            if (hasL && hasT) (sT + sL + 4) >> 3
            else if (hasL) (sL + 2) >> 2
            else if (hasT) (sT + 2) >> 2
            else 128
        }
        rec((y0 + yy) * width + x0 + xx) = clip(pred + res(yy * 4 + xx))
        xx += 1
      }
      yy += 1
    }
  }

  /** reconstruct one Intra_16x16 macroblock from its SCAN-ORDERED DC
    * coefficient block: inverse Hadamard → 8.5.10 scaling → per-4x4
    * DC-only inverse transforms, mode-predicted per pel. Shared by the
    * CAVLC and CABAC slice decoders. */
  private def reconI16Mb(rec: Array[Int], width: Int, mbx: Int, mby: Int,
      mode: Int, dcScan: Array[Int]): Unit = {
    def clip(v: Int) = math.max(0, math.min(255, v))
    val dcRaster = new Array[Int](16)
    for (k <- 0 until 16) dcRaster(Zig4(k)) = dcScan(k)
    val res4 = invHadamard4x4(dcRaster).map { f =>
      val d = new Array[Int](16); d(0) = dcScaleY(f)
      invTransform4x4(d)(0) // DC-only: uniform over the 4x4
    }
    val x0 = mbx * 16; val y0 = mby * 16
    val hasL = mbx > 0; val hasT = mby > 0
    var yy = 0
    while (yy < 16) {
      var xx = 0
      while (xx < 16) {
        val pred = mode match {
          case 0 => rej(!hasT); rec((y0 - 1) * width + x0 + xx)
          case 1 => rej(!hasL); rec((y0 + yy) * width + x0 - 1)
          case _ =>
            def sT = (0 until 16).map(i => rec((y0 - 1) * width + x0 + i)).sum
            def sL = (0 until 16).map(i => rec((y0 + i) * width + x0 - 1)).sum
            if (hasL && hasT) (sT + sL + 16) >> 5
            else if (hasL) (sL + 8) >> 4
            else if (hasT) (sT + 8) >> 4
            else 128
        }
        // block (x4, y4)'s DC sits at Hadamard raster y4*4 + x4
        rec((y0 + yy) * width + x0 + xx) =
          clip(pred + res4((yy / 4) * 4 + (xx / 4)))
        xx += 1
      }
      yy += 1
    }
  }

  /** rbsp_trailing_bits (7.3.2.11): the stop bit, zero padding to the
    * byte boundary, then nothing but zero bytes (trailing zero_words
    * are legal padding). Anything else — e.g. slice payload appended
    * past the last macroblock — rejects the stream: acceptance must
    * prove the WHOLE slice was consumed, not a prefix. */
  private def rbspStop(r: BR): Unit = {
    rej(r.bit1() != 1)
    while (r.bit != 0) rej(r.bit1() != 0)
    while (!r.eof) rej(r.bits(8) != 0)
  }

  /** non-IDR P slice: mb_skip_run-interleaved P_Skip macroblocks
    * (motion = the 8.4.1.1 predictor over the real neighbor state —
    * the all-skip picture degenerates to a verbatim reference copy,
    * because edges and zero-vector neighbors force (0,0) everywhere)
    * and P_L0_16x16 macroblocks: mvd against the 8.4.1.3 median
    * predictor, single reference (the previous decoded picture),
    * integer-pel vectors only (fractional rejects — interpolation is
    * the stated cut), edge-clamped fetch per 8.4.2.2.1, CBP 0 or
    * luma-15 TC≤1 residuals. Other partitions, intra-in-P types, list
    * modification and marking ops reject. */
  private def decodePSlice(r: BR, sps: Sps, prev: Option[Frame],
      tc: Array[Int]): Frame = {
    val mbw = sps.mbw; val mbh = sps.mbh
    val width = mbw * 16; val height = mbh * 16
    rej(r.ue() != 0) // first_mb_in_slice: one slice per picture
    val st = r.ue(); rej(st != 5 && st != 0) // P slices only
    rej(r.ue() != 0) // pps id
    r.bits(4) // frame_num
    rej(r.bit1() != 0) // num_ref_idx_active_override_flag
    rej(r.bit1() != 0) // ref_pic_list_modification_flag_l0
    rej(r.bit1() != 0) // adaptive_ref_pic_marking_mode_flag
    rej(r.se() != 0) // slice_qp_delta (subset: QP stays 24)
    rej(r.ue() != 1) // deblocking MUST be disabled (subset)
    rej(prev.isEmpty) // a P frame needs a decoded reference
    val ref = prev.get.y
    java.util.Arrays.fill(tc, 0)
    val rec = new Array[Int](width * height)
    val grid = new MvGrid(mbw, mbh)
    def clip(v: Int) = math.max(0, math.min(255, v))
    def nCof(bx: Int, by: Int): Int = {
      val hasL = bx > 0; val hasT = by > 0
      val nA = if (hasL) tc(by * (mbw * 4) + bx - 1) else 0
      val nB = if (hasT) tc((by - 1) * (mbw * 4) + bx) else 0
      if (hasL && hasT) (nA + nB + 1) >> 1
      else if (hasL) nA else if (hasT) nB else 0
    }
    // motion-compensated 16x16 copy, reference fetch edge-clamped
    def mcMb(mbx: Int, mby: Int, dx: Int, dy: Int): Unit = {
      var yy = 0
      while (yy < 16) {
        var xx = 0
        while (xx < 16) {
          val sy = math.max(0, math.min(height - 1, mby * 16 + yy + dy))
          val sx = math.max(0, math.min(width - 1, mbx * 16 + xx + dx))
          rec((mby * 16 + yy) * width + mbx * 16 + xx) = ref(sy * width + sx)
          xx += 1
        }
        yy += 1
      }
    }
    var mb = 0; val total = mbw * mbh
    while (mb < total) {
      val run = r.ue() // mb_skip_run
      rej(run > total - mb)
      var k = 0
      while (k < run) {
        val mbx = mb % mbw; val mby = mb / mbw
        val (mvx, mvy) = grid.skipMv(mbx, mby)
        mcMb(mbx, mby, mvx / 4, mvy / 4) // int-pel by induction
        grid.set(mbx, mby, mvx, mvy)
        mb += 1; k += 1
      }
      if (mb < total) {
        val mbx = mb % mbw; val mby = mb / mbw
        rej(r.ue() != 0) // mb_type: P_L0_16x16 only (single ref → no
        //                  ref_idx_l0 bits; splits / intra-in-P reject)
        val (px, py) = grid.pred(mbx, mby)
        val mvx = px + r.se() // mvd_l0, quarter-pel units
        val mvy = py + r.se()
        rej((mvx & 3) != 0 || (mvy & 3) != 0) // integer-pel subset
        mcMb(mbx, mby, mvx / 4, mvy / 4)
        val cbp = r.ue() match {
          case 0 => 0; case 11 => 15 // Table 9-4 inter column, in-subset
          case _ => throw Reject
        }
        if (cbp == 15) {
          rej(r.se() != 0) // mb_qp_delta
          for (b <- 0 until 16) {
            val bx = mbx * 4 + BlkX(b); val by = mby * 4 + BlkY(b)
            val (level, pos, n) = readBlock(r, nCof(bx, by))
            tc(by * (mbw * 4) + bx) = n
            val coeffs = new Array[Int](16); coeffs(pos) = level
            val res = invTransform4x4(dequant4x4(coeffs))
            val x0 = bx * 4; val y0 = by * 4
            var yy = 0
            while (yy < 4) {
              var xx = 0
              while (xx < 4) {
                val i = (y0 + yy) * width + x0 + xx
                rec(i) = clip(rec(i) + res(yy * 4 + xx))
                xx += 1
              }
              yy += 1
            }
          }
        }
        grid.set(mbx, mby, mvx, mvy)
        mb += 1
      }
    }
    rbspStop(r)
    val cw = width / 2; val ch = height / 2
    Frame(rec, Array.fill(cw * ch)(128), Array.fill(cw * ch)(128))
  }

  private def decodeSlice(r: BR, sps: Sps, tc: Array[Int]): Frame = {
    val mbw = sps.mbw; val mbh = sps.mbh
    val width = mbw * 16; val height = mbh * 16
    // per-4x4 Intra4x4PredMode grid for the most-probable-mode rule
    // (8.3.1.1): neighbors outside the picture or in non-I_4x4 MBs
    // predict as DC (2)
    val pm = Array.fill(mbw * 4 * mbh * 4)(2)
    rej(r.ue() != 0) // first_mb_in_slice: one slice per picture
    val st = r.ue(); rej(st != 7 && st != 2) // I slices only
    rej(r.ue() != 0) // pps id
    r.bits(4) // frame_num
    r.ue() // idr_pic_id
    r.bit1(); r.bit1() // dec_ref_pic_marking
    rej(r.se() != 0) // slice_qp_delta (subset: QP stays 24)
    rej(r.ue() != 1) // deblocking MUST be disabled (subset)
    java.util.Arrays.fill(tc, 0)
    val rec = new Array[Int](width * height)
    // nC per 9.2.1: average of available neighbor 4x4 TotalCoeffs
    def nCof(bx: Int, by: Int): Int = {
      val hasL = bx > 0; val hasT = by > 0
      val nA = if (hasL) tc(by * (mbw * 4) + bx - 1) else 0
      val nB = if (hasT) tc((by - 1) * (mbw * 4) + bx) else 0
      if (hasL && hasT) (nA + nB + 1) >> 1
      else if (hasL) nA else if (hasT) nB else 0
    }
    for (mby <- 0 until mbh; mbx <- 0 until mbw) {
      val mbType = r.ue()
      if (mbType == 0) { // I_NxN, Intra_4x4
        val modes = (0 until 16).map { _ =>
          if (r.bit1() == 1) -1 // most probable
          else r.bits(3)
        }
        rej(r.ue() != 0) // intra_chroma_pred_mode: DC only (subset)
        val cbpCode = r.ue()
        val cbp = cbpCode match {
          case 2 => 15; case 3 => 0 // Table 9-4 intra column, in-subset
          case _ => throw Reject
        }
        if (cbp == 15) rej(r.se() != 0) // mb_qp_delta
        for (b <- 0 until 16) {
          val bx = mbx * 4 + BlkX(b); val by = mby * 4 + BlkY(b)
          val x0 = bx * 4; val y0 = by * 4
          // most-probable mode = min of the tracked neighbor modes
          // (8.3.1.1); subset accepts only V/H/DC after resolution
          val mp = math.min(
            if (bx > 0) pm(by * (mbw * 4) + bx - 1) else 2,
            if (by > 0) pm((by - 1) * (mbw * 4) + bx) else 2)
          val mode = modes(b) match {
            case -1 => mp
            case m => val mm = if (m < mp) m else m + 1; rej(mm > 2); mm
          }
          pm(by * (mbw * 4) + bx) = mode
          val (level, pos, n) =
            if (cbp == 15) readBlock(r, nCof(bx, by)) else (0, 0, 0)
          tc(by * (mbw * 4) + bx) = n
          // the REAL transform chain: scan-placed coefficient →
          // dequant → 4x4 integer inverse (any position, not just DC)
          val coeffs = new Array[Int](16); coeffs(pos) = level
          reconI4Block(rec, width, x0, y0, mode,
            invTransform4x4(dequant4x4(coeffs)))
        }
      } else if (mbType >= 1 && mbType <= 3) { // I_16x16_<V|H|DC>_0_0
        val mode = mbType - 1
        rej(r.ue() != 0) // intra_chroma_pred_mode: DC only (subset)
        rej(r.se() != 0) // mb_qp_delta
        val (level, pos, _) = readBlock(r, nCof(mbx * 4, mby * 4))
        // the REAL chain: scan-placed DC coefficient → inverse Hadamard
        // → 8.5.10 scaling → per-4x4 DC-only inverse transform
        val dcScan = new Array[Int](16); dcScan(pos) = level
        reconI16Mb(rec, width, mbx, mby, mode, dcScan)
        // AC blocks are uncoded (CBP luma 0): their TotalCoeff is 0
        for (b <- 0 until 16)
          tc((mby * 4 + BlkY(b)) * (mbw * 4) + mbx * 4 + BlkX(b)) = 0
      } else throw Reject // plane/AC/chroma-coded I_16x16, I_PCM, P/B types
    }
    rbspStop(r) // the slice must END here: appended payload rejects
    // subset chroma: never coded, DC-predicted from flat-128 recon = 128
    val cw = width / 2; val ch = height / 2
    Frame(rec, Array.fill(cw * ch)(128), Array.fill(cw * ch)(128))
  }

  def decode(bytes: Array[Byte]): Option[Decoded] =
    try {
      // split on start codes (3- or 4-byte)
      var i = 0; val nals = Vector.newBuilder[Array[Byte]]
      def isSc3(p: Int) = p + 2 < bytes.length &&
        bytes(p) == 0 && bytes(p + 1) == 0 && bytes(p + 2) == 1
      while (i < bytes.length && !isSc3(i)) i += 1
      rej(i == bytes.length)
      while (i < bytes.length) {
        i += 3
        val start = i
        while (i < bytes.length && !isSc3(i) &&
          !(i + 3 < bytes.length && bytes(i) == 0 && isSc3(i + 1))) i += 1
        var end = i
        if (i < bytes.length && bytes(i) == 0 && isSc3(i + 1)) { end = i; i += 1 }
        // strip trailing zero padding ahead of the next start code
        nals += bytes.slice(start, end)
      }
      var sps: Option[Sps] = None
      var pps: Option[Pps] = None
      var frames = Vector.empty[Frame]
      var tcGrid: Array[Int] = null
      for (nal <- nals.result()) {
        rej(nal.length < 1)
        val hdr = nal(0) & 0xff
        rej((hdr & 0x80) != 0) // forbidden_zero_bit
        val typ = hdr & 0x1f
        val r = new BR(unescape(nal.drop(1)))
        typ match {
          case 7 =>
            val s = parseSps(r); sps = Some(s)
            tcGrid = new Array[Int](s.mbw * 4 * s.mbh * 4)
          case 8 => rej(sps.isEmpty); pps = Some(parsePps(r))
          case 5 =>
            rej(sps.isEmpty || pps.isEmpty)
            frames :+= (if (pps.get.cabac) decodeSliceCabac(r, sps.get)
              else decodeSlice(r, sps.get, tcGrid))
          case 1 =>
            rej(sps.isEmpty || pps.isEmpty)
            rej(pps.get.cabac) // CABAC P slices out of subset
            rej((hdr >> 5) == 0) // subset: P slices are reference pictures
            frames :+= decodePSlice(r, sps.get, frames.lastOption, tcGrid)
          case _ => throw Reject // SEI, AUD, B slices… out of subset
        }
      }
      rej(frames.isEmpty)
      Some(Decoded(sps.get.mbw * 16, sps.get.mbh * 16, frames))
    } catch {
      case Reject => None
      case _: ArrayIndexOutOfBoundsException => None
    }
}
