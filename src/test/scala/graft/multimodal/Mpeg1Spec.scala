package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** MPEG-1 video subset: exact I/P reconstruction with real motion
  * compensation, differential MV coding, DC prediction resets, the
  * skipped-macroblock path, a hand-built stream covering AC escape /
  * (0,±1) / half-pel interpolation, and the honest-rejection fuzz law. */
class Mpeg1Spec extends AnyFunSuite {

  private def flatI(w: Int, h: Int, g: (Int, Int) => Int): Mpeg1.FramePlan =
    Mpeg1.FramePlan(intra = true, (bx, by) => Mpeg1.MbIntra(g(bx, by)))

  test("I-only sequence reconstructs flat macroblocks exactly") {
    val w = 48; val h = 32
    def g(bx: Int, by: Int) = 16 + (bx * 37 + by * 59) % 224
    val bytes = Mpeg1.encode(w, h, Seq(flatI(w, h, g)))
    val d = Mpeg1.decode(bytes).get
    assert(d.width == w && d.height == h && d.frames.length == 1)
    val y = d.frames.head.y
    for (py <- 0 until h; px <- 0 until w)
      assert(y(py * w + px) == g(px / 16, py / 16), s"($px,$py)")
    assert(d.frames.head.cb.forall(_ == 128))
    assert(d.frames.head.cr.forall(_ == 128))
  }

  test("P pictures: full-pel MC + intra refresh column = exact translation") {
    val w = 64; val h = 32
    def pattern(u: Int, v: Int) =
      16 + ((((u % 7) + 7) % 7) * 31 + v * 53) % 224
    val nP = 3
    val frames = flatI(w, h, (bx, by) => pattern(bx, by)) +:
      (1 to nP).map { f =>
        Mpeg1.FramePlan(intra = false, (bx, by) =>
          if (bx == 0) Mpeg1.MbIntra(pattern(bx - f, by)) // entering column
          else Mpeg1.MbMc(-16, 0))                        // ref one MB left
      }
    val d = Mpeg1.decode(Mpeg1.encode(w, h, frames.toSeq)).get
    assert(d.frames.length == nP + 1)
    for (f <- 0 to nP; py <- 0 until h; px <- 0 until w)
      assert(d.frames(f).y(py * w + px) == pattern(px / 16 - f, py / 16),
        s"f=$f ($px,$py)")
  }

  test("differential vectors across macroblocks and vertical motion") {
    val w = 48; val h = 48
    def g(bx: Int, by: Int) = 20 + (bx * 41 + by * 67) % 200
    val p = Mpeg1.FramePlan(intra = false, (bx, by) =>
      if (by == 0) Mpeg1.MbIntra(g(bx, by))
      else if (bx == 1) Mpeg1.MbIntra(99) // splits the MV prediction chain
      else Mpeg1.MbMc(0, -16))            // ref one MB up
    val d = Mpeg1.decode(Mpeg1.encode(w, h, Seq(flatI(w, h, g), p))).get
    val y1 = d.frames(1).y
    for (py <- 0 until h; px <- 0 until w) {
      val bx = px / 16; val by = py / 16
      val want =
        if (by == 0) g(bx, by) else if (bx == 1) 99 else g(bx, by - 1)
      assert(y1(py * w + px) == want, s"($px,$py)")
    }
  }

  test("skipped macroblocks copy the co-located block and reset prediction") {
    val w = 80; val h = 16
    def g(bx: Int, by: Int) = 10 + bx * 40 + by
    val p = Mpeg1.FramePlan(intra = false, (bx, _) =>
      if (bx == 0 || bx == 4) Mpeg1.MbIntra(200 + bx)
      else if (bx == 2) Mpeg1.MbSkip
      else Mpeg1.MbMc(-16, 0))
    val d = Mpeg1.decode(Mpeg1.encode(w, h, Seq(flatI(w, h, g), p))).get
    val y1 = d.frames(1).y
    for (px <- 0 until w) {
      val bx = px / 16
      val want = bx match {
        case 0 => 200
        case 2 => g(2, 0)      // skipped: co-located
        case 4 => 204
        case b => g(b - 1, 0)  // MC
      }
      assert(y1(px) == want, s"px=$px")
    }
  }

  // ---- hand-built stream: AC escape, (0,+1), half-pel interpolation ----

  private class BitBuf {
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
    def align(): Unit = if (n > 0) put(0, 8 - n)
    def start(code: Int): Unit = {
      align(); out.write(0); out.write(0); out.write(1); out.write(code)
    }
    def bytes: Array[Byte] = { align(); out.toByteArray }
  }

  test("hand-built: escape-coded AC, (0,+1) code, half-pel MC") {
    val w = 32; val h = 16
    val b = new BitBuf
    b.start(0xB3)
    b.put(w, 12); b.put(h, 12); b.put(1, 4); b.put(3, 4)
    b.put(0x3FFFF, 18); b.put(1, 1); b.put(0, 10); b.put(0, 1)
    b.put(0, 1); b.put(0, 1)
    // ---- I picture: 2 macroblocks ----
    b.start(0x00); b.put(0, 10); b.put(1, 3); b.put(0xFFFF, 16); b.put(0, 1)
    b.start(0x01); b.put(8, 5); b.put(0, 1) // slice, qscale 8
    for (mb <- 0 until 2) {
      b.put(1, 1) // increment 1
      b.put(1, 1) // intra
      for (blk <- 0 until 6) {
        val luma = blk < 4
        if (mb == 0 && blk == 0) {
          b.put(4, 3)        // dc size 0 (luma '100') -> DC stays 1024
          b.put(3, 2); b.put(0, 1) // '11'+sign0: (0,+1) at zigzag 1
          // escape: run 2, level 20 -> lands at zigzag index 4
          b.put(1, 6); b.put(2, 6); b.put(20, 8)
          b.put(2, 2)        // EOB
        } else {
          if (luma) b.put(4, 3) else b.put(0, 2) // dc size 0
          b.put(2, 2) // EOB
        }
      }
    }
    // ---- P picture: full_pel = 0, f_code = 1; MB0 half-pel, MB1 still ----
    b.start(0x00); b.put(1, 10); b.put(2, 3); b.put(0xFFFF, 16)
    b.put(0, 1) // full_pel_forward_vector = 0 (half-pel units)
    b.put(1, 3) // forward_f_code 1 -> f = 1, no residual bits
    b.put(0, 1)
    b.start(0x01); b.put(8, 5); b.put(0, 1)
    b.put(1, 1); b.put(1, 3) // inc 1, '001' MC not coded
    b.put(2, 3)              // motion_h '010' = +1 (half pel right)
    b.put(1, 1)              // motion_v 0
    b.put(1, 1); b.put(1, 3) // second MB, MC not coded
    b.put(3, 3)              // motion_h '011' = -1 -> vector back to 0
    b.put(1, 1)              // motion_v 0
    b.start(0xB7)
    val d = Mpeg1.decode(b.bytes).get
    assert(d.frames.length == 2)
    // expected I frame block 0: DC 1024 + AC 15 at (u=1,v=0) + AC at zz 4
    // zigzag index 4 is raster (u=1,v=1); level 20 -> (2*20*8*16)/16 = 320
    val inv = 1.0 / math.sqrt(2)
    def cosv(x: Int, u: Int) = math.cos((2 * x + 1) * u * math.Pi / 16)
    def expectI(px: Int, py: Int): Int = {
      if (px >= 8 || py >= 8) {
        if (px < 16) 128 else 128 // other blocks are DC-only 128
      } else {
        val acc = inv * inv * 1024 +
          inv * 15.0 * cosv(px, 1) +
          319.0 * cosv(px, 1) * cosv(py, 1)
        math.max(0, math.min(255, math.round(0.25 * acc).toInt))
      }
    }
    val y0 = d.frames(0).y
    for (py <- 0 until h; px <- 0 until w)
      assert(y0(py * w + px) == expectI(px, py), s"I ($px,$py)")
    // P frame: MB0 = floor((I[x]+I[x+1])/2), MB1 = copy
    val y1 = d.frames(1).y
    for (py <- 0 until h; px <- 0 until w) {
      val want =
        if (px < 16) (y0(py * w + px) + y0(py * w + px + 1)) / 2
        else y0(py * w + px)
      assert(y1(py * w + px) == want, s"P ($px,$py)")
    }
  }

  test("framing violations and subset boundaries reject honestly") {
    val w = 32; val h = 32
    def g(bx: Int, by: Int) = 30 + bx * 50 + by * 20
    val ok = Mpeg1.encode(w, h,
      Seq(flatI(w, h, g), Mpeg1.FramePlan(intra = false,
        (bx, by) => if (bx == 0) Mpeg1.MbIntra(g(bx, by))
                    else Mpeg1.MbMc(-16, 0))))
    assert(Mpeg1.decode(ok).nonEmpty)
    assert(Mpeg1.decode(Array.emptyByteArray).isEmpty)
    assert(Mpeg1.decode(ok.take(3)).isEmpty)
    assert(Mpeg1.decode(ok.take(ok.length / 2)).isEmpty)
    assert(Mpeg1.decode(ok.take(ok.length - 4)).isEmpty) // no sequence end
    val badStart = ok.clone(); badStart(3) = 0x42
    assert(Mpeg1.decode(badStart).isEmpty)
    // P picture before any I must reject: flip the first picture type
    // (picture start code payload: 10 bits temporal + type at bits 10-12)
    val noRef = Mpeg1.encode(w, h, Seq(flatI(w, h, g)))
    val picAt = {
      var k = 0
      while (!(noRef(k) == 0 && noRef(k + 1) == 0 && noRef(k + 2) == 1 &&
               noRef(k + 3) == 0)) k += 1
      k
    }
    val flipped = noRef.clone()
    // byte at pic header offset 5 holds ..ttt (type in bits 5-3 of byte 5)
    flipped(picAt + 5) = ((flipped(picAt + 5) & ~0x38) | (2 << 3)).toByte
    assert(Mpeg1.decode(flipped).isEmpty)
  }

  test("coded P macroblocks: MC+residual and zero-vector residual reconstruct exactly") {
    val w = 64; val h = 32
    def g(bx: Int, by: Int) = 20 + (bx * 37 + by * 51) % 200
    val p = Mpeg1.FramePlan(intra = false, (bx, by) => bx match {
      case 0 => Mpeg1.MbIntra(g(bx, by))
      // '1': forward MC one MB left + DC-only residual (+5 per pel)
      case 1 => Mpeg1.MbMcCoded(-16, 0, 5)
      // '01': co-located prediction + residual, sign varying by row
      case 2 => Mpeg1.MbCoded(if (by == 0) 3 else -3)
      // '00001': coded + its own quantizer_scale (16 → offsets ≡ 2 mod 4)
      case _ => Mpeg1.MbCoded(6, requant = true)
    })
    val d = Mpeg1.decode(Mpeg1.encode(w, h, Seq(flatI(w, h, g), p))).get
    val y1 = d.frames(1).y
    for (py <- 0 until h; px <- 0 until w) {
      val bx = px / 16; val by = py / 16
      val want = bx match {
        case 0 => g(0, by)
        case 1 => g(0, by) + 5
        case 2 => g(2, by) + (if (by == 0) 3 else -3)
        case _ => g(3, by) + 6
      }
      assert(y1(py * w + px) == want, s"($px,$py)")
    }
    // cbp 60 codes luma only: chroma stays the prediction
    assert(d.frames(1).cb.forall(_ == 128) && d.frames(1).cr.forall(_ == 128))
  }

  test("coded residuals saturate at 0 and 255") {
    val w = 32; val h = 16
    def g(bx: Int, by: Int) = if (bx == 0) 252 else 2
    val p = Mpeg1.FramePlan(intra = false, (bx, _) =>
      if (bx == 0) Mpeg1.MbCoded(9) else Mpeg1.MbCoded(-5))
    val d = Mpeg1.decode(Mpeg1.encode(w, h, Seq(flatI(w, h, g), p))).get
    val y1 = d.frames(1).y
    for (py <- 0 until h; px <- 0 until w)
      assert(y1(py * w + px) == (if (px < 16) 255 else 0), s"($px,$py)")
  }

  test("table B.3 is a prefix-free code over exactly cbp 1..63") {
    val codes = Mpeg1.CbpCodes
    assert(codes.keySet == (1 to 63).toSet, "cbp 0 has no code; 1..63 all do")
    // no code is a prefix of another (progressive decode is unambiguous)
    for ((v1, (c1, l1)) <- codes; (v2, (c2, l2)) <- codes
         if v1 != v2 && l1 <= l2)
      assert(c1 != (c2 >> (l2 - l1)), s"code($v1) prefixes code($v2)")
    // Kraft sum: the two rejected 9-bit points are the ONLY unused space
    val kraft = codes.values.map { case (_, l) => math.pow(2, -l) }.sum
    assert(math.abs(kraft - (1.0 - 2.0 * math.pow(2, -9))) < 1e-12)
  }

  test("hand-built: chroma-only cbp residual lands on Cr alone; out-of-table cbp rejects") {
    val w = 16; val h = 16
    def base(): BitBuf = {
      val b = new BitBuf
      b.start(0xB3)
      b.put(w, 12); b.put(h, 12); b.put(1, 4); b.put(3, 4)
      b.put(0x3FFFF, 18); b.put(1, 1); b.put(0, 10); b.put(0, 1)
      b.put(0, 1); b.put(0, 1)
      // I picture: one flat MB (DC predictors stay 1024 → luma 128)
      b.start(0x00); b.put(0, 10); b.put(1, 3); b.put(0xFFFF, 16); b.put(0, 1)
      b.start(0x01); b.put(8, 5); b.put(0, 1)
      b.put(1, 1); b.put(1, 1) // inc 1, intra
      for (blk <- 0 until 6) {
        if (blk < 4) b.put(4, 3) else b.put(0, 2) // dc size 0
        b.put(2, 2) // EOB
      }
      // P picture header, full-pel f_code 1
      b.start(0x00); b.put(1, 10); b.put(2, 3); b.put(0xFFFF, 16)
      b.put(1, 1); b.put(1, 3); b.put(0, 1)
      b.start(0x01); b.put(8, 5); b.put(0, 1)
      b.put(1, 1)    // inc 1
      b.put(1, 2)    // '01' coded, no MC
      b
    }
    // cbp = 1 (Cr only, code '01011'): dct_coeff_first '1s' level +1 →
    // rec (2+1)·8·16/16 = 24 → oddified 23 → DC-only IDCT round(23/8) = 3
    val ok = base()
    ok.put(0xB, 5)           // cbp 1
    ok.put(1, 1); ok.put(0, 1) // '1s': (0, +1)
    ok.put(2, 2)             // EOB
    ok.start(0xB7)
    val d = Mpeg1.decode(ok.bytes).get
    assert(d.frames(1).y.forall(_ == 128), "luma must stay the prediction")
    assert(d.frames(1).cb.forall(_ == 128), "cb is not in cbp 1")
    assert(d.frames(1).cr.forall(_ == 131), "cr must carry the +3 residual")
    // the two codespace points outside table B.3 reject loudly
    for (tail <- Seq(0, 1)) {
      val bad = base()
      bad.put(tail, 9) // '000000000' / '000000001'
      bad.put(2, 2)
      bad.start(0xB7)
      assert(Mpeg1.decode(bad.bytes).isEmpty, s"cbp point $tail must reject")
    }
  }

  test("bit-flip fuzz never crashes") {
    val w = 48; val h = 32
    def g(bx: Int, by: Int) = 16 + (bx * 77 + by * 13) % 224
    val bytes = Mpeg1.encode(w, h,
      Seq(flatI(w, h, g), Mpeg1.FramePlan(intra = false,
        (bx, by) => if (bx == 2) Mpeg1.MbIntra(55)
                    else if (bx == 0) Mpeg1.MbMc(16, 0)
                    else Mpeg1.MbMc(0, if (by == 0) 16 else -16)),
        // coded-residual P frame: the CBP + dct_coeff_first grammar is
        // inside the fuzz surface too
        Mpeg1.FramePlan(intra = false,
          (bx, by) => if (bx == 0) Mpeg1.MbCoded(if (by == 0) 3 else -3)
                      else if (bx == 1) Mpeg1.MbMcCoded(-16, 0, 7)
                      else Mpeg1.MbMcCoded(-16, 0, 6, requant = true))))
    assert(Mpeg1.decode(bytes).nonEmpty)
    var seed = 3L
    for (_ <- 1 to 400) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val m = bytes.clone()
      val at = ((seed >>> 16) % m.length).toInt.abs
      m(at) = (m(at) ^ (1 << ((seed >>> 8) & 7)).toInt).toByte
      Mpeg1.decode(m) // must not throw
    }
  }
}
