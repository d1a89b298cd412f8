package graft.sources

/** bzip2 (the public .bz2 format of Julian Seward's bzip2, as documented
  * in the bzip2 manual and the format's many public descriptions) — the
  * compression wrapper the CLASSIC corpus drops ship in: Wikipedia
  * database dumps are `.xml.bz2`. Completes the compression-wrapper
  * family next to gzip (q347, JDK Inflater) and zstd (q357, frame walk
  * + zstd-jni): this one is hand-rolled END TO END — RLE1, the
  * Burrows-Wheeler transform and its counting-sort inverse, move-to-
  * front, the RUNA/RUNB bijective-base-2 zero-run coding, multi-group
  * canonical Huffman with delta-coded lengths and MTF-coded selectors,
  * and both CRC layers (bzip2's non-reflected CRC-32 per block, the
  * rotate-combine stream CRC).
  *
  * Two independent implementations cross-check it in CI: Apache
  * commons-compress (on the Spark classpath) and the system `bzip2`
  * binary (Bzip2Spec, both directions).
  *
  * Strictness contract (DecoderFuzzSpec law): bad stream/block magics,
  * the deprecated randomized mode, Huffman invariant violations,
  * out-of-range selectors/origPtr, block-size overflow, either CRC
  * mismatch, or truncation reject the whole stream with None — honest
  * rejection, never a crash.
  */
object Bzip2 {

  val MaxOutputBytes: Int = 64 << 20

  // ---- bzip2 CRC-32 (poly 0x04C11DB7, MSB-first, complemented) ----------

  private val crcTab: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24; var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04C11DB7 else c << 1
        k += 1
      }
      t(i) = c; i += 1
    }
    t
  }
  private def crcInit: Int = 0xFFFFFFFF
  private def crcUpd(crc: Int, b: Byte): Int =
    (crc << 8) ^ crcTab(((crc >>> 24) ^ (b & 0xFF)) & 0xFF)
  private def crcFin(crc: Int): Int = ~crc

  // ---- bit I/O (MSB-first, blocks are NOT byte-aligned) ------------------

  private final class BW {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L; private var n = 0
    def put(v: Long, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >>> i) & 1); n += 1
        if (n == 8) { out.write((acc & 0xFF).toInt); acc = 0; n = 0 }
        i -= 1
      }
    }
    def flush(): Array[Byte] = {
      if (n > 0) { out.write(((acc << (8 - n)) & 0xFF).toInt); n = 0 }
      out.toByteArray
    }
  }

  private final class BR(b: Array[Byte]) {
    var pos = 0; var bit = 0
    def readBit(): Int = {
      if (pos >= b.length) throw Trunc
      val v = (b(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    def read(nBits: Int): Long = {
      var v = 0L; var i = 0
      while (i < nBits) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }
  private object Trunc extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  // ---- encoder ------------------------------------------------------------

  /** bzip2-compress `data` at compression level 1..9 (block size =
    * level × 100000; inputs larger than one block split). */
  def compress(data: Array[Byte], level: Int = 1): Array[Byte] =
    compressWith(data, level, rotationOrder)

  /** [[compress]] with the BWT's rotation sort passed in, so a test can
    * pin the output against a reference sort. */
  private[sources] def compressWith(data: Array[Byte], level: Int,
      order: Array[Byte] => Array[Int]): Array[Byte] = {
    require(level >= 1 && level <= 9)
    val blockSize = level * 100000
    val bw = new BW
    bw.put('B', 8); bw.put('Z', 8); bw.put('h', 8); bw.put('0' + level, 8)
    var streamCrc = 0
    // chunk the ORIGINAL data so each chunk's RLE1 form fits the block
    // size (RLE1 worst case expands 4 bytes to 5), then RLE1 each chunk
    // independently — every block is self-contained, runs never straddle
    // a block boundary, and the block CRC covers exactly the chunk
    val chunk = math.max(16, blockSize * 4 / 5 - 64)
    var off = 0
    while (off < data.length) {
      val end = math.min(off + chunk, data.length)
      val orig = java.util.Arrays.copyOfRange(data, off, end)
      var bcrc = crcInit
      orig.foreach(b => bcrc = crcUpd(bcrc, b))
      val blockCrc = crcFin(bcrc)
      streamCrc = ((streamCrc << 1) | (streamCrc >>> 31)) ^ blockCrc
      writeBlock(bw, rle1Encode(orig), blockCrc, order)
      off = end
    }
    bw.put(0x177245L, 24); bw.put(0x385090L, 24) // end-of-stream magic
    bw.put(streamCrc.toLong & 0xFFFFFFFFL, 32)
    bw.flush()
  }

  /** the BWT's rotation order: the start indices of the cyclic
    * rotations of `s` in ascending unsigned-byte order, equal rotations
    * (a periodic block) by index. Prefix doubling over cyclic ranks:
    * the round for k sorts every i by (rank of its k-prefix, rank of the
    * k-prefix at i + k), giving the ranks of the 2k-prefixes, until the
    * ranks are all distinct or 2k covers the block — O(n log² n) on any
    * input. The sort key packs (rank, next rank, index) into one Long,
    * 21 bits each, so equal prefixes fall back to index order. */
  private[sources] def rotationOrder(s: Array[Byte]): Array[Int] = {
    val n = s.length
    require(n < (1 << 21), s"block of $n bytes exceeds the packed sort key")
    val mask = (1L << 21) - 1
    val rank = Array.tabulate(n)(i => s(i) & 0xFF)
    val keys = new Array[Long](n)
    var k = 1
    var done = n == 0
    while (!done) {
      var i = 0
      while (i < n) {
        keys(i) = (rank(i).toLong << 42) | (rank((i + k) % n).toLong << 21) | i
        i += 1
      }
      java.util.Arrays.sort(keys)
      var r = 0
      i = 0
      while (i < n) {
        if (i > 0 && (keys(i) >>> 21) != (keys(i - 1) >>> 21)) r += 1
        rank((keys(i) & mask).toInt) = r
        i += 1
      }
      done = r == n - 1 || 2L * k >= n
      k *= 2
    }
    keys.map(x => (x & mask).toInt)
  }

  private def writeBlock(bw: BW, rle1: Array[Byte], blockCrc: Int,
      order: Array[Byte] => Array[Int]): Unit = {
    val n = rle1.length
    // ---- BWT ----
    val sorted = order(rle1)
    val bwt = new Array[Byte](n)
    var origPtr = -1
    var i = 0
    while (i < n) {
      bwt(i) = rle1((sorted(i) + n - 1) % n)
      if (sorted(i) == 0) origPtr = i
      i += 1
    }
    // ---- MTF + RLE2 ----
    val used = new Array[Boolean](256)
    rle1.foreach(b => used(b & 0xFF) = true)
    val alphabet = (0 until 256).filter(used).toArray
    val nUsed = alphabet.length
    val alphaSize = nUsed + 2
    val eob = alphaSize - 1
    val mtf = alphabet.clone()
    val syms = new scala.collection.mutable.ArrayBuffer[Int](n + 1)
    var zeroRun = 0
    def flushRun(): Unit = {
      var r = zeroRun
      while (r > 0) { r -= 1; syms += (r & 1); r >>= 1 } // RUNA=0, RUNB=1
      zeroRun = 0
    }
    i = 0
    while (i < n) {
      val b = bwt(i) & 0xFF
      var j = 0
      while (mtf(j) != b) j += 1
      if (j == 0) zeroRun += 1
      else {
        flushRun()
        syms += (j + 1) // MTF value j -> symbol j+1
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = b
      }
      i += 1
    }
    flushRun()
    syms += eob
    // ---- Huffman lengths (one real table, emitted as 2 groups) ----
    val freq = new Array[Long](alphaSize)
    syms.foreach(s => freq(s) += 1)
    var k = 0
    while (k < alphaSize) { if (freq(k) == 0) freq(k) = 1; k += 1 }
    val lens = huffmanLengths(freq, 20)
    val (codes, codeLens) = canonicalCodes(lens)
    val nSelectors = (syms.length + 49) / 50
    // ---- emit ----
    bw.put(0x314159L, 24); bw.put(0x265359L, 24)
    bw.put(blockCrc.toLong & 0xFFFFFFFFL, 32)
    bw.put(0, 1)                      // not randomized
    bw.put(origPtr.toLong, 24)
    val used16 = (0 until 16).map(g => (0 until 16).exists(j => used(16 * g + j)))
    bw.put(used16.foldLeft(0L)((a, u) => (a << 1) | (if (u) 1 else 0)), 16)
    used16.zipWithIndex.foreach { case (u, g) =>
      if (u) bw.put((0 until 16).foldLeft(0L)((a, j) =>
        (a << 1) | (if (used(16 * g + j)) 1 else 0)), 16)
    }
    bw.put(2, 3)                      // nGroups = 2 (format minimum)
    bw.put(nSelectors.toLong, 15)
    var s = 0
    while (s < nSelectors) { bw.put(0, 1); s += 1 } // selector 0, MTF '0'
    var g = 0
    while (g < 2) {                   // two identical tables
      var cur = codeLens(0)
      bw.put(cur.toLong, 5)
      var sym = 0
      while (sym < alphaSize) {
        val want = codeLens(sym)
        while (cur < want) { bw.put(2, 2); cur += 1 } // '10' increment
        while (cur > want) { bw.put(3, 2); cur -= 1 } // '11' decrement
        bw.put(0, 1)                                   // '0' next symbol
        sym += 1
      }
      g += 1
    }
    syms.foreach(sm => bw.put(codes(sm).toLong, codeLens(sm)))
  }

  /** Huffman code lengths via pair merging, length-capped loudly. */
  private def huffmanLengths(freq: Array[Long], cap: Int): Array[Int] = {
    val n = freq.length
    if (n == 1) return Array(1)
    final case class Node(w: Long, depthMax: Int, syms: List[Int])
    val pq = scala.collection.mutable.PriorityQueue.empty[Node](
      Ordering.by[Node, Long](_.w).reverse)
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) { pq.enqueue(Node(freq(i), 0, List(i))); i += 1 }
    while (pq.size > 1) {
      val a = pq.dequeue(); val b = pq.dequeue()
      (a.syms ++ b.syms).foreach(s => lens(s) += 1)
      pq.enqueue(Node(a.w + b.w, math.max(a.depthMax, b.depthMax) + 1,
        a.syms ++ b.syms))
    }
    require(lens.forall(l => l >= 1 && l <= cap),
      s"Huffman depth exceeds $cap for this block")
    lens
  }

  /** canonical assignment in (length, symbol) order — the bzip2 rule. */
  private def canonicalCodes(lens: Array[Int]): (Array[Int], Array[Int]) = {
    val n = lens.length
    val codes = new Array[Int](n)
    var code = 0
    var l = lens.min
    while (l <= lens.max) {
      var sym = 0
      while (sym < n) {
        if (lens(sym) == l) { codes(sym) = code; code += 1 }
        sym += 1
      }
      code <<= 1
      l += 1
    }
    (codes, lens)
  }

  // ---- RLE1 ---------------------------------------------------------------

  private def rle1Encode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 255 && data(i + run) == data(i))
        run += 1
      if (run >= 4) {
        out.write(data(i)); out.write(data(i)); out.write(data(i))
        out.write(data(i))
        out.write(run - 4)
        i += run
      } else {
        var k = 0
        while (k < run) { out.write(data(i)); k += 1 }
        i += run
      }
    }
    out.toByteArray
  }

  private def rle1Decode(data: Array[Byte], cap: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    var run = 0
    var last = -1
    while (i < data.length) {
      val b = data(i) & 0xFF
      if (run == 4) {
        var k = 0
        while (k < b) { out.write(last); k += 1 }
        run = 0; last = -1
        if (out.size() > cap) return None
      } else {
        if (b == last) run += 1 else { run = 1; last = b }
        out.write(b)
        if (out.size() > cap) return None
      }
      i += 1
    }
    if (run == 4) return None // run announced but count byte missing
    Some(out.toByteArray)
  }

  // ---- decoder ------------------------------------------------------------

  def decompress(bytes: Array[Byte]): Option[Array[Byte]] = {
    try decodeImpl(bytes)
    catch {
      case Trunc => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  private def decodeImpl(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 10) return None
    val br = new BR(bytes)
    if (br.read(8) != 'B' || br.read(8) != 'Z' || br.read(8) != 'h')
      return None
    val level = br.read(8).toInt - '0'
    if (level < 1 || level > 9) return None
    val blockSize = level * 100000
    val out = new java.io.ByteArrayOutputStream()
    var streamCrc = 0
    var done = false
    while (!done) {
      val magic = br.read(48)
      if (magic == 0x177245385090L) {
        val declared = br.read(32).toInt
        if (declared != streamCrc) return None
        done = true
      } else if (magic == 0x314159265359L) {
        val blockCrc = br.read(32).toInt
        if (br.readBit() != 0) return None // randomized: deprecated
        val origPtr = br.read(24).toInt
        // symbol map
        val used16 = br.read(16).toInt
        val used = new Array[Boolean](256)
        var g = 0
        while (g < 16) {
          if ((used16 & (0x8000 >> g)) != 0) {
            val m = br.read(16).toInt
            var j = 0
            while (j < 16) {
              if ((m & (0x8000 >> j)) != 0) used(16 * g + j) = true
              j += 1
            }
          }
          g += 1
        }
        val alphabet = (0 until 256).filter(used).toArray
        val nUsed = alphabet.length
        if (nUsed == 0) return None
        val alphaSize = nUsed + 2
        val eob = alphaSize - 1
        val nGroups = br.read(3).toInt
        if (nGroups < 2 || nGroups > 6) return None
        val nSelectors = br.read(15).toInt
        if (nSelectors < 1) return None
        // selectors, MTF-coded over group ids
        val selMtf = Array.range(0, nGroups)
        val selectors = new Array[Int](nSelectors)
        var s = 0
        while (s < nSelectors) {
          var j = 0
          while (br.readBit() == 1) { j += 1; if (j >= nGroups) return None }
          val v = selMtf(j)
          while (j > 0) { selMtf(j) = selMtf(j - 1); j -= 1 }
          selMtf(0) = v
          selectors(s) = v
          s += 1
        }
        // per-group delta-coded lengths + canonical tables
        val tables = new Array[HuffTable](nGroups)
        g = 0
        while (g < nGroups) {
          val lens = new Array[Int](alphaSize)
          var cur = br.read(5).toInt
          var sym = 0
          while (sym < alphaSize) {
            var moving = true
            while (moving) {
              if (cur < 1 || cur > 20) return None
              if (br.readBit() == 0) moving = false
              else { if (br.readBit() == 1) cur -= 1 else cur += 1 }
            }
            lens(sym) = cur
            sym += 1
          }
          tables(g) = new HuffTable(lens)
          g += 1
        }
        // symbol stream -> MTF/RLE2 decode -> bwt buffer
        val mtf = alphabet.clone()
        val bwtBuf = new Array[Byte](blockSize)
        var nBwt = 0
        var zeroRun = 0L
        var zeroRep = 1L
        var groupPos = 0
        var groupIdx = -1
        var table: HuffTable = null
        var blockDone = false
        def flushZeros(): Boolean = {
          if (zeroRun > 0) {
            if (nBwt + zeroRun > blockSize) return false
            val b = mtf(0).toByte
            var r = zeroRun
            while (r > 0) { bwtBuf(nBwt) = b; nBwt += 1; r -= 1 }
            zeroRun = 0; zeroRep = 1
          }
          true
        }
        while (!blockDone) {
          if (groupPos == 0) {
            groupIdx += 1
            if (groupIdx >= nSelectors) return None
            table = tables(selectors(groupIdx))
            groupPos = 50
          }
          groupPos -= 1
          val sym = table.decode(br)
          if (sym < 0) return None
          if (sym == 0) { zeroRun += zeroRep; zeroRep <<= 1 }       // RUNA
          else if (sym == 1) { zeroRun += 2 * zeroRep; zeroRep <<= 1 } // RUNB
          else {
            if (!flushZeros()) return None
            if (sym == eob) blockDone = true
            else {
              var j = sym - 1
              if (j >= nUsed) return None
              val b = mtf(j)
              while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
              mtf(0) = b
              if (nBwt >= blockSize) return None
              bwtBuf(nBwt) = b.toByte; nBwt += 1
            }
          }
          if (zeroRun > blockSize) return None
        }
        if (nBwt == 0 || origPtr >= nBwt) return None
        // ---- inverse BWT (counting walk) ----
        val counts = new Array[Int](256)
        var i = 0
        while (i < nBwt) { counts(bwtBuf(i) & 0xFF) += 1; i += 1 }
        val starts = new Array[Int](256)
        var acc2 = 0
        i = 0
        while (i < 256) { starts(i) = acc2; acc2 += counts(i); i += 1 }
        val tt = new Array[Int](nBwt)
        i = 0
        while (i < nBwt) {
          val b = bwtBuf(i) & 0xFF
          tt(starts(b)) = i; starts(b) += 1
          i += 1
        }
        val rle1 = new Array[Byte](nBwt)
        var p = tt(origPtr)
        i = 0
        while (i < nBwt) { rle1(i) = bwtBuf(p); p = tt(p); i += 1 }
        // ---- RLE1 + CRC ----
        val orig = rle1Decode(rle1, MaxOutputBytes - out.size())
          .getOrElse(return None)
        var bc = crcInit
        orig.foreach(b => bc = crcUpd(bc, b))
        if (crcFin(bc) != blockCrc) return None
        streamCrc = ((streamCrc << 1) | (streamCrc >>> 31)) ^ blockCrc
        out.write(orig)
      } else return None
    }
    // after the end-of-stream CRC only the final byte's padding bits may
    // remain; trailing bytes are garbage (concatenated multi-stream .bz2
    // is out of scope and rejects here)
    val endPos = if (br.bit == 0) br.pos else br.pos + 1
    if (endPos != bytes.length) return None
    Some(out.toByteArray)
  }

  /** canonical Huffman decode table (limit/base/perm, bzlib shape). */
  private final class HuffTable(lens: Array[Int]) {
    private val minLen = lens.min
    private val maxLen = lens.max
    private val limit = new Array[Int](maxLen + 2)
    private val base = new Array[Int](maxLen + 2)
    private val perm = new Array[Int](lens.length)
    val valid: Boolean = minLen >= 1 && maxLen <= 20
    locally {
      if (valid) {
        var pp = 0
        var l = minLen
        while (l <= maxLen) {
          var sym = 0
          while (sym < lens.length) {
            if (lens(sym) == l) { perm(pp) = sym; pp += 1 }
            sym += 1
          }
          l += 1
        }
        val count = new Array[Int](maxLen + 1)
        lens.foreach(l2 => count(l2) += 1)
        var vec = 0
        var cum = 0
        l = minLen
        while (l <= maxLen) {
          base(l) = vec - cum
          vec += count(l)
          cum += count(l)
          limit(l) = vec - 1
          vec <<= 1
          l += 1
        }
      }
    }
    /** next symbol or -1 on an over-long/invalid code. */
    def decode(br: BR): Int = {
      if (!valid) return -1
      var l = minLen
      var v = br.read(minLen).toInt
      while (l <= maxLen && v > limit(l)) {
        l += 1
        if (l > maxLen) return -1
        v = (v << 1) | br.readBit()
      }
      val idx = v - base(l)
      if (idx < 0 || idx >= perm.length) return -1
      perm(idx)
    }
  }
}
