package graft.sources

/** TFRecord container + tf.Example payloads — the TensorFlow
  * training-data interchange format (public: TensorFlow's
  * `tf.io.TFRecordWriter` docs and `example.proto`/`feature.proto`).
  * Completes the training-set export surface next to WebDataset tar
  * shards (q359): a packed corpus has to leave the engine in a format
  * dataloaders read, and TFRecord is the other one that matters.
  *
  * Framing (public `record_writer.cc` layout): each record is
  * {{{
  *   uint64 length (LE)
  *   uint32 masked_crc32c(length bytes) (LE)
  *   byte   data[length]
  *   uint32 masked_crc32c(data) (LE)
  * }}}
  * with CRC-32C (Castagnoli, reflected, poly 0x1EDC6F41) and the mask
  * `((crc >> 15) | (crc << 17)) + 0xa282ead8`.
  *
  * tf.Example (proto3, hand-rolled like [[Otlp]] — no generated code):
  * Example{ features=1 } → Features{ map<string,Feature> feature=1 }
  * (map entries are nested messages key=1/value=2) → Feature oneof
  * BytesList=1 / FloatList=2 (packed fixed32) / Int64List=3 (packed
  * varint), each with repeated value=1.
  *
  * Strictness contract: length/CRC mismatches, truncation, unknown
  * wire types or over-long varints reject with None — honest
  * rejection, never a crash.
  */
object TfRecord {

  val MaxRecordBytes: Long = 64L << 20
  val MaxRecords = 1 << 20

  // ---- CRC-32C (reflected, poly 0x1EDC6F41 → reversed 0x82F63B78) ----

  private val crcTab: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i; var k = 0
      while (k < 8) {
        c = if ((c & 1) != 0) (c >>> 1) ^ 0x82F63B78 else c >>> 1
        k += 1
      }
      t(i) = c; i += 1
    }
    t
  }
  def crc32c(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0xFFFFFFFF
    var i = from
    while (i < until) { c = (c >>> 8) ^ crcTab((c ^ b(i)) & 0xFF); i += 1 }
    ~c
  }
  /** the TFRecord CRC mask (record_writer.cc). */
  def mask(crc: Int): Int = {
    val u = crc.toLong & 0xFFFFFFFFL
    ((((u >>> 15) | (u << 17)) + 0xA282EAD8L) & 0xFFFFFFFFL).toInt
  }

  // ---- record framing ----------------------------------------------------

  def writeRecord(out: java.io.ByteArrayOutputStream, data: Array[Byte]): Unit = {
    val len = new Array[Byte](8)
    var v = data.length.toLong
    var i = 0
    while (i < 8) { len(i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
    def le32(x: Int): Unit = {
      out.write(x & 0xFF); out.write((x >> 8) & 0xFF)
      out.write((x >> 16) & 0xFF); out.write((x >> 24) & 0xFF)
    }
    out.write(len)
    le32(mask(crc32c(len, 0, 8)))
    out.write(data)
    le32(mask(crc32c(data, 0, data.length)))
  }

  /** all record payloads of a TFRecord stream, CRC-verified. */
  def readAll(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var i = 0
    var n = 0
    def le32(at: Int): Int =
      (bytes(at) & 0xFF) | ((bytes(at + 1) & 0xFF) << 8) |
      ((bytes(at + 2) & 0xFF) << 16) | ((bytes(at + 3) & 0xFF) << 24)
    while (i < bytes.length) {
      n += 1
      if (n > MaxRecords) return None
      if (i + 12 > bytes.length) return None
      var len = 0L
      var k = 7
      while (k >= 0) { len = (len << 8) | (bytes(i + k) & 0xFFL); k -= 1 }
      if (len < 0 || len > MaxRecordBytes) return None
      if (le32(i + 8) != mask(crc32c(bytes, i, i + 8))) return None
      if (i + 12 + len + 4 > bytes.length) return None
      val data = java.util.Arrays.copyOfRange(bytes, i + 12, i + 12 + len.toInt)
      if (le32(i + 12 + len.toInt) != mask(crc32c(data, 0, data.length)))
        return None
      out += data
      i += 12 + len.toInt + 4
    }
    Some(out.result())
  }

  // ---- tf.Example ----------------------------------------------------------

  /** one decoded feature: exactly one of the three lists is non-null. */
  final case class Feature(bytes: Vector[Array[Byte]],
      floats: Vector[Float], ints: Vector[Long])

  private def putVarint(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while ((x & ~0x7FL) != 0) { out.write((x & 0x7F).toInt | 0x80); x >>>= 7 }
    out.write(x.toInt)
  }
  private def lenDelim(out: java.io.ByteArrayOutputStream, tag: Int,
      body: Array[Byte]): Unit = {
    out.write(tag); putVarint(out, body.length.toLong); out.write(body)
  }

  /** serialize an Example from ordered (name → feature) pairs. */
  def writeExample(features: Seq[(String, Feature)]): Array[Byte] = {
    val fs = new java.io.ByteArrayOutputStream()
    features.foreach { case (name, f) =>
      val fb = new java.io.ByteArrayOutputStream()
      if (f.bytes.nonEmpty || (f.floats.isEmpty && f.ints.isEmpty)) {
        val bl = new java.io.ByteArrayOutputStream()
        f.bytes.foreach(b => lenDelim(bl, 0x0A, b))
        lenDelim(fb, 0x0A, bl.toByteArray) // Feature.bytes_list = 1
      } else if (f.floats.nonEmpty) {
        val fl = new java.io.ByteArrayOutputStream()
        val packed = new java.io.ByteArrayOutputStream()
        f.floats.foreach { x =>
          val bits = java.lang.Float.floatToIntBits(x)
          packed.write(bits & 0xFF); packed.write((bits >> 8) & 0xFF)
          packed.write((bits >> 16) & 0xFF); packed.write((bits >> 24) & 0xFF)
        }
        lenDelim(fl, 0x0A, packed.toByteArray)
        lenDelim(fb, 0x12, fl.toByteArray)  // Feature.float_list = 2
      } else {
        val il = new java.io.ByteArrayOutputStream()
        val packed = new java.io.ByteArrayOutputStream()
        f.ints.foreach(putVarint(packed, _))
        lenDelim(il, 0x0A, packed.toByteArray)
        lenDelim(fb, 0x1A, il.toByteArray)  // Feature.int64_list = 3
      }
      val entry = new java.io.ByteArrayOutputStream()
      lenDelim(entry, 0x0A, name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      lenDelim(entry, 0x12, fb.toByteArray)
      lenDelim(fs, 0x0A, entry.toByteArray) // Features.feature map entry
    }
    val ex = new java.io.ByteArrayOutputStream()
    lenDelim(ex, 0x0A, fs.toByteArray)      // Example.features = 1
    ex.toByteArray
  }

  private final class Rd(val b: Array[Byte], var i: Int, val end: Int) {
    def varint(): Long = {
      var v = 0L; var shift = 0
      while (true) {
        if (i >= end || shift > 63) throw Bad
        val x = b(i) & 0xFF; i += 1
        v |= (x & 0x7FL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      v
    }
    def sub(): Rd = {
      val len = varint()
      if (len < 0 || i + len > end) throw Bad
      val r = new Rd(b, i, i + len.toInt); i += len.toInt; r
    }
    def bytesField(): Array[Byte] = {
      val len = varint()
      if (len < 0 || i + len > end) throw Bad
      val out = java.util.Arrays.copyOfRange(b, i, i + len.toInt)
      i += len.toInt; out
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => if (i + 8 > end) throw Bad else i += 8
      case 2 => val len = varint(); if (i + len > end) throw Bad else i += len.toInt
      case 5 => if (i + 4 > end) throw Bad else i += 4
      case _ => throw Bad
    }
  }
  private object Bad extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  /** parse an Example payload into name → Feature (insertion order). */
  def parseExample(data: Array[Byte]): Option[Vector[(String, Feature)]] = {
    try {
      val out = Vector.newBuilder[(String, Feature)]
      val top = new Rd(data, 0, data.length)
      while (top.i < top.end) {
        val tag = top.varint().toInt
        if (tag == 0x0A) { // features
          val fs = top.sub()
          while (fs.i < fs.end) {
            val t2 = fs.varint().toInt
            if (t2 == 0x0A) { // map entry
              val e = fs.sub()
              var name = ""
              var feat = Feature(Vector.empty, Vector.empty, Vector.empty)
              while (e.i < e.end) {
                val t3 = e.varint().toInt
                if (t3 == 0x0A)
                  name = new String(e.bytesField(),
                    java.nio.charset.StandardCharsets.UTF_8)
                else if (t3 == 0x12) {
                  val f = e.sub()
                  while (f.i < f.end) {
                    val t4 = f.varint().toInt
                    if (t4 == 0x0A) { // BytesList
                      val bl = f.sub()
                      val acc = Vector.newBuilder[Array[Byte]]
                      while (bl.i < bl.end) {
                        val t5 = bl.varint().toInt
                        if (t5 == 0x0A) acc += bl.bytesField()
                        else bl.skip(t5 & 7)
                      }
                      feat = feat.copy(bytes = acc.result())
                    } else if (t4 == 0x12) { // FloatList (packed fixed32)
                      val fl = f.sub()
                      val acc = Vector.newBuilder[Float]
                      while (fl.i < fl.end) {
                        val t5 = fl.varint().toInt
                        if (t5 == 0x0A) {
                          val p = fl.sub()
                          if ((p.end - p.i) % 4 != 0) return None
                          while (p.i < p.end) {
                            val bits = (p.b(p.i) & 0xFF) |
                              ((p.b(p.i + 1) & 0xFF) << 8) |
                              ((p.b(p.i + 2) & 0xFF) << 16) |
                              ((p.b(p.i + 3) & 0xFF) << 24)
                            acc += java.lang.Float.intBitsToFloat(bits)
                            p.i += 4
                          }
                        } else if (t5 == 0x0D) { // unpacked fixed32
                          if (fl.i + 4 > fl.end) return None
                          val bits = (fl.b(fl.i) & 0xFF) |
                            ((fl.b(fl.i + 1) & 0xFF) << 8) |
                            ((fl.b(fl.i + 2) & 0xFF) << 16) |
                            ((fl.b(fl.i + 3) & 0xFF) << 24)
                          acc += java.lang.Float.intBitsToFloat(bits)
                          fl.i += 4
                        } else fl.skip(t5 & 7)
                      }
                      feat = feat.copy(floats = acc.result())
                    } else if (t4 == 0x1A) { // Int64List (packed varint)
                      val il = f.sub()
                      val acc = Vector.newBuilder[Long]
                      while (il.i < il.end) {
                        val t5 = il.varint().toInt
                        if (t5 == 0x0A) {
                          val p = il.sub()
                          while (p.i < p.end) acc += p.varint()
                        } else if (t5 == 0x08) acc += il.varint()
                        else il.skip(t5 & 7)
                      }
                      feat = feat.copy(ints = acc.result())
                    } else f.skip(t4 & 7)
                  }
                } else e.skip(t3 & 7)
              }
              if (name.isEmpty) return None
              out += (name -> feat)
            } else fs.skip(t2 & 7)
          }
        } else top.skip(tag & 7)
      }
      Some(out.result())
    } catch {
      case Bad => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }
}
