package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** bzip2: round trips across content shapes and the multi-block path,
  * WIRE INTEROP with two independent implementations (Apache
  * commons-compress on the classpath, the system bzip2 binary), CRC
  * discipline, and the honest-rejection fuzz law. */
class Bzip2Spec extends AnyFunSuite {

  private def textish(n: Int): Array[Byte] = {
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dogs", "bzip2", "burrows", "wheeler")
    val sb = new StringBuilder
    var i = 0
    while (sb.length < n) { sb ++= words(i % words.length) ++= " "; i += 1 }
    sb.toString.take(n).getBytes("UTF-8")
  }
  private def noisy(n: Int): Array[Byte] =
    Array.tabulate(n) { i =>
      ((i * 2654435761L >>> 13) & 0xFF).toByte
    }

  test("round trips: text, noise, long runs, empty, single byte") {
    val cases = Seq(
      textish(5000), noisy(3000),
      Array.fill[Byte](2000)(7) ++ textish(100) ++ Array.fill[Byte](500)('z'),
      Array.emptyByteArray, Array[Byte](42),
      ("ab" * 700).getBytes("UTF-8"))
    for ((c, i) <- cases.zipWithIndex) {
      val z = Bzip2.compress(c, 1)
      val d = Bzip2.decompress(z)
      assert(d.nonEmpty, s"case $i")
      assert(java.util.Arrays.equals(d.get, c), s"case $i")
    }
  }

  test("multi-block stream (input larger than the level-1 block size)") {
    val big = textish(230000) // > 2 blocks at level 1 after chunking
    val z = Bzip2.compress(big, 1)
    val d = Bzip2.decompress(z).get
    assert(java.util.Arrays.equals(d, big))
    assert(z.length < big.length / 2, s"texty input must compress: ${z.length}")
  }

  test("commons-compress reads our streams") {
    for (c <- Seq(textish(8000), noisy(2000),
        Array.fill[Byte](1000)(3) ++ textish(50))) {
      val in = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(
          new java.io.ByteArrayInputStream(Bzip2.compress(c, 1)))
      val got = in.readAllBytes()
      in.close()
      assert(java.util.Arrays.equals(got, c))
    }
    // multi-block through the independent reader too
    val big = textish(230000)
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(Bzip2.compress(big, 1)))
    assert(java.util.Arrays.equals(in.readAllBytes(), big))
    in.close()
  }

  test("we read commons-compress streams") {
    for (level <- Seq(1, 9); c <- Seq(textish(8000), noisy(2000))) {
      val bos = new java.io.ByteArrayOutputStream()
      val zout = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos, level)
      zout.write(c); zout.close()
      val d = Bzip2.decompress(bos.toByteArray)
      assert(d.nonEmpty, s"level=$level")
      assert(java.util.Arrays.equals(d.get, c), s"level=$level")
    }
  }

  test("system bzip2 round trips our streams and we read its") {
    val c = textish(6000)
    val dir = graft.TestDirs.create("bz2spec")
    val zf = dir.resolve("a.bz2")
    java.nio.file.Files.write(zf, Bzip2.compress(c, 1))
    val p1 = new ProcessBuilder("bzip2", "-t", zf.toString)
      .redirectErrorStream(true).start()
    assume(p1.waitFor() == 0 || true, "probe") // -t result asserted below
    assert(p1.exitValue() == 0, "system bzip2 -t must accept our stream")
    val p2 = new ProcessBuilder("bunzip2", "-k", "-f", zf.toString).start()
    assert(p2.waitFor() == 0)
    val roundtrip = java.nio.file.Files.readAllBytes(dir.resolve("a"))
    assert(java.util.Arrays.equals(roundtrip, c))
    // other direction: system-compressed, our decode
    val plain = dir.resolve("b")
    java.nio.file.Files.write(plain, c)
    val p3 = new ProcessBuilder("bzip2", "-f", plain.toString).start()
    assert(p3.waitFor() == 0)
    val sysz = java.nio.file.Files.readAllBytes(dir.resolve("b.bz2"))
    val d = Bzip2.decompress(sysz)
    assert(d.nonEmpty && java.util.Arrays.equals(d.get, c))
  }

  test("CRC and framing violations reject honestly") {
    val c = textish(4000)
    val z = Bzip2.compress(c, 1)
    assert(Bzip2.decompress(Array.emptyByteArray).isEmpty)
    assert(Bzip2.decompress(z.take(3)).isEmpty)
    assert(Bzip2.decompress(z.take(z.length / 2)).isEmpty)
    assert(Bzip2.decompress(z :+ 1.toByte).isEmpty) // trailing garbage
    val badMagic = z.clone(); badMagic(0) = 'X'
    assert(Bzip2.decompress(badMagic).isEmpty)
    val badLevel = z.clone(); badLevel(3) = '0'
    assert(Bzip2.decompress(badLevel).isEmpty)
    // flip a payload bit deep in the block: a CRC must catch it
    val bad = z.clone(); bad(z.length / 2) = (bad(z.length / 2) ^ 8).toByte
    assert(Bzip2.decompress(bad).isEmpty)
  }

  /** the rotation sort `writeBlock` used before prefix doubling: a
    * byte-at-a-time comparator, equal rotations by index. */
  private def comparatorOrder(s: Array[Byte]): Array[Int] = {
    val n = s.length
    Array.range(0, n).sortWith { (a, b) =>
      var k = 0
      var r = 0
      while (k < n && r == 0) {
        r = Integer.compare(s((a + k) % n) & 0xFF, s((b + k) % n) & 0xFF)
        k += 1
      }
      if (r != 0) r < 0 else a < b
    }
  }

  test("prefix-doubling rotation sort writes the comparator sort's bytes") {
    val rnd = new scala.util.Random(11)
    val block1 = 100000 * 4 / 5 - 64 // one level-1 chunk
    val cases = Seq(
      "random" -> Array.fill[Byte](20000)(rnd.nextInt(256).toByte),
      "one byte" -> Array.fill[Byte](5000)(0x61),
      "period 3" -> ("abc" * 700).getBytes("UTF-8"),
      "period 7, binary" -> Array.tabulate[Byte](3000)(i => (i % 7 * 37).toByte),
      "level-1 block" -> Array.fill[Byte](block1)(rnd.nextInt(256).toByte),
      "single" -> Array[Byte](42))
    for ((name, c) <- cases) {
      assert(java.util.Arrays.equals(
        Bzip2.rotationOrder(c), comparatorOrder(c)), name)
      assert(java.util.Arrays.equals(Bzip2.compress(c, 1),
        Bzip2.compressWith(c, 1, comparatorOrder)), name)
    }
  }

  test("bit-flip fuzz never crashes") {
    val z = Bzip2.compress(textish(2500), 1)
    var seed = 67L
    for (_ <- 1 to 400) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val m = z.clone()
      val at = ((seed >>> 16) % m.length).toInt.abs
      m(at) = (m(at) ^ (1 << ((seed >>> 8) & 7)).toInt).toByte
      Bzip2.decompress(m) // must not throw
    }
  }
}
