package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** ustar framing: round trips, block arithmetic, checksum discipline,
  * and the honest-rejection fuzz law shared by every container decoder. */
class TarSpec extends AnyFunSuite {

  private def members(n: Int): Seq[(String, Array[Byte], Boolean)] =
    ("corpus/", Array.emptyByteArray, true) +:
      (0 until n).map(i => (s"corpus/doc$i.txt",
        ("text body " * (i * 13 + 1)).getBytes("UTF-8"), false))

  test("encode/parse round trip preserves names, flags and payloads") {
    val ms = members(5)
    val tar = Tar.encode(ms)
    assert(tar.length % 512 == 0)
    val got = Tar.parse(tar).get
    assert(got.length == ms.length)
    got.zip(ms).foreach { case (e, (name, payload, dir)) =>
      assert(e.name == name)
      assert(e.typeflag == (if (dir) '5' else '0'))
      assert(java.util.Arrays.equals(e.payload, payload))
    }
  }

  test("archive length is exactly the block arithmetic") {
    val ms = members(3)
    val tar = Tar.encode(ms)
    val expect = ms.map { case (_, p, _) =>
      512 + (p.length + 511) / 512 * 512 }.sum + 1024
    assert(tar.length == expect)
  }

  test("system tar lists and extracts our archive") {
    // independent reader: the coreutils tar on this host
    val ms = members(4)
    val dir = graft.TestDirs.create("tarspec")
    val f = dir.resolve("a.tar")
    java.nio.file.Files.write(f, Tar.encode(ms))
    val proc = new ProcessBuilder("tar", "-tf", f.toString)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assume(proc.waitFor() == 0, "no system tar available")
    val listed = out.split("\n").filter(_.nonEmpty).toSeq
    assert(listed == ms.map(_._1))
    val ex = new ProcessBuilder("tar", "-xf", f.toString, "-C", dir.toString)
      .start()
    assert(ex.waitFor() == 0)
    ms.filter(!_._3).foreach { case (name, payload, _) =>
      val read = java.nio.file.Files.readAllBytes(dir.resolve(name))
      assert(java.util.Arrays.equals(read, payload), name)
    }
  }

  test("we parse a system-tar-produced archive") {
    val dir = graft.TestDirs.create("tarspec2")
    val sub = dir.resolve("d"); java.nio.file.Files.createDirectory(sub)
    java.nio.file.Files.write(sub.resolve("x.txt"),
      "independent payload".getBytes("UTF-8"))
    java.nio.file.Files.write(sub.resolve("y.bin"),
      Array.tabulate(700)(i => (i * 7).toByte))
    val f = dir.resolve("sys.tar")
    val proc = new ProcessBuilder("tar", "--format=ustar", "-cf",
      f.toString, "-C", dir.toString, "d").start()
    assume(proc.waitFor() == 0, "no system tar available")
    val got = Tar.parse(java.nio.file.Files.readAllBytes(f)).get
    val byName = got.map(e => e.name -> e).toMap
    assert(byName.contains("d/") && byName("d/").typeflag == '5')
    assert(new String(byName("d/x.txt").payload, "UTF-8") ==
      "independent payload")
    assert(byName("d/y.bin").payload.length == 700)
  }

  test("prefix field reassembles long paths") {
    // hand-build a header using the prefix field (our encoder keeps
    // names <=100; the DECODER must honor prefix per POSIX)
    val tar = Tar.encode(Seq(("short.txt", "abc".getBytes, false)))
    val h = tar.clone()
    // move "short.txt" semantics: write a prefix and re-checksum
    val prefix = "deep/nested/path".getBytes("US-ASCII")
    System.arraycopy(prefix, 0, h, 345, prefix.length)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0; var i = 0
    while (i < 512) { sum += h(i) & 0xFF; i += 1 }
    val oct = ("0000000" + java.lang.Long.toOctalString(sum)).takeRight(7)
    System.arraycopy(oct.getBytes("US-ASCII"), 0, h, 148, 7)
    h(155) = ' '
    val got = Tar.parse(h).get
    assert(got.head.name == "deep/nested/path/short.txt")
  }

  test("framing violations reject honestly") {
    val tar = Tar.encode(members(2))
    assert(Tar.parse(Array.emptyByteArray).isEmpty)
    assert(Tar.parse(tar.take(tar.length - 512)).isEmpty) // one end block
    assert(Tar.parse(tar.take(600)).isEmpty)              // mid-payload cut
    assert(Tar.parse(tar :+ 1.toByte).isEmpty)            // not block-mult
    val badMagic = tar.clone(); badMagic(257) = 'X'
    assert(Tar.parse(badMagic).isEmpty)
    val badSum = tar.clone(); badSum(148) = '7'
    assert(Tar.parse(badSum).isEmpty)
    val badSize = tar.clone(); badSize(124) = '9' // non-octal digit
    assert(Tar.parse(badSize).isEmpty)
    // payload byte flip breaks the NEXT header or padding, not silence
    val trailing = tar.clone()
    trailing(tar.length - 1) = 1 // garbage inside the end marker
    assert(Tar.parse(trailing).isEmpty)
  }

  test("bit-flip fuzz never crashes") {
    val tar = Tar.encode(members(3))
    var seed = 7L
    for (_ <- 1 to 300) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val m = tar.clone()
      val at = ((seed >>> 16) % m.length).toInt.abs
      m(at) = (m(at) ^ (1 << ((seed >>> 8) & 7)).toInt).toByte
      Tar.parse(m) // must not throw
    }
  }
}
