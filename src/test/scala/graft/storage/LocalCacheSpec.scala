package graft.storage

import org.scalatest.funsuite.AnyFunSuite

/** The process-scoped materialization cache: stable keyed paths, age
  * sweep (orphan-GC discipline on the cache root), root placement under
  * the system temp dir with the pid in the name (so a crashed process's
  * root is identifiable and a different pid never collides), and the
  * build-once contract of `stored`. */
class LocalCacheSpec extends AnyFunSuite {
  import java.nio.file.{Files, Paths}

  /** run `f` over a fresh source directory holding one table file. */
  private def withSource[T](content: String)(f: String => T): T = {
    val d = Files.createTempDirectory("graft-src").toFile
    rewrite(d.toString, content)
    try f(d.toString)
    finally { d.listFiles().foreach(_.delete()); d.delete() }
  }
  private def rewrite(src: String, content: String): Unit =
    Files.writeString(Paths.get(src, "table.txt"), content)

  /** a build that copies the source table into the entry, counting runs. */
  private def copyOf(src: String, runs: java.util.concurrent.atomic.AtomicInteger)
      (d: String): Unit = {
    runs.incrementAndGet()
    Files.copy(Paths.get(src, "table.txt"), Paths.get(d, "out.txt"))
  }
  private def out(d: String): String = Files.readString(Paths.get(d, "out.txt"))

  test("same key resolves to the same directory; different keys differ") {
    val a1 = LocalCache.dir("spec|alpha")
    val a2 = LocalCache.dir("spec|alpha")
    val b = LocalCache.dir("spec|beta")
    assert(a1 == a2)
    assert(a1 != b)
    assert(new java.io.File(a1).isDirectory)
    assert(a1.contains(s"graft_cache_${ProcessHandle.current().pid()}"))
  }

  test("sweep expires aged entries (recursively) and keeps fresh ones") {
    val oldDir = new java.io.File(LocalCache.dir("spec|sweep-old"))
    val freshDir = new java.io.File(LocalCache.dir("spec|sweep-fresh"))
    // give the old entry nested content, then age it
    val nested = new java.io.File(oldDir, "part-0000/inner.bin")
    nested.getParentFile.mkdirs()
    java.nio.file.Files.write(nested.toPath, Array[Byte](1, 2, 3))
    assert(oldDir.setLastModified(System.currentTimeMillis() - 86400000L))
    val expired = LocalCache.sweep(maxAgeMs = 3600000L)
    assert(expired >= 1)
    assert(!oldDir.exists, "aged entry must be deleted recursively")
    assert(freshDir.exists, "fresh entry must survive the sweep")
    // a swept key is re-creatable (callers overwrite-write)
    assert(new java.io.File(LocalCache.dir("spec|sweep-old")).isDirectory)
  }

  test("dataVersion excludes named directories: side-channel writes do not bump it") {
    val base = java.nio.file.Files.createTempDirectory("graft-dv").toFile
    def write(rel: String, bytes: Int): Unit = {
      val f = new java.io.File(base, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](bytes)(7))
    }
    write("acme/prod/logs/part-0.parquet", 16)
    val excl = Set("_system", "attribute_stats")
    val v0 = LocalCache.dataVersion(base.toString, excl)
    // writes under EXCLUDED dirs (self-monitoring, demand stats) are
    // invisible to the fingerprint — the serving shell's own flushes
    // must not invalidate its result cache (ADVICE r8 #3)
    write("_system/_monitoring/logs/part-0.parquet", 64)
    write("acme/prod/attribute_stats/part-0.parquet", 32)
    assert(LocalCache.dataVersion(base.toString, excl) == v0,
      "excluded-dir writes must not change the fingerprint")
    // …but the UNSCOPED fingerprint does see them,
    assert(LocalCache.dataVersion(base.toString) != v0)
    // and a write to a served signal table bumps the scoped one
    write("acme/prod/logs/part-1.parquet", 16)
    assert(LocalCache.dataVersion(base.toString, excl) != v0)
  }

  test("stored builds once per data version; rewriting the source rebuilds") {
    withSource("v1") { src =>
      val runs = new java.util.concurrent.atomic.AtomicInteger
      val d1 = LocalCache.stored("spec|copy", src)(copyOf(src, runs))
      assert(LocalCache.stored("spec|copy", src)(copyOf(src, runs)) == d1)
      assert(runs.get == 1 && out(d1) == "v1")
      rewrite(src, "v2, rewritten")
      val d2 = LocalCache.stored("spec|copy", src)(copyOf(src, runs))
      assert(runs.get == 2, "a rewritten source must rebuild the entry")
      assert(d2 != d1 && out(d2) == "v2, rewritten")
    }
  }

  test("after sweep(0) the next stored call rebuilds and its output reads back") {
    withSource("swept") { src =>
      val runs = new java.util.concurrent.atomic.AtomicInteger
      val d = LocalCache.stored("spec|sweep", src)(copyOf(src, runs))
      Thread.sleep(20)
      assert(LocalCache.sweep(maxAgeMs = 0L) >= 1)
      assert(!new java.io.File(d).exists)
      assert(LocalCache.stored("spec|sweep", src)(copyOf(src, runs)) == d)
      assert(runs.get == 2 && out(d) == "swept")
    }
  }

  test("a build that throws leaves no marker; the retry starts from an empty directory") {
    withSource("flaky") { src =>
      val err = intercept[IllegalStateException] {
        LocalCache.stored("spec|flaky", src) { d =>
          Files.writeString(Paths.get(d, "partial.txt"), "half a build")
          throw new IllegalStateException("build failed")
        }
      }
      assert(err.getMessage == "build failed")
      var seen: Option[Seq[String]] = None
      val d = LocalCache.stored("spec|flaky", src) { d =>
        seen = Some(new java.io.File(d).list().toSeq)
        Files.writeString(Paths.get(d, "out.txt"), "whole")
      }
      assert(seen == Some(Seq.empty), s"retry must start empty, saw $seen")
      assert(out(d) == "whole")
    }
  }

  test("two threads calling the same key run the build once") {
    withSource("raced") { src =>
      val runs = new java.util.concurrent.atomic.AtomicInteger
      val go = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val calls = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            go.await()
            LocalCache.stored("spec|race", src) { d =>
              Thread.sleep(200)
              copyOf(src, runs)(d)
            }
          }
        }))
        go.countDown()
        val dirs = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        assert(runs.get == 1 && dirs.distinct.size == 1)
        assert(out(dirs.head) == "raced")
      } finally pool.shutdown()
    }
  }
}
