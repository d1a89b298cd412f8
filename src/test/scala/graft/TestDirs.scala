package graft

import java.nio.file.{Files, Path}

/** Scratch directories for the suites. Every one sits under a single
  * per-JVM root in `java.io.tmpdir`, and that root goes, with all it
  * holds, when the test JVM exits — a run leaves nothing behind. */
object TestDirs {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-tests-")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRec(r.toFile), "graft-tests-cleanup"))
    r
  }

  /** a fresh empty directory, named `prefix` plus a random suffix */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private def deleteRec(f: java.io.File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }
}
