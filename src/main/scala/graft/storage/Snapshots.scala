package graft.storage

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based snapshot isolation + time travel for the tenant layout
  * (Iceberg-lite; the reference rides real Iceberg snapshots —
  * storage-layout.md snapshot expiry / orphan GC). Each commit writes an
  * immutable manifest (`_snapshots/v{N}.manifest`, one data-file path per
  * line) plus a CURRENT pointer; readers resolve a manifest to an explicit
  * file list, so a reader pinned to v1 is untouched by later appends —
  * snapshot isolation without any coordination between reader and writer.
  *
  * Scale shape: a manifest is one small sequential file per commit — no
  * directory listing on the read path (the 100 TB killer: a recursive
  * list of a million-object prefix per query); `spark.read` gets the
  * resolved paths plus `basePath`, so Hive partition columns (and their
  * pruning) survive.
  *
  * In-place rewrites (compaction, promotion) REPLACE files; manifests
  * older than the rewrite go stale by design — `expire` drops them and
  * `vacuum` deletes data files no kept manifest references (never
  * touching files the newest manifest holds).
  */
object Snapshots {

  private def snapDir(layout: Storage.TableLayout, table: String): String =
    s"${layout.path(table)}/_snapshots"

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toString("UTF-8")
    } finally in.close()
  }

  private def writeSmall(f: FileSystem, p: Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** list the table's data files (relative paths), skipping hidden files
    * and the snapshot dir itself. */
  private def dataFiles(spark: SparkSession, layout: Storage.TableLayout,
      table: String): Seq[String] = {
    val root = layout.path(table)
    val f = fs(spark, root)
    val out = ArrayBuffer.empty[String]
    val it = f.listFiles(new Path(root), true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(
        f.makeQualified(new Path(root)).toString).stripPrefix("/")
      // any hidden path segment (_snapshots, _compactions staging, …)
      // keeps the whole file out of the manifest; `metadata/` is the
      // Iceberg metadata projection (IcebergExport) — spec-named, so not
      // underscore-prefixed, and never a data file (vacuum must not
      // treat exported manifests as orphans)
      if (!rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")) &&
        !rel.startsWith("metadata/") && st.isFile)
        out += rel
    }
    out.sorted.toSeq
  }

  /** commit the table's current file set as the next snapshot version.
    *
    * Optimistic multi-writer commit (real Iceberg's CAS snapshot swap,
    * scoped to a filesystem): the manifest is created EXCLUSIVELY
    * (`create(overwrite = false)`), so two writers racing to publish the
    * same version number resolve deterministically — the loser observes
    * the collision and retries at the next version with a fresh file
    * listing. Snapshot history stays LINEAR: every committed version
    * exists exactly once, and `current` is the max committed version,
    * derived from the manifest listing (never from a racy pointer file;
    * CURRENT is kept only as a human-readable cache). */
  def commit(spark: SparkSession, layout: Storage.TableLayout, table: String): Int = {
    val dir = snapDir(layout, table)
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    var v = current(spark, layout, table).getOrElse(0) + 1
    var committed = false
    while (!committed) {
      // listed INSIDE the loop: a lost race means the other writer
      // changed the table — the retry must re-list, not republish a
      // stale view under a newer version number
      val files = dataFiles(spark, layout, table).mkString("\n")
      val p = new Path(s"$dir/v$v.manifest")
      try {
        // the CAS: create-fails-if-exists. Hadoop's RawLocalFileSystem
        // implements create(overwrite = false) as CHECK-then-create —
        // two aligned writers can both slip through the window — so on
        // the local scheme the exclusive create goes through NIO's
        // atomic O_EXCL createFile first (the file is then OURS to
        // write); object-store schemes keep the FileSystem-level
        // conditional create
        val scheme = p.toUri.getScheme
        var claimed = false // the exclusive create succeeded: p is OURS
        try {
          val out =
            if (scheme == null || scheme == "file") {
              java.nio.file.Files.createFile(
                java.nio.file.Paths.get(p.toUri.getPath)) // atomic; throws if exists
              claimed = true
              f.create(p, true)
            } else f.create(p, false)
          try out.write(files.getBytes("UTF-8")) finally out.close()
          committed = true
        } catch {
          // a failure AFTER we won the exclusive create (f.create threw,
          // or the write died) must not leave the empty/partial manifest
          // behind — it would become the max committed version and serve
          // an empty snapshot, and the lost-race handler below would then
          // misread our own claim as a race. The file is ours (O_EXCL),
          // so deleting before propagating is safe.
          case e: Throwable if claimed =>
            try f.delete(p, false) catch { case _: java.io.IOException => () }
            throw e
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1 // lost the race
        case _: java.io.IOException if f.exists(p) => v += 1 // lost the race
      }
    }
    writeSmall(f, new Path(s"$dir/CURRENT"), v.toString)
    v
  }

  def current(spark: SparkSession, layout: Storage.TableLayout, table: String): Option[Int] = {
    val dir = snapDir(layout, table)
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) return None
    val versions = f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
    if (versions.isEmpty) None else Some(versions.max)
  }

  private def manifest(spark: SparkSession, layout: Storage.TableLayout,
      table: String, version: Int): Seq[String] = {
    val f = fs(spark, snapDir(layout, table))
    val p = new Path(s"${snapDir(layout, table)}/v$version.manifest")
    require(f.exists(p), s"snapshot v$version of $table does not exist (expired?)")
    readSmall(f, p).split("\n").toSeq.filter(_.nonEmpty)
  }

  /** the data files (relative paths) a snapshot version pins — the
    * incremental-read primitive: a consumer diffs two versions' file
    * sets and reads only the difference (Iceberg's changelog shape). */
  def files(spark: SparkSession, layout: Storage.TableLayout, table: String,
      version: Int): Seq[String] = manifest(spark, layout, table, version)

  /** read the table AS OF a snapshot (default: CURRENT). basePath keeps
    * Hive partition columns — and partition pruning — alive on the
    * explicit file list. */
  def read(spark: SparkSession, layout: Storage.TableLayout, table: String,
      version: Option[Int] = None): DataFrame = {
    val root = layout.path(table)
    val v = version.orElse(current(spark, layout, table)).getOrElse(
      throw new IllegalArgumentException(s"no snapshots committed for $table"))
    val files = manifest(spark, layout, table, v).map(rel => s"$root/$rel")
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", root).parquet(files: _*)
  }

  /** drop all but the newest `keepLast` manifests (CURRENT always kept). */
  def expire(spark: SparkSession, layout: Storage.TableLayout, table: String,
      keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val dir = snapDir(layout, table)
    val f = fs(spark, dir)
    val versions = f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted
    val drop = versions.dropRight(keepLast)
    drop.foreach(v => f.delete(new Path(s"$dir/v$v.manifest"), false))
    drop
  }

  /** delete data files referenced by NO remaining manifest — the orphan
    * half of snapshot expiry. `minAgeMs` guards the append→commit window:
    * a file younger than it is presumed to be an in-flight commit, not an
    * orphan (the same age gate Storage.gcOrphans and real Iceberg orphan
    * removal use). Returns the deleted relative paths. */
  def vacuum(spark: SparkSession, layout: Storage.TableLayout, table: String,
      minAgeMs: Long = 3600L * 1000L): Seq[String] = {
    val dir = snapDir(layout, table)
    val f = fs(spark, dir)
    val versions = f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
    val referenced = versions.flatMap(v => manifest(spark, layout, table, v)).toSet
    val root = layout.path(table)
    val rootFs = fs(spark, root)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = dataFiles(spark, layout, table)
      .filterNot(referenced.contains)
      .filter(rel =>
        rootFs.getFileStatus(new Path(s"$root/$rel")).getModificationTime <= cutoff)
    orphans.foreach(rel => rootFs.delete(new Path(s"$root/$rel"), false))
    orphans
  }
}
