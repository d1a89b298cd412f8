package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The append-only per-batch parquet store under the streaming index
  * maintainers (IndexMaintain postings/stats, AnnMaintain postings,
  * GorillaStream blocks): batch `n` owns `batch-n`, compaction folds the
  * live set into a `compact-<maxId>` generation, and the LIVE-dir rule —
  * newest COMPLETE generation plus batch dirs NEWER than it — makes
  * every intermediate crash state read-consistent:
  *   - crash before a compact's write completes: the partial dir has no
  *     `_SUCCESS`, readers ignore it, sources still live;
  *   - crash between write and sweep: folded sources exist on disk but
  *     are BELOW the generation id, so readers never double-count them;
  *   - the next compact sweeps any stranded dir (partial generations
  *     included — their id can never exceed the new generation's,
  *     because batch dirs only accumulate).
  * Single-maintainer convention for compaction; appends are
  * replay-safe because a batch overwrites only its own dir, and the
  * sweep deletes ONLY dirs at or below the folded generation — a batch
  * appended concurrently with the fold is always newer and is never
  * touched.
  *
  * `upTo` bounds which batches a fold may consume — the replay-safety
  * knob for maintainers whose batches READ BACK prior state
  * (GorillaStream): compact only batches the stream has committed, so a
  * replayed batch `n` still reconstructs exactly the pre-`n` state.
  *
  * The full lifecycle laws shared by every maintainer on this store
  * (live-dir rule, snapshot-bound folds, rename-CAS, winner-gated
  * effects, coverage-bounded tombstones, recorded pairing, grace
  * windows, format versioning) are stated once in
  * `src/main/scala/graft/streaming/README.md`. */
private[streaming] object BatchStore {

  /** generation id of a store dir name: "batch-7" → 7, "compact-7" → 7,
    * "compact-7.2" → 7 (a re-shape of generation 7 — same fold bound,
    * newer content; see [[compact]]'s CAS). */
  private[streaming] def genOf(n: String): Long = {
    val tail = n.split("-").last
    val dot = tail.indexOf('.')
    (if (dot < 0) tail else tail.substring(0, dot)).toLong
  }

  /** re-shape counter within a generation (0 for "compact-7"). */
  private def subOf(n: String): Long = {
    val tail = n.split("-").last
    val dot = tail.indexOf('.')
    if (dot < 0) 0L else tail.substring(dot + 1).toLong
  }

  private def id(n: String) = genOf(n)

  /** the CAS primitive: atomically rename `src` onto `dst`, failing
    * (false) when `dst` already exists. Hadoop's RawLocalFileSystem
    * rename is NOT that — on a failed renameTo it falls back to
    * FileUtil.copy, which copies the source INTO an existing
    * destination directory and returns true, so a racing loser would
    * claim victory and nest its staging inside the winner's committed
    * generation. On the local scheme the rename therefore goes through
    * NIO's ATOMIC_MOVE (kernel rename(2): ENOTEMPTY/EEXIST on an
    * occupied destination); object-store schemes keep FileSystem.rename,
    * whose HDFS semantics already return false on an existing
    * destination. */
  private[streaming] def casRename(fs: org.apache.hadoop.fs.FileSystem,
      src: Path, dst: Path): Boolean = {
    val scheme = dst.toUri.getScheme
    if (scheme == null || scheme == "file") {
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(src.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        // the two rename-race signatures (EEXIST / ENOTEMPTY): a winner
        // holds the destination, report a clean defeat
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.DirectoryNotEmptyException => false
        // anything else (EACCES, EIO, AtomicMoveNotSupported, …) is a
        // FAULT, not a race: report defeat only when a winner is actually
        // present at the destination, otherwise rethrow — swallowing it
        // would silently end all maintenance with no error ever surfaced
        case e: java.nio.file.FileSystemException =>
          if (java.nio.file.Files.exists(
              java.nio.file.Paths.get(dst.toUri.getPath))) false
          else throw e
      }
    } else fs.rename(src, dst)
  }

  /** a generation dir is only trusted once its job committed — the
    * `_SUCCESS` marker is the commit record; a partial dir from a crash
    * mid-write must not mask the sources it failed to fold. */
  private def complete(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    fs.exists(new Path(p, "_SUCCESS"))

  // ---- store format version ----------------------------------------------
  // The store layout has evolved twice (the `src` posting column, the
  // generation sidecar markers), and both times the hazard was the same:
  // an old-layout store read under new-layout assumptions misreads
  // SILENTLY (round 13's NULL-src un-deletion). The format stamp makes
  // the class detectable: every maintainer write stamps `_format-v<N>`
  // at the store root, and every read REFUSES a store stamped with a
  // version newer than it understands — a loud error instead of a silent
  // misread. An unstamped store is v1 (pre-stamp legacy) and stays
  // readable: v2 readers handle v1 rows (the coalesce-on-src rule).
  val FormatVersion = 2
  private val FormatR = "^_format-v(\\d+)$".r

  /** refuse to read a store from the future. Called with the root
    * listing every reader already pays for. */
  private def checkFormat(dir: String, names: Seq[String]): Unit =
    names.foreach {
      case FormatR(v) if v.toLong > FormatVersion =>
        throw new IllegalStateException(
          s"store $dir is format v$v but this build reads at most " +
          s"v$FormatVersion — refusing to misread it; upgrade the reader")
      case _ => ()
    }

  /** create an empty marker file — via NIO on the local scheme, because
    * ChecksumFileSystem's create() drops a `.crc` twin beside every
    * marker (noise in a dir whose entry names carry meaning). */
  private def touch(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit = {
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val f = java.nio.file.Paths.get(p.toUri.getPath)
      // racing stampers are both right — an existing marker is success,
      // not a fault (create-if-absent must be idempotent under a race)
      try java.nio.file.Files.createFile(f)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    } else fs.create(p, true).close()
  }

  /** stamp the store root with this build's format version (idempotent;
    * never downgrades an existing stamp). Maintainers call it on their
    * write paths so any store they touch is self-describing. */
  def stampFormat(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) fs.mkdirs(root)
    val names = fs.listStatus(root).toSeq.map(_.getPath.getName)
    checkFormat(dir, names) // never write into a future-version store
    if (!names.exists(n => n match {
      case FormatR(v) => v.toLong >= FormatVersion
      case _ => false
    })) touch(fs, new Path(root, s"_format-v$FormatVersion"))
  }

  /** live dirs whose id is strictly below `before` (Long.MaxValue =
    * everything): the newest COMPLETE generation below `before`, plus
    * batch dirs newer than it (and below `before`). */
  def liveDirs(spark: SparkSession, dir: String,
      before: Long = Long.MaxValue): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val listed = fs.listStatus(root).toSeq.map(_.getPath)
    checkFormat(dir, listed.map(_.getName))
    val all = listed
      .filter { p =>
        val n = p.getName
        (n.startsWith("batch-") || n.startsWith("compact-")) && id(n) < before
      }
    // newest COMPLETE generation by (gen, re-shape sub) order
    val gen = all.filter(p => p.getName.startsWith("compact-") && complete(fs, p))
      .map(p => (id(p.getName), subOf(p.getName), p.getName))
      .sorted.lastOption
    val live = gen match {
      case None => all.map(_.getName).filter(_.startsWith("batch-"))
      case Some((g, _, name)) => name +:
        all.map(_.getName).filter(n => n.startsWith("batch-") && id(n) > g)
    }
    live.map(n => s"$dir/$n")
  }

  def read(spark: SparkSession, dir: String, schema: StructType,
      before: Long = Long.MaxValue): DataFrame = {
    val dirs = liveDirs(spark, dir, before)
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** (gen, sub, "gen[.sub]") for a fold over exactly `dirs` — gen is the
    * max id IN THE SNAPSHOT (the fold consumes these dirs and no others,
    * so the sweep bound can never exceed what was folded); only the
    * re-shape `sub` comes from a fresh listing, because it merely picks
    * an unused NAME at this generation — a racer claiming the same name
    * is settled by the commit CAS, never by the listing. */
  private def targetFor(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      dirs: Seq[String]): (Long, Long, String) = {
    val gen = dirs.map(d => id(new Path(d).getName)).max
    val onDisk = fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("compact-") && id(n) == gen)
    val sub = if (onDisk.isEmpty) 0L else onDisk.map(subOf).max + 1
    (gen, sub, if (sub == 0) s"$gen" else s"$gen.$sub")
  }

  /** the generation a fold started now would commit as — (gen, sub,
    * "gen[.sub]") — or None when there is nothing to fold. A caller
    * that must pair side state with the fold (AnnMaintain's centroid
    * generations) names that state by the same tail BEFORE calling
    * [[compact]]; a batch racing in between moves the committed tail,
    * which the caller detects post-hoc and retries. */
  def nextTarget(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue, force: Boolean = false)
      : Option[(Long, Long, String)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = liveDirs(spark, dir).filter(d => id(new Path(d).getName) <= upTo)
    if (dirs.isEmpty || (dirs.length == 1 && !force)) return None
    Some(targetFor(fs, dir, dirs))
  }

  /** test failpoint: runs inside [[compact]] right after the fold
    * snapshot is taken — the window where round 13's TOCTOU lost a
    * concurrently-appended batch (the sweep bound came from a SECOND
    * listing that saw the batch; the fold didn't). */
  private[streaming] var foldFailpoint: () => Unit = () => ()

  /** test failpoint observing the two remaining commit stages —
    * "staged" (fold + sidecars written, the CAS has not renamed) and
    * "committed" (CAS renamed, the winner sweep has not run) — so specs
    * can run READER probes inside each window: the live-dir rule's
    * read-consistency claim is that a probe at any of these points
    * serves the same complete view (RacingMaintainersSpec). */
  private[streaming] var commitFailpoint: String => Unit = _ => ()

  /** fold the live dirs with id ≤ `upTo` into one `compact-<maxId>`
    * generation; `shape` rewrites the unioned frame (sort order,
    * re-aggregation, latest-revision-per-key) before it lands.
    *
    * The swap is a CAS, so the single-maintainer convention is ENFORCED,
    * not assumed (the racing-compactors snapshot bug of round 12, applied
    * to the stores): the fold lands in a staging dir (`tmp-…`, invisible
    * to [[liveDirs]]) and is RENAMED into place — directory rename is
    * kernel-atomic and fails when the destination exists, so of two
    * racing folds at the same target exactly one commits; the loser
    * deletes its staging and reports defeat. Racing folds at DIFFERENT
    * generations both commit and the live-dir rule already serves only
    * the newest. Returns true iff THIS call committed its generation —
    * sweeping sources, purging tombstones, and any other winner-only
    * side effect must be gated on it.
    *
    * Write-then-rename-then-sweep; the sweep deletes ONLY dirs at or
    * below the committed (gen, sub) — the folded sources, stale
    * generations, stranded staging, leftovers of a crashed predecessor —
    * never a batch appended after the fold's snapshot (its id is above
    * `gen` by batch-counter monotonicity, and `gen` comes from the
    * snapshot itself — the r13 TOCTOU fix).
    *
    * Optional `sidecars`: empty marker files created inside the staged
    * generation BEFORE the commit CAS, so they are atomically part of
    * the committed dir (AnnMaintain names its centroid space this way —
    * the pairing travels with the generation instead of being inferred
    * from commit order). The callback receives THE FOLD'S OWN SNAPSHOT
    * (the exact dirs being folded) so the sidecar can describe what the
    * generation actually preserves — a name computed from an earlier,
    * independent listing can be stale by the time the snapshot is taken
    * (the r14 ADVICE TOCTOU: a refresh committing between AnnMaintain's
    * liveSpace read and this snapshot made a plain fold stamp the OLD
    * space on NEW-space cells). Names must not collide with parquet
    * outputs; the `_`-prefix convention keeps Spark readers ignoring
    * them. */
  def compact(spark: SparkSession, dir: String, schema: StructType,
      shape: DataFrame => DataFrame, upTo: Long = Long.MaxValue,
      force: Boolean = false,
      sidecars: Seq[String] => Seq[String] = _ => Nil): Boolean = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    stampFormat(spark, dir)
    val dirs = liveDirs(spark, dir).filter(d => id(new Path(d).getName) <= upTo)
    // a single live dir normally needs no fold; `force` reshapes it
    // anyway (a pending tombstone set must land physically)
    if (dirs.isEmpty || (dirs.length == 1 && !force)) return false
    foldFailpoint() // test hook: a batch appended right here must survive
    // the target is computed from the SAME snapshot the fold consumes
    // (round-13 ADVICE: a second liveDirs listing here let a batch
    // appended between the listings raise the sweep bound without being
    // folded — the winner sweep then deleted it, silent data loss)
    val (gen, sub, tail) = targetFor(fs, dir, dirs)
    val dstName = s"compact-$tail"
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    // staging keeps the "<gen>[.<sub>]" tail so a stranded dir's sweep
    // bound parses the same way as a committed one's
    val staging = new Path(
      s"$dir/tmp-$nonce-${dstName.stripPrefix("compact-")}")
    val dst = new Path(s"$dir/$dstName")
    val committed =
      try {
        shape(spark.read.schema(schema).parquet(dirs: _*))
          .write.mode("overwrite").parquet(staging.toString)
        sidecars(dirs).foreach(n => touch(fs, new Path(staging, n)))
        commitFailpoint("staged")
        // the CAS: atomic dir rename, fails if the destination exists
        casRename(fs, staging, dst)
      } catch {
        // a racing winner may sweep our sources mid-fold; if a complete
        // generation at or above ours now exists, we simply lost
        case e: Throwable =>
          val won = fs.exists(new Path(dir)) &&
            fs.listStatus(new Path(dir)).toSeq.map(_.getPath).exists { p =>
              val n = p.getName
              n.startsWith("compact-") &&
                (id(n) > gen || (id(n) == gen && subOf(n) >= sub)) &&
                complete(fs, p)
            }
          if (!won) throw e
          false
      }
    if (!committed) {
      if (fs.exists(staging)) fs.delete(staging, true)
      return false
    }
    commitFailpoint("committed")
    // winner-only sweep. A crashed predecessor's partial generation
    // always sorts at or below (gen, sub): its fold snapshot was a
    // subset of ours (batch dirs only grow); same for stranded staging.
    fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n.startsWith("batch-") && id(n) <= gen) ||
          (n.startsWith("compact-") &&
            (id(n) < gen || (id(n) == gen && subOf(n) < sub))) ||
          (n.startsWith("tmp-") &&
            (id(n) < gen || (id(n) == gen && subOf(n) <= sub)))
      }
      .foreach(p => fs.delete(p, true))
    true
  }
}
