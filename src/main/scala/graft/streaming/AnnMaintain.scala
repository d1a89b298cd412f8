package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** ANN-INDEX maintenance under streaming ingest — q380's online half:
  * embedding vectors arrive forever; each must become searchable without
  * retraining the index. The centroids are FROZEN (built once over the
  * base corpus, q380's lifecycle); a micro-batch's only read state is
  * that small centroid table (broadcast), and its fold is pure
  * assignment: nearest-frozen-centroid per vector, appended as the
  * batch's own postings files. Assignment is per-vector independent, so
  * ANY micro-batching yields the identical postings set (the
  * batching-invariance law, AnnMaintainSpec) — ingest cadence can never
  * change a search result. Replay overwrites only the batch's own dir
  * (the GorillaStream discipline, exactly-once).
  *
  * At 100 TB: O(batch × k) work per fold, index never touched, the
  * probe side stays q260/q380's broadcast/DPP shape. Centroid REFRESH
  * (retraining on drift) is a batch maintenance job by design — the
  * stream path must never mutate what probes broadcast.
  *
  * Store lifecycle laws shared with the other maintainers: see
  * `src/main/scala/graft/streaming/README.md`. */
object AnnMaintain {

  private val postingsSchema = StructType(Seq(
    StructField("n_id", LongType), StructField("cell", LongType),
    StructField("nv", ArrayType(LongType)), StructField("nn", LongType),
    StructField("src", LongType)))

  /** foreachBatch body: assign a micro-batch of vectors — columns
    * (vec_id, vq: array<long>, nrm: long) — to the frozen centroids at
    * `centroidsPath` — columns (c_id, cv, cn) — and append postings. */
  def maintainBatch(dir: String, centroidsPath: String,
      compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // format gate FIRST: a future-version store must refuse BEFORE any
    // side effect — stamping after the batch write would land a live
    // this-version dir inside a store a newer reader serves under newer
    // assumptions (the r14 ADVICE ordering hazard)
    BatchStore.stampFormat(spark, s"$dir/postings")
    // in-stream self-compaction (replay-safe: batches < n are committed)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(spark, dir, upTo = batchId - 1)
    // assignment follows the CURRENT centroid generation — after a
    // refresh, new arrivals must land in the cells probes now search
    val cents = currentCentroids(spark, dir, centroidsPath)
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    batch.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("vq"), col("nrm"), struct(
        (-(dot(col("vq"), col("cv")).cast(DoubleType) /
          sqrt(col("cn").cast(DoubleType) * col("nrm").cast(DoubleType))))
          .as("negcos"),
        col("c_id").as("c_id")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).as("best"), first(col("vq")).as("nv"),
        first(col("nrm")).as("nn"))
      .select(col("vec_id").as("n_id"), col("best.c_id").as("cell"),
        col("nv"), col("nn"))
      // src = the batch that wrote the row: a tombstone kills only rows
      // whose source existed at delete time (src ≤ its covers)
      .withColumn("src", lit(batchId))
      .write.mode("overwrite").parquet(s"$dir/postings/batch-$batchId")
  }

  /** `checkpoint`: where the query commits. A stored entry passes a
    * directory inside itself, so a rebuild empties it too; without one,
    * Spark makes a `temporary-*` checkpoint under the system temp dir. */
  def start(vectors: DataFrame, dir: String, centroidsPath: String,
      trigger: Trigger = Trigger.ProcessingTime(500),
      compactEvery: Int = 0,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(vectors.isStreaming, "AnnMaintain needs a streaming source")
    val w = vectors.writeStream.outputMode("append").trigger(trigger)
    checkpoint.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(maintainBatch(dir, centroidsPath, compactEvery) _).start()
  }

  // ---- deletes (tombstones): the IndexMaintain discipline without a
  // stats store — a retention drop tombstones the dead vector ids;
  // reads anti-join, compaction applies physically and purges
  // tombstones whose covered batches folded.

  // tombstone mechanics (dir layout, coverage bound, NULL-src legacy
  // rule, anti-join) live in [[Tombstones]], shared with IndexMaintain
  // and BandMaintain
  private def tombstones(spark: SparkSession, dir: String): DataFrame =
    Tombstones.rows(spark, dir, "n_id")

  private def antiTomb(post: DataFrame, tomb: DataFrame): DataFrame =
    Tombstones.antiTomb(post, tomb, "n_id")

  /** delete vectors from the maintained postings (the retention hook). */
  def deleteVecs(spark: SparkSession, dir: String, vecIds: DataFrame,
      deleteId: Long): Unit = {
    val covers = BatchStore.liveDirs(spark, s"$dir/postings")
      .map(d => BatchStore.genOf(new Path(d).getName))
      .sorted.lastOption.getOrElse(-1L)
    Tombstones.write(spark, dir, vecIds, "n_id", deleteId, covers)
  }

  /** all LIVE stream-appended postings ([[BatchStore]] rule), minus the
    * tombstoned vectors. */
  def postings(spark: SparkSession, dir: String): DataFrame =
    antiTomb(BatchStore.read(spark, s"$dir/postings", postingsSchema),
      tombstones(spark, dir)).drop("src")

  // ---- centroid refresh (drift maintenance) -----------------------------
  // The stream path NEVER mutates what probes broadcast; retraining on
  // drift is this batch job: retrain centroids over base ∪ accumulated
  // delta (the postings carry their vectors), re-assign every posting
  // under the new centroids, and land both as ONE generation `<gen>` —
  // `centroids-<gen>` is written first but only becomes current when
  // its matching postings `compact-<gen>` commits (the postings
  // generation's _SUCCESS is the single commit point), so probes always
  // see a centroid set and an assignment that agree, at every crash
  // point.

  private def complete(fs: org.apache.hadoop.fs.FileSystem, p: Path) =
    fs.exists(new Path(p, "_SUCCESS"))

  private val CentR = "^centroids-(\\d+(?:\\.\\d+)?)$".r
  private def centOrd(tail: String): (Long, Long) = {
    val dot = tail.indexOf('.')
    if (dot < 0) (tail.toLong, 0L)
    else (tail.substring(0, dot).toLong, tail.substring(dot + 1).toLong)
  }

  // ---- centroid-space pairing --------------------------------------------
  // Which centroid set a generation's `cell` ids were assigned against is
  // RECORDED, not inferred: every committed postings generation carries a
  // `_space-<tail>` sidecar (written into the staging dir before the
  // commit CAS, so it is atomically part of the generation) naming the
  // centroids-<tail> dir of its cell space — `_space-bootstrap` for the
  // frozen bootstrap set. Order-based inference (r13: "any complete
  // generation ≥ T pairs with centroids-T") had a live failure: a refresh
  // that commits centroids-T but then LOSES its postings fold (or
  // crashes before it) leaves an orphan whose order pairing a later
  // PLAIN fold at generation ≥ T satisfies — probes then prune old-space
  // cells with new-space centroids, silent recall collapse. With the
  // sidecar, a plain fold stamps the space it actually preserved and the
  // orphan stays inert until a refresh genuinely pairs with it.
  private val SpaceR = "^_space-(.+)$".r

  /** newest complete postings generation: its (gen, sub) order and its
    * recorded space marker (None = legacy markerless generation). */
  private def newestGen(spark: SparkSession, dir: String)
      : Option[((Long, Long), Option[String])] = {
    val postRoot = new Path(s"$dir/postings")
    val fs = postRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(postRoot)) return None
    fs.listStatus(postRoot).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("compact-") && complete(fs, p))
      .sortBy(p => centOrd(p.getName.stripPrefix("compact-")))
      .lastOption.map { p =>
        val mark = fs.listStatus(p).toSeq.map(_.getPath.getName)
          .collectFirst { case SpaceR(m) => m }
        (centOrd(p.getName.stripPrefix("compact-")), mark)
      }
  }

  /** the centroid-space identity of the store's live cells: Some(tail)
    * of a `centroids-<tail>` dir, None = bootstrap space. Read from the
    * newest committed generation's `_space` sidecar; legacy markerless
    * generations (pre-r14 stores) fall back to the r13 order-based
    * pairing, which is exact for any store every generation of which was
    * written by a completed maintainer (the orphan hazard needs a
    * crashed/defeated refresh, which also leaves no marker to misread). */
  private def liveSpace(spark: SparkSession, dir: String): Option[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    newestGen(spark, dir) match {
      case None => None
      case Some((_, Some("bootstrap"))) => None
      case Some((_, Some(m))) => Some(m)
      case Some((newest, None)) => legacyOrderSpace(fs, dir, newest)
    }
  }

  /** pre-sidecar (r13) order-based pairing for a MARKERLESS generation:
    * the newest complete centroids-<g> dir with g at or below the
    * generation's own ord. Exact for legacy stores every generation of
    * which a completed maintainer wrote (the orphan hazard needs a
    * crashed refresh, which postdates the sidecar mechanism). */
  private def legacyOrderSpace(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, newest: (Long, Long)): Option[String] =
    fs.listStatus(new Path(dir)).toSeq.map(_.getPath).flatMap(p =>
      p.getName match {
        case CentR(g) if complete(fs, p) &&
          Ordering[(Long, Long)].lteq(centOrd(g), newest) =>
          Some((centOrd(g), g))
        case _ => None
      }).sortBy(_._1).lastOption.map(_._2)

  /** the centroid space of the FOLD SNAPSHOT `snap` (the dirs a plain
    * compact actually consumes): the `_space` sidecar of the snapshot's
    * own generation dir. Deriving the stamp from an independent earlier
    * listing re-opened the TOCTOU the snapshot-bound fold closed — a
    * refresh committing between that listing and the snapshot would get
    * its new-space generation re-shaped under the OLD space's stamp
    * (probes then pair refreshed cells with stale centroids, silent
    * recall collapse). From the snapshot itself the stamp can never
    * disagree with the cells it describes. No generation in the
    * snapshot (batch dirs only) means no refresh ever committed —
    * bootstrap space. */
  private def spaceOfSnapshot(spark: SparkSession, dir: String,
      snap: Seq[String]): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    snap.map(new Path(_)).filter(_.getName.startsWith("compact-"))
      .sortBy(p => centOrd(p.getName.stripPrefix("compact-")))
      .lastOption match {
      case None => "bootstrap"
      case Some(p) =>
        fs.listStatus(p).toSeq.map(_.getPath.getName)
          .collectFirst { case SpaceR(m) => m }
          .orElse(legacyOrderSpace(fs, dir,
            centOrd(p.getName.stripPrefix("compact-"))))
          .getOrElse("bootstrap")
    }
  }

  /** the centroids probes and maintainers must use: the set the newest
    * committed postings generation RECORDS as its cell space, else the
    * bootstrap set at `bootstrapPath`. */
  def currentCentroidsPath(spark: SparkSession, dir: String,
      bootstrapPath: String): String =
    liveSpace(spark, dir) match {
      case Some(m) =>
        val cd = new Path(s"$dir/centroids-$m")
        val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a marked space whose centroid dir is gone (hand-pruned store)
        // degrades to bootstrap — stale pruning, never wrong pairing.
        // Qualified form: the refresh purge compares this against
        // listStatus paths, which carry the scheme.
        if (fs.exists(cd) && complete(fs, cd)) fs.makeQualified(cd).toString
        else bootstrapPath
      case None => bootstrapPath
    }

  def currentCentroids(spark: SparkSession, dir: String,
      bootstrapPath: String): DataFrame =
    spark.read.parquet(currentCentroidsPath(spark, dir, bootstrapPath))

  /** retrain the centroids over every live vector in the store and
    * re-assign all postings under them, swapped in atomically as one
    * generation. `train` maps (vec_id, vq, nrm) to centroids
    * (c_id, cv, cn) — the caller supplies the trainer (e.g. the
    * one-Lloyd IVF construction the batch index uses) so refresh and
    * from-scratch builds can share it exactly. Tombstoned vectors are
    * excluded from both training and the new generation; covered
    * tombstones are purged with it. */
  def refresh(spark: SparkSession, dir: String, bootstrapPath: String,
      train: DataFrame => DataFrame, attempts: Int = 3): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // captured BEFORE the swap: the one generation a concurrent probe
    // can be holding — it gets a grace window (see purge below)
    val prevCurrent = currentCentroidsPath(spark, dir, bootstrapPath)
    // the generation tail the postings fold will commit as — centroids
    // are named by the SAME tail, so pairing survives re-shapes of an
    // already-committed generation (compact-7 → compact-7.1)
    val tail = BatchStore.nextTarget(spark, s"$dir/postings",
      force = true).getOrElse(return)._3
    val centDst = new Path(s"$dir/centroids-$tail")
    // create-once per tail: (gen, sub) advances on every committed fold
    // and the trainer is deterministic over the same live snapshot, so
    // an existing dir (a racing refresher's, or a crashed one's orphan)
    // carries the content this refresh would produce — never rewrite a
    // dir a probe may be reading. EXCEPT when tombstones are pending:
    // the tail does not encode tombstone state, so a crashed
    // refresher's orphan at this tail may have trained on vectors that
    // have since been deleted — delete the orphan (it was never
    // current, so no probe holds it) and retrain over the live set.
    if (fs.exists(centDst) && Tombstones.dirs(spark, dir).nonEmpty)
      fs.delete(centDst, true)
    if (!fs.exists(centDst)) {
      val vecs = postings(spark, dir)
        .select(col("n_id").as("vec_id"), col("nv").as("vq"),
          col("nn").as("nrm"))
      val staging = new Path(s"$dir/tmp-cent-" +
        java.util.UUID.randomUUID().toString.take(8))
      train(vecs).write.mode("overwrite").parquet(staging.toString)
      // same CAS primitive as the postings fold — a plain
      // FileSystem.rename on the local scheme copies INTO an existing
      // destination and claims success
      if (!BatchStore.casRename(fs, staging, centDst))
        fs.delete(staging, true) // lost to a racing refresher
    }
    val cents = spark.read.parquet(centDst.toString)
    val tombs = Tombstones.dirs(spark, dir)
    val dead = tombstones(spark, dir)
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val won = BatchStore.compact(spark, s"$dir/postings", postingsSchema, { df =>
      antiTomb(df, dead)
        .select(col("n_id"), col("nv"), col("nn"), col("src"))
        .crossJoin(broadcast(cents))
        .select(col("n_id"), col("nv"), col("nn"), col("src"), struct(
          (-(dot(col("nv"), col("cv")).cast(DoubleType) /
            sqrt(col("cn").cast(DoubleType) * col("nn").cast(DoubleType))))
            .as("negcos"),
          col("c_id").as("c_id")).as("sc"))
        .groupBy(col("n_id"))
        .agg(min(col("sc")).as("best"), first(col("nv")).as("nv"),
          first(col("nn")).as("nn"), first(col("src")).as("src"))
        .select(col("n_id"), col("best.c_id").as("cell"),
          col("nv"), col("nn"), col("src"))
        .sortWithinPartitions(col("cell"))
      // the generation RECORDS the centroid space its cells were
      // assigned against — even if the fold commits at a later tail
      // than planned (a batch raced in), the pairing stays correct
    }, upTo = Long.MaxValue, force = true, sidecars = _ => Seq(s"_space-$tail"))
    // side effects are WINNER-ONLY (the CAS decides): a losing racer
    // purging tombstones or centroid dirs would act on state it never
    // committed
    if (!won) return
    if (!complete(fs, new Path(s"$dir/postings/compact-$tail"))) {
      // a batch landed between the target computation and the fold: the
      // committed generation is newer than the centroid set we paired
      // with, so its cells don't match any servable centroid set.
      // Re-run against the advanced store (bounded — the window is the
      // fold itself; the store stays read-consistent throughout, only
      // probe pruning is stale until a refresh pairs).
      if (attempts > 1) refresh(spark, dir, bootstrapPath, train, attempts - 1)
      return
    }
    val gen = centOrd(tail)._1
    tombs.filter(_._3 <= gen).foreach(t => fs.delete(t._1, true))
    // once this generation's postings committed, every OTHER centroid
    // dir is superseded (its postings generation was swept by the
    // fold) or an orphan from a crashed refresh — purge all EXCEPT the
    // generation that was current when this refresh began. That one
    // gets a one-refresh grace window: a concurrent probe that already
    // resolved currentCentroidsPath to it must be able to finish its
    // broadcast read (the maintenance path never mutates what probes
    // are reading). Orphans were never current, so no probe holds
    // them; the previous grace dir stops being protected at the NEXT
    // refresh, so a long-lived store carries at most two centroid
    // dirs. The bootstrap set lives outside `dir` and is never touched.
    fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .foreach(p => p.getName match {
        case CentR(g) if g != tail && p.toString != prevCurrent =>
          fs.delete(p, true)
        // stranded centroid staging from a crashed refresher — nothing
        // else ever sweeps the index root (a live racer's staging is
        // safe to kill: its rename then fails and it loses, by design)
        case n if n.startsWith("tmp-cent-") => fs.delete(p, true)
        case _ => ()
      })
  }

  /** test failpoint: runs at [[compact]] entry — the window where the
    * r14 pre-fold liveSpace read went stale (a refresh committing
    * between it and the fold snapshot re-stamped the refresh's
    * new-space generation under the old space). */
  private[streaming] var compactFailpoint: () => Unit = () => ()

  /** fold the per-batch postings dirs into one compacted generation,
    * clustered by cell for probe pruning; `upTo` bounds the fold to
    * committed batches. Tombstoned postings are physically dropped and
    * fully-covered tombstones purged. */
  def compact(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Unit = {
    compactFailpoint()
    val tombs = Tombstones.dirs(spark, dir)
    val dead = tombstones(spark, dir)
    val folded = BatchStore.liveDirs(spark, s"$dir/postings")
      .map(d => BatchStore.genOf(new Path(d).getName)).filter(_ <= upTo)
    // a plain fold PRESERVES the cell space — stamp the space of the
    // generation the fold ACTUALLY consumes (derived from the fold's own
    // snapshot inside BatchStore.compact, never from this method's
    // earlier listings: a refresh committing in between must not get its
    // new-space generation re-stamped under the old space)
    // tombstone purge is WINNER-ONLY (see IndexMaintain.compact)
    val won = BatchStore.compact(spark, s"$dir/postings", postingsSchema,
      df => antiTomb(df, dead).sortWithinPartitions(col("cell")),
      upTo, force = tombs.nonEmpty,
      sidecars = snap => Seq(s"_space-${spaceOfSnapshot(spark, dir, snap)}"))
    if (won && folded.nonEmpty) {
      val gen = folded.max
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      tombs.filter(_._3 <= gen).foreach(t => fs.delete(t._1, true))
    }
  }
}
