package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.{IcebergExport, Snapshots}

/** Format-interop operators: the Iceberg v2 metadata projection
  * (reference tables are REAL Iceberg — `src/common/src/iceberg/
  * schemas.rs:189-455`, `table_manager.rs` — so an external engine can
  * open them; graft's CAS snapshots replicate the semantics and
  * [[graft.storage.IcebergExport]] now projects the format).
  *
  * q323 is the row-level conformance gate: it resolves the stored logs
  * table STRICTLY through the exported chain (version-hint →
  * metadata.json → manifest-list Avro → manifest Avro → data files; the
  * walk an external reader performs), aggregates the resolved rows, and
  * rides the manifest-claimed totals (record_count sums, identity
  * partition tuples) along as columns — DuckDB restates all of it from
  * the raw events view, so wrong file sets, wrong stats, or wrong
  * partition values all hash-mismatch. (DuckDB's `iceberg` extension
  * itself is not installable offline; IcebergExportSpec pins the format
  * details the extension would check.)
  */
object InteropOps {
  type Q = (SparkSession, String) => DataFrame

  /** the table layout every fixture below commits its tables into. */
  private def fixtureLayout(base: String) =
    graft.storage.Storage.TableLayout(base, "tenant0", "default")

  /** the layout of the bucketed indexes built over those fixtures. */
  private def indexLayout(base: String) =
    graft.storage.Storage.TableLayout(base, "tenant0", "idx")

  /** exported once per (sf dir, data version): exporting re-reads
    * parquet footers, which bench passes need not repeat. The
    * table is this query's OWN stored layout (same Storage.append
    * path), not the shared storedLogs fixture — exporting writes a
    * `metadata/` dir under the table root, and a shared fixture's plain
    * root reads must never have to know about it. */
  private def icebergLogsLocation(s: SparkSession, dir: String): String =
    fixtureLayout(graft.storage.LocalCache.stored("iceberg_logs", dir) { base =>
      graft.storage.Storage.append(
        graft.storage.Storage.withPartitionCols(
          graft.SignalViews.logsGen2Df(s, dir))
          .repartition(col("date_day"), col("hour")),
        fixtureLayout(base), "logs", alreadyPartitioned = true)
      Snapshots.commit(s, fixtureLayout(base), "logs")
      IcebergExport.export(s, fixtureLayout(base), "logs")
    }).path("logs")

  /** two-version stored-logs fixture for q330, built once per
    * (sf dir, data version) through the REAL storage ops: v1 = days ≤ 29
    * committed; v2 adds the Jan 30 day AND a Jan 10 error-rows backfill
    * (two appends, one commit). */
  private def snapshotDiffFixture(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("snapdiff", dir) { base =>
      val layout = fixtureLayout(base)
      val logs = graft.storage.Storage.withPartitionCols(
        graft.SignalViews.logsGen2Df(s, dir))
      graft.storage.Storage.append(
        logs.filter(col("date_day") <= "2024-01-29")
          .repartition(col("date_day"), col("hour")),
        layout, "logs", alreadyPartitioned = true)
      require(Snapshots.commit(s, layout, "logs") == 1)
      graft.storage.Storage.append(
        logs.filter(col("date_day") === "2024-01-30" ||
          (col("date_day") === "2024-01-10" && col("severity_text") === "error"))
          .repartition(col("date_day"), col("hour")),
        layout, "logs", alreadyPartitioned = true)
      require(Snapshots.commit(s, layout, "logs") == 2)
    }

  /** two-commit documents fixture for q370 (VERDICT r10 #1), built once
    * per (sf dir, data version) through the REAL storage ops:
    *   v1 = the base corpus (docs with doc_id % 3 ≠ 0) committed;
    *   v2 = a delta append carrying, by construction, every dedup class:
    *     fresh rows           doc_id % 3 = 0, own text
    *     exact dups vs base   base docs % 10 = 1, text verbatim, id+10M
    *     exact dups in delta  fresh docs % 5 = 0, text verbatim, id+20M
    *     near dups vs base    base docs % 10 = 3, text + 3 words, id+30M
    * Ingest timestamps are deterministic (fixed epoch + doc_id nanos;
    * the delta lands one day later) — the layout machinery is the real
    * sink, the wall clock is not part of the fixture. */
  private def dedupDeltaFixture(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("deltadedup", dir) { base =>
      val layout = fixtureLayout(base)
      val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val epoch = 1706745600L * 1000000000L
      graft.storage.Storage.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("timestamp", lit(epoch) + col("doc_id")),
        layout, "docs")
      require(Snapshots.commit(s, layout, "docs") == 1)
      val fresh = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val dupVsBase = docs
        .filter(pmod(col("doc_id"), lit(3)) =!= 0 && pmod(col("doc_id"), lit(10)) === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val dupIntra = docs
        .filter(pmod(col("doc_id"), lit(3)) === 0 && pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      val nearVsBase = docs
        .filter(pmod(col("doc_id"), lit(3)) =!= 0 && pmod(col("doc_id"), lit(10)) === 3)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          concat(col("text"), lit(" zulu yankee xray")).as("text"))
      graft.storage.Storage.append(
        fresh.unionByName(dupVsBase).unionByName(dupIntra).unionByName(nearVsBase)
          .withColumn("timestamp", lit(epoch + 86400L * 1000000000L) + col("doc_id")),
        layout, "docs")
      require(Snapshots.commit(s, layout, "docs") == 2)
    }

  /** q379's BUCKETED corpus indexes, materialized once per fixture from
    * the v1 snapshot through [[graft.storage.Storage.writeBucketed]]:
    * the content-hash ledger bucketed on `h`, and the shingle index
    * bucketed on `sh` with the per-doc shingle count DENORMALIZED into
    * every row (so probe-time candidate aggregation carries it via
    * first() — no corpus-sized sizes join at probe time, ever). Bucketed
    * writes hash-cluster + sort at INGEST time; a probe then shuffles
    * only its own (delta) side. Stored once per (fixture, sf dir data
    * version), so an index outlives the snapshot it was built from
    * (retention); a session that lacks the catalog tables re-registers
    * the stored files WITHOUT re-derivation. */
  private def ensureDeltaIndex(s: SparkSession, dir: String, loc: String)
      : (String, String) = {
    def ledger(base: String) = s"hash_ledger_${Integer.toHexString(base.hashCode)}"
    def index(base: String) = s"shingle_idx_${Integer.toHexString(base.hashCode)}"
    val base = graft.storage.LocalCache.stored(s"delta_idx|$loc", dir) { base =>
      val docs = Snapshots.read(s, fixtureLayout(loc), "docs", Some(1))
        .select(col("doc_id"), col("text"))
      val bSh = PipelineOps.deltaShingles(docs)
      val bSize = bSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      graft.storage.Storage.writeBucketed(
        docs.select(md5(col("text")).as("h")).distinct(),
        indexLayout(base), ledger(base), "h", 8)
      graft.storage.Storage.writeBucketed(
        bSh.join(bSize, "doc_id")
          .select(col("doc_id").as("b_id"), col("sh"), col("n_sh").as("n_b")),
        indexLayout(base), index(base), "sh", 8)
    }
    (graft.storage.Storage.registerBucketed(
        s, indexLayout(base), ledger(base), "h STRING", "h", 8),
      graft.storage.Storage.registerBucketed(
        s, indexLayout(base), index(base), "b_id BIGINT, sh STRING, n_b BIGINT", "sh", 8))
  }

  /** q403's STREAM-BUILT twins of [[ensureDeltaIndex]]'s two corpus
    * indexes: the v1 snapshot's documents arrive through 2 real
    * micro-batches feeding BOTH maintainers per batch (one pass over
    * the stream — hash ledger and shingle index stay in lockstep), then
    * compact. The q370/q379 classification over these stores must be
    * row-identical — batch ≡ stream for the whole delta-dedup probe. */
  private def streamedDeltaIndexes(s: SparkSession, dir: String, loc: String)
      : (String, String) = {
    val base = graft.storage.LocalCache.stored(s"delta_idx_stream|$loc", dir) { base =>
      val hdir = s"$base/hash"; val sdir = s"$base/shingle"
      import org.apache.spark.sql.types._
      val stage = s"$base/stage"
      Snapshots.read(s, fixtureLayout(loc), "docs", Some(1))
        .select(col("doc_id"), col("text"))
        .repartition(2, pmod(col("doc_id"), lit(2)))
        .write.mode("overwrite").parquet(stage)
      val stream = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(stage)
      // lockstep dual-store feed — crash between the two appends is
      // covered by the multi-store feed law (LockstepFeed scaladoc /
      // README law 10): torn window per-store consistent, replay heals
      val body = graft.streaming.LockstepFeed.body(
        graft.streaming.LedgerMaintain.maintainBatch(hdir) _,
        graft.streaming.ShingleMaintain.maintainBatch(sdir) _) _
      val q = stream.writeStream.outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(body).start()
      q.awaitTermination()
      graft.streaming.LedgerMaintain.compact(s, hdir)
      graft.streaming.ShingleMaintain.compact(s, sdir)
    }
    (s"$base/hash", s"$base/shingle")
  }

  /** q389's retired-key sidecars for the bucketed dedup indexes: when
    * retention expires corpus rows, the write-time-clustered indexes
    * must stop matching against the retired content WITHOUT a rebuild.
    * The retention job records what it dropped (the audit at
    * `retired_docs/` — written BEFORE the physical drop); the sidecars
    * derive from audit + surviving table and are BUCKETED ON THE SAME
    * KEYS as the indexes they mask, so the anti-join is co-located
    * (exchange-free) exactly like the probe joins:
    *   hash_ledger_dead (h)     — hashes whose EVERY holder retired (a
    *                              hash also held by a survivor stays)
    *   shingle_idx_dead (b_id, sh) — the retired docs' index rows.
    * Stored like [[ensureDeltaIndex]]'s indexes; re-registration in a
    * fresh session binds the stored files, never the retired rows. */
  private def ensureRetentionDead(s: SparkSession, dir: String, loc: String)
      : (String, String) = {
    def deadH(base: String) = s"hash_ledger_dead_${Integer.toHexString(base.hashCode)}"
    def deadSh(base: String) = s"shingle_idx_dead_${Integer.toHexString(base.hashCode)}"
    val base = graft.storage.LocalCache.stored(s"delta_dead|$loc", dir) { base =>
      val doomed = s.read.parquet(s"$loc/retired_docs")
      // survivors = the LIVE table (retention already dropped the
      // doomed partitions; the audit holds what they contained)
      val survivors = s.read.parquet(fixtureLayout(loc).path("docs"))
        .select(col("doc_id"), col("text"))
      graft.storage.Storage.writeBucketed(
        doomed.select(md5(col("text")).as("h")).distinct()
          .join(survivors.select(md5(col("text")).as("h")).distinct(),
            Seq("h"), "left_anti"),
        indexLayout(base), deadH(base), "h", 8)
      graft.storage.Storage.writeBucketed(
        PipelineOps.deltaShingles(doomed)
          .select(col("doc_id").as("b_id"), col("sh")),
        indexLayout(base), deadSh(base), "sh", 8)
    }
    (graft.storage.Storage.registerBucketed(
        s, indexLayout(base), deadH(base), "h STRING", "h", 8),
      graft.storage.Storage.registerBucketed(
        s, indexLayout(base), deadSh(base), "b_id BIGINT, sh STRING", "sh", 8))
  }

  /** minimal JSON string escaper for the drop shards — the decoded text
    * must be byte-identical to the original (its hash and shingles are
    * matched against the stored corpus indexes). */
  private def jesc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.toString
  }

  /** q388's END-TO-END incremental corpus-drop pipeline — the operation
    * a training-data team runs weekly, composed from the round-11
    * primitives and executed ONCE per (dir, data version):
    *
    *   commit 1   the base corpus (doc_id % 3 ≠ 0) lands through
    *              `Storage.append` + `Snapshots.commit`; its bucketed
    *              dedup indexes (hash ledger, shingle index) are
    *              materialized write-time-clustered (q379's fixture);
    *              the BM25 index sees the corpus as batch 0.
    *   the drop   arrives as STORED jsonl.gz shards (q387's landing
    *              shape): multi-record gzipped lines in a parquet
    *              binary column, records carrying the upstream quality
    *              score — except the drifted ones (doc_id % 7 = 0),
    *              which omit it.
    *   pipeline   decode (permissive from_json — drift can't fail the
    *              scan) → QUALITY GATE (quality ≥ 0.5 and ≥ 5 tokens;
    *              a missing score fails closed) → `dedupDeltaFrom`
    *              against the stored bucketed indexes (delta-sized
    *              shuffles only) → survivors appended to the corpus as
    *              commit 2 → BM25 postings/stats delta append (batch 1).
    *
    * The drop reuses the q370 membership rules (fresh / exact dup vs
    * base / exact dup intra / near dup vs base) so the survivor
    * calculus is stated once. The probe (the q-entry) ranks over the
    * maintained index: new docs must be searchable, gated/dropped docs
    * absent — the oracle rebuilds the whole pipeline relationally from
    * raw documents. */
  private def corpusDropFixture(s: SparkSession, dir: String): (String, String) = {
    val loc = graft.storage.LocalCache.stored("corpusdrop", dir) { loc =>
      val layout = fixtureLayout(loc)
      val idx = s"$loc/bm25_idx"
      import s.implicits._
      val epoch = 1706745600L * 1000000000L
      val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // ---- commit 1: the corpus
      graft.storage.Storage.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("timestamp", lit(epoch) + col("doc_id")),
        layout, "docs")
      require(Snapshots.commit(s, layout, "docs") == 1)
      val (ledger, index) = ensureDeltaIndex(s, dir, loc)
      val base = Snapshots.read(s, layout, "docs", Some(1))
        .select(col("doc_id"), col("text"))
      graft.streaming.IndexMaintain.maintainBatch(idx)(base, 0L)
      // ---- the drop: q370's four membership classes, landed as
      // stored jsonl.gz shards
      val fresh = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val dupVsBase = docs
        .filter(pmod(col("doc_id"), lit(3)) =!= 0 && pmod(col("doc_id"), lit(10)) === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val dupIntra = docs
        .filter(pmod(col("doc_id"), lit(3)) === 0 && pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      val nearVsBase = docs
        .filter(pmod(col("doc_id"), lit(3)) =!= 0 && pmod(col("doc_id"), lit(10)) === 3)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          concat(col("text"), lit(" zulu yankee xray")).as("text"))
      // the fifth class: GENUINELY novel texts at ANY replication
      // factor — the id is baked into the text, so an id-shifted 10×
      // replica is a new document, not a dup of its source copy. The
      // `stream` token makes the accepted ones findable by the probe:
      // both weekly outcomes (all-dup AND new-docs-appended) are
      // proven at every scale, where the replica-built 10× fixture
      // previously degenerated to the all-dup outcome alone.
      val salted = docs
        .filter(pmod(col("doc_id"), lit(10)) === 4)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lit("fresh stream arrival notice number "),
            md5(col("doc_id").cast("string").cast("binary")),
            lit(" batch "), col("doc_id").cast("string")).as("text"))
      val delta = fresh.unionByName(dupVsBase).unionByName(dupIntra)
        .unionByName(nearVsBase).unionByName(salted)
      val shards = delta
        .withColumn("shard_id", pmod(col("doc_id"), lit(32)))
        .groupBy(col("shard_id"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("rows"))
        .as[(Long, Seq[(Long, String)])]
        .map { case (sid, rows) =>
          val lines = rows.map { case (did, text) =>
            val sb = new StringBuilder
            sb ++= s"""{"id":$did,"text":"${jesc(text)}""""
            if (did % 7 != 0) sb ++= s""","quality":${(did % 8) * 0.25}"""
            if (did % 5 == 0) sb ++= ""","extra_field":"future schema""""
            sb ++= "}"
            sb.toString
          }
          val bos = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(lines.mkString("\n").getBytes("UTF-8")); gz.close()
          (sid, bos.toByteArray)
        }.toDF("shard_id", "shard")
      graft.storage.Storage.append(
        shards.withColumn("timestamp",
          lit(epoch + 86400L * 1000000000L) + col("shard_id")),
        layout, "drop_shards")
      // ---- the pipeline run: decode → gate → dedup → commit 2 → index
      val recSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("quality",
          org.apache.spark.sql.types.DoubleType)))
      val recs = s.read.parquet(layout.path("drop_shards"))
        .select(col("shard_id"), col("shard"))
        .as[(Long, Array[Byte])]
        .map { case (sid, gz) =>
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(gz))
          (sid, new String(in.readAllBytes(), "UTF-8"))
        }.toDF("shard_id", "txt")
        .select(explode(split(col("txt"), "\n")).as("line"))
        .select(from_json(col("line"), recSchema).as("r"))
        .select(col("r.id").as("doc_id"), col("r.text").as("text"),
          col("r.quality").as("quality"))
      val gated = recs.filter(
        coalesce(col("quality"), lit(-1.0)) >= 0.5 &&
          size(split(col("text"), " ")) >= 5)
      val status = PipelineOps.dedupDeltaFrom(
        gated.select(col("doc_id"), col("text")),
        s.table(ledger), s.table(index))
      val surv = gated
        .join(status.filter(col("status") === "survivor"), Seq("doc_id"))
        .select(col("doc_id"), col("text"))
      graft.storage.Storage.append(
        surv.withColumn("timestamp",
          lit(epoch + 86400L * 1000000000L) + col("doc_id")),
        layout, "docs")
      require(Snapshots.commit(s, layout, "docs") == 2)
      graft.streaming.IndexMaintain.maintainBatch(idx)(surv, 1L)
      // the pipeline's own counters — what the weekly run reports
      recs.agg(count(lit(1)).as("n_delta"))
        .crossJoin(gated.agg(count(lit(1)).as("n_gated")))
        .crossJoin(surv.agg(count(lit(1)).as("n_new_docs")))
        .write.mode("overwrite").parquet(s"$loc/pipeline_stats")
    }
    (loc, s"$loc/bm25_idx")
  }

  /** q389's fixture: the base corpus lands across two days (even
    * doc_id → 2024-02-01, odd → 2024-02-02) and commits; its bucketed
    * indexes are built; then retention expires day 1 THROUGH THE REAL
    * PATH — the job audits the doomed partitions' rows first (the
    * read executes before the drop), derives the dead-key sidecars,
    * and only then deletes the partitions. */
  private def retentionIndexFixture(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("dropret", dir) { loc =>
      val layout = fixtureLayout(loc)
      val epoch = 1706745600L * 1000000000L // 2024-02-01T00:00Z
      val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
      graft.storage.Storage.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("timestamp", lit(epoch) +
            pmod(col("doc_id"), lit(2)) * lit(86400L * 1000000000L) +
            col("doc_id")),
        layout, "docs")
      require(Snapshots.commit(s, layout, "docs") == 1)
      ensureDeltaIndex(s, dir, loc)
      // the retention job: audit the doomed rows, derive the dead-key
      // sidecars, THEN drop the partitions
      s.read.parquet(layout.path("docs"))
        .filter(col("date_day") < "2024-02-02")
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$loc/retired_docs")
      val dropped = graft.storage.Storage.applyRetention(
        s, layout, "docs", "2024-02-02")
      require(dropped == Seq("2024-02-01"),
        s"retention dropped $dropped, expected exactly 2024-02-01")
      ensureRetentionDead(s, dir, loc)
    }

  /** q393's fixture — the NIGHTLY RETENTION SWEEP composed end to end
    * (q388's drop-side twin): documents AND vectors land through the
    * real storage path across two days (even ids → day 1, odd →
    * day 2) with all three index families maintained over them — the
    * BM25 postings store (one batch per day), the frozen-centroid ANN
    * store (one batch per day), and the bucketed dedup indexes (over
    * commit 1). Then ONE retention event drives every delete path:
    * the job audits the doomed partitions (retired_docs, written
    * BEFORE the drop), tombstones the BM25 docs and the ANN vectors,
    * physically drops the day from BOTH tables through applyRetention,
    * derives the bucketed dead-key sidecars from the audit, and
    * compacts both maintained stores so the tombstones apply
    * physically. */
  private def retentionSweepFixture(s: SparkSession, dir: String)
      : (String, String, String, String) = {
    val loc = graft.storage.LocalCache.stored("retsweep", dir) { loc =>
      val layout = fixtureLayout(loc)
      val idx = s"$loc/bm25_idx"; val ann = s"$loc/ann_idx"
      val boot = s"$loc/centroids0"
      val epoch = 1706745600L * 1000000000L // 2024-02-01T00:00Z
      val dayNs = 86400L * 1000000000L
      val docs = graft.Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(col("doc_id"), col("text"))
      graft.storage.Storage.append(
        docs.withColumn("timestamp", lit(epoch) +
          pmod(col("doc_id"), lit(2)) * lit(dayNs) + col("doc_id")),
        layout, "docs")
      require(Snapshots.commit(s, layout, "docs") == 1)
      ensureDeltaIndex(s, dir, loc) // bucketed dedup indexes over commit 1
      // BM25 maintained as the days arrived
      graft.streaming.IndexMaintain.maintainBatch(idx)(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L)
      graft.streaming.IndexMaintain.maintainBatch(idx)(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), 1L)
      // ANN: quantized vectors land + maintain per day against
      // centroids trained over every arrival (training precedes the
      // sweep, exactly like q391)
      val e = graft.Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          v => round(v.cast("double") * 1000000).cast("long")).as("vq"))
        .withColumn("nrm",
          expr("aggregate(vq, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      graft.storage.Storage.append(
        e.withColumn("timestamp", lit(epoch) +
          pmod(col("vec_id"), lit(2)) * lit(dayNs) + col("vec_id")),
        layout, "vecs")
      PipelineOps.ivfCentroids(e).write.mode("overwrite").parquet(boot)
      graft.streaming.AnnMaintain.maintainBatch(ann, boot)(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), 0L)
      graft.streaming.AnnMaintain.maintainBatch(ann, boot)(
        e.filter(pmod(col("vec_id"), lit(2)) === 1), 1L)
      // ---- the sweep: audit → tombstone every index → drop → compact
      s.read.parquet(layout.path("docs"))
        .filter(col("date_day") < "2024-02-02")
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$loc/retired_docs")
      graft.streaming.IndexMaintain.deleteDocs(s, idx,
        s.read.parquet(s"$loc/retired_docs").select(col("doc_id")), 0L)
      graft.streaming.AnnMaintain.deleteVecs(s, ann,
        s.read.parquet(layout.path("vecs"))
          .filter(col("date_day") < "2024-02-02")
          .select(col("vec_id").as("n_id")), 0L)
      val droppedDocs = graft.storage.Storage.applyRetention(
        s, layout, "docs", "2024-02-02")
      val droppedVecs = graft.storage.Storage.applyRetention(
        s, layout, "vecs", "2024-02-02")
      require(droppedDocs == Seq("2024-02-01") &&
        droppedVecs == Seq("2024-02-01"),
        s"sweep dropped $droppedDocs / $droppedVecs, expected 2024-02-01")
      ensureRetentionDead(s, dir, loc) // bucketed dead-key sidecars
      graft.streaming.IndexMaintain.compact(s, idx)
      graft.streaming.AnnMaintain.compact(s, ann)
    }
    (loc, s"$loc/bm25_idx", s"$loc/ann_idx", s"$loc/centroids0")
  }

  val queries: Map[String, Q] = Map(
    // RETENTION-AWARE BUCKETED-INDEX DELETES (the q385 lifecycle for
    // the dedup indexes): retention expired half the corpus; the
    // stored bucketed ledger/shingle indexes are masked by DEAD-KEY
    // sidecar tables bucketed on the SAME keys, so the masking
    // anti-joins are co-located (no corpus-side exchange) and the
    // probe keeps q379's delta-only shuffle shape. A delta doc that
    // duplicates a RETIRED doc must now classify as if that doc never
    // existed — the oracle restates the calculus against the SURVIVING
    // corpus only.
    "q389_dedup_index_retention" -> ((s, dir) => {
      val loc = retentionIndexFixture(s, dir)
      val (ledger, index) = ensureDeltaIndex(s, dir, loc)
      val (deadH, deadSh) = ensureRetentionDead(s, dir, loc)
      val ledgerLive = s.table(ledger)
        .join(s.table(deadH), Seq("h"), "left_anti")
      val indexLive = s.table(index)
        .join(s.table(deadSh), Seq("sh", "b_id"), "left_anti")
      val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .unionByName(docs
          .filter(pmod(col("doc_id"), lit(3)) =!= 0 && pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        .unionByName(docs
          .filter(pmod(col("doc_id"), lit(3)) === 0 && pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
        .unionByName(docs
          .filter(pmod(col("doc_id"), lit(3)) =!= 0 && pmod(col("doc_id"), lit(10)) === 3)
          .select((col("doc_id") + 30000000L).as("doc_id"),
            concat(col("text"), lit(" zulu yankee xray")).as("text")))
      PipelineOps.dedupDeltaFrom(delta, ledgerLive, indexLive)
    }),

    // END-TO-END INCREMENTAL CORPUS DROP (the round-11 primitives
    // composed into the weekly operation): stored jsonl.gz shards →
    // permissive decode → quality gate → delta-vs-corpus dedup against
    // the BUCKETED stored indexes → survivor append (commit 2) → BM25
    // delta maintenance → this probe. New docs must rank (is_new = 1
    // rows present), dropped/gated docs must be ABSENT from the index —
    // the oracle rebuilds every stage relationally, so one wrongly
    // indexed duplicate shifts df/stats and hash-mismatches.
    "q388_corpus_drop_pipeline" -> ((s, dir) => {
      val (loc, idx) = corpusDropFixture(s, dir)
      val layout = fixtureLayout(loc)
      val root = layout.path("docs")
      val v1set = Snapshots.files(s, layout, "docs", 1).toSet
      val newFiles = Snapshots.files(s, layout, "docs", 2)
        .filterNot(v1set.contains).map(rel => s"$root/$rel")
      // a drop where EVERYTHING deduplicated away appends no files —
      // a legitimate weekly outcome (the 10× scale fixture hits it by
      // construction: id-shifted replicas put every drop text into the
      // corpus); the probe then reports is_new = 0 everywhere
      val newIds =
        if (newFiles.isEmpty)
          s.range(0).select(col("id").as("doc_id"), lit(1L).as("is_new"))
        else s.read.option("basePath", root).parquet(newFiles: _*)
          .select(col("doc_id"), lit(1L).as("is_new"))
      val stats = s.read.parquet(s"$loc/pipeline_stats")
      // TWO probe planes: the original-corpus terms (old docs must keep
      // serving), and a term only the drop's novel class carries — at
      // 10× the replica-saturated top-20 of the first plane can't show
      // a new doc, so the second plane is what PROVES the appended docs
      // are searchable at every scale
      graft.streaming.IndexMaintain.bm25(s, idx, Seq("stream", "hash", "big"))
        .unionByName(graft.streaming.IndexMaintain.bm25(s, idx, Seq("arrival")))
        .join(newIds, Seq("doc_id"), "left")
        .withColumn("is_new", coalesce(col("is_new"), lit(0L)))
        .crossJoin(broadcast(stats))
    }),

    // THE NIGHTLY RETENTION SWEEP, COMPOSED (q388's drop-side twin —
    // the operation a platform runs when data ages out): one retention
    // event drives every delete path the index layer has — BM25
    // tombstones (q385), ANN tombstones (q391), bucketed dead-key
    // masks (q389) — followed by compaction of both maintained stores,
    // and ONE probe proves the whole sweep: the BM25 ranking over the
    // surviving index must equal a from-scratch build over the
    // surviving day, riding the sweep's own counters (survivors,
    // retired, fully-dead hashes, live ANN postings) as broadcast
    // 1-row totals the oracle restates relationally.
    "q393_retention_sweep" -> ((s, dir) => {
      val (loc, idx, ann, _) = retentionSweepFixture(s, dir)
      val (deadH, _) = ensureRetentionDead(s, dir, loc)
      val layout = fixtureLayout(loc)
      val counters = s.read.parquet(layout.path("docs"))
        .agg(count(lit(1)).as("n_surviving"))
        .crossJoin(s.read.parquet(s"$loc/retired_docs")
          .agg(count(lit(1)).as("n_retired")))
        .crossJoin(s.table(deadH).agg(count(lit(1)).as("n_dead_hashes")))
        .crossJoin(graft.streaming.AnnMaintain.postings(s, ann)
          .agg(count(lit(1)).as("n_ann_live")))
      graft.streaming.IndexMaintain.bm25(s, idx, Seq("stream", "hash", "big"))
        .crossJoin(broadcast(counters))
    }),

    // the q370 classification against the STORED BUCKETED corpus
    // indexes — the 100 TB probe shape made physical: the hash ledger
    // and shingle index are bucketed (and sorted) on their join keys at
    // write time, so the only exchanges in the probe plan are on the
    // DELTA side (PlanSpec pins the bucketed scans); the corpus is
    // never rescanned or reshuffled per drop. Output (and oracle) are
    // q370's verbatim.
    "q379_dedup_delta_indexed" -> ((s, dir) => {
      val loc = dedupDeltaFixture(s, dir)
      val (ledger, index) = ensureDeltaIndex(s, dir, loc)
      val layout = fixtureLayout(loc)
      val root = layout.path("docs")
      val v1set = Snapshots.files(s, layout, "docs", 1).toSet
      val newFiles = Snapshots.files(s, layout, "docs", 2)
        .filterNot(v1set.contains).map(rel => s"$root/$rel")
      val delta = s.read.option("basePath", root).parquet(newFiles: _*)
        .select(col("doc_id"), col("text"))
      PipelineOps.dedupDeltaFrom(delta, s.table(ledger), s.table(index))
    }),

    // FULLY STREAM-MAINTAINED delta dedup (q379's online half — both
    // corpus indexes now have streaming twins): the hash ledger and
    // shingle index were built by micro-batches of LedgerMaintain +
    // ShingleMaintain in lockstep and compacted; the SAME probe over
    // them must serve q370's classification verbatim. The bucketed
    // batch indexes (q379) stay the exchange-free probe path; this is
    // the always-current twin with the identical answers.
    "q403_dedup_delta_stream_indexed" -> ((s, dir) => {
      val loc = dedupDeltaFixture(s, dir)
      val (hdir, sdir) = streamedDeltaIndexes(s, dir, loc)
      val layout = fixtureLayout(loc)
      val root = layout.path("docs")
      val v1set = Snapshots.files(s, layout, "docs", 1).toSet
      val newFiles = Snapshots.files(s, layout, "docs", 2)
        .filterNot(v1set.contains).map(rel => s"$root/$rel")
      val delta = s.read.option("basePath", root).parquet(newFiles: _*)
        .select(col("doc_id"), col("text"))
      PipelineOps.dedupDeltaFrom(delta,
        graft.streaming.LedgerMaintain.ledger(s, hdir)
          .select(col("h")).distinct(),
        graft.streaming.ShingleMaintain.index(s, sdir))
    }),

    // INCREMENTAL DELTA-VS-CORPUS DEDUP (the single most common 100 TB
    // pipeline operation: a new drop lands, dedup ONLY the delta against
    // the committed corpus — never recompute the corpus). The delta rows
    // are resolved from the MANIFEST FILE-SET DIFFERENCE between the two
    // committed snapshots (q330's incremental-read primitive: only files
    // in v2 and not in v1 are ever read for the delta side), the base
    // corpus from v1's own manifest; [[PipelineOps.dedupDelta]] then
    // classifies every delta row (exact hash anti-join, shingle-Jaccard
    // candidate joins — never base×base work). The oracle restates the
    // fixture's membership rules from raw documents and the full survivor
    // calculus in SQL.
    "q370_dedup_delta" -> ((s, dir) => {
      val loc = dedupDeltaFixture(s, dir)
      val layout = fixtureLayout(loc)
      val root = layout.path("docs")
      val v1 = Snapshots.files(s, layout, "docs", 1)
      val v1set = v1.toSet
      val newFiles = Snapshots.files(s, layout, "docs", 2)
        .filterNot(v1set.contains).map(rel => s"$root/$rel")
      require(newFiles.nonEmpty, "fixture must append files between v1 and v2")
      val base = s.read.option("basePath", root)
        .parquet(v1.map(rel => s"$root/$rel"): _*)
        .select(col("doc_id"), col("text"))
      val delta = s.read.option("basePath", root).parquet(newFiles: _*)
        .select(col("doc_id"), col("text"))
      PipelineOps.dedupDelta(base, delta)
    }),
    // TABLE PROFILER (the Deequ/data-profiling pass a pipeline runs
    // before trusting a new drop): per-column row/null/distinct counts
    // and min/max, computed in ONE scan — a single aggregate produces
    // every stat (Spark expands the multi-distinct into one pass), then
    // stack() pivots the wide row into the (column, stats) report.
    // min/max surface as strings so one report row type covers every
    // column dtype (BIGINT→string renders identically across engines;
    // floats would not, so float columns would report quantized —
    // documents has none). At 100 TB the exact distincts swap for the
    // KMV sketch (q313/q314's discipline); the scan shape is the same.
    "q329_table_profile" -> ((s, dir) => {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      // (r15: a pre-agg spread of the one-split scan measured SLOWER
      // here — the countDistinct expand shuffles right after anyway, so
      // the extra exchange only added latency; left as a plain scan)
      val d = graft.Tables.documents(s, dir)
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(
          count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c"),
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c")))
      val stack = cols.map(c =>
        s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
      d.agg(aggs.head, aggs.tail: _*)
        .select(col("n_rows"), expr(
          s"stack(${cols.size}, $stack) AS (column, n_present, n_distinct, min_str, max_str)"))
        .select(col("column"), col("n_rows"),
          (col("n_rows") - col("n_present")).as("n_null"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }),

    // SNAPSHOT DIFF / INCREMENTAL READ (Iceberg's changelog shape): the
    // rows appended between two committed snapshots, resolved from the
    // MANIFEST FILE-SET DIFFERENCE — the actual incremental-read
    // mechanism: only files in v2's manifest and not in v1's are ever
    // read, so the consumer's cost tracks the delta, not the table (the
    // 100 TB point — an anti-join over both versions would re-scan
    // everything). Per-day appended counts are what an incremental
    // consumer checkpoints on. Removals in this storage design only
    // happen through maintenance that EXPIRES old snapshots (manifests
    // older than a rewrite go stale by design, Snapshots doc) — there
    // is no between-snapshot row delete to report, and the file-level
    // diff would surface one loudly.
    "q330_snapshot_diff" -> ((s, dir) => {
      val loc = snapshotDiffFixture(s, dir)
      val layout = fixtureLayout(loc)
      val root = layout.path("logs")
      val v1 = Snapshots.files(s, layout, "logs", 1).toSet
      val v2 = Snapshots.files(s, layout, "logs", 2)
      val appended = v2.filterNot(v1.contains).map(rel => s"$root/$rel")
      require(appended.nonEmpty, "fixture must append files between v1 and v2")
      s.read.option("basePath", root).parquet(appended: _*)
        .groupBy(col("date_day").cast("string").as("date_day"))
        .agg(count(lit(1)).as("n_appended"))
        .select(col("date_day"), col("n_appended"))
    }),

    "q323_iceberg_export" -> ((s, dir) => {
      val loc = icebergLogsLocation(s, dir)
      val files = IcebergExport.readDataFiles(loc)
      val manifestRows = files.map(_.recordCount).sum
      val manifestPartitions = files
        .map(f => (f.partition("date_day"), f.partition("hour")))
        .distinct.size.toLong
      // the manifest names hundreds of hour-partition files; give the
      // scan an EXPLICIT schema (one footer read) so it never runs
      // schema inference over every file it was just handed — the
      // metadata walk, not the footers, is the source of truth for an
      // Iceberg read
      val schema = s.read.option("basePath", loc)
        .parquet(files.head.path).schema
      s.read.option("basePath", loc).schema(schema)
        .parquet(files.map(_.path): _*)
        .groupBy(col("service_name"))
        .agg(count(lit(1)).as("n_rows"))
        .select(col("service_name"), col("n_rows"),
          lit(manifestRows).as("manifest_rows"),
          lit(manifestPartitions).as("manifest_partitions"))
    })
  )

  // base/delta membership restated from raw documents (the fixture's
  // construction rules), then the shared survivor calculus
  // ([[PipelineOps.dedupDeltaOracleSql]] — one statement of the rule for
  // both engines). Shared verbatim by the bucketed-index probe (q379):
  // the indexes hold exactly the v1 base's hashes/shingles, so the
  // classification plane is identical.
  private val dedupDeltaSql: String =
      s"""WITH basec AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         |deltac AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, text FROM documents
         |  WHERE doc_id % 3 <> 0 AND doc_id % 10 = 1
         |  UNION ALL
         |  SELECT doc_id + 20000000, text FROM documents
         |  WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 30000000, text || ' zulu yankee xray' FROM documents
         |  WHERE doc_id % 3 <> 0 AND doc_id % 10 = 3),
         |${PipelineOps.dedupDeltaOracleSql("basec", "deltac")}
         |SELECT doc_id, status FROM st""".stripMargin

  /** q388's oracle: every pipeline stage rebuilt relationally from raw
    * documents — drop membership, the quality gate (missing score fails
    * closed), the survivor calculus (shared with q370/q379), then the
    * exact fixed-point BM25 over base ∪ survivors, plus the pipeline's
    * own counters. */
  private val corpusDropSql: String =
    s"""WITH basec AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
       |deltac0 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 10000000, text FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id % 10 = 1
       |  UNION ALL
       |  SELECT doc_id + 20000000, text FROM documents
       |  WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 30000000, text || ' zulu yankee xray' FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id % 10 = 3
       |  UNION ALL
       |  SELECT doc_id + 40000000,
       |    'fresh stream arrival notice number '
       |      || md5(CAST(doc_id AS VARCHAR))
       |      || ' batch ' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 10 = 4),
       |gated AS MATERIALIZED (
       |  SELECT doc_id, text FROM deltac0
       |  WHERE doc_id % 7 <> 0
       |    AND doc_id % 8 >= 2
       |    AND len(string_split(text, ' ')) >= 5),
       |${PipelineOps.dedupDeltaOracleSql("basec", "gated")},
       |surv AS MATERIALIZED (
       |  SELECT g.doc_id, g.text FROM gated g
       |  JOIN st ON st.doc_id = g.doc_id WHERE st.status = 'survivor'),
       |corpus AS MATERIALIZED (
       |  SELECT doc_id, text, CAST(0 AS BIGINT) AS is_new FROM basec
       |  UNION ALL
       |  SELECT doc_id, text, CAST(1 AS BIGINT) AS is_new FROM surv),
       |bd AS (
       |  SELECT doc_id, is_new, string_split(text, ' ') AS toks FROM corpus),
       |bdd AS (SELECT doc_id, is_new, CAST(len(toks) AS BIGINT) AS dl, toks
       |        FROM bd),
       |bst AS (
       |  SELECT count(*) AS n_docs,
       |    (CAST(SUM(dl) AS BIGINT) * 1000) // count(*) AS avgdl_fp
       |  FROM bdd),
       |bocc AS (SELECT doc_id, dl, unnest(toks) AS tok FROM bdd),
       |btfs AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM bocc
       |  WHERE tok IN ('stream', 'hash', 'big', 'arrival') GROUP BY 1, 2, 3),
       |bdfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM btfs GROUP BY 1),
       |bsc AS (
       |  SELECT t.doc_id, t.tok, t.tf,
       |    ((2 * (s.n_docs - f.dfc) + 1) * 1000000) // (2 * f.dfc + 1) AS idf_fp,
       |    (1200 * (250 + (750 * ((t.dl * 1000000) // s.avgdl_fp)) // 1000)) // 1000 AS k_fp
       |  FROM btfs t JOIN bdfs f USING (tok) CROSS JOIN bst s),
       |rank1 AS (
       |  SELECT doc_id,
       |    CAST(SUM((idf_fp * tf * 2200) // (tf * 1000 + k_fp)) AS BIGINT)
       |      AS score_fp,
       |    count(*) AS n_terms
       |  FROM bsc WHERE tok IN ('stream', 'hash', 'big')
       |  GROUP BY 1 ORDER BY score_fp DESC, doc_id ASC LIMIT 20),
       |rank2 AS (
       |  SELECT doc_id,
       |    CAST(SUM((idf_fp * tf * 2200) // (tf * 1000 + k_fp)) AS BIGINT)
       |      AS score_fp,
       |    count(*) AS n_terms
       |  FROM bsc WHERE tok = 'arrival'
       |  GROUP BY 1 ORDER BY score_fp DESC, doc_id ASC LIMIT 20),
       |rank AS (
       |  SELECT * FROM rank1 UNION ALL SELECT * FROM rank2),
       |counts AS (
       |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deltac0) AS n_delta,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM gated) AS n_gated,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM surv) AS n_new_docs)
       |SELECT r.doc_id, r.score_fp, r.n_terms, d.is_new,
       |       c.n_delta, c.n_gated, c.n_new_docs
       |FROM rank r
       |JOIN bdd d ON d.doc_id = r.doc_id
       |CROSS JOIN counts c""".stripMargin

  /** q389's oracle: the fixture's base corpus is even/odd-day split and
    * the even day retired, so the surviving corpus is the odd half —
    * the delta calculus restated against it alone. */
  private val retentionDedupSql: String =
    s"""WITH basec AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id % 2 = 1),
       |deltac AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 10000000, text FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id % 10 = 1
       |  UNION ALL
       |  SELECT doc_id + 20000000, text FROM documents
       |  WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 30000000, text || ' zulu yankee xray' FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id % 10 = 3),
       |${PipelineOps.dedupDeltaOracleSql("basec", "deltac")}
       |SELECT doc_id, status FROM st""".stripMargin

  val oracles: Map[String, String] = Map(
    "q389_dedup_index_retention" -> retentionDedupSql,
    // build-then-sweep ≡ never-having-indexed-day-1: the ranking is the
    // shared fixed-point BM25 rebuilt over the survivors; the counters
    // restate the sweep's own audit relationally (dead hashes = retired
    // texts no survivor still holds — the q389 sidecar rule)
    "q393_retention_sweep" ->
      s"""SELECT r.doc_id, r.score_fp, r.n_terms,
         |  c.n_surviving, c.n_retired, c.n_dead_hashes, c.n_ann_live
         |FROM (
         |${PipelineOps.bm25RankSqlWhere("doc_id % 3 <> 0 AND doc_id % 2 = 1")}
         |) r CROSS JOIN (
         |  SELECT
         |    CAST((SELECT count(*) FROM documents
         |          WHERE doc_id % 3 <> 0 AND doc_id % 2 = 1) AS BIGINT)
         |      AS n_surviving,
         |    CAST((SELECT count(*) FROM documents
         |          WHERE doc_id % 3 <> 0 AND doc_id % 2 = 0) AS BIGINT)
         |      AS n_retired,
         |    CAST((SELECT count(*) FROM (
         |      SELECT DISTINCT md5(text) FROM documents
         |      WHERE doc_id % 3 <> 0 AND doc_id % 2 = 0
         |      EXCEPT
         |      SELECT DISTINCT md5(text) FROM documents
         |      WHERE doc_id % 3 <> 0 AND doc_id % 2 = 1)) AS BIGINT)
         |      AS n_dead_hashes,
         |    CAST((SELECT count(*) FROM embeddings WHERE vec_id % 2 = 1)
         |      AS BIGINT) AS n_ann_live
         |) c""".stripMargin,
    "q388_corpus_drop_pipeline" -> corpusDropSql,
    "q370_dedup_delta" -> dedupDeltaSql,
    "q379_dedup_delta_indexed" -> dedupDeltaSql,
    // batch ≡ stream for the whole delta-dedup probe: same oracle
    "q403_dedup_delta_stream_indexed" -> dedupDeltaSql,
    // the appended slice restated from the raw view: day 30 plus the
    // Jan 10 error backfill (UTC day derivation matches withPartitionCols)
    "q330_snapshot_diff" ->
      s"""WITH l AS (${graft.SignalViews.gen2ViewSql}),
         |d AS (
         |  SELECT strftime(make_timestamp(timestamp // 1000), '%Y-%m-%d')
         |    AS date_day, severity_text
         |  FROM l)
         |SELECT date_day, CAST(COUNT(*) AS BIGINT) AS n_appended
         |FROM d
         |WHERE date_day = '2024-01-30'
         |   OR (date_day = '2024-01-10' AND severity_text = 'error')
         |GROUP BY 1""".stripMargin,

    "q329_table_profile" -> {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      cols.map(c =>
        s"""SELECT '$c' AS "column",
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_rows,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
           |    - CAST(COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_str,
           |  CAST(MAX($c) AS VARCHAR) AS max_str
           |FROM documents""".stripMargin).mkString("\nUNION ALL\n")
    },

    // the manifest totals restated from the raw view: total rows, and
    // the distinct (day, hour) tuples the identity partition spec
    // materializes (UTC derivation matches Storage.withPartitionCols)
    "q323_iceberg_export" ->
      s"""WITH l AS (${graft.SignalViews.gen2ViewSql})
         |SELECT service_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM l) AS manifest_rows,
         |  (SELECT CAST(COUNT(DISTINCT strftime(
         |     make_timestamp(timestamp // 1000), '%Y-%m-%d %H')) AS BIGINT)
         |   FROM l) AS manifest_partitions
         |FROM l GROUP BY 1""".stripMargin
  )
}
