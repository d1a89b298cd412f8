package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow

/** Multimodal pipeline entries: opaque binary payloads + typed metadata
  * flow through the real mapPartitions plumbing into REAL decoders
  * (PNG zlib+filters, GIF LZW, baseline JPEG, WAV PCM, MJPEG-AVI) —
  * every oracle below is the arithmetic twin of what the decoder must
  * reconstruct from actual encoded bytes; payloads no decoder accepts
  * surface as null features, never a guess.
  */
object MultimodalOps {
  type Q = (SparkSession, String) => DataFrame

  private def mediaDs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir).select(
      col("doc_id").as("media_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video").as("kind"),
      col("text").cast("binary").as("bytes"),
      map(lit("lang"), col("lang"), lit("source"), col("source")).as("meta"))
      .as[MediaRow]
  }

  /** media table with REAL encoded payloads: every decodable row's bytes
    * are a standards-conformant PNG / GIF / baseline JPEG / PCM WAV /
    * MJPEG AVI whose content follows the same closed formulas as the
    * per-codec queries (q292/q296/q298/q289/q302), so the dispatching
    * decode is oracle-checkable; every 7th doc instead carries its raw
    * text bytes — a payload NO decoder accepts — exercising the honest
    * null-feature path. */
  private def realMediaDs(s: SparkSession, dir: String) = {
    import s.implicits._
    val palette = (0 until 256).map(i =>
      (i << 16) | (((i * 7) % 256) << 8) | ((i * 13) % 256)).toArray
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)]
      .map { case (id, text, lang, source) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val bytes: Array[Byte] =
          if (id % 7 == 0) text.getBytes("UTF-8") // undecodable payload
          else (id % 3) match {
            case 0 => ((id / 3) % 3) match {
              case 0 =>
                val w = (id % 13 + 4).toInt; val h = (id % 11 + 4).toInt
                Multimodal.syntheticPng(w, h,
                  (x, y) => (((id * 31 + x * 7 + y * 13) % 256).toInt,
                             ((id * 17 + x * 3 + y * 5) % 256).toInt,
                             ((id * 7 + x * 11 + y * 3) % 256).toInt),
                  y => ((id + y) % 5).toInt)
              case 1 =>
                val w = (id % 17 + 3).toInt; val h = (id % 7 + 3).toInt
                Multimodal.syntheticGif(w, h, palette,
                  (x, y) => ((id * 23 + x * 5 + y * 11) % 256).toInt)
              case _ =>
                val w = (id % 24 + 8).toInt; val h = (id % 16 + 8).toInt
                graft.multimodal.Jpeg.encodeGray(w, h,
                  (x, y) => ((id * 29 + (x / 8) * 7 + (y / 8) * 3) % 256).toInt)
            }
            case 1 =>
              val samples = (0 until 64).map(j =>
                (((id * 997 + j * 131) % 30001) - 15000).toInt)
              Multimodal.syntheticWavPcm(16000, 1, samples)
            case _ =>
              val w = (id % 16 + 8).toInt; val h = (id % 8 + 8).toInt
              val nf = (id % 4 + 2).toInt
              val frames = (0 until nf).map { f =>
                graft.multimodal.Jpeg.encodeGray(w, h, (x, y) =>
                  ((id * 29 + (x / 8) * 7 + (y / 8) * 3 + f * 19) % 256).toInt)
              }
              graft.multimodal.Avi.syntheticAvi(w, h, 40000L, frames)
          }
        MediaRow(id, kind, bytes, Map("lang" -> lang, "source" -> source))
      }
  }

  /** `table` in the media layout of the stored entry `name` of `dir`:
    * `df` lands once per data version of `dir` through the partitioned
    * append sink (zstd, sorted, date_day/hour layout). */
  private[operators] def storedMediaTable(name: String, dir: String, table: String)
      (df: => DataFrame): String = {
    def layout(base: String) = graft.storage.Storage.TableLayout(base, "default", "media")
    layout(graft.storage.LocalCache.stored(name, dir)(base =>
      graft.storage.Storage.append(df, layout(base), table))).path(table)
  }

  /** the STORED media table: [[realMediaDs]]'s encoded payloads written
    * ONCE per (source dir, data version) through the partitioned append
    * sink ([[graft.storage.Storage.append]]: zstd, sorted, date_day/hour
    * layout) into a `media` table whose `bytes` column is a parquet
    * BINARY column — "multimodal columns" as a STORAGE capability:
    * queries SCAN stored encoded payloads rather than synthesizing them
    * inside the plan. Keyed by the source data version so a rewritten
    * documents table re-materializes; its own isolated cache dir, never
    * a shared fixture root. Ingest timestamps are deterministic (media_id
    * nanos past a fixed epoch) — the layout machinery is the real sink,
    * the wall clock is not part of the fixture. */
  private def storedMediaPath(s: SparkSession, dir: String): String =
    storedMediaTable("media_store", dir, "media") {
      realMediaDs(s, dir).toDF()
        .withColumn("timestamp",
          lit(1706745600L * 1000000000L) + col("media_id"))
    }

  private def storedMediaDs(s: SparkSession, dir: String) = {
    import s.implicits._
    // the feature fold never reads `meta`, so it is PRUNED from the
    // parquet scan (ReadSchema = media_id/kind/bytes) and the encoder
    // fed an empty literal — at 100 TB an unused stored column must
    // never reach the decoder tasks
    s.read.parquet(storedMediaPath(s, dir))
      .select(col("media_id"), col("kind"), col("bytes"),
        typedLit(Map.empty[String, String]).as("meta"))
      .as[MediaRow]
  }

  /** the STORED raw-corpus table (the q345 storage pattern extended to
    * the round-10 codec families): FLAC / Avro OCF / MP3 / ustar TAR /
    * bzip2 MediaWiki payloads — the exact bytes the in-plan round-trip
    * queries (q358/q368/q369/q355/q365) synthesize — written ONCE per
    * (source dir, data version) through the partitioned append sink
    * into a parquet BINARY column, plus `flacfp` rows carrying the q351
    * waveform family FLAC-encoded (losslessly, so the stored decode
    * feeds the same fingerprint plane). Census queries SCAN the stored
    * bytes with the `kind` predicate kept relational (parquet prunes
    * before any payload reaches a decoder task) and reuse the in-plan
    * queries' oracles verbatim — the storage path (binary footer stats,
    * pushdown, decode from disk) is what's under test. */
  private def storedRawPath(s: SparkSession, dir: String): String =
    storedMediaTable("media_raw_store", dir, "media_raw") {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
        .flatMap { case (id, text, lang, source) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String, Array[Byte])]
          if (id % 3 == 1) {
            // q358's FLAC synthesis, byte-identical
            val ch = 1 + (id % 2).toInt
            val n = 600 + (id % 5).toInt * 500
            def l(i: Int): Int = (i % 50) * 80 - 1960 + ((id + i) % 9).toInt
            val inter = new Array[Int](n * ch)
            var i = 0
            while (i < n) {
              if (ch == 1) inter(i) = l(i)
              else { inter(2 * i) = l(i); inter(2 * i + 1) = l(i) + (i % 7) - 3 }
              i += 1
            }
            out += ((id, "flac",
              graft.multimodal.Flac.encode(inter, 16000, ch, 512)))
            // q369's MP3 framing, byte-identical
            val nf = 20 + (id % 10).toInt
            val frames = (0 until nf).map(f =>
              (((id + f) % 14).toInt + 1, (id + 3 * f) % 4 == 0))
            val id3 = s"artist=a$id".getBytes("US-ASCII")
            out += ((id, "mp3", graft.sources.Mp3Frames.encode(
              frames, (id % 3).toInt, id3, id3v1 = id % 2 == 0)))
          }
          if (id % 3 == 0) {
            // q368's Avro OCF, byte-identical
            val fields = Seq(graft.sources.AvroOcf.Field("id", "long"),
              graft.sources.AvroOcf.Field("title", "string"),
              graft.sources.AvroOcf.Field("score", "double"),
              graft.sources.AvroOcf.Field("kept", "boolean"))
            val recs = (0 until 3).map(r => Seq[Any](3 * id + r,
              s"Doc $id r$r", (id % 7) * 0.25 + r, (id + r) % 2 == 0))
            val codec = if (id % 2 == 0) "null" else "deflate"
            out += ((id, "avro",
              graft.sources.AvroOcf.encode("Doc", fields, recs, codec, 2)))
            // the q351 waveform family, FLAC-encoded (lossless — the
            // stored decode reproduces the exact PCM the WAV path sees)
            val g = id / 9 * 9; val role = (id / 3) % 3
            val amp = if (role == 1) 3 else 1
            val samples = Array.tabulate(80) { j =>
              (amp * (((g * 7 + (g % 101) * j + j * 13 + (j * j) % 17) % 201) - 100) +
                (if (role == 2 && j >= 32) (g + j) % 5 - 2 else 0L)).toInt
            }
            out += ((id, "flacfp",
              graft.multimodal.Flac.encode(samples, 8000, 1, 512)))
          }
          // q355's TAR synthesis, byte-identical (every doc)
          val meta = s"id=$id\nlang=$lang\nsource=$source\n"
          out += ((id, "tar", graft.sources.Tar.encode(Seq(
            ("corpus/", Array.emptyByteArray, true),
            (s"corpus/doc$id.txt", text.getBytes("UTF-8"), false),
            (s"corpus/doc$id.meta", meta.getBytes("UTF-8"), false)))))
          // q365's bzip2 MediaWiki dump, byte-identical
          val t = text.replaceAll("[^ -~]", "").take(300)
          if (t.nonEmpty) {
            val esc = t.replace("&", "&amp;").replace("<", "&lt;")
              .replace(">", "&gt;")
            val xml =
              s"""<mediawiki>
                 |  <page><title>Doc $id</title><ns>0</ns><id>$id</id><revision><id>${2 * id + 1}</id><text bytes="${t.length}">$esc</text></revision></page>
                 |  <page><title>Talk:Doc $id</title><ns>1</ns><id>${id + 1}</id><revision><id>${2 * id + 2}</id><text>reply &amp; ack $id</text></revision></page>
                 |</mediawiki>""".stripMargin
            out += ((id, "wiki",
              graft.sources.Bzip2.compress(xml.getBytes("UTF-8"), 1)))
          }
          out.toSeq
        }.toDF("media_id", "kind", "bytes")
        .withColumn("timestamp",
          lit(1706745600L * 1000000000L) + col("media_id"))
    }

  /** one stored-scan kind, pruned relationally: only (media_id, bytes)
    * of the requested `kind` ever cross the encoder boundary. */
  private def storedRawKind(s: SparkSession, dir: String, kind: String) =
    s.read.parquet(storedRawPath(s, dir))
      .where(col("kind") === kind)
      .select(col("media_id"), col("bytes"))

  /** q390's video fixture: each lane doc (doc_id % 3 == 1) becomes one
    * REAL MPEG-1 sequence (1 I + 3 P pictures, 64×64 = 4×4 macroblocks)
    * whose content translates one macroblock right per frame behind an
    * intra refresh column — q362's motion scheme over GROUP-determined
    * content, so the replica roles form near-dup cliques: role 0 the
    * original, role 1 a uniform brightness lift (+8 — difference signs,
    * and therefore the perceptual hash, are INVARIANT under a uniform
    * offset), role 2 a small last-frame edit (the f=3 refresh column
    * re-authored, flipping at most two hash bits). MB-flat intra blocks
    * keep the IDCT exact (q362's closed-form trick), so the oracle can
    * restate every reconstructed frame arithmetically. */
  /** the shared MPEG-1 frame builder behind q390's corpus and q392's
    * delta drop: group-`g` content (gradient mixing constant `mix`)
    * translating one MB right per frame behind an intra refresh column,
    * uniformly lifted by `off`, with `lastEdit(by)` added to the f=3
    * refresh column (0 = untouched). The content polynomial is
    * QUADRATIC in the translated column (adjacent-cell differences vary
    * with cell AND group, so gradient-sign patterns are diverse across
    * groups — distinct groups hash apart instead of collapsing into one
    * wrap-dominated sign plane). */
  /** the content polynomial shared by the frame builder and the
    * delta-class constructions (the oracle restates it verbatim). */
  private def videoBase(g: Long, mix: Int, u: Int, by: Int): Int = {
    val u7 = ((u % 7) + 7) % 7
    (16L + (13L * u7 * u7 + u7.toLong * ((g % 97) + mix) + 29L * by +
      by.toLong * u7 * ((g % 89) % 13 + 3) +
      (g % 101) * (by + 2) + g * 7) % 224).toInt
  }

  private def videoFrames(g: Long, mix: Int, off: Int, lastEdit: Int => Int)
      : Seq[graft.multimodal.Mpeg1.FramePlan] = {
    import graft.multimodal.Mpeg1.{FramePlan, MbIntra, MbMc}
    def base(u: Int, by: Int): Int = videoBase(g, mix, u, by)
    FramePlan(intra = true,
      (bx, by) => MbIntra(base(bx, by) + off)) +:
      (1 to 3).map { f =>
        FramePlan(intra = false, (bx, by) =>
          if (bx == 0) MbIntra(base(bx - f, by) + off +
            (if (f == 3) lastEdit(by) else 0))
          else MbMc(-16, 0))
      }
  }

  private[graft] def videoPlan(id: Long): (Int, Int, Seq[graft.multimodal.Mpeg1.FramePlan]) = {
    val g = id / 9 * 9; val role = (id / 3) % 3
    (64, 64, videoFrames(g, mix = 7, off = if (role == 1) 8 else 0,
      lastEdit = if (role == 2) by => by % 3 else _ => 0))
  }

  /** q392's delta drop, one new video per corpus lane doc (delta ids
    * shift by +50,000,000): against each role-0 corpus doc an EXACT
    * re-encode (brightness +4 — the gradient-sign fingerprint is
    * invariant), against each role-1 doc a NEAR duplicate (the f=3
    * refresh cell at row 1 re-authored to the OTHER side of its right
    * neighbor, so exactly ONE hash bit flips — every near delta is
    * deterministically near, never accidentally exact), against each
    * role-2 doc genuinely NEW content (a different gradient mixing
    * plane). */
  private[graft] def deltaVideoPlan(did: Long): (Int, Int, Seq[graft.multimodal.Mpeg1.FramePlan]) = {
    val id = did - 50000000L
    val g = id / 9 * 9; val cls = (id / 3) % 3
    cls match {
      case 0 => (64, 64, videoFrames(g, mix = 7, off = 4, _ => 0))
      case 1 =>
        // the f=3 refresh column has u = -3 (u7 = 4); its right
        // neighbor reconstructs u = -2 (u7 = 5). Target the row-1 cell
        // across the sign boundary: 250 kills an up-gradient (right
        // neighbor ≤ 239 < 250), 1 creates one (right neighbor ≥ 16)
        val right = videoBase(g, 7, -2, 1)
        val left = videoBase(g, 7, -3, 1)
        val target = if (right > left) 250 else 1
        (64, 64, videoFrames(g, mix = 7, off = 0,
          by => if (by == 1) target - left else 0))
      case _ => (64, 64, videoFrames(g, mix = 19, off = 0, _ => 0))
    }
  }

  /** the STORED video table (the q372 storage pattern for the
    * inter-frame codec): every lane doc's MPEG-1 bytes land ONCE per
    * (source dir, data version) through the partitioned append sink as
    * a parquet BINARY column; q390 scans them back off disk. */
  private def storedVideoPath(s: SparkSession, dir: String): String =
    storedMediaTable("media_video_store", dir, "media_video") {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val (w, h, frames) = videoPlan(id)
          (id, "mpeg", graft.multimodal.Mpeg1.encode(w, h, frames))
        }.toDF("media_id", "kind", "bytes")
        .withColumn("timestamp",
          lit(1706745600L * 1000000000L) + col("media_id"))
    }

  /** H.264 intra-only encode plan (the q390 group/role structure for the
    * %3==0 cohort): 64×48, 4 IDR frames, per-MB flat luma from a closed
    * formula — role 0 the group plane, role 1 a +4 brightness lift
    * (gradient signs invariant → near-dup), role 2 re-authored. MB
    * class walks I_4x4 and all three I_16x16 prediction modes. */
  private[graft] def h264Plan(id: Long)
      : (Int, Int, Seq[graft.multimodal.H264.FramePlan]) = {
    import graft.multimodal.H264
    val g = id / 9 * 9; val role = (id / 3) % 3
    def v(f: Int, bx: Int, by: Int): Int =
      if (role == 2) (16 + (17 * bx * bx + bx * ((g % 89) + 5) +
        31 * by + by * bx * ((g % 83) % 11 + 2) + (g % 103) * (by + 3) +
        g * 13 + f * (17 + (g % 5))) % 224).toInt
      else (16 + (13 * bx * bx + bx * ((g % 97) + 7) + 29 * by +
        by * bx * ((g % 89) % 13 + 3) + (g % 101) * (by + 2) + g * 7 +
        f * (11 + (g % 3))) % 224).toInt + (if (role == 1) 4 else 0)
    val frames = (0 until 4).map { f =>
      // even groups ship frame 2 as an ALL-SKIP P slice (the
      // static-scene inter class): it reconstructs as frame 1 verbatim
      if (g % 2 == 0 && f == 2)
        H264.FramePlan((_, _) => H264.MbI16(0), skipAll = true)
      else H264.FramePlan { (bx, by) =>
        (bx + by + f) % 4 match {
          case 0 => H264.MbI4(v(f, bx, by))
          case 1 if by > 0 => H264.MbI16(v(f, bx, by), mode = 0)
          case 2 if bx > 0 => H264.MbI16(v(f, bx, by), mode = 1)
          case _ => H264.MbI16(v(f, bx, by), mode = 2)
        }
      }
    }
    (64, 48, frames)
  }

  /** split count for a stored-media write. The stored-bytes scan is the
    * decode's split source (parquet never splits one binary cell across
    * tasks), so the file count decides decode parallelism for the life
    * of the store. A literal (16 in round 14) was right for one box at
    * one SF and wrong everywhere else; the count is instead derived:
    * every executor slot gets a file (`defaultParallelism` floor, so a
    * bigger cluster reading the same store still saturates at write
    * time), no file holds more than `rowsPerFile` decodable items (the
    * store-size ceiling — at 100 TB the file count grows with the data,
    * not the writer's core count), and never more files than rows (a
    * tiny corpus must not write empty files). */
  private def mediaSplits(s: SparkSession, nRows: Long,
      rowsPerFile: Long = 4096): Int = {
    val par = s.sparkContext.defaultParallelism.toLong
    val bySize = (nRows + rowsPerFile - 1) / rowsPerFile
    math.max(1L, math.min(nRows, math.max(par, bySize))).toInt
  }

  private def storedH264Path(s: SparkSession, dir: String): String =
    storedMediaTable("media_h264_store", dir, "media_h264") {
      import s.implicits._
      val ids = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"))
      val k = mediaSplits(s, ids.count())
      ids.as[Long]
        .map { id =>
          val (w, h, frames) = h264Plan(id)
          (id, "h264", graft.multimodal.H264.encode(w, h, frames))
        }.toDF("media_id", "kind", "bytes")
        .withColumn("timestamp",
          lit(1706745600L * 1000000000L) + col("media_id"))
        // the stored-bytes scan is the decode's split source
        .repartition(k, pmod(col("media_id"), lit(k)))
    }

  /** H.264 MOTION encode plan (the %3==2 cohort): a MOVING scene — the
    * top MB row static, lower rows sliding right one MB per frame (the
    * leftmost column replicates through the edge-clamped reference
    * fetch), and a flat residual landing on row 1 in the last frame.
    * Role 0 intra-codes every frame (4 IDRs of the per-frame planes);
    * role 1 encodes THE SAME planes as I + 3 motion-compensated P
    * frames (PSkip top row, PMove(−16, 0) movers, the residual as CBP-15
    * TC≤1 blocks) — different bytes, different slice types, identical
    * decoded planes: the translated duplicate q405 must still catch.
    * Role 2 re-authors the scene (no dup). */
  private[graft] def h264MotionPlan(id: Long)
      : (Int, Int, Seq[graft.multimodal.H264.FramePlan]) = {
    import graft.multimodal.H264
    val g = id / 9 * 9; val role = (id / 3) % 3
    def base(bx: Int, by: Int): Int =
      if (role == 2) (25 + (23 * bx * bx + bx * ((g % 77) + 6) + 33 * by +
        by * bx * ((g % 71) % 7 + 3) + (g % 105) * (by + 1) + g * 9) % 176).toInt
      else (25 + (11 * bx * bx + bx * ((g % 91) + 4) + 27 * by +
        by * bx * ((g % 85) % 9 + 2) + (g % 95) * (by + 2) + g * 3) % 176).toInt
    def dl(bx: Int): Int = 1 + ((g / 9 + bx) % 7).toInt
    def v(f: Int, bx: Int, by: Int): Int =
      if (by == 0) base(bx, 0)
      else base(math.max(bx - f, 0), by) +
        (if (f == 3 && by == 1) dl(bx) else 0)
    val frames =
      if (role == 1)
        H264.FramePlan((bx, by) => H264.MbI16(v(0, bx, by))) +:
          (1 to 3).map { f =>
            H264.FramePlan((_, _) => H264.MbI16(0), pmb = Some((bx, by) =>
              if (by == 0) H264.PSkip
              else H264.PMove(-16, 0,
                if (f == 3 && by == 1) dl(bx) else 0)))
          }
      else (0 until 4).map(f =>
        H264.FramePlan((bx, by) => H264.MbI16(v(f, bx, by))))
    (64, 48, frames)
  }

  /** H.264 CABAC encode plan (the %9==0 sub-cohort): [[h264Plan]]'s
    * group/role scene structure, all four frames intra (CABAC P slices
    * are out of subset), ENTROPY-CODED WITH CABAC — the arithmetic
    * engine, context models and binarizations of clause 9.3 (the
    * init-constant cut is stated in [[graft.multimodal.H264Cabac]]).
    * Same closed plane formula as the CAVLC store, so the oracle pins
    * the whole arithmetic path: one mis-decoded bin anywhere shifts a
    * level and hash-mismatches the census. */
  private[graft] def h264CabacPlan(id: Long)
      : (Int, Int, Seq[graft.multimodal.H264.FramePlan]) = {
    import graft.multimodal.H264
    val g = id / 9 * 9; val role = (id / 3) % 3
    def v(f: Int, bx: Int, by: Int): Int =
      if (role == 2) (16 + (17 * bx * bx + bx * ((g % 89) + 5) +
        31 * by + by * bx * ((g % 83) % 11 + 2) + (g % 103) * (by + 3) +
        g * 13 + f * (17 + (g % 5))) % 224).toInt
      else (16 + (13 * bx * bx + bx * ((g % 97) + 7) + 29 * by +
        by * bx * ((g % 89) % 13 + 3) + (g % 101) * (by + 2) + g * 7 +
        f * (11 + (g % 3))) % 224).toInt + (if (role == 1) 4 else 0)
    val frames = (0 until 4).map { f =>
      H264.FramePlan { (bx, by) =>
        (bx + by + f) % 4 match {
          case 0 => H264.MbI4(v(f, bx, by))
          case 1 if by > 0 => H264.MbI16(v(f, bx, by), mode = 0)
          case 2 if bx > 0 => H264.MbI16(v(f, bx, by), mode = 1)
          case _ => H264.MbI16(v(f, bx, by), mode = 2)
        }
      }
    }
    (64, 48, frames)
  }

  private def storedH264CabacPath(s: SparkSession, dir: String): String =
    storedMediaTable("media_h264c_store", dir, "media_h264c") {
      import s.implicits._
      val ids = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(9)) === 0)
        .select(col("doc_id"))
      val k = mediaSplits(s, ids.count())
      ids.as[Long]
        .map { id =>
          val (w, h, frames) = h264CabacPlan(id)
          (id, "h264",
            graft.multimodal.H264.encode(w, h, frames, cabac = true))
        }.toDF("media_id", "kind", "bytes")
        .withColumn("timestamp",
          lit(1706745600L * 1000000000L) + col("media_id"))
        // the stored-bytes scan is the decode's split source
        .repartition(k, pmod(col("media_id"), lit(k)))
    }

  private def storedH264MotionPath(s: SparkSession, dir: String): String =
    storedMediaTable("media_h264p_store", dir, "media_h264p") {
      import s.implicits._
      val ids = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id"))
      val k = mediaSplits(s, ids.count())
      ids.as[Long]
        .map { id =>
          val (w, h, frames) = h264MotionPlan(id)
          (id, "h264", graft.multimodal.H264.encode(w, h, frames))
        }.toDF("media_id", "kind", "bytes")
        .withColumn("timestamp",
          lit(1706745600L * 1000000000L) + col("media_id"))
        // the stored-bytes scan is the decode's split source
        .repartition(k, pmod(col("media_id"), lit(k)))
    }

  /** q400's CROSS-CODEC store: the same flat-MB scene planes land once
    * as MPEG-1 (role 0) and once as H.264 (role 1) — byte streams from
    * two different codecs whose DECODED planes are pel-identical, the
    * shape a crawl corpus takes when content is re-encoded; role 2 is a
    * re-authored H.264 scene. Both encoders reconstruct flat MBs
    * exactly, so the dedup fingerprint (and the oracle) is one closed
    * formula regardless of codec. */
  private[graft] def crossCodecPlane(id: Long)(f: Int, bx: Int, by: Int): Int = {
    val g = id / 9 * 9; val role = (id / 3) % 3
    if (role == 2) (20 + (19 * bx * bx + bx * ((g % 79) + 3) + 37 * by +
      by * bx * ((g % 73) % 7 + 2) + (g % 107) * (by + 2) + g * 11 +
      f * (13 + (g % 7))) % 216).toInt
    else (20 + (11 * bx * bx + bx * ((g % 93) + 5) + 23 * by +
      by * bx * ((g % 87) % 11 + 2) + (g % 99) * (by + 4) + g * 5 +
      f * (7 + (g % 9))) % 216).toInt
  }

  private def storedCrossCodecPath(s: SparkSession, dir: String): String =
    storedMediaTable("media_xcodec_store", dir, "media_xcodec") {
      import s.implicits._
      val ids = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"))
      val k = mediaSplits(s, ids.count())
      ids.as[Long]
        .map { id =>
          val role = (id / 3) % 3
          val v = crossCodecPlane(id) _
          if (role == 0) {
            val frames = (0 until 4).map(f =>
              graft.multimodal.Mpeg1.FramePlan(intra = true,
                (bx, by) => graft.multimodal.Mpeg1.MbIntra(v(f, bx, by))))
            (id, "mpeg", graft.multimodal.Mpeg1.encode(64, 48, frames))
          } else {
            val frames = (0 until 4).map(f =>
              graft.multimodal.H264.FramePlan((bx, by) =>
                graft.multimodal.H264.MbI16(v(f, bx, by))))
            (id, "h264", graft.multimodal.H264.encode(64, 48, frames))
          }
        }.toDF("media_id", "kind", "bytes")
        .withColumn("timestamp",
          lit(1706745600L * 1000000000L) + col("media_id"))
        // the stored-bytes scan is the decode's split source
        .repartition(k, pmod(col("media_id"), lit(k)))
    }

  /** codec-dispatching luma decode for the cross-codec fingerprint. */
  private def lumaFrames(kind: String, bytes: Array[Byte])
      : (Int, Vector[Array[Int]]) = kind match {
    case "mpeg" =>
      val d = graft.multimodal.Mpeg1.decode(bytes).get
      (d.width, d.frames.map(_.y))
    case _ =>
      val d = graft.multimodal.H264.decode(bytes).get
      (d.width, d.frames.map(_.y))
  }

  /** q401's probe plane: for most groups the CORPUS scene (the role-0/1
    * formula of [[crossCodecPlane]]); every third group ((g/9) % 3 == 2)
    * is re-authored — those probes must classify `new`. */
  private[graft] def crossCodecProbePlane(pid: Long)(f: Int, bx: Int, by: Int): Int = {
    val id = pid - 70000000L
    val g = id / 9 * 9
    if ((id / 9) % 3 == 2)
      (24 + (23 * bx * bx + bx * ((g % 71) + 9) + 41 * by +
        by * bx * ((g % 67) % 9 + 4) + (g % 109) * (by + 5) + g * 17 +
        f * (19 + (g % 11))) % 208).toInt
    else crossCodecPlane(g)(f, bx, by) // g is a role-0 id: the scene plane
  }

  /** q401's MAINTAINED cross-codec index, through a CODEC MIGRATION:
    * the mixed-codec fingerprints land as batch 0 of a [[BandMaintain]]
    * store; the MPEG originals (role 0) are then RETIRED — the
    * transcode-and-drop-originals migration a long-lived corpus runs —
    * via coverage-bounded tombstones, applied physically by compaction.
    * Dedup continuity must hold: content whose MPEG encoding was
    * deleted still dedups through its H.264 twin. */
  private def crossCodecIndexStore(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("xcodec_idx", dir) { base =>
      val store = s"$base/store"
      import s.implicits._
      val fps = s.read.parquet(storedCrossCodecPath(s, dir))
        .select(col("media_id"), col("kind"), col("bytes"))
        .as[(Long, String, Array[Byte])]
        .map { case (id, kind, bytes) =>
          val (width, frames) = lumaFrames(kind, bytes)
          val bands = Array.tabulate(4) { f =>
            val y = frames(f)
            var band = 0L
            for (by <- 0 until 3; c <- 0 until 3) {
              val l = y((by * 16 + 8) * width + c * 16 + 8)
              val r = y((by * 16 + 8) * width + (c + 1) * 16 + 8)
              if (r > l) band |= 1L << (by * 3 + c)
            }
            band
          }
          (id, bands(0), bands(1), bands(2), bands(3),
            bands.zipWithIndex.map { case (b, f) => b << (f * 15) }
              .reduce(_ | _))
        }.toDF("doc_id", "b1", "b2", "b3", "b4", "fp")
      graft.streaming.BandMaintain.maintainBatch(store)(fps, 0L)
      // the migration: retire every MPEG original (role 0 ⇔ id%9==0)
      graft.streaming.BandMaintain.deleteDocs(s, store,
        fps.filter(pmod(col("doc_id"), lit(9)) === 0)
          .select(col("doc_id")), 0L)
      graft.streaming.BandMaintain.compact(s, store)
    } + "/store"

  /** decode a stored H.264 payload and hash each reconstructed frame's
    * MB grid into a 9-bit gradient-sign band (center-sampled 16×16
    * blocks, horizontal neighbor signs — the [[videoFp]] shape on the
    * 4×3 grid); four frame bands pack into one fingerprint. */
  private def h264Fp(bytes: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val d = graft.multimodal.H264.decode(bytes).get
    val bands = Array.tabulate(4) { f =>
      val y = d.frames(f).y
      var band = 0L
      for (by <- 0 until 3; c <- 0 until 3) {
        val l = y((by * 16 + 8) * d.width + c * 16 + 8)
        val r = y((by * 16 + 8) * d.width + (c + 1) * 16 + 8)
        if (r > l) band |= 1L << (by * 3 + c)
      }
      band
    }
    val fp = bands.zipWithIndex.map { case (b, f) => b << (f * 15) }
      .reduce(_ | _)
    (bands(0), bands(1), bands(2), bands(3), fp)
  }

  /** per-frame perceptual hash over the DECODED pictures (the video leg
    * of the near-dup family): motion compensation reconstructs frames
    * 1–3, each 16×16 macroblock's luma is sampled at its center
    * (MB-flat content — the sample IS the block value), horizontal
    * neighbor differences sign into one 12-bit band per frame (the
    * dHash shape over the macroblock grid), and the four frame bands
    * pack into a 60-bit fingerprint — the frame-sampled signature a
    * video-corpus dedup keys on. Shares q371's band/cluster machinery:
    * columns (doc_id, b1..b4, fp). */
  /** decode an MPEG-1 payload and hash each reconstructed frame's
    * macroblock grid into a 12-bit gradient-sign band (sampling each
    * 16×16 block's luma at its center — MB-flat content, the sample IS
    * the block value); returns (b1..b4, packed 60-bit fp). */
  private def videoFp(bytes: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val d = graft.multimodal.Mpeg1.decode(bytes).get
    val bands = Array.tabulate(4) { f =>
      val y = d.frames(f).y
      var band = 0L
      for (by <- 0 until 4; c <- 0 until 3) {
        val l = y((by * 16 + 8) * d.width + c * 16 + 8)
        val r = y((by * 16 + 8) * d.width + (c + 1) * 16 + 8)
        if (r > l) band |= 1L << (by * 3 + c)
      }
      band
    }
    val fp = bands.zipWithIndex.map { case (b, f) => b << (f * 15) }
      .reduce(_ | _)
    (bands(0), bands(1), bands(2), bands(3), fp)
  }

  // private[graft]: PlanSpec pins the kind pushdown + pruned ReadSchema
  // on THIS frame — the plan that executes when audioClusters
  // checkpoints it (the final q390 plan reads the checkpointed RDD, so
  // the parquet scan is no longer visible there)
  private[graft] def videoFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the kind predicate stays RELATIONAL (pushed to the parquet scan)
    // and only (media_id, bytes) cross the encoder boundary; the
    // append-sink files give the decode its splits (measured: a decode
    // repartition changes nothing — the cost is the per-row inter-frame
    // decode itself, scan-bound by design)
    s.read.parquet(storedVideoPath(s, dir))
      .where(col("kind") === "mpeg")
      .select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val (b1, b2, b3, b4, fp) = videoFp(bytes)
        (id, b1, b2, b3, b4, fp)
      }.toDF("doc_id", "b1", "b2", "b3", "b4", "fp")
  }

  /** q392's arriving drop, fingerprinted in flight: the delta videos
    * encode → decode → hash inside the probe plan (new data has no
    * stored copy yet — the corpus side is what must never be re-read). */
  private def deltaVideoFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val did = id + 50000000L
        val (w, h, frames) = deltaVideoPlan(did)
        val (b1, b2, b3, b4, fp) =
          videoFp(graft.multimodal.Mpeg1.encode(w, h, frames))
        (did, b1, b2, b3, b4, fp)
      }.toDF("did", "b1", "b2", "b3", "b4", "fp")
  }

  /** q394's probe drop — the SECOND drop, arriving after the index has
    * lived through an append and a retention sweep (probe ids shift by
    * +90,000,000): per role-0/1 lane doc an exact re-encode of the
    * group's CORPUS content (mix 7, brightness +12 — sign-invariant),
    * so its classification proves the retention MASK (an expired
    * group's probe flips to `new`; a surviving group still serves, with
    * dup_of = the surviving holder); per role-2 lane doc an exact
    * re-encode of the group's DROP-1 SURVIVOR content (mix 19,
    * brightness +4), so its classification proves the APPEND (the
    * survivor serves as `exact` with dup_of = its +50M delta id). */
  private[graft] def probeVideoPlan(pid: Long)
      : (Int, Int, Seq[graft.multimodal.Mpeg1.FramePlan]) = {
    val id = pid - 90000000L
    val g = id / 9 * 9; val role = (id / 3) % 3
    if (role == 2) (64, 64, videoFrames(g, mix = 19, off = 4, _ => 0))
    else (64, 64, videoFrames(g, mix = 7, off = 12, _ => 0))
  }

  private def probeVideoFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val pid = id + 90000000L
        val (w, h, frames) = probeVideoPlan(pid)
        val (b1, b2, b3, b4, fp) =
          videoFp(graft.multimodal.Mpeg1.encode(w, h, frames))
        (pid, b1, b2, b3, b4, fp)
      }.toDF("did", "b1", "b2", "b3", "b4", "fp")
  }

  /** explode (id, b1..b4, fp) fingerprints into band-key rows
    * (did, dfp, bk) — the probe side of every band-index join. */
  private def bandRows(fps: DataFrame, idCol: String): DataFrame =
    fps.select(col(idCol).as("did"), col("fp").as("dfp"), explode(array(
        struct(lit(0L).as("f"), col("b1").as("band")),
        struct(lit(1L).as("f"), col("b2").as("band")),
        struct(lit(2L).as("f"), col("b3").as("band")),
        struct(lit(3L).as("f"), col("b4").as("band")))).as("e"))
      .select(col("did"), col("dfp"),
        (col("e.f") * 32768 + col("e.band")).as("bk"))

  /** the STORED corpus band index behind q392 (the q379 discipline for
    * perceptual hashes): every corpus video's four frame bands land ONCE
    * as (bk = f·2¹⁵ + band, doc_id, fp) rows, write-time CLUSTERED on
    * the band key — at probe time the index scan is exchange-free and
    * only the delta's rows shuffle. Corpus videos are decoded at index
    * BUILD time only; re-registration in a fresh session binds the
    * on-disk bucketed layout without re-deriving a byte. */
  private def videoBandIndex(s: SparkSession, dir: String): DataFrame = {
    def layout(base: String) = graft.storage.Storage.TableLayout(base, "tenant0", "vidx")
    def table(base: String) =
      s"video_band_idx_${Integer.toHexString(base.hashCode & 0x7fffffff)}"
    val base = graft.storage.LocalCache.stored("video_band_idx", dir) { base =>
      val fps = videoFingerprints(s, dir)
      val bands = fps.select(col("doc_id"), col("fp"), explode(array(
          struct(lit(0L).as("f"), col("b1").as("band")),
          struct(lit(1L).as("f"), col("b2").as("band")),
          struct(lit(2L).as("f"), col("b3").as("band")),
          struct(lit(3L).as("f"), col("b4").as("band")))).as("e"))
        .select((col("e.f") * 32768 + col("e.band")).as("bk"),
          col("doc_id"), col("fp"))
      graft.storage.Storage.writeBucketed(bands, layout(base), table(base), "bk", 8)
    }
    s.table(graft.storage.Storage.registerBucketed(s, layout(base), table(base),
      "bk BIGINT, doc_id BIGINT, fp BIGINT", "bk", 8))
  }

  /** q394's MAINTAINED video band index — the full lifecycle the text
    * (q379/q389) and vector (q380/q391) indexes have, for the video
    * modality, materialized once per (dir, data version):
    *
    *   build      the corpus band index lands write-time clustered on
    *              bk (its OWN store — q390/q392's shared fixture is
    *              never mutated by a lifecycle test);
    *   append     drop 1 (q392's delta) classifies against the index;
    *              its SURVIVORS (class `new`) append their band rows as
    *              a second bucketed table with the SAME key — the index
    *              grows without re-fingerprinting (or even re-reading)
    *              the corpus;
    *   retention  a sweep expires every third replica group
    *              ((doc_id/9) % 3 = 0 — an age cohort); the audit rows
    *              land as a dead-key sidecar bucketed on the SAME key
    *              (q389's discipline), so the mask anti-join is
    *              co-located with the index scan, exchange-free.
    *
    * Probes read (corpus ⟕anti dead) ∪ delta; drop-1 appends are new
    * arrivals, not part of the expired cohort, so they stay live.
    * Returns (corpus, delta, dead) as catalog-bucketed tables. */
  private def videoLifecycleIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def layout(base: String) = graft.storage.Storage.TableLayout(base, "tenant0", "vlx")
    def table(base: String, part: String) =
      s"video_lx_${part}_${Integer.toHexString(base.hashCode & 0x7fffffff)}"
    val base = graft.storage.LocalCache.stored("video_idx_lifecycle", dir) { base =>
      // build: decode the corpus ONCE
      val cbands = bandRows(videoFingerprints(s, dir), "doc_id")
        .select(col("bk"), col("did").as("doc_id"), col("dfp").as("fp"))
      graft.storage.Storage.writeBucketed(cbands, layout(base),
        table(base, "corpus"), "bk", 8)
      val idx = s.table(s"tenant0_vlx_${table(base, "corpus")}")
      // drop 1: classify against the fresh index; survivors append
      val d1 = deltaVideoFingerprints(s, dir)
      val d1bands = bandRows(d1, "did")
      val matched = d1bands.join(idx, Seq("bk"))
        .select(col("did"), col("dfp"), col("fp")).distinct()
        .filter(expr("bit_count(dfp ^ fp)").cast("long") <= 2)
        .select(col("did")).distinct()
      val survivors = d1.join(matched, Seq("did"), "left_anti")
      graft.storage.Storage.writeBucketed(
        bandRows(survivors, "did")
          .select(col("bk"), col("did").as("doc_id"), col("dfp").as("fp")),
        layout(base), table(base, "delta"), "bk", 8)
      // retention: the expired cohort's audit rows mask the index
      graft.storage.Storage.writeBucketed(
        idx.filter(pmod(expr("doc_id div 9"), lit(3)) === 0)
          .select(col("bk"), col("doc_id")),
        layout(base), table(base, "dead"), "bk", 8)
    }
    def registered(part: String, ddl: String) =
      s.table(graft.storage.Storage.registerBucketed(s, layout(base),
        table(base, part), ddl, "bk", 8))
    (registered("corpus", "bk BIGINT, doc_id BIGINT, fp BIGINT"),
      registered("delta", "bk BIGINT, doc_id BIGINT, fp BIGINT"),
      registered("dead", "bk BIGINT, doc_id BIGINT"))
  }

  /** q397's STREAM-BUILT video band index: q394's lifecycle replayed
    * through [[graft.streaming.BandMaintain]] micro-batches — corpus
    * fingerprints arrive as a 2-batch file stream (decode once, in the
    * ingest plan), drop-1 survivors append as the next batch after
    * classifying against the maintained store, the retention cohort
    * lands as a coverage-bounded tombstone delete, and compaction
    * applies it physically. The probe must then serve q394's answers
    * verbatim (the oracle IS q394's) — batch ≡ stream for the video
    * index, the law text (q383) and vectors (q384) already carry. */
  private def streamedVideoStore(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("video_stream", dir) { base =>
      val store = s"$base/store"
      import org.apache.spark.sql.types._
      val stage = s"$base/stage"
      // fingerprint the corpus ONCE (the expensive decode), stage as
      // two files so the store provably assembles across micro-batches
      videoFingerprints(s, dir)
        .repartition(2, pmod(col("doc_id"), lit(2)))
        .write.mode("overwrite").parquet(stage)
      val stream = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("b1", LongType), StructField("b2", LongType),
          StructField("b3", LongType), StructField("b4", LongType),
          StructField("fp", LongType))))
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = graft.streaming.BandMaintain.start(stream, store,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      // drop 1: classify against the MAINTAINED store; survivors
      // append as the next batch (ids are +50M — never in the corpus)
      val d1 = deltaVideoFingerprints(s, dir)
      val matched = bandRows(d1, "did")
        .join(graft.streaming.BandMaintain.bands(s, store), Seq("bk"))
        .select(col("did"), col("dfp"), col("fp")).distinct()
        .filter(expr("bit_count(dfp ^ fp)").cast("long") <= 2)
        .select(col("did")).distinct()
      graft.streaming.BandMaintain.maintainBatch(store)(
        d1.join(matched, Seq("did"), "left_anti")
          .withColumnRenamed("did", "doc_id"), 2L)
      // retention: the expired corpus cohort tombstones the index
      graft.streaming.BandMaintain.deleteDocs(s, store,
        s.read.parquet(stage)
          .filter(pmod(expr("doc_id div 9"), lit(3)) === 0)
          .select(col("doc_id")), 0L)
      graft.streaming.BandMaintain.compact(s, store)
    } + "/store"

  /** the DuckDB twin of [[audioFingerprints]] + [[audioFpEdges]]: ends in
    * `fps(doc_id, fp)` and `aedges(a, b, hd)` with a < b, hd ≤ 6. Shared
    * by the q351 pair oracle and the q371 cluster oracle. */
  private val audioFpCteSql: String =
    """docs AS (
      |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
      |  FROM documents WHERE doc_id % 3 = 0),
      |samp AS MATERIALIZED (
      |  SELECT doc_id,
      |    [ CAST((CASE WHEN role = 1 THEN 3 ELSE 1 END) *
      |        (((g * 7 + (g % 101) * j + j * 13 + (j * j) % 17) % 201) - 100) +
      |        (CASE WHEN role = 2 AND j >= 32 THEN (g + j) % 5 - 2
      |              ELSE 0 END) AS BIGINT)
      |      FOR j IN range(0, 80) ] AS s
      |  FROM docs),
      |coefs AS MATERIALIZED (
      |  SELECT doc_id, f.i AS f, ci.i AS ci,
      |    list_sum([ s[f.i * 16 + j + 1] *
      |               (1 - 2 * (bit_count(ci.i & j) % 2))
      |               FOR j IN range(0, 16) ]) AS c
      |  FROM samp, range(0, 5) f(i), range(1, 16) ci(i)),
      |bits AS (
      |  SELECT a.doc_id, a.f, a.ci,
      |    CASE WHEN a.c > b.c THEN 1 ELSE 0 END AS bit
      |  FROM coefs a JOIN coefs b
      |    ON a.doc_id = b.doc_id AND a.ci = b.ci AND b.f = a.f - 1
      |  WHERE a.f >= 1),
      |bands AS MATERIALIZED (
      |  SELECT doc_id, f,
      |    CAST(SUM(bit * (CAST(1 AS BIGINT) << (ci - 1))) AS BIGINT)
      |      AS band
      |  FROM bits GROUP BY 1, 2),
      |fps AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(SUM(band << ((f - 1) * 15)) AS BIGINT) AS fp
      |  FROM bands GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y
      |    ON x.f = y.f AND x.band = y.band AND x.doc_id < y.doc_id),
      |aedges AS MATERIALIZED (
      |  SELECT c.a, c.b, bit_count(xor(fa.fp, fb.fp)) AS hd
      |  FROM cand c
      |  JOIN fps fa ON fa.doc_id = c.a
      |  JOIN fps fb ON fb.doc_id = c.b
      |  WHERE bit_count(xor(fa.fp, fb.fp)) <= 6)""".stripMargin

  /** the DuckDB twin of [[videoFingerprints]] + [[audioClusters]]:
    * restates the reconstructed MPEG-1 planes in q362's closed form
    * (content translates one MB per frame behind the refresh column;
    * role 1 lifts brightness uniformly, role 2 re-authors the f=3
    * refresh column), the per-frame gradient-sign hash, the band join,
    * and the connected-components closure as a recursive CTE. */
  private val videoClusterOracleSql: String =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
      |  FROM documents WHERE doc_id % 3 = 1),
      |cells AS (
      |  SELECT doc_id, g, role, f.i AS f, bx.i AS bx, by.i AS by,
      |    (((bx.i - f.i) % 7 + 7) % 7) AS u7
      |  FROM docs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 4) by(i)),
      |mb AS MATERIALIZED (
      |  SELECT doc_id, f, bx, by,
      |    16 + (13 * u7 * u7 + u7 * ((g % 97) + 7) + 29 * by
      |          + by * u7 * ((g % 89) % 13 + 3)
      |          + (g % 101) * (by + 2) + g * 7) % 224
      |      + CASE WHEN role = 1 THEN 8 ELSE 0 END
      |      + CASE WHEN role = 2 AND f = 3 AND bx = 0
      |             THEN by % 3 ELSE 0 END AS l
      |  FROM cells),
      |vbits AS (
      |  SELECT a.doc_id, a.f, a.by * 3 + a.bx AS pos,
      |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM mb a JOIN mb b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  WHERE a.bx < 3),
      |bands AS MATERIALIZED (
      |  SELECT doc_id, f,
      |    CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS band
      |  FROM vbits GROUP BY 1, 2),
      |fps AS MATERIALIZED (
      |  SELECT doc_id, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
      |  FROM bands GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y
      |    ON x.f = y.f AND x.band = y.band AND x.doc_id < y.doc_id),
      |aedges AS MATERIALIZED (
      |  SELECT c.a, c.b
      |  FROM cand c JOIN fps fa ON fa.doc_id = c.a
      |  JOIN fps fb ON fb.doc_id = c.b
      |  WHERE bit_count(xor(fa.fp, fb.fp)) <= 2),
      |sym AS (SELECT a, b FROM aedges UNION ALL SELECT b, a FROM aedges),
      |reach AS (
      |  SELECT a AS id, a AS r FROM sym
      |  UNION
      |  SELECT s.a, r.r FROM sym s JOIN reach r ON r.id = s.b),
      |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
      |mem AS (
      |  SELECT f.doc_id, COALESCE(l.cluster_id, f.doc_id) AS cluster_id,
      |    f.fp
      |  FROM fps f LEFT JOIN lab l ON l.id = f.doc_id)
      |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_members,
      |  CAST(MAX(CASE WHEN doc_id = cluster_id THEN fp END) AS BIGINT)
      |    AS survivor_fp
      |FROM mem GROUP BY 1""".stripMargin

  /** q392's DuckDB twin: both content planes restated in closed form —
    * the corpus exactly as q390's oracle, the delta with its class
    * transforms (role 0 → +4 brightness, role 1 → the (by+1)%3
    * last-frame edit, role 2 → the 37-mix fresh plane) — then the same
    * per-frame hash on each side, the band-equality candidate join, the
    * Hamming confirm, and the exact/near/new classification. */
  private val videoDeltaOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
      |  FROM documents WHERE doc_id % 3 = 1),
      |cells AS (
      |  SELECT doc_id, g, role, f.i AS f, bx.i AS bx, by.i AS by,
      |    (((bx.i - f.i) % 7 + 7) % 7) AS u7
      |  FROM docs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 4) by(i)),
      |cmb AS MATERIALIZED (
      |  SELECT doc_id, f, bx, by,
      |    16 + (13 * u7 * u7 + u7 * ((g % 97) + 7) + 29 * by
      |          + by * u7 * ((g % 89) % 13 + 3)
      |          + (g % 101) * (by + 2) + g * 7) % 224
      |      + CASE WHEN role = 1 THEN 8 ELSE 0 END
      |      + CASE WHEN role = 2 AND f = 3 AND bx = 0
      |             THEN by % 3 ELSE 0 END AS l
      |  FROM cells),
      |dmb AS MATERIALIZED (
      |  SELECT doc_id + 50000000 AS did, f, bx, by,
      |    CASE WHEN role = 1 AND f = 3 AND bx = 0 AND by = 1 THEN
      |      CASE WHEN
      |        16 + (325 + 5 * ((g % 97) + 7) + 29
      |              + 5 * ((g % 89) % 13 + 3) + (g % 101) * 3
      |              + g * 7) % 224
      |        >
      |        16 + (208 + 4 * ((g % 97) + 7) + 29
      |              + 4 * ((g % 89) % 13 + 3) + (g % 101) * 3
      |              + g * 7) % 224
      |      THEN 250 ELSE 1 END
      |    ELSE
      |      16 + (13 * u7 * u7
      |            + u7 * ((g % 97) + (CASE WHEN role = 2 THEN 19 ELSE 7 END))
      |            + 29 * by + by * u7 * ((g % 89) % 13 + 3)
      |            + (g % 101) * (by + 2)
      |            + g * 7) % 224
      |        + CASE WHEN role = 0 THEN 4 ELSE 0 END
      |    END AS l
      |  FROM cells),
      |cbits AS (
      |  SELECT a.doc_id, a.f, a.by * 3 + a.bx AS pos,
      |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM cmb a JOIN cmb b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  WHERE a.bx < 3),
      |cbands AS MATERIALIZED (
      |  SELECT doc_id, f,
      |    CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS band
      |  FROM cbits GROUP BY 1, 2),
      |cfps AS MATERIALIZED (
      |  SELECT doc_id, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
      |  FROM cbands GROUP BY 1),
      |dbits AS (
      |  SELECT a.did, a.f, a.by * 3 + a.bx AS pos,
      |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM dmb a JOIN dmb b ON a.did = b.did AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  WHERE a.bx < 3),
      |dbands AS MATERIALIZED (
      |  SELECT did, f,
      |    CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS band
      |  FROM dbits GROUP BY 1, 2),
      |dfps AS MATERIALIZED (
      |  SELECT did, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
      |  FROM dbands GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT d.did, c.doc_id
      |  FROM dbands d JOIN cbands c ON d.f = c.f AND d.band = c.band),
      |edges AS (
      |  SELECT n.did, n.doc_id, bit_count(xor(df.fp, cf.fp)) AS hd
      |  FROM cand n
      |  JOIN dfps df ON df.did = n.did
      |  JOIN cfps cf ON cf.doc_id = n.doc_id
      |  WHERE bit_count(xor(df.fp, cf.fp)) <= 2),
      |best AS (
      |  SELECT did, MIN(hd) AS min_hd, MIN(doc_id) AS dup_of
      |  FROM edges GROUP BY 1)
      |SELECT d.did,
      |  CASE WHEN b.min_hd = 0 THEN 'exact'
      |       WHEN b.min_hd IS NOT NULL THEN 'near'
      |       ELSE 'new' END AS status,
      |  CAST(COALESCE(b.dup_of, -1) AS BIGINT) AS dup_of
      |FROM dfps d LEFT JOIN best b ON b.did = d.did""".stripMargin

  /** the shared mb-plane CTE of the two H.264 oracles: the closed
    * per-MB luma values of [[h264Plan]] over the %3==0 cohort — role 0
    * the group plane, role 1 its +4 lift, role 2 re-authored. */
  private val h264MbCteSql: String =
    """docs AS (
      |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
      |  FROM documents WHERE doc_id % 3 = 0),
      |mb AS MATERIALIZED (
      |  SELECT doc_id, f, bx.i AS bx, by.i AS by,
      |    CASE WHEN role = 2
      |      THEN 16 + (17 * bx.i * bx.i + bx.i * ((g % 89) + 5)
      |        + 31 * by.i + by.i * bx.i * ((g % 83) % 11 + 2)
      |        + (g % 103) * (by.i + 3) + g * 13
      |        + ef * (17 + (g % 5))) % 224
      |      ELSE 16 + (13 * bx.i * bx.i + bx.i * ((g % 97) + 7)
      |        + 29 * by.i + by.i * bx.i * ((g % 89) % 13 + 3)
      |        + (g % 101) * (by.i + 2) + g * 7
      |        + ef * (11 + (g % 3))) % 224
      |        + CASE WHEN role = 1 THEN 4 ELSE 0 END END AS v
      |  FROM (
      |    SELECT doc_id, g, role, f.i AS f,
      |      -- even groups ship frame 2 as an all-skip P slice: it
      |      -- reconstructs as frame 1 verbatim
      |      CASE WHEN g % 2 = 0 AND f.i = 2 THEN 1 ELSE f.i END AS ef
      |    FROM docs, range(0, 4) f(i)) fr,
      |    range(0, 4) bx(i), range(0, 3) by(i))"""
      .stripMargin

  /** the shared mb-plane CTE of the two MOTION H.264 oracles: the
    * closed per-MB luma values of [[h264MotionPlan]] over the %3==2
    * cohort — top row static, lower rows sliding right one MB per
    * frame with left-column replication (the decoder's edge-clamped
    * reference fetch), the last frame's row-1 flat residual. One
    * formula serves intra-coded role 0 and motion-coded role 1 (their
    * planes are identical by construction); role 2 re-authors. */
  private val h264MotionCteSql: String =
    """docs AS (
      |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
      |  FROM documents WHERE doc_id % 3 = 2),
      |cells AS (
      |  SELECT doc_id, g, role, f.i AS f, bx.i AS bx, by.i AS by,
      |    -- the moving scene's SOURCE column: static on the top row,
      |    -- slid right f MBs below it, left edge replicating
      |    CASE WHEN by.i = 0 THEN bx.i
      |         ELSE GREATEST(bx.i - f.i, 0) END AS sx
      |  FROM docs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 3) by(i)),
      |mb AS MATERIALIZED (
      |  SELECT doc_id, f, bx, by,
      |    (CASE WHEN role = 2
      |      THEN 25 + (23 * sx * sx + sx * ((g % 77) + 6) + 33 * by
      |        + by * sx * ((g % 71) % 7 + 3) + (g % 105) * (by + 1)
      |        + g * 9) % 176
      |      ELSE 25 + (11 * sx * sx + sx * ((g % 91) + 4) + 27 * by
      |        + by * sx * ((g % 85) % 9 + 2) + (g % 95) * (by + 2)
      |        + g * 3) % 176 END)
      |    + CASE WHEN f = 3 AND by = 1 THEN 1 + ((g // 9 + bx) % 7)
      |           ELSE 0 END AS v
      |  FROM cells)"""
      .stripMargin

  /** q394's DuckDB twin — the whole index lifecycle restated: the
    * corpus plane (q390's), drop 1 with its class transforms (q392's
    * dmb verbatim) and the survivor calculus (no corpus match at
    * hd ≤ 2), the expiry cohort ((doc_id // 9) % 3 = 0), the probe
    * plane (role 0/1 → corpus content +12, role 2 → survivor content
    * +4), the band-equality candidate join against the MAINTAINED
    * index (surviving corpus ∪ appended survivors), the Hamming
    * confirm, and the classification. */
  private val videoLifecycleOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
      |  FROM documents WHERE doc_id % 3 = 1),
      |cells AS (
      |  SELECT doc_id, g, role, f.i AS f, bx.i AS bx, by.i AS by,
      |    (((bx.i - f.i) % 7 + 7) % 7) AS u7
      |  FROM docs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 4) by(i)),
      |cmb AS MATERIALIZED (
      |  SELECT doc_id, f, bx, by,
      |    16 + (13 * u7 * u7 + u7 * ((g % 97) + 7) + 29 * by
      |          + by * u7 * ((g % 89) % 13 + 3)
      |          + (g % 101) * (by + 2) + g * 7) % 224
      |      + CASE WHEN role = 1 THEN 8 ELSE 0 END
      |      + CASE WHEN role = 2 AND f = 3 AND bx = 0
      |             THEN by % 3 ELSE 0 END AS l
      |  FROM cells),
      |dmb AS MATERIALIZED (
      |  SELECT doc_id + 50000000 AS did, f, bx, by,
      |    CASE WHEN role = 1 AND f = 3 AND bx = 0 AND by = 1 THEN
      |      CASE WHEN
      |        16 + (325 + 5 * ((g % 97) + 7) + 29
      |              + 5 * ((g % 89) % 13 + 3) + (g % 101) * 3
      |              + g * 7) % 224
      |        >
      |        16 + (208 + 4 * ((g % 97) + 7) + 29
      |              + 4 * ((g % 89) % 13 + 3) + (g % 101) * 3
      |              + g * 7) % 224
      |      THEN 250 ELSE 1 END
      |    ELSE
      |      16 + (13 * u7 * u7
      |            + u7 * ((g % 97) + (CASE WHEN role = 2 THEN 19 ELSE 7 END))
      |            + 29 * by + by * u7 * ((g % 89) % 13 + 3)
      |            + (g % 101) * (by + 2)
      |            + g * 7) % 224
      |        + CASE WHEN role = 0 THEN 4 ELSE 0 END
      |    END AS l
      |  FROM cells),
      |pmb AS MATERIALIZED (
      |  SELECT doc_id + 90000000 AS pid, f, bx, by,
      |    16 + (13 * u7 * u7
      |          + u7 * ((g % 97) + (CASE WHEN role = 2 THEN 19 ELSE 7 END))
      |          + 29 * by + by * u7 * ((g % 89) % 13 + 3)
      |          + (g % 101) * (by + 2)
      |          + g * 7) % 224
      |      + CASE WHEN role = 2 THEN 4 ELSE 12 END AS l
      |  FROM cells),
      |cbits AS (
      |  SELECT a.doc_id, a.f, a.by * 3 + a.bx AS pos,
      |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM cmb a JOIN cmb b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  WHERE a.bx < 3),
      |cbands AS MATERIALIZED (
      |  SELECT doc_id, f,
      |    CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS band
      |  FROM cbits GROUP BY 1, 2),
      |cfps AS MATERIALIZED (
      |  SELECT doc_id, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
      |  FROM cbands GROUP BY 1),
      |dbits AS (
      |  SELECT a.did, a.f, a.by * 3 + a.bx AS pos,
      |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM dmb a JOIN dmb b ON a.did = b.did AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  WHERE a.bx < 3),
      |dbands AS MATERIALIZED (
      |  SELECT did, f,
      |    CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS band
      |  FROM dbits GROUP BY 1, 2),
      |dfps AS MATERIALIZED (
      |  SELECT did, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
      |  FROM dbands GROUP BY 1),
      |pbits AS (
      |  SELECT a.pid, a.f, a.by * 3 + a.bx AS pos,
      |    CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM pmb a JOIN pmb b ON a.pid = b.pid AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  WHERE a.bx < 3),
      |pbands AS MATERIALIZED (
      |  SELECT pid, f,
      |    CAST(SUM(bit * (CAST(1 AS BIGINT) << pos)) AS BIGINT) AS band
      |  FROM pbits GROUP BY 1, 2),
      |pfps AS MATERIALIZED (
      |  SELECT pid, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
      |  FROM pbands GROUP BY 1),
      |m1 AS (
      |  SELECT DISTINCT n.did
      |  FROM (SELECT DISTINCT d.did, c.doc_id
      |        FROM dbands d JOIN cbands c
      |          ON d.f = c.f AND d.band = c.band) n
      |  JOIN dfps df ON df.did = n.did
      |  JOIN cfps cf ON cf.doc_id = n.doc_id
      |  WHERE bit_count(xor(df.fp, cf.fp)) <= 2),
      |surv AS (
      |  SELECT did FROM dfps
      |  WHERE NOT EXISTS (SELECT 1 FROM m1 WHERE m1.did = dfps.did)),
      |ibands AS (
      |  SELECT doc_id, f, band FROM cbands WHERE (doc_id // 9) % 3 <> 0
      |  UNION ALL
      |  SELECT d.did AS doc_id, d.f, d.band FROM dbands d
      |  JOIN surv s ON s.did = d.did),
      |ifps AS (
      |  SELECT doc_id, fp FROM cfps WHERE (doc_id // 9) % 3 <> 0
      |  UNION ALL
      |  SELECT d.did AS doc_id, d.fp FROM dfps d
      |  JOIN surv s ON s.did = d.did),
      |cand AS (
      |  SELECT DISTINCT p.pid, i.doc_id
      |  FROM pbands p JOIN ibands i ON p.f = i.f AND p.band = i.band),
      |edges AS (
      |  SELECT n.pid, n.doc_id, bit_count(xor(pf.fp, f2.fp)) AS hd
      |  FROM cand n
      |  JOIN pfps pf ON pf.pid = n.pid
      |  JOIN ifps f2 ON f2.doc_id = n.doc_id
      |  WHERE bit_count(xor(pf.fp, f2.fp)) <= 2),
      |best AS (
      |  SELECT pid, MIN(hd) AS min_hd, MIN(doc_id) AS dup_of
      |  FROM edges GROUP BY 1)
      |SELECT p.pid AS did,
      |  CASE WHEN b.min_hd = 0 THEN 'exact'
      |       WHEN b.min_hd IS NOT NULL THEN 'near'
      |       ELSE 'new' END AS status,
      |  CAST(COALESCE(b.dup_of, -1) AS BIGINT) AS dup_of
      |FROM pfps p LEFT JOIN best b ON b.pid = p.pid""".stripMargin

  /** the q358 decoded-plane oracle, shared verbatim by the stored-FLAC
    * census (q372): same synthesis, same aggregates. */
  private val flacCensusSql: String =
    """WITH d AS (
      |  SELECT doc_id, 1 + doc_id % 2 AS ch,
      |    600 + (doc_id % 5) * 500 AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |pcm AS (
      |  SELECT doc_id, ch, n, i.i AS i,
      |    (i.i % 50) * 80 - 1960 + (doc_id + i.i) % 9 AS l,
      |    (i.i % 50) * 80 - 1960 + (doc_id + i.i) % 9
      |      + (i.i % 7) - 3 AS r
      |  FROM d, range(0, 2600) i(i) WHERE i.i < n)
      |SELECT doc_id, CAST(ch AS BIGINT) AS channels,
      |  CAST(COUNT(*) * ch AS BIGINT) AS n_samples,
      |  CAST((MAX(n) + 511) // 512 AS BIGINT) AS n_frames,
      |  CAST(16000 AS BIGINT) AS sample_rate,
      |  CAST(SUM(CASE WHEN ch = 1 THEN l ELSE l + r END) AS BIGINT)
      |    AS sum_samples,
      |  CAST(SUM(CASE WHEN ch = 1 THEN l * ((i % 97) + 1)
      |    ELSE l * (((2 * i) % 97) + 1) + r * (((2 * i + 1) % 97) + 1)
      |    END) AS BIGINT) AS wsum,
      |  true AS compressed_ok
      |FROM pcm GROUP BY doc_id, ch""".stripMargin

  /** the q369 framing-arithmetic oracle, shared verbatim by the stored
    * MP3 census (q374). */
  private val mp3CensusSql: String =
    """WITH d AS (
      |  SELECT doc_id AS id, 20 + doc_id % 10 AS n,
      |    ([44100, 48000, 32000])[doc_id % 3 + 1] AS rate
      |  FROM documents WHERE doc_id % 3 = 1),
      |f AS (
      |  SELECT id, n, rate,
      |    ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
      |      [(id + ff.i) % 14 + 1] AS br,
      |    CASE WHEN (id + 3 * ff.i) % 4 = 0 THEN 1 ELSE 0 END AS pad
      |  FROM d, range(0, 30) ff(i) WHERE ff.i < n)
      |SELECT id AS media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
      |  CAST(rate AS BIGINT) AS sample_rate,
      |  CAST(SUM(br) AS BIGINT) AS bitrate_sum,
      |  CAST(SUM(pad) AS BIGINT) AS padded_frames,
      |  CAST(SUM(144000 * br // rate + pad) AS BIGINT) AS frame_bytes,
      |  CAST(10 + strlen('artist=a' || id) AS BIGINT) AS id3v2_bytes,
      |  id % 2 = 0 AS has_id3v1,
      |  CAST(10 + strlen('artist=a' || id)
      |     + SUM(144000 * br // rate + pad)
      |     + CASE WHEN id % 2 = 0 THEN 128 ELSE 0 END AS BIGINT)
      |    AS total_len
      |FROM f GROUP BY 1, 3, 8""".stripMargin

  /** the DuckDB twin of [[audioClusters]] over [[audioFpCteSql]]'s edge
    * set — shared by q371 (WAV path) and q377 (stored-FLAC path; FLAC is
    * lossless so the fingerprint plane is identical). */
  private val audioClusterOracleSql: String =
    s"""WITH RECURSIVE $audioFpCteSql,
      |sym AS (SELECT a, b FROM aedges UNION ALL SELECT b, a FROM aedges),
      |reach AS (
      |  SELECT a AS id, a AS r FROM sym
      |  UNION
      |  SELECT s.a, r.r FROM sym s JOIN reach r ON r.id = s.b),
      |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
      |mem AS (
      |  SELECT f.doc_id, COALESCE(l.cluster_id, f.doc_id) AS cluster_id,
      |    f.fp
      |  FROM fps f LEFT JOIN lab l ON l.id = f.doc_id)
      |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_members,
      |  CAST(MAX(CASE WHEN doc_id = cluster_id THEN fp END) AS BIGINT)
      |    AS survivor_fp
      |FROM mem GROUP BY 1""".stripMargin

  /** q351's Walsh–Hadamard audio fingerprints (doc_id, b1..b4, fp): each
    * doc synthesizes a WAV, round-trips the REAL RIFF/PCM decoder, and
    * signs frame-to-frame WHT coefficient differences into four 15-bit
    * bands (Haitsma–Kalker shape). Shared by the pair query (q351) and
    * the cluster query (q371). */
  private def audioFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val g = id / 9 * 9; val role = (id / 3) % 3
        val amp = if (role == 1) 3 else 1
        val samples = Array.tabulate(80) { j =>
          (amp * (((g * 7 + (g % 101) * j + j * 13 + (j * j) % 17) % 201) - 100) +
            (if (role == 2 && j >= 32) (g + j) % 5 - 2 else 0L)).toInt
        }
        val wav = Multimodal.syntheticWavPcm(8000, 1, samples.toSeq)
        val (_, _, pcm) = Multimodal.wavSamples(wav).get
        val (b1, b2, b3, b4, fp) = whtFingerprint(pcm)
        (id, b1, b2, b3, b4, fp)
      }.toDF("doc_id", "b1", "b2", "b3", "b4", "fp")
  }

  /** the WHT sign-of-difference fingerprint over an 80-sample PCM frame
    * sequence: four 15-bit bands + the packed 60-bit fingerprint. Shared
    * by the WAV path ([[audioFingerprints]]) and the stored-FLAC path
    * (q377). */
  private def whtFingerprint(pcm: Array[Int]): (Long, Long, Long, Long, Long) = {
    val coef = Array.tabulate(5, 16) { (f, i) =>
      var acc = 0; var j = 0
      while (j < 16) {
        acc += pcm(f * 16 + j) * (1 - 2 * (Integer.bitCount(i & j) & 1))
        j += 1
      }
      acc
    }
    val bands = Array.tabulate(4) { fi =>
      var b = 0L
      for (i <- 1 until 16)
        if (coef(fi + 1)(i) > coef(fi)(i)) b |= 1L << (i - 1)
      b
    }
    val fp = bands.zipWithIndex.map { case (b, fi) => b << (fi * 15) }
      .reduce(_ | _)
    (bands(0), bands(1), bands(2), bands(3), fp)
  }

  /** confirmed near-dup edges over [[audioFingerprints]]: exact-band
    * equality candidates (the LSH shape — never all-pairs), Hamming ≤ 6
    * confirm. Columns (media_a, media_b, hamming_dist), media_a < media_b. */
  private def audioFpEdges(s: SparkSession, dir: String): DataFrame =
    audioFpEdgesFrom(audioFingerprints(s, dir))

  private def audioFpEdgesFrom(fps: DataFrame, maxHd: Long = 6): DataFrame = {
    val bandRows = fps.select(col("doc_id"), col("fp"), explode(array(
        struct(lit(1).as("f"), col("b1").as("band")),
        struct(lit(2).as("f"), col("b2").as("band")),
        struct(lit(3).as("f"), col("b3").as("band")),
        struct(lit(4).as("f"), col("b4").as("band")))).as("e"))
      .select(col("doc_id"), col("fp"), col("e.f").as("f"),
        col("e.band").as("band"))
    bandRows.as("x").join(bandRows.as("y"),
        col("x.f") === col("y.f") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("media_a"), col("y.doc_id").as("media_b"),
        col("x.fp").as("fpa"), col("y.fp").as("fpb"))
      .distinct()
      .select(col("media_a"), col("media_b"),
        expr("bit_count(fpa ^ fpb)").cast("long").as("hamming_dist"))
      .filter(col("hamming_dist") <= maxHd)
  }

  /** cluster + survivor rollup over a fingerprint frame (doc_id, b1..b4,
    * fp): band-join edges → pointer-jump connected components → one row
    * per cluster (singletons labeled by their own id), survivor = min
    * member (== the cluster label by min-propagation), its fingerprint
    * carried via the doc_id == cluster_id pick. Shared by q371 (WAV
    * path) and q377 (stored-FLAC path). */
  private def audioClusters(fps0: DataFrame, maxHd: Long = 6): DataFrame = {
    // the fingerprint frame feeds BOTH the edge set and the final
    // rollup, and the edge set feeds the symmetric union twice —
    // materialize each once. For the stored paths (q377 FLAC, q390
    // MPEG-1) every re-evaluation is a full decode pass over the
    // corpus: measured at sf0.1, the un-checkpointed shape decoded the
    // whole corpus twice per run.
    val fps = fps0.localCheckpoint()
    val edges = audioFpEdgesFrom(fps, maxHd)
      .select(col("media_a").as("u"), col("media_b").as("v"))
      .localCheckpoint()
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val lbl = graft.operators.PipelineOps.connectedComponents(sym)
    fps.select(col("doc_id"), col("fp"))
      .join(lbl.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("doc_id") === col("cluster_id"), col("fp")))
          .as("survivor_fp"))
  }

  val queries: Map[String, Q] = Map(
    // FLAGSHIP feature extraction — from the STORED binary column: the
    // payloads are read back off the media table's parquet files, then
    // mapPartitions batches dispatch each payload to the REAL decoder
    // its magic matches (PNG/GIF/JPEG pixel stats, WAV PCM sample
    // stats, MJPEG-AVI frame+motion stats); the oracle restates every
    // branch arithmetically and LEFT JOINs so the undecodable rows'
    // null format + null features are checked too.
    // (n_bytes of an ENCODED payload is codec-output-dependent — not
    // arithmetically restatable — so the oracle-checked projection is
    // the feature columns.)
    "q64_multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(storedMediaDs(s, dir)).toDF()
        .select(col("media_id"), col("kind"), col("format"),
          col("f0"), col("f1"), col("f2"), col("f3"),
          col("f4"), col("f5"), col("f6"), col("f7"))),

    // stored-binary-column container parse: image dimensions read from
    // ENCODED bytes scanned off the media table (the same parser as
    // q277, but the input is the STORED column, proving the binary
    // round trip end to end at every SF); undecodable payloads (raw
    // text bytes) honestly answer (-1,-1).
    "q345_stored_media_dims" -> ((s, dir) => {
      import s.implicits._
      // the kind predicate stays RELATIONAL (pushed to the parquet
      // scan, bloom/stats-skippable) and only (media_id, bytes) cross
      // the encoder boundary — a typed .filter here would drag every
      // column through deserialization at any scale
      s.read.parquet(storedMediaPath(s, dir))
        .where(col("kind") === "image")
        .select(col("media_id"), col("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val d = Multimodal.imageDims(bytes)
          (id, d.map(_._1).getOrElse(-1), d.map(_._2).getOrElse(-1))
        }.toDF("media_id", "width", "height")
    }),

    // REAL container-header decode: dimensions parsed from the actual
    // PNG/JPEG/GIF byte layouts (pure JVM, no codec libs) — the payload
    // is generated with those dims baked into structurally valid
    // headers, so the oracle's arithmetic twin proves the PARSER read
    // the right offsets in all three containers. Per-row decode rides
    // the same mapPartitions boundary as the feature path.
    "q277_image_dims" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .map { case (id, nc) =>
          val fmt = (id % 3) match {
            case 0 => "png"; case 1 => "jpeg"; case _ => "gif"
          }
          val bytes = Multimodal.syntheticImage(fmt,
            (id % 64 + 16).toInt, (nc % 64 + 16).toInt)
          val (w, h) = Multimodal.imageDims(bytes).getOrElse((-1, -1))
          (id, fmt, w, h)
        }.toDF("media_id", "format", "width", "height")
    }),

    // audio/video metadata through the same real header parsers: WAV
    // RIFF chunk walk (sample rate, channels) and MP4 box walk
    // (moov→mvhd timescale, duration units) — dims baked into valid
    // structures and round-tripped against the arithmetic oracle twin.
    "q278_media_meta" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .map { case (id, nc) =>
          if (id % 3 == 1) { // audio
            val rate = 8000 + (id % 8).toInt * 4000
            val ch = 1 + (id % 2).toInt
            val (gotRate, gotCh) = Multimodal.wavMeta(
              Multimodal.syntheticWav(rate, ch)).getOrElse((-1, -1))
            (id, "audio", gotRate.toLong, gotCh.toLong)
          } else { // video
            val ts = 1000 * (1 + (id % 4).toInt)
            val dur = (nc % 100000) + 1
            val (gotTs, gotDur) = Multimodal.mp4Meta(
              Multimodal.syntheticMp4(ts, dur)).getOrElse((-1, -1L))
            (id, "video", gotTs.toLong, gotDur)
          }
        }.toDF("media_id", "kind", "m1", "m2")
    }),

    // REAL WAV PCM sample decode (no codec libs — PCM needs none): each
    // audio doc gets a WAV whose 64 LE16 samples follow a closed formula;
    // the RIFF walk + sample fold produce exact integer stats (peak,
    // Σ|s|, Σs², fixed-point RMS) and the oracle restates the formula
    // arithmetically — any drift in chunk offsets, sign extension, or
    // sample iteration breaks the hash. This closes the audio-feature
    // path (q64's wav branch rides the same decoder).
    "q289_wav_pcm_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val samples = (0 until 64).map(j =>
            (((id * 997 + j * 131) % 30001) - 15000).toInt)
          val p = Multimodal.wavPcm(
            Multimodal.syntheticWavPcm(16000, 1, samples)).get
          val rmsMilli = math.floor(
            1000.0 * math.sqrt(p.sumSq.toDouble / p.nSamples)).toLong
          (id, p.sampleRate, p.channels, p.nSamples, p.peak,
            p.sumAbs, p.sumSq, rmsMilli)
        }.toDF("media_id", "sample_rate", "channels", "n_samples",
          "peak", "sum_abs", "sum_sq", "rms_milli")
    }),

    // REAL PNG pixel decode (zlib inflate + five-filter scanline
    // reconstruction, CRC-verified — JDK-only, no codec libs): each
    // image doc gets a standards-conformant RGB PNG whose pixels follow
    // a closed formula and whose per-row filter cycles through ALL five
    // filter types (None/Sub/Up/Average/Paeth); the decoder must undo
    // the actual DEFLATE stream and predictor chain to reproduce the
    // oracle's arithmetic restatement — any drift in inflate, filter
    // reconstruction, or channel order breaks the hash. With q289 (WAV
    // PCM) this closes the pixel-feature path for the one image codec
    // decodable without entropy-coding libraries.
    "q292_png_pixel_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 13 + 4).toInt; val h = (id % 11 + 4).toInt
          val png = Multimodal.syntheticPng(w, h,
            (x, y) => (((id * 31 + x * 7 + y * 13) % 256).toInt,
                       ((id * 17 + x * 3 + y * 5) % 256).toInt,
                       ((id * 7 + x * 11 + y * 3) % 256).toInt),
            y => ((id + y) % 5).toInt)
          val p = Multimodal.pngPixels(png).get
          (id, p.width, p.height, p.nPx, p.sumR, p.sumG, p.sumB,
            p.sumLumaMilli, p.peakLumaMilli)
        }.toDF("media_id", "width", "height", "n_px",
          "sum_r", "sum_g", "sum_b", "sum_luma_milli", "peak_luma_milli")
    }),

    // REAL GIF pixel decode (hand-rolled LZW — variable code width,
    // dictionary growth, KwKwK — plus palette mapping; JDK-only): each
    // image doc gets a standards-conformant GIF whose INDEX stream
    // follows a closed formula and whose palette is a non-trivial
    // channel mix, so the oracle's arithmetic twin proves both the LZW
    // decompression and the index→color mapping. Second fully-decoded
    // image container after PNG (q292).
    "q296_gif_pixel_stats" -> ((s, dir) => {
      import s.implicits._
      val palette = (0 until 256).map(i =>
        (i << 16) | (((i * 7) % 256) << 8) | ((i * 13) % 256)).toArray
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 17 + 3).toInt; val h = (id % 7 + 3).toInt
          val gif = Multimodal.syntheticGif(w, h, palette,
            (x, y) => ((id * 23 + x * 5 + y * 11) % 256).toInt)
          val p = Multimodal.gifPixels(gif).get
          (id, p.width, p.height, p.nPx, p.sumR, p.sumG, p.sumB,
            p.sumLumaMilli, p.peakLumaMilli)
        }.toDF("media_id", "width", "height", "n_px",
          "sum_r", "sum_g", "sum_b", "sum_luma_milli", "peak_luma_milli")
    }),

    // REAL baseline JPEG decode (markers, DQT/DHT, canonical Huffman,
    // DC prediction, dequant, zigzag, IDCT — JDK-only): with an all-ones
    // quant table, BLOCK-FLAT images round-trip EXACTLY (flat 8×8 block
    // → DC-only spectrum → any conforming IDCT returns the flat value),
    // so the full entropy-coding pipeline is oracle-checked bit-for-bit;
    // the general AC/IDCT path is spec-verified against ImageIO. Third
    // image container fully decoded (PNG q292, GIF q296).
    "q298_jpeg_pixel_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val w = (id % 24 + 8).toInt; val h = (id % 16 + 8).toInt
          val jpg = graft.multimodal.Jpeg.encodeGray(w, h,
            (x, y) => ((id * 29 + (x / 8) * 7 + (y / 8) * 3) % 256).toInt)
          val p = graft.multimodal.Jpeg.decodeGray(jpg).get
          (id, p.width, p.height, p.nPx, p.sumR, p.sumLumaMilli,
            p.peakLumaMilli)
        }.toDF("media_id", "width", "height", "n_px",
          "sum_gray", "sum_luma_milli", "peak_luma_milli")
    }),

    // RESTART-INTERVAL JPEG (T.81 §E.2.4): each doc's image is encoded
    // WITH a DRI segment + cycling RST0-7 resync markers (interval
    // varying 1-5 MCUs — several full RST cycles on the larger images)
    // and decoded by the baseline path's restart handling: byte-align,
    // verify the cycling marker, reset DC predictors. The query also
    // asserts in-plan that the restart encoding decodes IDENTICALLY to
    // the plain one (the resync structure must not change pixels); the
    // oracle restates the pixel formula AND the marker-count arithmetic
    // floor((blocks-1)/ri).
    "q348_jpeg_restart" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val w = (id % 24 + 8).toInt; val h = (id % 16 + 8).toInt
          val ri = (id % 5 + 1).toInt
          def v(x: Int, y: Int) =
            ((id * 29 + (x / 8) * 7 + (y / 8) * 3) % 256).toInt
          val p = graft.multimodal.Jpeg.decodeGray(
            graft.multimodal.Jpeg.encodeGrayRestart(w, h, v, ri)).get
          val plain = graft.multimodal.Jpeg.decodeGray(
            graft.multimodal.Jpeg.encodeGray(w, h, v)).get
          require(p == plain, s"restart decode diverged for doc $id")
          val nBlocks = ((w + 7) / 8) * ((h + 7) / 8)
          (id, ri.toLong, ((nBlocks - 1) / ri).toLong,
            p.width, p.height, p.nPx, p.sumR)
        }.toDF("media_id", "restart_interval", "n_restart_markers",
          "width", "height", "n_px", "sum_gray")
    }),

    // ARITHMETIC-CODED JPEG (T.81 Annex D QM-coder + §F.1.4 models,
    // SOF9 + DAC): each doc's image is encoded with the adaptive
    // arithmetic entropy coder — no Huffman tables in the file at all —
    // and decoded by the QM decoder + §F.2.4 statistical models. The
    // query asserts in-plan that the arithmetic encoding decodes
    // IDENTICALLY to the Huffman baseline encoding (the entropy layer
    // is transparent: FDCT and quantizer are shared) AND that the
    // arithmetic FILE is smaller (no Huffman tables + adaptive coding);
    // the oracle restates the pixel formula. Alternating docs take the
    // SEQUENTIAL (SOF9) and PROGRESSIVE (SOF10, §G.1.3 — four scans:
    // DC first/refine + AC first/refine at Al=1→0) arithmetic paths,
    // closing the whole JPEG entropy-coding matrix (Huffman
    // baseline/progressive/restart q298/q324/q348; arithmetic
    // sequential/progressive here).
    "q350_jpeg_arith" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val progressive = ((id / 3) % 2) == 0
          val w = (id % 24 + 8).toInt; val h = (id % 16 + 8).toInt
          def v(x: Int, y: Int) =
            ((id * 29 + (x / 8) * 7 + (y / 8) * 3) % 256).toInt
          val arithJpg =
            if (progressive)
              graft.multimodal.Jpeg.encodeGrayProgressiveArith(w, h, v)
            else graft.multimodal.Jpeg.encodeGrayArith(w, h, v)
          val huffJpg = graft.multimodal.Jpeg.encodeGray(w, h, v)
          val p = graft.multimodal.Jpeg.decodeGray(arithJpg).get
          val plain = graft.multimodal.Jpeg.decodeGray(huffJpg).get
          require(p == plain, s"arithmetic decode diverged for doc $id")
          require(arithJpg.length < huffJpg.length,
            s"arithmetic file not smaller for doc $id")
          (id, if (progressive) "arith_progressive" else "arith_sequential",
            p.width, p.height, p.nPx, p.sumR, p.peakLumaMilli)
        }.toDF("media_id", "coding", "width", "height", "n_px", "sum_gray",
          "peak_luma_milli")
    }),

    // AUDIO FINGERPRINT NEAR-DUP: the audio leg of the near-dup family
    // (text MinHash q22, image dHash q344). Each doc synthesizes a
    // WAV, round-trips it through the REAL RIFF/PCM decoder
    // (`wavSamples`), and fingerprints the waveform with an exact
    // integer Walsh–Hadamard transform: 16-sample frames, WHT
    // coefficients c(f,i) = Σⱼ s[16f+j]·(−1)^popcount(i&j), one sign-of-
    // difference bit per (frame, coefficient) à la Haitsma–Kalker —
    // c(f,i) > c(f−1,i) — packed into four 15-bit bands (60-bit
    // fingerprint). Amplitude-scaled copies fingerprint IDENTICALLY
    // (WHT is linear, signs are scale-invariant); noisy copies differ
    // in a few bits. Candidates come from an exact-band equality join
    // (the LSH shape — never all-pairs), confirmed by xor+popcount
    // Hamming ≤ 6. The oracle restates the synthesis, the WHT, the
    // banding, and the join in SQL.
    "q351_audio_fingerprint_neardup" -> ((s, dir) =>
      audioFpEdges(s, dir)
        .select(col("media_a"), col("media_b"), col("hamming_dist"))),

    // AUDIO NEAR-DUP CLUSTERS + SURVIVORS (the q351 lesson, BASELINE.md
    // r10: PAIR-LIST near-dup reporting is quadratic within dup
    // clusters for ANY LSH — the operator a 100 TB pipeline exposes is
    // clusters). The q351 band-join edge set routes through the
    // pointer-jump connected-components closure (q127's machinery);
    // every fingerprinted waveform lands in exactly one cluster
    // (singletons labeled by their own id), the survivor is the min
    // member (== the cluster label by min-propagation), and its
    // fingerprint rides along. Output rows are ~LINEAR in inputs where
    // q351's pairs grow quadratically within dup cliques. The oracle
    // restates the WHT fingerprint, the band join, and the closure as
    // a recursive CTE.
    "q371_audio_dup_clusters" -> ((s, dir) =>
      audioClusters(audioFingerprints(s, dir))),

    // VIDEO NEAR-DUP CLUSTERS from STORED MPEG-1 — closing the modality
    // matrix (text MinHash q22, image dHash q344, audio WHT q371/q377:
    // video was the one modality without a near-dup family). The stored
    // sequences decode through the REAL inter-frame decoder (motion
    // compensation reconstructs frames 1–3 from the I picture), each
    // sampled frame hashes into a 12-bit gradient-sign band (dHash over
    // the macroblock grid), candidates come from an exact frame-band
    // equality join (the LSH shape — never all-pairs), xor+popcount
    // Hamming ≤ 6 confirms, and the q371 closure rolls clusters +
    // survivors (sub-linear output in replicas — the 100 TB shape).
    // Brightness-lifted replicas hash identically; small edits land at
    // Hamming ≤ 2. The oracle restates the decoded planes (q362's
    // closed form), the hash, the band join, and the closure as a
    // recursive CTE.
    // (confirm threshold 2, not the audio family's 6: the video hash is
    // 48 bits against audio's 60, and the designed within-cluster edits
    // stay ≤ 2 bits — a looser bound percolates unrelated groups into
    // giant clusters once the corpus carries thousands of groups, the
    // failure mode a 100 TB near-dup metric must not have)
    "q390_video_dup_clusters" -> ((s, dir) =>
      audioClusters(videoFingerprints(s, dir), maxHd = 2)),

    // INCREMENTAL VIDEO DEDUP — q370/q379's delta-vs-corpus shape for
    // perceptual media: when a drop of new videos lands, classify ONLY
    // the drop against the STORED corpus band index (write-time
    // clustered on the band key, so the corpus side of the probe join
    // is exchange-free and the corpus is never re-fingerprinted — at
    // 100 TB re-decoding the archive per drop is the thing this
    // operator exists to avoid). The drop fingerprints in flight
    // (encode → REAL decode → hash inside the plan), candidates come
    // from band equality, Hamming ≤ 2 confirms (q390's percolation
    // lesson: the threshold derives from the 48-bit hash width and the
    // designed edit budget, NOT the audio family's ≤ 6), and each delta
    // video classifies exact (hd = 0) / near (0 < hd ≤ 2) / new,
    // carrying the min corpus match. The oracle restates both content
    // planes, the hashes, and the classification.
    "q392_video_dedup_delta" -> ((s, dir) => {
      val idx = videoBandIndex(s, dir)
      val delta = deltaVideoFingerprints(s, dir)
      val dbands = delta.select(col("did"), col("fp").as("dfp"), explode(array(
          struct(lit(0L).as("f"), col("b1").as("band")),
          struct(lit(1L).as("f"), col("b2").as("band")),
          struct(lit(2L).as("f"), col("b3").as("band")),
          struct(lit(3L).as("f"), col("b4").as("band")))).as("e"))
        .select(col("did"), col("dfp"),
          (col("e.f") * 32768 + col("e.band")).as("bk"))
      val cand = dbands.join(idx, Seq("bk"))
        .select(col("did"), col("dfp"), col("doc_id"), col("fp")).distinct()
        .withColumn("hd", expr("bit_count(dfp ^ fp)").cast("long"))
        .filter(col("hd") <= 2) // q390's video confirm threshold
      val best = cand.groupBy(col("did"))
        .agg(min(col("hd")).as("min_hd"), min(col("doc_id")).as("dup_of"))
      delta.select(col("did")).join(best, Seq("did"), "left")
        .select(col("did"),
          when(col("min_hd") === 0, "exact")
            .when(col("min_hd").isNotNull, "near")
            .otherwise("new").as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
    }),

    // VIDEO INDEX LIFECYCLE (VERDICT r12 #2): the maintained band index
    // — built once, grown by a drop-1 survivor append, masked by a
    // retention sweep — serves a SECOND drop. Role-0/1 probes re-encode
    // corpus content (brightness-lifted), so expired cohorts flip to
    // `new` and surviving cohorts answer with the surviving holder;
    // role-2 probes re-encode drop-1 survivor content, so the appended
    // rows must serve (`exact`, dup_of = the +50M delta id). The corpus
    // anti-join against the dead sidecar and the probe joins are all
    // co-located on the bucketed band key — the corpus side never
    // shuffles, and it was never re-decoded after build. The oracle
    // restates the whole lifecycle: corpus plane, drop-1 plane and its
    // survivor calculus, the expiry cohort, the probe plane, the band
    // join, and the classification.
    "q394_video_index_lifecycle" -> ((s, dir) => {
      val (corpus, delta, dead) = videoLifecycleIndex(s, dir)
      val liveCorpus = corpus.join(dead, Seq("bk", "doc_id"), "left_anti")
      val pbands = bandRows(probeVideoFingerprints(s, dir), "did")
      def cands(ix: DataFrame) = pbands.join(ix, Seq("bk"))
        .select(col("did"), col("dfp"), col("doc_id"), col("fp"))
      val cand = cands(liveCorpus).unionByName(cands(delta)).distinct()
        .withColumn("hd", expr("bit_count(dfp ^ fp)").cast("long"))
        .filter(col("hd") <= 2) // q390's video confirm threshold
      val best = cand.groupBy(col("did"))
        .agg(min(col("hd")).as("min_hd"), min(col("doc_id")).as("dup_of"))
      // the left side only needs the probe IDS — deriving them from the
      // documents table avoids a second full encode→decode→hash pass
      // over the probe drop (the ids are doc_id + 90M by construction)
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select((col("doc_id") + 90000000L).as("did"))
        .join(best, Seq("did"), "left")
        .select(col("did"),
          when(col("min_hd") === 0, "exact")
            .when(col("min_hd").isNotNull, "near")
            .otherwise("new").as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
    }),

    // VIDEO INDEX STREAMING MAINTAINER (VERDICT r13 #3): q394's
    // lifecycle — build, survivor append, retention, compaction —
    // replayed through BandMaintain micro-batches; the probe over the
    // stream-built store must serve q394's classifications VERBATIM
    // (the oracle is q394's). The store side stays exchange-free at
    // probe time: the (small) probe band rows broadcast into the
    // bk-clustered store scan, and the corpus was decoded exactly once,
    // at ingest.
    "q397_video_index_stream" -> ((s, dir) => {
      val store = streamedVideoStore(s, dir)
      val idx = graft.streaming.BandMaintain.bands(s, store)
      val pbands = bandRows(probeVideoFingerprints(s, dir), "did")
      val cand = idx.join(broadcast(pbands), Seq("bk"))
        .select(col("did"), col("dfp"), col("doc_id"), col("fp")).distinct()
        .withColumn("hd", expr("bit_count(dfp ^ fp)").cast("long"))
        .filter(col("hd") <= 2) // q390's video confirm threshold
      val best = cand.groupBy(col("did"))
        .agg(min(col("hd")).as("min_hd"), min(col("doc_id")).as("dup_of"))
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select((col("doc_id") + 90000000L).as("did"))
        .join(best, Seq("did"), "left")
        .select(col("did"),
          when(col("min_hd") === 0, "exact")
            .when(col("min_hd").isNotNull, "near")
            .otherwise("new").as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
    }),

    // H.264 INTRA ROUND TRIP (VERDICT r13 #5 — the dominant real-crawl
    // codec's tractable core): per doc a 4-frame IDR stream (Baseline,
    // CAVLC, I_4x4 + all three I_16x16 prediction modes, levels through
    // the prefix-14/15/16 escapes) is encoded, STORED, scanned back and
    // decoded; flat-MB content makes every reconstruction step exact
    // (the encoder asserts its levels hit the target residuals), so the
    // oracle restates all four luma planes and the inter-frame delta
    // mass in closed form. Kind predicate pushed to the stored scan.
    "q398_h264_intra_roundtrip" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(storedH264Path(s, dir))
        .where(col("kind") === "h264")
        .select(col("media_id"), col("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val d = graft.multimodal.H264.decode(bytes).get
          var sumY = 0L; var dm = 0L
          for (fi <- d.frames.indices) {
            val y = d.frames(fi).y
            var j = 0
            while (j < y.length) {
              sumY += y(j)
              if (fi > 0) dm += math.abs(y(j) - d.frames(fi - 1).y(j))
              j += 1
            }
          }
          (id, d.width.toLong, d.height.toLong, d.frames.length.toLong,
            sumY, dm)
        }.toDF("media_id", "width", "height", "n_frames", "sum_y",
          "delta_mass")
    }),

    // H.264 NEAR-DUP PAIRS over the stored corpus (q351's band-join
    // discipline on the new codec): decode → per-frame gradient-sign
    // band → band-equality candidates → Hamming confirm. Role-1 docs
    // are brightness-lifted re-encodes of their group's role-0 content
    // (sign-invariant → hd 0); role-2 docs are re-authored. Never
    // all-pairs: candidates come from the band join alone.
    "q399_h264_dedup_pairs" -> ((s, dir) => {
      import s.implicits._
      val fps = s.read.parquet(storedH264Path(s, dir))
        .where(col("kind") === "h264")
        .select(col("media_id"), col("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val (b1, b2, b3, b4, fp) = h264Fp(bytes)
          (id, b1, b2, b3, b4, fp)
        }.toDF("doc_id", "b1", "b2", "b3", "b4", "fp")
        .localCheckpoint() // decode once: both join sides read this
      val bands = fps.select(col("doc_id"), col("fp"), explode(array(
          struct(lit(0L).as("f"), col("b1").as("band")),
          struct(lit(1L).as("f"), col("b2").as("band")),
          struct(lit(2L).as("f"), col("b3").as("band")),
          struct(lit(3L).as("f"), col("b4").as("band")))).as("e"))
        .select(col("doc_id"), col("fp"), col("e.f").as("f"),
          col("e.band").as("band"))
      val x = bands.select(col("doc_id").as("a"), col("fp").as("fa"),
        col("f"), col("band"))
      val y = bands.select(col("doc_id").as("b"), col("fp").as("fb"),
        col("f"), col("band"))
      x.join(y, Seq("f", "band")).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          expr("bit_count(fa ^ fb)").cast("long").as("hd"))
        .distinct()
        .filter(col("hd") <= 2) // q390's video confirm threshold
        .select(col("a").as("media_a"), col("b").as("media_b"),
          col("hd").as("hamming_dist"))
    }),

    // CROSS-CODEC NEAR-DUP (the codec-agnostic dedup a crawl corpus
    // needs): the same scene stored as MPEG-1 and as H.264 — different
    // byte streams, different entropy coders — must dedup, because the
    // fingerprint hashes the DECODED planes, which both codecs
    // reconstruct exactly. Role-0 (MPEG) ↔ role-1 (H.264) pairs confirm
    // at hd 0; the oracle is one closed plane formula regardless of
    // codec, plus the role → kind mapping.
    "q400_crosscodec_dedup" -> ((s, dir) => {
      import s.implicits._
      val fps = s.read.parquet(storedCrossCodecPath(s, dir))
        .select(col("media_id"), col("kind"), col("bytes"))
        .as[(Long, String, Array[Byte])]
        .map { case (id, kind, bytes) =>
          val (width, frames) = lumaFrames(kind, bytes)
          val bands = Array.tabulate(4) { f =>
            val y = frames(f)
            var band = 0L
            for (by <- 0 until 3; c <- 0 until 3) {
              val l = y((by * 16 + 8) * width + c * 16 + 8)
              val r = y((by * 16 + 8) * width + (c + 1) * 16 + 8)
              if (r > l) band |= 1L << (by * 3 + c)
            }
            band
          }
          val fp = bands.zipWithIndex.map { case (b, f) => b << (f * 15) }
            .reduce(_ | _)
          (id, kind, bands(0), bands(1), bands(2), bands(3), fp)
        }.toDF("doc_id", "kind", "b1", "b2", "b3", "b4", "fp")
        .localCheckpoint() // decode once: both join sides read this
      val bands = fps.select(col("doc_id"), col("kind"), col("fp"),
          explode(array(
            struct(lit(0L).as("f"), col("b1").as("band")),
            struct(lit(1L).as("f"), col("b2").as("band")),
            struct(lit(2L).as("f"), col("b3").as("band")),
            struct(lit(3L).as("f"), col("b4").as("band")))).as("e"))
        .select(col("doc_id"), col("kind"), col("fp"),
          col("e.f").as("f"), col("e.band").as("band"))
      val x = bands.select(col("doc_id").as("a"), col("kind").as("kind_a"),
        col("fp").as("fa"), col("f"), col("band"))
      val y = bands.select(col("doc_id").as("b"), col("kind").as("kind_b"),
        col("fp").as("fb"), col("f"), col("band"))
      x.join(y, Seq("f", "band")).filter(col("a") < col("b"))
        .select(col("a"), col("kind_a"), col("b"), col("kind_b"),
          expr("bit_count(fa ^ fb)").cast("long").as("hd"))
        .distinct()
        .filter(col("hd") <= 2)
        .select(col("a").as("media_a"), col("b").as("media_b"),
          col("kind_a"), col("kind_b"), col("hd").as("hamming_dist"))
    }),

    // CROSS-CODEC INDEX MIGRATION (q400 × q394): the maintained band
    // index holds BOTH codecs' fingerprints; the MPEG originals are
    // then retired (tombstone + physical compaction — the
    // transcode-and-drop-originals migration). Probes re-encode the
    // corpus scenes as H.264: they must STILL classify `exact`, now
    // against the H.264 twins (dedup continuity through a codec
    // migration); re-authored probe groups classify `new`. The oracle
    // restates the live (post-migration) index and the classification.
    "q401_crosscodec_index_migrate" -> ((s, dir) => {
      import s.implicits._
      val store = crossCodecIndexStore(s, dir)
      val idx = graft.streaming.BandMaintain.bands(s, store)
      val probes = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(9)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val pid = id + 70000000L
          val v = crossCodecProbePlane(pid) _
          val frames = (0 until 4).map(f =>
            graft.multimodal.H264.FramePlan((bx, by) =>
              graft.multimodal.H264.MbI16(v(f, bx, by))))
          val (b1, b2, b3, b4, fp) =
            h264Fp(graft.multimodal.H264.encode(64, 48, frames))
          (pid, b1, b2, b3, b4, fp)
        }.toDF("did", "b1", "b2", "b3", "b4", "fp")
      // bandRows' bk = f·2¹⁵ + band is exactly BandMaintain's key
      val cand = idx.join(broadcast(bandRows(probes, "did")), Seq("bk"))
        .select(col("did"), col("dfp"), col("doc_id"), col("fp")).distinct()
        .withColumn("hd", expr("bit_count(dfp ^ fp)").cast("long"))
        .filter(col("hd") <= 2)
      val best = cand.groupBy(col("did"))
        .agg(min(col("hd")).as("min_hd"), min(col("doc_id")).as("dup_of"))
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 70000000L).as("did"))
        .join(best, Seq("did"), "left")
        .select(col("did"),
          when(col("min_hd") === 0, "exact")
            .when(col("min_hd").isNotNull, "near")
            .otherwise("new").as("status"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
    }),

    // MOTION-COMPENSATED H.264 round-trip census (the moving-scene
    // inter class — real vectors, skip-run interleaving, residual-on-
    // motion): decode the stored streams (role 0 all-intra, role 1
    // I + 3 motion P frames of the SAME planes, role 2 re-authored)
    // and census each; the oracle restates the moving planes in one
    // closed form, so a P-frame reconstruction error of even one pel
    // hash-mismatches.
    "q404_h264_motion_roundtrip" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(storedH264MotionPath(s, dir))
        .where(col("kind") === "h264")
        .select(col("media_id"), col("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val d = graft.multimodal.H264.decode(bytes).get
          var sumY = 0L; var dm = 0L
          for (fi <- d.frames.indices) {
            val y = d.frames(fi).y
            var j = 0
            while (j < y.length) {
              sumY += y(j)
              if (fi > 0) dm += math.abs(y(j) - d.frames(fi - 1).y(j))
              j += 1
            }
          }
          (id, d.width.toLong, d.height.toLong, d.frames.length.toLong,
            sumY, dm)
        }.toDF("media_id", "width", "height", "n_frames", "sum_y",
          "delta_mass")
    }),

    // MOTION-RECODED NEAR-DUP (q399's band discipline on moving
    // content): role-1 docs carry the SAME scene as their group's
    // role-0 doc but stored through motion compensation instead of
    // intra coding — different byte streams, different slice types,
    // identical decoded planes. Dedup fingerprints the DECODED planes,
    // so the motion-recoded duplicate still collides at hd 0; the
    // re-authored role-2 docs do not. Candidates come from the band
    // join alone — never all-pairs.
    "q405_h264_motion_dedup" -> ((s, dir) => {
      import s.implicits._
      val fps = s.read.parquet(storedH264MotionPath(s, dir))
        .where(col("kind") === "h264")
        .select(col("media_id"), col("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val (b1, b2, b3, b4, fp) = h264Fp(bytes)
          (id, b1, b2, b3, b4, fp)
        }.toDF("doc_id", "b1", "b2", "b3", "b4", "fp")
        .localCheckpoint() // decode once: both join sides read this
      val bands = fps.select(col("doc_id"), col("fp"), explode(array(
          struct(lit(0L).as("f"), col("b1").as("band")),
          struct(lit(1L).as("f"), col("b2").as("band")),
          struct(lit(2L).as("f"), col("b3").as("band")),
          struct(lit(3L).as("f"), col("b4").as("band")))).as("e"))
        .select(col("doc_id"), col("fp"), col("e.f").as("f"),
          col("e.band").as("band"))
      val x = bands.select(col("doc_id").as("a"), col("fp").as("fa"),
        col("f"), col("band"))
      val y = bands.select(col("doc_id").as("b"), col("fp").as("fb"),
        col("f"), col("band"))
      x.join(y, Seq("f", "band")).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          expr("bit_count(fa ^ fb)").cast("long").as("hd"))
        .distinct()
        .filter(col("hd") <= 2)
        .select(col("a").as("media_a"), col("b").as("media_b"),
          col("hd").as("hamming_dist"))
    }),

    // CABAC ROUND-TRIP census: the stored streams are entropy-coded
    // with the clause-9.3 arithmetic engine (context models, UEG0
    // levels, end-of-slice terminates; the init-constant cut is stated
    // in H264Cabac) over the SAME closed plane formula as the CAVLC
    // store — the DuckDB oracle therefore pins the whole arithmetic
    // decode path: one mis-decoded bin shifts a level and the census
    // hash-mismatches.
    "q406_h264_cabac_roundtrip" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(storedH264CabacPath(s, dir))
        .where(col("kind") === "h264")
        .select(col("media_id"), col("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val d = graft.multimodal.H264.decode(bytes).get
          var sumY = 0L; var dm = 0L
          for (fi <- d.frames.indices) {
            val y = d.frames(fi).y
            var j = 0
            while (j < y.length) {
              sumY += y(j)
              if (fi > 0) dm += math.abs(y(j) - d.frames(fi - 1).y(j))
              j += 1
            }
          }
          (id, d.width.toLong, d.height.toLong, d.frames.length.toLong,
            sumY, dm)
        }.toDF("media_id", "width", "height", "n_frames", "sum_y",
          "delta_mass")
    }),

    // STORED-corpus codec censuses (q345's storage pattern for the
    // round-10 families): each scans its kind's STORED binary column
    // (relational kind predicate → parquet prunes before decode) and
    // reuses the in-plan round-trip query's oracle verbatim — same
    // decoded plane, but the bytes come off disk through footer stats
    // and the partitioned layout, not out of the plan that made them.
    "q372_stored_flac_census" -> ((s, dir) => {
      import s.implicits._
      storedRawKind(s, dir, "flac").as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val d = graft.multimodal.Flac.decode(bytes).get
          var sum = 0L; var wsum = 0L; var j = 0
          while (j < d.samples.length) {
            sum += d.samples(j)
            wsum += d.samples(j).toLong * ((j % 97) + 1)
            j += 1
          }
          (id, d.channels.toLong, d.samples.length.toLong, d.nFrames.toLong,
            d.sampleRate.toLong, sum, wsum,
            bytes.length < 2 * d.samples.length)
        }.toDF("doc_id", "channels", "n_samples", "n_frames",
          "sample_rate", "sum_samples", "wsum", "compressed_ok")
    }),

    "q374_stored_mp3_census" -> ((s, dir) => {
      import s.implicits._
      storedRawKind(s, dir, "mp3").as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val c = graft.sources.Mp3Frames.census(bytes).get
          (id, c.nFrames.toLong, c.sampleRate.toLong, c.bitrateSumKbps,
            c.paddedFrames.toLong, c.totalFrameBytes,
            c.id3v2Bytes.toLong, c.hasId3v1, bytes.length.toLong)
        }.toDF("media_id", "n_frames", "sample_rate", "bitrate_sum",
          "padded_frames", "frame_bytes", "id3v2_bytes", "has_id3v1",
          "total_len")
    }),

    "q373_stored_avro_census" -> ((s, dir) => {
      import s.implicits._
      storedRawKind(s, dir, "avro").as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val ocf = graft.sources.AvroOcf.decode(bytes).get
          val idSum = ocf.records.map(_(0).asInstanceOf[Long]).sum
          val scoreSum = ocf.records.map(_(2).asInstanceOf[Double]).sum
          val nKept = ocf.records.count(_(3).asInstanceOf[Boolean])
          val titles = ocf.records.map(_(1).asInstanceOf[String])
            .mkString("|")
          (id, ocf.codec, ocf.records.length.toLong, idSum, scoreSum,
            nKept.toLong, titles)
        }.toDF("doc_id", "codec", "n_records", "id_sum", "score_sum",
          "n_kept", "titles")
    }),

    "q375_stored_tar_census" -> ((s, dir) => {
      import s.implicits._
      storedRawKind(s, dir, "tar").as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val es = graft.sources.Tar.parse(bytes).getOrElse(Vector.empty)
          val txt = es.find(_.name.endsWith(".txt"))
            .map(e => new String(e.payload, "UTF-8")).getOrElse("")
          (id, es.length.toLong, es.count(_.typeflag == '5').toLong,
            bytes.length.toLong,
            es.map(_.payload.length.toLong).sum, txt)
        }.toDF("doc_id", "n_members", "n_dirs", "tar_len", "payload_bytes",
          "text")
        .select(col("doc_id"), col("n_members"), col("n_dirs"),
          col("tar_len"), col("payload_bytes"),
          md5(col("text")).as("text_md5"))
    }),

    "q376_stored_wiki_census" -> ((s, dir) => {
      import s.implicits._
      storedRawKind(s, dir, "wiki").as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val back = graft.sources.Bzip2.decompress(bytes)
            .map(new String(_, "UTF-8"))
            .flatMap(graft.sources.WikiDump.pages)
            .getOrElse(Vector.empty)
          val article = back.find(_.ns == 0)
          val talk = back.find(_.ns == 1)
          (id, back.length.toLong,
            article.map(_.title).getOrElse(""),
            back.map(_.ns.toLong).sum,
            back.map(_.id).sum,
            article.map(_.text).getOrElse(""),
            talk.map(_.text).getOrElse(""))
        }.toDF("doc_id", "n_pages", "title", "ns_sum", "page_id_sum",
          "article", "talk_text")
        .select(col("doc_id"), col("n_pages"), col("title"), col("ns_sum"),
          col("page_id_sum"), md5(col("article")).as("article_md5"),
          col("talk_text"))
    }),

    // stored-FLAC fingerprint clusters (the end-to-end audio-corpus
    // dedup shape: decode from STORAGE → fingerprint → cluster): the
    // q351 waveform family decoded from the stored `flacfp` column —
    // FLAC is lossless, so the fingerprint plane (and the oracle) is
    // q371's exactly
    "q377_stored_flac_fingerprint" -> ((s, dir) => {
      import s.implicits._
      val fps = storedRawKind(s, dir, "flacfp").as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val pcm = graft.multimodal.Flac.decode(bytes).get.samples
          val (b1, b2, b3, b4, fp) = whtFingerprint(pcm)
          (id, b1, b2, b3, b4, fp)
        }.toDF("doc_id", "b1", "b2", "b3", "b4", "fp")
      audioClusters(fps)
    }),

    // PDF TEXT EXTRACTION (ISO 32000-1): the other dominant crawl
    // document format after HTML — each doc builds a REAL multi-page
    // PDF (xref table, catalog → page tree → content streams,
    // alternating plain and FlateDecode streams, Tj and kerned-TJ show
    // ops, escape-bearing literals) and extracts its text back through
    // the full document walk in `multimodal/Pdf.scala`. The in-plan
    // require pins extraction == intended text; the oracle restates the
    // word synthesis, page/op arithmetic, and md5 of the text.
    "q352_pdf_text_extract" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val vocab = Array("alpha", "bravo", "charlie", "delta", "echo",
            "foxtrot", "go(lf)", "hotel")
          val nw = (id % 9 + 4).toInt
          val words = Array.tabulate(nw)(k => vocab(((id * 13 + k * 7) % 8).toInt))
          val full = words.mkString(" ")
          // 2-word chunks; leading space keeps concatenation == full text
          val chunks = words.grouped(2).toVector.zipWithIndex.map {
            case (g, m) => (if (m > 0) " " else "") + g.mkString(" ")
          }
          val nPages = (1 + id % 3).toInt
          val per = (chunks.size + nPages - 1) / nPages
          val pages = (0 until nPages).map(p =>
            chunks.slice(p * per, (p + 1) * per))
          val pdf = graft.multimodal.Pdf.synthetic(pages, (id / 3) % 2 == 0)
          val t = graft.multimodal.Pdf.extractText(pdf).get
          require(t.text == full, s"extraction diverged for doc $id")
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(t.text.getBytes("UTF-8")).map("%02x".format(_)).mkString
          (id, t.nPages, t.nTextOps.toLong, t.text.length.toLong, md5)
        }.toDF("media_id", "n_pages", "n_text_ops", "n_chars", "text_md5")
    }),

    // LOSSLESS JPEG (SOF3, T.81 Annex H): per-sample predictive coding
    // — no DCT, no quantizer — so ARBITRARY images round-trip
    // bit-exactly and the oracle restates the raw pixel formula with no
    // block-flat construction at all (every other JPEG oracle needs
    // DC-only spectra for exactness; this one doesn't). The predictor
    // selector cycles 1..7 across docs, covering the whole Annex H
    // predictor family; the format DICOM and raw-photo pipelines
    // actually store.
    "q354_jpeg_lossless" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 21 + 6).toInt; val h = (id % 13 + 6).toInt
          val sel = (id % 7 + 1).toInt
          def v(x: Int, y: Int) =
            ((id * 31 + x * 37 + y * 101 + (x * y) % 29) % 256).toInt
          val jpg = graft.multimodal.Jpeg.encodeGrayLossless(w, h, v, sel)
          val (dw, dh, px) = graft.multimodal.Jpeg.decodeGrayPlane(jpg).get
          var sum = 0L; var peak = 0L
          px.foreach { p => sum += p; if (p > peak) peak = p.toLong }
          (id, sel.toLong, dw, dh, dw.toLong * dh, sum, peak)
        }.toDF("media_id", "predictor", "width", "height", "n_px",
          "sum_gray", "peak_gray")
    }),

    // FLAC (RFC 9639): the lossless audio format speech/music corpora
    // actually ship in — REAL encode (CONSTANT/FIXED/LPC subframes,
    // Rice coding, left/side decorrelation, STREAMINFO PCM-MD5) + REAL
    // decode with every integrity check the spec defines (CRC-8 header,
    // CRC-16 frame, MD5 stream). The PCM is an integer sawtooth both
    // engines restate exactly (no libm); mono/stereo alternate per doc,
    // multi-frame streams (block size 512). The decode VERIFIES the
    // STREAMINFO MD5 against the reconstructed PCM, so a single wrong
    // sample anywhere kills the row — the oracle then restates sample
    // count, frame arithmetic and two exact PCM folds. Per-row codec:
    // scan-bound, zero shuffles (the audio-corpus ingest shape).
    "q358_flac_roundtrip" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val ch = 1 + (id % 2).toInt
          val n = 600 + (id % 5).toInt * 500
          def l(i: Int): Int = (i % 50) * 80 - 1960 + ((id + i) % 9).toInt
          val inter = new Array[Int](n * ch)
          var i = 0
          while (i < n) {
            if (ch == 1) inter(i) = l(i)
            else {
              inter(2 * i) = l(i)
              inter(2 * i + 1) = l(i) + (i % 7) - 3
            }
            i += 1
          }
          val flac = graft.multimodal.Flac.encode(inter, 16000, ch, 512)
          val d = graft.multimodal.Flac.decode(flac).get
          var sum = 0L; var wsum = 0L
          var j = 0
          while (j < d.samples.length) {
            sum += d.samples(j)
            wsum += d.samples(j).toLong * ((j % 97) + 1)
            j += 1
          }
          (id, ch.toLong, d.samples.length.toLong, d.nFrames.toLong,
            d.sampleRate.toLong, sum, wsum,
            flac.length < 2 * n * ch)
        }.toDF("doc_id", "channels", "n_samples", "n_frames",
          "sample_rate", "sum_samples", "wsum", "compressed_ok")
    }),

    // APNG (W3C PNG 3rd edition animation chunks): the OTHER animated
    // image class next to GIF89a (q343) — full 8-bit-alpha inter-frame
    // composition. Each doc becomes a REAL 4-frame APNG exercising the
    // whole op matrix: full-canvas base (SOURCE/NONE), a patch that is
    // REVERTED (dispose PREVIOUS), an alpha-checkered patch blended
    // OVER then CLEARED (dispose BACKGROUND), and a final SOURCE patch
    // over the hole. The decoder walks chunks (CRC-verified), inflates
    // per-frame zlib streams, reverses scanline filters and composes;
    // the oracle restates all four composed canvases as CASE algebra
    // over region membership — any dispose/blend/offset error diverges.
    // Per-row decode: scan-bound, zero shuffles.
    "q361_apng_anim_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val sw = (id % 12 + 6).toInt; val sh = (id % 8 + 5).toInt
          def reg(f: Int): (Int, Int, Int, Int) = {
            val lf = ((id + 2 * f) % (sw - 1)).toInt
            val tp = ((id + 3 * f) % (sh - 1)).toInt
            val rw = ((id + 5 * f) % (sw - lf - 1)).toInt + 1
            val rh = ((id + 7 * f) % (sh - tp - 1)).toInt + 1
            (lf, tp, rw, rh)
          }
          def m(v: Long): Int = ((v % 256 + 256) % 256).toInt
          val f0 = graft.multimodal.Apng.FrameSpec(0, 0, sw, sh, 0, 0, 3, 100,
            (x, y) => (m(id + 3 * x + 5 * y), m(2 * id + 7 * x + y),
              m(x.toLong * y + id), 255))
          val (l1, t1, w1, h1) = reg(1)
          val f1 = graft.multimodal.Apng.FrameSpec(l1, t1, w1, h1, 2, 0, 3, 100,
            (x, y) => (m(id + 11 * x + 13 * y), m(id + 2 * x),
              m(3L * y + id), 255))
          val (l2, t2, w2, h2) = reg(2)
          val f2 = graft.multimodal.Apng.FrameSpec(l2, t2, w2, h2, 1, 1, 3, 100,
            (x, y) => (m(5L * x + y + id), m(x + 5L * y + id), m(id + 7),
              if ((x + y + id) % 2 == 0) 255 else 0))
          val (l3, t3, w3, h3) = reg(3)
          val f3 = graft.multimodal.Apng.FrameSpec(l3, t3, w3, h3, 0, 0, 3, 100,
            (x, y) => (m(id + x + y), m(id * 3 + x), m(y + 2 * id), 255))
          val bytes = graft.multimodal.Apng.encode(sw, sh, (id % 4).toInt,
            Seq(f0, f1, f2, f3))
          val a = graft.multimodal.Apng.decode(bytes).get
          var sumR = 0L; var sumG = 0L; var sumB = 0L
          var opaquePx = 0L; var motion = 0L
          for (fi <- a.canvases.indices) {
            val c = a.canvases(fi)
            var j = 0
            while (j < c.length) {
              sumR += (c(j) >> 16) & 0xFF
              sumG += (c(j) >> 8) & 0xFF
              sumB += c(j) & 0xFF
              if (((c(j) >>> 24) & 0xFF) == 255) opaquePx += 1
              if (fi > 0)
                motion += math.abs(((c(j) >> 16) & 0xFF) -
                  ((a.canvases(fi - 1)(j) >> 16) & 0xFF))
              j += 1
            }
          }
          (id, sw.toLong, sh.toLong, a.canvases.length.toLong,
            a.numPlays.toLong, sumR, sumG, sumB, opaquePx, motion)
        }.toDF("media_id", "width", "height", "n_frames", "num_plays",
          "sum_r", "sum_g", "sum_b", "opaque_px", "motion_r")
    }),

    // MP3 FRAME CENSUS (ISO 11172-3 framing + ID3 wrappers) — the
    // no-decode audio-corpus census an ingest planner runs: frame
    // boundaries, bitrate mass, duration — the q357 zstd-frame-walk
    // role for the dominant consumer audio format. Real framing
    // arithmetic end to end (syncsafe ID3v2 size, frame length
    // 144·bitrate/rate + padding, ID3v1 trailer); the oracle restates
    // the bitrate table and every length. Per-row walk: scan-bound.
    "q369_mp3_census" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).transform(Tables.spread(s, _, "doc_id")).as[Long]
        .map { id =>
          val n = 20 + (id % 10).toInt
          val frames = (0 until n).map(f =>
            (((id + f) % 14).toInt + 1, (id + 3 * f) % 4 == 0))
          val id3 = s"artist=a$id".getBytes("US-ASCII")
          val mp3 = graft.sources.Mp3Frames.encode(frames, (id % 3).toInt,
            id3, id3v1 = id % 2 == 0)
          val c = graft.sources.Mp3Frames.census(mp3).get
          (id, c.nFrames.toLong, c.sampleRate.toLong, c.bitrateSumKbps,
            c.paddedFrames.toLong, c.totalFrameBytes,
            c.id3v2Bytes.toLong, c.hasId3v1, mp3.length.toLong)
        }.toDF("media_id", "n_frames", "sample_rate", "bitrate_sum",
          "padded_frames", "frame_bytes", "id3v2_bytes", "has_id3v1",
          "total_len")
    }),

    // G.711 TELEPHONY AUDIO (ITU-T μ-law / A-law) — how 8 kHz speech
    // corpora are actually stored: 8-bit log-companded samples inside
    // WAV fmt tags 7/6. The expansion is EXACT integer arithmetic over
    // sign/segment/mantissa (((8m+132)<<s)-132 for μ-law; the 0x55-
    // inverted A-law segments), so the oracle restates both formulas
    // byte for byte. Real RIFF walk end to end ([[Multimodal
    // .wavSamples]] gained the two companded formats). Per-row decode:
    // scan-bound, zero shuffles.
    "q366_g711_decode" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val n = 400 + (id % 5).toInt * 100
          val fmt = if (id % 2 == 0) 7 else 6
          val companded = Array.tabulate(n)(i =>
            ((id * 13 + i * 7) % 256).toByte)
          val wav = graft.multimodal.Multimodal.syntheticWavG711(
            8000, 1, fmt, companded)
          val (rate, ch, pcm) =
            graft.multimodal.Multimodal.wavSamples(wav).get
          var sum = 0L; var wsum = 0L; var peak = 0L
          var i = 0
          while (i < pcm.length) {
            sum += pcm(i)
            wsum += pcm(i).toLong * ((i % 89) + 1)
            if (math.abs(pcm(i).toLong) > peak) peak = math.abs(pcm(i).toLong)
            i += 1
          }
          (id, if (fmt == 7) "mulaw" else "alaw", rate.toLong, ch.toLong,
            pcm.length.toLong, sum, wsum, peak)
        }.toDF("media_id", "law", "sample_rate", "channels", "n_samples",
          "sum_pcm", "wsum_pcm", "peak_abs")
    }),

    // TIFF 6.0 baseline — the document-scan container (archival scans,
    // OCR corpora): both byte orders, the IFD walk, multi-strip
    // geometry and all three baseline compressions (none / LZW §13
    // with the early code-width change / PackBits), cycled across
    // docs. Externally cross-checked: the JDK's independent ImageIO
    // TIFF plugin reads our files and we read its (TiffSpec) — unlike
    // the MPEG/arithmetic-JPEG classes this codec has a second
    // implementation in the container. The oracle restates the pixel
    // formula and strip arithmetic. Per-row decode: scan-bound.
    "q363_tiff_decode" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 19 + 12).toInt; val h = (id % 11 + 8).toInt
          val spp = if (id % 2 == 0) 1 else 3
          val comp = (id % 3) match { case 0 => 1; case 1 => 5; case _ => 32773 }
          val rps = (id % 4 + 3).toInt
          def px(x: Int, y: Int, ss: Int): Int =
            ((id + 7 * x + 13 * y + 29 * ss) % 256).toInt
          val bytes = graft.multimodal.Tiff.encode(w, h, spp, px, comp,
            rps, littleEndian = id % 2 == 0)
          val img = graft.multimodal.Tiff.decode(bytes).get
          var sum = 0L; var peak = 0L
          img.pixels.foreach { p => sum += p; if (p > peak) peak = p.toLong }
          (id, img.width.toLong, img.height.toLong,
            img.samplesPerPixel.toLong, img.compression.toLong,
            img.nStrips.toLong, sum, peak)
        }.toDF("media_id", "width", "height", "spp", "compression",
          "n_strips", "sum_px", "peak_px")
    }),

    // MPEG-1 VIDEO (ISO 11172-2) — the INTER-FRAME codec class the
    // family previously rejected: every doc becomes a real I+P
    // sequence whose content translates one macroblock per frame, so
    // P pictures carry REAL forward motion compensation (differential
    // vectors with f-code residual bits) plus an intra refresh column
    // for the entering content. MB-flat intra blocks keep the IDCT
    // exact (the JPEG DC-only trick), so the oracle restates every
    // reconstructed frame in closed form — any error in the layer walk,
    // VLCs, DC prediction, MV reconstruction or MC addressing diverges.
    // Per-row codec: scan-bound, zero shuffles.
    "q362_mpeg1_motion" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = 48; val h = 32
          val nP = (id % 3).toInt + 1
          def g(u: Int, v: Int): Int =
            (16 + (((u % 7 + 7) % 7) * 17 + v * 29 + id) % 224).toInt
          val frames = graft.multimodal.Mpeg1.FramePlan(intra = true,
            (bx, by) => graft.multimodal.Mpeg1.MbIntra(g(bx, by))) +:
            (1 to nP).map { f =>
              graft.multimodal.Mpeg1.FramePlan(intra = false, (bx, by) =>
                if (bx == 0) graft.multimodal.Mpeg1.MbIntra(g(bx - f, by))
                else graft.multimodal.Mpeg1.MbMc(-16, 0))
            }
          val bytes = graft.multimodal.Mpeg1.encode(w, h, frames.toSeq)
          val d = graft.multimodal.Mpeg1.decode(bytes).get
          var sumY = 0L; var motion = 0L
          for (fi <- d.frames.indices) {
            val y = d.frames(fi).y
            var j = 0
            while (j < y.length) {
              sumY += y(j)
              if (fi > 0) motion += math.abs(y(j) - d.frames(fi - 1).y(j))
              j += 1
            }
          }
          (id, w.toLong, h.toLong, d.frames.length.toLong, sumY, motion)
        }.toDF("media_id", "width", "height", "n_frames", "sum_y",
          "motion_y")
    }),

    // MPEG-1 CODED-RESIDUAL P MACROBLOCKS (ISO 11172-2 table B.3 — the
    // one stated in-subset gap until round 13): each doc's sequence
    // carries all three coded shapes — '01' zero-vector residual with a
    // row-varying sign, '1' forward-MC plus residual, and '00001' with
    // its own quantizer_scale (16 → offsets ≡ 2 mod 4) — through the
    // REAL encode → decode round trip. The DC-only residual arithmetic
    // is exact by construction (rec = 8·|a|−1 rounds to |a|), so the
    // oracle restates both frames' macroblock planes and the residual
    // mass in closed form.
    "q395_mpeg1_residual_roundtrip" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id")).as[Long]
        .map { id =>
          import graft.multimodal.Mpeg1
          val w = 48; val h = 32
          def l0(bx: Int, by: Int): Int =
            (16 + (bx * 17 + by * 29 + id) % 200).toInt
          val p = Mpeg1.FramePlan(intra = false, (bx, by) => bx match {
            case 0 =>
              val s0 = if ((id + by) % 2 == 0) 1 else -1
              Mpeg1.MbCoded(s0 * (2 * ((id + by) % 5).toInt + 3))
            case 1 =>
              Mpeg1.MbMcCoded(-16, 0, 2 * ((id * 3 + by) % 5).toInt + 3)
            case _ =>
              Mpeg1.MbCoded(6 + 4 * ((id + by) % 3).toInt, requant = true)
          })
          val bytes = Mpeg1.encode(w, h, Seq(
            Mpeg1.FramePlan(intra = true,
              (bx, by) => Mpeg1.MbIntra(l0(bx, by))), p))
          val d = Mpeg1.decode(bytes).get
          val y0 = d.frames(0).y; val y1 = d.frames(1).y
          var s0 = 0L; var s1 = 0L; var dm = 0L
          var j = 0
          while (j < y0.length) {
            s0 += y0(j); s1 += y1(j); dm += math.abs(y1(j) - y0(j))
            j += 1
          }
          (id, w.toLong, h.toLong, d.frames.length.toLong, s0, s1, dm)
        }.toDF("media_id", "width", "height", "n_frames",
          "sum_y0", "sum_y1", "delta_mass")
    }),

    // PROGRESSIVE (SOF2) JPEG: alternating docs encode the SAME
    // block-flat image progressively (DC scan + spectral-selection AC
    // scan) or sequentially, and both decode through the dispatching
    // Jpeg entry — scan accumulation vs single-scan entropy decode —
    // to the one closed formula the oracle restates. The web-corpus
    // share VERDICT r7 #3 flagged now decodes instead of rejecting.
    "q324_jpeg_progressive_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val progressive = ((id / 3) % 2) == 0
          val w = (id % 24 + 8).toInt; val h = (id % 16 + 8).toInt
          def v(x: Int, y: Int) =
            ((id * 29 + (x / 8) * 7 + (y / 8) * 3) % 256).toInt
          val jpg =
            if (progressive) graft.multimodal.Jpeg.encodeGrayProgressive(w, h, v)
            else graft.multimodal.Jpeg.encodeGray(w, h, v)
          val p = graft.multimodal.Jpeg.decodeGray(jpg).get
          (id, if (progressive) "progressive" else "baseline",
            p.width, p.height, p.nPx, p.sumR, p.peakLumaMilli)
        }.toDF("media_id", "coding", "width", "height", "n_px",
          "sum_gray", "peak_luma_milli")
    }),

    // REAL COLOR baseline JPEG (3-component YCbCr, BOTH 4:4:4 and
    // 4:2:0): component interleave, per-component DC prediction, chroma
    // box subsample on encode / replication upsample on decode, and
    // fixed-point INTEGER color transforms (rgbToYcbcr/ycbcrToRgb,
    // per-mille coefficients, non-negative numerators) — so MCU-FLAT
    // color images round-trip exactly and the oracle restates the whole
    // encode→decode color arithmetic in SQL. Alternating docs take the
    // 4:2:0 path (16×16 flat MCUs) and the 4:4:4 path (8×8 tiles).
    "q312_jpeg_color_pixel_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val c420 = ((id / 3) % 2) == 0
          val t = if (c420) 16 else 8
          val w = (id % 20 + 12).toInt; val h = (id % 12 + 10).toInt
          val jpg = graft.multimodal.Jpeg.encodeColor(w, h,
            (x, y) => (((id * 13 + (x / t) * 17 + (y / t) * 29) % 256).toInt,
                       ((id * 7 + (x / t) * 23 + (y / t) * 31) % 256).toInt,
                       ((id * 31 + (x / t) * 37 + (y / t) * 41) % 256).toInt),
            c420)
          val p = graft.multimodal.Jpeg.decodeStats(jpg).get
          (id, if (c420) "420" else "444", p.width, p.height, p.nPx,
            p.sumR, p.sumG, p.sumB, p.sumLumaMilli, p.peakLumaMilli)
        }.toDF("media_id", "sampling", "width", "height", "n_px",
          "sum_r", "sum_g", "sum_b", "sum_luma_milli", "peak_luma_milli")
    }),

    // REAL VIDEO decode — MJPEG in AVI: the one video format whose
    // frames need no inter-frame codec (every frame an independent
    // baseline JPEG, which q298's decoder already handles). The RIFF
    // container walk (avih main header, strh MJPG check, movi 00dc
    // chunks with word alignment) and per-frame JPEG decode are both
    // real; block-flat frames round-trip exactly, so the per-video
    // folds — total gray mass and the frame-difference MOTION metric
    // Σ|g_f − g_{f−1}| — are oracle-checked bit-for-bit. Video is
    // decoded for the whole MJPEG class; only inter-frame codecs
    // (H.264/VP9) remain out.
    "q302_mjpeg_video_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val w = (id % 16 + 8).toInt; val h = (id % 8 + 8).toInt
          val nf = (id % 4 + 2).toInt
          val frames = (0 until nf).map { f =>
            graft.multimodal.Jpeg.encodeGray(w, h, (x, y) =>
              ((id * 29 + (x / 8) * 7 + (y / 8) * 3 + f * 19) % 256).toInt)
          }
          val avi = graft.multimodal.Avi.syntheticAvi(w, h, 40000L, frames)
          val v = graft.multimodal.Avi.aviVideo(avi).get
          val planes =
            v.frames.map(fb => graft.multimodal.Jpeg.decodeGrayPlane(fb).get)
          var sumGray = 0L; var motion = 0L
          for (fi <- planes.indices) {
            val px = planes(fi)._3
            var j = 0
            while (j < px.length) {
              sumGray += px(j)
              if (fi > 0) motion += math.abs(px(j) - planes(fi - 1)._3(j))
              j += 1
            }
          }
          (id, v.width, v.height, v.totalFrames, v.usPerFrame,
            v.width.toLong * v.height * v.totalFrames, sumGray, motion)
        }.toDF("media_id", "width", "height", "n_frames", "us_per_frame",
          "n_px_total", "sum_gray", "motion_abs")
    }),

    // INTER-FRAME video decode — animated GIF: frames are sub-rect
    // DELTAS composed onto the logical-screen canvas under GIF89a
    // Graphic Control semantics (disposal, transparency; GifAnimSpec
    // additionally pins disposal 2/3 and the JDK cross-check). Every
    // odd frame travels INTERLACED (4-pass row order) and every frame
    // f≥1 is a transparent-holed patch, so the decoder must run the
    // real LZW, de-interlace, and last-writer composition to reproduce
    // the oracle, which restates the composition relationally: the
    // canvas pixel at frame fv is the LAST non-transparent writer ≤ fv
    // (arg_max over covering frames). Folds: per-video luma mass over
    // all composed frames + the frame-difference motion metric.
    "q343_gif_anim_stats" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val sw = (id % 14 + 6).toInt; val sh = (id % 10 + 5).toInt
          val nf = (id % 3 + 2).toInt; val lp = (id % 4).toInt
          val pal = Array.tabulate(16) { k =>
            ((((k * 37 + id) % 256).toInt << 16) |
              (((k * 59 + 2 * id) % 256).toInt << 8) |
              ((k * 83 + 3 * id) % 256).toInt)
          }
          val specs = (0 until nf).map { f =>
            if (f == 0)
              graft.multimodal.GifAnim.FrameSpec(0, 0, sw, sh, 1, -1,
                ((id + 0) % 7 + 2).toInt, interlaced = false,
                (x, y) => ((id + 3 * x + 5 * y) % 16).toInt)
            else {
              val lf = ((id + 2 * f) % (sw - 1)).toInt
              val tp = ((id + 3 * f) % (sh - 1)).toInt
              val rw = ((id + 5 * f) % (sw - lf - 1) + 1).toInt
              val rh = ((id + 7 * f) % (sh - tp - 1) + 1).toInt
              graft.multimodal.GifAnim.FrameSpec(lf, tp, rw, rh, 1, 0,
                ((id + f) % 7 + 2).toInt, interlaced = f % 2 == 1,
                (x, y) =>
                  ((id + 7 * (lf + x) + 11 * (tp + y) + 13 * f) % 16).toInt)
            }
          }
          val bytes = graft.multimodal.GifAnim.syntheticAnimatedGif(
            sw, sh, pal, 0, lp, specs)
          val a = graft.multimodal.GifAnim.decode(bytes).get
          val canvases = graft.multimodal.GifAnim.compose(a)
          def luma(rgb: Int): Long =
            299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
              114L * (rgb & 0xFF)
          var sumLuma = 0L; var motion = 0L
          for (fi <- canvases.indices) {
            val c = canvases(fi)
            var j = 0
            while (j < c.length) {
              sumLuma += luma(c(j))
              if (fi > 0) motion += math.abs(luma(c(j)) - luma(canvases(fi - 1)(j)))
              j += 1
            }
          }
          (id, sw.toLong, sh.toLong, nf.toLong,
            a.loopCount.get.toLong,
            a.frames.map(_.delayCs.toLong).sum, sumLuma, motion)
        }.toDF("media_id", "width", "height", "n_frames", "loop_count",
          "total_delay_cs", "sum_luma", "motion_abs")
    }),

    // binary frame sampling: n_frames per media by kind
    "q65_multimodal_framesample" -> ((s, dir) => {
      val media = mediaDs(s, dir).toDF()
      Multimodal.frameSample(media, stride = 4)
        .select(col("media_id"), col("kind"),
          length(col("bytes")).cast("long").as("n_bytes"), col("n_frames"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q345_stored_media_dims" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    WHEN (doc_id // 3) % 3 = 0 THEN doc_id % 13 + 4
        |    WHEN (doc_id // 3) % 3 = 1 THEN doc_id % 17 + 3
        |    ELSE doc_id % 24 + 8 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN -1
        |    WHEN (doc_id // 3) % 3 = 0 THEN doc_id % 11 + 4
        |    WHEN (doc_id // 3) % 3 = 1 THEN doc_id % 7 + 3
        |    ELSE doc_id % 16 + 8 END AS INT) AS height
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,
    "q64_multimodal_features" ->
      """WITH pngpx AS (
        |  SELECT doc_id, w, h,
        |    (doc_id * 31 + x.i * 7 + y.i * 13) % 256 AS r,
        |    (doc_id * 17 + x.i * 3 + y.i * 5) % 256 AS g,
        |    (doc_id * 7 + x.i * 11 + y.i * 3) % 256 AS b
        |  FROM (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
        |        FROM documents
        |        WHERE doc_id % 3 = 0 AND (doc_id // 3) % 3 = 0
        |          AND doc_id % 7 <> 0),
        |    range(0, 17) x(i), range(0, 15) y(i)
        |  WHERE x.i < w AND y.i < h),
        |pngf AS (
        |  SELECT doc_id, 'png' AS fmt,
        |    CAST(w AS BIGINT) AS f0, CAST(h AS BIGINT) AS f1,
        |    CAST(COUNT(*) AS BIGINT) AS f2, CAST(SUM(r) AS BIGINT) AS f3,
        |    CAST(SUM(g) AS BIGINT) AS f4, CAST(SUM(b) AS BIGINT) AS f5,
        |    CAST(SUM(299*r + 587*g + 114*b) AS BIGINT) AS f6,
        |    CAST(MAX(299*r + 587*g + 114*b) AS BIGINT) AS f7
        |  FROM pngpx GROUP BY doc_id, w, h),
        |gifpx AS (
        |  SELECT doc_id, w, h, v AS r, (v * 7) % 256 AS g, (v * 13) % 256 AS b
        |  FROM (
        |    SELECT doc_id, w, h,
        |      (doc_id * 23 + x.i * 5 + y.i * 11) % 256 AS v
        |    FROM (SELECT doc_id, doc_id % 17 + 3 AS w, doc_id % 7 + 3 AS h
        |          FROM documents
        |          WHERE doc_id % 3 = 0 AND (doc_id // 3) % 3 = 1
        |            AND doc_id % 7 <> 0),
        |      range(0, 20) x(i), range(0, 10) y(i)
        |    WHERE x.i < w AND y.i < h)),
        |giff AS (
        |  SELECT doc_id, 'gif' AS fmt,
        |    CAST(w AS BIGINT) AS f0, CAST(h AS BIGINT) AS f1,
        |    CAST(COUNT(*) AS BIGINT) AS f2, CAST(SUM(r) AS BIGINT) AS f3,
        |    CAST(SUM(g) AS BIGINT) AS f4, CAST(SUM(b) AS BIGINT) AS f5,
        |    CAST(SUM(299*r + 587*g + 114*b) AS BIGINT) AS f6,
        |    CAST(MAX(299*r + 587*g + 114*b) AS BIGINT) AS f7
        |  FROM gifpx GROUP BY doc_id, w, h),
        |jpgpx AS (
        |  SELECT doc_id, w, h,
        |    (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3) % 256 AS v
        |  FROM (SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
        |        FROM documents
        |        WHERE doc_id % 3 = 0 AND (doc_id // 3) % 3 = 2
        |          AND doc_id % 7 <> 0),
        |    range(0, 32) x(i), range(0, 24) y(i)
        |  WHERE x.i < w AND y.i < h),
        |jpgf AS (
        |  SELECT doc_id, 'jpeg' AS fmt,
        |    CAST(w AS BIGINT) AS f0, CAST(h AS BIGINT) AS f1,
        |    CAST(COUNT(*) AS BIGINT) AS f2, CAST(SUM(v) AS BIGINT) AS f3,
        |    CAST(SUM(v) AS BIGINT) AS f4, CAST(SUM(v) AS BIGINT) AS f5,
        |    CAST(SUM(1000 * v) AS BIGINT) AS f6,
        |    CAST(MAX(1000 * v) AS BIGINT) AS f7
        |  FROM jpgpx GROUP BY doc_id, w, h),
        |wavf AS (
        |  SELECT doc_id, 'wav' AS fmt,
        |    CAST(16000 AS BIGINT) AS f0, CAST(1 AS BIGINT) AS f1,
        |    CAST(COUNT(*) AS BIGINT) AS f2,
        |    CAST(MAX(ABS(v)) AS BIGINT) AS f3,
        |    CAST(SUM(ABS(v)) AS BIGINT) AS f4,
        |    CAST(SUM(v * v) AS BIGINT) AS f5,
        |    CAST(FLOOR(1000 * SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)))
        |      AS BIGINT) AS f6,
        |    CAST(0 AS BIGINT) AS f7
        |  FROM (SELECT doc_id, ((doc_id * 997 + j.i * 131) % 30001) - 15000 AS v
        |        FROM documents, range(0, 64) j(i)
        |        WHERE doc_id % 3 = 1 AND doc_id % 7 <> 0) s
        |  GROUP BY doc_id),
        |avipx AS (
        |  SELECT doc_id, w, h, nf,
        |    (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3 + f.i * 19) % 256 AS v,
        |    CASE WHEN f.i > 0 THEN
        |      (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3 + (f.i - 1) * 19) % 256
        |    END AS vprev
        |  FROM (SELECT doc_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h,
        |          doc_id % 4 + 2 AS nf
        |        FROM documents WHERE doc_id % 3 = 2 AND doc_id % 7 <> 0),
        |    range(0, 24) x(i), range(0, 16) y(i), range(0, 6) f(i)
        |  WHERE x.i < w AND y.i < h AND f.i < nf),
        |avif AS (
        |  SELECT doc_id, 'avi' AS fmt,
        |    CAST(w AS BIGINT) AS f0, CAST(h AS BIGINT) AS f1,
        |    CAST(nf AS BIGINT) AS f2, CAST(COUNT(*) AS BIGINT) AS f3,
        |    CAST(SUM(v) AS BIGINT) AS f4,
        |    CAST(SUM(CASE WHEN vprev IS NULL THEN 0 ELSE abs(v - vprev) END)
        |      AS BIGINT) AS f5,
        |    CAST(40000 AS BIGINT) AS f6, CAST(0 AS BIGINT) AS f7
        |  FROM avipx GROUP BY doc_id, w, h, nf),
        |feat AS (
        |  SELECT * FROM pngf UNION ALL SELECT * FROM giff
        |  UNION ALL SELECT * FROM jpgf UNION ALL SELECT * FROM wavf
        |  UNION ALL SELECT * FROM avif)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 3 = 0 THEN 'image'
        |       WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  f.fmt AS format,
        |  f.f0, f.f1, f.f2, f.f3, f.f4, f.f5, f.f6, f.f7
        |FROM documents d LEFT JOIN feat f ON f.doc_id = d.doc_id""".stripMargin,

    "q277_image_dims" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    ELSE 'gif' END AS format,
        |  CAST(doc_id % 64 + 16 AS INTEGER) AS width,
        |  CAST(n_chars % 64 + 16 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    "q278_media_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 8) * 4000
        |       ELSE 1000 * (1 + doc_id % 4) END AS BIGINT) AS m1,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
        |       ELSE (n_chars % 100000) + 1 END AS BIGINT) AS m2
        |FROM documents WHERE doc_id % 3 <> 0""".stripMargin,

    "q289_wav_pcm_stats" ->
      """WITH s AS (
        |  SELECT doc_id, ((doc_id * 997 + j.i * 131) % 30001) - 15000 AS v
        |  FROM documents, range(0, 64) j(i)
        |  WHERE doc_id % 3 = 1)
        |SELECT doc_id AS media_id,
        |  CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS peak,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        |  CAST(FLOOR(1000 * SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)))
        |    AS BIGINT) AS rms_milli
        |FROM s GROUP BY 1""".stripMargin,

    "q292_png_pixel_stats" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (doc_id * 31 + x.i * 7 + y.i * 13) % 256 AS r,
        |    (doc_id * 17 + x.i * 3 + y.i * 5) % 256 AS g,
        |    (doc_id * 7 + x.i * 11 + y.i * 3) % 256 AS b
        |  FROM img, range(0, 17) x(i), range(0, 15) y(i)
        |  WHERE x.i < w AND y.i < h)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r,
        |  CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(SUM(299 * r + 587 * g + 114 * b) AS BIGINT) AS sum_luma_milli,
        |  CAST(MAX(299 * r + 587 * g + 114 * b) AS BIGINT) AS peak_luma_milli
        |FROM px GROUP BY 1, 2, 3""".stripMargin,

    "q296_gif_pixel_stats" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 17 + 3 AS w, doc_id % 7 + 3 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (doc_id * 23 + x.i * 5 + y.i * 11) % 256 AS v
        |  FROM img, range(0, 20) x(i), range(0, 10) y(i)
        |  WHERE x.i < w AND y.i < h),
        |rgb AS (
        |  SELECT doc_id, w, h, v AS r, (v * 7) % 256 AS g,
        |    (v * 13) % 256 AS b
        |  FROM px)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r,
        |  CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(SUM(299 * r + 587 * g + 114 * b) AS BIGINT) AS sum_luma_milli,
        |  CAST(MAX(299 * r + 587 * g + 114 * b) AS BIGINT) AS peak_luma_milli
        |FROM rgb GROUP BY 1, 2, 3""".stripMargin,

    "q298_jpeg_pixel_stats" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3) % 256 AS v
        |  FROM img, range(0, 32) x(i), range(0, 24) y(i)
        |  WHERE x.i < w AND y.i < h)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS sum_gray,
        |  CAST(SUM(1000 * v) AS BIGINT) AS sum_luma_milli,
        |  CAST(MAX(1000 * v) AS BIGINT) AS peak_luma_milli
        |FROM px GROUP BY 1, 2, 3""".stripMargin,

    "q348_jpeg_restart" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h,
        |    doc_id % 5 + 1 AS ri
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, ri,
        |    (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3) % 256 AS v
        |  FROM img, range(0, 32) x(i), range(0, 24) y(i)
        |  WHERE x.i < w AND y.i < h)
        |SELECT doc_id AS media_id,
        |  CAST(ri AS BIGINT) AS restart_interval,
        |  CAST((((w + 7) // 8) * ((h + 7) // 8) - 1) // ri AS BIGINT)
        |    AS n_restart_markers,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS sum_gray
        |FROM px GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    "q350_jpeg_arith" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h,
        |    CASE WHEN (doc_id // 3) % 2 = 0 THEN 'arith_progressive'
        |         ELSE 'arith_sequential' END AS coding
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, coding,
        |    (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3) % 256 AS v
        |  FROM img, range(0, 32) x(i), range(0, 24) y(i)
        |  WHERE x.i < w AND y.i < h)
        |SELECT doc_id AS media_id, coding,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS sum_gray,
        |  CAST(MAX(1000 * v) AS BIGINT) AS peak_luma_milli
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

    "q351_audio_fingerprint_neardup" ->
      s"""WITH $audioFpCteSql
        |SELECT CAST(a AS BIGINT) AS media_a, CAST(b AS BIGINT) AS media_b,
        |  CAST(hd AS BIGINT) AS hamming_dist
        |FROM aedges""".stripMargin,

    // the same fingerprint + band-join edge set, closed into components
    // by a recursive CTE (min-reachable label == Spark's min-propagation
    // component), singletons labeled by their own id
    "q371_audio_dup_clusters" -> audioClusterOracleSql,
    "q390_video_dup_clusters" -> videoClusterOracleSql,
    "q392_video_dedup_delta" -> videoDeltaOracleSql,
    "q394_video_index_lifecycle" -> videoLifecycleOracleSql,
    // batch ≡ stream: the stream-built band store serves the SAME
    // lifecycle answers — q394's oracle verbatim
    "q397_video_index_stream" -> videoLifecycleOracleSql,

    // the H.264 intra round trip: every reconstruction step is exact by
    // construction (flat MBs, encoder-asserted levels), so the oracle
    // restates all four luma planes and the inter-frame delta mass from
    // the same closed per-MB formulas the encoder planned
    "q398_h264_intra_roundtrip" ->
      s"""WITH $h264MbCteSql,
        |dm AS (
        |  SELECT a.doc_id, SUM(ABS(a.v - b.v)) AS dmass
        |  FROM mb a JOIN mb b ON b.doc_id = a.doc_id AND b.bx = a.bx
        |    AND b.by = a.by AND b.f = a.f - 1
        |  WHERE a.f >= 1 GROUP BY 1)
        |SELECT CAST(m.doc_id AS BIGINT) AS media_id,
        |  CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(SUM(m.v) * 256 AS BIGINT) AS sum_y,
        |  CAST(MAX(d.dmass) * 256 AS BIGINT) AS delta_mass
        |FROM mb m JOIN dm d ON d.doc_id = m.doc_id
        |GROUP BY m.doc_id""".stripMargin,

    // the H.264 near-dup pairs: center-sampled MB grid = the closed
    // per-MB formula, gradient-sign bands, band-equality candidates,
    // Hamming confirm — q351's oracle shape on the new codec
    "q399_h264_dedup_pairs" ->
      s"""WITH $h264MbCteSql,
        |bits AS (
        |  SELECT a.doc_id, a.f, a.by, a.bx,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM mb a JOIN mb b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 3),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, f,
        |    CAST(SUM(bit * (CAST(1 AS BIGINT) << (by * 3 + bx))) AS BIGINT)
        |      AS band
        |  FROM bits GROUP BY 1, 2),
        |fps AS MATERIALIZED (
        |  SELECT doc_id, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
        |  FROM bands GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.f = y.f AND x.band = y.band AND x.doc_id < y.doc_id)
        |SELECT CAST(c.a AS BIGINT) AS media_a, CAST(c.b AS BIGINT) AS media_b,
        |  CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming_dist
        |FROM cand c
        |JOIN fps fa ON fa.doc_id = c.a
        |JOIN fps fb ON fb.doc_id = c.b
        |WHERE bit_count(xor(fa.fp, fb.fp)) <= 2""".stripMargin,

    // cross-codec dedup: ONE closed plane formula serves both codecs
    // (each reconstructs flat MBs exactly); kinds come from the role
    "q400_crosscodec_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role,
        |    CASE WHEN (doc_id // 3) % 3 = 0 THEN 'mpeg' ELSE 'h264' END
        |      AS kind
        |  FROM documents WHERE doc_id % 3 = 0),
        |mb AS MATERIALIZED (
        |  SELECT doc_id, kind, f.i AS f, bx.i AS bx, by.i AS by,
        |    CASE WHEN role = 2
        |      THEN 20 + (19 * bx.i * bx.i + bx.i * ((g % 79) + 3)
        |        + 37 * by.i + by.i * bx.i * ((g % 73) % 7 + 2)
        |        + (g % 107) * (by.i + 2) + g * 11
        |        + f.i * (13 + (g % 7))) % 216
        |      ELSE 20 + (11 * bx.i * bx.i + bx.i * ((g % 93) + 5)
        |        + 23 * by.i + by.i * bx.i * ((g % 87) % 11 + 2)
        |        + (g % 99) * (by.i + 4) + g * 5
        |        + f.i * (7 + (g % 9))) % 216 END AS v
        |  FROM docs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 3) by(i)),
        |bits AS (
        |  SELECT a.doc_id, a.f, a.by, a.bx,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM mb a JOIN mb b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 3),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, f,
        |    CAST(SUM(bit * (CAST(1 AS BIGINT) << (by * 3 + bx))) AS BIGINT)
        |      AS band
        |  FROM bits GROUP BY 1, 2),
        |fps AS MATERIALIZED (
        |  SELECT doc_id, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
        |  FROM bands GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.f = y.f AND x.band = y.band AND x.doc_id < y.doc_id)
        |SELECT CAST(c.a AS BIGINT) AS media_a, CAST(c.b AS BIGINT) AS media_b,
        |  da.kind AS kind_a, db.kind AS kind_b,
        |  CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming_dist
        |FROM cand c
        |JOIN fps fa ON fa.doc_id = c.a
        |JOIN fps fb ON fb.doc_id = c.b
        |JOIN docs da ON da.doc_id = c.a
        |JOIN docs db ON db.doc_id = c.b
        |WHERE bit_count(xor(fa.fp, fb.fp)) <= 2""".stripMargin,

    // the cross-codec migration: live index = corpus minus the retired
    // MPEG originals; probes re-encode the scenes (every third group
    // re-authored); one plane formula serves all of it
    "q401_crosscodec_index_migrate" ->
      """WITH docs AS (
        |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
        |  FROM documents WHERE doc_id % 3 = 0),
        |mb AS MATERIALIZED (
        |  SELECT doc_id, role, f.i AS f, bx.i AS bx, by.i AS by,
        |    CASE WHEN role = 2
        |      THEN 20 + (19 * bx.i * bx.i + bx.i * ((g % 79) + 3)
        |        + 37 * by.i + by.i * bx.i * ((g % 73) % 7 + 2)
        |        + (g % 107) * (by.i + 2) + g * 11
        |        + f.i * (13 + (g % 7))) % 216
        |      ELSE 20 + (11 * bx.i * bx.i + bx.i * ((g % 93) + 5)
        |        + 23 * by.i + by.i * bx.i * ((g % 87) % 11 + 2)
        |        + (g % 99) * (by.i + 4) + g * 5
        |        + f.i * (7 + (g % 9))) % 216 END AS v
        |  FROM docs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 3) by(i)),
        |bits AS (
        |  SELECT a.doc_id, a.role, a.f, a.by, a.bx,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM mb a JOIN mb b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 3),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, role, f,
        |    CAST(SUM(bit * (CAST(1 AS BIGINT) << (by * 3 + bx))) AS BIGINT)
        |      AS band
        |  FROM bits GROUP BY 1, 2, 3),
        |fps AS MATERIALIZED (
        |  SELECT doc_id, role, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
        |  FROM bands GROUP BY 1, 2),
        |pdocs AS (
        |  SELECT doc_id, doc_id + 70000000 AS did, (doc_id // 9) * 9 AS g,
        |    (doc_id // 9) % 3 AS pgr
        |  FROM documents WHERE doc_id % 9 = 0),
        |pmb AS MATERIALIZED (
        |  SELECT did, f.i AS f, bx.i AS bx, by.i AS by,
        |    CASE WHEN pgr = 2
        |      THEN 24 + (23 * bx.i * bx.i + bx.i * ((g % 71) + 9)
        |        + 41 * by.i + by.i * bx.i * ((g % 67) % 9 + 4)
        |        + (g % 109) * (by.i + 5) + g * 17
        |        + f.i * (19 + (g % 11))) % 208
        |      ELSE 20 + (11 * bx.i * bx.i + bx.i * ((g % 93) + 5)
        |        + 23 * by.i + by.i * bx.i * ((g % 87) % 11 + 2)
        |        + (g % 99) * (by.i + 4) + g * 5
        |        + f.i * (7 + (g % 9))) % 216 END AS v
        |  FROM pdocs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 3) by(i)),
        |pbits AS (
        |  SELECT a.did, a.f, a.by, a.bx,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM pmb a JOIN pmb b ON b.did = a.did AND b.f = a.f
        |    AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 3),
        |pbands AS MATERIALIZED (
        |  SELECT did, f,
        |    CAST(SUM(bit * (CAST(1 AS BIGINT) << (by * 3 + bx))) AS BIGINT)
        |      AS band
        |  FROM pbits GROUP BY 1, 2),
        |pfps AS MATERIALIZED (
        |  SELECT did, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
        |  FROM pbands GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT p.did, b.doc_id
        |  FROM pbands p JOIN bands b ON p.f = b.f AND p.band = b.band
        |  WHERE b.role <> 0),
        |conf AS (
        |  SELECT c.did, c.doc_id, bit_count(xor(pf.fp, lf.fp)) AS hd
        |  FROM cand c
        |  JOIN pfps pf ON pf.did = c.did
        |  JOIN fps lf ON lf.doc_id = c.doc_id
        |  WHERE bit_count(xor(pf.fp, lf.fp)) <= 2),
        |best AS (
        |  SELECT did, MIN(hd) AS min_hd, MIN(doc_id) AS dup_of
        |  FROM conf GROUP BY 1)
        |SELECT CAST(p.did AS BIGINT) AS did,
        |  CASE WHEN b.min_hd = 0 THEN 'exact'
        |       WHEN b.min_hd IS NOT NULL THEN 'near'
        |       ELSE 'new' END AS status,
        |  CAST(COALESCE(b.dup_of, -1) AS BIGINT) AS dup_of
        |FROM pdocs p LEFT JOIN best b ON b.did = p.did""".stripMargin,

    // the CABAC census: h264Plan's formula (no skip aliasing — all
    // four frames intra) over the %9==0 sub-cohort
    "q406_h264_cabac_roundtrip" ->
      """WITH docs AS (
        |  SELECT doc_id, (doc_id // 9) * 9 AS g, (doc_id // 3) % 3 AS role
        |  FROM documents WHERE doc_id % 9 = 0),
        |mb AS MATERIALIZED (
        |  SELECT doc_id, f.i AS f, bx.i AS bx, by.i AS by,
        |    CASE WHEN role = 2
        |      THEN 16 + (17 * bx.i * bx.i + bx.i * ((g % 89) + 5)
        |        + 31 * by.i + by.i * bx.i * ((g % 83) % 11 + 2)
        |        + (g % 103) * (by.i + 3) + g * 13
        |        + f.i * (17 + (g % 5))) % 224
        |      ELSE 16 + (13 * bx.i * bx.i + bx.i * ((g % 97) + 7)
        |        + 29 * by.i + by.i * bx.i * ((g % 89) % 13 + 3)
        |        + (g % 101) * (by.i + 2) + g * 7
        |        + f.i * (11 + (g % 3))) % 224
        |        + CASE WHEN role = 1 THEN 4 ELSE 0 END END AS v
        |  FROM docs, range(0, 4) f(i), range(0, 4) bx(i), range(0, 3) by(i)),
        |dm AS (
        |  SELECT a.doc_id, SUM(ABS(a.v - b.v)) AS dmass
        |  FROM mb a JOIN mb b ON b.doc_id = a.doc_id AND b.bx = a.bx
        |    AND b.by = a.by AND b.f = a.f - 1
        |  WHERE a.f >= 1 GROUP BY 1)
        |SELECT CAST(m.doc_id AS BIGINT) AS media_id,
        |  CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(SUM(m.v) * 256 AS BIGINT) AS sum_y,
        |  CAST(MAX(d.dmass) * 256 AS BIGINT) AS delta_mass
        |FROM mb m JOIN dm d ON d.doc_id = m.doc_id
        |GROUP BY m.doc_id""".stripMargin,

    // the MOVING planes in closed form (h264MotionPlan): top row
    // static, lower rows sliding right one MB per frame (the left
    // column replicates — the edge-clamped fetch), the last frame's
    // row-1 residual; role 2 re-authors. Motion-compensated decode
    // must land on these planes exactly.
    "q404_h264_motion_roundtrip" ->
      s"""WITH $h264MotionCteSql,
        |dm AS (
        |  SELECT a.doc_id, SUM(ABS(a.v - b.v)) AS dmass
        |  FROM mb a JOIN mb b ON b.doc_id = a.doc_id AND b.bx = a.bx
        |    AND b.by = a.by AND b.f = a.f - 1
        |  WHERE a.f >= 1 GROUP BY 1)
        |SELECT CAST(m.doc_id AS BIGINT) AS media_id,
        |  CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(SUM(m.v) * 256 AS BIGINT) AS sum_y,
        |  CAST(MAX(d.dmass) * 256 AS BIGINT) AS delta_mass
        |FROM mb m JOIN dm d ON d.doc_id = m.doc_id
        |GROUP BY m.doc_id""".stripMargin,

    // the motion-recoded near-dup pairs: one closed plane formula
    // serves intra-coded role 0 AND motion-coded role 1 (their planes
    // are identical by construction), so the role-0↔role-1 pair
    // confirms at hd 0 through the band join — q399's oracle shape on
    // moving content
    "q405_h264_motion_dedup" ->
      s"""WITH $h264MotionCteSql,
        |bits AS (
        |  SELECT a.doc_id, a.f, a.by, a.bx,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM mb a JOIN mb b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.by = a.by AND b.bx = a.bx + 1
        |  WHERE a.bx < 3),
        |bands AS MATERIALIZED (
        |  SELECT doc_id, f,
        |    CAST(SUM(bit * (CAST(1 AS BIGINT) << (by * 3 + bx))) AS BIGINT)
        |      AS band
        |  FROM bits GROUP BY 1, 2),
        |fps AS MATERIALIZED (
        |  SELECT doc_id, CAST(SUM(band << (f * 15)) AS BIGINT) AS fp
        |  FROM bands GROUP BY 1),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.f = y.f AND x.band = y.band AND x.doc_id < y.doc_id)
        |SELECT CAST(c.a AS BIGINT) AS media_a, CAST(c.b AS BIGINT) AS media_b,
        |  CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming_dist
        |FROM cand c
        |JOIN fps fa ON fa.doc_id = c.a
        |JOIN fps fb ON fb.doc_id = c.b
        |WHERE bit_count(xor(fa.fp, fb.fp)) <= 2""".stripMargin,

    // the stored-corpus censuses reuse the in-plan round-trip queries'
    // oracles VERBATIM: the stored bytes are the same synthesis, the
    // decoded plane identical — what changed is only the storage path
    "q372_stored_flac_census" -> flacCensusSql,
    "q374_stored_mp3_census" -> mp3CensusSql,
    "q373_stored_avro_census" ->
      graft.operators.PipelineOps.oracles("q368_avro_ocf_ingest"),
    "q375_stored_tar_census" ->
      graft.operators.PipelineOps.oracles("q355_tar_members"),
    "q376_stored_wiki_census" ->
      graft.operators.PipelineOps.oracles("q365_wiki_dump_ingest"),
    // FLAC is lossless: the stored-decode fingerprint plane is q371's
    "q377_stored_flac_fingerprint" -> audioClusterOracleSql,

    "q352_pdf_text_extract" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 9 + 4 AS nw
        |  FROM documents WHERE doc_id % 3 = 2),
        |wtab AS (
        |  SELECT doc_id, nw, k.i AS k,
        |    (['alpha','bravo','charlie','delta','echo','foxtrot',
        |      'go(lf)','hotel'])[CAST((doc_id * 13 + k.i * 7) % 8
        |                              AS INTEGER) + 1] AS w
        |  FROM docs, range(0, 13) k(i) WHERE k.i < nw),
        |texts AS (
        |  SELECT doc_id, MAX(nw) AS nw,
        |    string_agg(w, ' ' ORDER BY k) AS text
        |  FROM wtab GROUP BY doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS n_pages,
        |  CAST((nw + 1) // 2 AS BIGINT) AS n_text_ops,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  md5(text) AS text_md5
        |FROM texts""".stripMargin,

    "q358_flac_roundtrip" -> flacCensusSql,

    "q354_jpeg_lossless" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 21 + 6 AS w, doc_id % 13 + 6 AS h,
        |    doc_id % 7 + 1 AS sel
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, sel,
        |    (doc_id * 31 + x.i * 37 + y.i * 101 + (x.i * y.i) % 29) % 256
        |      AS v
        |  FROM img, range(0, 27) x(i), range(0, 19) y(i)
        |  WHERE x.i < w AND y.i < h)
        |SELECT doc_id AS media_id, CAST(sel AS BIGINT) AS predictor,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS sum_gray,
        |  CAST(MAX(v) AS BIGINT) AS peak_gray
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

    "q324_jpeg_progressive_stats" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 16 + 8 AS h,
        |    CASE WHEN (doc_id // 3) % 2 = 0 THEN 'progressive'
        |         ELSE 'baseline' END AS coding
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, coding,
        |    (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3) % 256 AS v
        |  FROM img, range(0, 32) x(i), range(0, 24) y(i)
        |  WHERE x.i < w AND y.i < h)
        |SELECT doc_id AS media_id, coding,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS sum_gray,
        |  CAST(MAX(1000 * v) AS BIGINT) AS peak_luma_milli
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

    "q312_jpeg_color_pixel_stats" ->
      """WITH img AS (
        |  SELECT doc_id, doc_id % 20 + 12 AS w, doc_id % 12 + 10 AS h,
        |    CASE WHEN (doc_id // 3) % 2 = 0 THEN 16 ELSE 8 END AS t,
        |    CASE WHEN (doc_id // 3) % 2 = 0 THEN '420' ELSE '444' END
        |      AS sampling
        |  FROM documents WHERE doc_id % 3 = 0),
        |src AS (
        |  SELECT doc_id, w, h, sampling,
        |    (doc_id * 13 + (x.i // t) * 17 + (y.i // t) * 29) % 256 AS r,
        |    (doc_id * 7 + (x.i // t) * 23 + (y.i // t) * 31) % 256 AS g,
        |    (doc_id * 31 + (x.i // t) * 37 + (y.i // t) * 41) % 256 AS b
        |  FROM img, range(0, 32) x(i), range(0, 22) y(i)
        |  WHERE x.i < w AND y.i < h),
        |ycc AS (
        |  SELECT doc_id, w, h, sampling,
        |    (299*r + 587*g + 114*b + 500) // 1000 AS yy,
        |    (128500 + 500*b - 169*r - 331*g) // 1000 AS cb,
        |    (128500 + 500*r - 419*g - 81*b) // 1000 AS cr
        |  FROM src),
        |dec AS (
        |  SELECT doc_id, w, h, sampling,
        |    LEAST(255, GREATEST(0,
        |      ((1000*yy + 1402*(cr-128) + 1000500) // 1000) - 1000)) AS r2,
        |    LEAST(255, GREATEST(0,
        |      ((1000*yy - 344*(cb-128) - 714*(cr-128) + 1000500) // 1000)
        |        - 1000)) AS g2,
        |    LEAST(255, GREATEST(0,
        |      ((1000*yy + 1772*(cb-128) + 1000500) // 1000) - 1000)) AS b2
        |  FROM ycc)
        |SELECT doc_id AS media_id, sampling,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(r2) AS BIGINT) AS sum_r,
        |  CAST(SUM(g2) AS BIGINT) AS sum_g,
        |  CAST(SUM(b2) AS BIGINT) AS sum_b,
        |  CAST(SUM(299*r2 + 587*g2 + 114*b2) AS BIGINT) AS sum_luma_milli,
        |  CAST(MAX(299*r2 + 587*g2 + 114*b2) AS BIGINT) AS peak_luma_milli
        |FROM dec GROUP BY 1, 2, 3, 4""".stripMargin,

    "q302_mjpeg_video_stats" ->
      """WITH vid AS (
        |  SELECT doc_id, doc_id % 16 + 8 AS w, doc_id % 8 + 8 AS h,
        |    doc_id % 4 + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |px AS (
        |  SELECT doc_id, w, h, nf,
        |    (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3 + f.i * 19) % 256 AS v,
        |    CASE WHEN f.i > 0 THEN
        |      (doc_id * 29 + (x.i // 8) * 7 + (y.i // 8) * 3 + (f.i - 1) * 19) % 256
        |    END AS vprev
        |  FROM vid, range(0, 24) x(i), range(0, 16) y(i), range(0, 6) f(i)
        |  WHERE x.i < w AND y.i < h AND f.i < nf)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(nf AS INTEGER) AS n_frames,
        |  CAST(40000 AS BIGINT) AS us_per_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_px_total,
        |  CAST(SUM(v) AS BIGINT) AS sum_gray,
        |  CAST(SUM(CASE WHEN vprev IS NULL THEN 0 ELSE abs(v - vprev) END)
        |    AS BIGINT) AS motion_abs
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin,

    // restates the bitrate table and the frame-length arithmetic
    "q369_mp3_census" -> mp3CensusSql,

    // restates both ITU-T G.711 expansion formulas byte for byte
    "q366_g711_decode" ->
      """WITH d AS (
        |  SELECT doc_id AS id, 400 + (doc_id % 5) * 100 AS n,
        |    doc_id % 2 = 0 AS mu
        |  FROM documents WHERE doc_id % 3 = 2),
        |pcm AS (
        |  SELECT id, mu, i.i AS i,
        |    CASE WHEN mu THEN
        |      CASE WHEN (255 - (id * 13 + i.i * 7) % 256) >= 128
        |        THEN -((((255 - (id * 13 + i.i * 7) % 256) % 16) * 8 + 132)
        |               * (1 << (((255 - (id * 13 + i.i * 7) % 256) // 16) % 8))
        |               - 132)
        |        ELSE ((((255 - (id * 13 + i.i * 7) % 256) % 16) * 8 + 132)
        |              * (1 << (((255 - (id * 13 + i.i * 7) % 256) // 16) % 8))
        |              - 132) END
        |    ELSE
        |      CASE WHEN xor((id * 13 + i.i * 7) % 256, 85) >= 128 THEN 1
        |           ELSE -1 END *
        |      CASE WHEN (xor((id * 13 + i.i * 7) % 256, 85) // 16) % 8 = 0
        |        THEN (xor((id * 13 + i.i * 7) % 256, 85) % 16) * 16 + 8
        |        ELSE ((xor((id * 13 + i.i * 7) % 256, 85) % 16) * 16 + 264)
        |             * (1 << ((xor((id * 13 + i.i * 7) % 256, 85) // 16) % 8
        |                      - 1)) END
        |    END AS v
        |  FROM d, range(0, 800) i(i) WHERE i.i < n)
        |SELECT id AS media_id,
        |  CASE WHEN mu THEN 'mulaw' ELSE 'alaw' END AS law,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(v) AS BIGINT) AS sum_pcm,
        |  CAST(SUM(v * ((i % 89) + 1)) AS BIGINT) AS wsum_pcm,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs
        |FROM pcm GROUP BY 1, 2""".stripMargin,

    "q363_tiff_decode" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id AS id, doc_id % 19 + 12 AS w, doc_id % 11 + 8 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS spp,
        |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 5 ELSE 32773 END
        |      AS comp,
        |    doc_id % 4 + 3 AS rps
        |  FROM documents WHERE doc_id % 3 = 1),
        |px AS (
        |  SELECT id, (id + 7*x.i + 13*y.i + 29*s.i) % 256 AS v
        |  FROM d, range(0, 31) x(i), range(0, 19) y(i), range(0, 3) s(i)
        |  WHERE x.i < w AND y.i < h AND s.i < spp)
        |SELECT d.id AS media_id, CAST(d.w AS BIGINT) AS width,
        |  CAST(d.h AS BIGINT) AS height, CAST(d.spp AS BIGINT) AS spp,
        |  CAST(d.comp AS BIGINT) AS compression,
        |  CAST((d.h + d.rps - 1) // d.rps AS BIGINT) AS n_strips,
        |  CAST(SUM(p.v) AS BIGINT) AS sum_px,
        |  CAST(MAX(p.v) AS BIGINT) AS peak_px
        |FROM d JOIN px p ON p.id = d.id
        |GROUP BY 1, 2, 3, 4, 5, 6
        |ORDER BY media_id""".stripMargin,

    // restates every reconstructed frame in closed form: frame f's
    // macroblock (bx, by) is the translating pattern at (bx - f, by)
    // both frames' macroblock planes in closed form: f0 the intra
    // gradient, f1 = prediction + the class residual (bx 0 co-located ±a,
    // bx 1 the left neighbor's value +a, bx 2 co-located + requant a)
    "q395_mpeg1_residual_roundtrip" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 2),
        |mb0 AS MATERIALIZED (
        |  SELECT id, bx.i AS bx, by.i AS by,
        |    16 + (bx.i * 17 + by.i * 29 + id) % 200 AS l
        |  FROM d, range(0, 3) bx(i), range(0, 2) by(i)),
        |mb1 AS MATERIALIZED (
        |  SELECT m.id, m.bx, m.by,
        |    CASE m.bx
        |      WHEN 0 THEN m.l
        |        + (CASE WHEN (m.id + m.by) % 2 = 0 THEN 1 ELSE -1 END)
        |          * (2 * ((m.id + m.by) % 5) + 3)
        |      WHEN 1 THEN p.l + 2 * ((m.id * 3 + m.by) % 5) + 3
        |      ELSE m.l + 6 + 4 * ((m.id + m.by) % 3)
        |    END AS l
        |  FROM mb0 m JOIN mb0 p
        |    ON p.id = m.id AND p.by = m.by AND p.bx = 0),
        |s0 AS (SELECT id, CAST(256 * SUM(l) AS BIGINT) AS sum_y0
        |       FROM mb0 GROUP BY 1),
        |s1 AS (SELECT id, CAST(256 * SUM(l) AS BIGINT) AS sum_y1
        |       FROM mb1 GROUP BY 1),
        |dm AS (
        |  SELECT a.id, CAST(256 * SUM(ABS(b.l - a.l)) AS BIGINT) AS delta_mass
        |  FROM mb0 a JOIN mb1 b
        |    ON a.id = b.id AND a.bx = b.bx AND a.by = b.by
        |  GROUP BY 1)
        |SELECT d.id AS media_id, CAST(48 AS BIGINT) AS width,
        |  CAST(32 AS BIGINT) AS height, CAST(2 AS BIGINT) AS n_frames,
        |  s0.sum_y0, s1.sum_y1, dm.delta_mass
        |FROM d JOIN s0 ON s0.id = d.id JOIN s1 ON s1.id = d.id
        |JOIN dm ON dm.id = d.id""".stripMargin,

    "q362_mpeg1_motion" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id AS id, doc_id % 3 + 1 AS np
        |  FROM documents WHERE doc_id % 3 = 0),
        |mb AS MATERIALIZED (
        |  SELECT id, f.i AS f, bx.i AS bx, by.i AS by,
        |    16 + ((((bx.i - f.i) % 7 + 7) % 7) * 17 + by.i * 29 + id) % 224
        |      AS l
        |  FROM d, range(0, 4) f(i), range(0, 3) bx(i), range(0, 2) by(i)
        |  WHERE f.i <= np),
        |sy AS (SELECT id, CAST(256 * SUM(l) AS BIGINT) AS sum_y
        |       FROM mb GROUP BY 1),
        |mo AS (
        |  SELECT a.id, CAST(256 * SUM(ABS(a.l - b.l)) AS BIGINT) AS motion_y
        |  FROM mb a JOIN mb b
        |    ON a.id = b.id AND a.bx = b.bx AND a.by = b.by AND b.f = a.f - 1
        |  GROUP BY 1)
        |SELECT d.id AS media_id, CAST(48 AS BIGINT) AS width,
        |  CAST(32 AS BIGINT) AS height,
        |  CAST(d.np + 1 AS BIGINT) AS n_frames, sy.sum_y, mo.motion_y
        |FROM d JOIN sy ON sy.id = d.id JOIN mo ON mo.id = d.id
        |ORDER BY media_id""".stripMargin,

    // restates the composed canvases of all four frames as CASE algebra
    // over region membership: f0 base, f1 reverted (dispose PREVIOUS),
    // f2 alpha-checkered OVER then cleared (dispose BACKGROUND), f3
    // painted over the transparent hole
    "q361_apng_anim_stats" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id AS id, doc_id % 12 + 6 AS sw, doc_id % 8 + 5 AS sh
        |  FROM documents WHERE doc_id % 3 = 2),
        |rg AS MATERIALIZED (
        |  SELECT id, f.i AS f,
        |    (id + 2*f.i) % (sw - 1) AS lf, (id + 3*f.i) % (sh - 1) AS tp,
        |    (id + 5*f.i) % (sw - ((id + 2*f.i) % (sw - 1)) - 1) + 1 AS rw,
        |    (id + 7*f.i) % (sh - ((id + 3*f.i) % (sh - 1)) - 1) + 1 AS rh
        |  FROM d, range(1, 4) f(i)),
        |px AS MATERIALIZED (
        |  SELECT id, x.i AS x, y.i AS y
        |  FROM d, range(0, 18) x(i), range(0, 13) y(i)
        |  WHERE x.i < sw AND y.i < sh),
        |mm AS MATERIALIZED (
        |  SELECT p.id, p.x, p.y,
        |    MAX(CASE WHEN r.f = 1 AND p.x >= r.lf AND p.x < r.lf + r.rw
        |             AND p.y >= r.tp AND p.y < r.tp + r.rh THEN 1 ELSE 0 END)
        |      AS in1,
        |    MAX(CASE WHEN r.f = 2 AND p.x >= r.lf AND p.x < r.lf + r.rw
        |             AND p.y >= r.tp AND p.y < r.tp + r.rh THEN 1 ELSE 0 END)
        |      AS in2,
        |    MAX(CASE WHEN r.f = 3 AND p.x >= r.lf AND p.x < r.lf + r.rw
        |             AND p.y >= r.tp AND p.y < r.tp + r.rh THEN 1 ELSE 0 END)
        |      AS in3
        |  FROM px p JOIN rg r USING (id) GROUP BY 1, 2, 3),
        |cv AS MATERIALIZED (
        |  SELECT m.id, m.x, m.y, fv.i AS fv,
        |    CASE fv.i
        |      WHEN 0 THEN (id + 3*x + 5*y) % 256
        |      WHEN 1 THEN CASE WHEN in1 = 1 THEN (id + 11*x + 13*y) % 256
        |                       ELSE (id + 3*x + 5*y) % 256 END
        |      WHEN 2 THEN CASE WHEN in2 = 1 AND (x + y + id) % 2 = 0
        |                       THEN (5*x + y + id) % 256
        |                       ELSE (id + 3*x + 5*y) % 256 END
        |      ELSE CASE WHEN in3 = 1 THEN (id + x + y) % 256
        |                WHEN in2 = 1 THEN 0
        |                ELSE (id + 3*x + 5*y) % 256 END END AS r,
        |    CASE fv.i
        |      WHEN 0 THEN (2*id + 7*x + y) % 256
        |      WHEN 1 THEN CASE WHEN in1 = 1 THEN (id + 2*x) % 256
        |                       ELSE (2*id + 7*x + y) % 256 END
        |      WHEN 2 THEN CASE WHEN in2 = 1 AND (x + y + id) % 2 = 0
        |                       THEN (x + 5*y + id) % 256
        |                       ELSE (2*id + 7*x + y) % 256 END
        |      ELSE CASE WHEN in3 = 1 THEN (id*3 + x) % 256
        |                WHEN in2 = 1 THEN 0
        |                ELSE (2*id + 7*x + y) % 256 END END AS g,
        |    CASE fv.i
        |      WHEN 0 THEN (x*y + id) % 256
        |      WHEN 1 THEN CASE WHEN in1 = 1 THEN (3*y + id) % 256
        |                       ELSE (x*y + id) % 256 END
        |      WHEN 2 THEN CASE WHEN in2 = 1 AND (x + y + id) % 2 = 0
        |                       THEN (id + 7) % 256
        |                       ELSE (x*y + id) % 256 END
        |      ELSE CASE WHEN in3 = 1 THEN (y + 2*id) % 256
        |                WHEN in2 = 1 THEN 0
        |                ELSE (x*y + id) % 256 END END AS b,
        |    CASE WHEN fv.i = 3 AND in3 = 0 AND in2 = 1 THEN 0 ELSE 1 END
        |      AS a
        |  FROM mm m, range(0, 4) fv(i)),
        |agg AS (
        |  SELECT id, CAST(SUM(r) AS BIGINT) AS sum_r,
        |    CAST(SUM(g) AS BIGINT) AS sum_g,
        |    CAST(SUM(b) AS BIGINT) AS sum_b,
        |    CAST(SUM(a) AS BIGINT) AS opaque_px
        |  FROM cv GROUP BY 1),
        |mot AS (
        |  SELECT a2.id, CAST(SUM(ABS(a2.r - b2.r)) AS BIGINT) AS motion_r
        |  FROM cv a2 JOIN cv b2
        |    ON a2.id = b2.id AND a2.x = b2.x AND a2.y = b2.y
        |   AND b2.fv = a2.fv - 1
        |  GROUP BY 1)
        |SELECT d.id AS media_id, CAST(d.sw AS BIGINT) AS width,
        |  CAST(d.sh AS BIGINT) AS height, CAST(4 AS BIGINT) AS n_frames,
        |  CAST(d.id % 4 AS BIGINT) AS num_plays,
        |  agg.sum_r, agg.sum_g, agg.sum_b, agg.opaque_px, mot.motion_r
        |FROM d JOIN agg ON agg.id = d.id JOIN mot ON mot.id = d.id
        |ORDER BY media_id""".stripMargin,

    "q343_gif_anim_stats" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id AS id, doc_id % 14 + 6 AS sw, doc_id % 10 + 5 AS sh,
        |         doc_id % 3 + 2 AS nf, doc_id % 4 AS lp
        |  FROM documents WHERE doc_id % 3 = 1),
        |fr0 AS (
        |  SELECT id, sw, sh, nf, f.i AS f,
        |    CASE WHEN f.i = 0 THEN 0 ELSE (id + 2*f.i) % (sw - 1) END AS lf,
        |    CASE WHEN f.i = 0 THEN 0 ELSE (id + 3*f.i) % (sh - 1) END AS tp
        |  FROM d, range(0, 4) f(i) WHERE f.i < nf),
        |fr AS MATERIALIZED (
        |  SELECT id, sw, sh, f, lf, tp,
        |    CASE WHEN f = 0 THEN sw ELSE (id + 5*f) % (sw - lf - 1) + 1 END AS rw,
        |    CASE WHEN f = 0 THEN sh ELSE (id + 7*f) % (sh - tp - 1) + 1 END AS rh
        |  FROM fr0),
        |px AS MATERIALIZED (
        |  SELECT id, x.i AS x, y.i AS y
        |  FROM d, range(0, 20) x(i), range(0, 15) y(i)
        |  WHERE x.i < sw AND y.i < sh),
        |wr AS MATERIALIZED (
        |  SELECT w.id, w.f, w.x, w.y, w.idx FROM (
        |    SELECT fr.id, fr.f, p.x, p.y,
        |      CASE WHEN fr.f = 0 THEN (fr.id + 3*p.x + 5*p.y) % 16
        |           ELSE (fr.id + 7*p.x + 11*p.y + 13*fr.f) % 16 END AS idx
        |    FROM fr JOIN px p USING (id)
        |    WHERE fr.f = 0 OR (p.x >= fr.lf AND p.x < fr.lf + fr.rw
        |                   AND p.y >= fr.tp AND p.y < fr.tp + fr.rh)) w
        |  WHERE w.f = 0 OR w.idx <> 0),
        |comp AS MATERIALIZED (
        |  SELECT w.id, fv.f AS fv, w.x, w.y, arg_max(w.idx, w.f) AS idx
        |  FROM wr w JOIN (SELECT DISTINCT id, f FROM fr) fv
        |    ON fv.id = w.id AND w.f <= fv.f
        |  GROUP BY 1, 2, 3, 4),
        |lum AS MATERIALIZED (
        |  SELECT id, fv, x, y,
        |    299*((idx*37 + id) % 256) + 587*((idx*59 + 2*id) % 256)
        |      + 114*((idx*83 + 3*id) % 256) AS luma
        |  FROM comp),
        |sl AS (SELECT id, CAST(SUM(luma) AS BIGINT) AS sum_luma FROM lum GROUP BY 1),
        |mot AS (
        |  SELECT a.id, CAST(SUM(ABS(a.luma - b.luma)) AS BIGINT) AS motion_abs
        |  FROM lum a JOIN lum b
        |    ON a.id = b.id AND a.x = b.x AND a.y = b.y AND b.fv = a.fv - 1
        |  GROUP BY 1),
        |del AS (SELECT id, CAST(SUM((id + f) % 7 + 2) AS BIGINT) AS total_delay_cs
        |        FROM fr GROUP BY 1)
        |SELECT d.id AS media_id, CAST(d.sw AS BIGINT) AS width,
        |  CAST(d.sh AS BIGINT) AS height, CAST(d.nf AS BIGINT) AS n_frames,
        |  CAST(d.lp AS BIGINT) AS loop_count, del.total_delay_cs,
        |  sl.sum_luma, mot.motion_abs
        |FROM d JOIN del USING (id) JOIN sl USING (id) JOIN mot USING (id)
        |ORDER BY media_id""".stripMargin,

    "q65_multimodal_framesample" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    length(text) AS n_bytes
        |  FROM documents)
        |SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CAST(ceil(ceil(n_bytes / 16.0) / 4.0) AS INTEGER) AS n_frames
        |FROM media""".stripMargin
  )
}
