package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage.TableLayout
import graft.streaming.IngestSink

class StorageSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def logsBatch(n: Int, startNs: Long) = {
    spark.range(n).select(
      (lit(startNs) + col("id") * 60L * 1000000000L).as("timestamp"),
      concat(lit("svc-"), pmod(col("id"), lit(3))).as("service_name"),
      lit("info").as("severity_text"),
      concat(lit("line "), col("id")).as("body"),
      map(lit("k"), col("id").cast("string")).as("log_attributes"))
      .withColumn("attr_tokens", Storage.attrTokens(Seq("log_attributes")))
  }

  private val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z

  test("append partitions by date_day/hour and prunes on read") {
    val dir = graft.TestDirs.create("graft-store").toString
    val layout = TableLayout(dir, "acme", "prod")
    Storage.append(logsBatch(180, t0), layout, "logs") // spans 3 hours
    val root = new java.io.File(s"$dir/acme/prod/logs/date_day=2024-01-01")
    assert(root.exists)
    assert(root.list().count(_.startsWith("hour=")) == 3)
    // partition pruning: filter on the partition column reads one dir
    val pruned = spark.read.parquet(s"$dir/acme/prod/logs")
      .filter(col("hour") === 1)
    assert(pruned.count() == 60)
    // the filter must reach the scan as a partition filter (directory
    // pruning), not a post-scan predicate
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(hour"),
      s"expected partition pruning in scan, got:\n$plan")
  }

  test("trace point lookup prunes via the prefix shard and pushes the id") {
    val dir = graft.TestDirs.create("graft-traces").toString
    val layout = TableLayout(dir, "acme", "prod")
    val spans = spark.range(64).select(
      md5(concat(lit("tr-"), (col("id") % 16).cast("string"))).as("trace_id"),
      col("id").cast("string").as("span_id"),
      (lit(t0) + col("id") * 1000000000L).as("timestamp"))
      .withColumn("prefix", substring(col("trace_id"), 1, 2))
    Storage.append(spans, layout, "traces",
      alreadyPartitioned = true, partitionCols = Seq("prefix"))
    val tid = spans.filter(col("span_id") === "3").head.getString(0)
    val got = spark.read.parquet(s"$dir/acme/prod/traces")
      .filter(col("prefix") === tid.substring(0, 2) && col("trace_id") === tid)
    assert(got.count() == 4) // ids 3, 19, 35, 51 share trace 3
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(prefix"),
      s"expected prefix shard pruning, got:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(trace_id"),
      s"expected trace_id pushdown (bloom-eligible), got:\n$plan")
  }

  test("attr_tokens derives k=v tokens for bloom containment") {
    import spark.implicits._
    val df = Seq((Map("a" -> "1", "b" -> "2"))).toDF("m")
      .select(Storage.attrTokens(Seq("m")).as("toks"))
    assert(df.head.getSeq[String](0).sorted == Seq("a=1", "b=2"))
  }

  test("compaction merges small files and sorts the partition") {
    val dir = graft.TestDirs.create("graft-compact").toString
    val layout = TableLayout(dir, "acme", "prod")
    // three small appends into the same hour
    Storage.append(logsBatch(10, t0), layout, "logs")
    Storage.append(logsBatch(10, t0 + 1000000L), layout, "logs")
    Storage.append(logsBatch(10, t0 + 2000000L), layout, "logs")
    val need = Storage.partitionsNeedingCompaction(spark, layout, "logs", minFiles = 2)
    assert(need.contains(("2024-01-01", 0)))
    val hourDir = new java.io.File(s"$dir/acme/prod/logs/date_day=2024-01-01/hour=0")
    assert(hourDir.list().count(_.endsWith(".parquet")) >= 3)
    Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0)
    assert(hourDir.list().count(_.endsWith(".parquet")) == 1)
    // row count preserved; other partitions untouched
    val all = spark.read.parquet(s"$dir/acme/prod/logs")
    assert(all.count() == 30)
    assert(Storage.partitionsNeedingCompaction(spark, layout, "logs", 2).isEmpty)
  }

  test("compaction racing a concurrent append loses neither side; snapshots stay linear") {
    val dir = graft.TestDirs.create("graft-race").toString
    val layout = TableLayout(dir, "acme", "prod")
    val hourDir = new java.io.File(s"$dir/acme/prod/logs/date_day=2024-01-01/hour=0")
    def allTs = spark.read.parquet(s"$dir/acme/prod/logs")
      .select("timestamp").collect().map(_.getLong(0)).toSet
    def tsOf(n: Int, start: Long) =
      (0 until n).map(i => start + i * 60L * 1000000000L).toSet

    Storage.append(logsBatch(10, t0), layout, "logs")
    Storage.append(logsBatch(10, t0 + 1000000L), layout, "logs")
    val v1 = Snapshots.commit(spark, layout, "logs")

    // compactor crashes AFTER its commit point (intent journal written,
    // nothing published), still holding the partition lock
    intercept[Storage.InjectedCrash] {
      Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0,
        crashAt = "intent")
    }
    // ...and an ingest append races into the SAME hour partition. Under
    // the old dynamic-partition-overwrite commit this batch would be
    // wiped when the rewrite landed.
    Storage.append(logsBatch(5, t0 + 2000000L), layout, "logs")

    // a second compactor sees the live lock → detect-and-retry, never a
    // silent second rewrite
    intercept[Storage.CompactionConflict] {
      Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0)
    }

    // retry with the stale lock broken: first the crashed commit is
    // completed from its journal, then the partition (including the
    // racing append) is compacted — union preserved at every step
    Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0,
      lockMaxAgeMs = 0L)
    val want = tsOf(10, t0) ++ tsOf(10, t0 + 1000000L) ++ tsOf(5, t0 + 2000000L)
    assert(allTs == want, "rows lost across the crashed-compaction race")
    assert(hourDir.list().count(_.endsWith(".parquet")) == 1)

    // crash BEFORE the commit point: the partition must be untouched and
    // a racing append must survive the aborted rewrite's cleanup
    intercept[Storage.InjectedCrash] {
      Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0,
        crashAt = "staged")
    }
    Storage.append(logsBatch(3, t0 + 3000000L), layout, "logs")
    Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0,
      lockMaxAgeMs = 0L)
    assert(allTs == want ++ tsOf(3, t0 + 3000000L))
    assert(hourDir.list().count(_.endsWith(".parquet")) == 1)

    // no control-dir residue once commits are clean
    val ctl = new java.io.File(s"$dir/acme/prod/logs/_compactions")
    assert(!ctl.exists || ctl.list().isEmpty)

    // snapshot history is linear: every version exists exactly once and
    // the new commit supersedes v1
    val v2 = Snapshots.commit(spark, layout, "logs")
    assert(v2 == v1 + 1)
    val manifests = new java.io.File(s"$dir/acme/prod/logs/_snapshots")
      .list().count(_.endsWith(".manifest"))
    assert(manifests == 2)
    // and the CAS read path serves the newest committed set
    assert(Snapshots.read(spark, layout, "logs").count() == 28)
  }

  test("two compactors racing DIFFERENT hours commit through one snapshot CAS window") {
    val dir = graft.TestDirs.create("graft-race2").toString
    val layout = TableLayout(dir, "acme", "prod")
    // two hours, several small files each
    Storage.append(logsBatch(6, t0), layout, "logs")                    // hour 0
    Storage.append(logsBatch(6, t0 + 1000000L), layout, "logs")
    Storage.append(logsBatch(6, t0 + 3600L * 1000000000L), layout, "logs") // hour 1
    Storage.append(logsBatch(6, t0 + 3600L * 1000000000L + 1000000L), layout, "logs")
    val v0 = Snapshots.commit(spark, layout, "logs")

    // each compactor rewrites its OWN hour (disjoint locks), then both
    // race a Snapshots.commit through the same CAS window
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(0, 1).map { h =>
      new Thread(() => {
        try {
          Storage.compactPartition(spark, layout, "logs", "2024-01-01", h)
          barrier.await() // line both writers up on the CAS
          versions.add(Snapshots.commit(spark, layout, "logs"))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racing compactors failed: ${errs.peek()}")
    // the CAS loser retried at the next version: history is LINEAR —
    // both versions committed, exactly once each, consecutively
    val got = versions.toArray(Array.empty[Integer]).map(_.toInt).sorted
    assert(got.sameElements(Array(v0 + 1, v0 + 2)), got.mkString(","))
    val manifests = new java.io.File(s"$dir/acme/prod/logs/_snapshots")
      .list().filter(_.endsWith(".manifest")).sorted
    assert(manifests.sameElements(
      (1 to v0 + 2).map(v => s"v$v.manifest").sorted))
    // the newest snapshot (the retry re-listed!) serves every row once,
    // from the two compacted files
    val snap = Snapshots.read(spark, layout, "logs")
    assert(snap.count() == 24)
    assert(snap.select("timestamp").distinct().count() == 24)
    for (h <- Seq(0, 1))
      assert(new java.io.File(s"$dir/acme/prod/logs/date_day=2024-01-01/hour=$h")
        .list().count(_.endsWith(".parquet")) == 1)
    // no lock/staging/intent residue
    val ctl = new java.io.File(s"$dir/acme/prod/logs/_compactions")
    assert(!ctl.exists || ctl.list().isEmpty)
  }

  test("a crash MID-publish (some staged files moved) recovers idempotently") {
    val dir = graft.TestDirs.create("graft-midpub").toString
    val layout = TableLayout(dir, "acme", "prod")
    Storage.append(logsBatch(8, t0), layout, "logs")
    Storage.append(logsBatch(8, t0 + 1000000L), layout, "logs")
    Storage.append(logsBatch(8, t0 + 2000000L), layout, "logs")
    val hourDir = new java.io.File(s"$dir/acme/prod/logs/date_day=2024-01-01/hour=0")
    val before = spark.read.parquet(s"$dir/acme/prod/logs")
      .select("timestamp").collect().map(_.getLong(0)).sorted

    // targetFiles=2 → two staged files; the failpoint moves ONE in and
    // dies with the intent journal present and the lock held
    intercept[Storage.InjectedCrash] {
      Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0,
        targetFiles = 2, crashAt = "publish-partial")
    }
    val ctl = new java.io.File(s"$dir/acme/prod/logs/_compactions")
    assert(ctl.list().exists(_.endsWith(".intent")), "journal must survive")
    assert(ctl.list().exists(_.endsWith(".staging")), "one add still staged")
    // the torn state really is torn: old snapshot files + one new file
    assert(hourDir.list().count(_.endsWith(".parquet")) >= 4)

    // the next compactor (stale lock broken) completes the journal —
    // remaining add moved, snapshot dels applied, staging swept — then
    // runs its own rewrite; rows are exactly preserved, never doubled
    Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0,
      lockMaxAgeMs = 0L)
    val after = spark.read.parquet(s"$dir/acme/prod/logs")
      .select("timestamp").collect().map(_.getLong(0)).sorted
    assert(after.sameElements(before), "mid-publish recovery lost or doubled rows")
    assert(hourDir.list().count(_.endsWith(".parquet")) == 1)
    assert(!ctl.exists || ctl.list().isEmpty)
  }

  test("compaction planning only selects closed hours past the lateness allowance") {
    val dir = graft.TestDirs.create("graft-closed").toString
    val layout = TableLayout(dir, "acme", "prod")
    // two small-file hours: hour 0 and hour 1 of Jan 1
    for (off <- Seq(0L, 1L))
      for (_ <- 1 to 2)
        Storage.append(logsBatch(3, t0 + off * 3600L * 1000000000L), layout, "logs")
    // "now" = 01:15 — hour 0 ended 15 min ago (> 10 min lateness) so it is
    // closed; hour 1 has not even ended yet
    val now = t0 + (3600L + 900L) * 1000000000L
    val picked = Storage.partitionsNeedingCompaction(spark, layout, "logs",
      minFiles = 2, nowNanos = Some(now), latenessSec = 600)
    assert(picked == Seq(("2024-01-01", 0)))
    // without the gate both qualify on file count
    assert(Storage.partitionsNeedingCompaction(spark, layout, "logs", 2)
      .toSet == Set(("2024-01-01", 0), ("2024-01-01", 1)))
  }

  test("retention drops whole day partitions before the cutoff") {
    val dir = graft.TestDirs.create("graft-retention").toString
    val layout = TableLayout(dir, "acme", "prod")
    Storage.append(logsBatch(5, t0), layout, "logs")                       // Jan 1
    Storage.append(logsBatch(5, t0 + 86400L * 1000000000L * 5), layout, "logs") // Jan 6
    val dropped = Storage.applyRetention(spark, layout, "logs", "2024-01-03")
    assert(dropped == Seq("2024-01-01"))
    val remaining = spark.read.parquet(s"$dir/acme/prod/logs")
    assert(remaining.count() == 5)
    assert(remaining.select("date_day").distinct().head.get(0).toString == "2024-01-06")
  }

  test("tiered retention: raw samples expire, the rollup still answers the old window") {
    val dir = graft.TestDirs.create("graft-tier").toString
    val layout = TableLayout(dir, "acme", "prod")
    // raw samples across two days, written through the real storage path
    val raw = spark.createDataFrame(Seq(
        (100L, "a", 10.0, 1L), (200L, "a", 30.0, 2L), (90000L, "a", 2.0, 3L)))
      .toDF("off_s", "service_name", "value", "event_id")
      .select((lit(t0) + col("off_s") * 1000000000L).as("timestamp"),
        lit("m").as("metric_name"), col("service_name"), col("value"),
        col("event_id"))
    Storage.append(Storage.withPartitionCols(raw), layout, "metrics_raw")
    // the hourly rollup of the same rows, in day partitions
    Storage.downsample(raw, 3600L, Seq("metric_name", "service_name"), "event_id")
      .write.partitionBy("date_day").parquet(layout.path("rollup_1h"))

    // raw tier keeps 1 day: day 1 expires
    val dropped = Storage.applyRetention(spark, layout, "metrics_raw", "2024-01-02")
    assert(dropped.nonEmpty, "day-1 raw partition must expire")
    val rawDays = spark.read.parquet(layout.path("metrics_raw"))
      .select("date_day").distinct().collect().map(_.get(0).toString).toSet
    assert(rawDays == Set("2024-01-02"), s"raw tier must hold only the fresh day: $rawDays")

    // the rollup tier still answers day 1 (the q270 rewrite's long-history source)
    val cells = spark.read.parquet(layout.path("rollup_1h"))
      .filter(col("date_day") === "2024-01-01")
    assert(cells.count() == 1)
    val c = cells.select("n", "vmax").head
    assert(c.getLong(0) == 2L && c.getDouble(1) == 30.0,
      "day-1 history must survive in cell form")
  }

  test("absent table reads as an empty typed frame; unknown tenant errors") {
    val dir = graft.TestDirs.create("graft-optional").toString
    val layout = TableLayout(dir, "acme", "prod")
    Storage.append(logsBatch(3, t0), layout, "logs") // provisions acme/prod
    // absent signal table → None / empty frame with the requested schema,
    // still queryable (reference table_lookup.rs: absence is "no data")
    assert(Storage.optionalTable(spark, layout, "traces",
      graft.schema.Schemas.traces).isEmpty)
    val empty = Storage.tableOrEmpty(spark, layout, "traces",
      graft.schema.Schemas.traces)
    assert(empty.schema == graft.schema.Schemas.traces)
    assert(empty.filter(empty("trace_id") === "t").count() == 0)
    // present table resolves normally
    assert(Storage.optionalTable(spark, layout, "logs",
      spark.read.parquet(layout.path("logs")).schema).get.count() == 3)
    // unknown tenant/dataset is an ERROR, not "no data"
    assertThrows[IllegalArgumentException](
      Storage.optionalTable(spark, TableLayout(dir, "ghost", "prod"), "logs",
        graft.schema.Schemas.traces))
  }

  test("orphan GC removes aged staging/backup/_temporary dirs, keeps fresh ones") {
    val dir = graft.TestDirs.create("graft-gc").toString
    val layout = TableLayout(dir, "acme", "prod")
    Storage.append(logsBatch(5, t0), layout, "logs")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val table = layout.path("logs")
    // crashed-promotion residue + a Spark attempt dir inside a partition
    fs.mkdirs(new org.apache.hadoop.fs.Path(table + "_promoting"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(table + "_old"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$table/date_day=2024-01-01/hour=0/_temporary"))
    // age-gate: "now" far in the future collects all three; a fresh now none
    assert(Storage.gcOrphans(spark, layout, "logs",
      nowMs = Some(System.currentTimeMillis())).isEmpty)
    val removed = Storage.gcOrphans(spark, layout, "logs",
      nowMs = Some(System.currentTimeMillis() + 48L * 3600 * 1000))
    assert(removed.size == 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(table + "_promoting")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(table + "_old")))
    // data untouched
    assert(spark.read.parquet(table).count() == 5)
  }

  test("ingest replay is idempotent via batch markers") {
    val dir = graft.TestDirs.create("graft-ingest").toString
    val layout = TableLayout(dir, "acme", "prod")
    val batch = logsBatch(7, t0)
    IngestSink.appendBatch(layout, "logs")(batch, 42L)
    IngestSink.appendBatch(layout, "logs")(batch, 42L) // replay — must no-op
    assert(spark.read.parquet(s"$dir/acme/prod/logs").count() == 7)
    IngestSink.appendBatch(layout, "logs")(batch, 43L) // new batch appends
    assert(spark.read.parquet(s"$dir/acme/prod/logs").count() == 14)
  }

  test("streaming ingest end-to-end with availableNow trigger") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-stream").toString
    val layout = TableLayout(dir, "acme", "prod")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark)
    input.addData(0L until 25L: _*)
    val stream = input.toDF().select(
      (lit(t0) + col("value") * 1000000000L).as("timestamp"),
      lit("svc-0").as("service_name"),
      lit("info").as("severity_text"),
      concat(lit("m"), col("value")).as("body"),
      map(lit("k"), col("value").cast("string")).as("log_attributes"))
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(IngestSink.appendBatch(layout, "logs") _)
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$dir/acme/prod/logs").count() == 25)
  }

  test("compaction preserves parquet bloom filters (footer-level check)") {
    import scala.jdk.CollectionConverters._
    def bloomPresent(dir: String, colPath: String): Boolean = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.nonEmpty, s"no parquet files under $dir")
      val conf = spark.sparkContext.hadoopConfiguration
      files.forall { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try {
          val rg = reader.getRowGroups.get(0)
          val col = rg.getColumns.asScala
            .find(_.getPath.toDotString == colPath)
            .getOrElse(fail(s"column $colPath not in $f"))
          reader.getBloomFilterDataReader(rg).readBloomFilter(col) != null
        } finally reader.close()
      }
    }
    val dir = graft.TestDirs.create("graft-bloom").toString
    val layout = TableLayout(dir, "acme", "prod")
    Storage.append(logsBatch(50, t0), layout, "logs")
    val hourDir = s"$dir/acme/prod/logs/date_day=2024-01-01/hour=0"
    assert(bloomPresent(hourDir, "attr_tokens.list.element"),
      "ingest must write blooms")
    Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0)
    assert(bloomPresent(hourDir, "attr_tokens.list.element"),
      "compaction rewrite must KEEP the blooms the point-lookup path depends on")
  }

  test("newest-first limit stops at the newest day; result equals the global sort") {
    import spark.implicits._
    // the SparkContext is shared across suites in one JVM, and other
    // specs legitimately hold localCheckpoint state (PageRank rounds,
    // frontier materializations) — the leak assertion below must count
    // only what THIS operator adds
    val preExisting = spark.sparkContext.getPersistentRDDs.keySet
    val dir = graft.TestDirs.create("graft-tail").toString
    val layout = TableLayout(dir, "acme", "prod")
    // 6 days × 20 rows
    val rows = (0 until 120).map { i =>
      (t0 + i * 4320L * 1000000000L, i.toLong, s"svc-${i % 3}", "info",
        s"line $i", Map("k" -> i.toString))
    }
    rows.toDF("timestamp", "event_id", "service_name", "severity_text", "body",
        "log_attributes")
      .pipe(df => Storage.append(df, layout, "logs"))
    val order = Seq(col("timestamp").desc, col("event_id").desc)

    val (tail, scanned) = Storage.newestFirstLimit(spark, layout, "logs", 10, order)
    assert(scanned.size == 1, s"10-row tail must touch only the newest day, got $scanned")
    val expect = spark.read.parquet(s"$dir/acme/prod/logs")
      .orderBy(order: _*).limit(10)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(tail.select("event_id").collect().map(_.getLong(0)).toSeq == expect)

    // a limit spanning several days walks just enough of them
    val (wide, scannedWide) = Storage.newestFirstLimit(spark, layout, "logs", 50, order)
    assert(scannedWide.size == 3, s"50 rows = 3 newest days, got $scannedWide")
    assert(wide.count() == 50)

    // admission runs on footer metadata — nothing may stay cached behind
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .diff(preExisting).isEmpty,
      "newestFirstLimit must not leak persisted day frames")
  }

  test("ingest append honors the declared sort order in every file") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-declsort").toString
    val layout = TableLayout(dir, "acme", "prod")
    // shuffled batch: the WRITE must produce files already in declared
    // order (timestamp, service_name, severity_text) — the honesty
    // invariant, so declared ordering is physically true without waiting
    // for compaction
    val rows = scala.util.Random.shuffle((0 until 200).toList).map { i =>
      (t0 + (i % 40) * 7L * 1000000000L, i.toLong, s"svc-${i % 3}",
        if (i % 2 == 0) "info" else "warn", s"line $i", Map("k" -> i.toString))
    }
    rows.toDF("timestamp", "event_id", "service_name", "severity_text", "body",
        "log_attributes")
      .pipe(df => Storage.append(df, layout, "logs"))
    val back = spark.read.parquet(s"$dir/acme/prod/logs")
      .select(input_file_name().as("f"), col("timestamp"), col("service_name"),
        col("severity_text"))
      .collect()
      .groupBy(_.getString(0))
    back.values.foreach { rs =>
      val keys = rs.map(r => (r.getLong(1), r.getString(2), r.getString(3))).toSeq
      assert(keys == keys.sorted,
        "every appended file must satisfy the declared (timestamp, service, severity) order")
    }
  }

  test("zorderKey interleaves bits; z-ordered compaction sorts by it") {
    import spark.implicits._
    // a=101b, b=011b → interleave (a odd positions, b even): 100111b = 39
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(Storage.zorderKey(col("a"), col("b"), bits = 3).as("z"))
      .head.getLong(0)
    assert(z == 39L)
    // compaction with zorderBy clusters both dimensions into file order
    val dir = graft.TestDirs.create("graft-z").toString
    val layout = TableLayout(dir, "acme", "prod")
    // 60 rows, one hour, shuffled (user_id, timestamp-second) grid
    val rows = scala.util.Random.shuffle((0 until 60).toList).map { i =>
      (t0 + (i % 10) * 60L * 1000000000L, i.toLong % 6,
        "svc", "info", s"line $i",
        Map("k" -> i.toString))
    }
    rows.toDF("timestamp", "user_id", "service_name", "severity_text", "body",
        "log_attributes")
      .withColumn("attr_tokens", Storage.attrTokens(Seq("log_attributes")))
      .pipe(df => Storage.append(df, layout, "logs"))
    Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0,
      zorderBy = Some(("timestamp", "user_id")))
    val back = spark.read.parquet(s"$dir/acme/prod/logs")
      .filter(col("hour") === 0)
      .select(Storage.zorderKey(col("timestamp").cast("long"), col("user_id")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(back == back.sorted, "rows must come back in z-key order")
    assert(back.size == 60)
  }

  private implicit class Piped[A](val a: A) {
    def pipe[B](f: A => B): B = f(a)
  }

  test("bucketed tables co-locate an equi join: no Exchange at query time") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-bucket").toString
    val layout = TableLayout(dir, "acme", "prod")
    val facts = (0 until 500).map(i => (i.toLong % 97, s"span-$i")).toDF("trace_id", "span")
    val dims = (0L until 97L).map(k => (k, s"meta-$k")).toDF("trace_id", "meta")
    Storage.writeBucketed(facts, layout, "spans_bkt", "trace_id", buckets = 4)
    Storage.writeBucketed(dims, layout, "meta_bkt", "trace_id", buckets = 4)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("acme_prod_spans_bkt")
        .join(spark.table("acme_prod_meta_bkt"), "trace_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() == 500)
      // and bucket-keyed aggregation needs no shuffle either
      val agg = spark.table("acme_prod_spans_bkt")
        .groupBy("trace_id").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucket-keyed aggregation still shuffles")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("binary media column round-trips through the append sink; footer stats stay bounded on large values") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-binary").toString
    val layout = TableLayout(dir, "acme", "prod")
    // an incompressible ~1 MiB payload (deterministic PRNG, so zstd
    // cannot shrink it away) next to tiny and empty payloads — the
    // media-table shape
    def prng(n: Int, seed: Long): Array[Byte] = {
      var x = seed; Array.fill(n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte
      }
    }
    val big = prng(1024 * 1024, 7L)
    val rows = Seq((1L, prng(32, 1L)), (2L, big), (3L, Array.emptyByteArray))
    val df = rows.toDF("media_id", "bytes")
      .withColumn("timestamp", lit(1706745600L * 1000000000L) + col("media_id"))
    Storage.append(df, layout, "media")
    val back = spark.read.parquet(layout.path("media"))
      .select("media_id", "bytes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(java.util.Arrays.equals(back(1L), rows(0)._2))
    assert(java.util.Arrays.equals(back(2L), big), "1 MiB binary value must round-trip byte-exactly")
    assert(back(3L).isEmpty)
    // footer behavior: parquet must not embed the megabyte value into
    // the column's min/max statistics — stats are truncated or dropped
    // beyond the stats size bound, so footers stay metadata-sized at
    // any payload size
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val conf = spark.sessionState.newHadoopConf()
    import scala.jdk.CollectionConverters._
    for (pf <- parquetFiles(new java.io.File(layout.path("media")))) {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(pf.toString), conf))
      try {
        for (block <- reader.getFooter.getBlocks.asScala;
             c <- block.getColumns.asScala
             if c.getPath.toDotString == "bytes") {
          val st = c.getStatistics
          if (st != null && st.hasNonNullValue) {
            assert(Option(st.getMaxBytes).forall(_.length <= 64 * 1024),
              s"footer max stat for 'bytes' is ${st.getMaxBytes.length} B")
            assert(Option(st.getMinBytes).forall(_.length <= 64 * 1024),
              s"footer min stat for 'bytes' is ${st.getMinBytes.length} B")
          }
        }
      } finally reader.close()
    }
  }
}
