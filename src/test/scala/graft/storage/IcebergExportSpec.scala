package graft.storage

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Iceberg v2 metadata projection: every check below reads the
  * EXPORTED artifacts back the way an external reader would (JSON
  * document + stock Avro reader via the files' embedded schemas), never
  * through writer-side state. DuckDB's iceberg extension is not
  * installable in this offline environment, so spec-table conformance
  * (field-ids, v2 required fields, sequence-number lineage) is pinned
  * here and the row-level agreement is oracle-checked by q323. */
class IcebergExportSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"

  /** two-snapshot fixture: day 1 appended + committed, then day 2
    * appended + committed, exported once. */
  private lazy val fixture: (Storage.TableLayout, String) = {
    val base = graft.TestDirs.create("graft_iceberg_").toString
    val layout = Storage.TableLayout(base, "acme", "prod")
    val logs = graft.SignalViews.logsGen2Df(spark, dir)
    val d1 = Storage.withPartitionCols(logs).filter(col("date_day") === "2024-01-29")
    val d2 = Storage.withPartitionCols(logs).filter(col("date_day") === "2024-01-30")
    Storage.append(d1, layout, "logs", alreadyPartitioned = true)
    assert(Snapshots.commit(spark, layout, "logs") == 1)
    Storage.append(d2, layout, "logs", alreadyPartitioned = true)
    assert(Snapshots.commit(spark, layout, "logs") == 2)
    val v = IcebergExport.export(spark, layout, "logs")
    assert(v == 2)
    (layout, layout.path("logs"))
  }

  test("metadata.json carries the v2 required fields and resolves") {
    val (_, loc) = fixture
    val metaDir = new java.io.File(loc, "metadata")
    val hint = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(metaDir, "version-hint.text").toPath), "UTF-8").trim
    assert(hint == "2")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(metaDir, s"v$hint.metadata.json"))
    for (k <- Seq("format-version", "table-uuid", "location",
        "last-sequence-number", "last-updated-ms", "last-column-id",
        "current-schema-id", "schemas", "partition-specs", "default-spec-id",
        "last-partition-id", "sort-orders", "default-sort-order-id",
        "current-snapshot-id", "snapshots", "snapshot-log"))
      assert(meta.has(k), s"metadata.json missing required key $k")
    assert(meta.get("format-version").asInt() == 2)
    assert(meta.get("current-snapshot-id").asLong() == 2L)
    // refs.main names the current snapshot
    assert(meta.get("refs").get("main").get("snapshot-id").asLong() == 2L)
    // snapshot lineage: 2's parent is 1; sequence numbers match ids here
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    assert(snaps.map(_.get("snapshot-id").asLong()).sorted == Seq(1L, 2L))
    val s2 = snaps.find(_.get("snapshot-id").asLong() == 2L).get
    assert(s2.get("parent-snapshot-id").asLong() == 1L)
    assert(s2.get("sequence-number").asLong() == 2L)
    assert(new java.io.File(
      s2.get("manifest-list").asText().stripPrefix("file:")).isFile)
  }

  test("schema field-ids are unique and the partition spec resolves to them") {
    val (_, loc) = fixture
    val metaDir = new java.io.File(loc, "metadata")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(metaDir, "v2.metadata.json"))
    val schema = meta.get("schemas").get(0)
    // collect EVERY id in the tree (field ids + list/map element ids)
    def ids(n: com.fasterxml.jackson.databind.JsonNode): Seq[Int] = {
      val here = Seq("id", "element-id", "key-id", "value-id")
        .flatMap(k => Option(n.get(k)).map(_.asInt()))
      here ++ n.elements().asScala.flatMap(ids).toSeq
    }
    val all = ids(schema)
    assert(all.nonEmpty && all.distinct.size == all.size,
      s"duplicate field-ids: ${all.diff(all.distinct)}")
    assert(meta.get("last-column-id").asInt() == all.max)
    val top = schema.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    val spec = meta.get("partition-specs").get(0).get("fields")
      .elements().asScala.toSeq
    assert(spec.map(_.get("name").asText()) == Seq("date_day", "hour"))
    spec.foreach { f =>
      assert(f.get("transform").asText() == "identity")
      assert(top(f.get("name").asText()) == f.get("source-id").asInt(),
        s"partition source-id must reference the schema field id")
      assert(f.get("field-id").asInt() >= 1000)
    }
  }

  test("manifest list: v2 fields, counts, and sequence lineage across snapshots") {
    val (_, loc) = fixture
    def list(snap: Int) = {
      val f = new java.io.File(new java.io.File(loc, "metadata"), s"snap-$snap.avro")
      val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
        f, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    val l1 = list(1); val l2 = list(2)
    assert(l1.size == 1 && l2.size == 1)
    // snapshot 1: everything ADDED
    assert(l1.head.get("added_snapshot_id") == 1L)
    assert(l1.head.get("sequence_number") == 1L)
    assert(l1.head.get("min_sequence_number") == 1L)
    assert(l1.head.get("existing_data_files_count") == 0)
    assert(l1.head.get("deleted_data_files_count") == 0)
    assert(l1.head.get("added_data_files_count").asInstanceOf[Int] > 0)
    // snapshot 2 carries snapshot 1's files: existing > 0, min seq = 1
    assert(l2.head.get("sequence_number") == 2L)
    assert(l2.head.get("min_sequence_number") == 1L)
    assert(l2.head.get("added_data_files_count").asInstanceOf[Int] > 0)
    assert(l2.head.get("existing_data_files_count") ==
      l1.head.get("added_data_files_count"))
    assert(l2.head.get("existing_rows_count") == l1.head.get("added_rows_count"))
    // the avro schema itself carries the spec field-ids
    val mp = l1.head.getSchema.getField("manifest_path")
    assert(mp.getObjectProp("field-id") == 500)
  }

  test("manifest-list field aliases resolve for spec-table reader names") {
    // the writer names count fields the Java-implementation way
    // (added_data_files_count) with the SPEC-table names as Avro
    // aliases — a reader binding either convention must resolve. Prove
    // it with a READER SCHEMA that uses the spec names: Avro's schema
    // resolution maps them through the alias.
    val (_, loc) = fixture
    val readerSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"added_files_count","aliases":["added_data_files_count"],"type":"int"},
        |{"name":"existing_files_count","aliases":["existing_data_files_count"],"type":"int"},
        |{"name":"deleted_files_count","aliases":["deleted_data_files_count"],"type":"int"}
        |]}""".stripMargin)
    val f = new java.io.File(new java.io.File(loc, "metadata"), "snap-2.avro")
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      f, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](
        null, readerSchema))
    try {
      val rec = r.iterator().next()
      assert(rec.get("added_files_count").asInstanceOf[Int] > 0)
      assert(rec.get("existing_files_count").asInstanceOf[Int] > 0)
      assert(rec.get("deleted_files_count") == 0)
    } finally r.close()
  }

  test("manifest entries: statuses, inherited sequence numbers, partition values") {
    val (_, loc) = fixture
    val files2 = IcebergExport.readDataFiles(loc)
    val files1 = IcebergExport.readDataFiles(loc, Some(1L))
    assert(files1.nonEmpty && files2.size > files1.size)
    // every v1 file rides in v2 with its ORIGINAL sequence number
    val seqByPath = files2.map(f => f.path -> f.sequenceNumber).toMap
    files1.foreach(f => assert(seqByPath(f.path) == 1L,
      s"${f.path} lost its data sequence number"))
    // identity partition values in the manifest equal the hive path's
    files2.foreach { f =>
      val fromPath = f.path.split('/').filter(_.contains('='))
        .map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap
      val day = java.time.LocalDate.ofEpochDay(
        f.partition("date_day").asInstanceOf[Int].toLong).toString
      assert(day == fromPath("date_day"),
        s"partition date_day $day != path ${fromPath("date_day")}")
      assert(f.partition("hour").asInstanceOf[Int] == fromPath("hour").toInt)
    }
    // record_count metadata is true: footer-free verification by reading
    val total = spark.read.parquet(files2.map(_.path): _*).count()
    assert(total == files2.map(_.recordCount).sum)
  }

  test("reading through the metadata chain equals the native snapshot read") {
    val (layout, loc) = fixture
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("timestamp"), col("body")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val native2 = rows(Snapshots.read(spark, layout, "logs"))
    val iceberg2 = rows(spark.read.option("basePath", loc)
      .parquet(IcebergExport.readDataFiles(loc).map(_.path): _*))
    assert(iceberg2 == native2, "current snapshot diverges")
    val native1 = rows(Snapshots.read(spark, layout, "logs", Some(1)))
    val iceberg1 = rows(spark.read.option("basePath", loc)
      .parquet(IcebergExport.readDataFiles(loc, Some(1L)).map(_.path): _*))
    assert(iceberg1 == native1, "time travel to snapshot 1 diverges")
    assert(native1.size < native2.size)
  }

  test("string-partitioned tables export too: the 256-way prefix shard") {
    // the traces layout partitions by prefix=XX (a STRING identity
    // partition, not date/hour) — the exporter must map it to an
    // identity field over a string source column with string partition
    // values in the manifests
    val base = graft.TestDirs.create("graft_iceberg_tr").toString
    val layout = Storage.TableLayout(base, "acme", "prod")
    val spans = graft.SignalViews.tracesGen2Df(spark, dir)
      .withColumn("prefix", substring(col("trace_id"), 1, 2))
      .limit(2000)
    Storage.append(spans, layout, "traces", alreadyPartitioned = true,
      partitionCols = Seq("prefix"))
    assert(Snapshots.commit(spark, layout, "traces") == 1)
    assert(IcebergExport.export(spark, layout, "traces") == 1)
    val loc = layout.path("traces")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(loc, "metadata/v1.metadata.json"))
    val spec = meta.get("partition-specs").get(0).get("fields")
    assert(spec.size() == 1)
    assert(spec.get(0).get("name").asText() == "prefix")
    assert(spec.get(0).get("transform").asText() == "identity")
    // manifest partition values are the hive path's string values, and
    // the resolved files read back to the full row set
    val files = IcebergExport.readDataFiles(loc)
    files.foreach { f =>
      val fromPath = f.path.split('/').find(_.startsWith("prefix="))
        .get.stripPrefix("prefix=")
      assert(f.partition("prefix").toString == fromPath)
    }
    val viaIceberg = spark.read.option("basePath", loc)
      .parquet(files.map(_.path): _*).count()
    assert(viaIceberg == Snapshots.read(spark, layout, "traces").count())
  }

  test("export is idempotent and survives a later commit + re-export") {
    val (layout, loc) = fixture
    // a THIRD snapshot (no new data — e.g. post-compaction commit shape)
    val logs = graft.SignalViews.logsGen2Df(spark, dir)
    Storage.append(Storage.withPartitionCols(logs)
      .filter(col("date_day") === "2024-01-28"), layout, "logs",
      alreadyPartitioned = true)
    assert(Snapshots.commit(spark, layout, "logs") == 3)
    assert(IcebergExport.export(spark, layout, "logs") == 3)
    val hint = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(loc, "metadata/version-hint.text").toPath), "UTF-8").trim
    assert(hint == "3")
    val files3 = IcebergExport.readDataFiles(loc)
    assert(files3.size > IcebergExport.readDataFiles(loc, Some(2L)).size)
    // the exported metadata dir never pollutes the snapshot CAS state:
    // a fresh commit's manifest lists only data files
    assert(Snapshots.commit(spark, layout, "logs") == 4)
    val manifest = scala.io.Source.fromFile(
      new java.io.File(loc, "_snapshots/v4.manifest")).mkString
    assert(!manifest.contains("metadata/"),
      "Iceberg metadata leaked into a graft snapshot manifest")
    assert(manifest.contains(".parquet"))
  }

  /** independent two-export fixture for the strict-mode rows (its own
    * layout — strict tests never mutate the shared fixture). */
  private lazy val strictFixture: String = {
    val base = graft.TestDirs.create("graft_iceberg_strict_").toString
    val layout = Storage.TableLayout(base, "acme", "prod")
    val logs = graft.SignalViews.logsGen2Df(spark, dir)
    Storage.append(Storage.withPartitionCols(logs)
      .filter(col("date_day") === "2024-01-29"), layout, "logs",
      alreadyPartitioned = true)
    assert(Snapshots.commit(spark, layout, "logs") == 1)
    assert(IcebergExport.export(spark, layout, "logs") == 1)
    Storage.append(Storage.withPartitionCols(logs)
      .filter(col("date_day") === "2024-01-30"), layout, "logs",
      alreadyPartitioned = true)
    assert(Snapshots.commit(spark, layout, "logs") == 2)
    assert(IcebergExport.export(spark, layout, "logs") == 2)
    layout.path("logs")
  }

  test("strict-reader validation passes and covers the full check surface") {
    val checks = IcebergExport.validateStrict(strictFixture).toSet
    // one sentinel per check family — pyiceberg's open-table surface
    for (c <- Seq("metadata.format-version", "metadata.table-uuid",
        "metadata.current-schema-id", "snapshots.unique-ids",
        "snapshots.sequence-monotonic", "snapshots.parent-lineage",
        "snapshots.summary-operation", "snapshots.summary.total-records",
        "refs.main", "snapshot-log.ordered", "snapshot-log.last-is-current",
        "metadata-log.ordered", "metadata-log.files-exist",
        "manifest-list.field-ids", "manifest-list.manifest-length",
        "manifest-list.sequence-bounds", "manifest.metadata-schema",
        "manifest.entry-field-ids", "manifest.data-file-field-ids",
        "manifest.partition-field-id", "manifest.entry-sequence-inheritance",
        "manifest.data-file-exists", "manifest.data-file-size"))
      assert(checks.contains(c), s"strict walk never performed '$c'")
  }

  test("metadata-log accumulates prior metadata files; summaries carry string counters") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(
      new java.io.File(strictFixture, "metadata/v2.metadata.json"))
    val mlog = meta.get("metadata-log").elements().asScala.toList
    assert(mlog.size == 1, "second export must log the first metadata file")
    assert(new java.io.File(mlog.head.get("metadata-file").asText()
      .stripPrefix("file:")).isFile)
    val sn = meta.get("snapshots").elements().asScala.toList.head
    val summary = sn.get("summary")
    assert(summary.get("operation").asText() == "append")
    for (k <- Seq("added-data-files", "added-records",
        "total-data-files", "total-records")) {
      assert(summary.get(k).isTextual, s"summary $k must be a string (spec)")
      assert(summary.get(k).asText().toLong >= 0L)
    }
    // snapshot 2 totals include snapshot 1's carried files
    val sn2 = meta.get("snapshots").elements().asScala.toList.last
    assert(sn2.get("summary").get("total-data-files").asText().toInt >
      sn2.get("summary").get("added-data-files").asText().toInt ||
      sn2.get("summary").get("total-records").asText().toLong >=
        sn2.get("summary").get("added-records").asText().toLong)
  }

  test("strict mode rejects corrupted metadata (on a COPY, never the fixture)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def corrupted(mutate: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      // copy only the metadata dir; manifest-list paths inside are
      // absolute, so Avro-level checks still resolve to the originals
      val copy = graft.TestDirs.create("graft_iceberg_bad_").toString
      val mdir = new java.io.File(copy, "metadata"); mdir.mkdirs()
      for (f <- new java.io.File(strictFixture, "metadata").listFiles())
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(mdir, f.getName).toPath)
      val mf = new java.io.File(mdir, "v2.metadata.json")
      val m = mapper.readTree(mf)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      mutate(m)
      java.nio.file.Files.write(mf.toPath, mapper.writeValueAsBytes(m))
      copy
    }
    // (a) sequence numbers out of order
    val badSeq = corrupted { m =>
      val sns = m.get("snapshots")
      sns.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("sequence-number", 9L)
    }
    val e1 = intercept[IllegalStateException](IcebergExport.validateStrict(badSeq))
    assert(e1.getMessage.contains("sequence"))
    // (b) a summary counter written as a NUMBER, not the spec's string
    val badSummary = corrupted { m =>
      m.get("snapshots").get(0).get("summary")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("added-records", 5)
    }
    val e2 = intercept[IllegalStateException](IcebergExport.validateStrict(badSummary))
    assert(e2.getMessage.contains("summary"))
    // (c) snapshot-log's last entry no longer the current snapshot
    val badLog = corrupted { m =>
      m.get("snapshot-log").get(1)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("snapshot-id", 1L)
    }
    val e3 = intercept[IllegalStateException](IcebergExport.validateStrict(badLog))
    assert(e3.getMessage.contains("snapshot-log"))
  }
}
