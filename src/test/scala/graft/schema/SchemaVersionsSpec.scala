package graft.schema

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Versioned-schema resolution (reference schemas.toml v1→v2 inheritance +
  * renames, schema_parser.rs): a table directory containing files written
  * under DIFFERENT schema versions must answer current-version queries
  * rename-invariantly. */
class SchemaVersionsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L // 2024-01-01 UTC, nanos

  /** rows in the v1 physical shape (pre-rename names, no computed cols). */
  private def v1Rows(ids: Range) = {
    import spark.implicits._
    spark.createDataset(ids.map { i =>
      (f"t$i%032d", f"s$i%016d", "", s"op-${i % 3}", s"svc-${i % 2}",
        t0 + i * 3600L * 1000000000L, t0 + i * 3600L * 1000000000L + 5000000L,
        5000000L)
    }).toDF("trace_id", "span_id", "parent_span_id", "name", "service_name",
      "start_time_unix_nano", "end_time_unix_nano", "duration_nano")
  }

  /** the same logical rows in the v2 physical shape. */
  private def v2Rows(ids: Range) =
    SchemaVersions.upgrade(v1Rows(ids), "traces", fromVersion = 1)

  test("v2 = v1 with renames applied plus computed additions, types preserved") {
    val v1 = SchemaVersions.fieldsOf("traces", 1).map(f => f.name -> f.dataType).toMap
    val v2 = SchemaVersions.fieldsOf("traces", 2).map(f => f.name -> f.dataType).toMap
    // renamed: new name present with the OLD field's type, old name gone
    for ((from, to) <- Seq("name" -> "span_name", "duration_nano" -> "duration_nanos",
        "attributes_json" -> "span_attributes", "resource_json" -> "resource_attributes")) {
      assert(!v2.contains(from), s"v2 must not keep $from")
      assert(v2(to) == v1(from), s"$to must keep $from's type")
    }
    // additions
    assert(v2("timestamp") == LongType)
    assert(v2("date_day") == DateType)
    assert(v2("hour") == IntegerType)
    // everything untouched carries over
    assert((v1.keySet -- Seq("name", "duration_nano", "attributes_json",
      "resource_json")).subsetOf(v2.keySet))
  }

  test("mixed-vintage directory answers a v2 query rename-invariantly") {
    val dir = graft.TestDirs.create("graft-schemaver").toString
    // half the history written by a v1 writer, half by a v2 writer
    v1Rows(0 until 10).write.mode("append").parquet(dir)
    v2Rows(10 until 20).write.mode("append").parquet(dir)

    val resolved = SchemaVersions.resolveRead(spark, dir, "traces")
    // every row — regardless of writing vintage — has the v2 names
    assert(resolved.count() == 20)
    assert(resolved.filter(col("span_name").isNull).count() == 0,
      "v1 rows must surface their `name` as span_name")
    assert(resolved.filter(col("duration_nanos").isNull).count() == 0)
    assert(resolved.filter(col("timestamp").isNull).count() == 0,
      "computed timestamp must derive for v1 rows")
    assert(resolved.filter(col("date_day").isNull).count() == 0)

    // the v2 query returns identical results per vintage slice
    val perOp = resolved.groupBy(col("span_name")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perOp == Map("op-0" -> 7, "op-1" -> 7, "op-2" -> 6))

    // column order/type = declared current schema (for present columns)
    val want = SchemaVersions.schemaOf("traces", 2).fields
      .filter(f => resolved.columns.contains(f.name)).map(f => f.name -> f.dataType)
    assert(resolved.schema.fields.map(f => f.name -> f.dataType).toSeq == want.toSeq)
  }

  test("pure-v1 directory reads through the v2 resolver") {
    val dir = graft.TestDirs.create("graft-schemaver-v1").toString
    v1Rows(0 until 8).write.mode("append").parquet(dir)
    val resolved = SchemaVersions.resolveRead(spark, dir, "traces")
    assert(resolved.columns.contains("span_name") && !resolved.columns.contains("name"))
    assert(resolved.filter(col("hour") === 3).count() == 1) // i=3 → 03:00 UTC
    assert(resolved.select(sum(col("duration_nanos"))).head.getLong(0) == 8L * 5000000L)
  }

  test("upgrade materializes the physical v2 shape (compaction rewrite path)") {
    val up = v2Rows(0 until 5)
    assert(up.columns.contains("span_name") && !up.columns.contains("name"))
    assert(up.columns.contains("date_day") && up.columns.contains("hour"))
    assert(up.filter(col("timestamp") =!= col("start_time_unix_nano")).count() == 0)
  }
}
