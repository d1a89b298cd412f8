package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Count-Min sketch aggregate: buffer/merge linearity, the
  * serialization round trip, the distributed end-to-end law (a
  * many-partition aggregation equals the single-pass counters), and the
  * CMS guarantee that a point estimate never undercounts. */
class CmsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("buffer adds weighted positions; merge is elementwise addition") {
    val a = new CmsBuffer(2, 4)
    a.add(Array(1, 3), 5L)
    a.add(Array(1, 0), 2L)
    val b = new CmsBuffer(2, 4)
    b.add(Array(1, 3), 10L)
    // merge b into a
    var i = 0
    while (i < a.counters.length) { a.counters(i) += b.counters(i); i += 1 }
    assert(a.counters(1) == 17L)      // row 0, cell 1: 5 + 2 + 10
    assert(a.counters(4 + 3) == 15L)  // row 1, cell 3: 5 + 10
    assert(a.counters(4 + 0) == 2L)   // row 1, cell 0: 2
    assert(a.counters.sum == 17L + 15L + 2L)
  }

  test("distributed agg over many partitions equals the relational counters") {
    import spark.implicits._
    val d = 3; val w = 16
    val toks = (1 to 400).map(i => s"tok-${i % 23}").toDF("tok")
      .repartition(8) // force partial buffers through serialize/merge
    def cell(r: Int) =
      s"CAST(CAST(conv(substring(md5(concat('t$r:', tok)), 1, 15), " +
        s"16, 10) AS BIGINT) % $w AS INT)"
    val positions = expr((0 until d).map(cell).mkString("array(", ", ", ")"))
    val sk = toks.agg(Cms.cmsSketch(positions, lit(1L), d, w))
      .collect()(0).getSeq[Long](0)
    assert(sk.length == d * w)
    // every row's counters sum to the total weight (CMS is linear)
    for (r <- 0 until d)
      assert(sk.slice(r * w, (r + 1) * w).sum == 400L, s"row $r")
    // relational restatement: counter = sum of per-token counts by cell
    val expect = toks.select(col("tok"), positions.as("pos"))
      .select(posexplode(col("pos")))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("v"))
      .collect().map(r => (r.getInt(0) * w + r.getInt(1), r.getLong(2))).toMap
    for (i <- sk.indices)
      assert(sk(i) == expect.getOrElse(i, 0L), s"counter $i")
  }

  test("point estimates never undercount (the CMS guarantee)") {
    import spark.implicits._
    val d = 4; val w = 8 // tiny width → guaranteed collisions
    val toks = ((1 to 50).map(_ => "hot") ++ (1 to 60).map(i => s"cold-$i"))
      .toDF("tok")
    def cell(r: Int) =
      s"CAST(CAST(conv(substring(md5(concat('g$r:', tok)), 1, 15), " +
        s"16, 10) AS BIGINT) % $w AS INT)"
    val positions = expr((0 until d).map(cell).mkString("array(", ", ", ")"))
    val sk = toks.agg(Cms.cmsSketch(positions, lit(1L), d, w).as("cms"))
    val got = toks.distinct().crossJoin(broadcast(sk))
      .withColumn("est", expr((0 until d).map(r =>
        s"element_at(cms, $r * $w + (${cell(r)}) + 1)")
        .mkString("least(", ", ", ")")))
      .join(toks.groupBy("tok").agg(count(lit(1)).as("n")), "tok")
      .select("tok", "n", "est").collect()
    for (row <- got)
      assert(row.getLong(2) >= row.getLong(1),
        s"${row.getString(0)}: est ${row.getLong(2)} < exact ${row.getLong(1)}")
    // the hot token's estimate is still dominated by its own mass
    val hot = got.find(_.getString(0) == "hot").get
    assert(hot.getLong(1) == 50L && hot.getLong(2) >= 50L)
  }

  test("streaming aggregation: counters merge across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val all = Seq.fill(2000)(("s" + rnd.nextInt(2), "tok-" + rnd.nextInt(31)))
    val (b1, b2) = all.splitAt(900)
    val d = 3; val w = 16
    def cell(r: Int) =
      s"CAST(CAST(conv(substring(md5(concat('st$r:', tok)), 1, 15), " +
        s"16, 10) AS BIGINT) % $w AS INT)"
    val positions = expr((0 until d).map(cell).mkString("array(", ", ", ")"))
    val in = MemoryStream[(String, String)](spark)
    val agg = in.toDF().toDF("svc", "tok")
      .groupBy(col("svc")).agg(Cms.cmsSketch(positions, lit(1L), d, w).as("cms"))
    val q = agg.writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("cms_stream").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      // the cross-batch sketch equals the batch-global one (linearity)
      val batch = all.toDF("svc", "tok")
        .groupBy(col("svc")).agg(Cms.cmsSketch(positions, lit(1L), d, w).as("cms"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      for (svc <- Seq("s0", "s1"))
        assert(got(svc) == batch(svc), s"cross-batch counters for $svc")
    } finally q.stop()
  }

  test("serialize/deserialize round trip preserves counters") {
    val sk = CmsSketch(
      org.apache.spark.sql.GraftShim.expression(lit(Array(0, 1))),
      org.apache.spark.sql.GraftShim.expression(lit(1L)), 2, 4)
    val b = new CmsBuffer(2, 4)
    b.add(Array(3, 2), 7L); b.add(Array(0, 2), 1L)
    val back = sk.deserialize(sk.serialize(b))
    assert(back.counters.sameElements(b.counters))
  }
}
