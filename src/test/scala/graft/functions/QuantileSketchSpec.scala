package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q341 log-bucket quantile sketch's bucket algebra, proven as
  * properties over adversarial values: octave boundaries, the ≤1/16
  * relative-error guarantee, and the linear-sketch laws (partitioning
  * invariance, merge = elementwise add) it inherits from CmsSketch with
  * d=1. The bucket expressions here are the EXACT strings the query and
  * its DuckDB oracle share — integer shifts only, no libm. */
class QuantileSketchSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val e = "(length(conv(v, 10, 2)) - 1)"
  private val bucketSql =
    s"CASE WHEN v < 16 THEN CAST(v AS INT) ELSE CAST($e * 16 + " +
      s"shiftright(v - shiftleft(CAST(1 AS BIGINT), $e), $e - 4) AS INT) END"
  private def floorSql(b: String) =
    s"CASE WHEN $b < 16 THEN CAST($b AS BIGINT) " +
      s"ELSE shiftleft(CAST(1 AS BIGINT), CAST($b div 16 AS INT)) + " +
      s"CAST($b % 16 AS BIGINT) * " +
      s"shiftleft(CAST(1 AS BIGINT), CAST($b div 16 - 4 AS INT)) END"

  /** adversarial values: all small ints, every octave boundary ±1, every
    * sub-bucket boundary in a few octaves, and big primes. */
  private def probeValues: Seq[Long] = {
    val smalls = (1L to 64L)
    val octaves = (4 to 62).flatMap { ee =>
      val base = 1L << ee
      Seq(base - 1, base, base + 1, base + (base >> 4) - 1, base + (base >> 4),
        (base << 1) - 1)
    }.filter(_ > 0)
    val subs = Seq(8, 20, 40).flatMap { ee =>
      (0 until 16).flatMap { s0 =>
        val lo = (1L << ee) + s0.toLong * (1L << (ee - 4))
        Seq(lo, lo + 1, lo + (1L << (ee - 4)) - 1)
      }
    }
    val primes = Seq(104729L, 15485863L, 2147483647L, 200560490131L,
      4398050705407L, 2305843009213693951L)
    (smalls ++ octaves ++ subs ++ primes).distinct
  }

  test("bucket floor brackets every value and the relative error is ≤ 1/16") {
    import spark.implicits._
    // the bucket space has an unused gap [16, 64): values < 16 get
    // identity buckets, v = 16 starts octave e=4 at bucket 64 — so the
    // SUCCESSOR of bucket 15 among used buckets is 64, not 16
    val df = probeValues.toDF("v")
      .withColumn("bucket", expr(bucketSql))
      .withColumn("next", expr("CASE WHEN bucket = 15 THEN 64 ELSE bucket + 1 END"))
      .withColumn("lo", expr(floorSql("bucket")))
      .withColumn("hi", expr(floorSql("next")))
    val rows = df.collect()
    assert(rows.length == probeValues.length)
    rows.foreach { r =>
      val v = r.getAs[Long]("v"); val b = r.getAs[Int]("bucket")
      val lo = r.getAs[Long]("lo"); val hi = r.getAs[Long]("hi")
      // bucket 1007 is the top of the Long domain: its upper bound is
      // 2^63, unrepresentable — the lower-bound check still applies
      if (b == 1007) assert(lo <= v, s"v=$v lo=$lo")
      else assert(lo <= v && v < hi, s"v=$v bucket=$b lo=$lo hi=$hi")
      // answering lo for anything in [lo, hi) errs by < hi-lo ≤ lo/16
      // for v ≥ 16 (exact below 16): the DDSketch-style guarantee
      if (v >= 16 && b != 1007)
        assert((hi - lo) * 16 <= lo, s"width guarantee broke at v=$v")
      else if (v < 16) assert(lo == v)
    }
    // buckets are monotone in v
    val sorted = rows.sortBy(_.getAs[Long]("v")).map(_.getAs[Int]("bucket"))
    assert(sorted.sameElements(sorted.sorted))
  }

  test("the sketch is partitioning-invariant (linear-sketch law)") {
    import spark.implicits._
    val vals = (1 to 5000).map(i => (i % 7).toString -> (i.toLong * i % 99991 + 1))
    def sketchOf(parts: Int) = vals.toDF("k", "v").repartition(parts)
      .withColumn("bucket", expr(bucketSql))
      .groupBy("k")
      .agg(Cms.cmsSketch(array(col("bucket")), lit(1L), 1, 1024).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val one = sketchOf(1); val many = sketchOf(13)
    assert(one.keySet == many.keySet)
    one.foreach { case (k, s1) => assert(s1 == many(k), s"key $k") }
    // counters total the row count
    assert(one.values.map(_.sum).sum == 5000L)
  }

  test("quantile estimate from the sketch brackets the exact order statistic") {
    import spark.implicits._
    // heavy-tailed values: v = floor(1.5^i) cycled, 1..~1e12
    val vals = (0 until 4000).map(i =>
      math.pow(1.5, (i % 68) + 1).toLong.max(1L))
    val df = vals.toDF("v").withColumn("bucket", expr(bucketSql))
    val sk = df.agg(
      Cms.cmsSketch(array(col("bucket")), lit(1L), 1, 1024).as("sk"))
      .collect()(0).getSeq[Long](0)
    val n = vals.length
    val sortedVals = vals.sorted
    for (q <- Seq(50, 90, 99)) {
      val k = (n - 1) * q / 100
      val exact = sortedVals(k)
      // walk the counters for the first bucket with cum > k
      var cum = 0L; var b = -1; var i = 0
      while (b < 0 && i < sk.length) {
        cum += sk(i); if (cum > k) b = i; i += 1
      }
      val lo = if (b < 16) b.toLong
        else (1L << (b / 16)) + (b % 16).toLong * (1L << (b / 16 - 4))
      val nb = if (b == 15) 64 else b + 1 // skip the unused [16,64) gap
      val hi = if (nb < 16) nb.toLong
        else (1L << (nb / 16)) + (nb % 16).toLong * (1L << (nb / 16 - 4))
      assert(lo <= exact && exact < hi,
        s"p$q: exact=$exact outside sketch bucket [$lo,$hi)")
    }
  }
}
