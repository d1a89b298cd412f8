package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage.TableLayout

/** Randomized crash-schedule law for the storage layer: any
  * interleaving of appends, compactions crashing at ANY of the three
  * failpoints (after stage, after the intent journal, mid-publish),
  * conflicting retries, and stale-lock recoveries must keep the
  * readable row set EXACTLY equal to the model (every appended row,
  * nothing lost, nothing duplicated) after every single step. The
  * hand-picked StorageSpec failpoint tests each pin one schedule; this
  * law samples many — the multi-writer-safety claim is about ALL of
  * them. */
class CompactionScheduleLawSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dayNs = 1704067200L * 1000000000L // 2024-01-01T00:00Z

  private def batch(hour: Int, seq: Int, n: Int) = {
    val base = dayNs + hour * 3600L * 1000000000L + seq * 1000000000L
    spark.range(n).select(
      (lit(base) + col("id") * 1000000000L).as("timestamp"),
      concat(lit("svc-"), pmod(col("id"), lit(3))).as("service_name"),
      lit("info").as("severity_text"),
      concat(lit("line "), col("id")).as("body"),
      map(lit("k"), col("id").cast("string")).as("log_attributes"),
      expr("map()").as("resource_attributes"))
  }

  test("random append/crash/recover schedules never lose or duplicate a row") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 4) {
      val dir = graft.TestDirs.create(s"graft-sched-$trial").toString
      val layout = TableLayout(dir, "acme", "prod")
      val model = scala.collection.mutable.Set.empty[Long]
      val seqByHour = scala.collection.mutable.Map(0 -> 0, 1 -> 0)
      def readSet(): Set[Long] =
        if (model.isEmpty) Set.empty
        else spark.read.parquet(s"$dir/acme/prod/logs")
          .select("timestamp").collect().map(_.getLong(0)).toSet
      var steps = List.empty[String]
      for (step <- 0 until 14) {
        val hour = rnd.nextInt(2)
        rnd.nextInt(4) match {
          case 0 | 1 => // append 1..6 rows into a random hour
            val n = 1 + rnd.nextInt(6)
            val seq = seqByHour(hour); seqByHour(hour) = seq + n
            Storage.append(batch(hour, seq, n), layout, "logs")
            val base = dayNs + hour * 3600L * 1000000000L + seq * 1000000000L
            (0 until n).foreach(i => model += base + i * 1000000000L)
            steps ::= s"append($hour,$n)"
          case 2 => // compaction crashing at a random failpoint
            val at = Seq("staged", "intent", "publish-partial")(rnd.nextInt(3))
            steps ::= s"crash($hour,$at)"
            try Storage.compactPartition(spark, layout, "logs",
              "2024-01-01", hour, targetFiles = 1 + rnd.nextInt(2),
              crashAt = at, lockMaxAgeMs = 0L)
            catch {
              case _: Storage.InjectedCrash => ()
              case _: Storage.CompactionConflict => ()
              case _: IllegalArgumentException => () // empty partition
            }
          case _ => // clean compaction, breaking any stale crash lock
            steps ::= s"compact($hour)"
            try Storage.compactPartition(spark, layout, "logs",
              "2024-01-01", hour, lockMaxAgeMs = 0L)
            catch {
              case _: Storage.CompactionConflict => ()
              case _: IllegalArgumentException => ()
            }
        }
        assert(readSet() == model.toSet,
          s"trial $trial diverged after step $step; schedule (newest first): " +
            steps.mkString(" <- "))
      }
      // final recovery: both hours compact cleanly and stay equal
      for (h <- 0 to 1 if seqByHour(h) > 0)
        Storage.compactPartition(spark, layout, "logs", "2024-01-01", h,
          lockMaxAgeMs = 0L)
      assert(readSet() == model.toSet, s"trial $trial diverged after recovery")
    }
  }
}
