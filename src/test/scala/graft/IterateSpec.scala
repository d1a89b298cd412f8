package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Iterate, PipelineOps}

/** `Iterate`'s two modes, and the Spark jobs a round costs:
  * a round runs its checkpoint and nothing else. */
class IterateSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def cut(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("fixed rounds checkpoint after every k-th round, or never") {
    val init = spark.range(3).select(col("id").as("x")).localCheckpoint()
    def run(k: Int): (DataFrame, Int) = {
      var out: DataFrame = null
      val jobs = JobGuard.jobsOf(spark) {
        out = Iterate.rounds(init, 6, checkpointEvery = k) { (st, r) =>
          st.select((col("x") + r).as("x"))
        }
      }
      // rounds are numbered 1..6: every row gains 21
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(21L, 22L, 23L))
      (out, jobs)
    }
    val (every2, jobs2) = run(2)
    assert(jobs2 == 3 && cut(every2), s"k=2: $jobs2 jobs")
    val (every4, jobs4) = run(4)
    assert(jobs4 == 1 && !cut(every4), s"k=4: $jobs4 jobs")
    val (never, jobs0) = run(0)
    assert(jobs0 == 0 && !cut(never), s"k=0: $jobs0 jobs")
  }

  test("until stable stops on the first round that changes nothing, and throws past maxRounds") {
    val init = spark.range(3).select(col("id").as("x")).localCheckpoint()
    // counts up to 3: x = 0 changes in three rounds, the fourth is stable
    def step(st: DataFrame): DataFrame =
      st.select(least(col("x") + 1, lit(3L)).as("x"), (col("x") < 3).as("_chg"))
    var out: DataFrame = null
    val jobs = JobGuard.jobsOf(spark) {
      out = Iterate.untilStable(init, "_chg", maxRounds = 4, "counter")(step)
    }
    assert(jobs == 4, s"4 rounds ran $jobs jobs: the change flag cost jobs of its own")
    assert(out.columns.toSeq == Seq("x"))
    assert(out.collect().map(_.getLong(0)).toSet == Set(3L))
    val e = intercept[IllegalStateException](
      Iterate.untilStable(init, "_chg", maxRounds = 3, "counter")(step))
    assert(e.getMessage == "counter did not converge within 3 rounds")
    // an empty state has nothing to change: one round
    val empty = init.filter(col("x") < 0)
    assert(JobGuard.jobsOf(spark)(
      Iterate.untilStable(empty, "_chg", maxRounds = 1, "empty")(step)) == 1)
  }

  test("a connectedComponents round runs its checkpoint's job and no convergence job") {
    // adaptive execution and broadcast joins off: an eager checkpoint is
    // then exactly one job, shuffles included, so the count is exact
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    // path 0-1-2-3-4: four rounds carry label 0 to the far end, the
    // fifth changes nothing
    val edges = (0L until 4L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("u", "v")
    var labels: DataFrame = null
    val jobs = JobGuard.jobsOf(s) { labels = PipelineOps.connectedComponents(edges) }
    assert(labels.collect().map(_.getLong(1)).toSet == Set(0L))
    // the edge and seed-label checkpoints, then one per round
    assert(jobs == 2 + 5, s"5 rounds ran ${jobs - 2} jobs")
  }
}
