package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** Per-query wall-clock bound (reference flight.rs:2106-2112): a
  * pathological query must be CANCELLED at the deadline — typed error,
  * prompt return, session still healthy afterwards. */
class QueryGuardSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("a fast action passes its result through") {
    val n = QueryGuard.withTimeout(spark, 30000, "small count") {
      spark.range(1000).count()
    }
    assert(n == 1000L)
  }

  test("a pathological query cancels within the bound; session stays usable") {
    // ~10^18-row cross product: would run effectively forever
    val t0 = System.nanoTime()
    val thrown = intercept[QueryGuard.QueryTimeout] {
      QueryGuard.withTimeout(spark, 1000, "runaway cross join") {
        spark.range(1000000000L).crossJoin(spark.range(1000000000L)).count()
      }
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(thrown.timeoutMs == 1000L)
    assert(elapsedMs < 10000,
      s"cancel must return promptly, took ${elapsedMs} ms")

    // the cancelled group must not poison the session
    assert(spark.range(10).count() == 10L)
  }

  test("the action's own failure is rethrown, not swallowed") {
    val e = intercept[RuntimeException] {
      QueryGuard.withTimeout(spark, 30000, "failing") {
        throw new RuntimeException("boom")
      }
    }
    assert(e.getMessage == "boom")
  }

  test("the guarded SQL surface bounds raw SQL execution") {
    // no testdata needed: the guard wraps execution regardless of views;
    // use a self-contained pathological statement
    def run(q: String, timeoutMs: Long) = QueryGuard.withTimeout(spark, timeoutMs, q)(
      spark.sql(q).limit(10).collect())
    intercept[QueryGuard.QueryTimeout] {
      run("SELECT count(*) FROM range(1000000000) a CROSS JOIN range(1000000000) b", 1000)
    }
    // the follow-up gets a NORMAL deadline — under a loaded test JVM even
    // planning SELECT 1 can exceed the pathological query's tight bound
    assert(run("SELECT 1 AS one", 60000).length == 1)
  }
}
