package graft.storage

import scala.util.chaining._

import org.scalatest.funsuite.AnyFunSuite

import graft.storage.CompactionScheduler.Candidate
import graft.storage.Storage.TableLayout

/** Fair multi-tenant compaction scheduling (reference scheduler/mod.rs):
  * a noisy tenant must not starve the others, and the round-robin
  * position must carry over between cycles. */
class CompactionSchedulerSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def cand(tenant: String, day: String, hour: Int) =
    Candidate(TableLayout("/tmp/x", tenant, "prod"), "logs", day, hour)

  test("skewed tenants both make progress in one cycle") {
    val sched = new CompactionScheduler(maxPerCycle = 5, maxPerTenant = 3)
    val noisy = (0 until 10).map(h => cand("noisy", "2024-01-01", h))
    val quiet = (0 until 2).map(h => cand("quiet", "2024-01-01", h))
    val picked = sched.schedule(noisy ++ quiet)
    val byTenant = picked.groupBy(_.layout.tenant).view.mapValues(_.size).toMap
    assert(picked.size == 5)
    assert(byTenant("noisy") == 3, s"per-tenant cap must bound the noisy tenant: $byTenant")
    assert(byTenant("quiet") == 2, s"the quiet tenant must get its slots: $byTenant")
  }

  test("round-robin position carries over: starved-first next cycle") {
    val sched = new CompactionScheduler(maxPerCycle = 2, maxPerTenant = 2)
    val all = Seq(cand("a", "d", 0), cand("a", "d", 1),
      cand("b", "d", 0), cand("b", "d", 1))
    val first = sched.schedule(all)
    assert(first.forall(_.layout.tenant == "a"), "cycle 1 fills from tenant a")
    val second = sched.schedule(all)
    assert(second.forall(_.layout.tenant == "b"),
      s"cycle 2 must start AFTER the last-served tenant, got $second")
  }

  test("planCycle over real directories honors closed-hour gating and fairness") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft-fair").toString
    val t0 = 1704067200L * 1000000000L
    def seed(tenant: String, hours: Int): TableLayout = {
      val layout = TableLayout(base, tenant, "prod")
      for (h <- 0 until hours; b <- 0 until 2) { // 2 small files per hour
        Seq((t0 + h * 3600L * 1000000000L + b, 1L, s"svc", "info", s"l$b",
          Map("k" -> "v")))
          .toDF("timestamp", "event_id", "service_name", "severity_text",
            "body", "log_attributes")
          .pipe(df => Storage.append(df, layout, "logs"))
      }
      layout
    }
    val noisy = seed("noisy", 6)
    val quiet = seed("quiet", 2)
    val sched = new CompactionScheduler(maxPerCycle = 4, maxPerTenant = 3)
    // now = far future → every hour closed
    val picked = sched.planCycle(spark,
      Seq(noisy -> "logs", quiet -> "logs"),
      nowNanos = Some(t0 + 365L * 86400L * 1000000000L))
    val byTenant = picked.groupBy(_.layout.tenant).view.mapValues(_.size).toMap
    assert(picked.size == 4)
    assert(byTenant.get("quiet").exists(_ >= 1),
      s"quiet tenant starved in $byTenant")
    assert(byTenant.get("noisy").exists(_ >= 1))

    // an OPEN hour (now inside it) is never selected
    val open = sched.planCycle(spark, Seq(quiet -> "logs"),
      nowNanos = Some(t0 + 1800L * 1000000000L))
    assert(open.isEmpty, s"open hours must not compact: $open")
  }
}
