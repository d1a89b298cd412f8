package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{JaroWinklerSim, LogfmtMap}

/** SparkSessionExtensions entry point — registers graft's native
  * expressions with the SQL function registry, so the pure-SQL surface
  * (`spark.sql(...)`, `SqlSurface`, JDBC users) sees them alongside the
  * Column API, and injects graft's optimizer rules. `HarnessSession`
  * builds every session with it (the mains, the shell's served clone and
  * the test session); a deployment outside those sets
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Injection happens per-session at build time — no global registry
  * mutation, safe with multiple concurrent sessions on a cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // promotion-invariant attribute resolution for the raw surface:
    // coalesce-of-map-probes → promoted label_<key> column (see
    // graft.plans.PromotedAttrRule)
    ext.injectOptimizerRule(_ => graft.plans.PromotedAttrRule)
    // automatic date_day partition-bound mirror for raw timestamp
    // predicates (see graft.plans.PartitionBoundRule)
    ext.injectOptimizerRule(_ => graft.plans.PartitionBoundRule)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("logfmt_map"),
      new ExpressionInfo(classOf[LogfmtMap].getName, "logfmt_map"),
      (children: Seq[Expression]) =>
        children match {
          case Seq(one) => LogfmtMap(one)
          case other => throw new IllegalArgumentException(
            s"logfmt_map expects 1 argument, got ${other.size}")
        }),
    (new FunctionIdentifier("jaro_winkler_sim"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName, "jaro_winkler_sim"),
      (children: Seq[Expression]) =>
        children match {
          case Seq(a, b) => JaroWinklerSim(a, b)
          case other => throw new IllegalArgumentException(
            s"jaro_winkler_sim expects 2 arguments, got ${other.size}")
        }))
}
