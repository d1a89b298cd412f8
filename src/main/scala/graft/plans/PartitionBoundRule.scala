package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Expression, GreaterThan, GreaterThanOrEqual, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, LongType}

/** Partition-bound MIRROR as a Catalyst optimizer rule: derive `date_day`
  * bounds from i64-nano `timestamp` predicates automatically (SURVEY §2.2
  * row 11 — the reference's scans inject the partition bound alongside
  * every time window; graft's language lowerings do it by hand, but the
  * RAW surfaces — spark.sql over a registered stored table, ad-hoc
  * DataFrame code — would otherwise scan every day directory and filter
  * rows late).
  *
  * For a Filter whose child exposes both `timestamp: LONG` (nanos) and
  * `date_day: DATE` and whose condition bounds the timestamp without
  * mentioning date_day, conjoin the IMPLIED day bounds:
  *
  *   ts >= L  ⇒  date_day >= day(L)        ts <= U  ⇒  date_day <= day(U)
  *   ts >  L  ⇒  date_day >= day(L)        ts <  U  ⇒  date_day <= day(U−1)
  *
  * The injected predicate is a consequence of the original one, so rows
  * are unchanged — but it references the Hive partition column, so the
  * file index prunes whole day directories before any row is read. The
  * fixed-point is natural: once injected, the condition references
  * date_day and the rule no longer matches. */
object PartitionBoundRule extends Rule[LogicalPlan] {

  private def epochDay(ns: Long): Int =
    Math.floorDiv(Math.floorDiv(ns, 1000000000L), 86400L).toInt

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val out = child.output
      val ddOpt = out.find(a => a.name == "date_day" && a.dataType == DateType)
      val tsOpt = out.find(a => a.name == "timestamp" && a.dataType == LongType)
      (ddOpt, tsOpt) match {
        case (Some(dd), Some(ts)) if !cond.references.contains(dd) =>
          val bounds = splitConjuncts(cond).flatMap(dayBound(_, ts, dd))
          if (bounds.isEmpty) f
          else Filter(bounds.foldLeft(cond)(And(_, _)), child)
        case _ => f
      }
  }

  /** one conjunct → the day bound it implies, if any.
    *
    * The bound is wrapped `IsNull(date_day) OR bound`: a frame that
    * unions stored rows with rows not yet written carries NULL date_day
    * on the unwritten side, where a bare `date_day >= d` would evaluate
    * to NULL and drop the row. Partition VALUES on the file index are
    * never null, so the IsNull arm costs nothing for directory pruning,
    * while the predicate stays a true consequence of the timestamp
    * window for every row. */
  private def dayBound(e: Expression, ts: Attribute, dd: Attribute): Option[Expression] = {
    def lo(v: Long) = Or(IsNull(dd), GreaterThanOrEqual(dd, Literal(epochDay(v), DateType)))
    def hi(v: Long) = Or(IsNull(dd), LessThanOrEqual(dd, Literal(epochDay(v), DateType)))
    e match {
      case GreaterThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
        if a.semanticEquals(ts) => Some(lo(v))
      case GreaterThan(a: AttributeReference, Literal(v: Long, LongType))
        if a.semanticEquals(ts) => Some(lo(v))
      case LessThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
        if a.semanticEquals(ts) => Some(hi(v))
      case LessThan(a: AttributeReference, Literal(v: Long, LongType))
        if a.semanticEquals(ts) =>
        Some(hi(if (v > Long.MinValue) v - 1 else v))
      // literal-first spellings
      case LessThanOrEqual(Literal(v: Long, LongType), a: AttributeReference)
        if a.semanticEquals(ts) => Some(lo(v))
      case LessThan(Literal(v: Long, LongType), a: AttributeReference)
        if a.semanticEquals(ts) => Some(lo(v))
      case GreaterThanOrEqual(Literal(v: Long, LongType), a: AttributeReference)
        if a.semanticEquals(ts) => Some(hi(v))
      case GreaterThan(Literal(v: Long, LongType), a: AttributeReference)
        if a.semanticEquals(ts) =>
        Some(hi(if (v > Long.MinValue) v - 1 else v))
      case _ => None
    }
  }
}
