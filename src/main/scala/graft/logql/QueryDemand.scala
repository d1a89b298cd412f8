package graft.logql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Ast._

/** Query-demand statistics (reference logql-reference.md:266-272 +
  * attr_promotion.rs): every attribute label a query filters or groups on
  * that is NOT a promoted column counts as demand, and the counters flush
  * to the catalog's advisory `attribute_stats` table — the signal that
  * tells the compactor which attributes are worth materializing. The q69
  * advisor consumes exactly this shape (its demand set is constant there;
  * this recorder derives it from a real query log). */
object QueryDemand {

  /** unpromoted labels the query demands: selector matchers, label-filter
    * predicates, unwrap, drop/keep/distinct lists, and by/without
    * groupings. Parser-DERIVED labels (json/logfmt extraction targets,
    * label_format assignments) are excluded — they resolve from the body
    * at read time, promotion cannot serve them. */
  def demandedLabels(promoted: Set[String], q: Query): Seq[String] = {
    val out = Seq.newBuilder[String]
    def log(lq: LogQuery): Unit = {
      var derived = Set.empty[String]
      val local = Seq.newBuilder[String]
      def lpred(p: LabelPredicate): Unit = p match {
        case LabelPredicate.And(l, r)        => lpred(l); lpred(r)
        case LabelPredicate.Or(l, r)         => lpred(l); lpred(r)
        case LabelPredicate.StrCmp(l, _, _)  => local += l
        case LabelPredicate.NumCmp(l, _, _)  => local += l
        case LabelPredicate.IpCmp(l, _, _)   => local += l
      }
      lq.selector.matchers.foreach(m => local += m.label)
      lq.stages.foreach {
        case Stage.LabelFilter(p)       => lpred(p)
        case Stage.Unwrap(l, _)         => local += l
        case Stage.Distinct(ls)         => local ++= ls
        case Stage.DropLabels(items)    => local ++= items.map(_._1)
        case Stage.KeepLabels(items)    => local ++= items.map(_._1)
        case Stage.JsonPath(ex)         => derived ++= ex.map(_._1)
        case Stage.LogfmtExtract(ex)    => derived ++= ex.map(_._1)
        case Stage.LabelFormat(as)      => derived ++= as.map(_._1)
        case _                          => ()
      }
      out ++= local.result().filterNot(derived.contains)
    }
    def metric(e: MetricExpr): Unit = e match {
      case RangeExpr(agg)   => log(agg.inner)
      case VectorExpr(vagg) =>
        log(vagg.inner.inner); out ++= vagg.by; out ++= vagg.without
      case BinaryExpr(_, l, r, _, on, ig, _) =>
        metric(l); metric(r); out ++= on; out ++= ig
      case LabelReplaceExpr(inner, _, _, src, _) => metric(inner); out += src
      case LiteralExpr(_) | VectorLit(_) => ()
    }
    q match {
      case LineQuery(lq)   => log(lq)
      case MetricQuery(me) => metric(me)
    }
    out.result().distinct.filterNot(promoted.contains).filterNot(_ == "__error__")
  }

  /** fold a query log into advisory rows: (attr, n_queries), distributed
    * as a tiny aggregate so the flush composes with any sink. */
  def demand(spark: SparkSession, promoted: Set[String],
      queries: Seq[String]): DataFrame =
    counts(spark, queries.flatMap(q => demandedLabels(promoted, Parser.parse(q))))

  /** advisory rows of a demand list: one per label, counting the
    * queries that demanded it (each query lists a label once). */
  def counts(spark: SparkSession, demanded: Seq[String]): DataFrame = {
    import spark.implicits._
    demanded.toDF("attr").groupBy("attr").agg(count(lit(1)).as("n_queries"))
  }

  /** append to the advisory `attribute_stats` table (plain parquet — the
    * table is advisory metadata, tiny by construction). */
  def flush(df: DataFrame, layout: graft.storage.Storage.TableLayout): Unit =
    df.write.mode("append").parquet(layout.path("attribute_stats"))
}
