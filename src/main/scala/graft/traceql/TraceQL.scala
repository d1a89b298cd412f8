package graft.traceql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** TraceQL subset + Tempo `tags` logfmt parser (reference:
  * src/querier/src/query/search_filter.rs — selector enum :33-47,
  * TraceQL subset :234-320, tags logfmt :184-232; everything outside the
  * subset is an explicit Unsupported error, :6-9).
  *
  * Supported: `{ sel = "v" && sel != "v" && duration > 100ms ... }` where
  * sel ∈ name | status | service.name | span.<attr> | resource.<attr> |
  * .<attr>; `&&` conjunctions and top-level `||` disjunctions (the
  * reference subset rejects `||` — search_filter.rs:234-320).
  */
object TraceQL {

  final case class Unsupported(msg: String) extends RuntimeException(msg)

  sealed trait Cond
  final case class StrEq(selector: String, value: String, negated: Boolean) extends Cond
  /** numeric comparison with attr coercion (`span.http.status_code >=
    * 400`): the attr string casts to double, non-numeric → null → no
    * match — Tempo's coercion semantics. */
  final case class NumCmp(selector: String, op: String, value: Double) extends Cond
  /** fully-anchored regex matcher (`name =~ "GET /api/.*"`, Tempo ≥2.2
    * anchors both ends). */
  final case class ReMatch(selector: String, regex: String, negated: Boolean) extends Cond
  /** unquoted intrinsic enum (`status = error`, `kind = server`) —
    * case-insensitive against the stored string. */
  final case class EnumEq(selector: String, value: String, negated: Boolean) extends Cond
  final case class DurCmp(op: String, nanos: Long) extends Cond
  /** top-level `||` inside a spanset: an OR of `&&`-groups — one Cond, so
    * every consumer (spansets, structural sides, metrics selectors) gets
    * disjunction support without changing shape. */
  final case class OrGroup(groups: Seq[Seq[Cond]]) extends Cond

  /** structural form — IMPLEMENTED BEYOND the reference subset (which
    * rejects anything but a single spanset, search_filter.rs:240-246):
    * `{A} > {B}`  = B-spans that are DIRECT CHILDREN of an A-span,
    * `{A} ~ {B}`  = B-spans that are SIBLINGS of a distinct A-span,
    * `{A} >> {B}` = B-spans that are DESCENDANTS of an A-span,
    * `{A} << {B}` = B-spans that are ANCESTORS of an A-span. */
  sealed trait Expr
  final case class Spanset(conds: Seq[Cond]) extends Expr
  final case class Structural(parent: Seq[Cond], op: String, child: Seq[Cond]) extends Expr
  /** spanset aggregate filter — `{...} | count() > 2`,
    * `{...} | avg(duration) > 100ms` (also min/max/sum): the aggregate is
    * computed over each trace's MATCHING spans and the whole spanset is
    * kept or dropped (Tempo pipeline semantics). `threshold` is a span
    * count for `count`, nanos otherwise. IMPLEMENTED BEYOND the reference
    * subset (search_filter.rs:240-246 rejects pipelines). */
  final case class AggFilter(input: Expr, func: String, op: String,
      threshold: Long) extends Expr
  /** spanset set operation — `{A} && {B}` / `{A} || {B}` (Tempo spanset
    * algebra, distinct from `&&`/`||` INSIDE one spanset): `&&` keeps
    * traces where BOTH sides match at least one span and returns the
    * matching spans of both sides; `||` returns the matching spans of
    * either side. */
  final case class SetOp(op: String, lhs: Expr, rhs: Expr) extends Expr

  private val structRe = """^(\{[^}]*\})\s*(!>>|!>|>>|<<|>|~)\s*(\{[^}]*\})$""".r
  private val setRe = """^(\{[^}]*\})\s*(&&|\|\|)\s*(\{.+)$""".r
  private val aggRe =
    """^(.*\})\s*\|\s*(count|sum|min|max|avg)\(\s*(duration)?\s*\)\s*(>=|<=|!=|=|>|<)\s*([0-9.]+)\s*(ns|us|ms|s|m|h)?$""".r

  def parseExpr(q: String): Expr = q.trim match {
    case aggRe(left, func, sel, op, v, unit) =>
      if (func == "count") {
        if (sel != null || unit != null)
          throw Unsupported("TraceQL: count() takes no operand")
        AggFilter(parseExpr(left), func, op, v.toDouble.toLong)
      } else {
        if (sel == null)
          throw Unsupported(s"TraceQL: $func() aggregates need duration")
        val mult = Option(unit).getOrElse("ns") match {
          case "ns" => 1L; case "us" => 1000L; case "ms" => 1000000L
          case "s" => 1000000000L; case "m" => 60L * 1000000000L
          case "h" => 3600L * 1000000000L
        }
        AggFilter(parseExpr(left), func, op, math.round(v.toDouble * mult))
      }
    case setRe(l, op, r) => SetOp(op, Spanset(parse(l)), parseExpr(r))
    case structRe(l, op, r) => Structural(parse(l), op, parse(r))
    case t => Spanset(parse(t))
  }

  /** Lower a structural expression over a spans frame that carries
    * `parent_span_id`. Both forms are ONE semi join keyed by
    * (trace_id, span link) — the per-trace span list is the join's
    * bucket, so fan-out is bounded by trace size, never corpus size. */
  def lowerExpr(spans: DataFrame, e: Expr): DataFrame = e match {
    case Spanset(c) => spans.filter(lower(c))
    case Structural(p, ">", c) =>
      val parents = spans.filter(lower(p))
        .select(col("trace_id").as("_p_tid"), col("span_id").as("_p_sid"))
      spans.filter(lower(c)).join(parents,
        col("trace_id") === col("_p_tid") && col("parent_span_id") === col("_p_sid"),
        "left_semi")
    case Structural(p, "!>", c) =>
      // negated child (Tempo 2.3 structural negation): B-spans whose
      // parent does NOT match A — the same single join, anti instead of
      // semi
      val parents = spans.filter(lower(p))
        .select(col("trace_id").as("_p_tid"), col("span_id").as("_p_sid"))
      spans.filter(lower(c)).join(parents,
        col("trace_id") === col("_p_tid") && col("parent_span_id") === col("_p_sid"),
        "left_anti")
    case Structural(p, "!>>", c) =>
      // negated descendant: B-spans with NO ancestor matching A. Same
      // per-trace fold as '>>' with the verdict inverted; traces with no
      // A-match at all never enter the index, so their B-spans pass via
      // the left join's null branch.
      val byTrace = traceIndex(spans, p)
      spans.filter(lower(c))
        .join(byTrace, col("trace_id") === col("_t"), "left")
        .filter(col("_t").isNull || !expr(
          """aggregate(sequence(1, 64),
            |  struct(parent_span_id AS cur, false AS found),
            |  (acc, i) -> IF(acc.found OR acc.cur IS NULL, acc,
            |    struct(_pmap[acc.cur] AS cur,
            |           array_contains(_aset, acc.cur) AS found)),
            |  acc -> acc.found)""".stripMargin))
        .drop("_t", "_pmap", "_aset")
    case Structural(p, "~", c) =>
      val sibs = spans.filter(lower(p))
        .select(col("trace_id").as("_p_tid"),
          col("parent_span_id").as("_p_par"), col("span_id").as("_p_sid"))
      spans.filter(lower(c)).join(sibs,
        col("trace_id") === col("_p_tid") && col("parent_span_id") === col("_p_par") &&
          col("span_id") =!= col("_p_sid"),
        "left_semi")
    case Structural(p, ">>", c) =>
      // descendant: B-spans with ANY ancestor matching A. The trace is
      // the unit of work: one hash aggregate folds each trace's parent
      // map + A-span set, then every candidate walks its parent chain
      // inside a codegen'd `aggregate` fold (depth cap 64 — deeper
      // traces are pathological). One shuffle, no iterative joins; the
      // per-trace map bounds memory by trace size, never corpus size.
      val byTrace = traceIndex(spans, p)
      spans.filter(lower(c))
        .join(byTrace, col("trace_id") === col("_t"))
        .filter(expr(
          """aggregate(sequence(1, 64),
            |  struct(parent_span_id AS cur, false AS found),
            |  (acc, i) -> IF(acc.found OR acc.cur IS NULL, acc,
            |    struct(_pmap[acc.cur] AS cur,
            |           array_contains(_aset, acc.cur) AS found)),
            |  acc -> acc.found)""".stripMargin))
        .drop("_t", "_pmap", "_aset")
    case Structural(p, "<<", c) =>
      // ancestor: B-spans on the parent chain of ANY A-span. Fold each
      // A-span's chain into an id array (same depth cap), explode to
      // (trace, ancestor-id) pairs, semi-join the candidates — closure
      // size ≤ depth·|A| per trace.
      val anc = traceIndex(spans, p)
        .select(col("_t"), explode(col("_aset")).as("_a"), col("_pmap"))
        .select(col("_t"), explode(expr(
          // slice(array(x), 1, 0) = empty array of x's type — keeps the
          // fold agnostic to the span-id column type
          """aggregate(sequence(1, 64),
            |  struct(_pmap[_a] AS cur, slice(array(_a), 1, 0) AS anc),
            |  (acc, i) -> IF(acc.cur IS NULL, acc,
            |    struct(_pmap[acc.cur] AS cur, array_append(acc.anc, acc.cur) AS anc)),
            |  acc -> acc.anc)""".stripMargin)).as("_anc"))
        .distinct()
      spans.filter(lower(c)).join(anc,
        col("trace_id") === col("_t") && col("span_id") === col("_anc"),
        "left_semi")
    case Structural(_, op, _) => throw Unsupported(s"TraceQL: unsupported structural '$op'")
    case SetOp(op, l, r) =>
      // both sides filter the SAME scan; union-dedup by span identity,
      // then (for &&) one semi join on the distinct-trace intersection —
      // per-trace bounded, no cross-trace fan-out
      val lv = lowerExpr(spans, l)
      val rv = lowerExpr(spans, r)
      val un = lv.unionByName(rv).dropDuplicates("trace_id", "span_id")
      op match {
        case "||" => un
        case "&&" =>
          val both = lv.select(col("trace_id")).distinct()
            .join(rv.select(col("trace_id")).distinct(), "trace_id")
          un.join(both, Seq("trace_id"), "left_semi")
      }
    case AggFilter(in, func, op, thr) =>
      // one window over trace_id (single shuffle, no self-join); avg is
      // lowered to the exact integer form `sum op thr*count` so the
      // keep/drop decision never rides an IEEE division
      val m = lowerExpr(spans, in)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("trace_id"))
      val pass = func match {
        case "count" => cmp(op, count(lit(1)).over(w), lit(thr))
        case "sum"   => cmp(op, sum(col("duration_nanos")).over(w), lit(thr))
        case "min"   => cmp(op, min(col("duration_nanos")).over(w), lit(thr))
        case "max"   => cmp(op, max(col("duration_nanos")).over(w), lit(thr))
        case "avg"   => cmp(op, sum(col("duration_nanos")).over(w),
          count(lit(1)).over(w) * lit(thr))
      }
      m.withColumn("_pass", pass).filter(col("_pass")).drop("_pass")
  }

  private def cmp(op: String, l: Column, r: Column): Column = op match {
    case ">" => l > r; case ">=" => l >= r; case "<" => l < r
    case "<=" => l <= r; case "=" => l === r; case "!=" => l =!= r
  }

  /** per-trace structural index: parent-link map over ALL spans of the
    * trace + the span-id set matching the A-side conditions; traces with
    * no A-match drop before the join. `map_from_entries` over structs —
    * NOT map_from_arrays over two collect_lists, which silently skips
    * null parents (root spans) and misaligns the arrays. */
  private def traceIndex(spans: DataFrame, p: Seq[Cond]): DataFrame =
    spans
      .groupBy(col("trace_id").as("_t"))
      .agg(
        map_from_entries(collect_list(struct(col("span_id"), col("parent_span_id"))))
          .as("_pmap"),
        collect_set(when(lower(p), col("span_id"))).as("_aset"))
      .filter(size(col("_aset")) > 0)

  /** parse `{ ... }`: an OR (`||`) of AND (`&&`) groups; both separators
    * split OUTSIDE quoted strings only. */
  def parse(q: String): Seq[Cond] = {
    val t = q.trim
    if (!t.startsWith("{") || !t.endsWith("}"))
      throw Unsupported("TraceQL: expected { ... }")
    val body = t.substring(1, t.length - 1).trim
    if (body.isEmpty) return Seq.empty
    def conj(part: String): Seq[Cond] =
      splitTop(part, "&&").map(_.trim).map(parseCond)
    val orParts = splitTop(body, "||").map(_.trim)
    if (orParts.length > 1) Seq(OrGroup(orParts.map(conj)))
    else conj(body)
  }

  /** split on a separator at quote-depth zero (values may contain it). */
  private def splitTop(body: String, sep: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '"' && (i == 0 || body.charAt(i - 1) != '\\')) {
        inQ = !inQ; sb.append(c); i += 1
      } else if (!inQ && body.startsWith(sep, i)) {
        parts += sb.toString; sb.clear(); i += sep.length
      } else { sb.append(c); i += 1 }
    }
    parts += sb.toString
    parts.result()
  }

  private val durRe = """^duration\s*(>=|<=|!=|=|>|<)\s*(\d+)(ns|us|ms|s|m|h)$""".r
  private val eqRe = """^([\w.]+|\.[\w.]+)\s*(=|!=)\s*"((?:[^"\\]|\\.)*)"$""".r
  private val reRe = """^([\w.]+|\.[\w.]+)\s*(=~|!~)\s*"((?:[^"\\]|\\.)*)"$""".r
  private val numRe = """^([\w.]+|\.[\w.]+)\s*(>=|<=|!=|=|>|<)\s*(-?\d+(?:\.\d+)?)$""".r
  private val enumRe = """^(status|status\.code|kind|span\.kind)\s*(=|!=)\s*([A-Za-z_]+)$""".r

  private def parseCond(s: String): Cond = s match {
    case durRe(op, n, unit) =>
      val mult = unit match {
        case "ns" => 1L; case "us" => 1000L; case "ms" => 1000000L
        case "s" => 1000000000L; case "m" => 60L * 1000000000L
        case "h" => 3600L * 1000000000L
      }
      DurCmp(op, n.toLong * mult)
    case eqRe(sel, op, v) =>
      StrEq(sel, v.replace("\\\"", "\""), negated = op == "!=")
    case reRe(sel, op, v) =>
      ReMatch(sel, v.replace("\\\"", "\""), negated = op == "!~")
    case enumRe(sel, op, v) =>
      EnumEq(sel, v, negated = op == "!=")
    case numRe("duration", op, n) => // bare-number duration = nanos;
      // equality included (Tempo grammar allows `duration = 2s`)
      DurCmp(op, math.round(n.toDouble))
    case numRe(sel, op, n) =>
      NumCmp(sel, op, n.toDouble)
    case other => throw Unsupported(s"TraceQL: unsupported condition '$other'")
  }

  /** TraceQL METRICS (`/api/metrics/query_range`) — the reference returns
    * a hard 501 for these (docs/users/tempo-api-reference.md:28-29);
    * implemented beyond it: second-stage functions over a spanset, on the
    * same fixed step-bucket grid every other signal uses. */
  final case class MetricsQuery(conds: Seq[Cond], func: String,
      param: Option[Double], by: Seq[String])

  private val metricsRe =
    """^(\{[^}]*\})\s*\|\s*(rate|count_over_time|min_over_time|max_over_time|avg_over_time|quantile_over_time)\s*\(\s*(?:duration\s*(?:,\s*([0-9.]+))?)?\s*\)\s*(?:by\s*\(([^)]*)\))?\s*$""".r

  def parseMetrics(q: String): MetricsQuery = q.trim match {
    case metricsRe(sel, func, param, by) =>
      val needsDuration = Set("min_over_time", "max_over_time",
        "avg_over_time", "quantile_over_time")(func)
      val p = Option(param).map(_.toDouble)
      if (func == "quantile_over_time" && p.isEmpty)
        throw Unsupported("quantile_over_time needs (duration, q)")
      if (!needsDuration && q.contains("duration"))
        throw Unsupported(s"$func takes no operand")
      MetricsQuery(parse(sel), func, p,
        Option(by).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty))
    case _ => throw Unsupported(s"TraceQL metrics: cannot parse '$q'")
  }

  /** Lower a metrics query over a traces frame: one filter + one hash
    * aggregate per step bucket (and `by` groups) — the flat shape that
    * scales; quantiles use the exact interpolated percentile. */
  def lowerMetrics(spans: DataFrame, mq: MetricsQuery, stepSec: Long): DataFrame = {
    val filtered = spans.filter(lower(mq.conds))
      .withColumn("bucket_start", expr(s"(timestamp div 1000000000) div $stepSec * $stepSec"))
    val byCols = mq.by.map(sel =>
      selectorCol(sel).as(sel.replaceAll("[^A-Za-z0-9]", "_")))
    val keys = col("bucket_start") +: byCols
    val dur = col("duration_nanos").cast(DoubleType)
    val value = mq.func match {
      case "count_over_time"    => count(lit(1)).cast(DoubleType)
      case "rate"               => count(lit(1)).cast(DoubleType) / lit(stepSec.toDouble)
      case "min_over_time"      => min(dur)
      case "max_over_time"      => max(dur)
      case "avg_over_time"      =>
        // decimal-exact sum, one final IEEE division — deterministic
        // across engines and partitionings (float avg is neither)
        sum(col("duration_nanos").cast("decimal(38,0)")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)
      case "quantile_over_time" => percentile(dur, lit(mq.param.get))
    }
    filtered.groupBy(keys: _*).agg(value.as("value"))
  }

  /** Tempo `tags` logfmt: `key=value key2="quoted"` → equality conditions
    * (search_filter.rs:184-232). */
  def parseTags(tags: String): Seq[Cond] =
    """(\S+?)=("((?:[^"\\]|\\.)*)"|\S+)""".r.findAllMatchIn(tags).map { m =>
      val v = Option(m.group(3)).getOrElse(m.group(2))
      StrEq(m.group(1), v, negated = false)
    }.toSeq

  /** Lower conditions onto a traces-shaped DataFrame. Intrinsics map to
    * promoted columns; `span./resource./.` attrs go to the attribute maps
    * (search_filter.rs:70-117). */
  def lower(conds: Seq[Cond]): Column =
    conds.map(condCol).reduceOption(_ && _).getOrElse(lit(true))

  private def selectorCol(sel: String): Column = sel match {
    case "name" | "span.name"              => col("span_name")
    case "status" | "status.code"          => col("status_code")
    case "kind" | "span.kind"              => col("span_kind")
    case "service.name" | "resource.service.name" => col("service_name")
    case s if s.startsWith("span.")        => element_at(col("span_attributes"), s.stripPrefix("span."))
    case s if s.startsWith("resource.")    => element_at(col("resource_attributes"), s.stripPrefix("resource."))
    case s if s.startsWith(".") =>
      coalesce(element_at(col("span_attributes"), s.stripPrefix(".")),
        element_at(col("resource_attributes"), s.stripPrefix(".")))
    case other => throw Unsupported(s"TraceQL: unknown selector '$other'")
  }

  private def condCol(c: Cond): Column = c match {
    case StrEq(sel, v, false) => selectorCol(sel) === v
    case StrEq(sel, v, true)  => selectorCol(sel) =!= v
    case NumCmp(sel, op, v) =>
      val n = selectorCol(sel).cast(DoubleType) // non-numeric → null → no match
      op match {
        case ">"  => n > v
        case ">=" => n >= v
        case "<"  => n < v
        case "<=" => n <= v
        case "="  => n === v
        case "!=" => n =!= v
      }
    case ReMatch(sel, re, neg) =>
      val m = selectorCol(sel).rlike("^(?:" + re + ")$") // Tempo ≥2.2 anchoring
      if (neg) !m else m
    case EnumEq(sel, v, neg) =>
      val m = upper(selectorCol(sel)) === v.toUpperCase
      if (neg) !m else m
    case DurCmp(op, n) =>
      val d = col("duration_nanos")
      op match {
        case ">"  => d > n
        case ">=" => d >= n
        case "<"  => d < n
        case "<=" => d <= n
      }
    case OrGroup(groups) =>
      groups
        .map(g => g.map(condCol).reduceOption(_ && _).getOrElse(lit(true)))
        .reduce(_ || _)
  }
}
