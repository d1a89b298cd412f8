package graft.logql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import Ast._

/** LogQL → DataFrame lowering (reference: src/querier/src/query/logql.rs
  * label/line lowering, logql_metric.rs metric planning — re-expressed as
  * declarative Spark plans; never SQL strings, reference logs.rs:8-9).
  *
  * Semantics carried over:
  *  - Kleene/NULL parity: a comparison on an absent label is NULL, so the
  *    row is dropped under both `p` and `not p` (reference
  *    query_ir/value.rs:342-346) — exactly Spark's `WHERE`.
  *  - `=~`/`!~` label matchers are FULLY ANCHORED (Loki semantics); line
  *    filters `|~` are unanchored search.
  *  - metric buckets are fixed step-aligned tumbling windows with origin 0,
  *    step = range (documented approximation, reference
  *    logql_metric.rs:11-15, exact when step == range).
  *  - stddev/stdvar lower to the exact sum/sumsq formula so results are
  *    aggregation-order independent (cluster-deterministic).
  */
object Lowering {

  /** A logs-shaped table: `timestamp` is Long epoch-nanos, `body` string;
    * `promoted` label → physical column; everything else resolves from the
    * attribute map columns if present (generation-2 storage).
    * `seriesLabels` define stream identity for metric queries.
    */
  final case class LogsTable(
      df: DataFrame,
      promoted: Map[String, String],
      seriesLabels: Seq[String],
      hasAttrMap: Boolean = false,
      /** attribute containers in resolution-priority order — an unpromoted
        * label coalesces across them (record-level wins, reference
        * ir_planner.rs:152-225 SchemaResolver) */
      attrMapCols: Seq[String] = Seq("log_attributes"),
      /** extra columns appended to ORDER BY for a total (deterministic) order */
      tieBreak: Seq[String] = Seq.empty,
      /** statically known label-value expressions for VIEW-backed gen-2
        * tables (r16): bit-identical to the element_at container coalesce
        * by construction of the view, but a matcher over one resolves to
        * the label's own defining expression instead of inlining the
        * WHOLE attribute-map build (json parse + map_filter, which
        * blocks SimplifyExtractValueOps) into a pushed-down filter —
        * q109's {env="prod"} selector measured a 1.7 s single-task scan
        * stage that way. Storage-backed tables (real map columns, no
        * static definition) leave this empty and resolve via the maps. */
      attrExprs: Map[String, Column] = Map.empty) {
    /** `attr_tokens` present → equality matchers on unpromoted labels can
      * add a bloom-eligible containment conjunct (schema/mod.rs:40-53). */
    def hasAttrTokens: Boolean = hasAttrMap && df.columns.contains("attr_tokens")
  }

  /** Label resolution context; `| json` / `| logfmt` add extraction scopes
    * (reference AttrContext, logql.rs:44-56; SchemaResolver promotion
    * invariance, ir_planner.rs:152-225). */
  private final case class Ctx(table: LogsTable, jsonParsed: Boolean, logfmtParsed: Boolean,
      overrides: Map[String, Column] = Map.empty,
      /** `| unpack` ran: labels resolve from the packed JSON entry kept in
        * the `_packed` column (reference ast.rs:69). */
      unpacked: Boolean = false,
      /** `| keep` gate: when set, only the listed labels survive — an item
        * with a matcher keeps the label only on rows where it holds. */
      keep: Option[Seq[(String, Option[(MatchOp, String)])]] = None) {
    def resolve(label: String): Column = {
      val base = overrides.get(label) match {
        case Some(c) => c
        case None    => resolvePhysical(label)
      }
      keep match {
        case None => base
        case Some(items) => items.find(_._1 == label) match {
          case None                     => lit(null).cast("string")
          case Some((_, None))          => base
          case Some((_, Some((op, v)))) => when(itemMatches(base, op, v), base)
        }
      }
    }
    private def resolvePhysical(label: String): Column =
      // `__error__`: parse-stage error status (Loki semantics; the
      // reference parses it, logql lexer.rs:552/parser.rs:1364). After
      // `| json` it is "JSONParserErr" where the body is not valid JSON,
      // "" otherwise — get_json_object(body, '$') is NULL exactly on
      // invalid JSON, so the status stays a codegen'd expression. The
      // logfmt/unpack extractions here are total (regex first-match),
      // so they never set an error.
      if (label == "__error__") {
        if (jsonParsed)
          when(get_json_object(col("body"), "$").isNull, lit("JSONParserErr"))
            .otherwise(lit(""))
        else lit("")
      } else table.promoted.get(label) match {
        case Some(phys) => col(phys)
        case None if unpacked =>
          // pack format: every key except `_entry` is a label
          get_json_object(col("_packed"), s"$$.$label")
        case None if jsonParsed =>
          get_json_object(col("body"), s"$$.$label")
        case None if logfmtParsed =>
          logfmtExtractCol(label)
        case None if table.hasAttrMap =>
          table.attrExprs.get(label) match {
            // view-backed table: the label's defining expression (exact
            // same value as the container coalesce below — see attrExprs)
            case Some(c) => c
            case None =>
              // generation-2 path: coalesce across attribute containers in
              // priority order (record attrs shadow resource/scope attrs)
              val present = table.attrMapCols.filter(table.df.columns.contains)
              if (present.isEmpty)
                throw Unsupported(s"label '$label' is not resolvable on this table")
              coalesce(present.map(m => element_at(col(m), label)): _*)
          }
        case None =>
          throw Unsupported(s"label '$label' is not resolvable on this table")
      }
    /** true when an equality on `label` may add the `attr_tokens`
      * containment conjunct: label resolves from the attribute maps (not a
      * promoted column, not a parser extraction, not a format override). */
    def tokenEligible(label: String): Boolean =
      // attrExprs set ⟺ view-backed table: there the containment
      // conjunct has no storage bloom/stats to trigger — it only inlines
      // the whole token-array build into the pushed-down filter (r16;
      // stored tables keep the conjunct, that is what it exists for)
      table.attrExprs.isEmpty &&
        table.hasAttrTokens && !overrides.contains(label) &&
        !table.promoted.contains(label) && !jsonParsed && !logfmtParsed &&
        !unpacked && keep.isEmpty
  }

  /** logfmt k=v extraction via the single-pass native tokenizer — every
    * extracted label shares one parse of the body (codegen CSE); raw
    * value (quotes kept) and '' on miss, matching the regex it replaced. */
  private def logfmtExtractCol(key: String): Column =
    coalesce(
      element_at(graft.functions.LogfmtMap.logfmtMap(col("body")), key),
      lit(""))

  /** drop/keep item matcher over the label's current value (absent ⇒ NULL
    * ⇒ the conditional falls through, like every other label predicate). */
  private def itemMatches(cur: Column, op: MatchOp, v: String): Column = op match {
    case MatchOp.Eq  => cur === v
    case MatchOp.Neq => cur =!= v
    case MatchOp.Re  => cur.rlike(anchored(v))
    case MatchOp.Nre => !cur.rlike(anchored(v))
  }

  /** bounded regex guard (reference ir_planner.rs:1105): reject oversized
    * or syntactically-invalid patterns at plan time with an explicit
    * error, never inside a running executor task. */
  private def guardRegex(re: String): String = {
    if (re.length > 1024)
      throw Unsupported(s"regex exceeds the 1024-char bound (${re.length})")
    try java.util.regex.Pattern.compile(re)
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        throw Unsupported(s"invalid regex: ${e.getDescription}")
    }
    re
  }

  private def anchored(re: String): String = "^(?:" + guardRegex(re) + ")$"

  /** compile a `| pattern` expression — literals plus `<name>` / `<_>`
    * captures (reference ast.rs:65). Start-anchored; a capture is
    * non-greedy up to the next literal; a trailing capture takes the rest
    * of the line. Escaping is metachar-by-metachar so the SAME regex runs
    * under Java (Spark) and RE2 (the DuckDB oracle). Returns (regex,
    * capture names in group order — `<_>` compiles to a non-capturing
    * group so indices line up). */
  private[logql] def compilePattern(p: String): (String, Seq[String]) = {
    def esc(s: String): String =
      s.flatMap(c => if ("\\^$.|?*+()[]{}".contains(c)) s"\\$c" else c.toString)
    val capRe = "<([A-Za-z_][A-Za-z0-9_]*)>".r
    val sb = new StringBuilder("^")
    val names = Seq.newBuilder[String]
    var last = 0
    for (m <- capRe.findAllMatchIn(p)) {
      if (m.start > last) sb ++= esc(p.substring(last, m.start))
      val body = if (m.end == p.length) ".*" else ".*?"
      if (m.group(1) == "_") sb ++= s"(?:$body)"
      else { names += m.group(1); sb ++= s"($body)" }
      last = m.end
    }
    if (last < p.length) sb ++= esc(p.substring(last))
    (sb.toString, names.result())
  }

  /** compile a `| regexp` pattern (reference ast.rs:64): rewrite Go/RE2
    * `(?P<name>…)` named groups to plain groups and return each name with
    * its capture index — the SAME rewritten regex and index drive both
    * Spark's regexp_extract and the DuckDB oracle. Unnamed groups still
    * occupy indices; `(?…)` constructs and char classes don't. */
  private[logql] def compileNamedRegexp(p: String): (String, Seq[(String, Int)]) = {
    if (p.length > 1024)
      throw Unsupported(s"regex exceeds the 1024-char bound (${p.length})")
    val sb = new StringBuilder
    val names = Seq.newBuilder[(String, Int)]
    var i = 0
    var groupIdx = 0
    var inClass = false
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\\' && i + 1 < p.length) { sb += c += p.charAt(i + 1); i += 2 }
      else if (inClass) { if (c == ']') inClass = false; sb += c; i += 1 }
      else if (c == '[') { inClass = true; sb += c; i += 1 }
      else if (c == '(' && p.startsWith("(?P<", i)) {
        val end = p.indexOf('>', i + 4)
        if (end < 0) throw Unsupported("unterminated (?P<name> group")
        groupIdx += 1
        names += (p.substring(i + 4, end) -> groupIdx)
        sb += '('; i = end + 1
      }
      else if (c == '(' && !p.startsWith("(?", i)) { groupIdx += 1; sb += c; i += 1 }
      else { sb += c; i += 1 }
    }
    val re = sb.toString
    guardRegex(re)
    val out = names.result()
    if (out.isEmpty)
      throw Unsupported("| regexp requires at least one (?P<name>…) capture")
    (re, out)
  }

  /** `| regexp "(?P<name>re)"` — named-capture extraction over the line.
    * An unmatched line (or empty capture) carries NO label, like
    * `| pattern` (Loki parser-stage semantics). */
  private def withRegexpOverrides(ctx: Ctx, p: String): Ctx = {
    val (re, names) = compileNamedRegexp(p)
    names.foldLeft(ctx) { case (c, (n, idx)) =>
      val x = regexp_extract(col("body"), re, idx)
      c.copy(overrides = c.overrides + (n -> when(x =!= "", x)))
    }
  }

  /** ctx-only stage application shared by the filter pass and `finalCtx`
    * (parser extractions, format/drop/keep overrides — everything a later
    * label reference can observe without touching rows). */
  private def applyCtxStage(ctx: Ctx, st: Stage): Ctx = st match {
    case Stage.Json   => ctx.copy(jsonParsed = true)
    case Stage.Logfmt => ctx.copy(logfmtParsed = true)
    case Stage.JsonPath(ex) =>
      // `| json lbl="path"` — only the listed labels are extracted
      ex.foldLeft(ctx) { case (c, (lbl, path)) =>
        c.copy(overrides = c.overrides +
          (lbl -> get_json_object(col("body"), s"$$.$path")))
      }
    case Stage.LogfmtExtract(ex) =>
      ex.foldLeft(ctx) { case (c, (lbl, src)) =>
        c.copy(overrides = c.overrides + (lbl -> logfmtExtractCol(src)))
      }
    case Stage.Regexp(p) => withRegexpOverrides(ctx, p)
    case Stage.Unpack    => ctx.copy(unpacked = true)
    case Stage.Pattern(p) => withPatternOverrides(ctx, p)
    case Stage.LabelFormat(assigns) =>
      assigns.foldLeft(ctx) { case (c, (dst, spec)) =>
        val v = spec match {
          case Left(src)   => c.resolve(src)
          case Right(tmpl) => templateCol(c, tmpl)
        }
        c.copy(overrides = c.overrides + (dst -> v))
      }
    case Stage.DropLabels(items) =>
      // a matcher-gated drop nulls the label only where the matcher holds
      items.foldLeft(ctx) { case (c, (name, m)) =>
        val cur = c.resolve(name)
        val nv = m match {
          case None          => lit(null).cast("string")
          case Some((op, v)) => when(!itemMatches(cur, op, v), cur)
        }
        c.copy(overrides = c.overrides + (name -> nv))
      }
    case Stage.KeepLabels(items) => ctx.copy(keep = Some(items))
    case _ => ctx
  }

  private def matcherCol(c: Ctx, m: LabelMatcher): Column = {
    val l = c.resolve(m.label)
    m.op match {
      case MatchOp.Eq  => l === m.value
      case MatchOp.Neq => l =!= m.value
      case MatchOp.Re  => l.rlike(anchored(m.value))
      case MatchOp.Nre => !l.rlike(anchored(m.value))
    }
  }

  private def predCol(c: Ctx, p: LabelPredicate): Column = p match {
    case LabelPredicate.And(a, b) => predCol(c, a) && predCol(c, b)
    case LabelPredicate.Or(a, b)  => predCol(c, a) || predCol(c, b)
    case LabelPredicate.StrCmp(label, op, v) =>
      matcherCol(c, LabelMatcher(label, op, v))
    case LabelPredicate.NumCmp(label, op, v) =>
      // numeric coercion: unpromoted labels are strings; cast to double so
      // promoted/unpromoted compare identically (ir_planner.rs:740-776)
      val l = c.resolve(label).cast(DoubleType)
      op match {
        case CmpOp.Eq  => l === v
        case CmpOp.Neq => l =!= v
        case CmpOp.Gt  => l > v
        case CmpOp.Gte => l >= v
        case CmpOp.Lt  => l < v
        case CmpOp.Lte => l <= v
      }
    case LabelPredicate.IpCmp(label, eq, pattern) if pattern.contains(':') =>
      // IPv6: both sides normalize to the full 32-nibble hex string, so
      // the [lo, hi] range check is a plain string between — same-length
      // hex strings order lexicographically exactly like the 128-bit
      // values. All codegen string ops, no UDF; invalid values are NULL
      // and drop under either polarity (Kleene, as for IPv4).
      val (lo, hi) = ipv6Range(pattern)
      val n = ipv6NormCol(c.resolve(label).cast("string"))
      if (eq) n.between(lo, hi) else !n.between(lo, hi)
    case LabelPredicate.IpCmp(label, eq, pattern) =>
      // membership of the label's IPv4 value in the pattern range; a
      // non-IPv4 value is NULL and drops under either polarity
      val (lo, hi) = ipv4Range(pattern)
      val n = ipv4Num(c.resolve(label).cast("string"))
      if (eq) n.between(lo, hi) else !n.between(lo, hi)
  }

  private def lineFilterCol(f: Stage.LineFilter): Column = f.op match {
    case LineOp.Contains    => col("body").contains(f.needle)
    case LineOp.NotContains => !col("body").contains(f.needle)
    case LineOp.Regex       => col("body").rlike(guardRegex(f.needle))
    case LineOp.NotRegex    => !col("body").rlike(guardRegex(f.needle))
    // `|>` / `!>` (Loki 3.x): the pattern must match the WHOLE line —
    // compilePattern is start-anchored, the `$` closes the end
    case LineOp.Pattern     => col("body").rlike(compilePattern(f.needle)._1 + "$")
    case LineOp.NotPattern  => !col("body").rlike(compilePattern(f.needle)._1 + "$")
  }

  // ---- ip() — IPv4 exact / a-b range / CIDR ------------------------------
  // Implemented beyond the reference, which parses ip() but rejects it at
  // execution (logql.rs:674). Label filters take IPv4 and IPv6; line
  // filters are IPv4-only. All plan-time: the pattern compiles to a
  // [lo, hi] range, the value side to a codegen'd split/fold — no UDF.

  private val ipv4Re = "^([0-9]{1,3})\\.([0-9]{1,3})\\.([0-9]{1,3})\\.([0-9]{1,3})$"

  /** dotted-quad column → numeric value; NULL when not a valid IPv4 (so
    * filters drop the row under both the predicate and its negation —
    * the same Kleene rule every other label comparison follows). */
  private def ipv4Num(c: Column): Column = {
    val parts = split(c, "\\.")
    when(c.rlike(ipv4Re) && forall(parts, p => p.cast(LongType) <= 255),
      aggregate(parts, lit(0L), (acc, x) => acc * 256 + x.cast(LongType)))
  }

  /** `ip("…")` pattern → inclusive numeric [lo, hi], resolved at plan
    * time: "a.b.c.d" exact, "a-b" range, "base/len" CIDR. */
  private def ipv4Range(pattern: String): (Long, Long) = {
    def parse(s: String): Long = {
      val t = s.trim
      if (!t.matches(ipv4Re.drop(1).dropRight(1))) // strip ^$ for matches()
        throw Unsupported(s"ip(): '$t' is not an IPv4 address (IPv6 unsupported)")
      val o = t.split("\\.").map(_.toLong)
      if (o.exists(_ > 255)) throw Unsupported(s"ip(): octet out of range in '$t'")
      o.reduce(_ * 256 + _)
    }
    pattern match {
      case p if p.contains('/') =>
        val Array(base, len) = p.split("/", 2)
        val bits = try len.trim.toInt catch {
          case _: NumberFormatException => throw Unsupported(s"ip(): bad CIDR length '$len'")
        }
        if (bits < 0 || bits > 32) throw Unsupported(s"ip(): CIDR length $bits out of [0,32]")
        val mask = if (bits == 0) 0L else (0xFFFFFFFFL << (32 - bits)) & 0xFFFFFFFFL
        val lo = parse(base) & mask
        (lo, lo | (~mask & 0xFFFFFFFFL))
      case p if p.contains('-') =>
        val Array(a, b) = p.split("-", 2)
        val (lo, hi) = (parse(a), parse(b))
        if (lo > hi) throw Unsupported(s"ip(): inverted range '$p'")
        (lo, hi)
      case p =>
        val v = parse(p); (v, v)
    }
  }

  // ---- ip() — IPv6 exact / a-b range / CIDR ------------------------------

  /** plan-time IPv6 literal → 32-nibble lowercase hex. Accepts `::`
    * compression and an embedded IPv4 tail (`::ffff:1.2.3.4`). */
  private def ipv6Hex(s0: String): String = {
    val t = s0.trim.toLowerCase
    def bad(m: String): Nothing = throw Unsupported(s"ip(): $m in '$s0'")
    val halves = t.split("::", -1)
    if (halves.length > 2) bad("multiple '::'")
    def expand(part: String, mayEndV4: Boolean): Seq[String] =
      if (part.isEmpty) Seq.empty
      else {
        val gs = part.split(":", -1).toSeq
        gs.zipWithIndex.flatMap { case (g, i) =>
          if (g.isEmpty) bad("empty group")
          else if (g.contains('.')) {
            if (!mayEndV4 || i != gs.length - 1) bad("embedded IPv4 not at tail")
            val o = g.split("\\.", -1)
            if (o.length != 4 || o.exists(x => !x.matches("[0-9]{1,3}") || x.toInt > 255))
              bad(s"bad embedded IPv4 '$g'")
            val v = o.map(_.toInt)
            Seq(f"${v(0) * 256 + v(1)}%04x", f"${v(2) * 256 + v(3)}%04x")
          } else if (!g.matches("[0-9a-f]{1,4}")) bad(s"bad hex group '$g'")
          else Seq(("0" * (4 - g.length)) + g)
        }
      }
    val groups =
      if (halves.length == 1) expand(halves(0), mayEndV4 = true)
      else {
        val l = expand(halves(0), mayEndV4 = false)
        val r = expand(halves(1), mayEndV4 = true)
        if (l.size + r.size > 7) bad("'::' must compress at least one group")
        l ++ Seq.fill(8 - l.size - r.size)("0000") ++ r
      }
    if (groups.size != 8) bad(s"${groups.size} groups")
    groups.mkString
  }

  /** `ip("…")` IPv6 pattern → inclusive [lo, hi] as 32-nibble hex. */
  private def ipv6Range(pattern: String): (String, String) = {
    def hex(v: java.math.BigInteger): String = String.format("%032x", v)
    pattern match {
      case p if p.contains('/') =>
        val Array(base, len) = p.split("/", 2)
        val bits = try len.trim.toInt catch {
          case _: NumberFormatException => throw Unsupported(s"ip(): bad CIDR length '$len'")
        }
        if (bits < 0 || bits > 128) throw Unsupported(s"ip(): CIDR length $bits out of [0,128]")
        val one = java.math.BigInteger.ONE
        val full = one.shiftLeft(128).subtract(one)
        val mask = full.shiftLeft(128 - bits).and(full)
        val v = new java.math.BigInteger(ipv6Hex(base), 16)
        val lo = v.and(mask)
        (hex(lo), hex(lo.or(mask.xor(full))))
      case p if p.contains('-') =>
        val Array(a, b) = p.split("-", 2)
        val (lo, hi) = (ipv6Hex(a), ipv6Hex(b))
        if (lo > hi) throw Unsupported(s"ip(): inverted range '$p'")
        (lo, hi)
      case p =>
        val v = ipv6Hex(p); (v, v)
    }
  }

  /** IPv6 column → 32-nibble hex, NULL when malformed. Handles `::`
    * compression; embedded-IPv4 tails are plan-time-pattern-only (a label
    * value in that notation normalizes to NULL, documented divergence). */
  private def ipv6NormCol(c0: Column): Column = {
    val v = lower(trim(c0))
    def hexOk(p: Column): Column = p.rlike("^[0-9a-f]{1,4}$")
    def pad(arr: Column): Column =
      array_join(transform(arr, p => lpad(p, 4, "0")), "")
    val halves = split(v, "::", -1)
    val parts8 = split(v, ":", -1)
    val okSingle = size(halves) === 1 && size(parts8) === 8 && forall(parts8, hexOk)
    val l = element_at(halves, 1)
    val r = element_at(halves, 2)
    val emptyArr = array().cast("array<string>")
    val lp = when(l === "", emptyArr).otherwise(split(l, ":", -1))
    val rp = when(r === "", emptyArr).otherwise(split(r, ":", -1))
    val cnt = size(lp) + size(rp)
    val okDual = size(halves) === 2 && cnt <= 7 && forall(lp, hexOk) && forall(rp, hexOk)
    when(okSingle, pad(parts8))
      .when(okDual, concat(pad(lp),
        lit("0" * 32).substr(lit(1), (lit(8) - cnt) * 4), pad(rp)))
  }

  /** `|= ip(...)` / `!= ip(...)`: does the line contain ANY IPv4 token in
    * the pattern? Candidate tokens come from one regexp_extract_all pass
    * (digit/dot boundary guards so "1234.5.6.7" never yields a truncated
    * "234.5.6.7" candidate); the membership test is an array `exists` —
    * per-row, codegen, no join. `exists` is three-valued (an invalid quad
    * like 300.1.2.3 maps to NULL), so coalesce to false: a line whose only
    * candidates are invalid IPv4s contains no matching address — it drops
    * under `|=` and is KEPT under `!=`. */
  private def lineIpCol(f: Stage.LineIpFilter): Column = {
    if (f.pattern.contains(':'))
      throw Unsupported("ip(): IPv6 line filters unsupported (label filters support IPv6)")
    val (lo, hi) = ipv4Range(f.pattern)
    val hitsAny = coalesce(
      exists(
        regexp_extract_all(col("body"),
          lit("(?<![0-9.])([0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3})(?![0-9.])"),
          lit(1)),
        tok => ipv4Num(tok).between(lo, hi)),
      lit(false))
    if (f.contains) hitsAny else !hitsAny
  }

  /** render a `{{.label}}` template into a concat of literals + labels. */
  private def templateCol(c: Ctx, tmpl: String): Column = {
    val parts = Seq.newBuilder[Column]
    val re = "\\{\\{\\s*\\.([A-Za-z_][A-Za-z0-9_]*)\\s*\\}\\}".r
    var last = 0
    for (m <- re.findAllMatchIn(tmpl)) {
      if (m.start > last) parts += lit(tmpl.substring(last, m.start))
      parts += coalesce(c.resolve(m.group(1)).cast("string"), lit(""))
      last = m.end
    }
    if (last < tmpl.length) parts += lit(tmpl.substring(last))
    concat(parts.result(): _*)
  }

  /** time-window filter on Long-nanos `timestamp`, mirrored onto the
    * date_day/hour partition columns when present so Catalyst prunes
    * directories — at 100 TB every query must prune by partition, not just
    * by row-group stats (reference iceberg/schemas.rs:75-105 Hour
    * transform; partition-bound mirroring is what makes it engage). */
  def timeWindowFilter(df: DataFrame, startNanos: Long, endNanos: Long): DataFrame = {
    var out = df.filter(
      col("timestamp") >= startNanos && col("timestamp") < endNanos)
    if (df.columns.contains("date_day")) {
      val d0 = java.time.LocalDate.ofEpochDay(startNanos / 86400000000000L)
      val d1 = java.time.LocalDate.ofEpochDay((endNanos - 1) / 86400000000000L)
      out = out.filter(
        col("date_day") >= lit(java.sql.Date.valueOf(d0)) &&
          col("date_day") <= lit(java.sql.Date.valueOf(d1)))
      if (d0 == d1 && df.columns.contains("hour")) {
        val h0 = startNanos / 3600000000000L % 24
        val h1 = (endNanos - 1) / 3600000000000L % 24
        out = out.filter(col("hour") >= h0 && col("hour") <= h1)
      }
    }
    out
  }

  /** Lower a log query to a filtered DataFrame (no projection/sort). */
  def lowerFilter(table: LogsTable, q: LogQuery,
      timeRange: Option[(Long, Long)] = None): DataFrame = {
    var ctx = Ctx(table, jsonParsed = false, logfmtParsed = false)
    var df = table.df
    for ((s0, s1) <- timeRange) df = timeWindowFilter(df, s0, s1)
    for (m <- q.selector.matchers) {
      var c = matcherCol(ctx, m)
      // equality on a map-resolved label also asserts attr_tokens
      // containment: semantically redundant, but the array_contains
      // conjunct is what engages the parquet bloom filter on attr_tokens
      // (reference logql.rs:471-524)
      if (m.op == MatchOp.Eq && ctx.tokenEligible(m.label))
        c = c && array_contains(col("attr_tokens"), s"${m.label}=${m.value}")
      df = df.filter(c)
    }
    for (st <- q.stages) st match {
      case f: Stage.LineFilter  => df = df.filter(lineFilterCol(f))
      case f: Stage.LineIpFilter => df = df.filter(lineIpCol(f))
      case Stage.LabelFilter(p) => df = df.filter(predCol(ctx, p))
      case Stage.Unwrap(_, _)   => () // consumed by the metric layer
      case Stage.LineFormat(tmpl) =>
        // subsequent line filters see the rewritten body
        df = df.withColumn("body", templateCol(ctx, tmpl))
      case Stage.Unpack =>
        // pack format (reference ast.rs:69): keep the packed object for
        // label resolution; the `_entry` key becomes the line (a line
        // without one is unchanged)
        df = df.withColumn("_packed", col("body"))
          .withColumn("body",
            coalesce(get_json_object(col("_packed"), "$._entry"), col("body")))
        ctx = applyCtxStage(ctx, st)
      case Stage.Decolorize =>
        // strip ANSI SGR escape sequences from the line (ast.rs:71)
        df = df.withColumn("body",
          regexp_replace(col("body"), "\u001B\\[[0-9;]*m", ""))
      case Stage.Distinct(labels) =>
        // first line per distinct label combination — oldest-first with
        // the table tie-break so the survivor is deterministic (ast.rs:83)
        val w = Window.partitionBy(labels.map(ctx.resolve): _*)
          .orderBy(col("timestamp").asc +: ctx.table.tieBreak.map(col(_).asc): _*)
        df = df.withColumn("_rn_distinct", row_number().over(w))
          .filter(col("_rn_distinct") === 1).drop("_rn_distinct")
      case other => ctx = applyCtxStage(ctx, other)
    }
    df
  }

  /** an unmatched line carries NO captured label (Loki semantics), so the
    * empty-string non-match from regexp_extract becomes NULL — dropped
    * under both `p` and `not p`, like any absent label. */
  private def withPatternOverrides(ctx: Ctx, p: String): Ctx = {
    val (re, names) = compilePattern(p)
    names.zipWithIndex.foldLeft(ctx) { case (c, (n, i)) =>
      val x = regexp_extract(col("body"), re, i + 1)
      c.copy(overrides = c.overrides + (n -> when(x =!= "", x)))
    }
  }

  /** the label-resolution context AFTER all stages — what metric group
    * keys and `unwrap` see (parser flags + label_format/pattern overrides,
    * without re-running the filters). */
  private def finalCtx(table: LogsTable, stages: Seq[Stage]): Ctx =
    stages.foldLeft(Ctx(table, jsonParsed = false, logfmtParsed = false))(applyCtxStage)

  /** LogQL line query: filter, newest-first (or oldest) order, limit, with
    * the curated LOG_COLUMNS projection (reference logs.rs:49,638-673). */
  def lowerLineQuery(
      table: LogsTable,
      q: LogQuery,
      limit: Int,
      newestFirst: Boolean = true,
      projection: Seq[String] = Seq("timestamp", "service_name", "severity_text", "body"),
      timeRange: Option[(Long, Long)] = None): DataFrame = {
    val base = lowerFilter(table, q, timeRange).select(projection.map(col): _*)
    val tsOrd = if (newestFirst) col("timestamp").desc else col("timestamp").asc
    // total order: remaining projected columns break timestamp ties so the
    // LIMIT boundary is deterministic
    val tie = projection.filterNot(_ == "timestamp").map(col(_).asc)
    base.orderBy(tsOrd +: tie: _*).limit(limit)
  }

  /** step-aligned bucket (epoch seconds), origin 0 — integer division so
    * the key is exact (mirrors date_bin, reference metrics.rs:2703). */
  private def bucketCol(stepSec: Long): Column =
    expr(s"(timestamp div 1000000000) div $stepSec * $stepSec")

  /** Lower a metric expression. Output: (bucket_start, <labels…>, value).
    * `timeRange` (epoch-nanos) bounds the evaluation — required by
    * absent_over_time (the empty-bucket spine needs explicit bounds) and
    * honored by every other aggregation. */
  def lowerMetric(table: LogsTable, expr: MetricExpr,
      timeRange: Option[(Long, Long)] = None): DataFrame =
    lowerMetricVec(table, expr, timeRange).df

  /** Lower to the shared vector shape (df + label set). Binary metric
    * exprs reuse the SAME join algebra as PromQL (graft.promql.Eval) —
    * the reference shares its binary eval between the two languages the
    * same way (logs.rs:906-1100 ↔ metrics.rs:415-909). */
  private def lowerMetricVec(table: LogsTable, expr: MetricExpr,
      timeRange: Option[(Long, Long)]): graft.promql.Eval.Vec = {
    import graft.promql.Eval
    expr match {
      case RangeExpr(agg) =>
        val labels =
          if (agg.func == "absent_over_time") Seq.empty[String]
          else table.seriesLabels
        Eval.Vec(lowerRange(table, agg, table.seriesLabels, timeRange), labels)
      case VectorExpr(vagg) =>
        val labels =
          if (vagg.by.nonEmpty) vagg.by
          else if (vagg.without.nonEmpty) table.seriesLabels.filterNot(vagg.without.contains)
          else if (vagg.func == "topk" || vagg.func == "bottomk")
            (table.seriesLabels ++ vagg.by).distinct
          else Seq.empty
        Eval.Vec(lowerVector(table, vagg, timeRange), labels)
      case LiteralExpr(_) =>
        throw Unsupported("a bare scalar is not a LogQL metric query")
      case VectorLit(_) =>
        throw Unsupported("vector() literal only as the right side of `or`")
      case LabelReplaceExpr(inner, dst, repl, src, regex) =>
        Eval.labelReplace(lowerMetricVec(table, inner, timeRange), dst, repl, src, regex)
      // sort()/sort_desc(): presentation-order pass-through — value first,
      // labels break ties; the vector's identity is untouched
      case SortExpr(desc, inner) =>
        val v = lowerMetricVec(table, inner, timeRange)
        val ord = (if (desc) col("value").desc else col("value").asc) +:
          v.labels.map(col(_).asc)
        Eval.Vec(v.df.orderBy(ord: _*), v.labels)
      // `expr or vector(v)` — the Grafana no-data fallback the reference
      // documents as unsupported (logql-reference.md:218-226). Prometheus
      // `or` keeps right rows whose series identity is absent on the
      // left; vector(v)'s identity is the EMPTY label set, so with a
      // label-less left this fills exactly the empty grid buckets (anti
      // join on bucket); with labels on the left every grid bucket gains
      // the fallback row (identities never collide).
      case BinaryExpr("or", l, VectorLit(v), _, _, _, _) =>
        val lv = lowerMetricVec(table, l, timeRange)
        val (s0, s1) = timeRange.getOrElse(
          throw Unsupported("`or vector()` requires an explicit time range"))
        val step = stepOf(l)
        val b0 = s0 / 1000000000L / step * step
        val b1 = (s1 / 1000000000L - 1) / step * step
        var spine = table.df.sparkSession.range(1)
          .select(explode(sequence(lit(b0), lit(b1), lit(step))).as("bucket_start"))
          .withColumn("value", lit(v).cast(DoubleType))
        if (lv.labels.isEmpty)
          Eval.Vec(lv.df.unionByName(
            spine.join(lv.df.select("bucket_start").distinct(),
              Seq("bucket_start"), "left_anti")), Seq.empty)
        else {
          for (lbl <- lv.labels)
            spine = spine.withColumn(lbl, lit(null).cast("string"))
          Eval.Vec(lv.df.unionByName(spine), lv.labels)
        }
      case BinaryExpr(_, _, VectorLit(_), _, _, _, _) |
          BinaryExpr(_, VectorLit(_), _, _, _, _, _) =>
        throw Unsupported("vector() literal only as the right side of `or`")
      case BinaryExpr(op, lhs, rhs, bool, on, ig, grp) =>
        (lhs, rhs) match {
          case (LiteralExpr(_), LiteralExpr(_)) =>
            throw Unsupported("scalar-only binary expression")
          case (LiteralExpr(a), r) =>
            Eval.vecScalar(op, lowerMetricVec(table, r, timeRange), a, bool, scalarOnLeft = true)
          case (l, LiteralExpr(b)) =>
            Eval.vecScalar(op, lowerMetricVec(table, l, timeRange), b, bool, scalarOnLeft = false)
          case (l, r) =>
            Eval.binaryVec(op, lowerMetricVec(table, l, timeRange),
              lowerMetricVec(table, r, timeRange), bool, on, ig, grp)
        }
    }
  }

  /** the step (bucket width) a metric expr evaluates on — its range
    * window; binaries inherit the left side's grid. */
  private def stepOf(e: MetricExpr): Long = e match {
    case RangeExpr(agg)                  => agg.rangeSec
    case VectorExpr(vagg)                => vagg.inner.rangeSec
    case LabelReplaceExpr(inner, _, _, _, _) => stepOf(inner)
    case SortExpr(_, inner) => stepOf(inner)
    case BinaryExpr(_, l, _, _, _, _, _) => stepOf(l)
    case LiteralExpr(_) | VectorLit(_) =>
      throw Unsupported("scalar expression has no bucket grid")
  }

  /** unwrap conversions (reference ast.rs:169-175): duration strings →
    * seconds, byte-size strings → bytes. Single-unit subset (compound Go
    * durations like "1h30m" are out of subset); a non-matching value is
    * NULL — dropped by the aggregate, like any absent label. */
  private def unwrapValue(c: Column, conversion: Option[String]): Column =
    conversion match {
      case None => c.cast(DoubleType)
      case Some("duration") | Some("duration_seconds") =>
        val re = "^([0-9.]+)(ns|us|µs|ms|s|m|h)$"
        val num = regexp_extract(c, re, 1)
        val unit = regexp_extract(c, re, 2)
        when(num =!= "", num.cast(DoubleType) *
          when(unit === "ns", 1e-9)
            .when(unit === "us" || unit === "µs", 1e-6)
            .when(unit === "ms", 1e-3)
            .when(unit === "s", 1.0)
            .when(unit === "m", 60.0)
            .otherwise(3600.0))
      case Some("bytes") =>
        val re = "^([0-9.]+)(B|KB|MB|GB|TB|KiB|MiB|GiB|TiB)$"
        val num = regexp_extract(c, re, 1)
        val unit = regexp_extract(c, re, 2)
        when(num =!= "", num.cast(DoubleType) *
          when(unit === "B", 1.0)
            .when(unit === "KB", 1e3).when(unit === "MB", 1e6)
            .when(unit === "GB", 1e9).when(unit === "TB", 1e12)
            .when(unit === "KiB", 1024.0).when(unit === "MiB", 1024.0 * 1024)
            .when(unit === "GiB", math.pow(1024.0, 3))
            .otherwise(math.pow(1024.0, 4)))
      case Some(other) => throw Unsupported(s"unwrap conversion '$other'")
    }

  private def varPopCols(v: Column): (Column, Column, Column) =
    (sum(v), sum(v * v), count(lit(1)).cast(DoubleType))

  /** Range aggregation grouped by (bucket, groupLabels). A trailing
    * `offset d` shifts the data window back and relabels buckets onto the
    * query grid (same model as the PromQL side). */
  private def lowerRange(table: LogsTable, agg: RangeAgg, groupLabels: Seq[String],
      timeRange: Option[(Long, Long)]): DataFrame = {
    val ctx = finalCtx(table, agg.inner.stages)
    val offNs = agg.offsetSec * 1000000000L
    val filtered = lowerFilter(table, agg.inner,
      timeRange.map { case (s0, s1) => (s0 - offNs, s1 - offNs) })
    val bucket =
      (if (offNs == 0) bucketCol(agg.rangeSec)
       else expr(s"((timestamp + $offNs) div 1000000000) div ${agg.rangeSec} * ${agg.rangeSec}"))
        .as("bucket_start")

    if (agg.func == "absent_over_time") {
      // 1 for every query-grid bucket with NO matching line (reference
      // metric.rs absent; same spine anti-join as PromQL absent)
      val (s0, s1) = timeRange.getOrElse(
        throw Unsupported("absent_over_time requires an explicit time range"))
      val step = agg.rangeSec
      val b0 = s0 / 1000000000L / step * step
      val b1 = (s1 / 1000000000L - 1) / step * step
      val spine = table.df.sparkSession.range(1)
        .select(explode(sequence(lit(b0), lit(b1), lit(step))).as("bucket_start"))
      val present = filtered.select(bucket).distinct()
      return spine.join(present, Seq("bucket_start"), "left_anti")
        .withColumn("value", lit(1.0))
    }
    // group keys resolve through the attr context, so a map-resolved label
    // (gen-2 tables) can participate in grouping just like a promoted one
    val keys = bucket +: groupLabels.map(l => ctx.resolve(l).as(l))
    val rangeSecs = lit(agg.rangeSec.toDouble)

    def uw: Column = agg.inner.stages.collectFirst { case u: Stage.Unwrap => u } match {
      case Some(Stage.Unwrap(l, conv)) => unwrapValue(ctx.resolve(l), conv)
      case None => throw Unsupported(s"${agg.func} requires | unwrap")
    }

    agg.func match {
      case "count_over_time" =>
        filtered.groupBy(keys: _*).agg(count(lit(1)).cast(DoubleType).as("value"))
      case "rate" =>
        filtered.groupBy(keys: _*).agg((count(lit(1)) / rangeSecs).as("value"))
      case "bytes_over_time" =>
        filtered.groupBy(keys: _*).agg(sum(length(col("body"))).cast(DoubleType).as("value"))
      case "bytes_rate" =>
        filtered.groupBy(keys: _*).agg((sum(length(col("body"))) / rangeSecs).as("value"))
      case "sum_over_time" =>
        filtered.groupBy(keys: _*).agg(sum(uw).as("value"))
      case "avg_over_time" =>
        filtered.groupBy(keys: _*).agg(avg(uw).as("value"))
      case "min_over_time" =>
        filtered.groupBy(keys: _*).agg(min(uw).as("value"))
      case "max_over_time" =>
        filtered.groupBy(keys: _*).agg(max(uw).as("value"))
      case "quantile_over_time" =>
        // exact interpolated percentile (matches quantile_cont semantics)
        val phi = agg.param.getOrElse(throw Unsupported("quantile_over_time needs φ"))
        filtered.groupBy(keys: _*).agg(percentile(uw, lit(phi)).as("value"))
      case "stdvar_over_time" | "stddev_over_time" =>
        val (s1, s2, n) = varPopCols(uw)
        filtered.groupBy(keys: _*).agg(s1.as("_s1"), s2.as("_s2"), n.as("_n"))
          .withColumn("value",
            (col("_s2") - col("_s1") * col("_s1") / col("_n")) / col("_n"))
          .withColumn("value", if (agg.func == "stddev_over_time") sqrt(col("value")) else col("value"))
          .drop("_s1", "_s2", "_n")
      case "first_over_time" | "last_over_time" =>
        // one hash aggregate (min_by/max_by over the (timestamp, tieBreak)
        // struct) — no sort, partial agg map-side, same shape as promql
        // Eval.instant
        val ordStruct = struct(col("timestamp") +: table.tieBreak.map(col): _*)
        val pick =
          if (agg.func == "first_over_time") min_by(uw, ordStruct)
          else max_by(uw, ordStruct)
        filtered.groupBy(keys: _*).agg(pick.as("value"))
      case "rate_counter" =>
        // Prometheus-style counter rate over the unwrapped value:
        // (last − first) / range per (bucket, series) — per-series
        // first/last arithmetic, no cross-series float sum, one hash
        // aggregate (Loki's rate_counter)
        val ordStruct = struct(col("timestamp") +: table.tieBreak.map(col): _*)
        filtered.groupBy(keys: _*)
          .agg(((max_by(uw, ordStruct) - min_by(uw, ordStruct)) / rangeSecs).as("value"))
      case other => throw Unsupported(s"range function $other")
    }
  }

  /** Vector aggregation over the range result.
    *
    * The inner range agg always groups by the full series identity
    * (`table.seriesLabels`); the outer agg regroups per (bucket, by-labels)
    * — two chained groupBys, both shuffle on their keys (SURVEY §2.4).
    */
  private def lowerVector(table: LogsTable, vagg: VectorAgg,
      timeRange: Option[(Long, Long)]): DataFrame = {
    val by =
      if (vagg.by.nonEmpty) vagg.by
      else if (vagg.without.nonEmpty) table.seriesLabels.filterNot(vagg.without.contains)
      else Seq.empty
    // extracted/map labels named in by() join the inner series identity —
    // Loki's label set includes parsed labels; the inner range agg must
    // carry them for the outer regroup to see them
    val inner = lowerRange(table, vagg.inner, (table.seriesLabels ++ by).distinct, timeRange)
    val keys = col("bucket_start") +: by.map(col)
    val v = col("value")
    vagg.func match {
      case "sum"   => inner.groupBy(keys: _*).agg(sum(v).as("value"))
      case "avg"   => inner.groupBy(keys: _*).agg(avg(v).as("value"))
      case "min"   => inner.groupBy(keys: _*).agg(min(v).as("value"))
      case "max"   => inner.groupBy(keys: _*).agg(max(v).as("value"))
      case "count" => inner.groupBy(keys: _*).agg(count(lit(1)).cast(DoubleType).as("value"))
      case "stddev" | "stdvar" =>
        val (s1, s2, n) = varPopCols(v)
        inner.groupBy(keys: _*).agg(s1.as("_s1"), s2.as("_s2"), n.as("_n"))
          .withColumn("value",
            (col("_s2") - col("_s1") * col("_s1") / col("_n")) / col("_n"))
          .withColumn("value", if (vagg.func == "stddev") sqrt(col("value")) else col("value"))
          .drop("_s1", "_s2", "_n")
      case "topk" | "bottomk" =>
        val k = vagg.param.getOrElse(throw Unsupported(s"${vagg.func} needs k")).toInt
        // keep k highest/lowest series PER BUCKET (reference metrics.rs:2608)
        val ord = (if (vagg.func == "topk") v.desc else v.asc) +:
          table.seriesLabels.map(col(_).asc)
        // salted local top-k first — the global per-bucket rank sees
        // ≤ 32·k rows, not the full series set (skew-safe at 1 M series)
        val salt = pmod(hash(table.seriesLabels.map(col): _*), lit(32))
        val w1 = Window.partitionBy(col("bucket_start"), col("_salt")).orderBy(ord: _*)
        val pruned = inner.withColumn("_salt", salt)
          .withColumn("_rn1", row_number().over(w1))
          .filter(col("_rn1") <= k).drop("_salt", "_rn1")
        val w = Window.partitionBy(col("bucket_start")).orderBy(ord: _*)
        pruned.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k)
          .drop("_rn")
      case "approx_topk" =>
        // Loki 3.3's sketch-backed top-k (logql approx_topk): per
        // bucket, series VALUES fold into one Count-Min sketch
        // (functions/Cms — the fixed 16 KB mergeable state), each
        // series then probes its d cells and ranks by the ESTIMATE
        // (min over rows, the CMS upper bound). Estimates can exceed
        // exact values under collisions — that is the documented
        // approx_topk contract, and why its answers may differ from
        // topk's. Bounded state is the point: at 1 M series per bucket
        // the sketch still ships 16 KB through the shuffle. Values are
        // clamped to non-negative integers (a CMS is a counter sketch).
        val k = vagg.param.getOrElse(throw Unsupported("approx_topk needs k")).toInt
        val d = 4; val w = 512
        val labelCols = inner.columns.filterNot(Set("bucket_start", "value")).toSeq
        def cell(r: Int) =
          s"CAST(CAST(conv(substring(md5(concat('cms$r:', _key)), 1, 15), " +
            s"16, 10) AS BIGINT) % $w AS INT)"
        val positions = expr((0 until d).map(cell).mkString("array(", ", ", ")"))
        val keyed = inner
          .withColumn("_key", concat_ws("|", labelCols.map(col): _*))
          .withColumn("_w", greatest(lit(0L), round(col("value")).cast(LongType)))
        val sk = keyed.groupBy(col("bucket_start"))
          .agg(graft.functions.Cms.cmsSketch(positions, col("_w"), d, w).as("_cms"))
        val est = keyed.join(sk, "bucket_start")
          .withColumn("_est", expr((0 until d).map(r =>
            s"element_at(_cms, $r * $w + (${cell(r)}) + 1)")
            .mkString("least(", ", ", ")")))
        val ord = col("_est").desc +: labelCols.map(col(_).asc)
        val wk = Window.partitionBy(col("bucket_start")).orderBy(ord: _*)
        est.withColumn("_rn", row_number().over(wk))
          .filter(col("_rn") <= k)
          .withColumn("value", col("_est").cast(DoubleType))
          .drop("_key", "_w", "_cms", "_est", "_rn")
      case other => throw Unsupported(s"vector aggregation $other")
    }
  }
}
