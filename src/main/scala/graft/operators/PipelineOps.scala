package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Training-data pipeline operators over the `documents`, `embeddings` and
  * `events` tables: deduplication (exact, MinHash+LSH, SimHash, n-gram
  * Jaccard), similarity search (brute-force cosine top-k and LSH-bucketed
  * ANN), text analysis (language-ID, quality scoring, token counting,
  * winnowing fingerprints) and sessionization.
  *
  * Scale notes (100 TB design intent):
  *  - every pairwise step goes through an equi-join on a bucket/shingle key
  *    (shuffle on the key, never a cartesian product);
  *  - MinHash/LSH candidate generation is the scale path for near-dup
  *    (bounded candidates per band bucket), with exact Jaccard verification
  *    only on candidates;
  *  - all floating aggregation is exact (integer-quantized dot products,
  *    integer counts) so results are partition/order independent — required
  *    both for the DuckDB hash-compare and for run-to-run determinism on a
  *    real cluster.
  *
  * Determinism across engines: "random" hash families derive from md5 hex
  * strings (identical in Spark and DuckDB); minima are taken over md5
  * strings lexicographically; embeddings are quantized to 1e-6 integers so
  * dot products are exact BIGINT sums.
  */
object PipelineOps {
  type Q = (SparkSession, String) => DataFrame

  // ---- shared embedding shapes (array-native, never per-dimension rows) --

  /** embeddings quantized to 1e-6 BIGINT arrays + the squared norm — one
    * per-row array fold, so dot products stay exact integer sums without
    * ever exploding to (vec, pos) rows. */
  private def embArr(s: SparkSession, dir: String): DataFrame =
    embArrFrom(Tables.embeddings(s, dir))

  /** quantized stream SPREAD across cores — for the trainers/encoders
    * that score EVERY vector (Lloyd rounds, LSH signatures, PQ encode):
    * their interpreted dot-product chains measured ~500 ms single-task
    * over the one-split local scan. Probe-only consumers (a handful of
    * query vectors against a stored index) keep the plain embArr — r16:
    * spreading inside embArr itself regressed the light probe paths
    * q380 0.47→0.92, q260 0.42→0.81 (an exchange of the whole table to
    * feed a 20-row probe). Split-aware: no-op on many-split scans. */
  private def embArrSpread(s: SparkSession, dir: String): DataFrame =
    embArrFrom(Tables.spread(s, Tables.embeddings(s, dir), "vec_id"))

  private def embArrFrom(raw: DataFrame): DataFrame =
    raw
      .select(col("vec_id"),
        transform(col("embedding"),
          v => round(v.cast(DoubleType) * 1000000).cast(LongType)).as("vq"))
      .withColumn("nrm", aggregate(col("vq"), lit(0L), (a, x) => a + x * x))

  /** exact integer dot product of two quantized arrays (whole-stage
    * codegen fold; order-independent by construction).
    * (r16 negative result: an index fold — aggregate(sequence(1,size),
    * acc + a[i]*b[i]) — avoids zip_with's per-evaluation pair array but
    * RE-EVALUATES the operand expressions per element inside the lambda;
    * where b is a sliced literal (lshSig's planes) that meant 64 slice
    * evaluations per dot — q25 regressed 0.47→3.30 s. zip_with
    * evaluates its arguments exactly once.) */
  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Messy-URL fixture + canonicalization shared by q332/q333. The URL
    * derives deterministically from `events` (scheme/host case noise,
    * www. prefixes, default :443 ports, /index.html and trailing-slash
    * variants, utm_ and fbclid tracking params, shuffled param order,
    * fragments), then canonicalizes with pure per-row string surgery:
    * lowercase scheme+host, strip www./default port/fragment, normalize
    * the path, drop tracking params and SORT the survivors. Returns
    * (event_id, url, host, canonical_url, had_junk). */
  private def urlCanon(s: SparkSession, dir: String): DataFrame = {
    val junkRe = "^(utm_|fbclid=|gclid=)"
    // spread: ~15 regex/split ops per row over a one-split scan, with no
    // exchange until each caller's first aggregate (r15; guide §2.5)
    Tables.spread(s, Tables.events(s, dir), "event_id")
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1))
      .withColumn("url", expr(
        """concat(
          |  CASE WHEN event_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
          |  CASE WHEN event_id % 2 = 0 THEN 'WWW.' ELSE '' END,
          |  'Site', CAST(user_id % 40 AS STRING), '.',
          |  CASE (user_id % 40) % 3 WHEN 0 THEN 'example.com'
          |       WHEN 1 THEN 'shop.co.uk' ELSE 'data.org' END,
          |  CASE WHEN event_id % 5 = 0 THEN ':443' ELSE '' END,
          |  '/p/', event_type,
          |  CASE WHEN event_id % 4 = 0 THEN '/index.html'
          |       WHEN event_id % 4 = 1 THEN '/' ELSE '' END,
          |  '?',
          |  CASE WHEN event_id % 2 = 0 THEN concat('utm_source=feed&k=', k)
          |       ELSE concat('k=', k) END,
          |  CASE WHEN event_id % 3 = 1 THEN '&b=2&a=1' ELSE '' END,
          |  CASE WHEN event_id % 7 = 0
          |       THEN concat('&fbclid=x', CAST(event_id % 97 AS STRING))
          |       ELSE '' END,
          |  CASE WHEN event_id % 6 = 0
          |       THEN concat('#sec', CAST(event_id % 5 AS STRING))
          |       ELSE '' END)""".stripMargin))
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("scheme", lower(substring_index(col("nofrag"), "://", 1)))
      .withColumn("rest", substring_index(col("nofrag"), "://", -1))
      .withColumn("hostport", lower(substring_index(col("rest"), "/", 1)))
      .withColumn("paq",
        expr("substring(rest, length(hostport) + 1)"))
      .withColumn("host", regexp_replace(
        when(col("scheme") === "https",
          regexp_replace(col("hostport"), ":443$", ""))
          .otherwise(regexp_replace(col("hostport"), ":80$", "")),
        "^www\\.", ""))
      .withColumn("rawpath", expr(
        """CASE WHEN instr(paq, '?') > 0
          |     THEN substring(paq, 1, instr(paq, '?') - 1)
          |     ELSE paq END""".stripMargin))
      .withColumn("rawq", expr(
        """CASE WHEN instr(paq, '?') > 0
          |     THEN substring(paq, instr(paq, '?') + 1)
          |     ELSE '' END""".stripMargin))
      .withColumn("p1", regexp_replace(
        regexp_replace(col("rawpath"), "/index\\.html$", ""), "/+$", ""))
      .withColumn("cpath", when(col("p1") === "", "/").otherwise(col("p1")))
      .withColumn("cq", array_join(array_sort(
        filter(split(col("rawq"), "&"),
          x => x =!= "" && !x.rlike(junkRe))), "&"))
      .withColumn("had_junk",
        size(filter(split(col("rawq"), "&"), x => x.rlike(junkRe)))
          .gt(0).cast(IntegerType))
      .withColumn("canonical_url", expr(
        """concat(scheme, '://', host, cpath,
          |  CASE WHEN cq <> '' THEN concat('?', cq) ELSE '' END)"""
          .stripMargin))
      .select(col("event_id"), col("url"), col("host"),
        col("canonical_url"), col("had_junk"))
  }

  /** SQL fragment for the j-th fixture anchor tag (see [[htmlDocs]]):
    * href targets site (doc_id·7 + 13j) mod 40 with the q332 TLD mapping,
    * anchor text cycles click-here / read-more / visit-N. The same
    * formula parameterizes the DuckDB twin so both engines emit
    * byte-identical HTML. */
  private def htmlAnchorSql(j: Int): String = {
    val m = s"(doc_id * 7 + ${13 * j}) % 40"
    s"""'<a href="https://site', CAST($m AS STRING), '.',
        CASE ($m) % 3 WHEN 0 THEN 'example.com' WHEN 1 THEN 'shop.co.uk'
             ELSE 'data.org' END,
        '/p/', CAST(doc_id % 20 AS STRING), '">',
        CASE (doc_id + $j) % 3 WHEN 0 THEN 'click here'
             WHEN 1 THEN 'read more'
             ELSE concat('visit ', CAST($m AS STRING)) END,
        '</a>'"""
  }

  /** Deterministic messy-HTML fixture shared by q335/q337/q338: each
    * document's text wrapped in a full page — title, style and script
    * blocks (whose content must NOT surface as text), an HTML comment,
    * attribute-bearing tags, three anchors to other fixture sites, and
    * an entity sampler (&amp;, &lt;, &quot;, &#39;, &nbsp;). Pure
    * concat over `documents`, so both engines construct identical
    * bytes. */
  private def htmlDocs(s: SparkSession, dir: String): DataFrame =
    // (r15: a pre-synthesis spread measured SLOWER for every consumer —
    // q335/q337/q338 re-shuffle immediately and the fixture build is
    // cheaper than the extra exchange; left as a plain scan)
    Tables.documents(s, dir).withColumn("html", expr(
      "concat('<!DOCTYPE html><html><head><title>Doc ', " +
        "CAST(doc_id AS STRING), '</title><style>.m', " +
        "CAST(doc_id % 7 AS STRING), " +
        "' { color: red; } .x { font-size: 10px; }</style>" +
        "<script>var x = ', CAST(doc_id % 11 AS STRING), " +
        "'; if (x < 9 && x > 0) { go(\"now\"); }</script></head><body>" +
        "<!-- build ', CAST(doc_id % 13 AS STRING), ' -->" +
        "<h1 class=\"t\">', source, ' page</h1>" +
        "<p id=\"b', CAST(doc_id % 5 AS STRING), '\">', text, '</p>', " +
        htmlAnchorSql(1) + ", " + htmlAnchorSql(2) + ", " +
        htmlAnchorSql(3) + ", " +
        "'<div>A &amp; B &lt;tag&gt; &quot;q&quot; it&#39;s&nbsp;done" +
        "</div></body></html>')"))

  /** WARC fixture payloads shared VERBATIM by the Spark plan and the
    * DuckDB twin (both engines parse the same SQL dialect subset:
    * concat/chr/repeat/CASE/CAST AS STRING). CRLF is spelled
    * chr(13), chr(10) so neither engine's string-escape rules are in
    * play. The response payload wraps the q335 HTML page (`html` col)
    * in an HTTP response message; status varies by construction. */
  private val warcCrlf = "chr(13), chr(10)"
  private lazy val warcInfoPayloadSql: String =
    s"concat('software: graft/1.0', $warcCrlf, 'pad: ', " +
      s"repeat('x', CAST(doc_id % 50 AS INT)), $warcCrlf)"
  private lazy val warcReqPayloadSql: String =
    s"concat('GET /p/', CAST(doc_id % 20 AS STRING), ' HTTP/1.1', $warcCrlf, " +
      s"'Host: site', CAST((doc_id * 7 + 13) % 40 AS STRING), '.example', " +
      s"$warcCrlf, $warcCrlf)"
  private lazy val warcRespPayloadSql: String =
    s"concat('HTTP/1.1 ', CASE WHEN doc_id % 11 = 0 THEN '404 Not Found' " +
      s"ELSE '200 OK' END, $warcCrlf, " +
      s"'Content-Type: text/html; charset=utf-8', $warcCrlf, $warcCrlf, html)"

  /** one framed WARC record over a payload COLUMN: version line, named
    * fields (Content-Length = BYTE length via the dialect's `blen` —
    * Spark octet_length, DuckDB strlen), blank line, payload, record
    * separator. Same string for both engines apart from blen. */
  private def warcRecordSql(typ: String, uriSql: String, ctype: String,
      pcol: String, blen: String => String): String =
    s"concat('WARC/1.0', $warcCrlf, " +
      s"'WARC-Type: $typ', $warcCrlf, " +
      s"'WARC-Record-ID: <urn:uuid:', CAST(doc_id AS STRING), '-$typ>', $warcCrlf, " +
      s"'WARC-Date: 2024-01-28T00:00:00Z', $warcCrlf, " +
      (if (uriSql.nonEmpty) s"'WARC-Target-URI: ', $uriSql, $warcCrlf, " else "") +
      s"'Content-Type: $ctype', $warcCrlf, " +
      s"'Content-Length: ', CAST(${blen(pcol)} AS STRING), $warcCrlf, " +
      s"$warcCrlf, $pcol, $warcCrlf, $warcCrlf)"

  /** The extraction pipeline over a frame carrying `html`: adds `nc`
    * (script/style/comment blocks replaced by spaces — their content
    * must never leak into text) and `clean` (tags stripped, the five
    * standard entities decoded — &amp; LAST so "&amp;lt;" stays a
    * literal "&lt;" — and whitespace collapsed). Every step is a
    * codegen'd regexp/replace chain: no shuffle, no UDF — the operator
    * streams at scan speed. */
  private[graft] def htmlStripped(df: DataFrame): DataFrame =
    df.withColumn("nc", regexp_replace(regexp_replace(regexp_replace(
        col("html"),
        "(?s)<script[^>]*>.*?</script>", " "),
        "(?s)<style[^>]*>.*?</style>", " "),
        "(?s)<!--.*?-->", " "))
      .withColumn("clean", trim(regexp_replace(expr(
        "replace(replace(replace(replace(replace(replace(" +
          "regexp_replace(nc, '<[^>]+>', ' '), " +
          "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
          "'&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&')"),
        "\\s+", " ")))

  /** Multi-round Lloyd k-means over integer-quantized embeddings, fully
    * deterministic: cosine assignment against a broadcast codebook, new
    * centroids = per-dimension QUANTIZED means (round(sum/count) — exact
    * integers, so the codebook is bit-identical across engines,
    * partitionings and reruns; float k-means drifts by summation order).
    * Seeds = the k lowest vec_ids. Pure plan composition — `iters` is
    * fixed, so no driver-side action ever runs; each round is one
    * O(N·k) narrow assign + one explode/agg shuffle. Cells that lose all
    * members drop out (standard Lloyd artifact).
    * Input needs (vec_id, vq: array<long>, nrm); returns
    * (c_id, cv: array<long>, cn, n_members). */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    // nearest cell = argmin over the centroid ARRAY inside one projection
    // (scoreArr): the k centroids fold to a single broadcast row, so an
    // assignment round is exchange-free — no ×k row blow-up, no hash
    // aggregate (guide §2.4, remove shuffles outright; was crossJoin ×k +
    // groupBy(vec_id) min(struct), one exchange per Lloyd round)
    def assignTo(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(centsArr(cents)))
        .select(col("vec_id"), col("vq"),
          element_at(scoreArr, 1).getField("c_id").as("cell"))
    def refine(members: DataFrame): DataFrame =
      members.select(col("cell"), posexplode(col("vq")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        .withColumn("cv_i", round(col("s").cast(DoubleType) / col("cnt")).cast(LongType))
        .groupBy(col("cell"))
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("cv_i")))),
            x => x.getField("cv_i")).as("cv"),
          max(col("cnt")).as("n_members"))
        .withColumn("cn", aggregate(col("cv"), lit(0L), (a, x) => a + x * x))
        .select(col("cell").as("c_id"), col("cv"), col("cn"), col("n_members"))
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("vq").as("cv"), col("nrm").as("cn"))
    Iterate.rounds(seeds.withColumn("n_members", lit(1L)), iters,
        checkpointEvery = 0) { (cents, _) =>
      refine(assignTo(cents.drop("n_members")))
    }
  }

  /** each doc's DISTINCT winnowed min-hashes (the q29 fingerprint set
    * before it folds to one hash): shingle md5s, rolling min over the
    * 4-wide winnow window, distinct. */
  private def winnowedMinh(s: SparkSession, dir: String): DataFrame = {
    // (r15: a pre-explode spread measured slightly SLOWER here — the
    // doc_id window right below reshuffles anyway, so the extra exchange
    // only added latency)
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(expr(s"transform($shinglesFromToks, x -> md5(x))"))
          .as(Seq("pos", "h")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
      .rowsBetween(Window.currentRow, 3)
    sh.withColumn("minh", min(col("h")).over(w))
      .select(col("doc_id"), col("minh")).distinct()
  }

  /** the k-or-fewer centroid rows folded to ONE (c_id, cv, cn)-struct
    * array row, for broadcasting into an exchange-free scoreArr
    * projection (the codebook is k rows by construction, never
    * corpus-sized — the same bound the old broadcast crossJoin relied
    * on). */
  private def centsArr(cents: DataFrame): DataFrame =
    cents.agg(collect_list(
      struct(col("c_id"), col("cv"), col("cn"))).as("_cents"))

  /** per-row ASCENDING (negcos, c_id) score array against the broadcast
    * `_cents` array — element 1 is the nearest cell (≡ the former
    * min(struct(negcos, c_id)) hash aggregate: array_sort uses the same
    * struct ordering), a slice(…, 1, n) is the n nearest (≡ the former
    * sort_array(collect_list)). Input row needs (vq, nrm). */
  private def scoreArr: Column =
    array_sort(transform(col("_cents"), c =>
      struct(
        (-(dotCol(col("vq"), c.getField("cv")).cast(DoubleType) /
          sqrt(c.getField("cn").cast(DoubleType) * col("nrm").cast(DoubleType))))
          .as("negcos"),
        c.getField("c_id").as("c_id"))))

  /** probe construction shared by the IVF family: each probe vector's
    * nprobe=4 nearest cells via the broadcast scoreArr slice — an
    * exchange-free projection + explode (was a ×k crossJoin feeding a
    * collect_list hash aggregate per probe query; the slice of the
    * ascending array ≡ the former slice(sort_array(collect_list(sc)),
    * 1, 4)). Output (q_id, qv, qn, cell), one row per probed cell. */
  private def probeTop4(probeVecs: DataFrame, cents: DataFrame): DataFrame =
    probeVecs.crossJoin(broadcast(centsArr(cents)))
      .select(col("vec_id").as("q_id"), col("vq").as("qv"),
        col("nrm").as("qn"),
        explode(slice(scoreArr, 1, 4)).as("_c"))
      .withColumn("cell", col("_c.c_id")).drop("_c")

  /** final cluster assignment against a TRAINED codebook — the scoreArr
    * argmin projection (exchange-free; was a ×k crossJoin + min-struct
    * hash aggregate), exposed for consumers that need (vec_id → c_id)
    * after training. */
  def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(centsArr(cents)))
      .select(col("vec_id"),
        element_at(scoreArr, 1).getField("c_id").as("c_id"))

  /** 8-bit hyperplane signature column over the quantized embedding —
    * the LSH bucket key shared by q25 (ANN) and q132 (semantic dedup);
    * must stay in lockstep with the md5-derived weights both oracles
    * re-derive in SQL. */
  private def lshSig(e: DataFrame): DataFrame =
    e.withColumn("sig",
      concat((0 until 8).map { j =>
        val w = slice(typedLit(planeWeights(j)), lit(1), size(col("vq")))
        when(dotCol(col("vq"), w) >= 0, "1").otherwise("0")
      }: _*))

  /** hyperplane weights for LSH plane `j`: ±1 from the md5 high bit of
    * "j_pos" — same family the DuckDB oracle derives in SQL, computed once
    * at plan build (256 ≥ any embedding dim here; sliced to size at use). */
  private def planeWeights(j: Int): Seq[Long] =
    (0 until 256).map { p =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_$p".getBytes("UTF-8"))
      if ((d(0) & 0x80) != 0) 1L else -1L
    }

  // ---- shared text shapes ----------------------------------------------

  /** tokens = whitespace split; Spark array indexing is 0-based. */
  private val toksExpr = "split(text, ' ')"

  /** word 3-shingles, joined by spaces, empty if < 3 tokens, in DuckDB
    * SQL (1-based list indexing, range(a,b) exclusive): the oracle twin
    * of `shinglesFromToks`. */
  private val shinglesSql =
    """CASE WHEN len(string_split(text,' ')) >= 3 THEN
      |  [concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1],
      |              string_split(text,' ')[i+2])
      |   FOR i IN range(1, len(string_split(text,' ')) - 1)]
      |ELSE [] END""".stripMargin

  /** shingles from a pre-split `toks` column — split(text) runs ONCE per
    * row instead of once per lambda element (O(len) not O(len²) CPU). */
  private val shinglesFromToks =
    """CASE WHEN size(toks) >= 3 THEN
      |  transform(sequence(0, size(toks) - 3),
      |            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |ELSE array() END""".stripMargin

  /** (doc_id, shingle) distinct pairs. */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(shinglesFromToks)).as("sh"))
      .distinct()

  /** the shingle set is reused many times within q21/q22 (sizes, bands,
    * both probe sides). Stored ONCE per (dir, data version) as parquet
    * and read back: disk-backed and partition-parallel instead of
    * executor-memory-pinned — the .cache() it replaces leaked across
    * queries and would evict at 100 TB (VERDICT r1). */
  private def docShinglesStored(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(graft.storage.LocalCache.stored("shingles", dir) { p =>
      // the stored layout is every reader's split source (the media-store
      // lesson): one file = one scan task for every shingle self-join
      // (r15; spread by doc_id so a doc's shingles stay co-located)
      Tables.spread(s, docShingles(s, dir), "doc_id")
        .write.mode("overwrite").parquet(p)
    })

  private val docShinglesSql =
    s"""SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents"""

  /** near-dup cluster labels as a recursive-CTE body (the q234 oracle's
    * machinery, shared by the cluster-composed operators q266/q267):
    * ends in `cl(doc_id, source, text, cluster_id)` with singletons
    * labeled by their own doc_id. Callers prepend WITH RECURSIVE. */
  private val clusterLabelCteSql =
    s"""ds AS ($docShinglesSql),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
       |        UNION ALL SELECT doc_b, doc_a FROM edges),
       |reach AS (
       |  SELECT a AS id, a AS r FROM sym
       |  UNION
       |  SELECT s.a, r.r FROM sym s JOIN reach r ON r.id = s.b),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
       |cl AS (
       |  SELECT d.doc_id, d.source, d.text,
       |    COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)""".stripMargin

  /** per-document cluster-safe split assignment (q266's body, exposed so
    * PipelineSpec can prove the leakage guarantee itself: no near-dup
    * edge may cross the split). Columns: doc_id, source, cluster_id,
    * split. */
  private[graft] def clusterSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val lab = componentLabelsStored(s, dir, 0.5)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(lab.select(col("id").as("doc_id"), col("lab")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lab"), col("doc_id")))
      .withColumn("split",
        when(substring(md5(concat(lit("split:"), col("cluster_id").cast(StringType))),
          1, 8) < "e6666666", "train").otherwise("eval"))
  }

  /** verified near-dup edge set materialized ONCE per (dir, threshold) to
    * temp parquet: q127 and q234's labels both start from it, and the
    * shingle join behind it is the expensive part (an iterative consumer
    * that re-derived it every round measured 108 s at sf0.1 vs ~2 s
    * materialized). Same pattern as `docShinglesStored`. */
  private[graft] def jaccardEdgesStored(s: SparkSession, dir: String, threshold: Double): DataFrame =
    s.read.parquet(graft.storage.LocalCache.stored(s"dup_edges|$threshold", dir) { p =>
      jaccardPairs(s, dir, threshold).select(col("doc_a"), col("doc_b"))
        .write.mode("overwrite").parquet(p)
    })

  /** component LABELS materialized once per (dir, threshold, data
    * version), like the edge set above: q234/q266/q267 all fold the same
    * exact closure (`connectedComponents`), and its rounds are the
    * expensive part — computing them once and reading (id, lab) parquet
    * after is the same plan-reuse discipline, one level up. */
  private[graft] def componentLabelsStored(s: SparkSession, dir: String,
      threshold: Double): DataFrame =
    s.read.parquet(graft.storage.LocalCache.stored(s"dup_labels|$threshold", dir) { p =>
      val e0 = jaccardEdgesStored(s, dir, threshold)
      val sym = e0.union(e0.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      connectedComponents(sym.toDF("u", "v"))
        .select(col("id"), col("component").as("lab"))
        .write.mode("overwrite").parquet(p)
    })

  /** one-Lloyd-round IVF index (q122's construction, shared with the
    * stored build): centroids (c_id, cv, cn) and postings
    * (cell, n_id, nv, nn). Deterministic integer centroids, so the index
    * content is identical on any engine/partitioning. */
  private def ivfIndex(e: DataFrame, k: Int = 16): (DataFrame, DataFrame) = {
    // k tiny rows, but their lineage is a full Lloyd round over the
    // corpus — materialize once: every caller broadcasts the centroids
    // into at least two joins (assignment + probe)
    val refined = kmeansCentroids(e, k, 1).drop("n_members").localCheckpoint()
    val assigned = e.crossJoin(broadcast(centsArr(refined)))
      .select(col("vec_id").as("n_id"),
        element_at(scoreArr, 1).getField("c_id").as("cell"),
        col("vq").as("nv"), col("nrm").as("nn"))
    (refined, assigned)
  }

  /** the q122 one-Lloyd trainer alone — shared with
    * [[graft.streaming.AnnMaintain.refresh]] so a centroid refresh and a
    * from-scratch build train EXACTLY the same construction (seeds =
    * vec_id < 16, integer-rounded means). */
  private[graft] def ivfCentroids(e: DataFrame): DataFrame = ivfIndex(e)._1

  /** the q122 trainer with a SCALABLE cell count — the fixed-k quadratic
    * q380's 100× row measured: with k frozen at 16, cell size grows
    * O(N) and a probe set that scales with the corpus costs O(N²/k).
    * A refresh at N vectors passes k ∝ √N here, restoring O(N·√N)
    * total probe work; construction is q122's exactly (seeds =
    * vec_id < k, one Lloyd round, integer-rounded means), so
    * refresh-at-k and a from-scratch build at k train identically. */
  private[graft] def ivfCentroidsK(k: Int): DataFrame => DataFrame =
    e => ivfIndex(e, k)._1

  /** the index LIFECYCLE a 100 TB ANN store actually runs: build once
    * (write-once per sf dir, like the other stored tables), probe many.
    * Postings are HIVE-PARTITIONED BY CELL, so a probe that visits
    * nprobe cells reads only those directories — and because the probe
    * side arrives as a broadcast join on the partition column, Spark
    * prunes the cells DYNAMICALLY at runtime (DPP), the same mechanism
    * that keeps a fact-table scan proportional to the dims that survive
    * filtering. */
  private def storedIvfIndex(s: SparkSession, dir: String): (String, String) = {
    val base = graft.storage.LocalCache.stored("ann_idx", dir) { base =>
      val (cents, assigned) = ivfIndex(embArr(s, dir))
      cents.write.mode("overwrite").parquet(s"$base/centroids")
      assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$base/postings")
    }
    (s"$base/centroids", s"$base/postings")
  }

  /** q380's incremental index lifecycle, materialized once per (dir,
    * data version): the IVF index is BUILT over the base vectors only
    * (vec_id % 5 ≠ 0), then the delta (vec_id % 5 = 0) is APPENDED by
    * assigning each new vector to its nearest FROZEN centroid — no
    * retrain, O(delta × k) work, postings land as new files in their
    * own cell-partitioned dir. The ANN twin of q370's delta dedup: when
    * new data arrives at 100 TB, the index absorbs it without touching
    * the corpus. */
  private def storedIvfDelta(s: SparkSession, dir: String): (String, String, String) = {
    val base = graft.storage.LocalCache.stored("ann_idx_delta", dir) { base =>
      val e = embArr(s, dir)
      val (cents, basePost) = ivfIndex(e.filter(pmod(col("vec_id"), lit(5)) =!= 0))
      cents.write.mode("overwrite").parquet(s"$base/centroids")
      basePost.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$base/postings")
      val frozen = s.read.parquet(s"$base/centroids")
      e.filter(pmod(col("vec_id"), lit(5)) === 0)
        .crossJoin(broadcast(centsArr(frozen)))
        .select(col("vec_id").as("n_id"),
          element_at(scoreArr, 1).getField("c_id").as("cell"),
          col("vq").as("nv"), col("nrm").as("nn"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$base/postings_delta")
    }
    (s"$base/centroids", s"$base/postings", s"$base/postings_delta")
  }

  /** q381's incremental LEXICAL index lifecycle: full-vocabulary
    * postings (tok, doc_id, tf, dl) and corpus stats (n_docs, tot_tok)
    * are built over the BASE corpus (doc_id % 4 ≠ 0) and stored ONCE;
    * the delta (doc_id % 4 = 0) appends its OWN postings + stats files
    * — BM25's df/avgdl inputs are associative sums, so the merge is a
    * two-row stats add and a postings union, never a rebuild. Postings
    * sort by `tok` inside each file so a probe's IN-list prunes row
    * groups via min/max stats before any row decodes. */
  private def storedBm25Index(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("bm25_idx", dir) { base =>
      def half(delta: Boolean) = {
        val docs = Tables.documents(s, dir)
          .filter(if (delta) pmod(col("doc_id"), lit(4)) === 0
            else pmod(col("doc_id"), lit(4)) =!= 0)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("dl", size(col("toks")).cast(LongType))
        val name = if (delta) "delta" else "base"
        docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
          .groupBy(col("tok"), col("doc_id"), col("dl"))
          .agg(count(lit(1)).as("tf"))
          .repartition(8, col("tok")).sortWithinPartitions(col("tok"))
          .write.mode("overwrite").parquet(s"$base/postings_$name")
        docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tok"))
          .write.mode("overwrite").parquet(s"$base/stats_$name")
      }
      half(delta = false)
      half(delta = true)
    }

  /** q385's retention-delete lifecycle: the documents land through the
    * REAL storage path with deterministic timestamps splitting them
    * across two days (even doc_id → 2024-02-01, odd → 2024-02-02); the
    * BM25 index is maintained over both days; then retention expires
    * day 1 — the doomed doc_ids are read from the expiring partitions
    * through the real table scan BEFORE the drop, tombstone the index
    * ([[graft.streaming.IndexMaintain.deleteDocs]]: postings
    * anti-joined, corpus stats corrected by a negative addend), and
    * compaction physically purges the dead postings. Ranking afterwards
    * must equal a from-scratch build over the SURVIVING table — the
    * q381 append≡rebuild law extended to deletes. */
  private def storedBm25Retention(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("bm25_tomb", dir) { base =>
      val idx = s"$base/index"
      val layout = graft.storage.Storage.TableLayout(
        s"$base/store", "tenant0", "default")
      val epoch = 1706745600L * 1000000000L // 2024-02-01T00:00Z
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .withColumn("timestamp", lit(epoch) +
          pmod(col("doc_id"), lit(2)) * lit(86400L * 1000000000L) +
          col("doc_id"))
      graft.storage.Storage.append(docs, layout, "docs")
      // maintain the index as the days arrived (one batch per day)
      graft.streaming.IndexMaintain.maintainBatch(idx)(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("text")), 0L)
      graft.streaming.IndexMaintain.maintainBatch(idx)(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("text")), 1L)
      // REAL retention: the doomed partitions name their doc_ids (read
      // executes inside deleteDocs, before the physical drop)
      val doomed = s.read.parquet(layout.path("docs"))
        .filter(col("date_day") < "2024-02-02").select(col("doc_id"))
      graft.streaming.IndexMaintain.deleteDocs(s, idx, doomed, 0L)
      val dropped = graft.storage.Storage.applyRetention(
        s, layout, "docs", "2024-02-02")
      require(dropped == Seq("2024-02-01"),
        s"retention dropped $dropped, expected exactly 2024-02-01")
      // physical removal: the compaction applies the tombstones
      graft.streaming.IndexMaintain.compact(s, idx)
    } + "/index"

  /** q402's stream-built EXACT-DEDUP LEDGER: the documents fed through
    * a 3-micro-batch file stream into
    * [[graft.streaming.LedgerMaintain]], then a retention cohort
    * (doc_id % 7 == 3) tombstoned and physically compacted — the
    * always-current twin of q379's bucketed batch ledger. */
  private def streamedLedgerStore(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("ledger_stream", dir) { base =>
      val store = s"$base/store"
      val stage = s"$base/stage"
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .repartition(3, pmod(col("doc_id"), lit(3)))
        .write.mode("overwrite").parquet(stage)
      val stream = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.LedgerMaintain.start(stream, store,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        checkpoint = Some(s"$base/checkpoint")).awaitTermination()
      // retention: an age cohort expires; its hashes stop serving
      // unless another live doc carries the same content
      graft.streaming.LedgerMaintain.deleteDocs(s, store,
        Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(7)) === 3)
          .select(col("doc_id")), 0L)
      graft.streaming.LedgerMaintain.compact(s, store)
    } + "/store"

  /** q383's stream-built BM25 store: the real documents fed through a
    * 4-micro-batch file stream into [[graft.streaming.IndexMaintain]],
    * then COMPACTED — the oracle-gated proof that the streaming
    * maintainer + compaction produce exactly the batch index's ranking
    * (BM25's stats are associative sums; IndexMaintainSpec pins the law,
    * this pins it against DuckDB at every SF). */
  private def streamedBm25Store(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("bm25_stream", dir) { base =>
      val store = s"$base/store"
      val stage = s"$base/stage"
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .repartition(4, pmod(col("doc_id"), lit(4)))
        .write.mode("overwrite").parquet(stage)
      val stream = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.IndexMaintain.start(stream, store,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        checkpoint = Some(s"$base/checkpoint")).awaitTermination()
      graft.streaming.IndexMaintain.compact(s, store)
    } + "/store"

  /** q384's stream-built ANN delta: the base IVF index is q380's stored
    * build; the DELTA vectors arrive through a 2-micro-batch file stream
    * into [[graft.streaming.AnnMaintain]] (frozen-centroid assignment),
    * then compact — probes over base ∪ stream-built postings must equal
    * q380's batch lifecycle row for row. */
  private def streamedAnnDelta(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("ann_stream", dir) { base =>
      val store = s"$base/store"
      val (cp, _, _) = storedIvfDelta(s, dir)
      val stage = s"$base/stage"
      embArr(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0)
        .repartition(2, pmod(col("vec_id"), lit(2)))
        .write.mode("overwrite").parquet(stage)
      val stream = s.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType),
          StructField("vq", ArrayType(LongType)),
          StructField("nrm", LongType))))
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.AnnMaintain.start(stream, store, cp,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        checkpoint = Some(s"$base/checkpoint")).awaitTermination()
      graft.streaming.AnnMaintain.compact(s, store)
    } + "/store"

  /** q386's refreshed ANN store: the index was BUILT incrementally under
    * STALE centroids (base assigned batch 0, delta appended batch 1,
    * both against the base-only bootstrap — q380's lifecycle), then
    * [[graft.streaming.AnnMaintain.refresh]] retrained over base ∪
    * delta with the SHARED q122 trainer and swapped centroids +
    * re-assigned postings in as one atomic generation. Because the
    * trainer is deterministic in the vector set alone, the refreshed
    * store must be INDISTINGUISHABLE from a from-scratch build over all
    * vectors — the oracle is q122/q260's verbatim. */
  private def refreshedAnnStore(s: SparkSession, dir: String): (String, String) = {
    val base = graft.storage.LocalCache.stored("ann_refresh", dir) { base =>
      val store = s"$base/store"
      val boot = s"$base/centroids0"
      val e = embArr(s, dir)
      val (cents0, _) = ivfIndex(e.filter(pmod(col("vec_id"), lit(5)) =!= 0))
      cents0.write.mode("overwrite").parquet(boot)
      graft.streaming.AnnMaintain.maintainBatch(store, boot)(
        e.filter(pmod(col("vec_id"), lit(5)) =!= 0), 0L)
      graft.streaming.AnnMaintain.maintainBatch(store, boot)(
        e.filter(pmod(col("vec_id"), lit(5)) === 0), 1L)
      graft.streaming.AnnMaintain.refresh(s, store, boot, ivfCentroids)
    }
    (s"$base/centroids0", s"$base/store")
  }

  /** q396's GROWN-k refreshed store: the q386 lifecycle, except the
    * refresh passes a LARGER k than bootstrap (32 vs 16 — the
    * production knob: at N vectors a refresh passes k ∝ √N so probe
    * cost stays O(N/√N), RefreshProof's 100× measurement). The refresh
    * must equal a from-scratch k=32 build — the oracle is the q122
    * construction with k as a literal. */
  private def grownAnnStore(s: SparkSession, dir: String): (String, String) = {
    val base = graft.storage.LocalCache.stored("ann_grown", dir) { base =>
      val store = s"$base/store"
      val boot = s"$base/centroids0"
      val e = embArr(s, dir)
      val (cents0, _) = ivfIndex(e.filter(pmod(col("vec_id"), lit(5)) =!= 0))
      cents0.write.mode("overwrite").parquet(boot)
      graft.streaming.AnnMaintain.maintainBatch(store, boot)(
        e.filter(pmod(col("vec_id"), lit(5)) =!= 0), 0L)
      graft.streaming.AnnMaintain.maintainBatch(store, boot)(
        e.filter(pmod(col("vec_id"), lit(5)) === 0), 1L)
      graft.streaming.AnnMaintain.refresh(s, store, boot, ivfCentroidsK(32))
    }
    (s"$base/centroids0", s"$base/store")
  }

  /** q391's ANN retention-delete lifecycle (q385's law for vector
    * search): the quantized vectors land through the REAL storage path
    * across two days (even vec_id → 2024-02-01, odd → 2024-02-02);
    * centroids train ONCE over every arrival (the shared q122 trainer —
    * training preceded the drop, so the oracle's centroid construction
    * still sees every vector) and the maintainer appends both days as
    * postings batches; then retention expires day 1 — the doomed
    * partitions name their vec_ids BEFORE the physical drop, those ids
    * tombstone the store (probes anti-join), and compaction purges the
    * dead postings physically. Probing afterwards must rank exactly as
    * an index whose postings never held day 1 at all. */
  private def storedAnnRetention(s: SparkSession, dir: String): (String, String) = {
    val base = graft.storage.LocalCache.stored("ann_tomb", dir) { base =>
      val store = s"$base/store"; val boot = s"$base/centroids0"
      val layout = graft.storage.Storage.TableLayout(
        s"$base/tbl", "tenant0", "default")
      val epoch = 1706745600L * 1000000000L // 2024-02-01T00:00Z
      val e = embArr(s, dir)
      graft.storage.Storage.append(
        e.withColumn("timestamp", lit(epoch) +
          pmod(col("vec_id"), lit(2)) * lit(86400L * 1000000000L) +
          col("vec_id")),
        layout, "vecs")
      ivfCentroids(e).write.mode("overwrite").parquet(boot)
      graft.streaming.AnnMaintain.maintainBatch(store, boot)(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), 0L)
      graft.streaming.AnnMaintain.maintainBatch(store, boot)(
        e.filter(pmod(col("vec_id"), lit(2)) === 1), 1L)
      // REAL retention: the doomed partitions name their vec_ids (the
      // read executes inside deleteVecs, before the physical drop)
      val doomed = s.read.parquet(layout.path("vecs"))
        .filter(col("date_day") < "2024-02-02")
        .select(col("vec_id").as("n_id"))
      graft.streaming.AnnMaintain.deleteVecs(s, store, doomed, 0L)
      val dropped = graft.storage.Storage.applyRetention(
        s, layout, "vecs", "2024-02-02")
      require(dropped == Seq("2024-02-01"),
        s"retention dropped $dropped, expected exactly 2024-02-01")
      // physical removal: compaction applies the tombstones
      graft.streaming.AnnMaintain.compact(s, store)
    }
    (s"$base/centroids0", s"$base/store")
  }

  /** q382/q387's shard ENCODE half: each doc becomes one REAL gzipped
    * multi-record jsonl shard whose records DRIFT (records missing
    * quality/lang/meta, one carrying an unknown future field) —
    * (doc_id, shard bytes). */
  private def jsonlGzShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread: per-row regex scrub + gzip over a one-split scan, and the
    // gunzip map downstream inherits the layout (r15; guide §2.5)
    Tables.spread(s, Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang")), "doc_id")
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val tb = text.replaceAll("[^ -~]", "").toLowerCase
          .replaceAll("[^a-z0-9 ]", "").take(60)
        val n = 2 + (id % 3).toInt
        val recs = (0 until n).map { j =>
          val sb = new StringBuilder
          sb ++= s"""{"id":${10 * id + j},"text":"$tb r$j""""
          if ((id + j) % 3 != 0) sb ++= s""","quality":${(id % 8) * 0.25}"""
          if (j == 0) sb ++= s""","lang":"$lang""""
          if ((id + j) % 2 == 0)
            sb ++= s""","meta":{"source":"crawl","segment":${id % 5}}"""
          if (j == n - 1) sb ++= ""","extra_field":"future schema""""
          sb ++= "}"
          sb.toString
        }
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(recs.mkString("\n").getBytes("UTF-8")); gz.close()
        (id, bos.toByteArray)
      }.toDF("doc_id", "shard")
  }

  /** q382/q387's shard INGEST half over (doc_id, shard gz-bytes): gunzip
    * (the one imperative step) → split/explode → from_json with a
    * PERMISSIVE schema — missing fields surface as nulls, unknown
    * fields are ignored, no drifting record can fail the scan. All
    * aggregates stay on the exact plane (quarter-step doubles, ordered
    * md5 fold). Scan-bound, zero exchanges past the per-shard hash agg. */
  private def jsonlShardIngest(s: SparkSession, shards: DataFrame): DataFrame = {
    import s.implicits._
    val lines = shards.as[(Long, Array[Byte])].map { case (id, gz) =>
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gz))
      (id, new String(in.readAllBytes(), "UTF-8"))
    }.toDF("doc_id", "txt")
    val recSchema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("quality", DoubleType), StructField("lang", StringType),
      StructField("meta", StructType(Seq(
        StructField("source", StringType),
        StructField("segment", LongType))))))
    lines.select(col("doc_id"), explode(split(col("txt"), "\n")).as("line"))
      .withColumn("r", from_json(col("line"), recSchema))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_records"),
        count(col("r.quality")).as("n_quality"),
        count(col("r.meta")).as("n_meta"),
        sum(col("r.id")).as("id_sum"),
        sum(col("r.quality")).as("quality_sum"),
        max(col("r.lang")).as("lang"),
        sum(col("r.meta.segment")).as("segment_sum"),
        md5(concat_ws("|", transform(
          array_sort(collect_list(struct(col("r.id"), col("r.text")))),
          x => x.getField("text")))).as("text_md5"))
  }

  /** q387's stored shard table: [[jsonlGzShards]] written ONCE per (dir,
    * data version) through the partitioned append sink (zstd, date_day/
    * hour layout, deterministic timestamps) — the shard bytes a corpus
    * distribution actually ships, landed as a binary column. */
  private def storedJsonlShards(s: SparkSession, dir: String): String =
    MultimodalOps.storedMediaTable("jsonl_store", dir, "shards")(
      jsonlGzShards(s, dir).withColumn("timestamp",
        lit(1706745600L * 1000000000L) + col("doc_id")))

  /** Achlioptas ±1 JL sign matrix (16×64), md5-derived at plan build —
    * ONE construction shared by the q318 projection filter and the q322
    * recall meter, so the meter can never drift from the filter it
    * measures (VERDICT r7). */
  private lazy val jlSigns: Array[Array[Int]] = Array.tabulate(16, 64) { (k, j) =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl:$k:$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (BigInt(hex.substring(0, 15), 16) % 2 == 0) 1 else -1
  }

  /** the 16 projected coordinates of `vq` under [[jlSigns]], as
    * plan-time literal weight arrays (codegen'd integer folds). */
  private def jlProjExprs: Seq[Column] = (0 until 16).map(k => expr(
    s"aggregate(zip_with(vq, array(${jlSigns(k).mkString(", ")}), " +
      "(v, sg) -> v * sg), CAST(0 AS BIGINT), (acc, t) -> acc + t)"))

  // ---- queries ----------------------------------------------------------

  val queries: Map[String, Q] = Map(
    // ANN over a STORED index (build once / probe many): q122's IVF
    // index persisted through the real storage path — postings
    // hive-partitioned by cell — then probed. The probe's top-4 cells
    // join the postings scan as a BROADCAST on the partition column, so
    // dynamic partition pruning reads only the probed cell directories;
    // the exact-cosine rerank then runs inside those cells alone. Same
    // deterministic result set as the inline build (one shared oracle
    // construction), proving index persistence changes the I/O shape,
    // not the answer.
    // JSONL SHARD INGEST WITH SCHEMA DRIFT — the dominant LLM-corpus
    // interchange format (.jsonl.gz shards) through the Spark-native
    // path: each doc becomes a REAL gzipped multi-record shard whose
    // records DRIFT (records missing quality/lang/meta, one carrying an
    // unknown future field), the decode is gunzip (the one imperative
    // step) → split/explode → from_json with a PERMISSIVE schema —
    // missing fields surface as nulls, unknown fields are ignored, and
    // no drifting record can fail the scan. All aggregates stay on the
    // exact plane (quarter-step doubles, ordered md5 fold). Scan-bound,
    // zero exchanges past the per-shard hash agg.
    "q382_jsonl_shard_ingest" -> ((s, dir) =>
      jsonlShardIngest(s, jsonlGzShards(s, dir))),

    // STORED jsonl.gz SHARDS (the q372 stored-census pattern for the
    // dominant LLM-corpus interchange format): q382's gzipped
    // multi-record shards land ONCE through the partitioned append sink
    // as a parquet BINARY column; the ingest then SCANS the stored
    // bytes — gunzip → split → permissive from_json — with the scan
    // pruned to (doc_id, shard) (PlanSpec pins the ReadSchema; the
    // layout's timestamp/partition columns never reach the decoder).
    // Oracle = q382's verbatim: storage must not change one byte.
    "q387_jsonl_stored_shards" -> ((s, dir) =>
      jsonlShardIngest(s, s.read.parquet(storedJsonlShards(s, dir))
        .select(col("doc_id"), col("shard")))),

    // INCREMENTAL BM25 INDEX MAINTENANCE (the q370/q380 shape for
    // lexical retrieval): the stored postings + stats were built over
    // the BASE corpus; the delta appended its own files; ranking runs
    // over the UNION with the stats MERGED BY ADDITION (df, n_docs,
    // tot_tok are associative sums, so build-then-append ≡ full
    // rebuild exactly — the oracle is q187's verbatim). The IN-list
    // term filter prunes the sorted postings' row groups before any
    // row decodes; per-term df comes from the pruned rows themselves.
    "q381_bm25_index_delta" -> ((s, dir) => {
      val terms = Seq("stream", "hash", "big")
      val idx = storedBm25Index(s, dir)
      val post = s.read.parquet(s"$idx/postings_base")
        .unionByName(s.read.parquet(s"$idx/postings_delta"))
      val stats = s.read.parquet(s"$idx/stats_base")
        .unionByName(s.read.parquet(s"$idx/stats_delta"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_tok")).as("tot_tok"))
        .withColumn("avgdl_fp", expr("(tot_tok * 1000) div n_docs"))
      val tfs = post.filter(col("tok").isin(terms: _*))
      val dfs = tfs.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
      tfs.join(broadcast(dfs), "tok").crossJoin(broadcast(stats))
        .withColumn("idf_fp",
          expr("((2 * (n_docs - dfc) + 1) * 1000000) div (2 * dfc + 1)"))
        .withColumn("dlr_fp", expr("(dl * 1000000) div avgdl_fp"))
        .withColumn("k_fp", expr("(1200 * (250 + (750 * dlr_fp) div 1000)) div 1000"))
        .withColumn("term_fp", expr("(idf_fp * tf * 2200) div (tf * 1000 + k_fp)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
        .orderBy(col("score_fp").desc, col("doc_id").asc)
        .limit(20)
    }),

    // RETENTION-AWARE INDEX DELETES (the lifecycle gap at 100 TB: when
    // retention drops partitions, the maintained indexes must stop
    // serving the dead postings WITHOUT a rebuild). The fixture expires
    // a whole day through the real retention path; the expired doc_ids
    // tombstone the index (reads anti-join; corpus stats corrected by a
    // negative associative addend; compaction physically purges the
    // dead rows). The oracle is a FULL REBUILD over the surviving
    // table — build-then-delete must equal never-having-indexed them.
    "q385_bm25_retention_delete" -> ((s, dir) => {
      val idx = storedBm25Retention(s, dir)
      graft.streaming.IndexMaintain.bm25(s, idx,
        Seq("stream", "hash", "big"))
    }),

    // STREAM-BUILT BM25 INDEX (q381's online half, oracle-gated): the
    // documents arrived through 4 real micro-batches of the streaming
    // maintainer and were COMPACTED; ranking over the maintained store
    // must equal the one-shot batch index — BM25's sufficient
    // statistics are associative sums, so the oracle is q187's verbatim.
    "q383_bm25_index_stream" -> ((s, dir) => {
      val store = streamedBm25Store(s, dir)
      graft.streaming.IndexMaintain.bm25(s, store,
        Seq("stream", "hash", "big"))
    }),

    // STREAM-BUILT EXACT-DEDUP LEDGER (q379's online half — the last
    // maintained index without a streaming twin): the corpus hashes
    // arrived through 3 real micro-batches, a retention cohort was
    // tombstoned and physically compacted, and a delta drop classifies
    // against the LIVE ledger — deleted-then-rearriving content
    // resurfaces as new unless another live holder carries it. The
    // oracle restates the live hash set and the classification.
    "q402_dedup_ledger_stream" -> ((s, dir) => {
      val store = streamedLedgerStore(s, dir)
      val ledger = graft.streaming.LedgerMaintain.ledger(s, store)
        .select(col("h")).distinct().withColumn("hit", lit(1))
      Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 80000000L).as("did"),
          when(pmod(col("doc_id"), lit(2)) === 0, col("text"))
            .otherwise(concat(col("text"), lit(" novel"))).as("t"))
        .withColumn("h", md5(col("t"))).drop("t")
        .join(ledger, Seq("h"), "left")
        .select(col("did"),
          when(col("hit").isNotNull, "dup").otherwise("new").as("status"))
    }),

    // STREAM-BUILT ANN DELTA (q380's online half, oracle-gated): the
    // delta vectors arrived through real micro-batches of the streaming
    // maintainer (frozen-centroid assignment) and were compacted; the
    // probe over base ∪ stream-built postings must equal q380's batch
    // lifecycle — the oracle is q380's verbatim.
    "q384_ann_index_stream" -> ((s, dir) => {
      val (cp, pp, _) = storedIvfDelta(s, dir)
      val store = streamedAnnDelta(s, dir)
      val cents = s.read.parquet(cp)
      val post = s.read.parquet(pp)
        .unionByName(graft.streaming.AnnMaintain.postings(s, store))
      val e = embArr(s, dir)
      val probes = probeTop4(e.filter(col("vec_id") % 100 === 0), cents)
      val cand = post.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast(DoubleType) /
          sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cand.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // INCREMENTAL ANN INDEX MAINTENANCE (the q370 shape for vector
    // search): the stored IVF index was built over the BASE corpus; the
    // delta was APPENDED by nearest-frozen-centroid assignment (new
    // postings files, no retrain); the probe searches base ∪ delta —
    // new arrivals are immediately searchable AND searching (every
    // query vector is itself a delta member). Probe-time work is the
    // q260 shape: broadcast probes, DPP-pruned cell partitions.
    "q380_ann_index_delta" -> ((s, dir) => {
      val (cp, pp, dp) = storedIvfDelta(s, dir)
      val cents = s.read.parquet(cp)
      val post = s.read.parquet(pp).unionByName(s.read.parquet(dp))
      val e = embArr(s, dir)
      val probes = probeTop4(e.filter(col("vec_id") % 100 === 0), cents)
      val cand = post.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast(DoubleType) /
          sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cand.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // ANN CENTROID REFRESH (the drift-maintenance batch job): the store
    // was built incrementally under STALE base-only centroids, then
    // refreshed — retrain over base ∪ delta (shared q122 trainer),
    // re-assign every posting, swap centroids + postings as ONE atomic
    // generation (the postings generation's _SUCCESS is the commit
    // point; a crash at any step leaves probes on the old consistent
    // pair). Probes against the refreshed store must be byte-identical
    // to a from-scratch build over all vectors — oracle = q122/q260's.
    "q386_ann_centroid_refresh" -> ((s, dir) => {
      val (boot, store) = refreshedAnnStore(s, dir)
      val cents = graft.streaming.AnnMaintain.currentCentroids(s, store, boot)
      val post = graft.streaming.AnnMaintain.postings(s, store)
      val e = embArr(s, dir)
      val probes = probeTop4(e.filter(col("vec_id") % 100 === 0), cents)
      val cand = post.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast(DoubleType) /
          sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cand.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // ANN RETENTION DELETES, ORACLE-GATED (q385's lifecycle for vector
    // search — closing the index-delete law across all three families:
    // BM25 q385, bucketed dedup q389, ANN here): the maintained store
    // was built over two days of arrivals, REAL retention expired day 1,
    // the doomed vec_ids tombstoned the store and compaction purged
    // them. Probes (day-2 survivors) against the surviving index must
    // rank exactly as an index whose postings never held day 1 — the
    // oracle keeps the FULL centroid construction (training preceded
    // the drop) but restricts the candidate set to survivors.
    // GROWN-k CENTROID REFRESH, ORACLE-GATED (the scale knob that kills
    // q380's fixed-k quadratic, as a correctness law, not just a
    // measurement): the maintained store bootstrapped at k=16 is
    // refreshed with the q122 trainer at k=32; probes against the
    // refreshed store must rank exactly as a from-scratch k=32 build —
    // same construction, different k, indistinguishable result.
    "q396_ann_refresh_grown_k" -> ((s, dir) => {
      val (boot, store) = grownAnnStore(s, dir)
      val cents = graft.streaming.AnnMaintain.currentCentroids(s, store, boot)
      val post = graft.streaming.AnnMaintain.postings(s, store)
      val e = embArr(s, dir)
      val probes = probeTop4(e.filter(col("vec_id") % 100 === 0), cents)
      val cand = post.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast(DoubleType) /
          sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cand.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    "q391_ann_retention_delete" -> ((s, dir) => {
      val (boot, store) = storedAnnRetention(s, dir)
      val cents = s.read.parquet(boot)
      val post = graft.streaming.AnnMaintain.postings(s, store)
      val e = embArr(s, dir)
      val probes = probeTop4(e.filter(pmod(col("vec_id"), lit(100)) === 1), cents)
      val cand = post.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast(DoubleType) /
          sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cand.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    "q260_ann_stored_index" -> ((s, dir) => {
      val (cp, pp) = storedIvfIndex(s, dir)
      val cents = s.read.parquet(cp)
      val post = s.read.parquet(pp)
      val e = embArr(s, dir)
      val probes = probeTop4(e.filter(col("vec_id") % 100 === 0), cents)
      val cand = post.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast(DoubleType) /
          sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cand.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // Temperature-scaled mixture sampling (the data-mixing step of a
    // training pipeline): per-source weights w = ⌊√n⌋ flatten the source
    // distribution (α = 0.5 temperature), a doc-count budget B is split
    // ∝ w, and each source is THINNED INDEPENDENTLY by a deterministic
    // md5-threshold coin — so the sample needs no global sort, no
    // shuffle beyond the per-source count, and is reproducible row-by-row
    // on any partitioning/engine. The threshold compare runs on the hex
    // DIGEST STRING (base-16 fraction), the same trick as limit_ratio;
    // rates stay exact integer ppm (⌊sqrt⌋ is IEEE-exact in both
    // engines). Per-source stats are a broadcast dim onto the doc scan.
    "q253_mixture_sample" -> ((s, dir) => {
      val B = 100L // target docs across the mixture
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val cnt = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .withColumn("w", floor(sqrt(col("n").cast(DoubleType))).cast(LongType))
      val tot = cnt.agg(sum(col("w")).as("sw"))
      // sw*n squares a corpus-sized count — wraps int64 near 1e19; widen
      // through DECIMAL(38,0) (oracle: HUGEINT) so the ppm stays exact
      val rates = cnt.crossJoin(broadcast(tot))
        .withColumn("rate_ppm",
          least(lit(1000000L), expr(s"(CAST($B AS DECIMAL(38,0)) * w * 1000000)" +
            " div (CAST(sw AS DECIMAL(38,0)) * n)")))
        .withColumn("thresh", concat(
          lpad(lower(hex(expr(
            "least((rate_ppm * 4294967296) div 1000000, 4294967295)"))), 8, "0"),
          lit("0" * 24)))
      docs.join(broadcast(rates.select(col("source"), col("rate_ppm"), col("thresh"))),
          Seq("source"))
        .filter(md5(concat(lit("mix:"), col("doc_id").cast(StringType))) < col("thresh"))
        .select(col("doc_id"), col("source"), col("rate_ppm"))
    }),

    // Token-budget corpus selection: within each source, take documents
    // best-first (token count desc, doc_id tie-break) until a per-source
    // token budget is exhausted — the greedy knapsack every "top-quality
    // N-token mix" data recipe runs. One window per source (running sum
    // over the total order), never a global sort; token counts are the
    // exact integer word count so selection is engine-stable.
    "q254_token_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)").as("tokens"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("tokens").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum_tokens", sum(col("tokens")).over(w))
        .filter(col("cum_tokens") <= 600L)
        .select(col("doc_id"), col("source"), col("tokens"), col("cum_tokens"))
    }),


    // Sessionization: split each user's event stream on >1h gaps
    // (window lag + running sum — SURVEY §2.5 analytic shape).
    "q18_sessionize" -> ((s, dir) => sessionIntervals(s, dir)),

    // resets/changes (PromQL counter analysis): per user ordered by time,
    // count value decreases and value changes.
    "q19_resets_changes" -> ((s, dir) => {
      // order in the µs domain (what DuckDB sees) with event_id tie-break
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts_us")).asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("prev_v", lag(col("value"), 1).over(byUser))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("prev_v").isNotNull && col("value") < col("prev_v"), 1).otherwise(0)).as("resets"),
          sum(when(col("prev_v").isNotNull && col("value") =!= col("prev_v"), 1).otherwise(0)).as("changes"),
          count(lit(1)).as("n"))
    }),

    // Exact dedup: content-hash group, canonical = min doc_id.
    "q20_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc_id"))
    }),

    // NORMALIZED exact dedup (the RefinedWeb/Falcon "fuzzy exact"
    // pass): lowercase, strip punctuation, collapse whitespace, THEN
    // hash — catches trivially re-encoded copies plain md5(text)
    // misses, still one hash aggregate (the cheapest dedup tier a
    // pipeline runs before MinHash). Reports cluster sizes vs the raw
    // tier: n_raw counts distinct raw texts folding into one
    // normalized cluster, so n_raw > 1 rows are exactly the wins
    // normalization buys. Same 100 TB shape as q20.
    "q328_normalized_dedup" -> ((s, dir) => {
      val norm = expr(
        """trim(regexp_replace(regexp_replace(lower(text),
          |  '[^a-z0-9 ]', ' '), ' +', ' '))""".stripMargin)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), md5(norm).as("norm_hash"))
        .groupBy(col("norm_hash"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(md5(col("text"))).as("n_raw"),
          min(col("doc_id")).as("canonical_doc_id"))
    }),

    // n-gram Jaccard near-dup: pairs sharing word-3-shingles, exact Jaccard
    // over distinct shingle sets, threshold 0.5. Equi-join on shingle.
    "q21_near_dup_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir, 0.5).select(col("doc_a"), col("doc_b"), col("jaccard"))),

    // MinHash + LSH: 8 md5-salted min-hashes, 4 bands × 2 rows; candidate
    // pairs share a band bucket; verified with exact Jaccard ≥ 0.4.
    // The band-bucket equi-join is the 100 TB scale path: candidates are
    // generated per bucket, never all-pairs.
    "q22_minhash_lsh" -> ((s, dir) => {
      val ds = docShinglesStored(s, dir)
      val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      // minhash_i = lexicographic min of md5(i || '|' || shingle)
      val mhAggs = (0 until 8).map(i => min(md5(concat(lit(s"$i|"), col("sh")))).as(s"mh$i"))
      val mh = ds.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
      val bands = mh.select(col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("bkey"))): _*)).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val shared = cand.join(ds.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sha"), "doc_a")
        .join(ds.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "shb"), "doc_b")
        .filter(col("sha") === col("shb"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
      shared
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn("jaccard",
          col("shared").cast(DoubleType) / (col("n_a") + col("n_b") - col("shared")))
        .filter(col("jaccard") >= 0.4)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }),

    // SimHash fingerprint: 32-bit signature; bit k = majority vote over
    // distinct tokens of the high bit of md5 hex nibble k. Emitted as a
    // 32-char bitstring (engine-portable); equal signatures = near-dup
    // cluster key.
    "q23_simhash" -> ((s, dir) => simhashDf(s, dir)),

    // Brute-force cosine top-k (ANN baseline): query vectors = vec_id%100==0,
    // candidates = all others; vectors quantized to 1e-6 integers so dot
    // products are exact BIGINT sums (order-independent, engine-portable);
    // top-5 per query. Array-native: the dot product is a per-row
    // zip_with/aggregate fold over the embedding arrays (codegen, no
    // per-dimension explode), and the small query side broadcasts — at
    // 100 TB this is a map-side scan of the corpus with one shuffle for
    // the per-query top-k, not a (pos)-keyed shuffle of N·dim rows.
    // Distributed PCA TOP COMPONENT by power iteration, exact integers
    // end-to-end: centering never divides (c = n·v − Σv, scaled by n so
    // no mean rounding), each of 6 fixed rounds is TWO hash aggs over
    // the centered rows (per-vec score s = cᵀx, then per-dim fan-in
    // y = Σ s·c — the Gram matrix is never materialized, which is the
    // 100 TB shape: O(n·d) per round, not O(d²) state), and the
    // renormalization is fixed-point sign-split division both engines
    // floor identically. Rounds are localCheckpoint-truncated like the
    // BPE trainer, so the plan stays flat. Top-PC removal ("all but the
    // top", Mu 2018) and embedding whitening start exactly here.
    // Long-arithmetic ceiling: |c|≤2n·10⁶ and s=Σ₆₄ c·x needs
    // 64·max|c|·10⁶ < 2⁶³ → max|c| ≤ 1.4e11, i.e. n ≤ ~1.4e5 rows per
    // fit at this quantization; beyond that, rescale (the y fan-in is
    // already DECIMAL(38,0)). The ceiling is LOUD: pcaCentered fuses a
    // raise_error guard into the c column itself (the q303 discipline),
    // so past it Spark fails instead of silently wrapping where the
    // DuckDB HUGEINT twin keeps going.
    "q317_pca_top_component" -> ((s, dir) =>
      pcaComponentStored(s, dir)
        .select(posexplode(col("xa")).as(Seq("dim", "comp")))
        .select(col("dim"), col("comp"))),

    // SECOND principal component by DEFLATED power iteration: every
    // iterate re-orthogonalizes against the trained PC1
    // (z ← z·(x₁ᵀx₁) − x₁·(x₁ᵀz), DECIMAL-widened exact integers, then
    // the same fixed-point renormalization) — top-k PCA the way it runs
    // on a cluster: O(n·d) per round, components trained one at a time,
    // nothing d×d ever materialized. The oracle unrolls BOTH chains.
    "q321_pca_second_component" -> ((s, dir) =>
      pcaComponentsStored(s, dir, 2)
        .select(posexplode(col("xa")).as(Seq("dim", "comp2")))
        .select(col("dim"), col("comp2"))),

    // "All-but-the-top" (Mu 2018) DIAGNOSTIC: every embedding's centered
    // coordinate along q317's dominant component — the quantity ABTT
    // subtracts — ranked by magnitude to surface the vectors that
    // dominate the top axis (what you inspect before whitening a 100 TB
    // embedding table). Shares the trained component via the LocalCache
    // materialization (the bpeTrain discipline); the projection itself
    // is one broadcast fold + top-k, exact integers.
    "q319_abtt_projection" -> ((s, dir) => {
      val x = pcaComponentStored(s, dir)
      val centered = pcaCentered(s, dir)
      centered.crossJoin(broadcast(x))
        .withColumn("proj", expr(
          "aggregate(zip_with(c, xa, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, t) -> acc + t)"))
        .orderBy(abs(col("proj")).desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("proj"))
    }),

    // Johnson–Lindenstrauss RANDOM PROJECTION (Achlioptas ±1 signs,
    // md5-derived at plan build → literal weight arrays, the q25
    // hyperplane discipline): 64-dim → 16-dim integer projections, then
    // nearest neighbors of vec 0 ranked in the PROJECTED space with the
    // exact full-dim dot riding along — the cheap first-pass filter a
    // 100 TB ANN pipeline runs before exact re-scoring, at a quarter of
    // the shuffle width.
    "q318_jl_projection" -> ((s, dir) => {
      val emb = embArr(s, dir).select(col("vec_id"), col("vq"))
      val proj = emb.select(col("vec_id"), array(jlProjExprs: _*).as("pr"))
      val qp = proj.filter(col("vec_id") === 0).select(col("pr").as("qr"))
      val qv = emb.filter(col("vec_id") === 0).select(col("vq").as("qvq"))
      proj.filter(col("vec_id") =!= 0)
        .join(emb.select(col("vec_id"), col("vq")), "vec_id")
        .crossJoin(broadcast(qp)).crossJoin(broadcast(qv))
        .withColumn("proj_dot", expr(
          "aggregate(zip_with(pr, qr, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, t) -> acc + t)"))
        .withColumn("exact_dot", dotCol(col("vq"), col("qvq")))
        .orderBy(col("proj_dot").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("proj_dot"), col("exact_dot"))
    }),

    // RECALL METER for the JL projection: top-10 neighbors of vec 0 in
    // the 16-dim projected space vs the exact full-dim top-10 — the
    // overlap count and recall ppm a pipeline monitors before trusting
    // a cheap first-pass filter at 100 TB. Both rankings are exact
    // integer dots; the overlap is a semi join of two top-k sets.
    "q322_jl_recall" -> ((s, dir) => {
      val emb = embArr(s, dir).select(col("vec_id"), col("vq"))
      val proj = emb.select(col("vec_id"), array(jlProjExprs: _*).as("pr"))
      val qp = proj.filter(col("vec_id") === 0).select(col("pr").as("qr"))
      val qv = emb.filter(col("vec_id") === 0).select(col("vq").as("qvq"))
      val projTop = proj.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qp))
        .withColumn("proj_dot", expr(
          "aggregate(zip_with(pr, qr, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, t) -> acc + t)"))
        .orderBy(col("proj_dot").desc, col("vec_id").asc)
        .limit(10).select(col("vec_id"))
      val exactTop = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .withColumn("exact_dot", dotCol(col("vq"), col("qvq")))
        .orderBy(col("exact_dot").desc, col("vec_id").asc)
        .limit(10).select(col("vec_id"))
      exactTop.join(projTop, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("n_overlap"),
          expr("n_overlap * 1000000 div 10").as("recall_ppm"))
    }),

    "q24_ann_cosine_topk" -> ((s, dir) => {
      val e = embArr(s, dir)
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("vq").as("qv"), col("nrm").as("qn"))
      val n = e.select(col("vec_id").as("n_id"), col("vq").as("nv"), col("nrm").as("nn"))
      val cos = n.join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos",
          col("dot").cast(DoubleType) / sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cos.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // LSH-bucketed ANN (the scale path): 8 deterministic random hyperplanes
    // (weight ±1 from the md5 high bit of "plane_pos" — computed ONCE at
    // plan build as literal weight arrays, not re-hashed per row); 8-bit
    // signature bucket equi-join; exact cosine only within buckets; top-3
    // per query. Signatures and norms are per-row array folds — no
    // explode, no groupBy; the arrays ride through the bucket join so the
    // verification needs no re-join against the corpus.
    "q25_ann_lsh" -> ((s, dir) => {
      val e = embArr(s, dir)
      val sig = lshSig(e)
      val q = sig.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("sig"), col("vq").as("qv"), col("nrm").as("qn"))
      val n = sig.select(col("vec_id").as("n_id"), col("sig"), col("vq").as("nv"), col("nrm").as("nn"))
      val cos = n.join(broadcast(q), "sig")
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos",
          col("dot").cast(DoubleType) / sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cos.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // IVF-bucketed ANN (the second scale path, alongside q25's LSH):
    // a 16-cell coarse quantizer assigns every vector to its nearest
    // centroid; each query probes its nprobe=4 nearest cells and ranks
    // exact cosine ONLY over those cells' members. Centroids here are
    // the 16 lowest vec_ids, a deterministic training-free stand-in for
    // an offline k-means codebook — the query-path shape (broadcast
    // assign → cell equi-join → in-cell exact rank) is the real IVF
    // plan. Cell assignment keeps the codegen'd per-pair dot fold
    // (broadcast codebook crossJoin) + min(struct(-cos, c_id)) hash
    // aggregates: for THIS single-round, inline-cents shape the r15
    // scoreArr projection measured SLOWER isolated (1.257 vs 0.995 s —
    // nested lambdas leave whole-stage codegen and there is only one
    // exchange to save), while every multi-round/multi-consumer IVF
    // path (q122/q140/q309/q380/q384) measured faster with it —
    // empirics per shape, not one rule.
    "q103_ann_ivf" -> ((s, dir) => {
      val e = embArr(s, dir)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("vq").as("cv"), col("nrm").as("cn"))
      val ccos = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("vq"), col("nrm"), struct(
          (-(dotCol(col("vq"), col("cv")).cast(DoubleType) /
            sqrt(col("cn").cast(DoubleType) * col("nrm").cast(DoubleType))))
            .as("negcos"),
          col("c_id").as("c_id")).as("sc"))
      val assign = ccos.groupBy(col("vec_id"))
        .agg(min(col("sc")).as("best"), first(col("vq")).as("nv"),
          first(col("nrm")).as("nn"))
        .select(col("vec_id").as("n_id"), col("best.c_id").as("cell"),
          col("nv"), col("nn"))
      val probes = ccos.filter(col("vec_id") % 100 === 0)
        .groupBy(col("vec_id"))
        .agg(slice(sort_array(collect_list(col("sc"))), 1, 4).as("top4"),
          first(col("vq")).as("qv"), first(col("nrm")).as("qn"))
        .select(col("vec_id").as("q_id"), explode(col("top4")).as("_c"),
          col("qv"), col("qn"))
        .withColumn("cell", col("_c.c_id")).drop("_c")
      // nprobe=4 probing: small probe side broadcasts; each pair is unique
      // (a vector lives in exactly one cell) so no dedup pass is needed
      val cos = assign.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos",
          col("dot").cast(DoubleType) / sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cos.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // IVF with a TRAINED codebook — one distributed Lloyd step refines
    // the seed centroids before probing: assign to seeds, new centroid =
    // per-dimension QUANTIZED MEAN of the members (round(sum/count) —
    // exact integers end-to-end, so the refined codebook is bit-identical
    // across engines, partitionings and reruns; a float k-means would
    // drift by summation order). The training explode is O(N·dim) once,
    // the query path stays the broadcast assign → cell join → in-cell
    // exact rank shape of q103.
    "q122_ann_ivf_kmeans" -> ((s, dir) => {
      val e = embArrSpread(s, dir)
      val (refined, assigned) = ivfIndex(e)
      val probes = probeTop4(e.filter(col("vec_id") % 100 === 0), refined)
      val cos = assigned.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dot", dotCol(col("qv"), col("nv")))
        .withColumn("cos",
          col("dot").cast(DoubleType) / sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      cos.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // Product-quantization ANN with asymmetric distance (ADC): the
    // 64-dim vector splits into M=4 subvectors; each subspace gets a
    // K=16 codebook (subvectors of the 16 lowest vec_ids — the same
    // training-free deterministic stand-in as q103; kmeansCentroids
    // would train them offline). Encoding stores M small codes per
    // vector — at 100 TB the ADC scan reads the 4-byte codes table, not
    // the 256-byte vectors — and each query broadcasts an M×K distance
    // LUT so candidate scoring is an O(M) fold, not O(dim). Squared-L2
    // over quantized ints end-to-end: every distance and tie-break is
    // exact integer arithmetic, bit-identical across engines.
    "q182_ann_pq_adc" -> ((s, dir) => {
      val e = embArrSpread(s, dir)
      val M = 4; val sub = 16; val K = 16
      // the M×K codebook folds to ONE broadcast row (book[m][c] = the
      // c-th training subvector — c_id is dense 0..K-1 by construction,
      // so the by-c_id sort order IS the array index); encode and LUT
      // are then single projections — r15: was an explode-to-(vec, m)
      // join ×K, a row_number window and four collect_list aggregates
      // (7 exchanges of the subvector stream → the codebook broadcast
      // alone; the d2 arithmetic per pair is unchanged)
      val book1 = e.filter(col("vec_id") < K)
        .select(col("vec_id").as("c_id"),
          explode(expr(s"sequence(0, ${M - 1})")).as("m"), col("vq"))
        .withColumn("cv", expr(s"slice(vq, m * $sub + 1, $sub)"))
        .groupBy(col("m"))
        .agg(transform(array_sort(collect_list(struct(col("c_id"), col("cv")))),
          x => x.getField("cv")).as("cvs"))
        .agg(transform(array_sort(collect_list(struct(col("m"), col("cvs")))),
          x => x.getField("cvs")).as("book"))
      // each row's M subvectors slice ONCE and zip against the book's
      // per-subspace candidate lists (cbs index = c_id)
      val svArrSql = s"transform(sequence(0, ${M - 1}), m -> slice(vq, m * $sub + 1, $sub))"
      val d2Sql = "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), " +
        "0L, (a2, x) -> a2 + x)"
      // nearest code per subspace: ascending (d2, c) struct sort, element
      // 1 — identical tie-break to the former (d2 asc, c_id asc) window.
      // Candidate range is size(cbs) — NOT the literal K — so a training
      // set missing some vec_id < K shrinks the codebook instead of
      // scoring a NULL-distance phantom code (ADVICE r15).
      val enc = e.crossJoin(broadcast(book1))
        .select(col("vec_id"), expr(
          s"zip_with($svArrSql, book, (sv, cbs) -> " +
            "CAST(element_at(array_sort(transform(sequence(0, size(cbs) - 1), c -> " +
            s"named_struct('d', aggregate(zip_with(sv, element_at(cbs, CAST(c AS INT) + 1), " +
            "(x, y) -> (x - y) * (x - y)), 0L, (a2, x) -> a2 + x), 'c', c))), 1).c AS BIGINT))")
          .as("codes"))
      val lut = e.filter(col("vec_id") % 100 === 0)
        .crossJoin(broadcast(book1))
        .select(col("vec_id").as("q_id"), expr(
          s"zip_with($svArrSql, book, (sv, cbs) -> " +
            s"transform(cbs, cv -> $d2Sql))")
          .as("lut"))
      val scored = enc.crossJoin(broadcast(lut))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("adist", expr(
          "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, CAST(c AS INT) + 1)), 0L, (acc, x) -> acc + x)"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id").as("n_id"), col("adist"), col("rank"))
    }),

    // Unigram-LM commonness scoring: corpus token frequencies joined
    // back onto every occurrence — per-doc mean corpus frequency (high =
    // boilerplate-ish, low = rare-garbage-ish) and the rarest token's
    // count. Rank-free on purpose: a Zipf RANK needs a global sort of
    // the vocabulary, the raw count doesn't — the whole pipeline is two
    // hash aggregates and one shuffle join keyed by token, every stage
    // partition-parallel at any corpus size. Integers end-to-end; the
    // mean is the single final IEEE division.
    // CCNet-style LM quality scoring, EXACT-integer form: per-token
    // surprisal ≈ log2(N/cnt) computed as bit-length difference
    // (floor-log2 via base-2 string length — no libm log, which differs
    // by 1 ulp across engines; same discipline as q184's lift-ppm). A
    // doc of mostly-rare tokens scores high average surprisal — the
    // perplexity-proxy CCNet buckets on for corpus filtering. Two hash
    // aggregates + a token-keyed join (broadcast-able vocab at small
    // scale, shuffle join at corpus scale); the corpus total is a 1-row
    // broadcast.
    "q290_unigram_surprisal" -> ((s, dir) => {
      val occ = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freq = occ.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("n_total"))
      occ.join(freq, "tok").crossJoin(broadcast(total))
        .withColumn("s_bits",
          expr("length(conv(n_total, 10, 2)) - length(conv(cnt, 10, 2))"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(col("s_bits")).cast(LongType).as("sum_bits"))
        .withColumn("avg_bits_q8", expr("(sum_bits * 256) div n_tok"))
        .select(col("doc_id"), col("n_tok"), col("sum_bits"), col("avg_bits_q8"))
    }),

    // BIGRAM LM with STUPID BACKOFF, exact integers end-to-end — the
    // distributed-LM design point (Brants et al. 2007 invented stupid
    // backoff precisely so MapReduce LMs need no normalization pass):
    // counts are two hash aggregates over the TRAIN split (even
    // doc_ids), scoring is three token-keyed joins over the HELD-OUT
    // split (odd doc_ids — the CCNet shape: an LM trained elsewhere
    // scores the crawl, so unseen bigrams/OOV actually occur). Per
    // transition, surprisal in floor-log2 bits (base-2 string length,
    // no libm — the q290 discipline):
    //   seen bigram:   len2(c(a)) − len2(c(a,b))
    //   backoff (b∈V): 1 + len2(N) − len2(c(b))      (α = 1/2 → +1 bit)
    //   OOV:           2 + len2(N)                   (p = 1/(4N) floor)
    // At 100 TB the count tables shuffle-join by token; nothing here is
    // driver-side and no stage needs the vocabulary in one place.
    "q325_bigram_backoff_lm" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val train = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
      val uni = train.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n1"))
      val total = uni.agg(sum(col("n1")).cast(LongType).as("n_total"))
      def pairs(df: DataFrame) = df.select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
          |  transform(sequence(0, size(toks) - 2),
          |            i -> struct(toks[i] AS tok_a, toks[i+1] AS tok_b))
          |ELSE array() END""".stripMargin)).as("p"))
        .select(col("doc_id"), col("p.tok_a").as("tok_a"),
          col("p.tok_b").as("tok_b"))
      val bi = pairs(train).groupBy(col("tok_a"), col("tok_b"))
        .agg(count(lit(1)).as("n2"))
      pairs(toks.filter(pmod(col("doc_id"), lit(2)) === 1))
        .join(bi, Seq("tok_a", "tok_b"), "left")
        .join(uni.select(col("tok").as("tok_a"), col("n1").as("n1_a")),
          Seq("tok_a"), "left")
        .join(uni.select(col("tok").as("tok_b"), col("n1").as("n1_b")),
          Seq("tok_b"), "left")
        .crossJoin(broadcast(total))
        .withColumn("s_bits", expr(
          """CASE
            |  WHEN n2 IS NOT NULL AND n1_a IS NOT NULL THEN
            |    length(conv(n1_a, 10, 2)) - length(conv(n2, 10, 2))
            |  WHEN n1_b IS NOT NULL THEN
            |    1 + length(conv(n_total, 10, 2)) - length(conv(n1_b, 10, 2))
            |  ELSE 2 + length(conv(n_total, 10, 2))
            |END""".stripMargin))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trans"),
          sum(when(col("n2").isNull && col("n1_b").isNotNull, 1L)
            .otherwise(0L)).as("n_backoff"),
          sum(when(col("n1_b").isNull, 1L).otherwise(0L)).as("n_oov"),
          sum(col("s_bits")).cast(LongType).as("sum_bits"))
        .withColumn("avg_bits_q8", expr("(sum_bits * 256) div n_trans"))
        .select(col("doc_id"), col("n_trans"), col("n_backoff"),
          col("n_oov"), col("sum_bits"), col("avg_bits_q8"))
    }),

    // Hashed-n-gram LINEAR CLASSIFIER inference (the fastText serving
    // shape, wordNgrams=2): word unigrams + adjacent word bigrams
    // feature-hash to B=1024 buckets (Weinberger 2009), scores are an
    // exact-integer sparse dot against a BROADCAST (C=4 × B) weight
    // table, winner by (score, class) with the runner-up margin as the
    // confidence proxy. Weights derive from md5 at plan build — the
    // JL/LSH synthetic-weight discipline: the PLUMBING (hashing,
    // broadcast dot, argmax+margin) is the operator; a trained model
    // drops in as a parquet weight table with the same schema. At
    // 100 TB: one narrow explode+hash, one hash agg, a broadcast join
    // (the weight table is KB-scale), one window over doc_id — no
    // global sorts, nothing driver-side. (Word features, not char
    // trigrams, deliberately: 20× fewer feature rows per doc, and the
    // split runs once, codegen'd, instead of a per-character lambda.)
    "q326_hashed_linear_classifier" -> ((s, dir) => {
      val B = 1024; val C = 4
      val grams = Tables.spread(s, Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """concat(toks,
            |  CASE WHEN size(toks) >= 2 THEN
            |    transform(sequence(0, size(toks) - 2),
            |              i -> concat(toks[i], ' ', toks[i + 1]))
            |  ELSE array() END)""".stripMargin)).as("g"))
      val feat = grams
        .withColumn("bucket", expr(
          s"CAST(CAST(conv(substring(md5(concat('clf:', g)), 1, 15), " +
            s"16, 10) AS BIGINT) % $B AS INT)"))
        .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("cnt"))
      // the weight table pivots to ONE row per bucket (w[cls] array), so
      // the sparse dot is C sums in a single doc-keyed hash aggregate and
      // the winner/margin fall out of a 4-struct array_sort projection —
      // r15: was a ×C join blow-up + (doc, cls) aggregate + rank/lead
      // window (two more exchanges and a sort; guide §2.3/§2.4). The
      // margin always has a runner-up: every doc scores all C classes.
      val weights = s.range(B).select(col("id").cast("int").as("bucket"))
        .withColumn("ws", expr(
          s"transform(sequence(0, ${C - 1}), cls -> " +
            "CAST(conv(substring(md5(concat('clfw:', cls, ':', bucket)), " +
            "1, 15), 16, 10) AS BIGINT) % 2001 - 1000)"))
      val clsSums = (0 until C).map(c =>
        sum(col("cnt") * element_at(col("ws"), c + 1)).as(s"s$c"))
      val sums = feat.join(broadcast(weights), "bucket")
        .groupBy(col("doc_id"))
        .agg(clsSums.head, clsSums.tail: _*)
      val ranked = array_sort(array((0 until C).map(c =>
        struct((-col(s"s$c")).as("negscore"), lit(c).as("cls"))): _*))
      sums
        .withColumn("_r", ranked)
        .select(col("doc_id"),
          col("_r")(0).getField("cls").as("best_class"),
          (-col("_r")(0).getField("negscore")).cast(LongType).as("best_score"),
          (col("_r")(1).getField("negscore") - col("_r")(0).getField("negscore"))
            .cast(LongType).as("margin"))
    }),

    "q183_zipf_commonness" -> ((s, dir) => {
      val occ = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freq = occ.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      occ.join(freq, "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("cnt")).as("sum_freq"),
          min(col("cnt")).as("rarest"))
        .withColumn("mean_freq",
          col("sum_freq").cast(DoubleType) / col("n_tok"))
        .select(col("doc_id"), col("n_tok"), col("sum_freq"), col("rarest"),
          col("mean_freq"))
    }),

    // Collocation mining: adjacent-pair lift in fixed point —
    // n_ab·10⁶ div (n_a·n_b) orders pairs exactly like PMI (PMI =
    // log lift + corpus constant) without a libm log that differs by
    // 1 ulp across engines. Unigram + bigram counts are two hash
    // aggregates; the scoring joins are keyed by token (broadcast-able
    // vocab at test scale, shuffle join at corpus scale); top-50 is a
    // TakeOrdered, never a global sort.
    "q184_pmi_pairs" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val uni = toks.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n1"))
      val bi = toks.select(explode(expr(
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(0, size(toks) - 2),
            |            i -> struct(toks[i] AS tok_a, toks[i+1] AS tok_b))
            |ELSE array() END""".stripMargin)).as("p"))
        .select(col("p.tok_a"), col("p.tok_b"))
        .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      bi.join(uni.select(col("tok").as("tok_a"), col("n1").as("n_a")), "tok_a")
        .join(uni.select(col("tok").as("tok_b"), col("n1").as("n_b")), "tok_b")
        .withColumn("lift_fp", expr("(n_ab * 1000000) div (n_a * n_b)"))
        .orderBy(col("lift_fp").desc, col("n_ab").desc,
          col("tok_a").asc, col("tok_b").asc)
        .limit(50)
        .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"),
          col("n_b"), col("lift_fp"))
    }),

    // Inverted-index conjunctive search (boolean AND): the postings list
    // IS the (term → doc, tf) hash aggregate; a k-term AND query is then
    // one more aggregate keyed by doc — having matched k distinct terms —
    // never a k-way self-join. Both stages shuffle by a single key
    // (term, then doc), so the plan is two exchanges at any corpus size,
    // and the term filter prunes the exploded rows before the first one.
    "q185_inverted_search" -> ((s, dir) => {
      val terms = Seq("vector", "customer", "slow")
      val tfs = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      tfs.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("sum_tf"),
          min(col("tf")).as("min_tf"))
        .filter(col("n_terms") === terms.size)
        .select(col("doc_id"), col("sum_tf"), col("min_tf"))
    }),

    // Phrase search = positional-index adjacency: a 2-token phrase hit is
    // a bigram posting (pos_b = pos_a + 1 collapses to the adjacent-pair
    // derivation q184 already uses), so the whole query is one narrow
    // per-row transform + one hash aggregate — no positions-array join.
    "q186_phrase_search" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(0, size(toks) - 2),
            |            i -> struct(toks[i] AS tok_a, toks[i+1] AS tok_b))
            |ELSE array() END""".stripMargin)).as("p"))
        .filter(col("p.tok_a") === "batch" && col("p.tok_b") === "batch")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_phrase"))
    }),

    // BM25 lexical ranking in FIXED POINT: idf, length normalization and
    // tf saturation all run as integer multiply/div (k1=1.2, b=0.75 as
    // 1e3-scaled integers; idf = (N-df+0.5)/(df+0.5) as an exact integer
    // ratio) — bit-identical across engines and partitionings where the
    // float formula diverges by libm ulps. Corpus stats (N, avgdl) are a
    // 1-row agg cross-joined (broadcast), never a driver-side action; per-
    // term df is a second small aggregate joined back on the term key.
    "q187_bm25_rank" -> ((s, dir) => {
      val terms = Seq("stream", "hash", "big")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("dl", size(col("toks")).cast(LongType))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("tot_tok"))
        .withColumn("avgdl_fp", expr("(tot_tok * 1000) div n_docs"))
      val tfs = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfs = tfs.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
      tfs.join(broadcast(dfs), "tok").crossJoin(broadcast(stats))
        .withColumn("idf_fp",
          expr("((2 * (n_docs - dfc) + 1) * 1000000) div (2 * dfc + 1)"))
        .withColumn("dlr_fp", expr("(dl * 1000000) div avgdl_fp"))
        .withColumn("k_fp", expr("(1200 * (250 + (750 * dlr_fp) div 1000)) div 1000"))
        .withColumn("term_fp", expr("(idf_fp * tf * 2200) div (tf * 1000 + k_fp)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
        .orderBy(col("score_fp").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Hybrid retrieval: reciprocal-rank fusion of a lexical ranking (tf of
    // one term) and an embedding ranking (exact integer-dot cosine against
    // a probe vector), joined full-outer on the doc key. RRF contributions
    // are integer 1e6/(60+rank) divisions, so the fused score is exact;
    // each leg is a bounded top-50 (TakeOrdered) before the join, so the
    // fusion join sees ≤100 rows no matter the corpus size.
    "q188_rrf_hybrid" -> ((s, dir) => {
      val lex = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") === "vector")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("doc_id").asc).limit(50)
        // unpartitioned rank frame is the limit(50) output — bounded
        .withColumn("r_lex", row_number().over(
          Window.orderBy(col("tf").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("r_lex"))
      val e = embArr(s, dir)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("vq").as("pq"), col("nrm").as("pn"))
      val vec = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .withColumn("cos", dotCol(col("vq"), col("pq")).cast(DoubleType) /
          sqrt(col("nrm").cast(DoubleType) * col("pn").cast(DoubleType)))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(50)
        // unpartitioned rank frame is the limit(50) output — bounded
        .withColumn("r_vec", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf_fp",
          coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + r_vec)"), lit(0L)))
        .orderBy(col("rrf_fp").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("r_lex"), col("r_vec"), col("rrf_fp"))
    }),

    // Corpus-duplicated n-gram fraction (memorization / boilerplate
    // signal): the share of a doc's distinct 5-grams that occur in some
    // OTHER doc too. Distinct (doc, gram) pairs → per-gram doc frequency →
    // join back on the gram key and one per-doc aggregate; fixed-point
    // fraction. Same two-hash-aggregate shape as q183 — each stage
    // shuffles on one key, no pairwise comparisons anywhere.
    "q190_dup_ngram_fraction" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) >= 5 THEN
            |  transform(sequence(0, size(toks) - 5),
            |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))
            |ELSE array() END""".stripMargin)).as("g"))
        .distinct()
      // gram document-frequency as ONE unordered count window over g —
      // r15: the groupBy + join-back form evaluated the explode+distinct
      // subtree twice (guide §2.4: duplicated subtrees); a g group is as
      // large as that gram's doc frequency, never corpus-sized
      grams
        .withColumn("dfg", count(lit(1)).over(Window.partitionBy(col("g"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("dfg") > 1, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_fp", expr("(n_dup * 1000000) div n_grams"))
    }),

    // Matryoshka-style dimension-truncation recall: rank neighbors by
    // exact cosine over the full 64 dims and over the first 16 dims only,
    // then count the top-5 overlap per probe — the acceptance metric for
    // shipping truncated embeddings (4× cheaper ANN) without re-embedding.
    // Both rankings run the array-native integer-dot path; the overlap is
    // an inner join on (probe, neighbor) of two ≤5-row-per-probe sets.
    "q191_matryoshka_recall" -> ((s, dir) => {
      val e = embArr(s, dir)
      def top5(emb: DataFrame): DataFrame = {
        val q = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("vq").as("qv"), col("nrm").as("qn"))
        val n = emb.select(col("vec_id").as("n_id"), col("vq").as("nv"), col("nrm").as("nn"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
        n.join(broadcast(q), col("q_id") =!= col("n_id"))
          .withColumn("cos", dotCol(col("qv"), col("nv")).cast(DoubleType) /
            sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("n_id"))
      }
      val full = top5(e)
      val trunc = top5(e.select(col("vec_id"), slice(col("vq"), 1, 16).as("vq"))
        .withColumn("nrm", aggregate(col("vq"), lit(0L), (a, x) => a + x * x)))
      val overlap = full.join(trunc, Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
      // zero-overlap probes still report (recall@5 = 0 is the finding)
      full.select(col("q_id")).distinct()
        .join(overlap, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
    }),

    // Binary quantization + Hamming rerank: 64-dim sign bits packed into
    // two BIGINT halves per vector (one per-row array fold — 16× smaller
    // than int8, 256× smaller than float32), distance = popcount(xor) —
    // integer-exact. This is the rerank primitive: at corpus scale the
    // candidate set comes from q25's LSH buckets or q103's IVF cells;
    // here the probe set is tiny so the scan is the broadcast side.
    "q192_ann_hamming" -> ((s, dir) => {
      def half(off: Int): Column = expr(
        s"""aggregate(transform(sequence(0, 31),
           |  i -> CASE WHEN vq[i + $off] >= 0 THEN shiftleft(CAST(1 AS BIGINT), i)
           |            ELSE CAST(0 AS BIGINT) END),
           |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
      val sig = embArr(s, dir)
        .select(col("vec_id"), half(0).as("h1"), half(32).as("h2"))
      val q = sig.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("h1").as("q1"), col("h2").as("q2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("ham").asc, col("n_id").asc)
      sig.select(col("vec_id").as("n_id"), col("h1"), col("h2"))
        .join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("ham",
          expr("CAST(bit_count(h1 ^ q1) + bit_count(h2 ^ q2) AS BIGINT)"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("n_id"), col("ham"), col("rank"))
    }),

    // Hard-negative mining for retrieval training: per probe, the
    // neighbors ranked just BELOW the positive band (ranks 6-15 here) —
    // similar enough to be informative, not so similar they are
    // false negatives. Same exact-integer-dot ranking as q24; only the
    // rank band differs, so at corpus scale this rides the same LSH/IVF
    // candidate generation and pays nothing extra.
    "q194_hard_negatives" -> ((s, dir) => {
      val e = embArr(s, dir)
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("vq").as("qv"), col("nrm").as("qn"))
      val n = e.select(col("vec_id").as("n_id"), col("vq").as("nv"), col("nrm").as("nn"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      n.join(broadcast(q), col("q_id") =!= col("n_id"))
        .withColumn("cos", dotCol(col("qv"), col("nv")).cast(DoubleType) /
          sqrt(col("qn").cast(DoubleType) * col("nn").cast(DoubleType)))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") >= 6 && col("rank") <= 15)
        .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
    }),

    // Label-centroid similarity matrix (class-confusability audit):
    // per-label centroids as QUANTIZED per-dimension means (exact
    // integers — the q122/q140 codebook construction), then pairwise
    // cosine between the 10 centroids. The corpus-size work is one
    // explode + hash aggregate; the pairwise step touches only
    // #labels² tiny rows, broadcast.
    "q195_label_centroid_sim" -> ((s, dir) => {
      val byDim = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(transform(col("embedding"),
          v => round(v.cast(DoubleType) * 1000000).cast(LongType))).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
        .withColumn("cv_i", round(col("sv").cast(DoubleType) / col("cnt")).cast(LongType))
      val cents = byDim.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv_i")))),
          x => x.getField("cv_i")).as("cv"))
        .withColumn("cn", aggregate(col("cv"), lit(0L), (a, x) => a + x * x))
      val a = cents.select(col("label").as("label_a"), col("cv").as("av"), col("cn").as("an"))
      val b = cents.select(col("label").as("label_b"), col("cv").as("bv"), col("cn").as("bn"))
      a.join(broadcast(b), col("label_a") < col("label_b"))
        .withColumn("cos", dotCol(col("av"), col("bv")).cast(DoubleType) /
          sqrt(col("an").cast(DoubleType) * col("bn").cast(DoubleType)))
        .select(col("label_a"), col("label_b"), col("cos"))
    }),

    // Per-source corpus QA rollup: the dataset-card table — doc count,
    // exact-duplicate share (md5 text hash), language spread per source.
    // Two hash aggregates; the dup signal joins back on the hash key.
    "q196_source_qa" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), md5(col("text")).as("h"))
      val hc = d.groupBy(col("h")).agg(count(lit(1)).as("hc"))
      d.join(hc, "h")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hc") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("dup_fp", expr("(n_dup_docs * 1000000) div n_docs"))
    }),

    // Banded interval-overlap join: concurrent-session pairs across
    // users. Each session (≥10 min long) explodes to the hour buckets it
    // covers; candidate pairs meet in an equi-join on the bucket — never
    // a cartesian product — then the exact overlap predicate and a ≥5 min
    // overlap floor filter, with distinct() collapsing pairs that share
    // several buckets. The band width bounds the per-bucket candidate
    // set by the true concurrency, which is what makes this survive
    // 100× more sessions.
    "q198_interval_overlap" -> ((s, dir) => {
      val HOUR = 3600L * 1000000L
      val sess = sessionIntervals(s, dir)
        .filter(col("t_end") - col("t_start") >= 600L * 1000000L)
        .select(col("user_id"), col("session_id"), col("t_start"), col("t_end"))
        .withColumn("b", explode(sequence(
          expr(s"t_start div $HOUR"), expr(s"t_end div $HOUR"))))
      val a = sess.select(col("b"), col("user_id").as("ua"),
        col("session_id").as("sa"), col("t_start").as("as_"), col("t_end").as("ae"))
      val bb = sess.select(col("b"), col("user_id").as("ub"),
        col("session_id").as("sb"), col("t_start").as("bs"), col("t_end").as("be"))
      a.join(bb, Seq("b"))
        .filter(col("ua") < col("ub") ||
          (col("ua") === col("ub") && col("sa") < col("sb")))
        .withColumn("ov_us",
          least(col("ae"), col("be")) - greatest(col("as_"), col("bs")))
        .filter(col("ov_us") >= 300L * 1000000L)
        .select(col("ua"), col("sa"), col("ub"), col("sb"), col("ov_us"))
        .distinct()
    }),

    // Conversion funnel (view → click → purchase, strictly ordered): each
    // stage is "earliest qualifying event after the previous stage" — a
    // per-user aggregate then an equi-join on user_id feeding the next
    // stage's aggregate. Three hash aggregates + two joins, all keyed by
    // user_id; no window over the full event stream, no per-user sort.
    "q199_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts_us")).as("tus"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t_view"))
      val c = v.join(e.filter(col("event_type") === "click"), Seq("user_id"))
        .filter(col("tus") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t_click"))
      val p = c.join(e.filter(col("event_type") === "purchase"), Seq("user_id"))
        .filter(col("tus") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .withColumn("stage",
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2).otherwise(1))
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"), col("stage"))
    }),

    // Retention cohorts: users keyed by first-active day, activity
    // counted as distinct users per (cohort_day, day offset). Two hash
    // aggregates over the distinct (user, day) set + one join on
    // user_id — the standard D1/D7/D30 retention matrix, scale-shaped.
    "q200_retention_cohort" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"),
          expr("(unix_micros(ts_us) div 1000000) div 86400").as("day"))
        .distinct()
      val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      days.join(cohort, Seq("user_id"))
        .withColumn("offset_day", col("day") - col("cohort_day"))
        .groupBy(col("cohort_day"), col("offset_day"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Fuzzy self-join (typo-tolerant dedup signal): doc-prefix pairs
    // within levenshtein distance 2, banded by the first two characters
    // so candidates meet in an equi-join — the edit-distance verify runs
    // only inside a band, never all-pairs. (A 2-char shared prefix is a
    // RECALL bound all banded fuzzy joins trade on; real pipelines add a
    // second pass on suffix bands.) levenshtein() is integer-exact in
    // both engines.
    "q231_fuzzy_prefix_join" -> ((s, dir) => {
      // spread (r16): the band self-join's probe side ran as ONE task
      // (1.17 s measured — the per-pair levenshtein(16) dominates);
      // split-aware, no-op on a many-split scan
      val d = Tables.spread(s, Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), substring(col("text"), 1, 16).as("p"))
        .withColumn("band", substring(col("p"), 1, 2))
      val a = d.select(col("band"), col("doc_id").as("id_a"), col("p").as("pa"))
      val b = d.select(col("band"), col("doc_id").as("id_b"), col("p").as("pb"))
      a.join(b, Seq("band"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("long"))
        .filter(col("dist") <= 2)
        .select(col("id_a"), col("id_b"), col("dist"))
    }),

    // Fuzzy entity resolution on Jaro-Winkler similarity — the NATIVE
    // codegen expression (functions/JaroWinklerSim, registered for SQL as
    // `jaro_winkler_sim`) scoring customer↔supplier name pairs against
    // DuckDB's independent jaro_winkler_similarity implementation. The
    // candidate side is a bounded slice (broadcastable dim), so the join
    // is a broadcast nested loop over a pruned pair space, not an
    // all-pairs shuffle; scores ride at 4dp so the compare is robust to
    // last-ulp float ordering.
    "q249_jaro_winkler" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_name"))
      val sup = Tables.supplier(s, dir).filter(col("s_suppkey") <= 100)
        .select(col("s_suppkey"), col("s_name"))
      c.crossJoin(broadcast(sup))
        .withColumn("jw", round(
          graft.functions.JaroWinklerSim.jaroWinkler(col("c_name"), col("s_name")), 4))
        .filter(col("jw") >= lit(0.75))
        .select(col("c_custkey"), col("s_suppkey"), col("jw"))
    }),

    // Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    // duplicate-word fraction and most-frequent-bigram mass per doc, both
    // as exact ppm integers (integer `div`, no IEEE division), plus the
    // keep/drop verdict. One explode + two hash aggregates; per-doc work
    // is O(len) and fully distributed.
    "q232_gopher_repetition" -> ((s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n_words", size(col("toks")).cast(LongType))
        .withColumn("n_distinct", size(array_distinct(col("toks"))).cast(LongType))
      val bg = t.select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(0, size(toks) - 2),
            |            i -> concat_ws(' ', toks[i], toks[i+1]))
            |ELSE array() END""".stripMargin)).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bg"))
      t.join(bg, Seq("doc_id"), "left")
        .withColumn("dup_word_ppm",
          expr("(1000000 * (n_words - n_distinct)) div n_words"))
        .withColumn("top_bigram_ppm",
          coalesce(expr("(1000000 * top_c) div n_bg"), lit(0L)))
        .withColumn("kept",
          (col("dup_word_ppm") < 700000L && col("top_bigram_ppm") < 200000L)
            .cast(IntegerType))
        .select(col("doc_id"), col("n_words"), col("dup_word_ppm"),
          col("top_bigram_ppm"), col("kept"))
    }),

    // Deterministic stratified train/val/test split: the split is a pure
    // function of doc_id (last hex digit of a salted md5 — 12/2/2
    // buckets), so any engine, any partitioning, any rerun lands every
    // doc in the same split; per-language shares come out as exact ppm.
    "q233_stratified_split" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("h",
          substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 32, 1))
        .withColumn("split",
          when(col("h").isin("c", "d"), "val")
            .when(col("h").isin("e", "f"), "test").otherwise("train"))
      d.groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n_docs"))
        .withColumn("frac_ppm",
          expr("(1000000 * n_docs) div (sum(n_docs) OVER (PARTITION BY lang))"))
    }),

    // Near-dup CLUSTERS — q127's components, read back from the labels
    // stored once per data version (`componentLabelsStored`, shared with
    // q266/q267). The labels are the exact closure, as the oracle's
    // recursive CTE computes it; a graph too deep for the round cap
    // fails loudly instead of under-merging. Canonical doc = cluster
    // min (q20's rule).
    "q234_dup_clusters" -> ((s, dir) => {
      componentLabelsStored(s, dir, 0.5)
        .groupBy(col("lab").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_doc_id"))
    }),

    // Cluster-safe train/eval SPLIT (leakage guard): the split coin is
    // tossed per near-dup CLUSTER, not per document, so an eval doc can
    // never have a near-duplicate in train — the contamination mode a
    // per-doc split (q166) cannot prevent. Composes the q234 component
    // labels (banded candidate gen, connected components) with the md5-
    // threshold coin; singletons are their own cluster. One label join on
    // doc_id — scales exactly as the dedup family does. PipelineSpec
    // proves the guarantee itself: zero near-dup edges cross the split.
    "q266_cluster_safe_split" -> ((s, dir) =>
      clusterSafeSplit(s, dir)
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))),

    // Soft dedup (count-once weighting): instead of dropping duplicates,
    // each document is down-weighted by its near-dup cluster size
    // (weight = 1/n_members, exact integer ppm) — the standard epoch-
    // weighting trick when hard dedup would lose coverage. Cluster sizes
    // come from one hash aggregate over the q234 labels; the weight is a
    // broadcast-sized dim joined back on the label.
    "q267_softdedup_weights" -> ((s, dir) => {
      val lab = componentLabelsStored(s, dir, 0.5)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      val clustered = docs
        .join(lab.select(col("id").as("doc_id"), col("lab")), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("lab"), col("doc_id")))
      val sizes = clustered.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
      clustered.join(sizes, "cluster_id")
        .withColumn("w_ppm", expr("1000000 div n_members"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w_ppm")).as("eff_docs_ppm"),
          sum(col("n_tok") * col("w_ppm")).as("eff_tokens_ppm"))
    }),

    // Benchmark-contamination check: 4-gram overlap between the training
    // corpus and a held-out benchmark set (doc_id % 97 == 0). Grams meet
    // in an md5-keyed equi-join — candidates are generated per shared
    // gram, never all-pairs, so at 100 TB this shuffles on the gram hash
    // exactly like the dedup family.
    "q235_contamination" -> ((s, dir) => {
      val g8 = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) >= 4 THEN
            |  transform(sequence(0, size(toks) - 4),
            |    i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])))
            |ELSE array() END""".stripMargin)).as("g"))
        .distinct()
      val bench = g8.filter(col("doc_id") % 97 === 0)
        .select(col("g"), col("doc_id").as("bench_id"))
      g8.filter(col("doc_id") % 97 =!= 0)
        .join(bench, "g")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
    }),

    // Offset sequence packing: documents stream into fixed 2048-token
    // context windows in doc_id order per source — bin = starting token
    // offset div capacity, one running-sum window + one hash aggregate.
    // Per-source ordering keeps the window partitioned (no global sort).
    "q236_seq_packing" -> ((s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
      t.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 2048"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
    }),

    // Tokenizer fertility by language: subword-per-word ratio (the q28
    // BPE-ish length/4 estimator) as exact ppm — the standard check that
    // a tokenizer doesn't over-fragment some language in the mix.
    "q239_tokenizer_fertility" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .groupBy(col("lang"))
        .agg(sum(size(col("toks")).cast(LongType)).as("n_words"),
          sum(expr(
            "aggregate(toks, 0L, (acc, t) -> acc + greatest(CAST(ceil(length(t)/4.0) AS LONG), 1L))"))
            .as("n_subwords"))
        .withColumn("fertility_ppm", expr("(1000000 * n_subwords) div n_words"))
    }),

    // Length-bucketed batching (padding-waste minimization): docs are
    // grouped into fixed-size batches of 32 by ASCENDING token count, so
    // each batch pads to its own max instead of the corpus max. Batch
    // assignment happens INSIDE coarse length bands (n_tok div 64) so the
    // row_number window is partitioned — no single task ever sorts the
    // whole corpus (the global-window variant is the 100 TB trap). Output
    // is the per-batch padding audit a data loader would precompute.
    "q247_length_batching" -> ((s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("band", expr("n_tok div 64"))
      val w = Window.partitionBy(col("band"))
        .orderBy(col("n_tok").asc, col("doc_id").asc)
      t.withColumn("rn", row_number().over(w).cast(LongType) - 1)
        .withColumn("batch", expr("rn div 32"))
        .groupBy(col("band"), col("batch"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tok")).as("max_tok"),
          sum(col("n_tok")).as("sum_tok"))
        .withColumn("padding_waste", col("max_tok") * col("n_docs") - col("sum_tok"))
    }),

    // Deterministic epoch shuffle: the reproducible global training order
    // — position = rank of a seeded hash. Two epochs materialized side by
    // side show the orders are decorrelated but each is a permutation;
    // verified via per-(epoch, position-block) membership checksums so
    // the result stays small. The hash rank is computed inside 256 hash
    // bands (prefix of the md5) with a banded offset, which is exactly
    // how a 100 TB shuffle would write epoch-ordered shards: band =
    // shard file, rank-within-band = position in shard.
    "q248_epoch_shuffle" -> ((s, dir) => {
      val epochs = Seq(0, 1)
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val byEpoch = epochs.map { ep =>
        d.withColumn("epoch", lit(ep))
          .withColumn("h", md5(concat(lit(s"epoch$ep|"), col("doc_id").cast("string"))))
          .withColumn("band", expr("CAST(conv(substring(h, 1, 2), 16, 10) AS LONG)"))
      }.reduce(_ unionByName _)
      val w = Window.partitionBy(col("epoch"), col("band"))
        .orderBy(col("h").asc, col("doc_id").asc)
      byEpoch
        .withColumn("pos_in_band", row_number().over(w).cast(LongType) - 1)
        .groupBy(col("epoch"), col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id") * (col("pos_in_band") + 1)).as("order_checksum"))
    }),

    // Peak concurrency per day (capacity planning): the classic +1/−1
    // boundary sweep, but PARTITIONED BY DAY so no single task ever sees
    // the whole timeline — cross-midnight sessions enter as a per-day
    // carry-in computed with the q198 banding trick (explode to covered
    // day starts, one hash aggregate). Within a day the running sum
    // orders ends before starts at equal µs, so touching sessions never
    // count as concurrent.
    "q227_max_concurrency" -> ((s, dir) => {
      val sess = sessionIntervals(s, dir)
      val DAY = 86400L * 1000000L
      val bounds = sess.select(col("t_start").as("t"), lit(1L).as("d"))
        .unionByName(sess.select(col("t_end").as("t"), lit(-1L).as("d")))
        .withColumn("day", expr(s"t div $DAY"))
      val carry = sess
        .filter(expr(s"t_end div $DAY > t_start div $DAY"))
        .withColumn("day", explode(sequence(
          expr(s"t_start div $DAY + 1"), expr(s"t_end div $DAY"))))
        .groupBy(col("day")).agg(count(lit(1)).as("carry_in"))
      val w = Window.partitionBy(col("day"))
        .orderBy(col("t").asc, col("d").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bounds
        .withColumn("run", sum(col("d")).over(w))
        .groupBy(col("day")).agg(max(col("run")).as("max_run"))
        // full outer: a day may hold only carried-over sessions (no
        // boundaries), or only boundaries; the day-start level itself is
        // the peak when the within-day sweep never rises (greatest 0)
        .join(carry, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("carry_in"), lit(0L)).as("carry_in"),
          (coalesce(col("carry_in"), lit(0L)) +
            greatest(coalesce(col("max_run"), lit(0L)), lit(0L)))
            .as("max_concurrency"))
    }),

    // Curriculum bucketing: documents ranked by a difficulty proxy and
    // cut into 5 equal-size epochs with ntile semantics — the
    // deterministic total-order tie-break (doc_id) makes bucket
    // membership exact. r16 (VERDICT window audit): the single global
    // ntile window — the one corpus-sized unpartitioned window in the
    // inventory — is replaced by the q359 two-pass prefix-sum rank: a
    // per-n_chars partitioned row_number runs in parallel, per-value
    // counts roll up to a tiny offsets frame (one row per DISTINCT
    // n_chars — bounded by the length domain, not the corpus), and
    // offset + local = the exact global rank. Epoch = ntile's own
    // bucket arithmetic over (rank, N): the first N%5 buckets take
    // ceil(N/5) rows, the rest floor(N/5) — bit-identical to ntile(5),
    // which the DuckDB oracle still computes natively.
    "q225_curriculum_ntile" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val local = d.withColumn("lr", row_number().over(
        Window.partitionBy(col("n_chars")).orderBy(col("doc_id").asc)))
      // one row per distinct n_chars value — the only unpartitioned
      // window left runs over this value-domain-bounded frame
      val offs = d.groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
        .withColumn("off",
          coalesce(sum(col("cnt")).over(Window.orderBy(col("n_chars").asc))
            - col("cnt"), lit(0L)))
        .select(col("n_chars"), col("off"))
      val tot = d.agg(count(lit(1)).as("n_total"))
      local.join(offs, Seq("n_chars")).crossJoin(broadcast(tot))
        .withColumn("r", col("off") + col("lr"))
        .withColumn("epoch", expr(
          """CASE WHEN r <= (n_total div 5 + 1) * (n_total % 5)
            |     THEN (r - 1) div (n_total div 5 + 1) + 1
            |     ELSE (n_total % 5) +
            |          (r - (n_total div 5 + 1) * (n_total % 5) - 1)
            |            div (n_total div 5) + 1 END""".stripMargin))
        .groupBy(col("epoch"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_nc"),
          max(col("n_chars")).as("max_nc"))
    }),

    // Largest-remainder (Hamilton) apportionment of a fixed sampling
    // budget across sources: base = floor(B·nᵢ/N), the B−Σbase leftover
    // seats go to the largest remainders (deterministic tie-break). All
    // integer arithmetic; Σalloc == B exactly — the property that makes
    // per-source sampling quotas reproducible across runs and engines.
    "q226_largest_remainder_mix" -> ((s, dir) => {
      val B = 1000L
      val cnt = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).as("n_total"))
      cnt.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($B * n) div n_total"))
        .withColumn("rem", expr(s"($B * n) % n_total"))
        // unpartitioned rank frame = one row per SOURCE (already
        // aggregated) — bounded by source cardinality, never the corpus
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source").asc)))
        .withColumn("tot_base",
          sum(col("base")).over(Window.partitionBy(lit(1))))
        .withColumn("alloc",
          expr(s"base + CASE WHEN rk <= $B - tot_base THEN 1 ELSE 0 END"))
        .select(col("source"), col("n"), col("base"), col("alloc"))
    }),

    // Distribution drift between two corpus slices (PSI-style, but a
    // chi-square-shaped EXACT integer statistic — PSI's ln() is libm-
    // divergent): doc-length histograms of two sources compared per
    // bucket as 1e6·(a·totB − b·totA)² div ((a+b)·totA·totB). One hash
    // aggregate over documents + a tiny bucket-level self-join.
    "q219_corpus_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), expr("least(n_chars div 100, 5L)").as("bucket"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("a"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("b"))
      val tot = d.agg(sum(col("a")).as("tot_a"), sum(col("b")).as("tot_b"))
      d.crossJoin(broadcast(tot))
        .withColumn("drift_ppm", expr(
          """CASE WHEN a + b > 0 AND tot_a > 0 AND tot_b > 0 THEN
            |  (CAST(a*tot_b - b*tot_a AS DECIMAL(38,0)) * (a*tot_b - b*tot_a)
            |   * 1000000)
            |  div (CAST(a + b AS DECIMAL(38,0)) * tot_a * tot_b)
            |ELSE 0 END""".stripMargin))
        .select(col("bucket"), col("a"), col("b"), col("drift_ppm"))
    }),

    // Token frequency-of-frequencies (Zipf spectrum): how many distinct
    // tokens occur exactly k times — the corpus-health curve used to spot
    // boilerplate floods (fat head) and OCR noise (fat singleton tail).
    // Two hash aggregates; the second runs over |vocab| rows only.
    "q211_token_freq_spectrum" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .groupBy(col("freq")).agg(count(lit(1)).as("n_tokens"))),

    // Language-ID heuristic: stopword ratio over tokens.
    "q26_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("n_stop", size(expr(
          "filter(toks, t -> t IN ('a','the','of','and','to','in'))")))
        .withColumn("stop_ratio", col("n_stop").cast(DoubleType) / col("n_tok"))
        .withColumn("pred_lang", when(col("stop_ratio") >= 0.05, "en").otherwise("unk"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("stop_ratio"), col("pred_lang"))
    }),

    // Quality scoring: length, mean token length, type-token ratio,
    // stopword ratio → weighted score (decimal-exact weights).
    "q27_quality_score" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tok", size(col("toks")).cast(LongType))
        .withColumn("n_chars2", length(col("text")).cast(LongType))
        .withColumn("mean_tok_len",
          (col("n_chars2") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
        .withColumn("ttr", size(expr("array_distinct(toks)")).cast(DoubleType) / col("n_tok"))
        .withColumn("stop_ratio",
          size(expr("filter(toks, t -> t IN ('a','the','of','and','to','in'))")).cast(DoubleType) / col("n_tok"))
        .withColumn("score",
          col("ttr") * 50 + col("stop_ratio") * 25
            + when(col("n_tok").between(20, 200), lit(25.0)).otherwise(lit(0.0)))
        .select(col("doc_id"), col("n_tok"), col("mean_tok_len"), col("ttr"),
          col("stop_ratio"), col("score"))
    }),

    // Token counting: whitespace tokens + BPE-ish subword estimate
    // (ceil(len/4) per token, min 1).
    "q28_token_count" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tok", size(col("toks")).cast(LongType))
        .withColumn("n_subword", expr(
          "aggregate(toks, 0L, (acc, t) -> acc + greatest(CAST(ceil(length(t)/4.0) AS LONG), 1L))"))
        .select(col("doc_id"), col("n_tok"), col("n_subword"))
    }),

    // Winnowing fingerprint: md5 per word-3-shingle in position order;
    // sliding min over windows of 4; fingerprint = md5 of the sorted
    // distinct selected hashes. posexplode + window min: tokens split once
    // per row (a pure per-row array formulation is a trap here — Catalyst
    // collapses the array projection into every lambda element, going
    // O(n²) in md5 calls).
    "q29_fingerprint_winnow" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          posexplode(expr(s"transform($shinglesFromToks, x -> md5(x))"))
            .as(Seq("pos", "h")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
        .rowsBetween(Window.currentRow, 3)
      sh.withColumn("minh", min(col("h")).over(w))
        .groupBy(col("doc_id"))
        .agg(md5(array_join(array_sort(collect_set(col("minh"))), "")).as("fingerprint"))
    }),

    // Gopher-style repetition signals: fraction of bigram mass taken by
    // the single most frequent bigram, and by bigrams occurring more than
    // once — per-doc hash aggregates, no pairwise work, scales linearly.
    "q112_repetition_signals" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(0, size(toks) - 2),
            |            i -> concat_ws(' ', toks[i], toks[i+1]))
            |ELSE array() END""".stripMargin)).as("bg"))
      val cnt = bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      cnt.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_bigrams"),
        (max(col("c")).cast(DoubleType) / sum(col("c"))).as("top_bigram_frac"),
        (sum(when(col("c") > 1, col("c")).otherwise(0L)).cast(DoubleType) /
          sum(col("c"))).as("dup_bigram_frac"))
    }),

    // PII redaction: email → ip → phone regexp_replace chain (the same
    // RE2-compatible patterns run in the oracle). PII is injected
    // deterministically so the rules provably fire; per-row, scales.
    "q113_pii_redact" -> ((s, dir) => {
      val raw = concat(
        lit("user"), col("doc_id"), lit("@mail.example.com said: "),
        substring(col("text"), 1, 40),
        lit(" from 10."), pmod(col("doc_id"), lit(256)), lit(".0.99 call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" or 192.168.1.1"))
      Tables.documents(s, dir).select(col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(raw,
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
          "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}", "<PHONE>").as("redacted"))
    }),

    // Benchmark-contamination check: distinct 3-shingle overlap of every
    // corpus doc against a small eval set (doc_id < 5) — the eval side is
    // tiny and broadcasts; the corpus side is one shuffle on doc_id.
    "q114_contamination" -> ((s, dir) => {
      val sh = docShinglesStored(s, dir)
      val bench = sh.filter(col("doc_id") < 5).select(col("sh")).distinct()
        .withColumn("hit", lit(1L))
      sh.filter(col("doc_id") >= 5)
        .join(broadcast(bench), Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("contamination",
          col("n_contaminated").cast(DoubleType) / col("n_shingles"))
        .filter(col("n_contaminated") > 0)
    }),

    // Deterministic stratified sampling: ~20% per (lang, source) stratum
    // selected by an md5 prefix of the key — reproducible across engines,
    // executors and reruns (no RNG state), the property a training-data
    // sampling pass actually needs.
    "q115_stratified_sample" -> ((s, dir) => {
      val st = Window.partitionBy(col("lang"), col("source"))
      Tables.documents(s, dir)
        .withColumn("n_stratum", count(lit(1)).over(st))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "34")
        .select(col("doc_id"), col("lang"), col("source"), col("n_stratum"))
    }),

    // Near-dup clustering: connected components over the exact-Jaccard
    // edge set (q21's pairs), via iterative min-label propagation. Each
    // round is one shuffle join + hash agg over only the docs that appear
    // in some near-dup pair — a vanishing fraction of the corpus — and
    // each round's checkpoint truncates the lineage so the plan does not
    // grow with the iteration count. Rounds needed = component diameter;
    // near-dup components are clique-like, so a handful converge. The
    // loop is `Iterate.untilStable`, Pregel-style orchestration: the
    // convergence flag is observed inside each round's checkpoint job,
    // never a separate job or a data collect.
    // 100 TB upgrade path: large-star/small-star two-hop contraction,
    // O(log n) rounds; the per-round join shape is identical.
    "q127_dedup_components" -> ((s, dir) => {
      val pairs = jaccardEdgesStored(s, dir, 0.5)
      connectedComponents(
        pairs.unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .toDF("u", "v"))
        .select(col("id").as("doc_id"), col("component"))
    }),

    // As-of join: attach to every purchase the same user's most recent
    // click at-or-before it. One union + one per-user ordered running
    // window (a single shuffle on user_id) instead of a per-row range
    // probe or an exploded inequality join — the sorted-merge shape an
    // as-of join compiles to at 100 TB. Clicks are pre-deduped per
    // (user, ts) with max event_id so equal-timestamp ties are
    // deterministic across engines; a click at exactly the purchase
    // timestamp counts (>= semantics), which the side ordering encodes.
    "q128_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("tus", unix_micros(col("ts_us")))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("tus")).agg(max(col("event_id")).as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("tus"), col("value"))
      asofJoin(purchases, clicks, "user_id", "tus", Seq("click_id"))
        .select(col("purchase_id"), col("user_id"), col("tus").as("purchase_tus"),
          col("value"), col("asof_click_id").as("last_click_id"))
    }),

    // Semantic dedup: embedding near-dup pairs → clusters. Candidates
    // come from the LSH signature bucket (never all-pairs — Σ_bucket
    // |b|² work, tuned by signature width), survive an exact
    // integer-quantized cosine ≥ 0.3, and the surviving edge set
    // collapses to components via the same min-label propagation as
    // q127. Output: every clustered vector with its canonical (min)
    // vec_id — the drop list a semantic-dedup pass feeds downstream.
    "q132_semantic_dedup" -> ((s, dir) => {
      val e = embArrSpread(s, dir)
      // materialized once (r16): the signature frame feeds BOTH sides of
      // the bucket self-join, and the 8-plane interpreted dot chain was
      // evaluated twice without it
      val sig = lshSig(e).localCheckpoint()
      val a = sig.select(col("vec_id").as("a_id"), col("sig"),
        col("vq").as("av"), col("nrm").as("an"))
      val b = sig.select(col("vec_id").as("b_id"), col("sig"),
        col("vq").as("bv"), col("nrm").as("bn"))
      // materialized once: the symmetric union below would otherwise
      // evaluate the LSH self-join twice (the audioClusters lesson)
      val pairs = a.join(b, Seq("sig")).filter(col("a_id") < col("b_id"))
        .withColumn("cos", dotCol(col("av"), col("bv")).cast(DoubleType) /
          sqrt(col("an").cast(DoubleType) * col("bn").cast(DoubleType)))
        .filter(col("cos") >= 0.3)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint()
      connectedComponents(
        pairs.unionByName(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
          .toDF("u", "v"))
        .select(col("id").as("vec_id"), col("component"))
    }),

    // SimHash Hamming near-dup at the SIGNATURE level: dedupe docs to
    // distinct fingerprints first (identical-signature docs are already
    // one cluster, q23), band the distinct signatures (pigeonhole:
    // distance <= 3 implies one agreeing 8-bit band), and verify the
    // exact Hamming distance on candidates only. Pairing over signatures,
    // not docs, is what survives a vocabulary-skewed corpus: hot band
    // buckets hold O(distinct sigs), never O(docs); doc membership rides
    // along as a count + canonical id.
    // Complements the MinHash family: O(n) signatures, band equi-join,
    // no shingle join at pair time.
    "q134_simhash_hamming" -> ((s, dir) => {
      val sigs = simhashDf(s, dir)
        .groupBy(col("simhash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc"))
        // the 32-char bitstring packs into one long ONCE per distinct
        // signature; the per-pair distance is then a single
        // bit_count(xor) — a 32-way substring CASE chain here blows the
        // codegen method budget and falls back to interpreted eval
        // (measured 10x slower on the pair stream)
        .withColumn("isig", conv(col("simhash"), 2, 10).cast(LongType))
      val bands = sigs.select(col("simhash"), col("isig"), col("n_docs"), col("canonical_doc"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), substring(col("simhash"), 8 * b + 1, 8).as("bits"))): _*)).as("bb"))
        .select(col("simhash"), col("isig"), col("n_docs"), col("canonical_doc"),
          col("bb.band"), col("bb.bits"))
      // hamming filters BEFORE the dedup: band collisions die inline and
      // the grouping only shuffles surviving near-dup pairs (a pair can
      // match in up to 4 bands — dedupe by the pair key, payloads are
      // functionally dependent on it)
      bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
            col("x.simhash") < col("y.simhash"))
        .select(col("x.simhash").as("sa"), col("y.simhash").as("sb"),
          expr("bit_count(x.isig ^ y.isig)").cast(LongType).as("hamming"),
          col("x.n_docs").as("docs_a"), col("y.n_docs").as("docs_b"),
          col("x.canonical_doc").as("canon_a"), col("y.canonical_doc").as("canon_b"))
        .filter(col("hamming") <= 3)
        .groupBy(col("sa"), col("sb"))
        .agg(first(col("hamming")).as("hamming"),
          first(col("docs_a")).as("docs_a"), first(col("docs_b")).as("docs_b"),
          first(col("canon_a")).as("canon_a"), first(col("canon_b")).as("canon_b"))
    }),

    // Interval attribution (range join): each purchase joins the SAME
    // user's session interval that contains it. The equi-join on user_id
    // carries the containment predicate, so the fan-out is per user
    // (that user's sessions × that user's purchases), never across
    // users — the bounded shape a 100 TB range join needs. Per-user
    // session intervals are disjoint by construction, so each purchase
    // matches exactly one session (the general unkeyed form buckets the
    // time axis and equi-joins on bucket instead).
    "q129_range_join" -> ((s, dir) => {
      val sess = sessionIntervals(s, dir)
      val purchases = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          unix_micros(col("ts_us")).as("tus"))
      purchases
        .join(sess, purchases("p_user") === sess("user_id") &&
          purchases("tus").between(sess("t_start"), sess("t_end")))
        .select(col("purchase_id"), col("user_id"), col("session_id"),
          col("t_start"), col("n_events"))
    }),

    // C4-style corpus-wide duplicate-span removal: chunk each doc into
    // 10-word segments, keep only the FIRST occurrence of every segment
    // across the whole corpus (C4 §2.2 removes all but one of any
    // repeated three-sentence span), reassemble the survivors in order.
    // Shape at 100 TB: one shuffle by segment hash (the window partitions
    // by segment; a segment's occurrence list is as long as its dup
    // count, never corpus-sized), one shuffle back by doc for the ordered
    // reassembly. No driver-side state.
    "q138_segment_dedup" -> ((s, dir) => {
      val segs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, CAST(ceil(size(toks)/10.0) AS INT) - 1),
            |          i -> struct(i AS pos, concat_ws(' ', slice(toks, i*10+1, 10)) AS seg))"""
            .stripMargin)).as("ps"))
        .select(col("doc_id"), col("ps.pos"), col("ps.seg"))
      val w = Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("pos"))
      segs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(array_join(expr("transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"),
          " ").as("text"))
    }),

    // Composite quality-filter chain (Gopher/C4-style document gating):
    // per-row rules (word count, mean word length, stopword floor) plus
    // the corpus-derived repetition signal, composed into keep/drop with
    // the FIRST failing rule as the reject reason — the decision record a
    // training pipeline audits. Per-row exprs + one bigram aggregate;
    // the join is doc_id-keyed, no cross-doc state.
    "q139_filter_chain" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tok", size(col("toks")).cast(LongType))
        .withColumn("mean_len",
          (length(col("text")) - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
        .withColumn("n_stop",
          size(expr("filter(toks, t -> t IN ('the','a','of','and','to','in'))")).cast(LongType))
        .select(col("doc_id"), col("n_tok"), col("mean_len"), col("n_stop"))
      val dup = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(0, size(toks) - 2),
            |            i -> concat_ws(' ', toks[i], toks[i+1]))
            |ELSE array() END""".stripMargin)).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((sum(when(col("c") > 1, col("c")).otherwise(0L)).cast(DoubleType) /
          sum(col("c"))).as("dupf"))
      base.join(dup, Seq("doc_id"))
        .withColumn("reason",
          when(col("n_tok") < 20 || col("n_tok") > 80, "word_count")
            .when(col("mean_len") < 3.8 || col("mean_len") > 4.9, "mean_word_len")
            .when(col("n_stop") < 2, "stopwords")
            .when(col("dupf") > 0.12, "repetition"))
        .withColumn("kept", col("reason").isNull)
        .select(col("doc_id"), col("kept"), col("reason"))
    }),

    // Multi-round k-means training (q122 runs ONE Lloyd step inside the
    // IVF query path; this is the general trainer, 2 rounds here). The
    // dump pins each surviving cell's membership count, centroid norm²
    // and coordinate sum — scalar invariants of the full codebook.
    "q140_kmeans_train" -> ((s, dir) => {
      kmeansCentroids(embArrSpread(s, dir), k = 16, iters = 2)
        .select(col("c_id"), col("n_members"), col("cn"),
          aggregate(col("cv"), lit(0L), (a, x) => a + x).as("vsum"))
    }),

    // TF-IDF-style term weighting: per-doc term counts joined against
    // corpus-wide doc frequencies, top-3 terms per doc. The weight is the
    // RATIO form tf·(N+1)/(df+1) in fixed point (exact integer division)
    // rather than the log form — ln() is libm and differs by 1 ulp across
    // engines, the ranking shape is identical. N comes from a 1-row agg
    // broadcast, never a driver-side count.
    "q142_tfidf_topterms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = Tables.spread(s, docs, "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("score_fp", expr("(tf * (n_docs + 1) * 1000000) div (df + 1)"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_fp").desc, col("term").asc)
      scored.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score_fp"), col("rank"))
    }),

    // Sequence packing (concat-and-chunk): documents are packed in
    // doc_id order into fixed 512-token training sequences WITHIN each
    // source shard — the per-shard running offset is a partitioned
    // window cumsum, so no global ordering bottleneck (pack shards
    // independently, exactly what a 100 TB packer does). Emits each
    // doc's start offset, its sequence id, and whether it straddles a
    // sequence boundary.
    "q143_sequence_pack" -> ((s, dir) => {
      val L = 512
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
        .withColumn("start_off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("seq_id", expr(s"start_off div $L"))
        .withColumn("crosses", expr(s"(start_off + n_tok - 1) div $L") > col("seq_id"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("start_off"),
          col("seq_id"), col("crosses"))
    }),

    // Vocabulary building with coverage: global token frequencies, top-50
    // vocab ranked (count desc, token asc), cumulative corpus-coverage
    // fraction per rank — the "how big must the vocab be" curve a
    // tokenizer pipeline reads. Scale shape: the global rank is a
    // TakeOrdered over the token counts (never a full sort), and the
    // running sum windows over the 50 survivors on one task.
    "q156_vocab_coverage" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
      val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      val total = toks.agg(count(lit(1)).as("_total"))
      val top = counts.orderBy(col("n").desc, col("token").asc).limit(50)
      val w = Window.orderBy(col("n").desc, col("token").asc)
      top
        .withColumn("rank", row_number().over(w).cast(LongType))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        .withColumn("coverage", col("cum").cast(DoubleType) / col("_total"))
        .select(col("rank"), col("token"), col("n"), col("cum"), col("coverage"))
    }),

    // Incremental dedup against a prior corpus: new documents (here the
    // upper half of doc_ids) drop when their exact content hash already
    // exists in the prior half — the "dedup this crawl against what we
    // already have" shape: one anti join on the hash, no full-corpus
    // rebuild. At 100 TB the prior side is the stored hash ledger
    // (bucketed by hash → the join co-locates; see writeBucketed).
    "q157_incremental_dedup" -> ((s, dir) => {
      // the ledger keys on a content FINGERPRINT (here the 10-word-prefix
      // hash), not the full-text hash — that is what real crawl ledgers
      // store, and it actually fires on this corpus
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        md5(array_join(slice(split(col("text"), " "), 1, 10), " ")).as("h"))
      val prior = docs.filter(col("doc_id") < 250).select(col("h"))
      docs.filter(col("doc_id") >= 250)
        .join(prior, Seq("h"), "left_anti")
        .select(col("doc_id"), col("h"))
    }),

    // Embedding-outlier pruning: each label's quantized-mean centroid
    // (exact integers, same algebra as k-means), then the 5 members with
    // the LOWEST cosine to their own centroid — the embedding-space
    // quality gate a curation pipeline runs per cluster/topic. Centroids
    // are a 64-row-per-label aggregate, broadcast back; per-label rank.
    "q144_embedding_outliers" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(
        col("vec_id"), col("label"),
        transform(col("embedding"),
          v => round(v.cast(DoubleType) * 1000000).cast(LongType)).as("vq"))
        .withColumn("nrm", aggregate(col("vq"), lit(0L), (a, x) => a + x * x))
      val cents = e
        .select(col("label"), posexplode(col("vq")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        .withColumn("cv_i", round(col("s").cast(DoubleType) / col("cnt")).cast(LongType))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv_i")))),
          x => x.getField("cv_i")).as("cv"))
        .withColumn("cn", aggregate(col("cv"), lit(0L), (a, x) => a + x * x))
      val cos = e.join(broadcast(cents), "label")
        .withColumn("cos", dotCol(col("vq"), col("cv")).cast(DoubleType) /
          sqrt(col("cn").cast(DoubleType) * col("nrm").cast(DoubleType)))
      val w = Window.partitionBy(col("label")).orderBy(col("cos").asc, col("vec_id").asc)
      cos.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 5)
        .select(col("label").cast(LongType).as("label"), col("vec_id"),
          col("cos"), col("rank"))
    }),

    // Sliding-window chunking (context-window prep): chunks of C=64
    // tokens at stride S=48 (16-token overlap), last chunk short but
    // never empty. Pure per-row explode — embarrassingly parallel, no
    // shuffle; chunk count = 1 + ceil(max(0, n−C)/S).
    "q164_chunk_overlap" -> ((s, dir) => {
      val (c, st) = (64, 48)
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tok", size(col("toks")).cast(LongType))
        .withColumn("chunk_id",
          explode(sequence(lit(0L),
            expr(s"(greatest(n_tok - $c, 0L) + $st - 1) div $st"))))
        .withColumn("start_tok", col("chunk_id") * st)
        .withColumn("chunk_text",
          array_join(slice(col("toks"), (col("chunk_id") * st + 1).cast("int"), lit(c)), " "))
        .withColumn("chunk_len",
          least(col("n_tok") - col("start_tok"), lit(c.toLong)))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("chunk_len"), col("chunk_text"))
    }),

    // Domain-mixing under a token budget: each source contributes docs
    // in doc_id order until its 800-token budget is spent (the doc that
    // crosses the boundary is kept — budgets are soft caps). One ordered
    // cumsum per source partition; at 100 TB the per-source ordering key
    // would be the stored bucketing key, so the window never re-sorts.
    "q165_token_budget_mix" -> ((s, dir) => {
      val budget = 800L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .withColumn("n_tok", size(expr(toksExpr)).cast(LongType))
        .withColumn("prior", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .filter(col("prior") < budget)
        .select(col("doc_id"), col("source"), col("n_tok"), col("prior"))
    }),

    // Int8 vector quantization (index prep): per-vector symmetric scale
    // to [-127, 127] by the max |component|. Pure per-row array math —
    // no window, no shuffle; the scale survives as a column so the
    // index can dequantize.
    "q174_embedding_quantize" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .withColumn("m", expr(
          "array_max(transform(embedding, x -> abs(cast(x as double))))"))
        .select(col("vec_id"), col("m"),
          posexplode(expr("transform(embedding, x -> cast(x as double))"))
            .as(Seq("pos", "v")))
        .withColumn("qv", round(col("v") * 127.0d / col("m")).cast(LongType))
        .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
          col("qv"), col("m"))
    }),

    // BPE merge-candidate mining: global frequencies of ADJACENT token
    // pairs — the statistic one BPE training round maximizes. zip_with
    // over the token array forms pairs per row (no self-join); global
    // top-20 is a TakeOrdered, never a full sort.
    "q171_bpe_pairs" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .select(explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1)," +
            " (a, b) -> concat(a, ' ', b))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20)
    }),

    // Importance (quality-weighted) sampling, DSIR-style: doc kept with
    // probability p = score/100, p quantized to k/256 so the Bernoulli
    // draw is a 2-hex-char md5 prefix compare — deterministic across
    // engines, runs, and partitionings (no RNG state on executors).
    // k clips at 255 (a perfect-score doc keeps w.p. 255/256).
    "q167_importance_sample" -> ((s, dir) => {
      queries("q27_quality_score")(s, dir)
        .select(col("doc_id"), col("score"))
        .withColumn("k", least(floor(col("score") * 2.56), lit(255.0)).cast(LongType))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <
          lpad(lower(hex(col("k"))), 2, "0"))
    }),

    // Dedup survivor policy: within each near-dup component (q127's
    // closure) keep the highest-quality member (ties → smallest id) and
    // record the cluster size — the keep/drop decision a dedup pass
    // actually ships. One join + one per-component window; components
    // are tiny, the corpus never re-sorts.
    "q168_dedup_survivors" -> ((s, dir) => {
      val pairs = jaccardEdgesStored(s, dir, 0.5)
      val comp = connectedComponents(
        pairs.unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .toDF("u", "v"))
        .select(col("id").as("doc_id"), col("component"))
      val scored = queries("q27_quality_score")(s, dir).select(col("doc_id"), col("score"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("score").desc, col("doc_id").asc)
      comp.join(scored, "doc_id")
        .withColumn("rank", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("component"))))
        .filter(col("rank") === 1)
        .select(col("component"), col("doc_id").as("survivor"), col("score"),
          col("n_members"))
    }),

    // Deterministic train/val/test split: md5(doc_id) compared as a
    // base-16 fraction — 80/10/10, reproducible across engines and runs,
    // no global shuffle (the same hex-threshold trick as limit_ratio)
    "q166_train_split" -> ((s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      Tables.documents(s, dir)
        .withColumn("split",
          when(h < "cccccccccccccccccccccccccccccccc", "train")
            .when(h < "e6666666666666666666666666666666", "val")
            .otherwise("test"))
        .select(col("doc_id"), col("lang"), col("split"))
    }),

    // C4-style SPAN dedup with document REASSEMBLY (Raffel et al. 2020
    // discard all-but-one of any repeated three-sentence span; here the
    // unit is a 5-token window since the corpus is unpunctuated): every
    // occurrence of a span whose text repeats anywhere in the corpus —
    // except the globally first (doc_id, pos) — has its covered tokens
    // removed, and surviving tokens are re-joined in order. Single-pass
    // definition (coverage computed against the ORIGINAL token stream).
    // Scale shape: the dedup key is md5(span) — fixed 16-byte shuffle
    // key instead of arbitrary-length text — one shuffle to rank span
    // occurrences, one explode to token coverage, one anti join, one
    // per-doc reassembly agg (state bounded by document length).
    "q301_c4_span_dedup" -> ((s, dir) => {
      val W = 5
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val occ = toks
        .withColumn("span", concat_ws(" ",
          (0 until W).map(i => lead(col("tok"), i).over(wd)): _*))
        .withColumn("t_last", lead(col("tok"), W - 1).over(wd))
        .filter(col("t_last").isNotNull)
        .withColumn("h", md5(col("span")))
        .select(col("doc_id"), col("pos"), col("h"))
      val ranked = occ
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
      val removedPos = ranked.filter(col("cnt") >= 2 && col("rn") >= 2)
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (W - 1))).as("pos"))
        .distinct()
      val kept = toks.join(removedPos, Seq("doc_id", "pos"), "left_anti")
      val reassembled = kept.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("kept_text"))
      toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
        .join(reassembled, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_text"), lit("")).as("kept_text"))
    }),

    // Model-based quality scoring, trained IN ONE AGGREGATION PASS:
    // least-squares fit of n_chars against (token count, stopword
    // count) via the NORMAL EQUATIONS — the Gram matrix XᵀX and Xᵀy
    // are nine exact integer sums, so fitting a small linear model over
    // 100 TB is one partial-aggregating hash agg, then a 1-row Cramer
    // solve broadcast back for scoring. Coefficients stay exact
    // rationals (cofactor determinants over det, DECIMAL(38,0)/HUGEINT)
    // until the final ppm rounding; residuals are y·10⁶ − ŷ_ppm so the
    // orthogonality law Σr·x≈0 is spec-checkable. The classic
    // quality-classifier shape (GPT-3/C4 filtering) without driver-side
    // math.
    "q303_quality_regressor" -> ((s, dir) => {
      val feats = Tables.documents(s, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("x1"),
        expr("CAST(size(filter(split(text, ' '), t -> t = 'the' OR t = 'a')) AS BIGINT)")
          .as("x2"),
        col("n_chars").as("y"))
      val gram = feats.agg(
        count(lit(1)).as("s00"), sum("x1").as("s01"), sum("x2").as("s02"),
        sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
        sum(expr("x2 * x2")).as("s22"),
        sum("y").as("sy0"), sum(expr("x1 * y")).as("sy1"),
        sum(expr("x2 * y")).as("sy2"),
        max(greatest(col("x1"), col("x2"), abs(col("y")))).as("xmax"))
      val (det, d0, d1, d2) = cramer3(n => s"CAST($n AS DECIMAL(38,0))")
      // LOUD scale ceiling for the DECIMAL(38,0) Cramer chain: every
      // determinant is ≤ 6·S³ (S = max |Gram sum|) and the ppm
      // projection multiplies by (1 + x1 + x2)·10⁶ ≤ 3X·10⁶, so
      // S ≤ 10⁹ with X ≤ 10⁶ bounds the worst term at 1.8·10³⁴ < 10³⁸.
      // Beyond the ceiling non-ANSI Spark silently NULLs where the
      // DuckDB HUGEINT twin keeps going — fail loudly instead (refit
      // with rescaled features at that corpus size). The guard is fused
      // into `det`, which every downstream column consumes, so column
      // pruning can never drop it.
      val ceilingOk = greatest(
        Seq("s00", "s01", "s02", "s11", "s12", "s22", "sy0", "sy1", "sy2")
          .map(c => abs(col(c))): _*) <= lit(1000000000L) &&
        col("xmax") <= lit(1000000L)
      val solved = gram.select(
        when(ceilingOk, expr(det)).otherwise(raise_error(lit(
          "q303: Gram sums exceed the DECIMAL(38,0) Cramer ceiling " +
            "(S<=1e9, X<=1e6) — rescale features before fitting"))
          .cast("decimal(38,0)")).as("det"),
        expr(d0).as("d0"), expr(d1).as("d1"), expr(d2).as("d2"))
      def ppm(n: String) = expr(
        s"CAST(CASE WHEN $n >= 0 THEN ($n * 1000000) div det " +
          s"ELSE -((-($n) * 1000000) div det) END AS BIGINT)")
      feats.crossJoin(broadcast(solved))
        .withColumn("num", expr("d0 + d1 * x1 + d2 * x2"))
        .withColumn("yhat_ppm", ppm("num"))
        .select(col("doc_id"), col("x1"), col("x2"), col("y"),
          col("yhat_ppm"),
          (col("y") * 1000000L - col("yhat_ppm")).as("resid_ppm"),
          ppm("d0").as("beta0_ppm"), ppm("d1").as("beta1_ppm"),
          ppm("d2").as("beta2_ppm"))
    }),

    // BPE TOKENIZER TRAINING, fully distributed: the classic
    // Sennrich-2016 merge loop over the distinct-word frequency table
    // (the scale unit — corpus size only affects the initial word
    // count, each round is one hash agg + a broadcast 1-row merge).
    // Six unrolled rounds, deterministic tie-break (count desc, pair
    // lexicographic), leftmost-non-overlap merge application as an
    // array fold. Output: the ordered learned merge table — the
    // tokenizer itself.
    "q304_bpe_merges" -> ((s, dir) => bpeTrain(s, dir)._1),

    // the PARAMETRIZED trainer past toy scale: 32 merge rounds — only
    // viable because each round is lineage-truncated (O(R) train, 2
    // jobs per round; the lazy chain would re-derive rounds 1…r−1 at
    // every step, O(R²)). Same oracle construction, 32 unrolled
    // MATERIALIZED CTE rounds.
    "q313_bpe_merges32" -> ((s, dir) => bpeTrain(s, dir, rounds = 32)._1),

    // The vocab AFTER training: corpus frequency of every surviving
    // symbol (merged subwords + residual characters) — what the trained
    // tokenizer would emit, top 30 for a stable oracle.
    "q305_bpe_vocab" -> ((s, dir) =>
      bpeTrain(s, dir)._2
        .select(col("cnt"), explode(col("sym")).as("symbol"))
        .groupBy(col("symbol")).agg(sum("cnt").as("n_tokens"))
        .orderBy(col("n_tokens").desc, col("symbol").asc)
        .limit(30)),

    // APPLY the trained tokenizer (train→encode loop closed): every
    // corpus word joins the trained word→subwords table, so per-doc BPE
    // token counts and the chars-per-token compression ratio fall out
    // of one equi join + one hash agg. The trained table is bounded by
    // DISTINCT words (the BPE scale unit), so the join side stays small
    // at any corpus size.
    "q308_bpe_encode" -> ((s, dir) => {
      val trained = bpeTrain(s, dir)._2
        .select(col("w"), size(col("sym")).cast(LongType).as("n_sub"))
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(trained, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"),
          sum(length(col("w"))).cast(LongType).as("n_chars"))
        .withColumn("compression_ppm",
          expr("n_bpe_tokens * 1000000 div n_chars"))
    }),

    // Deterministic EPOCH SHUFFLE — the data-ORDER half of a training
    // pipeline: each epoch e permutes the corpus by md5('ep:e:doc_id'),
    // so the order is (a) uniform, (b) different across epochs, and
    // (c) reproducible from the seed alone — no RNG state to ship. At
    // 100 TB the same key drives repartitionByRange + local sort (a
    // single shuffle materializes each epoch's order); here the leading
    // positions of two epochs are compared against the oracle's
    // row_number restatement. Shard assignment (key-hash % 8) rides
    // along — the file-group a writer would emit.
    "q320_epoch_shuffle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val epochs = docs.crossJoin(
        s.range(2).select(col("id").cast(LongType).as("epoch")))
        .withColumn("k", md5(concat(lit("ep:"), col("epoch"), lit(":"),
          col("doc_id"))))
      val w = Window.partitionBy(col("epoch")).orderBy(col("k"))
      epochs
        .withColumn("position", row_number().over(w).cast(LongType))
        .filter(col("position") <= 10)
        .select(col("epoch"), col("position"), col("doc_id"),
          expr("CAST(CAST(conv(substring(k, 1, 15), 16, 10) AS BIGINT) " +
            "% 8 AS BIGINT)").as("shard"))
    }),

    // Count-Min sketch HEAVY HITTERS (Cormode–Muthukrishnan): token
    // frequencies estimated from a d×w = 4×512 linear sketch built in
    // ONE native TypedImperativeAggregate pass (functions/Cms.scala) —
    // fixed 16 KB of state through partial agg/shuffle/merge, the
    // 1000-executor form of "what are the most frequent tokens in
    // 100 TB" that never materializes the token→count table on the
    // stream side. Cell positions are md5-derived plan arithmetic, so
    // the DuckDB oracle rebuilds the EXACT counters relationally and
    // the point estimates (min over rows — the CMS upper-bound
    // guarantee) compare bit-for-bit; n_exact rides along as the
    // accuracy reference.
    "q316_cms_heavy_hitters" -> ((s, dir) => {
      val d = 4; val w = 512
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      def cell(r: Int) =
        s"CAST(CAST(conv(substring(md5(concat('cms$r:', tok)), 1, 15), " +
          s"16, 10) AS BIGINT) % $w AS INT)"
      val positions = expr((0 until d).map(cell).mkString("array(", ", ", ")"))
      val cand = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      // the sketch folds the EXACT-COUNTED vocabulary, not the raw token
      // stream — r15: cell values are sums of counts either way (CMS
      // updates are associative), but hashing d cells per DISTINCT token
      // instead of per occurrence cuts the md5 work by the corpus'
      // mean token frequency (guide §2.3: aggregate before you shuffle)
      val sk = cand.agg(
        graft.functions.Cms.cmsSketch(positions, col("n_exact"), d, w).as("cms"))
      cand.crossJoin(broadcast(sk))
        .withColumn("est", expr((0 until d).map(r =>
          s"element_at(cms, $r * $w + (${cell(r)}) + 1)")
          .mkString("least(", ", ", ")")))
        .select(col("tok"), col("n_exact"), col("est"))
        .orderBy(col("est").desc, col("tok").asc)
        .limit(15)
    }),

    // QUANTILE SKETCH (DDSketch-shaped, integer-exact): p50/p90/p99 of
    // per-user inter-event gaps from a FIXED 1024-counter log-bucket
    // histogram — floor-log2 major bucket × 16 linear sub-buckets, a
    // ≤6.25% relative-error guarantee with every bucket boundary exact
    // integer arithmetic both engines restate bit-for-bit (no libm
    // log). The counters ride the SAME linear-sketch aggregate as CMS
    // (d=1 row of w=1024 cells, functions/Cms.scala): a quantile
    // sketch IS a one-row count sketch over log buckets, so the fixed
    // 8 KB state flows through partial agg/shuffle/merge unchanged —
    // the sketch trio (KMV distinct, CMS frequency, log-bucket
    // quantiles) shares one mergeable-state extension point. The
    // estimate is the bucket floor at rank k = (n-1)·q div 100; exact
    // order-statistic twins ride along as the accuracy reference (at
    // 100 TB the exact columns drop — a full sort per group — and the
    // sketch stands alone; that is the design point).
    "q341_sketch_quantile" -> ((s, dir) => {
      val wUser = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val g = Tables.events(s, dir)
        .withColumn("tus", expr("ts div 1000"))
        .withColumn("gap", col("tus") - lag(col("tus"), 1).over(wUser))
        .filter(col("gap").isNotNull && col("gap") > 0)
        .select(col("event_type"), col("gap"))
      // bucket(v) = v for v<16, else 16·floor_log2(v) + the linear
      // 16th within the [2^e, 2^(e+1)) octave — all shifts, no floats
      val e = "(length(conv(gap, 10, 2)) - 1)"
      val bucketExpr = expr(
        s"CASE WHEN gap < 16 THEN CAST(gap AS INT) ELSE CAST($e * 16 + " +
          s"shiftright(gap - shiftleft(CAST(1 AS BIGINT), $e), $e - 4) " +
          "AS INT) END")
      val sk = g.groupBy(col("event_type")).agg(
        graft.functions.Cms.cmsSketch(array(bucketExpr), lit(1L), 1, 1024)
          .as("sk"))
      val cum = sk
        .select(col("event_type"), posexplode(col("sk")).as(Seq("bucket", "cnt")))
        .filter(col("cnt") > 0)
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("event_type"))))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("event_type")).orderBy(col("bucket"))))
      def pick(q: Int) = min(when(
        col("cum") > expr(s"(n - 1) * $q div 100"), col("bucket"))).as(s"b$q")
      val picked = cum.groupBy(col("event_type"), col("n"))
        .agg(pick(50), pick(90), pick(99))
      def floorOf(b: String, out: String) = expr(
        s"CASE WHEN $b < 16 THEN CAST($b AS BIGINT) " +
          s"ELSE shiftleft(CAST(1 AS BIGINT), CAST($b div 16 AS INT)) + " +
          s"CAST($b % 16 AS BIGINT) * " +
          s"shiftleft(CAST(1 AS BIGINT), CAST($b div 16 - 4 AS INT)) END")
        .as(out)
      val nEx = g.groupBy(col("event_type")).agg(count(lit(1)).as("n2"))
      def exAt(q: Int) = min(when(
        col("rn") === expr(s"(n2 - 1) * $q div 100 + 1"), col("gap")))
        .as(s"p${q}_exact_us")
      val ex = g
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("gap"))))
        .join(nEx, "event_type")
        .groupBy(col("event_type"))
        .agg(exAt(50), exAt(90), exAt(99))
      picked.join(ex, "event_type")
        .select(col("event_type"), col("n"),
          floorOf("b50", "p50_us"), floorOf("b90", "p90_us"),
          floorOf("b99", "p99_us"),
          col("p50_exact_us"), col("p90_exact_us"), col("p99_exact_us"))
        .orderBy(col("event_type"))
    }),

    // EXACT-SUBSTRING duplicated spans (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better" — the ExactSubstr
    // pass): every 8-word window is hashed; a window whose hash occurs
    // ≥2 times anywhere in the corpus is duplicated; per document,
    // overlapping/adjacent duplicated windows merge into MAXIMAL spans
    // (island detection: a new span starts when the next duplicated
    // start position is > 8 behind its predecessor). Emits per-doc span
    // counts, duplicated-token mass and its ppm of the document — the
    // cut list an ExactSubstr trimmer consumes. The suffix-array of the
    // paper is replaced by its relational equivalent: a GROUP BY over
    // fixed-width window hashes (md5 shuffle keys) + one per-doc
    // ordered window — no suffix structure materializes, candidate
    // work is bounded by the duplicated-window mass, and every stage
    // is a hash shuffle that scales horizontally.
    // CONTENT-DEFINED CHUNKING dedup (Rabin-style): the sub-document
    // dedup granularity storage and pipeline systems use — chunk
    // boundaries fall where a rolling 8-char window hash (base-3
    // polynomial, weights 3^t with full odd-residue mixing mod the
    // 1/32 boundary mask) hits 0, so boundaries are CONTENT-anchored:
    // insertions shift only the chunks they touch, and identical
    // passages chunk identically wherever they sit. Chunk-level dedup
    // is then one md5 hash agg + an equi join back (the canonical
    // dedup shuffle shape — never all-pairs). FastCDC's min/max clamps
    // are deliberately absent: they make boundaries sequential (each
    // depends on the previous), while the pure content test keeps every
    // position independent — embarrassingly parallel AND exactly
    // restatable by the oracle's per-position window sum. Operates on
    // the ASCII projection of the first 400 chars per doc.
    "q353_cdc_chunk_dedup" -> ((s, dir) => {
      import s.implicits._
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 400)
            .as("t"))
        .filter(length(col("t")) > 0)
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val pw = Array(1, 3, 9, 27, 81, 243, 729, 2187)
          val out = Vector.newBuilder[(Long, String)]
          var start = 0
          var j = 7
          while (j < t.length) {
            var h = 0; var tt = 0
            while (tt < 8) { h += t.charAt(j - 7 + tt).toInt * pw(tt); tt += 1 }
            if (h % 32 == 0) {
              out += ((id, t.substring(start, j + 1)))
              start = j + 1
            }
            j += 1
          }
          if (start < t.length) out += ((id, t.substring(start)))
          out.result()
        }.toDF("doc_id", "chunk")
        .withColumn("h5", md5(col("chunk")))
      val occ = chunks.groupBy(col("h5")).agg(count(lit(1)).as("cnt"))
      chunks.join(occ, "h5")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(length(col("chunk"))).cast("long").as("chunk_bytes"),
          sum(when(col("cnt") > 1, 1).otherwise(0)).cast("long")
            .as("dup_chunks"))
    }),

    // TAR CONTAINER DECODE (POSIX ustar) — the archive format corpora
    // and checkpoint drops actually ship in, next to WARC (q346) and
    // ZIP (q356). Each doc becomes a real 3-member archive (directory +
    // text + metadata) through [[graft.sources.Tar.encode]], the REAL
    // framing parser walks it back (magic, checksum, octal sizes,
    // prefix reassembly), and the oracle restates the 512-byte block
    // arithmetic and the member payloads — a parser that misreads any
    // header field or padding boundary diverges. Per-row decode:
    // scan-bound, zero shuffles (the shape an archive unpack takes at
    // 100 TB; TarSpec proves interop with the system tar both ways).
    "q355_tar_members" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
        .map { case (id, text, lang, source) =>
          val meta = s"id=$id\nlang=$lang\nsource=$source\n"
          val tar = graft.sources.Tar.encode(Seq(
            ("corpus/", Array.emptyByteArray, true),
            (s"corpus/doc$id.txt", text.getBytes("UTF-8"), false),
            (s"corpus/doc$id.meta", meta.getBytes("UTF-8"), false)))
          val es = graft.sources.Tar.parse(tar).getOrElse(Vector.empty)
          val txt = es.find(_.name.endsWith(".txt"))
            .map(e => new String(e.payload, "UTF-8")).getOrElse("")
          (id, es.length.toLong, es.count(_.typeflag == '5').toLong,
            tar.length.toLong,
            es.map(_.payload.length.toLong).sum, txt)
        }.toDF("doc_id", "n_members", "n_dirs", "tar_len", "payload_bytes",
          "text")
        .select(col("doc_id"), col("n_members"), col("n_dirs"),
          col("tar_len"), col("payload_bytes"),
          md5(col("text")).as("text_md5"))
    }),

    // ZIP CONTAINER DECODE (PKWARE APPNOTE / ISO 21320-1 subset) — the
    // container of ODF/OOXML/EPUB document corpora: EOCD signature
    // scan, central-directory walk, local-header cross-validation,
    // stored + REAL raw-deflate members, CRC-32 verified. The text
    // member is genuinely deflate-compressed in the fixture (compressed
    // bytes are not SQL-expressible — same split as q347: the oracle
    // checks the DECODED plane and the stored-size arithmetic, ZipSpec
    // proves wire interop with java.util.zip both directions).
    // Per-row decode: scan-bound, zero shuffles.
    "q356_zip_extract" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
        .map { case (id, text, lang, source) =>
          val meta = s"""{"id":$id,"lang":"$lang","source":"$source"}"""
          val zip = graft.sources.ZipArc.encode(Seq(
            (s"doc$id.txt", text.getBytes("UTF-8"), true),
            (s"doc$id.json", meta.getBytes("UTF-8"), false)))
          val es = graft.sources.ZipArc.parse(zip).getOrElse(Vector.empty)
          val txt = es.find(_.method == 8)
            .map(e => new String(e.payload, "UTF-8")).getOrElse("")
          val storedC = es.filter(_.method == 0)
            .map(_.compressedSize.toLong).sum
          (id, es.length.toLong,
            es.map(_.payload.length.toLong).sum, storedC, txt)
        }.toDF("doc_id", "n_entries", "raw_bytes", "stored_csize", "text")
        .select(col("doc_id"), col("n_entries"), col("raw_bytes"),
          col("stored_csize"), md5(col("text")).as("text_md5"))
    }),

    // ZSTD FRAME WALK (RFC 8878) — the compression wrapper of real
    // 100 TB corpus drops (.jsonl.zst / .warc.zst shards). Each doc
    // becomes a genuine multi-frame stream (two REAL zstd frames via
    // the library that backs parquet's zstd codec, a skippable
    // metadata frame between them); [[graft.sources.ZstdFrame]] walks
    // magics, header-descriptor flags, DECLARED content sizes and
    // block framing WITHOUT decompressing — the facts an ingest
    // planner needs to split a shard for frame-parallel decode — and
    // then each data frame is decompressed from its own walker-derived
    // slice (exactly that parallel-decode shape). The oracle restates
    // the declared sizes and the decoded plane; compressed bytes are
    // not SQL-expressible (the q347 split). Scan-bound, zero shuffles.
    "q357_zstd_frames" -> ((s, dir) => {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang")), "doc_id")
        .as[(Long, String, String)]
        .map { case (id, text, lang) =>
          val half = text.length / 2
          val parts = Seq(text.substring(0, half), text.substring(half))
            .map(_.getBytes("UTF-8"))
          val metaP = s"lang=$lang".getBytes("UTF-8")
          val skip = {
            val b = java.nio.ByteBuffer.allocate(8 + metaP.length)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            b.putInt(0x184D2A50); b.putInt(metaP.length); b.put(metaP)
            b.array()
          }
          val stream = com.github.luben.zstd.Zstd.compress(parts(0), 3) ++
            skip ++ com.github.luben.zstd.Zstd.compress(parts(1), 3)
          val fs = graft.sources.ZstdFrame.parse(stream)
            .getOrElse(Vector.empty)
          var off = 0
          val decoded = new StringBuilder
          fs.foreach { f =>
            if (!f.skippable)
              decoded ++= new String(com.github.luben.zstd.Zstd.decompress(
                java.util.Arrays.copyOfRange(stream, off, off + f.frameBytes),
                f.contentSize.toInt), "UTF-8")
            off += f.frameBytes
          }
          (id, fs.length.toLong, fs.count(_.skippable).toLong,
            fs.filter(!_.skippable).map(_.contentSize).sum,
            fs.filter(_.skippable).map(_.contentSize).sum,
            decoded.toString)
        }.toDF("doc_id", "n_frames", "n_skippable", "declared_bytes",
          "skip_bytes", "text")
        .select(col("doc_id"), col("n_frames"), col("n_skippable"),
          col("declared_bytes"), col("skip_bytes"),
          md5(col("text")).as("text_md5"))
    }),

    // WEBDATASET SHARD PACKING — how training corpora are actually laid
    // out for dataloaders: documents packed in id order into size-
    // targeted .tar shards (the WebDataset convention). The global
    // byte-offset assignment uses the SCALABLE two-pass prefix sum, not
    // a single global window: per-bucket cumulative sums run in
    // parallel (window partitioned by bucket), bucket totals roll up to
    // a tiny offsets table (one row per bucket — sized so it always
    // broadcasts; bucket width grows with the corpus), and offset+local
    // = exact global prefix. Shard id = floor(bytes-before / target)
    // (spanning assignment — exactly restatable, no sequential greedy
    // state). Each shard then materializes as a REAL ustar archive via
    // [[graft.sources.Tar.encode]] and is re-parsed as a self-check.
    // One hash shuffle on shard_id — the packing shape at 100 TB.
    "q359_webdataset_shards" -> ((s, dir) => {
      import s.implicits._
      val target = 4096L
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          octet_length(col("text")).cast("long").as("sz"))
        .withColumn("bucket", expr("doc_id div 100"))
      val wb = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      val local = docs
        .withColumn("in_before", sum(col("sz")).over(wb) - col("sz"))
      val wBuckets = Window.orderBy(col("bucket"))
      val offsets = docs.groupBy(col("bucket"))
        .agg(sum(col("sz")).as("btotal"))
        .withColumn("boffset",
          coalesce(sum(col("btotal")).over(wBuckets) - col("btotal"),
            lit(0L)))
        .select(col("bucket"), col("boffset"))
      local.join(broadcast(offsets), "bucket")
        .withColumn("shard_id",
          ((col("boffset") + col("in_before")) / lit(target))
            .cast("long"))
        .select(col("shard_id"), col("doc_id"), col("text"), col("sz"))
        .as[(Long, Long, String, Long)]
        .groupByKey(_._1)
        .mapGroups { (shard, it) =>
          val ms = it.toArray.sortBy(_._2)
          val tar = graft.sources.Tar.encode(ms.map(m =>
            (s"${m._2}.txt", m._3.getBytes("UTF-8"), false)).toSeq)
          val reparsed = graft.sources.Tar.parse(tar)
            .map(_.length).getOrElse(-1)
          val md = java.security.MessageDigest.getInstance("MD5")
          ms.foreach(m => md.update(m._3.getBytes("UTF-8")))
          val hex = md.digest().map(b => f"$b%02x").mkString
          (shard, ms.length.toLong, ms.map(_._4).sum, tar.length.toLong,
            reparsed == ms.length, hex)
        }.toDF("shard_id", "n_members", "payload_bytes", "tar_len",
          "reparse_ok", "text_md5")
    }),

    // TFRECORD / tf.Example EXPORT — the other dataloader format a
    // packed corpus leaves the engine in (next to WebDataset, q359):
    // each doc serializes as a REAL tf.Example proto (bytes "text",
    // packed-varint "doc_id", packed-fixed32 "quality") wrapped in
    // TFRecord framing with MASKED CRC-32C on length and payload, then
    // the whole stream parses BACK through the CRC-verified reader and
    // the hand-rolled proto walker. The oracle restates the serialized
    // RECORD LENGTH from first principles — nested varint length
    // prefixes computed bottom-up in SQL — so one wrong byte anywhere
    // in five levels of proto nesting diverges; quality uses exact
    // quarter floats (no rounding). Per-row codec: scan-bound, zero
    // shuffles (the export shape at 100 TB).
    "q360_tfrecord_export" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val ex = graft.sources.TfRecord.writeExample(Seq(
            "text" -> graft.sources.TfRecord.Feature(
              Vector(text.getBytes("UTF-8")), Vector.empty, Vector.empty),
            "doc_id" -> graft.sources.TfRecord.Feature(
              Vector.empty, Vector.empty, Vector(id)),
            "quality" -> graft.sources.TfRecord.Feature(
              Vector.empty, Vector((id % 8) * 0.25f, 1.0f), Vector.empty)))
          val out = new java.io.ByteArrayOutputStream()
          graft.sources.TfRecord.writeRecord(out, ex)
          val stream = out.toByteArray
          val back = graft.sources.TfRecord.readAll(stream)
            .flatMap(_.headOption)
            .flatMap(graft.sources.TfRecord.parseExample)
            .getOrElse(Vector.empty)
          val m = back.toMap
          val txt = m.get("text").flatMap(_.bytes.headOption)
            .map(new String(_, "UTF-8")).getOrElse("")
          val gotId = m.get("doc_id").flatMap(_.ints.headOption).getOrElse(-1L)
          val q = m.get("quality").map(_.floats.map(_.toDouble).sum)
            .getOrElse(-1.0)
          (id, stream.length.toLong, back.length.toLong, gotId, q, txt)
        }.toDF("doc_id", "rec_len", "n_features", "id_back", "quality",
          "text")
        .select(col("doc_id"), col("rec_len"), col("n_features"),
          col("id_back"), col("quality"), md5(col("text")).as("text_md5"))
    }),

    // ZSTD DICTIONARY-COMPRESSED SMALL-DOC STORAGE — how engines store
    // billions of small documents: a shared dictionary amortizes the
    // corpus's common substrings so each tiny doc compresses as if it
    // had context. The dictionary here is a DETERMINISTIC frequency-
    // segment build (top-16 8-grams of the ASCII projection, count
    // desc / ngram asc — a COVER-lite both engines restate exactly;
    // ZDICT itself is a library black box, so the selection is ours
    // and oracle-checked). Every doc then round-trips through REAL
    // zstd dictionary compression (ZstdCompressCtx/ZstdDecompressCtx
    // .loadDict — the parquet codec library) and the AND-fold of the
    // round trips rides the output rows. Scale shape: the n-gram count
    // is one hash agg (the heavy-hitter shape — at 100 TB you cap it
    // with the q316 CMS), top-16 is tiny, the dictionary broadcasts,
    // and the codec pass is scan-bound.
    "q364_zstd_dict_storage" -> ((s, dir) => {
      import s.implicits._
      // spread (r16): the sliding-ngram flatMap and the per-doc zstd
      // round trip both ran in the single scan task; split-aware no-op
      // on many-split scans
      val docs = Tables.spread(s, Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 400)
            .as("t"))
        .filter(length(col("t")) >= 8)
      val grams = docs.as[(Long, String)]
        .flatMap { case (_, t) => t.sliding(8) }
        .toDF("ngram")
        .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ngram").asc).limit(16)
        // unpartitioned rank frame is the limit(16) output — bounded
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc,
            col("ngram").asc)))
        .localCheckpoint()
      val dict = grams.orderBy(col("rank")).select(col("ngram"))
        .as[String].collect().mkString.getBytes("UTF-8")
      val dictB = s.sparkContext.broadcast(dict)
      // codec contexts once per PARTITION, not per row (guide §4.5) —
      // the eager toArray keeps the close inside the try
      val ok = docs.as[(Long, String)].mapPartitions { it =>
        val cctx = new com.github.luben.zstd.ZstdCompressCtx()
        val dctx = new com.github.luben.zstd.ZstdDecompressCtx()
        try {
          cctx.loadDict(dictB.value); dctx.loadDict(dictB.value)
          it.map { case (_, t) =>
            val raw = t.getBytes("UTF-8")
            val comp = cctx.compress(raw)
            java.util.Arrays.equals(dctx.decompress(comp, raw.length), raw)
          }.toArray.iterator
        } finally { cctx.close(); dctx.close() }
      }.toDF("rt")
        .agg(min(col("rt")).as("roundtrip_all"))
      grams.crossJoin(broadcast(ok))
        .select(col("rank").cast("long").as("rank"), col("ngram"),
          col("cnt").cast("long").as("cnt"),
          lit(dict.length.toLong).as("dict_len"), col("roundtrip_all"))
    }),

    // WIKIPEDIA-DUMP INGEST (.xml.bz2) — the CLASSIC public text
    // corpus drop: each doc becomes a MediaWiki XML document (article
    // page + talk page, XML-entity-escaped body) compressed with the
    // HAND-ROLLED bzip2 codec ([[graft.sources.Bzip2]]: RLE1, BWT +
    // counting-sort inverse, MTF, RUNA/RUNB zero-runs, multi-group
    // canonical Huffman, both CRC layers — cross-checked in CI against
    // commons-compress AND the system bzip2 binary), then decompressed
    // and page-extracted by the strict dump walker
    // ([[graft.sources.WikiDump]]). The oracle restates titles,
    // namespaces, page-id arithmetic and the UNESCAPED article body —
    // a single wrong byte anywhere in the BWT/Huffman/CRC stack or the
    // entity decode diverges. Per-row codec: scan-bound, zero shuffles.
    "q365_wiki_dump_ingest" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 300)
            .as("t"))
        .filter(length(col("t")) > 0)
        // the documents scan is one small file = ONE task, and nothing
        // below shuffles — without this spread the per-row bzip2
        // round-trip serializes on a single core (r15; guide §2.5
        // input-skew: repartition immediately after the read when the
        // downstream work is per-row CPU, not the scan)
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .map { case (id, t) =>
          val esc = t.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;")
          val xml =
            s"""<mediawiki>
               |  <page><title>Doc $id</title><ns>0</ns><id>$id</id><revision><id>${2 * id + 1}</id><text bytes="${t.length}">$esc</text></revision></page>
               |  <page><title>Talk:Doc $id</title><ns>1</ns><id>${id + 1}</id><revision><id>${2 * id + 2}</id><text>reply &amp; ack $id</text></revision></page>
               |</mediawiki>""".stripMargin
          val bz2 = graft.sources.Bzip2.compress(xml.getBytes("UTF-8"), 1)
          val back = graft.sources.Bzip2.decompress(bz2)
            .map(new String(_, "UTF-8"))
            .flatMap(graft.sources.WikiDump.pages)
            .getOrElse(Vector.empty)
          val article = back.find(_.ns == 0)
          val talk = back.find(_.ns == 1)
          (id, back.length.toLong,
            article.map(_.title).getOrElse(""),
            back.map(_.ns.toLong).sum,
            back.map(_.id).sum,
            article.map(_.text).getOrElse(""),
            talk.map(_.text).getOrElse(""))
        }.toDF("doc_id", "n_pages", "title", "ns_sum", "page_id_sum",
          "article", "talk_text")
        .select(col("doc_id"), col("n_pages"), col("title"), col("ns_sum"),
          col("page_id_sum"), md5(col("article")).as("article_md5"),
          col("talk_text"))
    }),

    // GORILLA BLOCK COMPRESSION (VLDB'15) over the REAL event stream —
    // THE metrics-storage codec, i.e. exactly the reference engine's
    // data: series keyed by (event_type, day) — the time-bounded block
    // key that keeps every block's state finite at 100 TB (the paper's
    // 2-hour blocks; partition-by-series-and-window is the shape) —
    // compressed with delta-of-delta timestamps and XOR'd values, then
    // decompressed and verified BIT-exact in plan. The oracle restates
    // the delta-of-delta CLASS census and the exact compressed
    // timestamp bit count from lag windows — a codec that picks one
    // wrong class for one point diverges. One hash shuffle on the
    // block key; per-block codec work.
    "q367_gorilla_metrics" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("ts div 1000 div 86400000000").as("day"),
          expr("ts div 1000").as("us"), col("event_id"), col("value"))
        .as[(String, Long, Long, Long, Double)]
        .groupByKey(r => (r._1, r._2))
        .mapGroups { (key, it) =>
          val (typ, day) = key
          val pts = it.toArray.sortBy(r => (r._3, r._4))
          val ts = pts.map(_._3)
          val vs = pts.map(_._5)
          val z = graft.storage.Gorilla.compress(ts, vs)
          val back = graft.storage.Gorilla.decompress(z)
          val ok = back.exists { case (t2, v2) =>
            t2.sameElements(ts) && v2.length == vs.length &&
              v2.indices.forall(i =>
                java.lang.Double.doubleToLongBits(v2(i)) ==
                  java.lang.Double.doubleToLongBits(vs(i)))
          }
          val classes = new Array[Long](5)
          var prevDelta = 0L
          var i = 1
          while (i < ts.length) {
            val delta = ts(i) - ts(i - 1)
            classes(graft.storage.Gorilla.dodClass(delta - prevDelta)) += 1
            prevDelta = delta
            i += 1
          }
          val tsBits = classes.zip(graft.storage.Gorilla.ClassBits)
            .map { case (c, b) => c * b }.sum
          (typ, day, ts.length.toLong, classes(0), classes(1), classes(2),
            classes(3), classes(4), tsBits, ok)
        }.toDF("event_type", "day", "n_points", "dod0", "dod7", "dod9",
          "dod12", "dod64", "ts_bits", "roundtrip_ok")
    }),

    // GORILLA BLOCKS UNDER STREAMING INGEST (VERDICT r10 #5): the same
    // census as q367, but the blocks were built by the STREAMING
    // maintainer ([[graft.streaming.GorillaStream]]) — the real events
    // fed through a file-source stream in 4 micro-batches, each folding
    // into (series, day) block revisions through the real foreachBatch
    // path. The census decompresses the STREAM-BUILT blocks and
    // `roundtrip_ok` asserts each block is BIT-IDENTICAL to what the
    // batch compressor produces on the same sorted points — so the
    // oracle is q367's verbatim: stream ≡ batch, checked at every SF.
    "q378_gorilla_stream" -> ((s, dir) => {
      import s.implicits._
      val blocksDir = gorillaStreamBlocks(s, dir)
      graft.streaming.GorillaStream.latest(s, blocksDir)
        .select(col("event_type"), col("day"), col("block"))
        .as[(String, Long, Array[Byte])]
        .map { case (typ, day, block) =>
          val (ts, vs) = graft.storage.Gorilla.decompress(block).get
          val classes = new Array[Long](5)
          var prevDelta = 0L
          var i = 1
          while (i < ts.length) {
            val delta = ts(i) - ts(i - 1)
            classes(graft.storage.Gorilla.dodClass(delta - prevDelta)) += 1
            prevDelta = delta
            i += 1
          }
          val tsBits = classes.zip(graft.storage.Gorilla.ClassBits)
            .map { case (c, b) => c * b }.sum
          val ok = graft.storage.Gorilla.compress(ts, vs).sameElements(block)
          (typ, day, ts.length.toLong, classes(0), classes(1), classes(2),
            classes(3), classes(4), tsBits, ok)
        }.toDF("event_type", "day", "n_points", "dod0", "dod7", "dod9",
          "dod12", "dod64", "ts_bits", "roundtrip_ok")
    }),

    // AVRO OBJECT CONTAINER FILE INGEST — the Hive/Kafka-era dataset
    // interchange format: hand-rolled OCF framing (magic, metadata map,
    // sync markers, counted blocks, null/deflate codecs) and binary
    // record decode (zigzag varints, length-prefixed strings, LE double
    // bits); the Avro Java reference implementation on the classpath
    // cross-checks the wire BOTH directions (AvroOcfSpec). The oracle
    // restates record synthesis and every decoded aggregate — exact
    // quarter-step doubles keep the float plane bit-comparable.
    // Per-row decode: scan-bound, zero shuffles.
    "q368_avro_ocf_ingest" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val fields = Seq(graft.sources.AvroOcf.Field("id", "long"),
            graft.sources.AvroOcf.Field("title", "string"),
            graft.sources.AvroOcf.Field("score", "double"),
            graft.sources.AvroOcf.Field("kept", "boolean"))
          val recs = (0 until 3).map(r => Seq[Any](3 * id + r,
            s"Doc $id r$r", (id % 7) * 0.25 + r, (id + r) % 2 == 0))
          val codec = if (id % 2 == 0) "null" else "deflate"
          val bytes = graft.sources.AvroOcf.encode("Doc", fields, recs,
            codec, 2)
          val ocf = graft.sources.AvroOcf.decode(bytes).get
          val idSum = ocf.records.map(_(0).asInstanceOf[Long]).sum
          val scoreSum = ocf.records.map(_(2).asInstanceOf[Double]).sum
          val nKept = ocf.records.count(_(3).asInstanceOf[Boolean])
          val titles = ocf.records.map(_(1).asInstanceOf[String])
            .mkString("|")
          (id, codec, ocf.records.length.toLong, idSum, scoreSum,
            nKept.toLong, titles)
        }.toDF("doc_id", "codec", "n_records", "id_sum", "score_sum",
          "n_kept", "titles")
    }),

    "q342_exact_substr_spans" -> ((s, dir) => {
      val L = 8
      val wn = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val hashes = toks
        .withColumn("w7", lead(col("w"), L - 1).over(wn))
        .withColumn("h8", md5(concat_ws(" ", col("w"),
          lead(col("w"), 1).over(wn), lead(col("w"), 2).over(wn),
          lead(col("w"), 3).over(wn), lead(col("w"), 4).over(wn),
          lead(col("w"), 5).over(wn), lead(col("w"), 6).over(wn),
          col("w7"))))
        .filter(col("w7").isNotNull) // windows fully inside the doc
        .select(col("doc_id"), col("pos"), col("h8"))
      // duplicated-window detection as ONE unordered count window over
      // h8 — r15: the groupBy + join-back form evaluated the whole
      // `hashes` subtree (posexplode + 7 lead windows + md5) TWICE, once
      // per join side (guide §2.4: duplicated subtrees); the window form
      // computes it once and shuffles by h8 once, and an h8 group is as
      // small as its duplicate count at any corpus size
      val d = hashes
        .withColumn("c", count(lit(1)).over(Window.partitionBy(col("h8"))))
        .filter(col("c") >= 2)
        .select(col("doc_id"), col("pos"))
      val isl = d
        .withColumn("gap", col("pos") - lag(col("pos"), 1).over(wn))
        .withColumn("island", sum(
          when(col("gap").isNull || col("gap") > L, 1L).otherwise(0L))
          .over(wn))
      val spans = isl.groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("s0"), (max(col("pos")) + L).as("e0"))
      val perDoc = spans.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_spans"),
        sum(col("e0") - col("s0")).cast(LongType).as("dup_tokens"),
        max(col("e0") - col("s0")).cast(LongType).as("longest_span"))
      val nW = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_words"))
      perDoc.join(nW, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_spans"),
          col("dup_tokens"), col("longest_span"),
          expr("dup_tokens * 1000000 div n_words").as("dup_ppm"))
        .orderBy(col("doc_id"))
    }),

    // IMAGE near-duplicate detection by PERCEPTUAL HASH (dHash): the
    // missing IMAGE member of the dedup family (text has exact /
    // MinHash / SimHash / semantic). Per image: REAL GIF decode
    // (shared LZW path), luma box-downsample onto the 9×8 dHash grid,
    // 64 gradient bits by EXACT cross-multiplied mean comparison
    // (sum_a·n_b > sum_b·n_a — no division, so the DuckDB twin
    // restates it bit-for-bit and the luma scale factor cancels), then
    // the SimHash-style 4×16-bit band join finds candidates and
    // Hamming ≤ 10 confirms — never all-pairs. Fixtures are grouped
    // variants: same-pattern pairs land at Hamming 0–1 (dHash is
    // brightness-shift invariant by construction), different-slope
    // variants fall outside the threshold; both engines must agree on
    // every marginal bit. At 100 TB the map side is a scan over image
    // blobs and the join is banded — the same shape as q22/q134.
    "q344_image_dhash_neardup" -> ((s, dir) => {
      import s.implicits._
      // spread: the GIF decode is per-row work over a one-split scan
      // (r15; guide §2.5); checkpoint: `hashes` feeds FOUR consumers
      // (both band-join sides + both attach-backs), so the decode ran 4×
      val hashes = Tables.spread(s, Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")), "doc_id").as[Long]
        .map { id =>
          val j = id / 3; val g = j / 3; val r = (j % 3).toInt
          val w = (g % 7 + 12).toInt; val h = (g % 5 + 10).toInt
          def k(x: Int, y: Int): Int = {
            val cx = x.toLong * 16 / w; val cy = y.toLong * 16 / h
            val v =
              if (r == 2) (cx * (5 + g % 3) + cy * (7 + g % 5) + g) % 16
              else {
                val base = (cx * (2 + g % 3) + cy * (3 + g % 5) + g) % 16
                if (r == 1 && x == (g * 5 % w).toInt && y == (g * 7 % h).toInt)
                  (base + 1) % 16
                else base
              }
            v.toInt
          }
          val pal = Array.tabulate(16)(i => (i * 17 << 16) | (i * 17 << 8) | (i * 17))
          val bytes = graft.multimodal.Multimodal.syntheticGif(w, h, pal, k)
          val a = graft.multimodal.GifAnim.decode(bytes).get
          val f = a.frames.head
          val cs = Array.ofDim[Long](9, 8); val cn = Array.ofDim[Long](9, 8)
          for (y <- 0 until h; x <- 0 until w) {
            val ci = f.indices(y * w + x) & 0xFF
            val rgb = f.palette(ci)
            val luma = 299L * ((rgb >> 16) & 0xFF) +
              587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
            val cx = x * 9 / w; val cy = y * 8 / h
            cs(cx)(cy) += luma; cn(cx)(cy) += 1
          }
          val bands = new Array[Long](4)
          for (cy <- 0 until 8; cx <- 0 until 8) {
            val bit =
              if (cs(cx + 1)(cy) * cn(cx)(cy) > cs(cx)(cy) * cn(cx + 1)(cy)) 1L
              else 0L
            val bitpos = cy * 8 + cx
            bands(bitpos / 16) |= bit << (bitpos % 16)
          }
          (id, w.toLong, h.toLong, bands(0), bands(1), bands(2), bands(3))
        }.toDF("id", "w", "h", "b0", "b1", "b2", "b3")
        .localCheckpoint()
      val bandRows = hashes.select(col("id"), col("w"), col("h"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("band", "bv")))
      val cand = bandRows.as("x")
        .join(bandRows.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.w") === col("y.w") && col("x.h") === col("y.h") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
        .distinct()
      cand
        .join(hashes.select(col("id").as("doc_a"), col("b0").as("a0"),
          col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), "doc_a")
        .join(hashes.select(col("id").as("doc_b"), col("b0").as("c0"),
          col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), "doc_b")
        .withColumn("hamming", expr(
          "CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
            "bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS BIGINT)"))
        .filter(col("hamming") <= 10)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Winnowing-based cross-document OVERLAP detection (Schleimer et
    // al. 2003 — the MOSS algorithm): the q29 winnowed min-hash sets,
    // bucket-joined on shared fingerprints, yield candidate
    // plagiarism/reuse pairs with an exact shared-fingerprint count and
    // containment ppm against the smaller document. The winnowed set is
    // a guaranteed-density SAMPLE of each doc's shingles, so bucket
    // sizes — and the pair fan-out — are bounded by design, unlike raw
    // shingle joins.
    "q310_winnow_overlap" -> ((s, dir) => {
      // materialized once — r15: the fingerprint set feeds THREE
      // consumers (both self-join sides + the size table), so the
      // shingle/md5/winnow subtree evaluated 3× without the checkpoint;
      // the winnowed set is a bounded-density sample, never corpus-sized
      val fp = winnowedMinh(s, dir).localCheckpoint()
      val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      fp.as("x")
        .join(fp.as("y"), col("x.minh") === col("y.minh") &&
          col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
        .withColumn("overlap_ppm",
          expr("shared * 1000000 div least(n_a, n_b)"))
    }),

    // CLUSTER-THEN-DESCRIBE corpus exploration: assign every embedding
    // to its trained k-means cell (vec_id aligns with doc_id in the
    // fixture), then label each cluster with its top-3 tokens by count
    // — the semantic-browse report a curation pass runs after training
    // the codebook. Assignment is the same broadcast-codebook hash agg
    // as the Lloyd step; the describe half is one (cluster, token) agg
    // + a bounded rank window.
    "q309_cluster_topics" -> ((s, dir) => {
      val e = embArrSpread(s, dir)
      // materialized once: the (vec_id, cell) frame is tiny but its
      // lineage carries two Lloyd iterations, and it feeds BOTH the
      // token counts and the cluster sizes below
      val assign = kmeansAssign(e, kmeansCentroids(e, k = 16, iters = 2))
        .localCheckpoint()
      val toks = Tables.spread(s, Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "" && !col("tok").isin("the", "a"))
      val counts = toks
        .join(assign.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
        .groupBy(col("c_id"), col("tok")).agg(count(lit(1)).as("n"))
      val sizes = assign.groupBy(col("c_id")).agg(count(lit(1)).as("n_docs"))
      counts.withColumn("rank", row_number().over(
          Window.partitionBy(col("c_id")).orderBy(col("n").desc, col("tok").asc)))
        .filter(col("rank") <= 3)
        .join(sizes, Seq("c_id"))
        .select(col("c_id"), col("n_docs"), col("rank").cast(LongType).as("rank"),
          col("tok"), col("n"))
    }),

    // Mixture/epochs PLANNER (the LLaMA-style data-mixture accounting
    // every training run starts with): per-source token mass, corpus
    // share, target weight, required tokens under a global budget
    // (half the corpus), and the resulting epoch count — i.e. how many
    // passes over each source the mixture implies (>1e6 ppm =
    // oversampled). One hash agg + two broadcast 1-row totals; every
    // figure an exact integer. Weights are a deterministic ladder of
    // the source ordinal, normalized against the PRESENT sources so
    // the plan is scale-invariant.
    "q307_mixture_planner" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n"))
        .groupBy(col("source")).agg(sum("n").as("tokens"))
        .withColumn("weight",
          expr("30 - CAST(substring(source, 4) AS BIGINT)"))
      val totals = toks.agg(sum("tokens").as("total_tokens"),
        sum("weight").as("total_weight"))
      toks.crossJoin(broadcast(totals))
        .withColumn("share_ppm", expr("tokens * 1000000 div total_tokens"))
        .withColumn("budget", expr("total_tokens div 2"))
        .withColumn("required", expr("(budget * weight) div total_weight"))
        .withColumn("epochs_ppm", expr("required * 1000000 div tokens"))
        .select(col("source"), col("tokens"), col("weight"),
          col("share_ppm"), col("required"), col("epochs_ppm"))
    }),

    // URL CANONICALIZATION + canonical-URL dedup — the first pass of any
    // web-corpus (CommonCrawl-style) curation pipeline: the same page
    // arrives under scheme/host case variants, www. prefixes, default
    // ports, tracking parameters (utm_*/fbclid/gclid), shuffled query
    // order, /index.html suffixes, trailing slashes and fragments.
    // Canonical form = lowercased scheme+host, www./default-port/fragment
    // stripped, /index.html and trailing slashes removed, tracking params
    // dropped and the surviving params SORTED. Everything is per-row
    // string surgery (codegen'd regex/split/sort — no UDF, no shuffle
    // until the final dedup hash agg), so the operator streams at scan
    // speed at 100 TB; the URL fixture derives deterministically from
    // `events` so both engines build identical inputs.
    "q332_url_canonicalize" -> ((s, dir) => {
      urlCanon(s, dir)
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_fetches"),
          countDistinct(col("url")).as("n_variants"),
          min(col("event_id")).as("first_event"))
    }),

    // REGISTERED-DOMAIN rollup via a broadcast PUBLIC-SUFFIX-LIST join —
    // the per-site quality accounting of web curation (crawl budgets,
    // domain blocklists, per-site dedup ratios all key on the
    // REGISTERED domain, not the host: site7.shop.co.uk must roll up to
    // shop.co.uk, not co.uk). Suffix resolution is the real PSL
    // algorithm at toy scale: every host emits its last-1..3 label
    // suffixes, an equi-join against the broadcast suffix table keeps
    // the matches, and the LONGEST match wins (one hash agg keyed by
    // event_id); registered domain = winning suffix + one label. At
    // 100 TB the PSL (~9k rules) broadcasts exactly like this and the
    // per-row fan-out stays a bounded ×3.
    "q333_registered_domain_rollup" -> ((s, dir) => {
      val canon = urlCanon(s, dir)
      val psl = s.sql(
        "SELECT * FROM VALUES ('com', 1), ('org', 1), ('net', 1), " +
          "('uk', 1), ('co.uk', 2) AS t(suffix, slabels)")
      canon
        .withColumn("labels", split(col("host"), "\\."))
        .withColumn("nl", size(col("labels")))
        .withColumn("c", explode(expr(
          """filter(transform(sequence(1, 3),
            |  i -> CASE WHEN i < nl THEN named_struct(
            |         'k', i, 'sfx', array_join(slice(labels, -i, i), '.'))
            |  END), x -> x IS NOT NULL)""".stripMargin)))
        .join(broadcast(psl),
          col("c.sfx") === col("suffix") && col("c.k") === col("slabels"))
        // the winner agg CARRIES the per-event columns (all functionally
        // dependent on event_id), so there is no join-back of two
        // full-corpus sides — at 10× that join planned as a sort-merge
        // of the whole canonicalized scan against itself
        .groupBy(col("event_id")).agg(max(col("c.k")).as("sk"),
          first(col("host")).as("host"),
          first(col("canonical_url")).as("canonical_url"),
          first(col("had_junk")).as("had_junk"))
        .withColumn("labels", split(col("host"), "\\."))
        .withColumn("registered",
          expr("array_join(slice(labels, -(sk + 1), sk + 1), '.')"))
        .groupBy(col("registered"))
        .agg(countDistinct(col("host")).as("n_hosts"),
          countDistinct(col("canonical_url")).as("n_pages"),
          count(lit(1)).as("n_fetches"),
          sum(col("had_junk")).cast(LongType).as("junk_fetches"))
        .withColumn("junk_ppm", expr("junk_fetches * 1000000 div n_fetches"))
        .withColumn("dup_ppm",
          expr("(n_fetches - n_pages) * 1000000 div n_fetches"))
    }),

    // MMR (maximal marginal relevance) DIVERSIFIED top-k — the
    // retrieve-then-rerank shape RAG serving runs: a first-pass
    // relevance top-20 over the whole corpus (TakeOrdered — the only
    // data-scale stage, identical to q24's distributed scan), then the
    // Carbonell–Goldstein greedy picks 5 results maximizing
    // λ·rel − (1−λ)·max_sim_to_selected (λ = 1/2) over the retrieved
    // page. The greedy is inherently sequential in k, so it unrolls as
    // 5 plan steps over the 20-row candidate frame (localCheckpoint'ed
    // once — O(k²) work on KB-scale data, never a collect); pairwise
    // sims among candidates are one 20×20 broadcast join. Exact
    // integer dots (embArr quantization) keep every cosine bit-equal
    // across engines; ties break by vec_id.
    "q334_mmr_diversified_topk" -> ((s, dir) => {
      val e = embArr(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("vq").as("qv"), col("nrm").as("qn"))
      val rel = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("rel", dotCol(col("vq"), col("qv")).cast(DoubleType) /
          sqrt(col("nrm").cast(DoubleType) * col("qn").cast(DoubleType)))
        .select(col("vec_id").as("n_id"), col("vq"), col("nrm"), col("rel"))
      val cand = rel.orderBy(col("rel").desc, col("n_id").asc).limit(20)
        .localCheckpoint()
      val a = cand.select(col("n_id").as("a_id"), col("vq").as("av"),
        col("nrm").as("an"))
      val b = cand.select(col("n_id").as("b_id"), col("vq").as("bv"),
        col("nrm").as("bn"))
      val sims = a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .withColumn("sim", dotCol(col("av"), col("bv")).cast(DoubleType) /
          sqrt(col("an").cast(DoubleType) * col("bn").cast(DoubleType)))
        .select(col("a_id"), col("b_id"), col("sim")).localCheckpoint()
      val base = cand.select(col("n_id"), col("rel"))
      val first = base.orderBy(col("rel").desc, col("n_id").asc).limit(1)
        .select(col("n_id"), col("rel"), lit(0.0).as("maxsim"),
          lit(1).as("rank"))
      // round r picks rank r + 1
      Iterate.rounds(first, 4, checkpointEvery = 1) { (selected, r) =>
        val selIds = selected.select(col("n_id").as("s_id"))
        val pick = base
          .join(selIds, col("n_id") === col("s_id"), "left_anti")
          .join(sims.join(selIds, col("b_id") === col("s_id"))
            .select(col("a_id"), col("sim")), col("n_id") === col("a_id"))
          .groupBy(col("n_id"), col("rel")).agg(max(col("sim")).as("maxsim"))
          .orderBy((col("rel") - col("maxsim")).desc, col("n_id").asc).limit(1)
          .select(col("n_id"), col("rel"), col("maxsim"), lit(r + 1).as("rank"))
        selected.unionByName(pick)
      }.withColumn("mmr", (col("rel") - col("maxsim")) / lit(2.0))
        .select(col("rank"), col("n_id"), col("rel"), col("maxsim"),
          col("mmr"))
    }),

    // HTML → TEXT EXTRACTION — the step every web corpus runs before any
    // quality/dedup math. Script/style/comment BLOCKS go first (their
    // content must never surface as text), then tags strip to spaces,
    // the five standard entities decode (&amp; last), and whitespace
    // collapses. The whole operator is a per-row codegen'd regex chain —
    // zero shuffles, so at 100 TB it runs at parquet scan speed.
    "q335_html_extract" -> ((s, dir) => {
      htmlStripped(htmlDocs(s, dir))
        .select(col("doc_id"),
          length(col("html")).cast(LongType).as("n_html"),
          size(regexp_extract_all(col("nc"), lit("<[^>]+>"), lit(0)))
            .cast(LongType).as("n_tags"),
          length(col("clean")).cast(LongType).as("n_clean"),
          col("clean").as("clean_text"))
    }),

    // WARC CONTAINER DECODE (ISO 28500) — the on-disk format of a real
    // web crawl: each doc becomes a 3-record WARC file (warcinfo /
    // request / response, CRLF framing, byte-exact Content-Length), the
    // REAL framing parser ([[graft.sources.Warc]]) walks it back, the
    // response record's HTTP message is split, and the entity body is
    // handed to the q335 extraction chain. The oracle restates the
    // framing arithmetic (record count, total byte length, payload byte
    // length, status by construction) and the clean-text chain — so a
    // parser that misreads any offset, header or length diverges.
    // Per-row decode: scan-bound, no shuffle (the 100 TB crawl shape).
    "q346_warc_extract" -> ((s, dir) => {
      import s.implicits._
      val uri = "concat('https://site', CAST((doc_id * 7 + 13) % 40 AS STRING), " +
        "'.example/p/', CAST(doc_id % 20 AS STRING))"
      val withWarc = htmlDocs(s, dir)
        .withColumn("p_info", expr(warcInfoPayloadSql))
        .withColumn("p_req", expr(warcReqPayloadSql))
        .withColumn("p_resp", expr(warcRespPayloadSql))
        .withColumn("warc", expr("concat(" +
          warcRecordSql("warcinfo", "", "application/warc-fields",
            "p_info", b => s"octet_length($b)") + ", " +
          warcRecordSql("request", uri, "application/http;msgtype=request",
            "p_req", b => s"octet_length($b)") + ", " +
          warcRecordSql("response", uri, "application/http;msgtype=response",
            "p_resp", b => s"octet_length($b)") + ")"))
      val parsed = withWarc.select(col("doc_id"), col("warc"))
        .as[(Long, String)]
        .map { case (id, w) =>
          val bytes = w.getBytes("UTF-8")
          val recs = graft.sources.Warc.parse(bytes).getOrElse(Vector.empty)
          val resp = recs.find(_.warcType.contains("response"))
          val http = resp.flatMap(r => graft.sources.Warc.httpResponse(r.payload))
          (id, recs.length.toLong, bytes.length.toLong,
            resp.map(_.payload.length.toLong).getOrElse(-1L),
            http.map(_._1.toLong).getOrElse(-1L),
            http.map(h => new String(h._3, "UTF-8")).getOrElse(""))
        }.toDF("doc_id", "n_records", "warc_len", "resp_len", "status", "html")
      htmlStripped(parsed)
        .select(col("doc_id"), col("n_records"), col("warc_len"),
          col("resp_len"), col("status"),
          length(col("clean")).cast(LongType).as("n_clean"),
          col("clean").as("clean_text"))
    }),

    // END-TO-END CRAWL → TRAINING SET: the whole ingestion pipeline as
    // ONE plan — each doc's WARC archive carries TWO captures of the
    // same page (the canonical URL and an /amp/ re-crawl, the classic
    // crawl-dup case), and the flow is container decode (REAL framing
    // walk) → HTTP status gate (404 docs drop entirely) → q335 clean
    // chain → capture-level exact dedup (md5(clean) hash agg keeping
    // the lexicographically-first URI) → whitespace tokenization →
    // packing arithmetic into 64-token context windows. One narrow
    // decode pass + one hash shuffle (the dedup) — the 100 TB shape;
    // the oracle restates every stage.
    "q349_crawl_to_training" -> ((s, dir) => {
      import s.implicits._
      val uriA = "concat('https://site', CAST((doc_id * 7 + 13) % 40 AS STRING), " +
        "'.example/p/', CAST(doc_id % 20 AS STRING))"
      val uriB = "concat('https://site', CAST((doc_id * 7 + 13) % 40 AS STRING), " +
        "'.example/amp/', CAST(doc_id % 20 AS STRING))"
      val withWarc = htmlDocs(s, dir)
        .withColumn("p_resp", expr(warcRespPayloadSql))
        .withColumn("warc", expr("concat(" +
          warcRecordSql("response", uriA, "application/http;msgtype=response",
            "p_resp", b => s"octet_length($b)") + ", " +
          warcRecordSql("response", uriB, "application/http;msgtype=response",
            "p_resp", b => s"octet_length($b)") + ")"))
      val captures = withWarc.select(col("doc_id"), col("warc"))
        .as[(Long, String)]
        .flatMap { case (id, w) =>
          graft.sources.Warc.parse(w.getBytes("UTF-8"))
            .getOrElse(Vector.empty)
            .filter(_.warcType.contains("response"))
            .flatMap { r =>
              graft.sources.Warc.httpResponse(r.payload).collect {
                case (status, _, body) if status >= 200 && status < 300 =>
                  (id, r.targetUri.getOrElse(""), new String(body, "UTF-8"))
              }
            }
        }.toDF("doc_id", "uri", "html")
      htmlStripped(captures)
        .withColumn("chash", md5(col("clean")))
        .groupBy(col("doc_id"), col("chash"))
        .agg(count(lit(1)).as("n_captures"), min(col("uri")).as("kept_uri"),
          first(col("clean")).as("clean"))
        .withColumn("n_tokens", size(split(col("clean"), " ")).cast(LongType))
        .withColumn("n_chunks", expr("CAST(ceil(n_tokens / 64.0) AS BIGINT)"))
        .select(col("doc_id"), col("n_captures"), col("kept_uri"),
          col("n_tokens"), col("n_chunks"))
    }),

    // CONTENT-ENCODING decode inside WARC responses: Common Crawl
    // stores entities gzip-encoded, so the container walk must inflate
    // before extraction. Half the fixture's responses are REALLY
    // gzip-compressed (JDK gzip inside the typed map — compressed bytes
    // are not SQL-expressible, so q346 keeps the framing-arithmetic
    // oracle and THIS one checks the decoded plane: encoding label,
    // decoded byte length = the plain html's, and the clean chain over
    // the INFLATED body). Zip-bomb guard: [[graft.sources.Warc
    // .MaxEntityBytes]]. Per-row decode, scan-bound.
    "q347_warc_gzip" -> ((s, dir) => {
      import s.implicits._
      // spread: per-row gzip + WARC/HTTP walk over a one-split scan
      // (r15; guide §2.5 — scoped HERE, not in htmlDocs: the other html
      // consumers reshuffle immediately and measured slower with it)
      val parsed = Tables.spread(s,
        htmlDocs(s, dir).select(col("doc_id"), col("html")), "doc_id")
        .as[(Long, String)]
        .map { case (id, html) =>
          val body = html.getBytes("UTF-8")
          val gz = id % 2 == 0
          val entity =
            if (!gz) body
            else {
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(body); g.close(); bos.toByteArray
            }
          val head = ("HTTP/1.1 200 OK\r\nContent-Type: text/html" +
            (if (gz) "\r\nContent-Encoding: gzip" else "") +
            "\r\n\r\n").getBytes("UTF-8")
          val payload = head ++ entity
          val wh = ("WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8")
          val warc = wh ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
          // the REAL walk over the real bytes: frame → HTTP split →
          // Content-Encoding inflate
          val rec = graft.sources.Warc.parse(warc).get.head
          val (_, hs, raw) = graft.sources.Warc.httpResponse(rec.payload).get
          val dec = graft.sources.Warc.decodedBody(hs, raw).get
          (id, hs.getOrElse("content-encoding", "identity"),
            dec.length.toLong, new String(dec, "UTF-8"))
        }.toDF("doc_id", "encoding", "n_body", "html")
      htmlStripped(parsed)
        .select(col("doc_id"), col("encoding"), col("n_body"),
          length(col("clean")).cast(LongType).as("n_clean"),
          col("clean").as("clean_text"))
    }),

    // LINE-LEVEL BOILERPLATE REMOVAL (CCNet-style): a line repeated
    // across ≥30% of a site's documents is navigation/footer template,
    // not content — drop it everywhere and reassemble the documents.
    // Lines key by md5 so the frequency shuffle moves fixed-width
    // 32-byte keys, and the flagged set (tiny by construction — only
    // template lines clear a 30% document fraction) broadcasts back
    // onto the exploded lines. The fixture plants a per-source
    // copyright line in every doc and a newsletter line in half.
    "q336_boilerplate_lines" -> ((s, dir) => {
      // the synthetic page as (line-array expr, line-COUNT expr) pairs —
      // one structure feeds both the line builder and the closed-form
      // total below, so a fixture change cannot update one and not the
      // other (VERDICT r15 #5). All exprs assume w = split(text, ' ').
      val parts: Seq[(String, String)] = Seq(
        ("array(concat('copyright ', source, ' all rights reserved'))",
          "1"),
        ("""transform(sequence(0, CAST(ceil(size(w) / 8.0) AS INT) - 1),
           |    i -> array_join(slice(w, i * 8 + 1, 8), ' '))""".stripMargin,
          "CAST(ceil(size(w) / 8.0) AS INT)"),
        ("""CASE WHEN doc_id % 2 = 0
           |     THEN array(concat('subscribe to ', source, ' newsletter'))
           |     ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin,
          "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END"))
      // spread (r16): the line build + md5 ran as ONE scan task; and the
      // exploded frame feeds BOTH the boilerplate vote and the kept-line
      // rollup — materialize it once instead of rebuilding the lines
      // twice (two ~420 ms single-task stages measured)
      val lined = Tables.spread(s, Tables.documents(s, dir), "doc_id")
        .withColumn("w", split(col("text"), " "))
        .withColumn("lines",
          expr(parts.map(_._1).mkString("concat(\n", ",\n", ")")))
        .select(col("doc_id"), col("source"), col("lines"))
      val ex = lined
        .select(col("doc_id"), col("source"),
          posexplode(col("lines")).as(Seq("pos", "line")))
        .withColumn("lh", md5(col("line")))
        .localCheckpoint()
      // per-source doc counts don't need the line arrays at all — r15:
      // deriving them from `lined` re-evaluated the whole line-building
      // expression a second time (guide §2.3: project before the work)
      val ndocs = Tables.documents(s, dir).groupBy("source")
        .agg(countDistinct("doc_id").as("ndocs"))
      val bp = ex.groupBy(col("source"), col("lh"))
        .agg(countDistinct(col("doc_id")).as("dwith"))
        .join(broadcast(ndocs), "source")
        .filter(expr("dwith * 1000000 div ndocs >= 300000"))
        .select(col("source"), col("lh"))
      val kept = ex
        .join(broadcast(bp.withColumn("isbp", lit(1))),
          Seq("source", "lh"), "left_outer")
        .filter(col("isbp").isNull)
      // total line count in closed form — the SAME parts table as the
      // builder above, summed instead of concatenated (r15: size(lines)
      // off `lined` was a third evaluation of the line-building chain)
      val tot = Tables.documents(s, dir)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          expr(parts.map(p => s"(${p._2})")
            .mkString("CAST(", " + ", " AS BIGINT)")).as("n_lines"))
      kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(pos, line))), x -> x.line), ' | ')").as("clean_text"))
        .join(tot, "doc_id")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("clean_text"))
    }),

    // LINK EXTRACTION + ANCHOR-TEXT AGGREGATION — the web-graph signal
    // used for both ranking features and anchor-text training data:
    // pull every <a> from the raw HTML, split href/anchor, roll up per
    // TARGET host (in-link count, distinct linking docs, distinct
    // anchor texts, and the modal anchor via a per-host rank window —
    // ties break lexicographically).
    "q337_anchor_text_agg" -> ((s, dir) => {
      val a = htmlDocs(s, dir)
        .select(col("doc_id"), explode(regexp_extract_all(col("html"),
          lit("<a href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0))).as("atag"))
        .withColumn("href", regexp_extract(col("atag"),
          "<a href=\"([^\"]*)\"", 1))
        .withColumn("anchor", regexp_extract(col("atag"), ">([^<]*)<", 1))
        .withColumn("host",
          substring_index(substring_index(col("href"), "://", -1), "/", 1))
      val top = a.groupBy(col("host"), col("anchor"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("host"))
            .orderBy(col("n").desc, col("anchor").asc)))
        .filter(col("rk") === 1)
        .select(col("host"), col("anchor").as("top_anchor"),
          col("n").as("top_anchor_n"))
      a.groupBy(col("host")).agg(
          count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_src_docs"),
          countDistinct(col("anchor")).as("n_anchor_texts"))
        .join(top, "host")
    }),

    // PAGERANK over the host link graph, 8 damped power iterations in
    // FIXED-POINT arithmetic (rank mass scaled to 10^12 so both engines
    // stay in exact integers — float sums would diverge by ordering).
    // Spark PARSES the edges out of the anchors (the DuckDB twin
    // restates them from the fixture formula — a genuinely different
    // formulation); each iteration is one edge⋈rank equi-join feeding a
    // hash agg on dst, with the out-degree table and the node count
    // broadcast. The rank vector is one row per HOST (a registered-
    // domain-bounded set, orders of magnitude below the page corpus),
    // which is why the per-round broadcast is safe; a PAGE-level graph
    // would swap the broadcast hint for a shuffle join on src and the
    // rest of the iterate is unchanged. Lineage cut every second round
    // with localCheckpoint.
    "q338_pagerank_hosts" -> ((s, dir) => {
      val S = 1000000000000L
      val a = htmlDocs(s, dir)
        .select((col("doc_id") % 40).as("src"),
          explode(regexp_extract_all(col("html"),
            lit("<a href=\"[^\"]*\""), lit(0))).as("h"))
        .withColumn("dst",
          regexp_extract(col("h"), "site(\\d+)\\.", 1).cast(LongType))
      val edges = a.filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct().localCheckpoint()
      // out-degree attaches to the edge list ONCE, outside the loop —
      // r15: it is loop-invariant, so joining it per round paid 8
      // broadcast joins for one (guide §1.2: don't recompute what you
      // throw away); the rank side is ≤ |nodes| rows and broadcasts
      val edgesD = edges.join(broadcast(
          edges.groupBy("src").agg(count(lit(1)).as("outd"))), "src")
        .localCheckpoint()
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      val nn = nodes.agg(count(lit(1)).as("n"))
      val r0 = nodes.crossJoin(broadcast(nn))
        .select(col("node"), expr(s"$S div n").as("pr")).localCheckpoint()
      // lineage cut every SECOND round: one checkpoint job buys two
      // rounds of truncation (plans stay O(1); r15 — per-round
      // checkpoints were half the round latency, and at 100 TB the
      // same halving applies to the checkpoint I/O)
      Iterate.rounds(r0, 8, checkpointEvery = 2) { (r, _) =>
        val inflow = edgesD
          .join(broadcast(r.withColumnRenamed("node", "src")), "src")
          .withColumn("c", expr("pr div outd"))
          .groupBy(col("dst").as("node")).agg(sum(col("c")).as("inflow"))
        nodes.join(inflow, Seq("node"), "left_outer")
          .crossJoin(broadcast(nn))
          .select(col("node"),
            expr(s"($S div n) * 15 div 100 + " +
              "coalesce(inflow, 0L) * 85 div 100").as("pr"))
      }.withColumn("pr_ppm", expr(s"pr * 1000000 div $S"))
    }),

    // MAIN-CONTENT EXTRACTION by LINK DENSITY (Kohlschuetter boilerpipe
    // heuristic): a block whose text is mostly anchor text is chrome
    // (nav/footer), not content — drop blocks with anchor-chars/text-
    // chars > 50%. The fixture builds nav (~90% link), main (<20%) and
    // footer (~75%) blocks per document; density math is exact integer
    // ppm so both engines agree bit-for-bit. Per-row regex + array
    // folds only — no shuffle, scan-speed at 100 TB.
    "q339_main_content_extract" -> ((s, dir) => {
      val blocks = Tables.documents(s, dir)
        .withColumn("page", expr(
          """concat(
            |'<div class="nav"><a href="/">Home</a> <a href="/about">About Site',
            |CAST(doc_id % 40 AS STRING),
            |'</a> <a href="/products">Products</a> <a href="/contact">Contact</a></div>',
            |'<div class="main"><h2>', source, ' article ',
            |CAST(doc_id % 13 AS STRING), '</h2><p>', text,
            |'</p><a href="/ref', CAST(doc_id % 9 AS STRING), '">source ',
            |CAST(doc_id % 9 AS STRING), '</a></div>',
            |'<div class="footer"><a href="/terms">Terms of Service</a> ',
            |'<a href="/privacy">Privacy Policy</a> ',
            |'<a href="/sitemap">Site Map</a> (c) ', source, '</div>')"""
            .stripMargin))
        .withColumn("bs", expr(
          "regexp_extract_all(page, '(?s)<div[^>]*>.*?</div>', 0)"))
      // a document's blocks live in ONE row: strip/measure/filter as
      // array folds, never explode + re-group — zero exchanges, so at
      // 100 TB this runs at scan speed (document order inside the array
      // IS the block order, no sort needed)
      def btextOf(b: Column): Column = trim(regexp_replace(
        regexp_replace(b, "<[^>]+>", " "), "\\s+", " "))
      def acharsOf(b: Column): Column = aggregate(
        transform(regexp_extract_all(b, lit("<a [^>]*>([^<]*)</a>"), lit(1)),
          x => length(x).cast(LongType)),
        lit(0L), (a, x) => a + x)
      blocks
        .withColumn("ks", filter(
          transform(col("bs"), b =>
            struct(btextOf(b).as("btext"), acharsOf(b).as("a"))),
          // achars*1e6 div len <= 500000 restated multiplication-only
          // (floor(x/y) <= k  <=>  x < (k+1)*y for positive ints)
          x => x.getField("a") * lit(1000000L) <
            lit(500001L) * length(x.getField("btext")).cast(LongType)))
        .select(col("doc_id"),
          size(col("bs")).cast(LongType).as("n_blocks"),
          size(col("ks")).cast(LongType).as("n_kept"),
          array_join(transform(col("ks"), x => x.getField("btext")), " | ")
            .as("main_text"))
    }),

    // ROBOTS.TXT crawl-policy filter with RFC 9309 precedence: among
    // the rules whose path-prefix matches a URL, the LONGEST prefix
    // wins, and an exact length tie resolves to ALLOW. The per-host
    // rule set derives deterministically (a 2-char prefix disallow — a
    // real REP subtlety: '/p/cl' blocks '/p/click' — plus an exact
    // allow/disallow tie pair), rules broadcast (a real robots corpus
    // is KBs per host), and the verdict is one hash agg keyed by URL.
    // Spark picks the winner as max(struct(plen, allow)); the DuckDB
    // twin uses a two-step longest-then-allow formulation.
    "q340_robots_filter" -> ((s, dir) => {
      val ts = "array('click','error','purchase','signup','view')"
      // materialize the deduped (host, path) frontier ONCE: both the
      // verdict side and the host spine the fixture derives rules from
      // hang off it, and without the checkpoint the full events-scan
      // canonicalization lineage evaluates twice (in a real pipeline
      // the rules come from a separate robots.txt corpus, so only the
      // frontier dedup itself remains at scale)
      val urls = urlCanon(s, dir)
        .select(col("host"),
          regexp_extract(col("canonical_url"), "://[^/]+(/[^?]*)", 1)
            .as("cpath"))
        .distinct()
        .localCheckpoint()
      val rules = urls.select(col("host")).distinct()
        .withColumn("hn",
          regexp_extract(col("host"), "site(\\d+)", 1).cast(LongType))
        .select(col("host"), explode(expr(
          s"""array(
             |named_struct('allow', 1, 'prefix', '/'),
             |named_struct('allow', 0, 'prefix', concat('/p/',
             |  substring(element_at($ts, CAST(hn % 5 AS INT) + 1), 1, 2))),
             |named_struct('allow', 1, 'prefix', concat('/p/',
             |  element_at($ts, CAST((hn + 2) % 5 AS INT) + 1))),
             |named_struct('allow', 0, 'prefix', concat('/p/',
             |  element_at($ts, CAST((hn + 4) % 5 AS INT) + 1))),
             |named_struct('allow', 1, 'prefix', concat('/p/',
             |  element_at($ts, CAST((hn + 4) % 5 AS INT) + 1))))"""
            .stripMargin)).as("r"))
        .select(col("host"), col("r.allow").as("allow"),
          col("r.prefix").as("prefix"),
          length(col("r.prefix")).cast(LongType).as("plen"))
      val verdict = urls.join(broadcast(rules), "host")
        .filter(expr("substring(cpath, 1, plen) = prefix"))
        .groupBy(col("host"), col("cpath"))
        .agg(max(struct(col("plen"), col("allow"))).as("best"))
        .withColumn("blocked", (col("best.allow") === 0).cast(IntegerType))
      verdict.groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("blocked")).cast(LongType).as("n_blocked"),
          min(when(col("blocked") === 1, col("cpath"))).as("blocked_path"))
        .withColumn("blocked_ppm", expr("n_blocked * 1000000 div n_urls"))
    })
  )

  /** One BPE training round over the `(w, cnt, sym: array<string>)`
    * word-frequency table: count adjacent symbol pairs weighted by word
    * frequency (one hash agg — the classic BPE scale unit is the
    * DISTINCT-word table, not the corpus), pick the global best pair
    * (deterministic ties: count desc, then pair lexicographic),
    * broadcast it back, and apply the merge with a leftmost
    * non-overlapping array fold (`aggregate`): a position merges iff
    * the previous output element is still the raw `a` — the merged
    * symbol a||b can never re-match `a`, so greedy-from-left needs no
    * extra state. Returns (updated words, 1-row merge record).
    *
    * The round is LINEAR in lineage: the winning pair is
    * localCheckpoint-ed (one job — the weighted pair-count agg), then
    * the merge application reads THAT materialized 1-row frame and is
    * itself localCheckpoint-ed (one job — the broadcast array fold).
    * Round r therefore never re-executes round r−1's pair-count agg —
    * without the truncation, evaluating round r's `best` lazily
    * re-derives rounds 1…r−1, making an R-round train O(R²)
    * round-evaluations. Training is exactly 2 jobs per round, so
    * `rounds` can scale past toy vocab sizes (see q313's 32-round
    * train). */
  private[graft] def bpeRound(words: DataFrame, r: Int): (DataFrame, DataFrame) = {
    val pairs = words.select(col("cnt"), explode(expr(
      "zip_with(slice(sym, 1, size(sym) - 1), slice(sym, 2, size(sym) - 1), " +
        "(x, y) -> named_struct('a', x, 'b', y))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("n"))
    val m = pairs.orderBy(col("n").desc, col("a").asc, col("b").asc).limit(1)
      .select(lit(r.toLong).as("rank"), col("a"), col("b"), col("n"))
      .localCheckpoint()
    val applied = words
      .crossJoin(broadcast(m.select(col("a").as("_ma"), col("b").as("_mb"))))
      .withColumn("sym", expr(
        """aggregate(sym, CAST(array() AS array<string>), (acc, x) ->
          |  CASE WHEN size(acc) = 0 THEN array(x)
          |       WHEN element_at(acc, -1) = _ma AND x = _mb
          |         THEN concat(slice(acc, 1, size(acc) - 1),
          |                     array(concat(_ma, _mb)))
          |       ELSE concat(acc, array(x)) END)""".stripMargin))
      .drop("_ma", "_mb")
      .localCheckpoint()
    (applied, m)
  }

  /** initial word-frequency table: distinct corpus words with counts,
    * symbols = characters. */
  private def bpeWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("sym", expr("filter(split(w, ''), c -> c <> '')"))

  private val BpeRounds = 6

  /** run the full trainer for `rounds` merge rounds; returns (merge
    * table, final words). Each round is lineage-truncated
    * (`bpeRound`), so training is O(rounds). Materialized ONCE per
    * (dir, rounds) to temp parquet (the `jaccardEdgesStored`
    * discipline): q304/q305/q308 all consume the same trained state,
    * and re-deriving the chain per consumer tripled the bench cost. */
  private def bpeTrain(s: SparkSession, dir: String,
      rounds: Int = BpeRounds): (DataFrame, DataFrame) = {
    val base = graft.storage.LocalCache.stored(s"bpe|$rounds", dir) { base =>
      val merges = Seq.newBuilder[DataFrame]
      // bpeRound cuts the lineage of both its frames itself
      val words = Iterate.rounds(bpeWords(s, dir), rounds,
          checkpointEvery = 0) { (w, r) =>
        val (next, m) = bpeRound(w, r)
        merges += m
        next
      }
      merges.result().reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/merges")
      words.write.mode("overwrite").parquet(s"$base/words")
    }
    (s.read.parquet(s"$base/merges"), s.read.parquet(s"$base/words"))
  }

  /** Cramer's-rule strings for the 3×3 normal equations (first-column
    * cofactor expansion), shared by the Spark expr and the DuckDB twin
    * via the engine-specific widening `w` (DECIMAL(38,0) / HUGEINT).
    * Column names: Gram s00..s22 (symmetric), moments sy0..sy2. */
  private def cramer3(w: String => String)
      : (String, String, String, String) = {
    def m(a: String, b: String, c: String, d: String) =
      s"(${w(a)} * ${w(b)} - ${w(c)} * ${w(d)})"
    val m0 = m("s11", "s22", "s12", "s12") // minor of col-0 entries
    val m1 = m("s01", "s22", "s02", "s12")
    val m2 = m("s01", "s12", "s02", "s11")
    val det = s"(${w("s00")} * $m0 - ${w("s01")} * $m1 + ${w("s02")} * $m2)"
    val det0 = s"(${w("sy0")} * $m0 - ${w("sy1")} * $m1 + ${w("sy2")} * $m2)"
    val det1 = s"(${w("s00")} * ${m("sy1", "s22", "sy2", "s12")} " +
      s"- ${w("s01")} * ${m("sy0", "s22", "s02", "sy2")} " +
      s"+ ${w("s02")} * ${m("sy0", "s12", "s02", "sy1")})"
    val det2 = s"(${w("s00")} * ${m("s11", "sy2", "s12", "sy1")} " +
      s"- ${w("s01")} * ${m("s01", "sy2", "s12", "sy0")} " +
      s"+ ${w("s02")} * ${m("s01", "sy1", "s11", "sy0")})"
    (det, det0, det1, det2)
  }

  /** Connected components by iterative min-label propagation over a
    * DIRECTED edge frame `(u, v)` (pass both directions for an undirected
    * graph): returns `(id, component)` with component = min vertex id
    * reachable — the exact closure. Each round is one shuffle join + hash
    * agg, run by `Iterate.untilStable`: the round's checkpoint keeps the
    * plan flat and carries the convergence flag, so no round pays a job
    * for its check. Rounds = component diameter + 1; near-dup graphs are
    * clique-like, so a handful converge. A graph that needs more than
    * `maxRounds` throws rather than return partial labels, which would
    * silently split real clusters (a diameter that large wants
    * large-star/small-star contraction, not more rounds). */
  def connectedComponents(edgesIn: DataFrame, maxRounds: Int = 50): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val seed = edges.select(col("u").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    Iterate.untilStable(seed, "_chg", maxRounds, "connectedComponents") { lbl =>
      val nbr = edges.join(lbl.select(col("id").as("v"), col("component").as("nc")), "v")
        .groupBy(col("u").as("id")).agg(min(col("nc")).as("nbr_min"))
      // the change flag rides the SAME join that computes the next
      // labels — a separate next⋈prev check was one more join job per
      // round, pure scheduling latency on an iteration whose data is small
      lbl.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"),
          (coalesce(col("nbr_min"), col("component")) < col("component")).as("_chg"))
    }
  }

  /** Generic as-of join: for each left row, the latest right row with
    * `right.ts <= left.ts` in the same key group. One union + one per-key
    * ordered running window — a single shuffle on the key, the
    * sorted-merge shape an as-of join compiles to at 100 TB (never a
    * range-exploded or per-row-probe join). Right payload columns arrive
    * as `asof_<name>` (NULL when no prior right row exists). Rows of the
    * right frame must be unique per (key, ts) — pre-aggregate ties first,
    * or the carried payload is nondeterministic. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightPayload: Seq[String]): DataFrame = {
    val r = right.select(
      (col(key) +: col(ts).as("_ts") +:
        rightPayload.map(c => col(c).as(s"asof_$c"))): _*)
      .withColumn("_side", lit(0))
    val l = left.withColumn("_ts", col(ts)).withColumn("_side", lit(1))
    val lAug = rightPayload.foldLeft(l)((d, c) =>
      d.withColumn(s"asof_$c", lit(null).cast(right.schema(c).dataType)))
    val rAug = left.columns.filterNot(_ == key).foldLeft(r)((d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    // rights sort before lefts at equal ts (>= semantics); left-row order
    // within a tie cannot affect the fill (left rows carry NULL payloads)
    val w = Window.partitionBy(col(key)).orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightPayload.foldLeft(
      lAug.unionByName(rAug.select(lAug.columns.map(col): _*))) {
      (d, c) => d.withColumn(s"asof_$c", last(col(s"asof_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("_side") === 1).drop("_ts", "_side")
  }

  /** 32-bit SimHash bitstring per document (q23's fingerprint, shared
    * with the q134 Hamming bucketing): bit k = majority vote of the high
    * bit of md5 hex nibble k over distinct tokens. */
  private def simhashDf(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.spread(s, Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), explode(expr(s"array_distinct($toksExpr)")).as("tok"))
      .withColumn("h", md5(col("tok")))
    // high-bit test per hex nibble: over [0-9a-f], ascii(c) >= 56 ('8')
    // selects exactly {8,9,a..f} — one byte compare instead of an 8-way
    // string IN list (r15: 8 string equalities × 32 nibbles per token row
    // was the hot expression of the simhash family)
    val votes = (0 until 32).map { k =>
      sum(when(expr(s"ascii(substring(h, ${k + 1}, 1)) >= 56"), 1)
        .otherwise(-1)).as(s"v$k")
    }
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((0 until 32).map(k => when(col(s"v$k") >= 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** exact n-gram-Jaccard near-dup pairs (q21's pipeline, shared with the
    * q127 clustering): shingle equi-join candidates, exact Jaccard over
    * distinct shingle sets, `doc_a < doc_b`. */
  private def jaccardPairs(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    val ds = docShinglesStored(s, dir)
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    ds.as("a")
      .join(ds.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("shared").cast(DoubleType) / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
  }

  /** q378's stream-built Gorilla block store, built ONCE per (process,
    * dir, data version) by feeding the REAL events through a file-source
    * stream in 4 micro-batches (maxFilesPerTrigger=1 over a 4-file
    * staging copy) into [[graft.streaming.GorillaStream.maintainBatch]].
    * Any micro-batching folds to the same final blocks (the maintainer's
    * stable-merge law), so the staging split only has to be A split. */
  private def gorillaStreamBlocks(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("gorilla_stream", dir) { base =>
      val blocks = s"$base/blocks"
      val stage = s"$base/stage"
      Tables.events(s, dir)
        .select(col("event_type"), expr("ts div 1000").as("us"),
          col("event_id"), col("value"))
        .repartition(4, pmod(col("event_id"), lit(4)))
        .write.mode("overwrite").parquet(stage)
      val stream = s.readStream
        .schema(StructType(Seq(
          StructField("event_type", StringType),
          StructField("us", LongType),
          StructField("event_id", LongType),
          StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
      graft.streaming.GorillaStream.start(stream, blocks,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        checkpoint = Some(s"$base/checkpoint")).awaitTermination()
      // AvailableNow terminated ⇒ every batch is committed; fold the
      // store to its latest revisions (the maintenance pass a
      // long-running deployment runs continuously)
      graft.streaming.GorillaStream.compact(s, blocks, Long.MaxValue)
    } + "/blocks"

  /** INCREMENTAL delta-vs-corpus dedup: classify every DELTA row against
    * an already-committed corpus WITHOUT re-deduplicating the corpus
    * against itself — the operation a 100 TB pipeline runs on every new
    * drop (the corpus is never recomputed; work tracks the delta). Four
    * drop reasons, reported in priority order so every delta row gets
    * exactly one status:
    *   exact_vs_base  — md5(text) already present in the corpus
    *   exact_intra    — same hash as a smaller-doc_id delta row (the
    *                    min-id holder of a corpus-absent hash survives)
    *   near_vs_base   — word-3-shingle Jaccard ≥ 1/2 against ANY corpus
    *                    doc (integer form 2·shared ≥ |A|+|B|−shared, no
    *                    float plane)
    *   near_intra     — Jaccard ≥ 1/2 against a smaller-doc_id delta row
    *                    (greedy by id; independent of that row's own
    *                    status, so the rule is a one-pass join, not a
    *                    sequential scan)
    *   survivor       — none of the above: the rows to append.
    *
    * Scale shape: every pairwise step is an equi join on a hash or
    * shingle key — the delta side is small by construction (broadcasts
    * at test scale; at corpus scale the base side of the shingle join is
    * the persistent shingle index bucketed by `sh`, so the probe reads
    * only matching buckets), and nothing ever joins base×base. */
  private[graft] def deltaShingles(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .select(col("doc_id"), explode(expr(shinglesFromToks)).as("sh"))
    .distinct()

  private[graft] def dedupDelta(base: DataFrame, delta: DataFrame): DataFrame = {
    val bSh0 = deltaShingles(base)
    val bSize = bSh0.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    dedupDeltaFrom(delta,
      base.select(md5(col("text")).as("h")).distinct(),
      bSh0.join(bSize, "doc_id")
        .select(col("doc_id").as("b_id"), col("sh"), col("n_sh").as("n_b")))
  }

  /** [[dedupDelta]] against PRE-MATERIALIZED base-side relations — the
    * 100 TB path, where the corpus is represented by its stored indexes
    * and is never rescanned per drop:
    *   baseHashes  — (h): the distinct content-hash ledger
    *   baseShingles — (b_id, sh, n_b): the shingle index, n_b
    *                 DENORMALIZED per row so the candidate aggregation
    *                 carries it via first() and no corpus-sized sizes
    *                 join ever runs at probe time.
    * When both are stored BUCKETED on their join keys (q379's fixture),
    * probe-time shuffles touch only the delta side. */
  private[graft] def dedupDeltaFrom(delta: DataFrame, baseHashes: DataFrame,
      baseShingles: DataFrame): DataFrame = {
    val dh = delta.select(col("doc_id"), md5(col("text")).as("h"))
    val dSh = deltaShingles(delta)
    val dSize = dSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // near-dup vs corpus: candidates ONLY through shared shingles
    val nearBase = dSh.as("d").join(baseShingles.as("b"), col("d.sh") === col("b.sh"))
      .groupBy(col("d.doc_id").as("d_id"), col("b.b_id").as("b_id"))
      .agg(count(lit(1)).as("shared"), first(col("b.n_b")).as("n_b"))
      .join(dSize.select(col("doc_id").as("d_id"), col("n_sh").as("n_d")), "d_id")
      .filter(lit(2) * col("shared") >= col("n_d") + col("n_b") - col("shared"))
      .select(col("d_id").as("doc_id")).distinct()
    // near-dup intra-delta: an edge to ANY smaller-doc_id delta row drops
    val nearIntra = dSh.as("a").join(dSh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") > col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d_id"), col("b.doc_id").as("s_id"))
      .agg(count(lit(1)).as("shared"))
      .join(dSize.select(col("doc_id").as("d_id"), col("n_sh").as("n_d")), "d_id")
      .join(dSize.select(col("doc_id").as("s_id"), col("n_sh").as("n_s")), "s_id")
      .filter(lit(2) * col("shared") >= col("n_d") + col("n_s") - col("shared"))
      .select(col("d_id").as("doc_id")).distinct()
    val exactBase = dh.join(baseHashes, Seq("h"), "leftsemi")
      .select(col("doc_id")).distinct()
    val minPerHash = dh.groupBy(col("h")).agg(min(col("doc_id")).as("min_id"))
    val exactIntra = dh.join(minPerHash, "h")
      .filter(col("doc_id") =!= col("min_id"))
      .select(col("doc_id")).distinct()
    delta.select(col("doc_id"))
      .join(exactBase.withColumn("f_eb", lit(1)), Seq("doc_id"), "left")
      .join(exactIntra.withColumn("f_ei", lit(1)), Seq("doc_id"), "left")
      .join(nearBase.withColumn("f_nb", lit(1)), Seq("doc_id"), "left")
      .join(nearIntra.withColumn("f_ni", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("f_eb") === 1, "exact_vs_base")
          .when(col("f_ei") === 1, "exact_intra")
          .when(col("f_nb") === 1, "near_vs_base")
          .when(col("f_ni") === 1, "near_intra")
          .otherwise("survivor").as("status"))
  }

  /** the DuckDB twin of [[dedupDelta]]'s classification, parameterized by
    * two CTE names that must resolve to (doc_id, text) relations. Shared
    * with q370's oracle so the survivor rule is stated once. */
  private[graft] def dedupDeltaOracleSql(baseRel: String, deltaRel: String): String =
    s"""dsh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM $deltaRel),
       |bsh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM $baseRel),
       |dsz AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY 1),
       |bsz AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1),
       |bh AS (SELECT DISTINCT md5(text) AS h FROM $baseRel),
       |dhh AS (SELECT doc_id, md5(text) AS h FROM $deltaRel),
       |nb AS (
       |  SELECT DISTINCT p.d_id AS doc_id FROM (
       |    SELECT d.doc_id AS d_id, b.doc_id AS b_id, COUNT(*) AS shared
       |    FROM dsh d JOIN bsh b ON d.sh = b.sh GROUP BY 1, 2) p
       |  JOIN dsz ON dsz.doc_id = p.d_id
       |  JOIN bsz ON bsz.doc_id = p.b_id
       |  WHERE 2 * p.shared >= dsz.n + bsz.n - p.shared),
       |ni AS (
       |  SELECT DISTINCT p.d_id AS doc_id FROM (
       |    SELECT a.doc_id AS d_id, b.doc_id AS s_id, COUNT(*) AS shared
       |    FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id > b.doc_id
       |    GROUP BY 1, 2) p
       |  JOIN dsz da ON da.doc_id = p.d_id
       |  JOIN dsz db ON db.doc_id = p.s_id
       |  WHERE 2 * p.shared >= da.n + db.n - p.shared),
       |eb AS (SELECT DISTINCT doc_id FROM dhh WHERE h IN (SELECT h FROM bh)),
       |mh AS (SELECT h, MIN(doc_id) AS min_id FROM dhh GROUP BY 1),
       |ei AS (SELECT d.doc_id FROM dhh d JOIN mh ON mh.h = d.h
       |       WHERE d.doc_id <> mh.min_id),
       |st AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id IN (SELECT doc_id FROM eb) THEN 'exact_vs_base'
       |         WHEN d.doc_id IN (SELECT doc_id FROM ei) THEN 'exact_intra'
       |         WHEN d.doc_id IN (SELECT doc_id FROM nb) THEN 'near_vs_base'
       |         WHEN d.doc_id IN (SELECT doc_id FROM ni) THEN 'near_intra'
       |         ELSE 'survivor' END AS status
       |  FROM $deltaRel d)""".stripMargin

  /** q18's per-user gap sessionization (1 h gap), shared with the range
    * join: (user_id, session_id, n_events, t_start, t_end) in epoch µs. */
  private def sessionIntervals(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tus").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("tus", unix_micros(col("ts_us")))
      .withColumn("prev_ts", lag(col("tus"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_ts").isNull || col("tus") - col("prev_ts") > 3600L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("t_start"),
        max(col("tus")).as("t_end"))
  }

  // ---- oracles ----------------------------------------------------------

  /** q187's exact fixed-point BM25 oracle over `documents WHERE <pred>`
    * — the one statement of the ranking rule for every index lifecycle:
    * build-then-append (q381), stream-built (q383), and
    * delete-then-rank (q385, pred = the survivors) all restate as a
    * full rebuild over the corpus that SHOULD be visible. */
  private[operators] def bm25RankSqlWhere(pred: String): String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE $pred),""".stripMargin + "\n" +
    """dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
      |st AS (
      |  SELECT count(*) AS n_docs, (CAST(SUM(dl) AS BIGINT) * 1000) // count(*) AS avgdl_fp
      |  FROM dd),
      |occ AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
      |tfs AS (
      |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM occ
      |  WHERE tok IN ('stream', 'hash', 'big') GROUP BY 1, 2, 3),
      |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM tfs GROUP BY 1),
      |sc AS (
      |  SELECT t.doc_id, t.tf,
      |    ((2 * (s.n_docs - f.dfc) + 1) * 1000000) // (2 * f.dfc + 1) AS idf_fp,
      |    (1200 * (250 + (750 * ((t.dl * 1000000) // s.avgdl_fp)) // 1000)) // 1000 AS k_fp
      |  FROM tfs t JOIN dfs f USING (tok) CROSS JOIN st s)
      |SELECT doc_id,
      |  CAST(SUM((idf_fp * tf * 2200) // (tf * 1000 + k_fp)) AS BIGINT) AS score_fp,
      |  count(*) AS n_terms
      |FROM sc GROUP BY 1 ORDER BY score_fp DESC, doc_id ASC LIMIT 20""".stripMargin

  private val bm25RankSql: String = bm25RankSqlWhere("TRUE")

  /** the q382/q387 shard-ingest oracle: the drift rules restated
    * relationally from raw documents. */
  private val jsonlShardOracleSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    substr(regexp_replace(lower(regexp_replace(text, '[^ -~]', '', 'g')),
      |      '[^a-z0-9 ]', '', 'g'), 1, 60) AS tb,
      |    2 + doc_id % 3 AS n
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang, tb, n, j.i AS j
      |  FROM d, range(0, 4) j(i) WHERE j.i < n)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_records,
      |  CAST(SUM(CASE WHEN (doc_id + j) % 3 <> 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_quality,
      |  CAST(SUM(CASE WHEN (doc_id + j) % 2 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_meta,
      |  CAST(SUM(10 * doc_id + j) AS BIGINT) AS id_sum,
      |  SUM(CASE WHEN (doc_id + j) % 3 <> 0
      |      THEN CAST((doc_id % 8) * 0.25 AS DOUBLE) END) AS quality_sum,
      |  MAX(CASE WHEN j = 0 THEN lang END) AS lang,
      |  CAST(SUM(CASE WHEN (doc_id + j) % 2 = 0 THEN doc_id % 5 END)
      |    AS BIGINT) AS segment_sum,
      |  md5(string_agg(tb || ' r' || j, '|' ORDER BY j)) AS text_md5
      |FROM r GROUP BY 1""".stripMargin

  private def ivfKmeansSqlK(k: Int): String =
      s"""WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |ccos0 AS (
        |  SELECT v.vec_id, c.vec_id AS c_id,
        |    CAST(SUM(v.vq * c.vq) AS DOUBLE)
        |      / sqrt(CAST(cn.nrm AS DOUBLE) * CAST(vn.nrm AS DOUBLE)) AS ccos
        |  FROM e v
        |  JOIN e c ON c.pos = v.pos AND c.vec_id < $k
        |  JOIN norms cn ON cn.vec_id = c.vec_id
        |  JOIN norms vn ON vn.vec_id = v.vec_id
        |  GROUP BY 1, 2, cn.nrm, vn.nrm),
        |members AS (
        |  SELECT vec_id, c_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, c_id ASC) AS crn
        |    FROM ccos0) WHERE crn = 1),
        |cents AS (
        |  SELECT m.cell, v.pos,
        |    CAST(round(CAST(SUM(v.vq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
        |  FROM members m JOIN e v ON v.vec_id = m.vec_id
        |  GROUP BY 1, 2),
        |cnorms AS (SELECT cell, SUM(cv*cv) AS cn FROM cents GROUP BY 1),
        |ccos1 AS (
        |  SELECT v.vec_id, c.cell AS c_id,
        |    CAST(SUM(v.vq * c.cv) AS DOUBLE)
        |      / sqrt(CAST(cn.cn AS DOUBLE) * CAST(vn.nrm AS DOUBLE)) AS ccos
        |  FROM e v
        |  JOIN cents c ON c.pos = v.pos
        |  JOIN cnorms cn ON cn.cell = c.cell
        |  JOIN norms vn ON vn.vec_id = v.vec_id
        |  GROUP BY 1, 2, cn.cn, vn.nrm),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ccos DESC, c_id ASC) AS crn
        |  FROM ccos1),
        |assign AS (SELECT vec_id AS n_id, c_id AS cell FROM ranked WHERE crn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, c_id AS cell FROM ranked
        |  WHERE vec_id % 100 = 0 AND crn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.q_id, a.n_id
        |  FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE p.q_id <> a.n_id),
        |dots AS (
        |  SELECT c.q_id, c.n_id, SUM(q.vq * n.vq) AS dot
        |  FROM cand c
        |  JOIN e q ON q.vec_id = c.q_id
        |  JOIN e n ON n.vec_id = c.n_id AND n.pos = q.pos
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT d.q_id, d.n_id,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
        |  FROM dots d
        |  JOIN norms nq ON nq.vec_id = d.q_id
        |  JOIN norms nn ON nn.vec_id = d.n_id)
        |SELECT q_id, n_id, cos, rank FROM (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |  FROM cos) WHERE rank <= 3""".stripMargin

  private val ivfKmeansSql: String = ivfKmeansSqlK(16)

  /** q391's oracle: [[ivfKmeansSql]]'s construction UNCHANGED through
    * the centroid refinement (training preceded the retention drop, so
    * every vector participates in seeds, membership, and means), with
    * the CANDIDATE set restricted to the surviving day (odd vec_id) and
    * the probes drawn from the survivors — build-then-delete must equal
    * an index whose postings never held the dropped day. */
  private val annTombSql: String = {
    val assignAnchor =
      "assign AS (SELECT vec_id AS n_id, c_id AS cell FROM ranked WHERE crn = 1),"
    val probeAnchor = "WHERE vec_id % 100 = 0 AND crn <= 4),"
    require(ivfKmeansSql.contains(assignAnchor) &&
      ivfKmeansSql.contains(probeAnchor),
      "annTombSql: ivfKmeansSql anchor text drifted")
    ivfKmeansSql
      .replace(assignAnchor,
        "assign AS (SELECT vec_id AS n_id, c_id AS cell FROM ranked\n" +
          "  WHERE crn = 1 AND vec_id % 2 = 1),")
      .replace(probeAnchor, "WHERE vec_id % 100 = 1 AND crn <= 4),")
  }

  /** q380's oracle: [[ivfKmeansSql]] with the index-construction CTEs
    * (seed scoring, member assignment, centroid refinement) restricted
    * to the BASE corpus (vec_id % 5 ≠ 0) — the frozen index — while
    * assignment, probing, and ranking run over ALL vectors: the delta
    * joins the postings through the same nearest-frozen-centroid rule
    * the Spark side appends with, so the two lifecycles (build-then-
    * append vs one restated computation) must agree row for row. */
  private val annDeltaSql: String =
      """WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |ccos0 AS (
        |  SELECT v.vec_id, c.vec_id AS c_id,
        |    CAST(SUM(v.vq * c.vq) AS DOUBLE)
        |      / sqrt(CAST(cn.nrm AS DOUBLE) * CAST(vn.nrm AS DOUBLE)) AS ccos
        |  FROM e v
        |  JOIN e c ON c.pos = v.pos AND c.vec_id < 16 AND c.vec_id % 5 <> 0
        |  JOIN norms cn ON cn.vec_id = c.vec_id
        |  JOIN norms vn ON vn.vec_id = v.vec_id
        |  WHERE v.vec_id % 5 <> 0
        |  GROUP BY 1, 2, cn.nrm, vn.nrm),
        |members AS (
        |  SELECT vec_id, c_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, c_id ASC) AS crn
        |    FROM ccos0) WHERE crn = 1),
        |cents AS (
        |  SELECT m.cell, v.pos,
        |    CAST(round(CAST(SUM(v.vq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
        |  FROM members m JOIN e v ON v.vec_id = m.vec_id
        |  GROUP BY 1, 2),
        |cnorms AS (SELECT cell, SUM(cv*cv) AS cn FROM cents GROUP BY 1),
        |ccos1 AS (
        |  SELECT v.vec_id, c.cell AS c_id,
        |    CAST(SUM(v.vq * c.cv) AS DOUBLE)
        |      / sqrt(CAST(cn.cn AS DOUBLE) * CAST(vn.nrm AS DOUBLE)) AS ccos
        |  FROM e v
        |  JOIN cents c ON c.pos = v.pos
        |  JOIN cnorms cn ON cn.cell = c.cell
        |  JOIN norms vn ON vn.vec_id = v.vec_id
        |  GROUP BY 1, 2, cn.cn, vn.nrm),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ccos DESC, c_id ASC) AS crn
        |  FROM ccos1),
        |assign AS (SELECT vec_id AS n_id, c_id AS cell FROM ranked WHERE crn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, c_id AS cell FROM ranked
        |  WHERE vec_id % 100 = 0 AND crn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.q_id, a.n_id
        |  FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE p.q_id <> a.n_id),
        |dots AS (
        |  SELECT c.q_id, c.n_id, SUM(q.vq * n.vq) AS dot
        |  FROM cand c
        |  JOIN e q ON q.vec_id = c.q_id
        |  JOIN e n ON n.vec_id = c.n_id AND n.pos = q.pos
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT d.q_id, d.n_id,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
        |  FROM dots d
        |  JOIN norms nq ON nq.vec_id = d.q_id
        |  JOIN norms nn ON nn.vec_id = d.n_id)
        |SELECT q_id, n_id, cos, rank FROM (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |  FROM cos) WHERE rank <= 3""".stripMargin

  /** the q367 dod-class + bit-count census oracle, shared verbatim by
    * the stream-built-blocks census (q378): the in-plan recompress check
    * pins stream block == batch block bit-wise, so the decoded plane is
    * identical. */
  private val gorillaCensusSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |d AS (
      |  SELECT event_type, day,
      |    ts_us - lag(ts_us) OVER w AS delta,
      |    ROW_NUMBER() OVER w AS rn
      |  FROM e
      |  WINDOW w AS (PARTITION BY event_type, day ORDER BY ts_us, event_id)),
      |dd AS (
      |  SELECT event_type, day,
      |    delta - COALESCE(lag(delta) OVER w2, 0) AS dod
      |  FROM d WHERE delta IS NOT NULL
      |  WINDOW w2 AS (PARTITION BY event_type, day ORDER BY rn)),
      |cls AS (
      |  SELECT event_type, day,
      |    SUM(CASE WHEN dod = 0 THEN 1 ELSE 0 END) AS dod0,
      |    SUM(CASE WHEN dod <> 0 AND dod BETWEEN -63 AND 64
      |        THEN 1 ELSE 0 END) AS dod7,
      |    SUM(CASE WHEN dod NOT BETWEEN -63 AND 64
      |         AND dod BETWEEN -255 AND 256 THEN 1 ELSE 0 END) AS dod9,
      |    SUM(CASE WHEN dod NOT BETWEEN -255 AND 256
      |         AND dod BETWEEN -2047 AND 2048 THEN 1 ELSE 0 END) AS dod12,
      |    SUM(CASE WHEN dod NOT BETWEEN -2047 AND 2048
      |        THEN 1 ELSE 0 END) AS dod64
      |  FROM dd GROUP BY 1, 2),
      |np AS (SELECT event_type, day, COUNT(*) AS n_points
      |       FROM e GROUP BY 1, 2)
      |SELECT np.event_type, CAST(np.day AS BIGINT) AS day,
      |  CAST(np.n_points AS BIGINT) AS n_points,
      |  CAST(COALESCE(cls.dod0, 0) AS BIGINT) AS dod0,
      |  CAST(COALESCE(cls.dod7, 0) AS BIGINT) AS dod7,
      |  CAST(COALESCE(cls.dod9, 0) AS BIGINT) AS dod9,
      |  CAST(COALESCE(cls.dod12, 0) AS BIGINT) AS dod12,
      |  CAST(COALESCE(cls.dod64, 0) AS BIGINT) AS dod64,
      |  CAST(COALESCE(cls.dod0, 0) * 1 + COALESCE(cls.dod7, 0) * 9
      |     + COALESCE(cls.dod9, 0) * 12 + COALESCE(cls.dod12, 0) * 16
      |     + COALESCE(cls.dod64, 0) * 68 AS BIGINT) AS ts_bits,
      |  true AS roundtrip_ok
      |FROM np LEFT JOIN cls
      |  ON cls.event_type = np.event_type AND cls.day = np.day""".stripMargin

  val oracles: Map[String, String] = Map(
    "q253_mixture_sample" ->
      """WITH cnt AS (
        |  SELECT source, count(*) AS n,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM cnt),
        |rates AS (
        |  SELECT source,
        |    CAST(least(1000000, (CAST(100 AS HUGEINT) * w * 1000000)
        |      // (CAST(sw AS HUGEINT) * n)) AS BIGINT) AS rate_ppm,
        |    lpad(lower(to_hex(least(
        |      (least(1000000, (CAST(100 AS HUGEINT) * w * 1000000)
        |        // (CAST(sw AS HUGEINT) * n)) * 4294967296)
        |        // 1000000, 4294967295))), 8, '0') || repeat('0', 24) AS thresh
        |  FROM cnt, tot)
        |SELECT d.doc_id, d.source, r.rate_ppm
        |FROM documents d JOIN rates r USING (source)
        |WHERE md5('mix:' || CAST(d.doc_id AS VARCHAR)) < r.thresh""".stripMargin,

    "q254_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, tokens,
        |    CAST(sum(tokens) OVER (PARTITION BY source
        |      ORDER BY tokens DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 600""".stripMargin,

    "q18_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > CAST(3600 AS BIGINT)*1000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, tus,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(tus) AS t_start, MAX(tus) AS t_end
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q19_resets_changes" ->
      """WITH g AS (
        |  SELECT user_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_v
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev_v IS NOT NULL AND value < prev_v THEN 1 ELSE 0 END) AS BIGINT) AS resets,
        |  CAST(SUM(CASE WHEN prev_v IS NOT NULL AND value <> prev_v THEN 1 ELSE 0 END) AS BIGINT) AS changes,
        |  COUNT(*) AS n
        |FROM g GROUP BY user_id""".stripMargin,

    "q328_normalized_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |  COUNT(*) AS n_copies,
        |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw,
        |  MIN(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
        |  MIN(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q21_near_dup_jaccard" ->
      s"""WITH ds AS ($docShinglesSql),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5""".stripMargin,

    "q22_minhash_lsh" ->
      s"""WITH ds AS ($docShinglesSql),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
         |mh AS (
         |  SELECT doc_id,
         |    ${(0 until 8).map(i => s"MIN(md5(concat('$i|', sh))) AS mh$i").mkString(", ")}
         |  FROM ds GROUP BY 1),
         |bands AS (
         |  ${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS band, md5(concat(mh${2 * b}, mh${2 * b + 1})) AS bkey FROM mh")
            .mkString(" UNION ALL ")}),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |shared AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
         |  FROM cand c
         |  JOIN ds a ON a.doc_id = c.doc_a
         |  JOIN ds b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY 1, 2)
         |SELECT s.doc_a, s.doc_b,
         |  CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) AS jaccard
         |FROM shared s
         |JOIN sizes sa ON sa.doc_id = s.doc_a
         |JOIN sizes sb ON sb.doc_id = s.doc_b
         |WHERE CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) >= 0.4""".stripMargin,

    "q23_simhash" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
         |v AS (
         |  SELECT doc_id,
         |    ${(0 until 32).map(k =>
            s"SUM(CASE WHEN substr(h, ${k + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$k")
            .mkString(", ")}
         |  FROM h GROUP BY 1)
         |SELECT doc_id,
         |  concat(${(0 until 32).map(k => s"CASE WHEN v$k >= 0 THEN '1' ELSE '0' END").mkString(", ")}) AS simhash
         |FROM v""".stripMargin,

    "q103_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |ccos AS (
        |  SELECT v.vec_id, c.vec_id AS c_id,
        |    CAST(SUM(v.vq * c.vq) AS DOUBLE)
        |      / sqrt(CAST(cn.nrm AS DOUBLE) * CAST(vn.nrm AS DOUBLE)) AS ccos
        |  FROM e v
        |  JOIN e c ON c.pos = v.pos AND c.vec_id < 16
        |  JOIN norms cn ON cn.vec_id = c.vec_id
        |  JOIN norms vn ON vn.vec_id = v.vec_id
        |  GROUP BY 1, 2, cn.nrm, vn.nrm),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ccos DESC, c_id ASC) AS crn
        |  FROM ccos),
        |assign AS (SELECT vec_id AS n_id, c_id AS cell FROM ranked WHERE crn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, c_id AS cell FROM ranked
        |  WHERE vec_id % 100 = 0 AND crn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.q_id, a.n_id
        |  FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE p.q_id <> a.n_id),
        |dots AS (
        |  SELECT c.q_id, c.n_id, SUM(q.vq * n.vq) AS dot
        |  FROM cand c
        |  JOIN e q ON q.vec_id = c.q_id
        |  JOIN e n ON n.vec_id = c.n_id AND n.pos = q.pos
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT d.q_id, d.n_id,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
        |  FROM dots d
        |  JOIN norms nq ON nq.vec_id = d.q_id
        |  JOIN norms nn ON nn.vec_id = d.n_id)
        |SELECT q_id, n_id, cos, rank FROM (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |  FROM cos) WHERE rank <= 3""".stripMargin,

    "q182_ann_pq_adc" ->
      """WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |subs AS (SELECT vec_id, pos // 16 AS m, pos % 16 AS p, vq FROM e),
        |book AS (SELECT vec_id AS c_id, m, p, vq AS cv FROM subs WHERE vec_id < 16),
        |d2 AS (
        |  SELECT s.vec_id, s.m, b.c_id,
        |    SUM((s.vq - b.cv) * (s.vq - b.cv)) AS d2
        |  FROM subs s JOIN book b ON b.m = s.m AND b.p = s.p
        |  GROUP BY 1, 2, 3),
        |enc AS (
        |  SELECT vec_id, m, c_id AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |      ORDER BY d2 ASC, c_id ASC) AS rn
        |    FROM d2) WHERE rn = 1),
        |adist AS (
        |  SELECT qd.vec_id AS q_id, n.vec_id AS n_id,
        |    CAST(SUM(qd.d2) AS BIGINT) AS adist
        |  FROM enc n JOIN d2 qd ON qd.m = n.m AND qd.c_id = n.code
        |  WHERE qd.vec_id % 100 = 0 AND qd.vec_id <> n.vec_id
        |  GROUP BY 1, 2)
        |SELECT q_id, n_id, adist, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY adist ASC, n_id ASC) AS rank
        |  FROM adist) WHERE rank <= 3""".stripMargin,

    "q290_unigram_surprisal" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM occ GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM freq),
        |sc AS (
        |  SELECT o.doc_id,
        |    length(printf('%b', t.n_total)) - length(printf('%b', f.cnt)) AS s_bits
        |  FROM occ o JOIN freq f USING (tok), tot t)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(SUM(s_bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(s_bits) AS BIGINT) * 256 // count(*) AS avg_bits_q8
        |FROM sc GROUP BY 1""".stripMargin,

    "q325_bigram_backoff_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        |uni AS (
        |  SELECT tok, count(*) AS n1 FROM (
        |    SELECT unnest(toks) AS tok FROM train) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_total FROM uni),
        |bi AS (
        |  SELECT p['a'] AS tok_a, p['b'] AS tok_b, count(*) AS n2 FROM (
        |    SELECT unnest(CASE WHEN len(toks) >= 2 THEN
        |      [{'a': toks[i], 'b': toks[i + 1]} FOR i IN range(1, len(toks))]
        |      ELSE [] END) AS p FROM train) GROUP BY 1, 2),
        |trans AS (
        |  SELECT doc_id, p['a'] AS tok_a, p['b'] AS tok_b FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
        |      [{'a': toks[i], 'b': toks[i + 1]} FOR i IN range(1, len(toks))]
        |      ELSE [] END) AS p FROM toks WHERE doc_id % 2 = 1)),
        |sc AS (
        |  SELECT t.doc_id, b.n2, ua.n1 AS n1_a, ub.n1 AS n1_b,
        |    CASE
        |      WHEN b.n2 IS NOT NULL AND ua.n1 IS NOT NULL THEN
        |        length(printf('%b', ua.n1)) - length(printf('%b', b.n2))
        |      WHEN ub.n1 IS NOT NULL THEN
        |        1 + length(printf('%b', tot.n_total))
        |          - length(printf('%b', ub.n1))
        |      ELSE 2 + length(printf('%b', tot.n_total))
        |    END AS s_bits
        |  FROM trans t
        |  LEFT JOIN bi b ON b.tok_a = t.tok_a AND b.tok_b = t.tok_b
        |  LEFT JOIN uni ua ON ua.tok = t.tok_a
        |  LEFT JOIN uni ub ON ub.tok = t.tok_b, tot)
        |SELECT doc_id, count(*) AS n_trans,
        |  CAST(SUM(CASE WHEN n2 IS NULL AND n1_b IS NOT NULL
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
        |  CAST(SUM(CASE WHEN n1_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(s_bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(s_bits) AS BIGINT) * 256 // count(*) AS avg_bits_q8
        |FROM sc GROUP BY 1""".stripMargin,

    "q326_hashed_linear_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_concat(toks,
        |    CASE WHEN len(toks) >= 2 THEN
        |      [toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))]
        |    ELSE [] END)) AS g
        |  FROM toks),
        |feat AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5('clf:' || g), 1, 15)) AS BIGINT)
        |      % 1024 AS INT) AS bucket,
        |    count(*) AS cnt
        |  FROM grams GROUP BY 1, 2),
        |weights AS (
        |  SELECT CAST(c.i AS INT) AS cls, CAST(b.i AS INT) AS bucket,
        |    CAST(('0x' || substr(md5('clfw:' || c.i || ':' || b.i), 1, 15))
        |      AS BIGINT) % 2001 - 1000 AS w
        |  FROM range(0, 4) c(i), range(0, 1024) b(i)),
        |scores AS (
        |  SELECT f.doc_id, w.cls, CAST(SUM(f.cnt * w.w) AS BIGINT) AS score
        |  FROM feat f JOIN weights w USING (bucket) GROUP BY 1, 2),
        |rk AS (
        |  SELECT doc_id, cls, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cls ASC) AS rnk,
        |    lead(score) OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cls ASC) AS next_score
        |  FROM scores)
        |SELECT doc_id, cls AS best_class, score AS best_score,
        |  score - COALESCE(next_score, score) AS margin
        |FROM rk WHERE rnk = 1""".stripMargin,

    "q183_zipf_commonness" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM occ GROUP BY 1)
        |SELECT o.doc_id, count(*) AS n_tok,
        |  CAST(SUM(f.cnt) AS BIGINT) AS sum_freq,
        |  MIN(f.cnt) AS rarest,
        |  CAST(SUM(f.cnt) AS DOUBLE) / count(*) AS mean_freq
        |FROM occ o JOIN freq f ON f.tok = o.tok
        |GROUP BY 1""".stripMargin,

    "q184_pmi_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT unnest(toks) AS tok FROM toks),
        |unic AS (SELECT tok, count(*) AS n1 FROM uni GROUP BY 1),
        |bi AS (
        |  -- parallel unnests zip positionally: (toks[i], toks[i+1]) pairs
        |  SELECT unnest(toks[1:len(toks)-1]) AS tok_a,
        |         unnest(toks[2:len(toks)]) AS tok_b
        |  FROM toks),
        |bic AS (
        |  SELECT tok_a, tok_b, count(*) AS n_ab FROM bi
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT b.tok_a, b.tok_b, b.n_ab, ua.n1 AS n_a, ub.n1 AS n_b,
        |  CAST((b.n_ab * 1000000) // (ua.n1 * ub.n1) AS BIGINT) AS lift_fp
        |FROM bic b
        |JOIN unic ua ON ua.tok = b.tok_a
        |JOIN unic ub ON ub.tok = b.tok_b
        |ORDER BY lift_fp DESC, n_ab DESC, tok_a ASC, tok_b ASC
        |LIMIT 50""".stripMargin,

    "q185_inverted_search" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tfs AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM occ
        |  WHERE tok IN ('vector', 'customer', 'slow') GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS sum_tf, MIN(tf) AS min_tf
        |FROM tfs GROUP BY 1 HAVING count(*) = 3""".stripMargin,

    "q186_phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS tok_a,
        |         unnest(toks[2:len(toks)]) AS tok_b
        |  FROM toks)
        |SELECT doc_id, count(*) AS n_phrase FROM bi
        |WHERE tok_a = 'batch' AND tok_b = 'batch' GROUP BY 1""".stripMargin,

    "q187_bm25_rank" -> bm25RankSql,
    "q381_bm25_index_delta" -> bm25RankSql,
    // stream-built store ≡ batch index (associative stats): q187's oracle
    "q383_bm25_index_stream" -> bm25RankSql,

    // the stream-built ledger: live hashes = corpus minus the retention
    // cohort; delta rows classify by membership
    "q402_dedup_ledger_stream" ->
      """WITH live AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE doc_id % 7 <> 3),
        |delta AS (
        |  SELECT doc_id + 80000000 AS did,
        |    CASE WHEN doc_id % 2 = 0 THEN text
        |         ELSE text || ' novel' END AS t
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT CAST(d.did AS BIGINT) AS did,
        |  CASE WHEN l.h IS NOT NULL THEN 'dup' ELSE 'new' END AS status
        |FROM delta d LEFT JOIN live l ON l.h = md5(d.t)""".stripMargin,
    // delete≡rebuild: the survivors are exactly the odd doc_ids (the
    // even day expired through retention)
    "q385_bm25_retention_delete" -> bm25RankSqlWhere("doc_id % 2 = 1"),
    // stream-built delta postings ≡ batch append: q380's oracle
    "q384_ann_index_stream" -> annDeltaSql,

    // restates the shard synthesis (sanitized text, drift pattern) and
    // every aggregate; null-by-absence is preserved (SUM over CASE with
    // no ELSE), the md5 fold is ordered by record id
    // storage must not change one byte: the stored-shard scan shares
    // the in-plan synthesis' oracle verbatim
    "q387_jsonl_stored_shards" -> jsonlShardOracleSql,
    "q382_jsonl_shard_ingest" -> jsonlShardOracleSql,
    "q188_rrf_hybrid" ->
      """WITH lex0 AS (
        |  SELECT doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok = 'vector' GROUP BY 1 ORDER BY tf DESC, doc_id ASC LIMIT 50),
        |lex AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id ASC) AS INT) AS r_lex
        |  FROM lex0),
        |e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |dots AS (
        |  SELECT n.vec_id, SUM(p.vq * n.vq) AS dot
        |  FROM e n JOIN e p ON p.pos = n.pos AND p.vec_id = 0
        |  WHERE n.vec_id <> 0 GROUP BY 1),
        |cosd AS (
        |  SELECT d.vec_id,
        |    CAST(d.dot AS DOUBLE) /
        |    sqrt(CAST(nn.nrm AS DOUBLE) * CAST(np.nrm AS DOUBLE)) AS cos
        |  FROM dots d JOIN norms nn ON nn.vec_id = d.vec_id
        |  CROSS JOIN (SELECT nrm FROM norms WHERE vec_id = 0) np(nrm)),
        |vec0 AS (SELECT vec_id, cos FROM cosd ORDER BY cos DESC, vec_id ASC LIMIT 50),
        |vec AS (
        |  SELECT vec_id AS doc_id,
        |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS INT) AS r_vec
        |  FROM vec0)
        |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.r_lex, v.r_vec,
        |  CAST(COALESCE(1000000 // (60 + l.r_lex), 0) +
        |       COALESCE(1000000 // (60 + v.r_vec), 0) AS BIGINT) AS rrf_fp
        |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
        |ORDER BY rrf_fp DESC, doc_id ASC LIMIT 20""".stripMargin,

    "q190_dup_ngram_fraction" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |grams AS (
        |  -- parallel unnests zip positionally: the five staggered slices
        |  -- line up into each 5-gram
        |  SELECT DISTINCT doc_id, concat_ws(' ',
        |    unnest(toks[1:len(toks)-4]), unnest(toks[2:len(toks)-3]),
        |    unnest(toks[3:len(toks)-2]), unnest(toks[4:len(toks)-1]),
        |    unnest(toks[5:len(toks)])) AS g
        |  FROM toks),
        |dfg AS (SELECT g, count(*) AS dfg FROM grams GROUP BY 1)
        |SELECT gr.doc_id, count(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.dfg > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  (CAST(SUM(CASE WHEN f.dfg > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // count(*) AS dup_fp
        |FROM grams gr JOIN dfg f USING (g) GROUP BY 1""".stripMargin,

    "q191_matryoshka_recall" ->
      """WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |normf AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |dotf AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, SUM(q.vq * n.vq) AS dot
        |  FROM e q JOIN e n ON q.pos = n.pos AND q.vec_id <> n.vec_id
        |  WHERE q.vec_id % 100 = 0 GROUP BY 1, 2),
        |cosf AS (
        |  SELECT d.q_id, d.n_id, CAST(d.dot AS DOUBLE) /
        |    sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
        |  FROM dotf d JOIN normf nq ON nq.vec_id = d.q_id
        |  JOIN normf nn ON nn.vec_id = d.n_id),
        |topf AS (SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id ASC) AS rn FROM cosf) WHERE rn <= 5),
        |et AS (SELECT * FROM e WHERE pos < 16),
        |normt AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM et GROUP BY 1),
        |dott AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, SUM(q.vq * n.vq) AS dot
        |  FROM et q JOIN et n ON q.pos = n.pos AND q.vec_id <> n.vec_id
        |  WHERE q.vec_id % 100 = 0 GROUP BY 1, 2),
        |cost AS (
        |  SELECT d.q_id, d.n_id, CAST(d.dot AS DOUBLE) /
        |    sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
        |  FROM dott d JOIN normt nq ON nq.vec_id = d.q_id
        |  JOIN normt nn ON nn.vec_id = d.n_id),
        |topt AS (SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id ASC) AS rn FROM cost) WHERE rn <= 5),
        |ov AS (
        |  SELECT f.q_id, count(*) AS n_overlap
        |  FROM topf f JOIN topt t ON t.q_id = f.q_id AND t.n_id = f.n_id
        |  GROUP BY 1)
        |SELECT p.q_id, CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap
        |FROM (SELECT DISTINCT q_id FROM topf) p
        |LEFT JOIN ov o ON o.q_id = p.q_id""".stripMargin,

    "q192_ann_hamming" ->
      """WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |sig AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN vq >= 0 AND pos < 32
        |      THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS BIGINT) AS h1,
        |    CAST(SUM(CASE WHEN vq >= 0 AND pos >= 32
        |      THEN (CAST(1 AS BIGINT) << (pos - 32)) ELSE 0 END) AS BIGINT) AS h2
        |  FROM e GROUP BY 1),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    CAST(bit_count(xor(n.h1, q.h1)) + bit_count(xor(n.h2, q.h2)) AS BIGINT) AS ham
        |  FROM sig n JOIN sig q ON q.vec_id % 100 = 0 AND q.vec_id <> n.vec_id)
        |SELECT q_id, n_id, ham, rank FROM (
        |  SELECT q_id, n_id, ham, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY ham ASC, n_id ASC) AS BIGINT) AS rank
        |  FROM pairs) WHERE rank <= 5""".stripMargin,

    "q194_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |dots AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, SUM(q.vq * n.vq) AS dot
        |  FROM e q JOIN e n ON q.pos = n.pos AND q.vec_id <> n.vec_id
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT d.q_id, d.n_id,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
        |  FROM dots d
        |  JOIN norms nq ON nq.vec_id = d.q_id
        |  JOIN norms nn ON nn.vec_id = d.n_id)
        |SELECT q_id, n_id, cos, rank FROM (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |  FROM cos) WHERE rank BETWEEN 6 AND 15""".stripMargin,

    "q195_label_centroid_sim" ->
      """WITH e AS (
        |  SELECT label, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |cent AS (
        |  SELECT label, pos,
        |    CAST(round(CAST(SUM(vq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
        |  FROM e GROUP BY 1, 2),
        |cn AS (SELECT label, SUM(cv*cv) AS cn FROM cent GROUP BY 1),
        |dots AS (
        |  SELECT a.label AS label_a, b.label AS label_b, SUM(a.cv * b.cv) AS dot
        |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT d.label_a, d.label_b,
        |  CAST(d.dot AS DOUBLE) / sqrt(CAST(ca.cn AS DOUBLE) * CAST(cb.cn AS DOUBLE)) AS cos
        |FROM dots d JOIN cn ca ON ca.label = d.label_a
        |JOIN cn cb ON cb.label = d.label_b""".stripMargin,

    "q198_interval_overlap" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > CAST(3600 AS BIGINT)*1000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, tus,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id, MIN(tus) AS t_start, MAX(tus) AS t_end
        |  FROM s GROUP BY user_id, session_id),
        |f AS (SELECT * FROM sess WHERE t_end - t_start >= CAST(600 AS BIGINT)*1000000)
        |SELECT a.user_id AS ua, a.session_id AS sa,
        |  b.user_id AS ub, b.session_id AS sb,
        |  least(a.t_end, b.t_end) - greatest(a.t_start, b.t_start) AS ov_us
        |FROM f a JOIN f b
        |  ON (a.user_id < b.user_id
        |      OR (a.user_id = b.user_id AND a.session_id < b.session_id))
        |WHERE least(a.t_end, b.t_end) - greatest(a.t_start, b.t_start)
        |      >= CAST(300 AS BIGINT)*1000000""".stripMargin,

    "q199_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |v AS (SELECT user_id, MIN(tus) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT v.user_id, MIN(e.tus) AS t_click
        |      FROM v JOIN e ON e.user_id = v.user_id
        |        AND e.event_type = 'click' AND e.tus > v.t_view GROUP BY 1),
        |p AS (SELECT c.user_id, MIN(e.tus) AS t_purchase
        |      FROM c JOIN e ON e.user_id = c.user_id
        |        AND e.event_type = 'purchase' AND e.tus > c.t_click GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |            WHEN c.t_click IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |LEFT JOIN p ON p.user_id = v.user_id""".stripMargin,

    "q200_retention_cohort" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, (epoch_us(ts)//1000000)//86400 AS day FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT c.cohort_day, d.day - c.cohort_day AS offset_day,
        |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        |FROM days d JOIN cohort c ON c.user_id = d.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q231_fuzzy_prefix_join" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 16) AS p, substr(text, 1, 2) AS band
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.band = b.band AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 2""".stripMargin,

    "q249_jaro_winkler" ->
      """SELECT c.c_custkey, s.s_suppkey,
        |  round(jaro_winkler_similarity(c.c_name, s.s_name), 4) AS jw
        |FROM customer c, supplier s
        |WHERE c.c_custkey <= 300 AND s.s_suppkey <= 100
        |  AND round(jaro_winkler_similarity(c.c_name, s.s_name), 4) >= 0.75""".stripMargin,

    "q232_gopher_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        |  FROM t),
        |bgs AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
        |    [concat_ws(' ', toks[i], toks[i+1]) FOR i IN range(1, len(toks))]
        |    ELSE [] END) AS bg
        |  FROM t),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2),
        |bt AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c,
        |         CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1)
        |SELECT b.doc_id, b.n_words,
        |  (1000000 * (b.n_words - b.n_distinct)) // b.n_words AS dup_word_ppm,
        |  coalesce((1000000 * bt.top_c) // bt.n_bg, 0) AS top_bigram_ppm,
        |  CAST(CASE WHEN (1000000 * (b.n_words - b.n_distinct)) // b.n_words < 700000
        |    AND coalesce((1000000 * bt.top_c) // bt.n_bg, 0) < 200000
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM base b LEFT JOIN bt ON bt.doc_id = b.doc_id""".stripMargin,

    "q233_stratified_split" ->
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN substr(md5(concat('split|', CAST(doc_id AS VARCHAR))), 32, 1)
        |           IN ('c', 'd') THEN 'val'
        |         WHEN substr(md5(concat('split|', CAST(doc_id AS VARCHAR))), 32, 1)
        |           IN ('e', 'f') THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents),
        |g AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM d GROUP BY 1, 2)
        |SELECT lang, split, n_docs,
        |  (1000000 * n_docs) // CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
        |    AS frac_ppm
        |FROM g""".stripMargin,

    "q234_dup_clusters" ->
      s"""WITH RECURSIVE ds AS ($docShinglesSql),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
         |        UNION ALL SELECT doc_b, doc_a FROM edges),
         |reach AS (
         |  SELECT a AS id, a AS r FROM sym
         |  UNION
         |  SELECT s.a, r.r FROM sym s JOIN reach r ON r.id = s.b),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  max(id) AS max_doc_id
         |FROM lab GROUP BY 1""".stripMargin,

    "q266_cluster_safe_split" ->
      s"""WITH RECURSIVE $clusterLabelCteSql,
         |sp AS (
         |  SELECT *, CASE WHEN substring(md5(
         |      concat('split:', CAST(cluster_id AS VARCHAR))), 1, 8)
         |      < 'e6666666'
         |    THEN 'train' ELSE 'eval' END AS split
         |  FROM cl)
         |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
         |FROM sp GROUP BY 1, 2""".stripMargin,

    "q267_softdedup_weights" ->
      s"""WITH RECURSIVE $clusterLabelCteSql,
         |szs AS (SELECT cluster_id, COUNT(*) AS n_members FROM cl GROUP BY 1),
         |w AS (
         |  SELECT cl.source,
         |    CAST(len(string_split(cl.text, ' ')) AS BIGINT) AS n_tok,
         |    1000000 // s.n_members AS w_ppm
         |  FROM cl JOIN szs s USING (cluster_id))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(w_ppm) AS BIGINT) AS eff_docs_ppm,
         |  CAST(SUM(n_tok * w_ppm) AS BIGINT) AS eff_tokens_ppm
         |FROM w GROUP BY 1""".stripMargin,

    "q235_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g8 AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 4 THEN
        |    [md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3]))
        |     FOR i IN range(1, len(toks) - 2)]
        |    ELSE [] END) AS g
        |  FROM t)
        |SELECT a.doc_id, b.doc_id AS bench_id,
        |  CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM g8 a JOIN g8 b ON a.g = b.g
        |WHERE a.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
        |GROUP BY 1, 2""".stripMargin,

    "q236_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT source, (cum - n_tok) // 2048 AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q239_tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_w,
        |    CAST(list_sum(list_transform(string_split(text, ' '),
        |      t -> greatest(CAST(ceil(length(t)/4.0) AS BIGINT), 1))) AS BIGINT) AS n_s
        |  FROM documents)
        |SELECT lang, CAST(sum(n_w) AS BIGINT) AS n_words,
        |  CAST(sum(n_s) AS BIGINT) AS n_subwords,
        |  (1000000 * CAST(sum(n_s) AS BIGINT)) // CAST(sum(n_w) AS BIGINT)
        |    AS fertility_ppm
        |FROM t GROUP BY 1""".stripMargin,

    "q247_length_batching" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tok, n_tok // 64 AS band,
        |    (row_number() OVER (PARTITION BY n_tok // 64
        |       ORDER BY n_tok ASC, doc_id ASC) - 1) // 32 AS batch
        |  FROM t)
        |SELECT band, batch, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_tok) AS BIGINT) AS max_tok,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |  CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT) AS padding_waste
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q248_epoch_shuffle" ->
      """WITH d AS (
        |  SELECT epoch, doc_id,
        |    md5(concat('epoch', epoch, '|', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents, unnest([0, 1]) AS e(epoch)),
        |b AS (
        |  SELECT epoch, doc_id,
        |    CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT)
        |      AS band, h
        |  FROM d),
        |r AS (
        |  SELECT epoch, band, doc_id,
        |    CAST(row_number() OVER (PARTITION BY epoch, band
        |      ORDER BY h ASC, doc_id ASC) AS BIGINT) - 1 AS pos_in_band
        |  FROM b)
        |SELECT epoch, band, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id * (pos_in_band + 1)) AS BIGINT) AS order_checksum
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q227_max_concurrency" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > CAST(3600 AS BIGINT)*1000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, tus,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id, MIN(tus) AS t_start, MAX(tus) AS t_end
        |  FROM s GROUP BY 1, 2),
        |bounds AS (
        |  SELECT t_start AS t, CAST(1 AS BIGINT) AS d,
        |    t_start // 86400000000 AS day FROM sess
        |  UNION ALL
        |  SELECT t_end, CAST(-1 AS BIGINT), t_end // 86400000000 FROM sess),
        |runs AS (
        |  SELECT day, MAX(run) AS max_run FROM (
        |    SELECT day, CAST(SUM(d) OVER (PARTITION BY day ORDER BY t ASC, d ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |    FROM bounds)
        |  GROUP BY day),
        |carry AS (
        |  SELECT u.day, COUNT(*) AS carry_in
        |  FROM sess, unnest(generate_series(t_start // 86400000000 + 1,
        |                                    t_end // 86400000000)) AS u(day)
        |  WHERE t_end // 86400000000 > t_start // 86400000000
        |  GROUP BY 1)
        |SELECT coalesce(r.day, c.day) AS day,
        |  CAST(coalesce(c.carry_in, 0) AS BIGINT) AS carry_in,
        |  CAST(coalesce(c.carry_in, 0)
        |       + greatest(coalesce(r.max_run, 0), 0) AS BIGINT) AS max_concurrency
        |FROM runs r FULL OUTER JOIN carry c ON c.day = r.day""".stripMargin,

    "q225_curriculum_ntile" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    ntile(5) OVER (ORDER BY n_chars ASC, doc_id ASC) AS epoch
        |  FROM documents)
        |SELECT epoch, COUNT(*) AS n_docs, MIN(n_chars) AS min_nc,
        |  MAX(n_chars) AS max_nc
        |FROM r GROUP BY epoch""".stripMargin,

    "q226_largest_remainder_mix" ->
      """WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cnt),
        |q AS (
        |  SELECT source, n, (1000 * n) // n_total AS base,
        |    (1000 * n) % n_total AS rem
        |  FROM cnt, t),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
        |    CAST(SUM(base) OVER () AS BIGINT) AS tot_base
        |  FROM q)
        |SELECT source, n, base,
        |  base + CASE WHEN rk <= 1000 - tot_base THEN 1 ELSE 0 END AS alloc
        |FROM r""".stripMargin,

    "q219_corpus_drift" ->
      """WITH d AS (
        |  SELECT least(n_chars // 100, 5) AS bucket,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS tot_a,
        |             CAST(SUM(b) AS BIGINT) AS tot_b FROM d)
        |SELECT bucket, a, b,
        |  CASE WHEN a + b > 0 AND tot_a > 0 AND tot_b > 0 THEN
        |    CAST(((a*tot_b - b*tot_a)::HUGEINT * (a*tot_b - b*tot_a) * 1000000)
        |         // ((a + b)::HUGEINT * tot_a * tot_b) AS BIGINT)
        |  ELSE 0 END AS drift_ppm
        |FROM d, t""".stripMargin,

    "q211_token_freq_spectrum" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (
        |  SELECT tok, COUNT(*) AS freq FROM tok
        |  WHERE length(tok) > 0 GROUP BY tok)
        |SELECT freq, COUNT(*) AS n_tokens FROM f GROUP BY freq""".stripMargin,

    "q196_source_qa" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang, md5(text) AS h FROM documents),
        |hc AS (SELECT h, count(*) AS hc FROM d GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN c.hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  (CAST(SUM(CASE WHEN c.hc > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // count(*) AS dup_fp
        |FROM d JOIN hc c USING (h) GROUP BY 1""".stripMargin,

    "q122_ann_ivf_kmeans" -> ivfKmeansSql,

    // the stored-index probe returns the identical deterministic result
    // set — persistence changes the I/O shape, not the answer
    "q260_ann_stored_index" -> ivfKmeansSql,
    // refresh ≡ rebuild: retraining over base ∪ delta with the shared
    // trainer makes the refreshed store a from-scratch build
    "q386_ann_centroid_refresh" -> ivfKmeansSql,
    // grown-k refresh == from-scratch k=32 build, the same construction
    "q396_ann_refresh_grown_k" -> ivfKmeansSqlK(32),
    "q380_ann_index_delta" -> annDeltaSql,
    "q391_ann_retention_delete" -> annTombSql,


    "q24_ann_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |dots AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, SUM(q.vq * n.vq) AS dot
        |  FROM e q JOIN e n ON q.pos = n.pos AND q.vec_id <> n.vec_id
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT d.q_id, d.n_id,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
        |  FROM dots d
        |  JOIN norms nq ON nq.vec_id = d.q_id
        |  JOIN norms nn ON nn.vec_id = d.n_id)
        |SELECT q_id, n_id, cos, rank FROM (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |  FROM cos) WHERE rank <= 5""".stripMargin,

    "q25_ann_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, i AS pos,
         |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
         |  FROM embeddings, range(0, 64) r(i)),
         |proj AS (
         |  SELECT vec_id,
         |    ${(0 until 8).map(j =>
            s"SUM(vq * (CASE WHEN substr(md5(concat('$j','_', CAST(pos AS VARCHAR))), 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) AS p$j")
            .mkString(", ")}
         |  FROM e GROUP BY 1),
         |sig AS (
         |  SELECT vec_id,
         |    concat(${(0 until 8).map(j => s"CASE WHEN p$j >= 0 THEN '1' ELSE '0' END").mkString(", ")}) AS sig
         |  FROM proj),
         |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
         |cand AS (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id
         |  FROM sig q JOIN sig n ON q.sig = n.sig AND q.vec_id <> n.vec_id
         |  WHERE q.vec_id % 100 = 0),
         |dots AS (
         |  SELECT c.q_id, c.n_id, SUM(eq.vq * en.vq) AS dot
         |  FROM cand c
         |  JOIN e eq ON eq.vec_id = c.q_id
         |  JOIN e en ON en.vec_id = c.n_id AND en.pos = eq.pos
         |  GROUP BY 1, 2),
         |cos AS (
         |  SELECT d.q_id, d.n_id,
         |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cos
         |  FROM dots d
         |  JOIN norms nq ON nq.vec_id = d.q_id
         |  JOIN norms nn ON nn.vec_id = d.n_id)
         |SELECT q_id, n_id, cos, rank FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
         |  FROM cos) WHERE rank <= 3""".stripMargin,

    "q26_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, lang, CAST(len(toks) AS INTEGER) AS n_tok,
        |  CAST(len(list_filter(toks, t -> t IN ('a','the','of','and','to','in'))) AS DOUBLE)
        |    / len(toks) AS stop_ratio,
        |  CASE WHEN CAST(len(list_filter(toks, t -> t IN ('a','the','of','and','to','in'))) AS DOUBLE)
        |    / len(toks) >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang
        |FROM t""".stripMargin,

    "q27_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(length(text) AS BIGINT) AS n_chars2,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    CAST(len(list_filter(toks, t -> t IN ('a','the','of','and','to','in'))) AS DOUBLE)
        |      / len(toks) AS stop_ratio
        |  FROM t)
        |SELECT doc_id, n_tok,
        |  CAST(n_chars2 - (n_tok - 1) AS DOUBLE) / n_tok AS mean_tok_len,
        |  ttr, stop_ratio,
        |  ttr * 50 + stop_ratio * 25 +
        |    CASE WHEN n_tok BETWEEN 20 AND 200 THEN 25.0 ELSE 0.0 END AS score
        |FROM m""".stripMargin,

    "q28_token_count" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(list_sum(list_transform(toks,
        |    t -> greatest(CAST(ceil(length(t)/4.0) AS BIGINT), 1))) AS BIGINT) AS n_subword
        |FROM t""".stripMargin,

    "q29_fingerprint_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      [md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |       FOR i IN range(1, len(toks) - 1)]
        |    ELSE [] END AS hs
        |  FROM t)
        |SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    [list_min(hs[i:least(i+3, len(hs))]) FOR i IN range(1, len(hs) + 1)])),
        |    '')) AS fingerprint
        |FROM h WHERE len(hs) >= 1""".stripMargin,

    "q310_winnow_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      [md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |       FOR i IN range(1, len(toks) - 1)]
        |    ELSE [] END AS hs
        |  FROM t),
        |fp AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_distinct(
        |      [list_min(hs[i:least(i+3, len(hs))]
        |       ) FOR i IN range(1, len(hs) + 1)])) AS minh
        |  FROM h WHERE len(hs) >= 1),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY 1),
        |p AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM fp x JOIN fp y ON x.minh = y.minh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT p.doc_a, p.doc_b, p.shared, a.n_fp AS n_a, b.n_fp AS n_b,
        |  p.shared * 1000000 // least(a.n_fp, b.n_fp) AS overlap_ppm
        |FROM p JOIN sz a ON a.doc_id = p.doc_a
        |       JOIN sz b ON b.doc_id = p.doc_b""".stripMargin,

    "q112_repetition_signals" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS bg
        |  FROM t),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac,
        |  CAST(COALESCE(SUM(c) FILTER (c > 1), 0) AS DOUBLE)
        |    / CAST(SUM(c) AS BIGINT) AS dup_bigram_frac
        |FROM c GROUP BY 1""".stripMargin,

    "q113_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        concat('user', doc_id, '@mail.example.com said: ',
        |               substring(text, 1, 40),
        |               ' from 10.', doc_id % 256, '.0.99 call +1-555-',
        |               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |               ' or 192.168.1.1'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q114_contamination" ->
      s"""WITH sh AS ($docShinglesSql),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 5),
         |c AS (
         |  SELECT s.doc_id, count(*) AS n_shingles,
         |    CAST(COALESCE(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 END), 0) AS BIGINT)
         |      AS n_contaminated
         |  FROM sh s LEFT JOIN bench b USING (sh)
         |  WHERE s.doc_id >= 5 GROUP BY 1)
         |SELECT doc_id, n_shingles, n_contaminated,
         |  CAST(n_contaminated AS DOUBLE) / n_shingles AS contamination
         |FROM c WHERE n_contaminated > 0""".stripMargin,

    "q115_stratified_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    COUNT(*) OVER (PARTITION BY lang, source) AS n_stratum,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hk
        |  FROM documents)
        |SELECT doc_id, lang, source, n_stratum FROM d WHERE hk < '34'""".stripMargin,

    // transitive closure of the q21 edge set; min reachable doc_id is the
    // component label — the same fixed point min-label propagation reaches
    "q127_dedup_components" ->
      s"""WITH RECURSIVE ds AS ($docShinglesSql),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |e0 AS (
         |  SELECT doc_a, doc_b FROM p
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b
         |  WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM e0
         |  UNION ALL SELECT doc_b, doc_a FROM e0),
         |reach(u, lbl) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u)
         |SELECT u AS doc_id, MIN(lbl) AS component FROM reach GROUP BY u""".stripMargin,

    "q134_simhash_hamming" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
         |v AS (
         |  SELECT doc_id,
         |    ${(0 until 32).map(k =>
            s"SUM(CASE WHEN substr(h, ${k + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$k")
            .mkString(", ")}
         |  FROM h GROUP BY 1),
         |sh AS (
         |  SELECT doc_id,
         |    concat(${(0 until 32).map(k => s"CASE WHEN v$k >= 0 THEN '1' ELSE '0' END").mkString(", ")}) AS simhash
         |  FROM v),
         |sigs AS (
         |  SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc
         |  FROM sh GROUP BY 1),
         |bands AS (
         |  SELECT simhash, n_docs, canonical_doc, b AS band, substr(simhash, 8*b + 1, 8) AS bits
         |  FROM sigs, range(0, 4) r(b)),
         |cand AS (
         |  SELECT DISTINCT x.simhash AS sa, y.simhash AS sb,
         |    x.n_docs AS docs_a, y.n_docs AS docs_b,
         |    x.canonical_doc AS canon_a, y.canonical_doc AS canon_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bits = y.bits AND x.simhash < y.simhash)
         |SELECT sa, sb,
         |  CAST(${(0 until 32).map(k =>
            s"(CASE WHEN substr(sa, ${k + 1}, 1) <> substr(sb, ${k + 1}, 1) THEN 1 ELSE 0 END)")
            .mkString(" + ")} AS BIGINT) AS hamming,
         |  docs_a, docs_b, canon_a, canon_b
         |FROM cand
         |WHERE ${(0 until 32).map(k =>
            s"(CASE WHEN substr(sa, ${k + 1}, 1) <> substr(sb, ${k + 1}, 1) THEN 1 ELSE 0 END)")
            .mkString(" + ")} <= 3""".stripMargin,

    // same LSH/cosine family as q25, then the q127-style closure
    "q132_semantic_dedup" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, i AS pos,
         |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
         |  FROM embeddings, range(0, 64) r(i)),
         |proj AS (
         |  SELECT vec_id,
         |    ${(0 until 8).map(j =>
            s"SUM(vq * (CASE WHEN substr(md5(concat('$j','_', CAST(pos AS VARCHAR))), 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) AS p$j")
            .mkString(", ")}
         |  FROM e GROUP BY 1),
         |sig AS (
         |  SELECT vec_id,
         |    concat(${(0 until 8).map(j => s"CASE WHEN p$j >= 0 THEN '1' ELSE '0' END").mkString(", ")}) AS sig
         |  FROM proj),
         |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
         |cand AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id),
         |dots AS (
         |  SELECT c.a_id, c.b_id, SUM(ea.vq * eb.vq) AS dot
         |  FROM cand c
         |  JOIN e ea ON ea.vec_id = c.a_id
         |  JOIN e eb ON eb.vec_id = c.b_id AND eb.pos = ea.pos
         |  GROUP BY 1, 2),
         |e0 AS (
         |  SELECT d.a_id, d.b_id FROM dots d
         |  JOIN norms na ON na.vec_id = d.a_id
         |  JOIN norms nb ON nb.vec_id = d.b_id
         |  WHERE CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.3),
         |edges AS (
         |  SELECT a_id AS u, b_id AS v FROM e0
         |  UNION ALL SELECT b_id, a_id FROM e0),
         |reach(u, lbl) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT g.u, r.lbl FROM edges g JOIN reach r ON g.v = r.u)
         |SELECT u AS vec_id, MIN(lbl) AS component FROM reach GROUP BY u""".stripMargin,

    "q128_asof_join" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS tus, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, tus, 0 AS side, click_id,
        |    CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS DOUBLE) AS value
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 1, NULL, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT *, LAST_VALUE(click_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY tus ASC, side ASC, purchase_id ASC NULLS FIRST
        |      ROWS UNBOUNDED PRECEDING) AS last_click_id
        |  FROM u)
        |SELECT purchase_id, user_id, tus AS purchase_tus, value, last_click_id
        |FROM w WHERE side = 1""".stripMargin,

    "q129_range_join" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > CAST(3600 AS BIGINT)*1000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, tus,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events,
        |    MIN(tus) AS t_start, MAX(tus) AS t_end
        |  FROM s GROUP BY user_id, session_id)
        |SELECT p.event_id AS purchase_id, sess.user_id, sess.session_id,
        |  sess.t_start, sess.n_events
        |FROM events p
        |JOIN sess ON p.user_id = sess.user_id
        |  AND epoch_us(p.ts) BETWEEN sess.t_start AND sess.t_end
        |WHERE p.event_type = 'purchase'""".stripMargin,

    "q138_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |seg AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS seg
        |  FROM t, UNNEST(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS u(i)),
        |r AS (
        |  SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        |  FROM seg)
        |SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
        |FROM r WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    "q139_filter_chain" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks, length(text) AS ch
        |           FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(ch - (len(toks)-1) AS DOUBLE)/len(toks) AS mean_len,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop
        |  FROM t),
        |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS bg
        |       FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |d AS (SELECT doc_id,
        |        CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)/sum(c) AS dupf
        |      FROM c GROUP BY 1),
        |r AS (
        |  SELECT m.doc_id,
        |    CASE WHEN n_tok < 20 OR n_tok > 80 THEN 'word_count'
        |         WHEN mean_len < 3.8 OR mean_len > 4.9 THEN 'mean_word_len'
        |         WHEN n_stop < 2 THEN 'stopwords'
        |         WHEN dupf > 0.12 THEN 'repetition' END AS reason
        |  FROM m JOIN d ON m.doc_id = d.doc_id)
        |SELECT doc_id, reason IS NULL AS kept, reason FROM r""".stripMargin,

    "q140_kmeans_train" -> kmeansOracle(iters = 2),

    // assignment = the round-3 membership (members_r joins cents_{r-1},
    // so members_3 is the argmax against the TRAINED round-2 codebook)
    "q309_cluster_topics" -> kmeansOracle(iters = 2, loopTo = 3,
      finalSelect =
        """,
          |toks AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          |tc AS (
          |  SELECT m.cell AS c_id, t.tok, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM members_3 m JOIN toks t ON t.doc_id = m.vec_id
          |  WHERE t.tok <> '' AND t.tok NOT IN ('the', 'a')
          |  GROUP BY 1, 2),
          |sz AS (
          |  SELECT cell AS c_id, CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM members_3 GROUP BY 1),
          |rk AS (
          |  SELECT c_id, tok, n, row_number() OVER (
          |    PARTITION BY c_id ORDER BY n DESC, tok ASC) AS rank
          |  FROM tc)
          |SELECT rk.c_id, sz.n_docs, CAST(rk.rank AS BIGINT) AS rank,
          |  rk.tok, rk.n
          |FROM rk JOIN sz ON sz.c_id = rk.c_id WHERE rk.rank <= 3""".stripMargin),

    "q157_incremental_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS h
        |  FROM documents)
        |SELECT doc_id, h FROM d
        |WHERE doc_id >= 250 AND h NOT IN (SELECT h FROM d WHERE doc_id < 250)""".stripMargin,

    "q156_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |counts AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
        |total AS (SELECT count(*) AS total FROM toks),
        |top AS (SELECT token, n FROM counts ORDER BY n DESC, token ASC LIMIT 50),
        |r AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
        |    SUM(n) OVER (ORDER BY n DESC, token ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM top)
        |SELECT rank, token, n, CAST(cum AS BIGINT) AS cum,
        |  CAST(cum AS DOUBLE) / total AS coverage
        |FROM r CROSS JOIN total""".stripMargin,

    "q142_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT doc_id, term, tf, df,
        |    (tf * (n_docs + 1) * 1000000) // (df + 1) AS score_fp
        |  FROM tf JOIN df USING(term) CROSS JOIN n),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_fp DESC, term ASC) AS rank FROM s)
        |SELECT doc_id, term, tf, df, score_fp, rank FROM r WHERE rank <= 3""".stripMargin,

    "q143_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM t)
        |SELECT doc_id, source, n_tok, CAST(start_off AS BIGINT) AS start_off,
        |  CAST(start_off // 512 AS BIGINT) AS seq_id,
        |  (start_off + n_tok - 1) // 512 > start_off // 512 AS crosses
        |FROM o""".stripMargin,

    "q144_embedding_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |cents AS (
        |  SELECT label, pos,
        |    CAST(round(CAST(SUM(vq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
        |  FROM e GROUP BY 1, 2),
        |cnorms AS (SELECT label, SUM(cv*cv) AS cn FROM cents GROUP BY 1),
        |cos AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(SUM(e.vq * c.cv) AS DOUBLE)
        |      / sqrt(CAST(cn.cn AS DOUBLE) * CAST(n.nrm AS DOUBLE)) AS cos
        |  FROM e
        |  JOIN cents c ON c.label = e.label AND c.pos = e.pos
        |  JOIN cnorms cn ON cn.label = e.label
        |  JOIN norms n ON n.vec_id = e.vec_id
        |  GROUP BY 1, 2, cn.cn, n.nrm),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY cos ASC, vec_id ASC) AS rank FROM cos)
        |SELECT label, vec_id, cos, rank FROM r WHERE rank <= 5""".stripMargin,

    // DuckDB list slice toks[a:b] is 1-based inclusive == Spark
    // slice(toks, a, b-a+1); generate_series is inclusive of the stop
    "q164_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n_tok, g.chunk_id
        |  FROM t, LATERAL (SELECT unnest(generate_series(0,
        |    (greatest(n_tok - 64, 0) + 47) // 48)) AS chunk_id) g)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS start_tok,
        |  CAST(least(n_tok - chunk_id * 48, 64) AS BIGINT) AS chunk_len,
        |  array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
        |    AS chunk_text
        |FROM c""".stripMargin,

    "q165_token_budget_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS prior
        |  FROM t)
        |SELECT doc_id, source, n_tok, prior FROM o WHERE prior < 800""".stripMargin,

    "q174_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m,
        |    embedding
        |  FROM embeddings),
        |x AS (
        |  SELECT vec_id, m, i AS pos, CAST(embedding[i+1] AS DOUBLE) AS v
        |  FROM e, range(0, 64) r(i))
        |SELECT vec_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(round(v * 127.0 / m) AS BIGINT) AS qv, m
        |FROM x""".stripMargin,

    "q171_bpe_pairs" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> concat(toks[i], ' ', toks[i+1]))) AS pair
        |  FROM t)
        |SELECT pair, COUNT(*) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,

    "q167_importance_sample" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 50 +
        |    CAST(len(list_filter(toks, x -> x IN ('a','the','of','and','to','in'))) AS DOUBLE)
        |      / len(toks) * 25 +
        |    CASE WHEN len(toks) BETWEEN 20 AND 200 THEN 25.0 ELSE 0.0 END AS score
        |  FROM t),
        |k AS (SELECT doc_id, score,
        |        CAST(least(floor(score * 2.56), 255) AS BIGINT) AS k FROM sc)
        |SELECT doc_id, score, k FROM k
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |  < lpad(lower(hex(k)), 2, '0')""".stripMargin,

    "q168_dedup_survivors" ->
      s"""WITH RECURSIVE ds AS ($docShinglesSql),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |e0 AS (
         |  SELECT doc_a, doc_b FROM p
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b
         |  WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM e0
         |  UNION ALL SELECT doc_b, doc_a FROM e0),
         |reach(u, lbl) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (SELECT u AS doc_id, MIN(lbl) AS component FROM reach GROUP BY u),
         |t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 50 +
         |    CAST(len(list_filter(toks, x -> x IN ('a','the','of','and','to','in'))) AS DOUBLE)
         |      / len(toks) * 25 +
         |    CASE WHEN len(toks) BETWEEN 20 AND 200 THEN 25.0 ELSE 0.0 END AS score
         |  FROM t),
         |j AS (
         |  SELECT c.component, c.doc_id, sc.score,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY sc.score DESC, c.doc_id ASC) AS rank,
         |    COUNT(*) OVER (PARTITION BY c.component) AS n_members
         |  FROM comp c JOIN sc ON sc.doc_id = c.doc_id)
         |SELECT component, doc_id AS survivor, score,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM j WHERE rank = 1""".stripMargin,

    "q166_train_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccccccccccccccccccccccccccccc'
        |         THEN 'train'
        |       WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666666666666666666666666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q301_c4_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    CAST(unnest(range(len(string_split(text, ' ')))) AS INT) AS pos
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, pos,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |        || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS span,
        |    lead(tok, 4) OVER w AS t_last
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |occ AS (
        |  SELECT doc_id, pos, md5(span) AS h FROM sp WHERE t_last IS NOT NULL),
        |rk AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
        |    COUNT(*) OVER (PARTITION BY h) AS cnt
        |  FROM occ),
        |rem AS (
        |  SELECT DISTINCT doc_id, pos + o AS pos
        |  FROM rk, (SELECT CAST(unnest(range(0, 5)) AS INT) AS o) r
        |  WHERE cnt >= 2 AND rn >= 2),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM toks t LEFT JOIN rem ON t.doc_id = rem.doc_id AND t.pos = rem.pos
        |  WHERE rem.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS kept_text
        |  FROM kept GROUP BY 1),
        |tot AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY 1)
        |SELECT tot.doc_id, tot.n_tokens,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  coalesce(agg.kept_text, '') AS kept_text
        |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id""".stripMargin,

    "q303_quality_regressor" -> {
      // DuckDB SUM(BIGINT) is already HUGEINT; identity widening
      val (det, d0, d1, d2) = cramer3(identity)
      def ppmSql(n: String) =
        s"CAST(CASE WHEN $n >= 0 THEN ($n * 1000000) // det " +
          s"ELSE -((-($n) * 1000000) // det) END AS BIGINT)"
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t = 'the' OR t = 'a')) AS BIGINT) AS x2,
         |    n_chars AS y
         |  FROM documents),
         |g AS (
         |  SELECT CAST(COUNT(*) AS HUGEINT) AS s00, SUM(x1) AS s01,
         |    SUM(x2) AS s02, SUM(x1*x1) AS s11, SUM(x1*x2) AS s12,
         |    SUM(x2*x2) AS s22, SUM(y) AS sy0, SUM(x1*y) AS sy1,
         |    SUM(x2*y) AS sy2
         |  FROM f),
         |d AS (SELECT $det AS det, $d0 AS d0, $d1 AS d1, $d2 AS d2 FROM g),
         |j AS (
         |  SELECT f.doc_id, f.x1, f.x2, f.y, d.det, d.d0, d.d1, d.d2,
         |    d.d0 + d.d1 * f.x1 + d.d2 * f.x2 AS num
         |  FROM f, d),
         |k AS (
         |  SELECT doc_id, x1, x2, y, det, d0, d1, d2,
         |    ${ppmSql("num")} AS yhat_ppm
         |  FROM j)
         |SELECT doc_id, x1, x2, y, yhat_ppm,
         |  y * 1000000 - yhat_ppm AS resid_ppm,
         |  ${ppmSql("d0")} AS beta0_ppm,
         |  ${ppmSql("d1")} AS beta1_ppm,
         |  ${ppmSql("d2")} AS beta2_ppm
         |FROM k""".stripMargin
    },

    "q307_mixture_planner" ->
      """WITH t AS (
        |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |    30 - CAST(substr(source, 4) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1),
        |g AS (
        |  SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
        |    CAST(SUM(weight) AS BIGINT) AS total_weight FROM t)
        |SELECT source, tokens, weight,
        |  tokens * 1000000 // total_tokens AS share_ppm,
        |  ((total_tokens // 2) * weight) // total_weight AS required,
        |  (((total_tokens // 2) * weight) // total_weight) * 1000000 // tokens
        |    AS epochs_ppm
        |FROM t, g""".stripMargin,

    "q304_bpe_merges" -> bpeOracle(BpeRounds,
      (1 to BpeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, a, b, n FROM best$r")
        .mkString("\n UNION ALL ")),

    "q320_epoch_shuffle" ->
      """WITH k AS (
        |  SELECT e.i AS epoch, d.doc_id,
        |    md5('ep:' || e.i || ':' || d.doc_id) AS k
        |  FROM documents d, range(0, 2) e(i)),
        |r AS (
        |  SELECT epoch, doc_id, k,
        |    row_number() OVER (PARTITION BY epoch ORDER BY k) AS position
        |  FROM k)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        |  CAST(position AS BIGINT) AS position, doc_id,
        |  CAST(('0x' || substr(k, 1, 15)) AS BIGINT) % 8 AS shard
        |FROM r WHERE position <= 10""".stripMargin,

    "q317_pca_top_component" -> pcaOracle(6),

    "q321_pca_second_component" -> pcaOracle2(6),

    "q319_abtt_projection" -> pcaOracle(6,
      """SELECT c.vec_id, CAST(SUM(c.c * x.x) AS BIGINT) AS proj
        |FROM c JOIN x6 x USING (dim)
        |GROUP BY 1
        |ORDER BY ABS(CAST(SUM(c.c * x.x) AS BIGINT)) DESC, c.vec_id
        |LIMIT 10""".stripMargin),

    "q318_jl_projection" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, j.i AS dim,
        |    CAST(round(CAST(embedding[CAST(j.i + 1 AS INT)] AS DOUBLE)
        |      * 1000000) AS BIGINT)
        |      AS v
        |  FROM embeddings, range(0, 64) j(i)),
        |sg AS MATERIALIZED (
        |  SELECT k.i AS k, j.i AS dim,
        |    CASE WHEN CAST(('0x' ||
        |        substr(md5('jl:' || k.i || ':' || j.i), 1, 15)) AS BIGINT)
        |      % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM range(0, 16) k(i), range(0, 64) j(i)),
        |proj AS MATERIALIZED (
        |  SELECT e.vec_id, s.k, CAST(SUM(e.v * s.sgn) AS BIGINT) AS p
        |  FROM e JOIN sg s USING (dim) GROUP BY 1, 2),
        |q AS (SELECT k, p FROM proj WHERE vec_id = 0),
        |dots AS (
        |  SELECT pr.vec_id, CAST(SUM(pr.p * q.p) AS BIGINT) AS proj_dot
        |  FROM proj pr JOIN q USING (k) WHERE pr.vec_id <> 0 GROUP BY 1),
        |ex AS (
        |  SELECT e2.vec_id, CAST(SUM(e2.v * e0.v) AS BIGINT) AS exact_dot
        |  FROM e e2 JOIN (SELECT dim, v FROM e WHERE vec_id = 0) e0 USING (dim)
        |  WHERE e2.vec_id <> 0 GROUP BY 1)
        |SELECT d.vec_id, d.proj_dot, x.exact_dot
        |FROM dots d JOIN ex x USING (vec_id)
        |ORDER BY d.proj_dot DESC, d.vec_id LIMIT 10""".stripMargin,

    "q322_jl_recall" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, j.i AS dim,
        |    CAST(round(CAST(embedding[CAST(j.i + 1 AS INT)] AS DOUBLE)
        |      * 1000000) AS BIGINT)
        |      AS v
        |  FROM embeddings, range(0, 64) j(i)),
        |sg AS MATERIALIZED (
        |  SELECT k.i AS k, j.i AS dim,
        |    CASE WHEN CAST(('0x' ||
        |        substr(md5('jl:' || k.i || ':' || j.i), 1, 15)) AS BIGINT)
        |      % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM range(0, 16) k(i), range(0, 64) j(i)),
        |proj AS MATERIALIZED (
        |  SELECT e.vec_id, s.k, CAST(SUM(e.v * s.sgn) AS BIGINT) AS p
        |  FROM e JOIN sg s USING (dim) GROUP BY 1, 2),
        |q AS (SELECT k, p FROM proj WHERE vec_id = 0),
        |ptop AS (
        |  SELECT pr.vec_id
        |  FROM proj pr JOIN q USING (k) WHERE pr.vec_id <> 0
        |  GROUP BY 1 ORDER BY SUM(pr.p * q.p) DESC, pr.vec_id LIMIT 10),
        |etop AS (
        |  SELECT e2.vec_id
        |  FROM e e2 JOIN (SELECT dim, v FROM e WHERE vec_id = 0) e0 USING (dim)
        |  WHERE e2.vec_id <> 0
        |  GROUP BY 1 ORDER BY SUM(e2.v * e0.v) DESC, e2.vec_id LIMIT 10)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
        |  CAST(COUNT(*) AS BIGINT) * 1000000 // 10 AS recall_ppm
        |FROM etop JOIN ptop USING (vec_id)""".stripMargin,

    "q316_cms_heavy_hitters" ->
      """WITH t AS MATERIALIZED (
        |  SELECT tok FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |pos AS MATERIALIZED (
        |  SELECT tok, r.i AS r,
        |    CAST(('0x' || substr(md5('cms' || r.i || ':' || tok), 1, 15))
        |      AS BIGINT) % 512 AS c
        |  FROM t, range(0, 4) r(i)),
        |counters AS (
        |  SELECT r, c, CAST(COUNT(*) AS BIGINT) AS v
        |  FROM pos GROUP BY 1, 2),
        |cand AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM t GROUP BY 1),
        |cpos AS (SELECT DISTINCT tok, r, c FROM pos),
        |est AS (
        |  SELECT cp.tok, MIN(co.v) AS est
        |  FROM cpos cp JOIN counters co USING (r, c) GROUP BY 1)
        |SELECT c.tok, c.n_exact, e.est
        |FROM cand c JOIN est e USING (tok)
        |ORDER BY e.est DESC, c.tok LIMIT 15""".stripMargin,

    "q341_sketch_quantile" ->
      """WITH g AS MATERIALIZED (
        |  SELECT event_type, gap FROM (
        |    SELECT event_type,
        |      epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
        |    FROM events)
        |  WHERE gap IS NOT NULL AND gap > 0),
        |b AS MATERIALIZED (
        |  SELECT event_type,
        |    CASE WHEN gap < 16 THEN CAST(gap AS INT)
        |         ELSE CAST((length(printf('%b', gap)) - 1) * 16 +
        |           ((gap - (CAST(1 AS BIGINT)
        |              << (length(printf('%b', gap)) - 1)))
        |            >> (length(printf('%b', gap)) - 5)) AS INT) END AS bucket
        |  FROM g),
        |c AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bucket,
        |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
        |      AS BIGINT) AS cum
        |  FROM c),
        |picked AS (
        |  SELECT event_type, n,
        |    MIN(CASE WHEN cum > (n - 1) * 50 // 100 THEN bucket END) AS b50,
        |    MIN(CASE WHEN cum > (n - 1) * 90 // 100 THEN bucket END) AS b90,
        |    MIN(CASE WHEN cum > (n - 1) * 99 // 100 THEN bucket END) AS b99
        |  FROM cum GROUP BY 1, 2),
        |nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n2
        |       FROM g GROUP BY 1),
        |r AS (SELECT event_type, gap, row_number() OVER (
        |        PARTITION BY event_type ORDER BY gap) AS rn FROM g),
        |ex AS (
        |  SELECT r.event_type,
        |    MIN(CASE WHEN rn = (n2 - 1) * 50 // 100 + 1 THEN gap END)
        |      AS p50_exact_us,
        |    MIN(CASE WHEN rn = (n2 - 1) * 90 // 100 + 1 THEN gap END)
        |      AS p90_exact_us,
        |    MIN(CASE WHEN rn = (n2 - 1) * 99 // 100 + 1 THEN gap END)
        |      AS p99_exact_us
        |  FROM r JOIN nn USING (event_type) GROUP BY 1)
        |SELECT p.event_type, p.n,
        |  CASE WHEN b50 < 16 THEN CAST(b50 AS BIGINT)
        |       ELSE (CAST(1 AS BIGINT) << CAST(b50 // 16 AS INT)) +
        |         CAST(b50 % 16 AS BIGINT) *
        |         (CAST(1 AS BIGINT) << CAST(b50 // 16 - 4 AS INT)) END AS p50_us,
        |  CASE WHEN b90 < 16 THEN CAST(b90 AS BIGINT)
        |       ELSE (CAST(1 AS BIGINT) << CAST(b90 // 16 AS INT)) +
        |         CAST(b90 % 16 AS BIGINT) *
        |         (CAST(1 AS BIGINT) << CAST(b90 // 16 - 4 AS INT)) END AS p90_us,
        |  CASE WHEN b99 < 16 THEN CAST(b99 AS BIGINT)
        |       ELSE (CAST(1 AS BIGINT) << CAST(b99 // 16 AS INT)) +
        |         CAST(b99 % 16 AS BIGINT) *
        |         (CAST(1 AS BIGINT) << CAST(b99 // 16 - 4 AS INT)) END AS p99_us,
        |  ex.p50_exact_us, ex.p90_exact_us, ex.p99_exact_us
        |FROM picked p JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q353_cdc_chunk_dedup" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT doc_id,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 400) AS t
        |  FROM documents),
        |bounds AS MATERIALIZED (
        |  -- 0-based index j of each chunk-final char: the 8-char window
        |  -- ending at j has base-3 polynomial sum divisible by 32;
        |  -- the last char is always a boundary (tail chunk)
        |  SELECT doc_id, t, unnest(list_distinct(
        |    [ jj - 1 FOR jj IN range(8, length(t) + 1)
        |      IF list_sum([ord(substr(t, jj - 7 + tt, 1)) *
        |                   ([1,3,9,27,81,243,729,2187])[tt + 1]
        |                   FOR tt IN range(0, 8)]) % 32 = 0 ]
        |    || [length(t) - 1])) AS j
        |  FROM docs WHERE length(t) > 0),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id,
        |    substr(t, COALESCE(lag(j) OVER w, -1) + 2,
        |           j - COALESCE(lag(j) OVER w, -1)) AS chunk
        |  FROM bounds
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY j)),
        |occ AS (SELECT md5(chunk) AS h5, COUNT(*) AS cnt
        |        FROM chunks GROUP BY 1)
        |SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(length(c.chunk)) AS BIGINT) AS chunk_bytes,
        |  CAST(SUM(CASE WHEN o.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_chunks
        |FROM chunks c JOIN occ o ON md5(c.chunk) = o.h5
        |GROUP BY 1""".stripMargin,

    // restates the ustar 512-byte block arithmetic: header block per
    // member, payload rounded up to blocks, two end-of-archive blocks
    "q355_tar_members" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    'id=' || doc_id || chr(10) || 'lang=' || lang || chr(10) ||
        |      'source=' || source || chr(10) AS meta
        |  FROM documents)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_members,
        |  CAST(1 AS BIGINT) AS n_dirs,
        |  CAST(512 * (1 + 1 + (strlen(text) + 511) // 512
        |              + 1 + (strlen(meta) + 511) // 512 + 2)
        |    AS BIGINT) AS tar_len,
        |  CAST(strlen(text) + strlen(meta) AS BIGINT) AS payload_bytes,
        |  md5(text) AS text_md5
        |FROM m""".stripMargin,

    // stored sizes and the decoded plane; deflated byte counts are
    // implementation detail (not restated), CRC/interop live in ZipSpec
    "q356_zip_extract" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    '{"id":' || doc_id || ',"lang":"' || lang ||
        |      '","source":"' || source || '"}' AS meta
        |  FROM documents)
        |SELECT doc_id, CAST(2 AS BIGINT) AS n_entries,
        |  CAST(strlen(text) + strlen(meta) AS BIGINT) AS raw_bytes,
        |  CAST(strlen(meta) AS BIGINT) AS stored_csize,
        |  md5(text) AS text_md5
        |FROM m""".stripMargin,

    // declared content sizes (frame headers carry the exact decoded
    // byte counts), the skippable payload size, and the decoded plane
    "q357_zstd_frames" ->
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_frames,
        |  CAST(1 AS BIGINT) AS n_skippable,
        |  CAST(strlen(text) AS BIGINT) AS declared_bytes,
        |  CAST(5 + strlen(lang) AS BIGINT) AS skip_bytes,
        |  md5(text) AS text_md5
        |FROM documents""".stripMargin,

    // restates the spanning shard assignment (window prefix sum), the
    // ustar block arithmetic, and the in-order payload digest
    "q359_webdataset_shards" ->
      """WITH s AS (
        |  SELECT doc_id, text, strlen(text) AS sz FROM documents),
        |a AS (
        |  SELECT doc_id, text, sz,
        |    CAST((SUM(sz) OVER (ORDER BY doc_id) - sz) // 4096 AS BIGINT)
        |      AS shard_id
        |  FROM s)
        |SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(sz) AS BIGINT) AS payload_bytes,
        |  CAST(512 * SUM(1 + (sz + 511) // 512) + 1024 AS BIGINT)
        |    AS tar_len,
        |  true AS reparse_ok,
        |  md5(string_agg(text, '' ORDER BY doc_id)) AS text_md5
        |FROM a GROUP BY shard_id""".stripMargin,

    // the serialized length from first principles: varint length
    // prefixes computed bottom-up (BytesList -> Feature -> map entry ->
    // Features -> Example -> TFRecord 16-byte framing)
    "q360_tfrecord_export" ->
      """WITH t AS (
        |  SELECT doc_id, text, strlen(text) AS tl,
        |    CASE WHEN doc_id < 128 THEN 1 WHEN doc_id < 16384 THEN 2
        |         WHEN doc_id < 2097152 THEN 3 ELSE 4 END AS vi
        |  FROM documents),
        |x AS (SELECT *,
        |    1 + (CASE WHEN tl < 128 THEN 1 ELSE 2 END) + tl AS bl FROM t),
        |y AS (SELECT *,
        |    1 + (CASE WHEN bl < 128 THEN 1 ELSE 2 END) + bl AS fb FROM x),
        |z AS (SELECT *,
        |    7 + (CASE WHEN fb < 128 THEN 1 ELSE 2 END) + fb AS e_text,
        |    14 + vi AS e_id, 23 AS e_q FROM y),
        |w AS (SELECT *,
        |    (1 + (CASE WHEN e_text < 128 THEN 1 ELSE 2 END) + e_text)
        |      + (2 + e_id) + (2 + e_q) AS f FROM z)
        |SELECT doc_id,
        |  CAST(16 + 1 + (CASE WHEN f < 128 THEN 1 ELSE 2 END) + f
        |    AS BIGINT) AS rec_len,
        |  CAST(3 AS BIGINT) AS n_features,
        |  doc_id AS id_back,
        |  CAST((doc_id % 8) * 0.25 + 1.0 AS DOUBLE) AS quality,
        |  md5(text) AS text_md5
        |FROM w""".stripMargin,

    // restates the frequency-segment dictionary build: all 8-grams of
    // the ASCII projection, counts, top-16 by (count desc, ngram asc)
    "q364_zstd_dict_storage" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT doc_id,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 400) AS t
        |  FROM documents),
        |ng AS MATERIALIZED (
        |  SELECT substr(t, i.i, 8) AS ngram
        |  FROM docs, range(1, 400) i(i)
        |  WHERE length(t) >= 8 AND i.i <= length(t) - 7),
        |cnts AS (SELECT ngram, COUNT(*) AS cnt FROM ng GROUP BY 1),
        |top AS (
        |  SELECT ngram, cnt,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, ngram ASC) AS rank
        |  FROM cnts ORDER BY cnt DESC, ngram ASC LIMIT 16)
        |SELECT CAST(rank AS BIGINT) AS rank, ngram,
        |  CAST(cnt AS BIGINT) AS cnt,
        |  CAST((SELECT SUM(strlen(ngram)) FROM top) AS BIGINT) AS dict_len,
        |  true AS roundtrip_all
        |FROM top ORDER BY rank""".stripMargin,

    // restates the dump synthesis: titles, namespace and page-id
    // arithmetic, and the UNESCAPED bodies (the parser's entity decode
    // must return exactly the pre-escape text)
    "q365_wiki_dump_ingest" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 300) AS t
        |  FROM documents)
        |SELECT doc_id, CAST(2 AS BIGINT) AS n_pages,
        |  'Doc ' || doc_id AS title,
        |  CAST(1 AS BIGINT) AS ns_sum,
        |  CAST(2 * doc_id + 1 AS BIGINT) AS page_id_sum,
        |  md5(t) AS article_md5,
        |  'reply & ack ' || doc_id AS talk_text
        |FROM d WHERE length(t) > 0""".stripMargin,

    // restates the delta-of-delta class census and the exact compressed
    // timestamp bit count from lag windows over the same block key
    "q367_gorilla_metrics" -> gorillaCensusSql,
    // stream-built blocks are bit-identical to batch blocks (the in-plan
    // recompress check), so the census oracle is q367's verbatim
    "q378_gorilla_stream" -> gorillaCensusSql,


    // restates the record synthesis and every decoded aggregate
    "q368_avro_ocf_ingest" ->
      """WITH d AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |r AS (
        |  SELECT doc_id, rr.i AS r, 3 * doc_id + rr.i AS rid,
        |    (doc_id % 7) * 0.25 + rr.i AS score,
        |    (doc_id + rr.i) % 2 = 0 AS kept
        |  FROM d, range(0, 3) rr(i))
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'null' ELSE 'deflate' END AS codec,
        |  CAST(3 AS BIGINT) AS n_records,
        |  CAST(SUM(rid) AS BIGINT) AS id_sum,
        |  CAST(SUM(score) AS DOUBLE) AS score_sum,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  string_agg('Doc ' || doc_id || ' r' || r, '|' ORDER BY r)
        |    AS titles
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q342_exact_substr_spans" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS MATERIALIZED (
        |  SELECT doc_id, u.pos AS pos, u.h AS h8 FROM (
        |    SELECT doc_id,
        |      unnest([{'pos': i - 1,
        |               'h': md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2],
        |                 toks[i+3], toks[i+4], toks[i+5], toks[i+6],
        |                 toks[i+7]))}
        |              FOR i IN range(1, len(toks) - 6)]) AS u
        |    FROM t WHERE len(toks) >= 8)),
        |dup AS (SELECT h8 FROM h GROUP BY 1 HAVING COUNT(*) >= 2),
        |d AS (SELECT doc_id, pos FROM h JOIN dup USING (h8)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CAST(SUM(CASE WHEN gap IS NULL OR gap > 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS island
        |  FROM (SELECT doc_id, pos,
        |          pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
        |        FROM d)),
        |sp AS (
        |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e
        |  FROM isl GROUP BY 1, 2),
        |pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |    CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
        |    CAST(MAX(e - s) AS BIGINT) AS longest_span
        |  FROM sp GROUP BY 1)
        |SELECT pd.doc_id, CAST(len(t.toks) AS BIGINT) AS n_words, pd.n_spans,
        |  pd.dup_tokens, pd.longest_span,
        |  pd.dup_tokens * 1000000 // len(t.toks) AS dup_ppm
        |FROM pd JOIN t USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q344_image_dhash_neardup" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id AS id, (doc_id // 3) // 3 AS g, (doc_id // 3) % 3 AS r
        |  FROM documents WHERE doc_id % 3 = 0),
        |dims AS (SELECT id, g, r, g % 7 + 12 AS w, g % 5 + 10 AS h FROM d),
        |px AS MATERIALIZED (
        |  SELECT id, w, h,
        |    CASE WHEN r = 2 THEN
        |      ((x.i*16 // w) * (5 + g % 3) + (y.i*16 // h) * (7 + g % 5) + g) % 16
        |         WHEN r = 1 AND x.i = (g*5) % w AND y.i = (g*7) % h THEN
        |      ((x.i*16 // w) * (2 + g % 3) + (y.i*16 // h) * (3 + g % 5) + g + 1) % 16
        |         ELSE
        |      ((x.i*16 // w) * (2 + g % 3) + (y.i*16 // h) * (3 + g % 5) + g) % 16
        |    END AS k,
        |    x.i AS x, y.i AS y
        |  FROM dims, range(0, 18) x(i), range(0, 14) y(i)
        |  WHERE x.i < w AND y.i < h),
        |cells AS MATERIALIZED (
        |  SELECT id, w, h, (x*9) // w AS cx, (y*8) // h AS cy,
        |    CAST(SUM(k) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM px GROUP BY 1, 2, 3, 4, 5),
        |bits AS MATERIALIZED (
        |  SELECT a.id, a.w, a.h, a.cy * 8 + a.cx AS bitpos,
        |    CASE WHEN b.s * a.n > a.s * b.n THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b
        |    ON a.id = b.id AND b.cx = a.cx + 1 AND b.cy = a.cy
        |  WHERE a.cx < 8),
        |bands AS (
        |  SELECT id, w, h, bitpos // 16 AS band,
        |    CAST(SUM(bit << (bitpos % 16)) AS BIGINT) AS bv
        |  FROM bits GROUP BY 1, 2, 3, 4),
        |cand AS (
        |  SELECT DISTINCT x.id AS a, y.id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bv = y.bv AND x.w = y.w AND x.h = y.h
        |   AND x.id < y.id),
        |ham AS (
        |  SELECT c.a, c.b,
        |    CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.id = c.a
        |  JOIN bits bb ON bb.id = c.b AND bb.bitpos = ba.bitpos
        |  GROUP BY 1, 2)
        |SELECT a AS doc_a, b AS doc_b, hamming FROM ham
        |WHERE hamming <= 10 ORDER BY doc_a, doc_b""".stripMargin,

    "q313_bpe_merges32" -> bpeOracle(32,
      (1 to 32).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, a, b, n FROM best$r")
        .mkString("\n UNION ALL ")),

    "q305_bpe_vocab" -> bpeOracle(BpeRounds,
      s"""SELECT symbol, CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM (
         |  SELECT cnt, unnest(sym) AS symbol FROM w${BpeRounds + 1})
         |GROUP BY 1 ORDER BY n_tokens DESC, symbol LIMIT 30""".stripMargin),

    "q308_bpe_encode" -> bpeOracle(BpeRounds,
      s""",
         |j AS (
         |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(len(v.sym)) AS BIGINT) AS n_bpe_tokens,
         |    CAST(SUM(len(t.w)) AS BIGINT) AS n_chars
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t
         |  JOIN w${BpeRounds + 1} v ON v.w = t.w
         |  WHERE t.w <> ''
         |  GROUP BY 1)
         |SELECT doc_id, n_words, n_bpe_tokens, n_chars,
         |  n_bpe_tokens * 1000000 // n_chars AS compression_ppm
         |FROM j""".stripMargin),

    "q332_url_canonicalize" ->
      (urlCanonSql +
        """SELECT canonical_url, count(*) AS n_fetches,
          |  count(DISTINCT url) AS n_variants,
          |  min(event_id) AS first_event
          |FROM canon GROUP BY 1""".stripMargin),

    "q333_registered_domain_rollup" ->
      (urlCanonSql +
        """, psl AS (
          |  SELECT * FROM (VALUES ('com', 1), ('org', 1), ('net', 1),
          |    ('uk', 1), ('co.uk', 2)) t(suffix, slabels)),
          |sk AS (
          |  SELECT h.event_id, max(p.slabels) AS sk
          |  FROM (SELECT event_id, string_split(host, '.') AS l
          |        FROM canon) h, psl p
          |  WHERE len(h.l) > p.slabels
          |    AND array_to_string(
          |          h.l[len(h.l) - p.slabels + 1 : len(h.l)], '.') = p.suffix
          |  GROUP BY 1),
          |reg AS (
          |  SELECT c.*, array_to_string(
          |      c.l[len(c.l) - k.sk : len(c.l)], '.') AS registered
          |  FROM (SELECT *, string_split(host, '.') AS l FROM canon) c
          |  JOIN sk k USING (event_id))
          |SELECT registered, count(DISTINCT host) AS n_hosts,
          |  count(DISTINCT canonical_url) AS n_pages,
          |  count(*) AS n_fetches,
          |  CAST(SUM(had_junk) AS BIGINT) AS junk_fetches,
          |  CAST(SUM(had_junk) AS BIGINT) * 1000000 // count(*) AS junk_ppm,
          |  (count(*) - count(DISTINCT canonical_url)) * 1000000 // count(*)
          |    AS dup_ppm
          |FROM reg GROUP BY 1""".stripMargin),

    "q334_mmr_diversified_topk" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS MATERIALIZED (
        |  SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |dots AS (
        |  SELECT n.vec_id AS n_id, SUM(q.vq * n.vq) AS dot
        |  FROM e q JOIN e n ON q.pos = n.pos
        |  WHERE q.vec_id = 0 AND n.vec_id <> 0
        |  GROUP BY 1),
        |rel AS MATERIALIZED (
        |  SELECT d.n_id, CAST(d.dot AS DOUBLE) /
        |    sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS rel
        |  FROM dots d, norms nq, norms nn
        |  WHERE nq.vec_id = 0 AND nn.vec_id = d.n_id),
        |cand AS MATERIALIZED (
        |  SELECT n_id, rel FROM rel ORDER BY rel DESC, n_id ASC LIMIT 20),
        |ce AS MATERIALIZED (
        |  SELECT e.vec_id, e.pos, e.vq
        |  FROM e JOIN cand c ON c.n_id = e.vec_id),
        |sdots AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.vq * b.vq) AS dot
        |  FROM ce a JOIN ce b ON a.pos = b.pos AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |sims AS MATERIALIZED (
        |  SELECT s.a_id, s.b_id, CAST(s.dot AS DOUBLE) /
        |    sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS sim
        |  FROM sdots s
        |  JOIN norms na ON na.vec_id = s.a_id
        |  JOIN norms nb ON nb.vec_id = s.b_id),
        |s1 AS MATERIALIZED (
        |  SELECT n_id, rel, CAST(0.0 AS DOUBLE) AS maxsim, 1 AS rank
        |  FROM cand ORDER BY rel DESC, n_id LIMIT 1),
        |p2 AS MATERIALIZED (
        |  SELECT n_id, rel, maxsim, 2 AS rank FROM (
        |    SELECT c.n_id, c.rel, max(s.sim) AS maxsim
        |    FROM cand c JOIN sims s ON s.a_id = c.n_id
        |    WHERE s.b_id IN (SELECT n_id FROM s1)
        |      AND c.n_id NOT IN (SELECT n_id FROM s1)
        |    GROUP BY 1, 2)
        |  ORDER BY rel - maxsim DESC, n_id LIMIT 1),
        |sel2 AS MATERIALIZED (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM p2),
        |p3 AS MATERIALIZED (
        |  SELECT n_id, rel, maxsim, 3 AS rank FROM (
        |    SELECT c.n_id, c.rel, max(s.sim) AS maxsim
        |    FROM cand c JOIN sims s ON s.a_id = c.n_id
        |    WHERE s.b_id IN (SELECT n_id FROM sel2)
        |      AND c.n_id NOT IN (SELECT n_id FROM sel2)
        |    GROUP BY 1, 2)
        |  ORDER BY rel - maxsim DESC, n_id LIMIT 1),
        |sel3 AS MATERIALIZED (
        |  SELECT * FROM sel2 UNION ALL SELECT * FROM p3),
        |p4 AS MATERIALIZED (
        |  SELECT n_id, rel, maxsim, 4 AS rank FROM (
        |    SELECT c.n_id, c.rel, max(s.sim) AS maxsim
        |    FROM cand c JOIN sims s ON s.a_id = c.n_id
        |    WHERE s.b_id IN (SELECT n_id FROM sel3)
        |      AND c.n_id NOT IN (SELECT n_id FROM sel3)
        |    GROUP BY 1, 2)
        |  ORDER BY rel - maxsim DESC, n_id LIMIT 1),
        |sel4 AS MATERIALIZED (
        |  SELECT * FROM sel3 UNION ALL SELECT * FROM p4),
        |p5 AS MATERIALIZED (
        |  SELECT n_id, rel, maxsim, 5 AS rank FROM (
        |    SELECT c.n_id, c.rel, max(s.sim) AS maxsim
        |    FROM cand c JOIN sims s ON s.a_id = c.n_id
        |    WHERE s.b_id IN (SELECT n_id FROM sel4)
        |      AND c.n_id NOT IN (SELECT n_id FROM sel4)
        |    GROUP BY 1, 2)
        |  ORDER BY rel - maxsim DESC, n_id LIMIT 1),
        |sel5 AS (SELECT * FROM sel4 UNION ALL SELECT * FROM p5)
        |SELECT rank, n_id, rel, maxsim, (rel - maxsim) / 2 AS mmr
        |FROM sel5""".stripMargin,

    "q335_html_extract" ->
      (htmlSql +
        """, c1 AS (
          |  SELECT doc_id, html,
          |    regexp_replace(regexp_replace(regexp_replace(html,
          |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          |      '(?s)<!--.*?-->', ' ', 'g') AS nc
          |  FROM h),
          |c2 AS (
          |  SELECT doc_id, html, nc,
          |    trim(regexp_replace(
          |      replace(replace(replace(replace(replace(replace(
          |        regexp_replace(nc, '<[^>]+>', ' ', 'g'),
          |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          |        '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
          |      '\s+', ' ', 'g')) AS clean
          |  FROM c1)
          |SELECT doc_id, CAST(length(html) AS BIGINT) AS n_html,
          |  CAST(len(regexp_extract_all(nc, '<[^>]+>', 0)) AS BIGINT)
          |    AS n_tags,
          |  CAST(length(clean) AS BIGINT) AS n_clean, clean AS clean_text
          |FROM c2""".stripMargin),

    "q346_warc_extract" -> {
      val uri = "concat('https://site', CAST((doc_id * 7 + 13) % 40 AS STRING), " +
        "'.example/p/', CAST(doc_id % 20 AS STRING))"
      def blen(b: String) = s"strlen($b)"
      htmlSql +
        s""", p AS (
           |  SELECT doc_id, html,
           |    $warcInfoPayloadSql AS p_info,
           |    $warcReqPayloadSql AS p_req,
           |    $warcRespPayloadSql AS p_resp
           |  FROM h),
           |w AS (
           |  SELECT doc_id, html, p_resp, concat(
           |    ${warcRecordSql("warcinfo", "", "application/warc-fields", "p_info", blen)},
           |    ${warcRecordSql("request", uri, "application/http;msgtype=request", "p_req", blen)},
           |    ${warcRecordSql("response", uri, "application/http;msgtype=response", "p_resp", blen)}
           |  ) AS warc FROM p),
           |c1 AS (
           |  SELECT doc_id,
           |    regexp_replace(regexp_replace(regexp_replace(html,
           |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
           |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
           |      '(?s)<!--.*?-->', ' ', 'g') AS nc
           |  FROM h),
           |c2 AS (
           |  SELECT doc_id,
           |    trim(regexp_replace(
           |      replace(replace(replace(replace(replace(replace(
           |        regexp_replace(nc, '<[^>]+>', ' ', 'g'),
           |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |        '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
           |      '\\s+', ' ', 'g')) AS clean
           |  FROM c1)
           |SELECT w.doc_id, CAST(3 AS BIGINT) AS n_records,
           |  CAST(strlen(warc) AS BIGINT) AS warc_len,
           |  CAST(strlen(p_resp) AS BIGINT) AS resp_len,
           |  CAST(CASE WHEN w.doc_id % 11 = 0 THEN 404 ELSE 200 END
           |    AS BIGINT) AS status,
           |  CAST(length(clean) AS BIGINT) AS n_clean, clean AS clean_text
           |FROM w JOIN c2 ON w.doc_id = c2.doc_id""".stripMargin
    },

    "q349_crawl_to_training" ->
      (htmlSql +
        """, c1 AS (
          |  SELECT doc_id,
          |    regexp_replace(regexp_replace(regexp_replace(html,
          |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          |      '(?s)<!--.*?-->', ' ', 'g') AS nc
          |  FROM h),
          |c2 AS (
          |  SELECT doc_id,
          |    trim(regexp_replace(
          |      replace(replace(replace(replace(replace(replace(
          |        regexp_replace(nc, '<[^>]+>', ' ', 'g'),
          |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          |        '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
          |      '\s+', ' ', 'g')) AS clean
          |  FROM c1)
          |SELECT doc_id, CAST(2 AS BIGINT) AS n_captures,
          |  'https://site' || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) ||
          |    '.example/amp/' || CAST(doc_id % 20 AS VARCHAR) AS kept_uri,
          |  CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tokens,
          |  CAST(ceil(len(string_split(clean, ' ')) / 64.0) AS BIGINT)
          |    AS n_chunks
          |FROM c2 WHERE doc_id % 11 <> 0""".stripMargin),

    "q347_warc_gzip" ->
      (htmlSql +
        """, c1 AS (
          |  SELECT doc_id,
          |    regexp_replace(regexp_replace(regexp_replace(html,
          |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          |      '(?s)<!--.*?-->', ' ', 'g') AS nc
          |  FROM h),
          |c2 AS (
          |  SELECT doc_id,
          |    trim(regexp_replace(
          |      replace(replace(replace(replace(replace(replace(
          |        regexp_replace(nc, '<[^>]+>', ' ', 'g'),
          |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          |        '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
          |      '\s+', ' ', 'g')) AS clean
          |  FROM c1)
          |SELECT h.doc_id,
          |  CASE WHEN h.doc_id % 2 = 0 THEN 'gzip' ELSE 'identity' END
          |    AS encoding,
          |  CAST(strlen(h.html) AS BIGINT) AS n_body,
          |  CAST(length(clean) AS BIGINT) AS n_clean, clean AS clean_text
          |FROM h JOIN c2 ON h.doc_id = c2.doc_id""".stripMargin),

    "q336_boilerplate_lines" ->
      """WITH ld AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |l2 AS (
        |  SELECT doc_id, source,
        |    ['copyright ' || source || ' all rights reserved'] ||
        |    [array_to_string(w[i*8+1 : i*8+8], ' ')
        |     FOR i IN range(0, CAST(ceil(len(w) / 8.0) AS INT))] ||
        |    (CASE WHEN doc_id % 2 = 0
        |          THEN ['subscribe to ' || source || ' newsletter']
        |          ELSE []::VARCHAR[] END) AS lines
        |  FROM ld),
        |ex AS (
        |  SELECT doc_id, source, u.pos, u.line, md5(u.line) AS lh
        |  FROM l2, unnest([{'pos': i, 'line': lines[i + 1]}
        |                   FOR i IN range(0, len(lines))]) t(u)),
        |nd AS (
        |  SELECT source, count(DISTINCT doc_id) AS ndocs FROM ld GROUP BY 1),
        |bp AS (
        |  SELECT e.source, e.lh
        |  FROM ex e JOIN nd USING (source)
        |  GROUP BY e.source, e.lh, nd.ndocs
        |  HAVING count(DISTINCT e.doc_id) * 1000000 // nd.ndocs >= 300000),
        |kept AS (
        |  SELECT ex.* FROM ex ANTI JOIN bp USING (source, lh)),
        |tot AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines FROM l2)
        |SELECT k.doc_id, t.n_lines, count(*) AS n_kept,
        |  array_to_string(list(k.line ORDER BY k.pos), ' | ') AS clean_text
        |FROM kept k JOIN tot t USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,

    "q337_anchor_text_agg" ->
      (htmlSql +
        """, atags AS (
          |  SELECT doc_id, atag,
          |    regexp_extract(atag, '<a href="([^"]*)"', 1) AS href,
          |    regexp_extract(atag, '>([^<]*)<', 1) AS anchor
          |  FROM h, unnest(regexp_extract_all(html,
          |    '<a href="[^"]*"[^>]*>[^<]*</a>', 0)) t(atag)),
          |a2 AS (
          |  SELECT doc_id, anchor,
          |    split_part(split_part(href, '://', 2), '/', 1) AS host
          |  FROM atags),
          |pa AS (
          |  SELECT host, anchor, count(*) AS n
          |  FROM a2 GROUP BY 1, 2),
          |top AS (
          |  SELECT host, anchor AS top_anchor, n AS top_anchor_n,
          |    row_number() OVER (PARTITION BY host
          |                       ORDER BY n DESC, anchor) AS rk
          |  FROM pa),
          |st AS (
          |  SELECT host, count(*) AS n_links,
          |    count(DISTINCT doc_id) AS n_src_docs,
          |    count(DISTINCT anchor) AS n_anchor_texts
          |  FROM a2 GROUP BY 1)
          |SELECT s.host, s.n_links, s.n_src_docs, s.n_anchor_texts,
          |  t.top_anchor, t.top_anchor_n
          |FROM st s JOIN top t ON t.host = s.host AND t.rk = 1"""
          .stripMargin),

    "q338_pagerank_hosts" -> pagerankSql,

    "q339_main_content_extract" ->
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<div class="nav"><a href="/">Home</a> <a href="/about">About Site'
        |    || CAST(doc_id % 40 AS VARCHAR) ||
        |    '</a> <a href="/products">Products</a> <a href="/contact">Contact</a></div>'
        |    || '<div class="main"><h2>' || source || ' article ' ||
        |    CAST(doc_id % 13 AS VARCHAR) || '</h2><p>' || text ||
        |    '</p><a href="/ref' || CAST(doc_id % 9 AS VARCHAR) || '">source ' ||
        |    CAST(doc_id % 9 AS VARCHAR) || '</a></div>' ||
        |    '<div class="footer"><a href="/terms">Terms of Service</a> ' ||
        |    '<a href="/privacy">Privacy Policy</a> ' ||
        |    '<a href="/sitemap">Site Map</a> (c) ' || source || '</div>'
        |      AS page
        |  FROM documents),
        |b0 AS (
        |  SELECT doc_id,
        |    regexp_extract_all(page, '(?s)<div[^>]*>.*?</div>', 0) AS arr
        |  FROM pg),
        |bl AS (
        |  SELECT doc_id, u.pos, u.b,
        |    trim(regexp_replace(regexp_replace(u.b, '<[^>]+>', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS btext
        |  FROM b0, unnest([{'pos': i, 'b': arr[i + 1]}
        |                   FOR i IN range(0, len(arr))]) t(u)),
        |d AS (
        |  SELECT doc_id, pos, btext,
        |    CAST(list_sum([length(a)
        |      FOR a IN regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1)])
        |      AS BIGINT) * 1000000 // CAST(length(btext) AS BIGINT)
        |      AS density_ppm
        |  FROM bl)
        |SELECT doc_id, count(*) AS n_blocks,
        |  count(CASE WHEN density_ppm <= 500000 THEN 1 END) AS n_kept,
        |  array_to_string(list(btext ORDER BY pos)
        |    FILTER (WHERE density_ppm <= 500000), ' | ') AS main_text
        |FROM d GROUP BY 1""".stripMargin,

    "q340_robots_filter" ->
      (urlCanonSql +
        """, urls AS (
          |  SELECT DISTINCT host,
          |    regexp_extract(canonical_url, '://[^/]+(/[^?]*)', 1) AS cpath
          |  FROM canon),
          |hosts AS (
          |  SELECT DISTINCT host,
          |    CAST(regexp_extract(host, 'site(\d+)', 1) AS BIGINT) AS hn
          |  FROM urls),
          |ty AS (SELECT ['click','error','purchase','signup','view'] AS ts),
          |rules AS (
          |  SELECT host, u.allow, u.prefix,
          |    CAST(length(u.prefix) AS BIGINT) AS plen
          |  FROM (
          |    SELECT host,
          |      [{'allow': 1, 'prefix': '/'},
          |       {'allow': 0, 'prefix': '/p/' ||
          |          substr(ts[CAST(hn % 5 AS INT) + 1], 1, 2)},
          |       {'allow': 1, 'prefix': '/p/' ||
          |          ts[CAST((hn + 2) % 5 AS INT) + 1]},
          |       {'allow': 0, 'prefix': '/p/' ||
          |          ts[CAST((hn + 4) % 5 AS INT) + 1]},
          |       {'allow': 1, 'prefix': '/p/' ||
          |          ts[CAST((hn + 4) % 5 AS INT) + 1]}] AS rs
          |    FROM hosts, ty) h2, unnest(h2.rs) t(u)),
          |matched AS (
          |  SELECT u.host, u.cpath, r.allow, r.plen
          |  FROM urls u JOIN rules r ON r.host = u.host
          |  WHERE substr(u.cpath, 1, CAST(r.plen AS INT)) = r.prefix),
          |longest AS (
          |  SELECT host, cpath, max(plen) AS bl
          |  FROM matched GROUP BY 1, 2),
          |best AS (
          |  SELECT m.host, m.cpath,
          |    CASE WHEN max(m.allow) = 0 THEN 1 ELSE 0 END AS blocked
          |  FROM matched m JOIN longest l
          |    ON l.host = m.host AND l.cpath = m.cpath AND m.plen = l.bl
          |  GROUP BY 1, 2)
          |SELECT host, count(*) AS n_urls,
          |  CAST(SUM(blocked) AS BIGINT) AS n_blocked,
          |  min(CASE WHEN blocked = 1 THEN cpath END) AS blocked_path,
          |  CAST(SUM(blocked) AS BIGINT) * 1000000 // count(*) AS blocked_ppm
          |FROM best GROUP BY 1""".stripMargin)
  )

  /** DuckDB twin of the q338 PageRank: edges restated from the fixture
    * FORMULA (dst = (doc_id·7 + 13j) mod 40 — Spark parses the same
    * values back out of the HTML anchors, a different formulation), then
    * 8 unrolled damped fixed-point iterations as MATERIALIZED CTEs. */
  private lazy val pagerankSql: String = {
    val iters = (1 to 8).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.node,
         |    (1000000000000 // nn.n) * 15 // 100
         |      + COALESCE(f.inflow, 0) * 85 // 100 AS pr
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS node,
         |               CAST(SUM(p.pr // o.outd) AS BIGINT) AS inflow
         |             FROM edges e JOIN r${k - 1} p ON p.node = e.src
         |             JOIN outd o ON o.src = e.src GROUP BY 1) f
         |    USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT doc_id % 40 AS src, (doc_id * 7 + 13 * j) % 40 AS dst
       |  FROM documents, unnest([1, 2, 3]) t(j)),
       |edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |outd AS (SELECT src, count(*) AS outd FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS MATERIALIZED (
       |  SELECT node, 1000000000000 // n AS pr FROM nodes, nn),
       |$iters
       |SELECT node, pr, pr * 1000000 // 1000000000000 AS pr_ppm
       |FROM r8""".stripMargin
  }

  /** Shared DuckDB twin of [[htmlDocs]] — byte-identical page
    * construction, ending in an `h` CTE with (doc_id, source, html). */
  private lazy val htmlSql: String = {
    def anchor(j: Int): String = {
      val m = s"(doc_id * 7 + ${13 * j}) % 40"
      s"""'<a href="https://site' || CAST($m AS VARCHAR) || '.' ||
    (CASE ($m) % 3 WHEN 0 THEN 'example.com' WHEN 1 THEN 'shop.co.uk'
          ELSE 'data.org' END) ||
    '/p/' || CAST(doc_id % 20 AS VARCHAR) || '">' ||
    (CASE (doc_id + $j) % 3 WHEN 0 THEN 'click here'
          WHEN 1 THEN 'read more'
          ELSE 'visit ' || CAST($m AS VARCHAR) END) || '</a>'"""
    }
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    '<!DOCTYPE html><html><head><title>Doc ' ||
       |    CAST(doc_id AS VARCHAR) ||
       |    '</title><style>.m' || CAST(doc_id % 7 AS VARCHAR) ||
       |    ' { color: red; } .x { font-size: 10px; }</style>' ||
       |    '<script>var x = ' || CAST(doc_id % 11 AS VARCHAR) ||
       |    '; if (x < 9 && x > 0) { go("now"); }</script></head><body>' ||
       |    '<!-- build ' || CAST(doc_id % 13 AS VARCHAR) || ' -->' ||
       |    '<h1 class="t">' || source || ' page</h1>' ||
       |    '<p id="b' || CAST(doc_id % 5 AS VARCHAR) || '">' || text ||
       |    '</p>' ||
       |    ${anchor(1)} ||
       |    ${anchor(2)} ||
       |    ${anchor(3)} ||
       |    '<div>A &amp; B &lt;tag&gt; &quot;q&quot; it&#39;s&nbsp;done' ||
       |    '</div></body></html>' AS html
       |  FROM documents)""".stripMargin
  }

  /** shared DuckDB twin of [[urlCanon]] — the fixture construction plus
    * the same canonicalization steps, ending in a `canon` CTE with
    * (event_id, url, host, canonical_url, had_junk). */
  private lazy val urlCanonSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    regexp_extract(props, '"k": (\d+)', 1) AS k
      |  FROM events),
      |u AS (
      |  SELECT event_id,
      |    (CASE WHEN event_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END)
      |    || '://' ||
      |    (CASE WHEN event_id % 2 = 0 THEN 'WWW.' ELSE '' END)
      |    || 'Site' || CAST(user_id % 40 AS VARCHAR) || '.' ||
      |    (CASE (user_id % 40) % 3 WHEN 0 THEN 'example.com'
      |          WHEN 1 THEN 'shop.co.uk' ELSE 'data.org' END) ||
      |    (CASE WHEN event_id % 5 = 0 THEN ':443' ELSE '' END)
      |    || '/p/' || event_type ||
      |    (CASE WHEN event_id % 4 = 0 THEN '/index.html'
      |          WHEN event_id % 4 = 1 THEN '/' ELSE '' END)
      |    || '?' ||
      |    (CASE WHEN event_id % 2 = 0 THEN 'utm_source=feed&k=' || k
      |          ELSE 'k=' || k END) ||
      |    (CASE WHEN event_id % 3 = 1 THEN '&b=2&a=1' ELSE '' END) ||
      |    (CASE WHEN event_id % 7 = 0
      |          THEN '&fbclid=x' || CAST(event_id % 97 AS VARCHAR)
      |          ELSE '' END) ||
      |    (CASE WHEN event_id % 6 = 0
      |          THEN '#sec' || CAST(event_id % 5 AS VARCHAR)
      |          ELSE '' END) AS url
      |  FROM ev),
      |c1 AS (
      |  SELECT event_id, url, regexp_replace(url, '#.*$', '') AS nofrag
      |  FROM u),
      |c2 AS (
      |  SELECT *, lower(split_part(nofrag, '://', 1)) AS scheme,
      |    split_part(nofrag, '://', 2) AS rest FROM c1),
      |c3 AS (
      |  SELECT *, lower(split_part(rest, '/', 1)) AS hostport,
      |    substr(rest, length(split_part(rest, '/', 1)) + 1) AS paq
      |  FROM c2),
      |c4 AS (
      |  SELECT *, regexp_replace(
      |      CASE WHEN scheme = 'https'
      |           THEN regexp_replace(hostport, ':443$', '')
      |           ELSE regexp_replace(hostport, ':80$', '') END,
      |      '^www\.', '') AS host,
      |    CASE WHEN strpos(paq, '?') > 0
      |         THEN substr(paq, 1, strpos(paq, '?') - 1) ELSE paq END
      |      AS rawpath,
      |    CASE WHEN strpos(paq, '?') > 0
      |         THEN substr(paq, strpos(paq, '?') + 1) ELSE '' END AS rawq
      |  FROM c3),
      |c5 AS (
      |  SELECT *,
      |    CASE WHEN regexp_replace(regexp_replace(
      |           rawpath, '/index\.html$', ''), '/+$', '') = ''
      |         THEN '/'
      |         ELSE regexp_replace(regexp_replace(
      |           rawpath, '/index\.html$', ''), '/+$', '') END AS cpath,
      |    array_to_string(list_sort(
      |      [p FOR p IN string_split(rawq, '&')
      |       IF p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid=|gclid=)')]
      |      ), '&') AS cq,
      |    CASE WHEN len([p FOR p IN string_split(rawq, '&')
      |                   IF regexp_matches(p, '^(utm_|fbclid=|gclid=)')]) > 0
      |         THEN 1 ELSE 0 END AS had_junk
      |  FROM c4),
      |canon AS (
      |  SELECT event_id, url, host,
      |    scheme || '://' || host || cpath ||
      |      (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS canonical_url,
      |    had_junk
      |  FROM c5)
      |""".stripMargin

  /** DuckDB twin of the unrolled BPE trainer. The merge application is
    * deliberately a DIFFERENT formulation from Spark's array fold —
    * gaps-and-islands parity over matched pair positions (greedy
    * leftmost-non-overlap = keep every other position within each
    * consecutive matched run) — so the cross-engine compare is an
    * independent check of the merge semantics, not a restatement. */
  private def bpeOracle(rounds: Int, finalSelect: String): String = {
    val sb = new StringBuilder
    // the position enumerators below use range(0, 48): words longer
    // than 48 symbols would silently lose pairs vs Spark's unbounded
    // array fold — so the bound is ASSERTED here and a longer word
    // fails the oracle loudly instead of diverging silently.
    sb ++=
      """WITH w1 AS MATERIALIZED (
        |  SELECT CASE WHEN len(w) <= 48 THEN w
        |    ELSE error('bpe oracle: word exceeds the 48-symbol position bound')
        |    END AS w, cnt, string_split(w, '') AS sym FROM (
        |    SELECT tok AS w, COUNT(*) AS cnt FROM (
        |      SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
        |    WHERE tok <> '' GROUP BY 1) v)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |p$r AS MATERIALIZED (
        |  SELECT w, cnt, CAST(t.i AS BIGINT) AS i,
        |    sym[CAST(t.i + 1 AS INT)] AS a, sym[CAST(t.i + 2 AS INT)] AS b
        |  FROM w$r, range(0, 48) t(i) WHERE t.i + 2 <= len(sym)),
        |best$r AS MATERIALIZED (
        |  SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n FROM p$r GROUP BY 1, 2
        |  ORDER BY n DESC, a, b LIMIT 1),
        |sel$r AS MATERIALIZED (
        |  SELECT w, i FROM (
        |    SELECT w, i, (i - MIN(i) OVER (PARTITION BY w, g)) % 2 AS par
        |    FROM (
        |      SELECT p.w, p.i AS i,
        |        p.i - ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.i) AS g
        |      FROM p$r p, best$r q WHERE p.a = q.a AND p.b = q.b) runs) pr
        |  WHERE par = 0),
        |e$r AS MATERIALIZED (
        |  SELECT w, cnt, sym, CAST(t.j AS BIGINT) AS j,
        |    sym[CAST(t.j + 1 AS INT)] AS s
        |  FROM w$r, range(0, 48) t(j) WHERE t.j < len(sym)),
        |w${r + 1} AS MATERIALIZED (
        |  SELECT e.w, e.cnt,
        |    list(CASE WHEN sel.i IS NOT NULL
        |              THEN e.s || e.sym[CAST(e.j + 2 AS INT)]
        |              ELSE e.s END ORDER BY e.j) AS sym
        |  FROM e$r e
        |  LEFT JOIN sel$r sel ON sel.w = e.w AND sel.i = e.j
        |  LEFT JOIN sel$r sel2 ON sel2.w = e.w AND sel2.i = e.j - 1
        |  WHERE sel2.i IS NULL
        |  GROUP BY e.w, e.cnt)""".stripMargin
    }
    sb ++= "\n"
    sb ++= finalSelect
    sb.toString
  }

  /** centered integer rows for the PCA family: c = n·v − Σv (scaled by
    * n so centering never divides). */
  private def pcaCentered(s: SparkSession, dir: String): DataFrame = {
    val emb = embArr(s, dir).select(col("vec_id"), col("vq"))
    val dimSums = emb
      .select(posexplode(col("vq")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(sum(col("v")).as("sj"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, sj))), p -> p.sj)")
        .as("sarr"))
    val cnt = emb.agg(count(lit(1)).as("n"))
    emb.crossJoin(broadcast(dimSums)).crossJoin(broadcast(cnt))
      .select(col("vec_id"),
        expr("zip_with(vq, sarr, (v, sj) -> n * v - sj)").as("c0"))
      // LOUD BIGINT ceiling, fused into the column every PCA consumer
      // reads (q303 discipline — column pruning can never drop it): the
      // score folds compute Σ₆₄ c·x with |x| ≤ 10⁶, so max|c| must stay
      // ≤ 2⁶³/(64·10⁶) ≈ 1.4e11 or Spark long arithmetic wraps silently
      // while the DuckDB HUGEINT twin keeps going.
      .select(col("vec_id"),
        when(expr("aggregate(c0, CAST(0 AS BIGINT), " +
            "(acc, v) -> greatest(acc, abs(v))) <= 140000000000"),
          col("c0"))
          .otherwise(raise_error(lit(
            "pca: centered magnitudes exceed the BIGINT score-fold " +
              "ceiling (max|c| <= 1.4e11; n <~ 1.4e5 rows at |v| <= 1e6) " +
              "— rescale the quantization before fitting"))
            .cast("array<bigint>"))
          .as("c"))
  }

  /** TOP-K principal components by ITERATED DEFLATION, one trained
    * component per call: component `i` runs the same 6-round power
    * iteration (two hash aggs per round over the checkpointed centered
    * rows — the Gram matrix is never materialized, O(n·d) per round),
    * with every iterate re-orthogonalized against ALL previously
    * trained components (z ← z·(xⱼᵀxⱼ) − xⱼ·(xⱼᵀz), DECIMAL-widened
    * exact integers, then the fixed-point renormalization). One cached
    * parquet per (dir, data version, i) — the bpeTrain discipline; q317
    * (i=1), q319 (i=1), and q321 (i=2) share the chain. See q317's
    * comment for the arithmetic ceilings. */
  private def pcaComponentsStored(s: SparkSession, dir: String, i: Int): DataFrame = {
    require(i >= 1, s"component index must be >= 1, got $i")
    s.read.parquet(graft.storage.LocalCache.stored(s"pca|$i", dir) { p =>
      val centered = pcaCentered(s, dir).localCheckpoint()
      val prev = (1 until i).map(j =>
        pcaComponentsStored(s, dir, j).select(col("xa").as("xp")))
      def deflate(v: DataFrame): DataFrame =
        prev.foldLeft(v) { (acc, xj) =>
          pcaNormalize(
            acc.crossJoin(broadcast(xj))
              .withColumn("_p", expr(
                "aggregate(zip_with(xa, xp, (a, b) -> a * b), " +
                  "CAST(0 AS BIGINT), (acc, t) -> acc + t)"))
              .withColumn("_n1", expr(
                "aggregate(xp, CAST(0 AS BIGINT), (acc, t) -> acc + t * t)"))
              .withColumn("_zd", expr(
                "zip_with(xa, xp, (a, b) -> CAST(a AS DECIMAL(38,0)) * _n1 " +
                  "- CAST(b AS DECIMAL(38,0)) * _p)")),
            "_zd")
        }
      // start vector: all-ones for the dominant component; for deflated
      // components a ±1e6 square wave of period 2^(i-1) (NOT parallel to
      // any earlier start), immediately deflated into the residual space
      val start =
        if (i == 1)
          s.range(1).select(
            expr("array_repeat(CAST(1000000 AS BIGINT), 64)").as("xa"))
        else {
          val blk = 1L << (i - 2)
          s.range(1).select(expr(
            s"transform(sequence(0, 63), j -> CAST(CASE WHEN (j div $blk) % 2 = 0 " +
              "THEN 1000000 ELSE -1000000 END AS BIGINT))").as("xa"))
            .localCheckpoint()
        }
      Iterate.rounds(deflate(start).localCheckpoint(), 6,
          checkpointEvery = 1) { (z, _) =>
        val scored = centered.crossJoin(broadcast(z))
          .withColumn("sv", expr(
            "aggregate(zip_with(c, xa, (a, b) -> a * b), " +
              "CAST(0 AS BIGINT), (acc, t) -> acc + t)"))
        val v = pcaNormalize(
          scored
            .select(posexplode(col("c")).as(Seq("dim", "cj")), col("sv"))
            .groupBy(col("dim"))
            .agg(sum(expr(
              "CAST(sv AS DECIMAL(38,0)) * CAST(cj AS DECIMAL(38,0))")).as("yj"))
            .agg(expr(
              "transform(array_sort(collect_list(struct(dim, yj))), p -> p.yj)")
              .as("ya")),
          "ya")
        deflate(v)
      }.write.mode("overwrite").parquet(p)
    })
  }

  /** the q317/q319 dominant component — component 1 of the family. */
  private def pcaComponentStored(s: SparkSession, dir: String): DataFrame =
    pcaComponentsStored(s, dir, 1)

  /** orthogonality diagnostic for the trained top-k family: pairwise
    * |cos|·10⁶ between stored components (exact integer dots, DOUBLE
    * only at the final ratio) — the law PipelineSpec pins at k=3. */
  private[graft] def pcaOrthogonalityPpm(s: SparkSession, dir: String,
      k: Int): Seq[(Int, Int, Long)] =
    (for {
      a <- 1 to k; b <- (a + 1) to k
    } yield {
      val xa = pcaComponentsStored(s, dir, a).select(col("xa").as("va"))
      val xb = pcaComponentsStored(s, dir, b).select(col("xa").as("vb"))
      val row = xa.crossJoin(xb).select(
        expr("aggregate(zip_with(va, vb, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, t) -> acc + t)").as("dot"),
        expr("aggregate(va, CAST(0 AS BIGINT), (acc, t) -> acc + t * t)").as("na"),
        expr("aggregate(vb, CAST(0 AS BIGINT), (acc, t) -> acc + t * t)").as("nb"))
        .select(expr(
          "CAST(round(abs(CAST(dot AS DOUBLE)) / " +
            "sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("cos_ppm"))
        .head()
      (a, b, row.getLong(0))
    })

  /** renormalize a 1-row array<decimal(38,0)> column to a bounded
    * array<bigint> iterate (max |v| ≤ 10⁶): sign-split fixed-point
    * division both engines floor identically (the q317 discipline). */
  private def pcaNormalize(frame: DataFrame, in: String): DataFrame =
    frame
      .withColumn("_m", expr(
        s"aggregate($in, CAST(0 AS DECIMAL(38,0)), (acc, v) -> greatest(acc, abs(v)))"))
      .withColumn("_den", expr(
        "CAST(floor(_m / 1000000) AS DECIMAL(38,0)) + 1"))
      .select(expr(
        s"transform($in, v -> CAST(CASE WHEN v >= 0 THEN v div _den " +
          "ELSE -((-v) div _den) END AS BIGINT))").as("xa"))

  /** DuckDB twin of the q317 power iteration with the rounds unrolled as
    * a generated MATERIALIZED CTE chain: same centered integers
    * (c = n·v − Σv), same two-agg round (per-vec score, per-dim fan-in
    * in HUGEINT ↔ Spark DECIMAL(38,0)), same sign-split fixed-point
    * renormalization — both engines floor on non-negative operands. */
  private def pcaOracle(rounds: Int, finalSelect: String = null): String = {
    val sb = new StringBuilder
    sb ++=
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, j.i AS dim,
        |    CAST(round(CAST(embedding[CAST(j.i + 1 AS INT)] AS DOUBLE)
        |      * 1000000) AS BIGINT)
        |      AS v
        |  FROM embeddings, range(0, 64) j(i)),
        |st AS MATERIALIZED (SELECT dim, SUM(v) AS sj FROM e GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        |c AS MATERIALIZED (
        |  SELECT e.vec_id, e.dim, nn.n * e.v - st.sj AS c
        |  FROM e JOIN st USING (dim), nn),
        |x0 AS (SELECT j.i AS dim, CAST(1000000 AS BIGINT) AS x
        |       FROM range(0, 64) j(i))""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |s$r AS MATERIALIZED (
        |  SELECT c.vec_id, SUM(c.c * x.x) AS s
        |  FROM c JOIN x${r - 1} x USING (dim) GROUP BY 1),
        |y$r AS MATERIALIZED (
        |  SELECT c.dim, SUM(s.s * c.c) AS y
        |  FROM c JOIN s$r s USING (vec_id) GROUP BY 1),
        |d$r AS (SELECT MAX(ABS(y)) // 1000000 + 1 AS den FROM y$r),
        |x$r AS MATERIALIZED (
        |  SELECT y.dim,
        |    CAST(CASE WHEN y.y >= 0 THEN y.y // d.den
        |         ELSE -((-y.y) // d.den) END AS BIGINT) AS x
        |  FROM y$r y, d$r d)""".stripMargin
    }
    sb ++= "\n"
    sb ++= (if (finalSelect != null) finalSelect
      else s"SELECT CAST(dim AS INTEGER) AS dim, x AS comp " +
        s"FROM x$rounds ORDER BY dim")
    sb.toString
  }

  /** DuckDB twin of the q321 deflated iteration: the full PC1 chain
    * (x0…x6), then six deflated rounds — normalize, project onto PC1,
    * subtract in HUGEINT, renormalize — mirroring `deflate`/
    * `pcaNormalize` operation for operation. */
  private def pcaOracle2(rounds: Int): String = {
    val sb = new StringBuilder(pcaOracle(rounds,
      "SELECT 1 AS _pc1_chain_anchor")) // reuse the shared CTE prefix
    // drop the placeholder final select; continue the WITH chain
    sb.setLength(sb.length - "SELECT 1 AS _pc1_chain_anchor".length)
    sb ++=
      s""",
         |n1 AS (SELECT SUM(x * x) AS n FROM x$rounds),
         |w0 AS (SELECT j.i AS dim,
         |  CAST(CASE WHEN j.i % 2 = 0 THEN 1000000 ELSE -1000000 END AS BIGINT)
         |    AS x
         |  FROM range(0, 64) j(i)),
         |p0 AS (SELECT SUM(w.x * o.x) AS p
         |       FROM w0 w JOIN x$rounds o USING (dim)),
         |zd0 AS (SELECT w.dim,
         |  CAST(w.x AS HUGEINT) * n1.n - CAST(o.x AS HUGEINT) * p0.p AS y
         |  FROM w0 w JOIN x$rounds o USING (dim), n1, p0),
         |dz0 AS (SELECT MAX(ABS(y)) // 1000000 + 1 AS den FROM zd0),
         |z0 AS MATERIALIZED (SELECT dim,
         |  CAST(CASE WHEN y >= 0 THEN y // den
         |       ELSE -((-y) // den) END AS BIGINT) AS x
         |  FROM zd0, dz0)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |zs$r AS MATERIALIZED (
        |  SELECT c.vec_id, SUM(c.c * z.x) AS s
        |  FROM c JOIN z${r - 1} z USING (dim) GROUP BY 1),
        |zy$r AS MATERIALIZED (
        |  SELECT c.dim, SUM(s.s * c.c) AS y
        |  FROM c JOIN zs$r s USING (vec_id) GROUP BY 1),
        |zdn$r AS (SELECT MAX(ABS(y)) // 1000000 + 1 AS den FROM zy$r),
        |zv$r AS (SELECT y.dim,
        |  CAST(CASE WHEN y.y >= 0 THEN y.y // d.den
        |       ELSE -((-y.y) // d.den) END AS BIGINT) AS x
        |  FROM zy$r y, zdn$r d),
        |zp$r AS (SELECT SUM(v.x * o.x) AS p
        |         FROM zv$r v JOIN x$rounds o USING (dim)),
        |zzd$r AS (SELECT v.dim,
        |  CAST(v.x AS HUGEINT) * n1.n - CAST(o.x AS HUGEINT) * zp$r.p AS y
        |  FROM zv$r v JOIN x$rounds o USING (dim), n1, zp$r),
        |zdd$r AS (SELECT MAX(ABS(y)) // 1000000 + 1 AS den FROM zzd$r),
        |z$r AS MATERIALIZED (SELECT dim,
        |  CAST(CASE WHEN y >= 0 THEN y // den
        |       ELSE -((-y) // den) END AS BIGINT) AS x
        |  FROM zzd$r, zdd$r)""".stripMargin
    }
    sb ++= s"\nSELECT CAST(dim AS INTEGER) AS dim, x AS comp2 " +
      s"FROM z$rounds ORDER BY dim"
    sb.toString
  }

  /** DuckDB twin of `kmeansCentroids` with the Lloyd rounds unrolled as a
    * generated CTE chain (same quantized-mean algebra, exact integers). */
  private def kmeansOracle(iters: Int, loopTo: Int = 0,
      finalSelect: String = null): String = {
    val rounds = if (loopTo > 0) loopTo else iters
    val sb = new StringBuilder
    sb ++=
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, i AS pos,
        |    CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT) AS vq
        |  FROM embeddings, range(0, 64) r(i)),
        |norms AS MATERIALIZED (SELECT vec_id, SUM(vq*vq) AS nrm FROM e GROUP BY 1),
        |cents_0 AS MATERIALIZED (
        |  SELECT vec_id AS c_id, pos, vq AS cv, 1 AS cnt FROM e WHERE vec_id < 16),
        |cnorms_0 AS MATERIALIZED (SELECT c_id, SUM(cv*cv) AS cn FROM cents_0 GROUP BY 1)""".stripMargin
    for (r <- 1 to rounds) sb ++=
      s""",
         |ccos_$r AS MATERIALIZED (
         |  SELECT v.vec_id, c.c_id,
         |    CAST(SUM(v.vq * c.cv) AS DOUBLE)
         |      / sqrt(CAST(cn.cn AS DOUBLE) * CAST(vn.nrm AS DOUBLE)) AS ccos
         |  FROM e v
         |  JOIN cents_${r - 1} c ON c.pos = v.pos
         |  JOIN cnorms_${r - 1} cn ON cn.c_id = c.c_id
         |  JOIN norms vn ON vn.vec_id = v.vec_id
         |  GROUP BY 1, 2, cn.cn, vn.nrm),
         |members_$r AS MATERIALIZED (
         |  SELECT vec_id, c_id AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, c_id ASC) AS crn
         |    FROM ccos_$r) WHERE crn = 1),
         |cents_$r AS MATERIALIZED (
         |  SELECT m.cell AS c_id, v.pos,
         |    CAST(round(CAST(SUM(v.vq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv,
         |    COUNT(*) AS cnt
         |  FROM members_$r m JOIN e v ON v.vec_id = m.vec_id
         |  GROUP BY 1, 2),
         |cnorms_$r AS MATERIALIZED (SELECT c_id, SUM(cv*cv) AS cn FROM cents_$r GROUP BY 1)""".stripMargin
    sb ++= "\n"
    sb ++= Option(finalSelect).getOrElse(
      s"""SELECT c_id, MAX(cnt) AS n_members,
         |  CAST(SUM(cv*cv) AS BIGINT) AS cn, CAST(SUM(cv) AS BIGINT) AS vsum
         |FROM cents_$iters GROUP BY 1""".stripMargin)
    sb.toString
  }
}
