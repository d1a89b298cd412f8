package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{InteropOps, PipelineOps}

/** Pipeline-operator invariants that the oracle gate can't see directly:
  * the connected-components loop must converge past diameter 1 (the
  * testdata near-dup graphs are clique-like, so only a crafted path graph
  * exercises multi-round propagation). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("cluster-safe split: no near-dup edge crosses train/eval") {
    val dir = "/root/testdata/sf0.001"
    val sp = PipelineOps.clusterSafeSplit(spark, dir)
      .select(col("doc_id"), col("split"))
    val edges = PipelineOps.jaccardEdgesStored(spark, dir, 0.5)
    val crossing = edges
      .join(sp.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "sa"), "doc_a")
      .join(sp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "sb"), "doc_b")
      .filter(col("sa") =!= col("sb"))
    assert(crossing.count() == 0, "a near-dup pair split across train/eval leaks eval data")
    // and both splits are non-trivially populated
    val bySplit = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "eval") && bySplit.values.forall(_ > 0), s"$bySplit")
  }

  test("dedupDelta classifies every drop reason with the documented priority") {
    import spark.implicits._
    // texts with >= 5 words so the 3-word near-dup suffix keeps
    // Jaccard >= 1/2 ((n-2)/(n+1) with n = 6 words -> 4/7... use 8)
    val t1 = "alpha bravo charlie delta echo foxtrot golf hotel"
    val t2 = "india juliett kilo lima mike november oscar papa"
    val t3 = "quebec romeo sierra tango uniform victor whiskey xray"
    val base = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    val delta = Seq(
      (10L, t3),                      // fresh -> survivor
      (11L, t1),                      // verbatim corpus copy -> exact_vs_base
      (12L, t3),                      // same hash as 10 -> exact_intra
      (13L, t2 + " one two three"),   // 3 words appended -> near_vs_base
      (14L, t3 + " four five six"),   // near-dup of smaller delta id -> near_intra
      (15L, t1)                       // ALSO exact_vs_base (priority over
                                      // exact_intra vs 11: same corpus hash)
    ).toDF("doc_id", "text")
    val got = PipelineOps.dedupDelta(base, delta).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      10L -> "survivor", 11L -> "exact_vs_base", 12L -> "exact_intra",
      13L -> "near_vs_base", 14L -> "near_intra", 15L -> "exact_vs_base"),
      got.toString)
  }

  test("pointerJumpComponents merges a diameter-12 path in 4 fixed rounds") {
    import spark.implicits._
    // worst case for min-label propagation: a single long chain where the
    // min sits at one end — plain per-round neighbor-min would need 12
    // rounds; pointer jumping must do it in 4
    val und = (0L until 12L).map(i => (i, i + 1))
    val sym = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("doc_a", "doc_b")
    val got = PipelineOps.pointerJumpComponents(sym, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 13)
    assert(got.forall(_._2 == 0L))
  }

  test("connectedComponents converges on a path graph (diameter > 1)") {
    import spark.implicits._
    // path 10-11-12-13-14-15 (diameter 5), triangle 20-21-22, pair 30-31
    val und = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("u", "v")
    val got = PipelineOps.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L, 15L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("asofJoin carries the latest right row at-or-before each left row") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 5L, "p0"), (2L, 7L, "p3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (2L, 8L, "r8"))
      .toDF("k", "ts", "tag")
    val got = operators.PipelineOps.asofJoin(left, right, "k", "ts", Seq("tag"))
      .select("name", "asof_tag").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map(
      "p0" -> None,          // no right row at-or-before ts=5
      "p1" -> Some("r10"),   // equal timestamp counts (>= semantics)
      "p2" -> Some("r15"),   // latest of the two priors
      "p3" -> None))         // right at ts=8 is after left ts=7
  }

  test("connectedComponents fails loudly when the round cap is hit") {
    import spark.implicits._
    // a 4-node path needs 3 propagation rounds to pull 43 down to 40;
    // with maxRounds=1 partial labels must NOT be returned as converged
    val edges = Seq((40L, 41L), (41L, 42L), (42L, 43L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("u", "v")
    assertThrows[IllegalStateException](
      PipelineOps.connectedComponents(edges, maxRounds = 1))
    val full = PipelineOps.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full.values.toSet == Set(40L))
  }

  test("segment dedup keeps exactly the first occurrence of every span") {
    val out = PipelineOps.queries("q138_segment_dedup")(spark, "/root/testdata/sf0.001")
    // re-chunk the OUTPUT the same way: every surviving 10-word segment
    // must now be globally unique (C4 keep-one invariant)…
    val resegmented = out
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST(ceil(size(toks)/10.0) AS INT) - 1),
          |          i -> concat_ws(' ', slice(toks, i*10+1, 10)))""".stripMargin)).as("seg"))
    // …except where removal merged two partial chunks into a new 10-gram;
    // full (10-word) segments must be unique
    val dupFull = resegmented
      .filter(size(split(col("seg"), " ")) === 10)
      .groupBy("seg").count().filter(col("count") > 1).count()
    assert(dupFull == 0, "a duplicated 10-word span survived dedup")
    // and no document may GAIN text
    val in = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), length(col("text")).as("lin"))
    val grew = out.select(col("doc_id"), length(col("text")).as("lout"))
      .join(in, "doc_id").filter(col("lout") > col("lin")).count()
    assert(grew == 0)
  }

  test("kmeansCentroids separates two cosine clusters in 2 rounds") {
    import spark.implicits._
    // cluster A hugs the x-axis, cluster B the y-axis; seeds 0 and 1 are
    // both in A, so round 1 must MOVE a centroid toward B via the
    // quantized-mean refit before assignment stabilizes
    val vecs = Seq(
      (0L, Seq(1000L, 10L)), (1L, Seq(990L, 50L)), (2L, Seq(980L, 20L)),
      (3L, Seq(10L, 1000L)), (4L, Seq(30L, 970L)), (5L, Seq(5L, 990L)))
    val e = vecs.toDF("vec_id", "vq")
      .withColumn("nrm", expr("aggregate(vq, 0L, (a, x) -> a + x * x)"))
    val cents = PipelineOps.kmeansCentroids(e, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Long](1), r.getLong(3)))).toMap
    assert(cents.keySet == Set(0L, 1L))
    val sizes = cents.values.map(_._2).toSeq.sorted
    assert(sizes == Seq(3L, 3L), s"expected 3+3 membership, got $cents")
    // one centroid must point x-ward, the other y-ward
    val dirs = cents.values.map { case (cv, _) => cv.head > cv(1) }.toSet
    assert(dirs == Set(true, false), s"centroids did not separate: $cents")
  }

  test("filter chain reports the FIRST failing rule and kept = no reason") {
    val rows = PipelineOps.queries("q139_filter_chain")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kept = r.getBoolean(r.fieldIndex("kept"))
      val reason = Option(r.getString(r.fieldIndex("reason")))
      assert(kept == reason.isEmpty)
      reason.foreach(x => assert(
        Set("word_count", "mean_word_len", "stopwords", "repetition")(x)))
    }
    // the chain must produce both outcomes on the corpus
    assert(rows.exists(_.getBoolean(1)) && rows.exists(!_.getBoolean(1)))
  }

  test("chunk_overlap covers every token with exact 16-token stride overlap") {
    // C=64, S=48 over the sf0.001 corpus: chunk i starts at 48·i, so
    // consecutive chunks overlap by exactly 16 tokens and their union
    // covers [0, n_tok) — the last chunk is short but never empty
    val rows = PipelineOps.queries("q164_chunk_overlap")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "chunk_id", "start_tok", "chunk_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, cs) =>
      val sorted = cs.sortBy(_._2)
      val n = sorted.last._3 + sorted.last._4 // start + len of last = n_tok
      // chunks sit on the stride grid, are nonempty, and cover the doc
      sorted.foreach { case (_, id, start, len) =>
        assert(start == 48 * id && len > 0 && len <= 64)
      }
      // every consecutive pair overlaps (start_{i+1} < start_i + len_i)
      sorted.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) => assert(s2 < s1 + l1 && s2 == s1 + 48)
        case _ => ()
      }
      // no token past the end, none missed at the end
      assert(sorted.last._3 < n && n <= sorted.last._3 + 64)
    }
  }

  test("normal-equation regressor: residuals orthogonal to features") {
    // An INDEPENDENT check of the Cramer solve (the DuckDB oracle shares
    // the formula strings, so a shared algebra bug would pass it): exact
    // least squares has Σr = Σr·x1 = Σr·x2 = 0; each yhat_ppm truncates
    // by < 1 ppm unit, so the ppm residual moments are bounded by n and
    // Σx respectively.
    val dir = "/root/testdata/sf0.001"
    val df = PipelineOps.queries("q303_quality_regressor")(spark, dir)
    val r = df.agg(
      sum(col("resid_ppm")).as("m0"),
      sum(col("resid_ppm") * col("x1")).as("m1"),
      sum(col("resid_ppm") * col("x2")).as("m2"),
      count(lit(1)).as("n"), sum(col("x1")).as("sx1"),
      sum(col("x2")).as("sx2")).head()
    assert(math.abs(r.getLong(0)) <= r.getLong(3),
      s"sum resid ${r.getLong(0)} exceeds rounding bound n=${r.getLong(3)}")
    assert(math.abs(r.getLong(1)) <= r.getLong(4),
      s"sum resid*x1 ${r.getLong(1)} exceeds bound ${r.getLong(4)}")
    assert(math.abs(r.getLong(2)) <= r.getLong(5),
      s"sum resid*x2 ${r.getLong(2)} exceeds bound ${r.getLong(5)}")
    // the model is genuinely predictive on this corpus: residual variance
    // is far below target variance (R² > 0.5 in ppm arithmetic)
    val v = df.agg(
      sum(col("resid_ppm") * col("resid_ppm")).as("ss_res"),
      avg(col("y") * 1000000L).as("ybar"),
      count(lit(1)).as("n")).head()
    val ybar = v.getDouble(1)
    val ssTot = df.select(
      sum((col("y") * 1000000L - ybar) * (col("y") * 1000000L - ybar)))
      .head().getDouble(0)
    assert(v.getLong(0).toDouble < 0.5 * ssTot,
      s"R² too low: ss_res=${v.getLong(0)} ss_tot=$ssTot")
  }

  test("PCA components are near-orthogonal after deflation (q317 ⊥ q321)") {
    val dir = "/root/testdata/sf0.001"
    def comp(q: String): Array[Double] =
      operators.PipelineOps.queries(q)(spark, dir)
        .collect().sortBy(_.getInt(0)).map(_.getLong(1).toDouble)
    val c1 = comp("q317_pca_top_component")
    val c2 = comp("q321_pca_second_component")
    assert(c1.length == 64 && c2.length == 64)
    def norm(a: Array[Double]) = math.sqrt(a.map(x => x * x).sum)
    assert(norm(c1) > 0 && norm(c2) > 0, "components must be non-degenerate")
    val cos = c1.zip(c2).map { case (a, b) => a * b }.sum / (norm(c1) * norm(c2))
    // the deflation re-orthogonalizes every round; only the fixed-point
    // renormalization rounding survives
    assert(math.abs(cos) < 0.01, s"|cos| = ${math.abs(cos)}")
  }

  test("top-k PCA (k=3): all pairs near-orthogonal under iterated deflation") {
    // the generalized pcaComponentsStored path: component 3 deflates
    // against BOTH trained predecessors each iterate, so every pair —
    // including (2,3), which no hand-wired two-component path covers —
    // must come out near-orthogonal (only fixed-point renormalization
    // rounding survives; 10000 ppm = |cos| 0.01, the q317⊥q321 bound)
    val pairs = PipelineOps.pcaOrthogonalityPpm(spark, "/root/testdata/sf0.001", 3)
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1, 2), (1, 3), (2, 3)))
    pairs.foreach { case (a, b, ppm) =>
      assert(ppm < 10000, s"components $a,$b not orthogonal: |cos| = $ppm ppm")
    }
  }

  test("url canonicalization strips junk and collapses variants (q332 laws)") {
    val dir = "/root/testdata/sf0.001"
    val out = PipelineOps.queries("q332_url_canonicalize")(spark, dir)
      .localCheckpoint()
    // every canonical form is junk-free and normalized
    val bad = out.filter(
      col("canonical_url").rlike("utm_|fbclid|gclid|#|:443|/index\\.html$") ||
        col("canonical_url").rlike("://www\\."))
    assert(bad.count() == 0, "a canonical URL kept junk it must strip")
    // path/query case is preserved; only scheme+host must be lowercase
    val schemeHostUpper = out.filter(
      regexp_extract(col("canonical_url"), "^([^:]+://[^/]+)", 1) =!=
        lower(regexp_extract(col("canonical_url"), "^([^:]+://[^/]+)", 1)))
    assert(schemeHostUpper.count() == 0, "scheme/host not lowercased")
    // the fixture is built so distinct raw variants MUST collapse
    assert(out.filter(col("n_variants") > 1).count() > 0,
      "no group collapsed >1 raw variant — canonicalization is a no-op")
    // sorted query params: any ?b=2&a=1 ordering would violate this
    val unsorted = out.filter(col("canonical_url").contains("?"))
      .withColumn("q", substring_index(col("canonical_url"), "?", -1))
      .withColumn("parts", split(col("q"), "&"))
      .filter(col("parts") =!= array_sort(col("parts")))
    assert(unsorted.count() == 0, "query params not sorted")
  }

  test("registered-domain rollup wins the LONGEST suffix (q333 law)") {
    val dir = "/root/testdata/sf0.001"
    val regs = PipelineOps.queries("q333_registered_domain_rollup")(spark, dir)
      .select("registered").collect().map(_.getString(0)).toSet
    // fixture hosts are siteN.{example.com,shop.co.uk,data.org}; for the
    // .co.uk hosts the 2-label suffix co.uk beats uk, so registered =
    // shop.co.uk — a naive last-2-label split would surface co.uk instead
    assert(regs.contains("shop.co.uk"), s"expected shop.co.uk in $regs")
    assert(!regs.contains("co.uk"),
      "a bare public suffix surfaced as a registered domain")
    assert(regs.exists(_.endsWith("example.com")) &&
      regs.exists(_.endsWith("data.org")), s"missing 1-label-suffix rollups: $regs")
  }

  test("MMR picks are distinct and objective is non-increasing in rank") {
    val dir = "/root/testdata/sf0.001"
    val rows = PipelineOps.queries("q334_mmr_diversified_topk")(spark, dir)
      .orderBy("rank").collect()
    assert(rows.length == 5, s"expected 5 picks, got ${rows.length}")
    val ids = rows.map(_.getAs[Long]("n_id"))
    assert(ids.distinct.length == 5, "a document was selected twice")
    // greedy MMR: from rank 2 on, each round's best objective can only
    // shrink (the selected set grows, so every candidate's maxsim is
    // monotone up). Rank 1 is excluded: its maxsim is pinned to 0 over
    // the empty set, and a NEGATIVE rank-2 maxsim can legitimately beat
    // the rank-1 objective.
    val mmr = rows.map(_.getAs[Double]("mmr"))
    mmr.drop(1).sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-12, s"MMR objective increased across ranks: $a -> $b")
    case _ => ()
    }
    // rank 1 is the pure-relevance argmax (maxsim = 0 by construction)
    assert(rows.head.getAs[Double]("maxsim") == 0.0)
  }

  test("html extraction drops script/style/comment content, keeps entities") {
    val dir = "/root/testdata/sf0.001"
    val out = PipelineOps.queries("q335_html_extract")(spark, dir)
      .localCheckpoint()
    // block content must never surface: script body, style body, comment
    val leaked = out.filter(
      col("clean_text").contains("go(") ||
        col("clean_text").contains("color: red") ||
        col("clean_text").contains("font-size") ||
        col("clean_text").contains("build "))
    assert(leaked.count() == 0, "script/style/comment content leaked into text")
    // entities decode to their literal characters (&amp; decoded LAST)
    val decoded = out.filter(col("clean_text").contains("A & B <tag> \"q\" it's done"))
    assert(decoded.count() == out.count(), "entity sampler not decoded verbatim")
    // no tag survives outside the decoded-entity literal
    val stray = out.filter(col("clean_text").rlike("<(?!tag>)[a-zA-Z!/]"))
    assert(stray.count() == 0, "a real tag survived extraction")
  }

  test("boilerplate removal strips template lines, keeps content (q336)") {
    val dir = "/root/testdata/sf0.001"
    val out = PipelineOps.queries("q336_boilerplate_lines")(spark, dir)
      .localCheckpoint()
    assert(out.filter(col("clean_text").contains("copyright") ||
      col("clean_text").contains("newsletter")).count() == 0,
      "a template line survived into a cleaned document")
    // every doc lost its copyright line; even-docs lost the newsletter too
    assert(out.filter(col("n_kept") >= col("n_lines")).count() == 0)
    assert(out.filter(col("doc_id") % 2 === 0 &&
      col("n_kept") > col("n_lines") - 2).count() == 0,
      "an even doc kept one of its two template lines")
    // and no document vanished entirely
    assert(out.count() == Tables.documents(spark, dir).count())
  }

  test("pagerank conserves scaled mass within integer-floor slack (q338)") {
    val dir = "/root/testdata/sf0.001"
    val out = PipelineOps.queries("q338_pagerank_hosts")(spark, dir)
      .localCheckpoint()
    assert(out.count() == 40, "fixture graph must cover all 40 sites")
    val mass = out.agg(sum(col("pr"))).collect()(0).getLong(0)
    // every iteration floors per-node: mass can only leak DOWN from 10^12,
    // and with 40 nodes x (teleport + inflow) the loss stays tiny
    assert(mass <= 1000000000000L, s"rank mass exceeds the scale: $mass")
    assert(mass > 990000000000L, s"rank mass leaked >1%: $mass")
    assert(out.filter(col("pr") <= 0).count() == 0, "a node lost all rank")
  }

  test("link-density extraction keeps the article, drops nav and footer") {
    val dir = "/root/testdata/sf0.001"
    val out = PipelineOps.queries("q339_main_content_extract")(spark, dir)
      .localCheckpoint()
    assert(out.filter(col("n_blocks") =!= 3).count() == 0)
    assert(out.filter(col("n_kept") =!= 1).count() == 0,
      "exactly the main block must survive the 50% link-density gate")
    val chrome = out.filter(col("main_text").contains("Privacy Policy") ||
      col("main_text").contains("Terms of Service") ||
      col("main_text").contains("Products Contact"))
    assert(chrome.count() == 0, "nav/footer chrome leaked into main text")
    assert(out.filter(!col("main_text").contains(" article ")).count() == 0,
      "an article body went missing")
  }

  test("robots filter: longest match wins and exact ties resolve to allow") {
    val dir = "/root/testdata/sf0.001"
    val out = PipelineOps.queries("q340_robots_filter")(spark, dir)
      .localCheckpoint()
    // the rule set can only block via the single 2-char-prefix disallow:
    // the exact allow/disallow tie pair MUST resolve to allow (RFC 9309),
    // so no host ever blocks more than one path
    assert(out.filter(col("n_blocked") > 1).count() == 0,
      "a tie-pair path was blocked — allow must win exact-length ties")
    assert(out.filter(col("n_blocked") === 1 &&
      !col("blocked_path").startsWith("/p/")).count() == 0)
    assert(out.filter(col("n_blocked") === 0 &&
      col("blocked_path").isNotNull).count() == 0)
    // the '/' base rule keeps everything else crawlable
    assert(out.filter(col("blocked_ppm") > 500000).count() == 0,
      "a host blocked most of its paths — base allow rule not engaging")
  }

  test("trained-state caches retrain when the underlying data is rewritten") {
    import spark.implicits._
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
    }
    def q370(d: String): Seq[String] =
      InteropOps.queries("q370_dedup_delta")(spark, d)
        .collect().map(_.toString).toSeq.sorted
    val corpusB = Seq((0L, (0 until 12).map(i => s"alpha$i").mkString(" ")),
        (1L, (0 until 12).map(i => s"beta$i").mkString(" ")),
        (2L, (0 until 12).map(i => s"gamma$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_retrain_").toString
    try {
      // corpus A: docs 0 and 1 are exact near-dups (same 12-word text)
      val dup = (0 until 12).map(i => s"tok$i").mkString(" ")
      Seq((0L, dup), (1L, dup), (2L, "entirely different words here " +
          "that share no three gram with anything else at all"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val e1 = PipelineOps.jaccardEdgesStored(spark, dir, 0.5).count()
      assert(e1 >= 1, "corpus A must produce at least one near-dup edge")
      val before = q370(dir)
      // rewrite IN PLACE with a corpus that has no near-dups: the cache
      // key carries the data version, so the next call must retrain
      // against the new files instead of serving corpus A's edges
      corpusB.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val e2 = PipelineOps.jaccardEdgesStored(spark, dir, 0.5).count()
      assert(e2 == 0, s"stale trained state served after a data rewrite: $e2 edges")
      // a stored FIXTURE follows the rewrite too: q370 classifies a delta
      // committed into a two-snapshot fixture built from documents.parquet,
      // so after the rewrite it must answer as on a fresh dir holding only
      // the new corpus
      val rewritten = q370(dir)
      val fresh = java.nio.file.Files.createTempDirectory("graft_retrain_fresh_").toString
      try {
        corpusB.write.mode("overwrite").parquet(s"$fresh/documents.parquet")
        assert(rewritten == q370(fresh),
          "stale stored fixture served after a data rewrite")
      } finally rm(new java.io.File(fresh))
      assert(rewritten != before, "corpus B must classify its delta differently")
    } finally rm(new java.io.File(dir))
  }
}
