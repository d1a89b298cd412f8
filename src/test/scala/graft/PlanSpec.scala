package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (the reference asserts projection minimality
  * and partition-bound injection at plan level, trace.rs:1005-1093; here:
  * filter pushdown to parquet, column pruning, broadcast of the two-phase
  * trace-id set, whole-stage codegen presence).
  */
class PlanSpec extends AnyFunSuite {

  // plan assertions read PushedFilters verbatim — maxMetadataStringLength
  // is raised in the shared session so they are not truncated
  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"

  test("filters push down to the parquet scan") {
    val df = operators.CoreOps.queries("q02_projection_filter")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(o_totalprice"),
      s"o_totalprice filter did not reach the scan:\n$plan")
  }

  test("stored raw-corpus censuses push the kind predicate to the scan") {
    // the q345 discipline for the round-11 stored codec families: the
    // kind filter must reach the parquet scan (bytes of other kinds are
    // row-group-skippable and never cross the decoder boundary), and the
    // scan must read only (media_id, kind, bytes) — never the timestamp
    // or partition payload
    val df = operators.MultimodalOps.queries("q372_stored_flac_census")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(kind,flac)"),
      s"kind predicate did not reach the media_raw scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("timestamp"),
      s"media_raw scan reads more than the census needs:\n$plan")
  }

  test("stored video scan pushes the kind predicate and prunes to (media_id, bytes)") {
    // the q372 discipline for the video near-dup family: the mpeg kind
    // filter reaches the parquet scan, and the decoder tasks see only
    // the id + binary column — never the timestamp/partition payload.
    // Asserted on the fingerprint frame itself: q390 checkpoints it
    // (decode-once), so the final cluster plan reads an RDD and the
    // parquet scan executes in the checkpoint job this frame describes.
    val df = operators.MultimodalOps.videoFingerprints(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(kind,mpeg)"),
      s"kind predicate did not reach the media_video scan:\n$plan")
    val readSchema = plan.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("bytes:binary")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("timestamp"),
      s"media_video scan reads more than the fingerprint needs:\n$plan")
  }

  test("incremental video dedup probes a BUCKETED corpus band index (no corpus-side shuffle)") {
    val df = operators.MultimodalOps.queries("q392_video_dedup_delta")(spark, dir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the corpus side of the probe join scans the write-time-clustered
    // index with NO Exchange above it — at 100 TB the only rows moved
    // per drop are the delta's
    assert(formatted.contains("Bucketed: true"),
      s"corpus band index not scanned as bucketed:\n$formatted")
    assert(formatted.linesIterator.exists(l =>
      l.contains("video_band_idx") && l.contains("Scan")),
      s"expected the stored band-index scan:\n$formatted")
  }

  test("stored jsonl.gz shard ingest reads only (doc_id, shard)") {
    // the stored-shard scan must prune to the id + binary column — the
    // layout's timestamp/partition payload never reaches the gunzip
    // tasks (at 100 TB an unused stored column is real decode-path I/O)
    val df = operators.PipelineOps.queries("q387_jsonl_stored_shards")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("shard")).getOrElse("")
    assert(readSchema.contains("doc_id:bigint") &&
      readSchema.contains("shard:binary") &&
      !readSchema.contains("timestamp"),
      s"stored shard scan reads more than (doc_id, shard):\n$plan")
  }

  test("indexed delta-dedup probes BUCKETED corpus indexes (no corpus-side shuffle)") {
    val df = operators.InteropOps.queries("q379_dedup_delta_indexed")(spark, dir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // both stored indexes scan as bucketed relations: their side of the
    // probe joins carries NO Exchange — at corpus scale the only data
    // moved per drop is the delta's
    assert(formatted.contains("Bucketed: true"),
      s"corpus indexes not scanned as bucketed:\n$formatted")
    val ledgerScan = formatted.linesIterator
      .exists(l => l.contains("hash_ledger") && l.contains("Scan"))
    val idxScan = formatted.linesIterator
      .exists(l => l.contains("shingle_idx") && l.contains("Scan"))
    assert(ledgerScan && idxScan, s"expected both index scans:\n$formatted")
  }

  test("retention-masked dedup indexes stay bucketed: dead-key anti-joins are co-located") {
    val df = operators.InteropOps.queries("q389_dedup_index_retention")(spark, dir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // all four stored relations (live indexes + dead-key sidecars) scan
    // bucketed; the masking anti-joins run on the shared bucket keys so
    // the corpus side still moves nothing at probe time
    assert(formatted.contains("Bucketed: true"),
      s"retention-masked indexes not scanned as bucketed:\n$formatted")
    for (t <- Seq("hash_ledger_dead", "shingle_idx_dead"))
      assert(formatted.linesIterator.exists(l =>
        l.contains(t) && l.contains("Scan")),
        s"expected a bucketed $t scan:\n$formatted")
  }

  test("video index lifecycle: corpus, delta, and dead sidecar all scan bucketed") {
    val df = operators.MultimodalOps.queries("q394_video_index_lifecycle")(spark, dir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the maintained index's three relations share the band-key
    // bucketing, so the retention anti-join and both probe joins are
    // co-located — the corpus side moves nothing at probe time, and
    // was never re-decoded after build
    assert(formatted.contains("Bucketed: true"),
      s"lifecycle index not scanned as bucketed:\n$formatted")
    for (t <- Seq("video_lx_corpus", "video_lx_delta", "video_lx_dead"))
      assert(formatted.linesIterator.exists(l =>
        l.contains(t) && l.contains("Scan")),
        s"expected a bucketed $t scan:\n$formatted")
  }

  test("maintained-index probes broadcast the probe side (q397/q401/q402)") {
    // the stream-built stores' probe joins: small probe rows broadcast
    // into the key-clustered store scan — never a cartesian, never a
    // store-side broadcast (the store is the big side at 100 TB)
    for (q <- Seq("q397_video_index_stream", "q401_crosscodec_index_migrate",
        "q402_dedup_ledger_stream")) {
      val df = (operators.MultimodalOps.queries ++
        operators.PipelineOps.queries)(q)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$q probe lost its broadcast shape:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q regressed to a product join:\n$plan")
    }
  }

  test("incremental video dedup fingerprints its drop once (ids come from the documents table)") {
    // the probe ids must not be a projection of the fingerprint frame:
    // Catalyst cannot prune a Dataset.map, so that projection re-runs
    // the encode → decode → hash closure just to produce ids
    val plan = operators.MultimodalOps.queries("q392_video_dedup_delta")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("MapElements")) == 1,
      s"q392 runs its fingerprint closure more than once:\n$plan")
  }

  test("the cross-codec index build fingerprints its corpus once (retired ids come from the stored table)") {
    // the q401 build appends the fingerprint frame, then retires the MPEG
    // originals; a retirement list projected from that frame would
    // decode → hash the whole corpus a second time
    val plan = operators.MultimodalOps.crossCodecRetiredIds(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapElements"),
      s"retired ids re-run the fingerprint closure:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("media_id") && !readSchema.contains("bytes"),
      s"retired ids read more than media_id:\n$plan")
  }

  test("media near-dup pairs are ONE band self-join, never a product (q351/q399/q400/q405)") {
    // candidates come from band-key equality alone: one equi-join on bk
    // per query, and no cartesian or nested-loop fallback at any size
    val bandJoin = """.*(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[bk#\d+L\], \[bk#\d+L\].*""".r
    for (q <- Seq("q351_audio_fingerprint_neardup", "q399_h264_dedup_pairs",
        "q400_crosscodec_dedup", "q405_h264_motion_dedup")) {
      val plan = operators.MultimodalOps.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.linesIterator.count(bandJoin.matches) == 1,
        s"$q is not exactly one band self-join:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q regressed to a product join:\n$plan")
    }
  }

  test("union-scan selectors push metric_name into BOTH stored tables") {
    val df = operators.PromQLOps.queries("q88_promql_union_scan")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // each selector filters over the gauge+sum union: the equality must
    // reach every parquet scan, so untouched metric kinds never read rows
    assert(plan.contains("EqualTo(metric_name,purchase)") &&
      plan.contains("EqualTo(metric_name,view)"),
      s"metric_name pushdown missing from the union scan:\n$plan")
    // and the date_day partition-bound mirror prunes day directories
    assert(plan.contains("PartitionFilters") && plan.contains("date_day"),
      s"no date_day partition filters on the stored metric scan:\n$plan")
  }

  test("projection prunes the read schema to selected columns") {
    val df = operators.CoreOps.queries("q02_projection_filter")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // ReadSchema must not include unprojected columns like o_orderpriority
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && !readSchema.contains("o_orderpriority"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("two-phase trace fetch broadcasts the matching-id side") {
    val df = operators.TraceOps.queries("q59_trace_two_phase")(spark, dir)
    // AQE converts the semi join to broadcast once the limit(20) side is
    // seen to be tiny; check the final adaptive plan after execution
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast semi join for 20 trace ids:\n$plan")
  }

  test("ANN plans broadcast the query side and never explode dimensions") {
    // LSH: bucket equi-join must be a broadcast hash join on sig, and the
    // plan must carry arrays (no posexplode → no per-dimension shuffle)
    val lsh = operators.PipelineOps.queries("q25_ann_lsh")(spark, dir)
    val lshPlan = lsh.queryExecution.executedPlan.toString
    assert(lshPlan.contains("BroadcastHashJoin") && lshPlan.contains("sig"),
      s"LSH bucket join is not a broadcast hash join:\n$lshPlan")
    assert(!lshPlan.contains("Generate posexplode"),
      s"LSH plan still explodes embedding dimensions:\n$lshPlan")
    // brute-force baseline: non-equi pairing is a broadcast nested loop of
    // the small query side, never a cartesian of two large sides
    val bf = operators.PipelineOps.queries("q24_ann_cosine_topk")(spark, dir)
    val bfPlan = bf.queryExecution.executedPlan.toString
    assert(bfPlan.contains("BroadcastNestedLoopJoin"),
      s"brute-force pairing does not broadcast the query side:\n$bfPlan")
  }

  test("stored-union scan reads only flat columns (promoted tie-break)") {
    val df = operators.PromQLOps.queries("q88_promql_union_scan")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    // the eid tie-break is promoted at write time: the hot path must scan
    // label_eid, never deserialize the attributes map
    assert(readSchemas.contains("label_eid") && !readSchemas.contains("attributes:map"),
      s"stored metric scan still reads the attributes map: $readSchemas")
  }

  test("aggregation plans keep whole-stage codegen") {
    val df = operators.CoreOps.queries("q01_agg_basic")(spark, dir)
    df.collect() // finalize THIS adaptive plan (count() would plan anew)
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
      s"no codegen span:\n$plan")
  }

  test("logql line query is a filter+sort+limit with no shuffle-heavy ops") {
    val t = SignalViews.logsTable(spark, dir)
    val q = logql.Parser.parseLogQuery("""{service_name="svc-1"} |= "k"""")
    val df = logql.Lowering.lowerLineQuery(t, q, 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject (global top-n without full sort):\n$plan")
  }

  test("sql surface answers joins over registered views") {
    val run = sql.SqlSurface.session(spark, dir)
    val n = run(
      """SELECT c.c_mktsegment, count(*) n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin).count()
    assert(n > 0)
  }

  test("as-of join is one shuffle on the key, not a range-exploded join") {
    val df = operators.PipelineOps.queries("q128_asof_join")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the union+window shape: no join operator at all, and the only
    // wide dependencies are the hashpartitioning on user_id (clicks
    // pre-dedup + the window) — never a BroadcastNestedLoop/cartesian
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"as-of join must not fall back to a product join:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"),
      s"expected the per-user shuffle for the ordered window:\n$plan")
  }

  test("stored-index ANN probe prunes postings cells dynamically (DPP)") {
    val df = operators.PipelineOps.queries("q260_ann_stored_index")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the probe side broadcasts onto the postings scan's PARTITION column,
    // so the cell directories prune at runtime — the scan must carry a
    // dynamicpruning partition filter, not read all 16 cells
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"postings scan must be dynamically partition-pruned by the probed cells:\n$plan")
  }

  test("rollup day filter prunes partitions before any row is read") {
    val df = SignalTables.storedRollup(spark, dir)
      .filter(col("date_day") === "2024-01-05")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("date_day"),
      s"date_day must be a partition filter on the rollup scan:\n$plan")
    // the cells table never exposes raw samples: scan schema is the
    // pre-aggregated algebra, not (timestamp, value) rows
    assert(plan.contains("vsum") && !plan.contains("ReadSchema: struct<timestamp"),
      s"rollup scan should read cells, not raw samples:\n$plan")
  }

  test("grouping sets lower to one Expand + hash aggregates, no extra join") {
    val df = operators.CoreOps.queries("q137_sql_grouping_sets")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected Expand for grouping sets:\n$plan")
    assert(!plan.contains("Join"), s"grouping sets must not join:\n$plan")
  }

  test("TF-IDF broadcasts the 1-row corpus count, never a driver action") {
    val df = operators.PipelineOps.queries("q142_tfidf_topterms")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the N(docs) side must broadcast:\n$plan")
  }

  test("structural TraceQL is a semi join, not a product") {
    val df = operators.TraceOps.queries("q145_traceql_child")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    assert(!plan.contains("Cartesian"), s"structural match must stay keyed:\n$plan")
  }

  test("TraceQL metrics filter pushes through the view alias to the scan") {
    val df = operators.TraceOps.queries("q151_traceql_metrics_rate")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // span_name is an alias of event_type — Catalyst must push the
    // equality through to the parquet scan, not filter post-scan
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(event_type,purchase"),
      s"metric filter must reach the scan:\n$plan")
  }

  test("segment dedup shuffles by segment then by doc — no join in the plan") {
    val df = operators.PipelineOps.queries("q138_segment_dedup")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(seg"),
      s"expected the per-segment window shuffle:\n$plan")
    assert(!plan.contains("Join"), s"keep-first dedup needs no join:\n$plan")
  }

  test("per-row pipeline ops (chunking, int8 quantize) have NO exchange") {
    for (q <- Seq("q164_chunk_overlap", "q174_embedding_quantize")) {
      val df = operators.PipelineOps.queries(q)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$q must stay embarrassingly parallel (no shuffle):\n$plan")
    }
  }

  test("trace parentage derives from ONE window — no self-join exchange pair") {
    val df = operators.TraceOps.queries("q145_traceql_child")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // one shuffle for the per-trace window, one for the structural semi
    // join's build side at most — the old self-join shape had three
    assert(plan.count(_ == '\n') > 0 &&
      "Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"expected ≤2 hash exchanges (window + semi-join build):\n$plan")
  }

  test("anomaly z-score is one window over the series key — no join, one exchange") {
    val df = operators.CoreOps.queries("q201_anomaly_zscore")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"z-score must not join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1 &&
      plan.contains("hashpartitioning(event_type"),
      s"expected exactly the per-series window shuffle:\n$plan")
  }

  test("HLL sketch state is bounded by m=256 regardless of input size") {
    val rows = operators.DiscoveryOps.queries("q205_hll_registers")(spark, dir).count()
    assert(rows <= 256, s"register table must be ≤256 rows, got $rows")
  }

  test("gap-fill auxiliary scans (bounds, series) prune to single columns") {
    val df = operators.CoreOps.queries("q207_gap_fill")(spark, dir)
    // Catalyst collapses the bounds/series aggregates straight onto the
    // scan: only the wide samp reduce reads the value columns; the spine
    // derivation reads one column each. Pin that so a regression never
    // turns the spine into two extra full-width scans.
    val schemas = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema"))
      .map(_.replaceAll(".*ReadSchema: ", "")).toSeq
    assert(schemas.size == 3, s"expected 3 scans, got:\n${schemas.mkString("\n")}")
    assert(schemas.count(s => s.count(_ == ':') == 1) == 2,
      s"bounds/series scans must each read exactly ONE column:\n${schemas.mkString("\n")}")
  }

  test("promoted-rule probe pushes the rewritten label filter to the scan") {
    val df = operators.LogQLOps.queries("q221_promoted_rule_probe")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label_region,r1)"),
      s"the rule must turn the map probe into a pushed filter:\n$plan")
  }

  test("lookback instant is reduce -> bounded explode -> re-reduce on one scan") {
    val df = operators.PromQLOps.queries("q212_promql_lookback")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"lookback must not rescan per step:\n$plan")
    assert(plan.contains("Generate explode"),
      s"expected the bounded fan-out explode:\n$plan")
    assert(!plan.contains("Join"), s"no join in the lookback path:\n$plan")
  }

  test("funnel is ONE shuffle on user_id — no self-joins, no window sorts") {
    val df = operators.CoreOps.queries("q269_funnel_steps")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // one exchange for the per-user fold; the final 1-row agg is a
    // SinglePartition exchange over already-tiny data
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"funnel must not self-join:\n$plan")
  }

  test("rolling WAU explodes the REDUCED (user, day) stream, never raw events") {
    val df = operators.CoreOps.queries("q283_rolling_wau")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), s"expected the bounded fan-out:\n$plan")
    assert(!plan.contains("Join"), s"WAU needs no join:\n$plan")
    // the Generate must consume the distinct's aggregate output — in the
    // printed tree the explode therefore sits ABOVE a HashAggregate
    val genIdx = plan.indexOf("Generate explode")
    assert(plan.indexOf("HashAggregate", genIdx) > 0,
      s"explode must fan out the reduced stream:\n$plan")
  }

  test("sub-second range selector adds a FILTER, not a plan change") {
    val df = operators.PromQLOps.queries("q284_promql_subsecond_range")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // same shape as any over_time: scan → filter → partial/final agg;
    // the trailing-window restriction must never introduce a join or a
    // second exchange
    assert(!plan.contains("Join"), s"no join in a range window:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"one aggregate exchange expected, got $exchanges:\n$plan")
  }

  test("TraceQL spanset && is union + semi join on trace ids — no product") {
    val df = operators.TraceOps.queries("q286_traceql_spanset_and")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected the trace-id semi join:\n$plan")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"spanset algebra must never be a product:\n$plan")
  }

  test("pprof ingest is a narrow per-payload decode — no shuffle before the fold") {
    import spark.implicits._
    val payloads = Seq((graft.sources.Pprof.fixtureUpload(0, 0), "svc-0"))
      .toDF("payload", "service_name")
    val rows = graft.sources.Pprof.profiles(payloads)
    val plan = rows.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"decode must be a narrow flatMap, no shuffle:\n$plan")
  }

  test("unigram surprisal: corpus total is a broadcast, never a shuffle fan-in") {
    val df = operators.PipelineOps.queries("q290_unigram_surprisal")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian in the scoring join:\n$plan")
  }

  test("schema-evolution read resolves at scan level — no extra exchange") {
    val df = operators.CoreOps.queries("q265_schema_evolution")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // mergeSchema + coalesce resolution adds projections only: the single
    // hash exchange belongs to the final aggregate
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"version resolution must not shuffle, got $exchanges exchanges:\n$plan")
    assert(!plan.contains("Join"), s"no join in version resolution:\n$plan")
  }

  test("KMV sketch aggregates with partial (map-side) combine — shuffle moves sketches") {
    val df = operators.DiscoveryOps.queries("q299_kmv_distinct")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // TypedImperativeAggregate lowers to ObjectHashAggregate with a
    // partial stage BEFORE the exchange: the shuffle carries ≤k-long
    // serialized buffers, never raw rows
    assert(plan.contains("ObjectHashAggregate"),
      s"expected object hash aggregate for the sketch:\n$plan")
    assert("partial_kmv_sketch".r.findAllIn(plan).nonEmpty,
      s"expected a PARTIAL sketch stage before the shuffle:\n$plan")
  }

  test("normal-equation regressor broadcasts the 1-row solve — no driver math") {
    val df = operators.PipelineOps.queries("q303_quality_regressor")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"Cramer solution must broadcast back for scoring:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"1-row cross join must not plan as a cartesian product:\n$plan")
  }

  test("C4 span dedup: fixed-width hash key shuffles, no join for span ranking") {
    val df = operators.PipelineOps.queries("q301_c4_span_dedup")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // coverage anti join + reassembly join are the only joins; span
    // ranking itself is a window over md5(span), never a self join
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).size <= 2,
      s"expected ≤2 joins (anti + reassembly):\n$plan")
  }

  test("CMS sketch aggregates with partial (map-side) combine — shuffle moves counters") {
    val df = operators.PipelineOps.queries("q316_cms_heavy_hitters")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected object hash aggregate for the sketch:\n$plan")
    assert("partial_cms_sketch".r.findAllIn(plan).nonEmpty,
      s"expected a PARTIAL sketch stage before the shuffle:\n$plan")
  }

  test("BPE round is lineage-truncated: round r never re-executes round r−1's agg") {
    import spark.implicits._
    val words = Seq(("abab", 5L), ("abc", 3L), ("ba", 2L))
      .toDF("w", "cnt")
      .withColumn("sym",
        org.apache.spark.sql.functions.expr("filter(split(w, ''), c -> c <> '')"))
    val (w1, m1) = operators.PipelineOps.bpeRound(words, 1)
    // both outputs are materialized scans (localCheckpoint → LogicalRDD):
    // no Aggregate survives in their plans, so chaining round 2 onto w1
    // cannot re-derive round 1's pair-count agg
    assert(!w1.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      w1.queryExecution.optimizedPlan.toString)
    assert(!m1.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      m1.queryExecution.optimizedPlan.toString)
    assert(w1.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    // and the round itself is correct: 'ab' is the winning pair
    val m = m1.collect()(0)
    assert(m.getString(1) == "a" && m.getString(2) == "b" && m.getLong(3) == 13L)
    val syms = w1.orderBy("w").collect().map(_.getSeq[String](2).mkString("|"))
    assert(syms.sameElements(Array("ab|ab", "ab|c", "b|a")))
  }

  test("classifier weight table joins as a broadcast, never sort-merge") {
    // the (4×1024) weight table is KB-scale by construction — if it ever
    // arrives via a shuffle the plan regressed to a corpus-wide exchange
    // on bucket
    val df = operators.PipelineOps
      .queries("q326_hashed_linear_classifier")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"weight join regressed to a shuffle:\n$plan")
  }

  test("tail-sampling threshold is a 1-row broadcast over one trace agg") {
    val df = operators.TraceOps.queries("q327_tail_sampling")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the p95 rank threshold and the trace-count row both broadcast;
    // nothing in the policy CASE may turn into a cross/SMJ product
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"threshold join regressed:\n$plan")
  }

  test("bigram LM scoring plans no cartesian product and prunes documents to (doc_id, text)") {
    val df = operators.PipelineOps.queries("q325_bigram_backoff_lm")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the scan must not drag unrelated columns through three joins
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan not pruned:\n$plan")
  }

  test("main-content extraction is shuffle-free: per-row array folds, zero exchanges") {
    val df = operators.PipelineOps.queries("q339_main_content_extract")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // a document's blocks never leave their row — no explode+regroup,
    // so the operator runs at scan speed at any corpus size
    assert(!plan.contains("Exchange"),
      s"link-density extraction must not shuffle:\n$plan")
    assert(!plan.contains("Generate"),
      s"blocks must fold as arrays, not explode:\n$plan")
  }

  test("WARC decode is shuffle-free: per-row framing walk at scan speed") {
    val df = operators.PipelineOps.queries("q346_warc_extract")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // a crawl archive's records never leave their row: build, parse,
    // HTTP-split and clean all fold per document — the 100 TB WARC scan
    // is embarrassingly parallel by construction
    assert(!plan.contains("Exchange"),
      s"WARC framing decode must not shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("robots filter joins the rule set as a broadcast, never sort-merge") {
    val df = operators.PipelineOps.queries("q340_robots_filter")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // per-host rules are KBs; the URL frontier must stream past them
    assert(plan.contains("BroadcastHashJoin"),
      s"rules must broadcast onto the frontier:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"robots precedence must not shuffle-join or cross-join:\n$plan")
  }
}
