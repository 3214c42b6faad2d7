package graft

/** Plan-quality audit: prints `explain(formatted)` for representative
  * queries and checks the properties that matter at 100 TB — filters and
  * projections reaching the parquet scan, small dims broadcast, windows
  * partitioned on their keys, custom expressions staying inside
  * whole-stage codegen.
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  * Audits a representative subset and exits non-zero on any failed
  * property. A query's full plan on the same session:
  * SPARK_GRAFT_CPUS=8 SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.Bench
  * --explain <outDir> <suffix> <query>.
  */
object PlanAudit {

  final case class Check(query: String, property: String,
      test: String => Boolean)

  /** Every RoundRobin exchange in the formatted plan carries ONLY
    * pre-encode scalar tuples (id + dims/params) — the property the mm
    * spread claims ("payloads never shuffle"): a regression that
    * round-robins post-encode media bytes would show the generated
    * payload column in the exchange's Input list and fail here. Every
    * RoundRobinPartitioning in the plan must be one the pattern reads,
    * so a formatting drift fails instead of passing over zero matches.
    */
  private[graft] def roundRobinPreEncodeOnly(p: String): Boolean = {
    val exchanges =
      "(?m)^\\(\\d+\\) Exchange\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]\\nArguments: RoundRobinPartitioning".r
        .findAllMatchIn(p).toSeq
    exchanges.size == "RoundRobinPartitioning".r.findAllIn(p).size &&
      exchanges.forall { m =>
        m.group(1).split(",").map(_.trim).forall(c =>
          "^(doc_id|vec_id|w|h|sr|n|nf|dur|secs|seed|fps|ch|rate|len)#\\d+L?$"
            .r.findFirstIn(c).isDefined)
      }
  }

  /** no Sort node: the formatted plan names nodes `(N) Sort` (the tree
    * lines carry no class names such as SortExec)
    */
  private[graft] def noSort(p: String): Boolean =
    "(?m)^\\(\\d+\\) Sort$".r.findFirstIn(p).isEmpty

  /** the plan joins with a hash/merge equi-join, never a nested loop */
  private def isEquiJoin(p: String): Boolean =
    !p.contains("BroadcastNestedLoopJoin") &&
      (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"))

  /** plan-text properties per audited query */
  val checks: Seq[Check] = Seq(
    Check("s1_chunk_scan", "range filter pushed to parquet scan",
      p => p.contains("PushedFilters: [IsNotNull(event_id), GreaterThanOrEqual(event_id,500)]")),
    Check("s1_chunk_scan", "column pruning (4-col ReadSchema)",
      p => "ReadSchema:.*event_id.*ts.*user_id.*event_type".r
        .findFirstIn(p).isDefined || p.contains("struct<event_id:bigint,ts:bigint,user_id:bigint,event_type:string")),
    Check("q3_join_agg", "nation dim broadcast",
      p => p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange")),
    Check("q1_agg", "partial aggregation before shuffle",
      p => p.contains("partial_sum") && p.contains("hashpartitioning(l_returnflag")),
    Check("w2_lead_validity", "window partitioned by user_id",
      p => p.contains("Window") && p.contains("hashpartitioning(user_id")),
    Check("j3_semi_join", "semi join, not inner+distinct",
      p => p.contains("LeftSemi")),
    Check("j7_frontier_anti", "anti join",
      p => p.contains("LeftAnti")),
    Check("p2_select_except", "orderkey filter pushed",
      p => p.contains("LessThan(l_orderkey,100)")),
    Check("sim1_cosine_topk", "top-k as TakeOrderedAndProject (no full sort)",
      p => p.contains("TakeOrderedAndProject")),
    Check("dd1_exact_dedup", "single shuffle on content hash",
      p => p.contains("hashpartitioning(content_sha") &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("dd6_simhash_pairs", "banded equi-join, not nested-loop pairs",
      isEquiJoin),
    Check("j10_range_attr", "binned range join is equi, not nested-loop",
      isEquiJoin),
    Check("j11_interval_overlap", "binned overlap join is equi, not nested-loop",
      isEquiJoin),
    Check("w5_topk_per_group", "one shuffle for the rank window",
      p => p.contains("Window") && p.contains("hashpartitioning(o_custkey") &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("ts10_repetition", "map-only repetition stats (no shuffle)",
      p => !p.contains("Exchange") &&
        p.contains("repetition_stats")),
    Check("ts19_quality_calibrated",
      "calibration window partitioned by source; one exchange total",
      p => p.contains("Window") && p.contains("hashpartitioning(source") &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("ts18_bm25",
      "BM25 (r18 map-only shape): one text_stats pass per row, tf/dl " +
        "from the stats struct — no (doc,term) explode shuffle, no dl " +
        "rollup join; the only nested loop is the 1-row corpus-stats " +
        "cross join; top-k as TakeOrdered",
      p => p.contains("TakeOrderedAndProject") &&
        p.contains("text_stats") &&
        !p.contains("hashpartitioning") &&
        !p.contains("SortMergeJoin") &&
        // tree lines name the join type ("BroadcastNestedLoopJoin Cross
        // BuildRight"); the detail section's bare operator-name line has
        // no trailing space, so this matches typed tree lines only
        "BroadcastNestedLoopJoin (?!Cross)".r.findFirstIn(p).isEmpty),
    Check("ts17_weighted_sample",
      "weighted draw is map-only into TakeOrderedAndProject (k-row " +
        "heaps, no corpus shuffle, no full sort)",
      p => p.contains("TakeOrderedAndProject") && !p.contains("Exchange") &&
        noSort(p)),
    Check("a8_heavy_hitters", "raw keys never shuffle; one sketch exchange",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 2 &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("a10_cm_topk", "raw keys never shuffle; one sketch exchange",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 2 &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("q12_quantile_sketch",
      "rows never shuffle for quantiles — partial KLL sketches merge " +
        "across one group-key exchange",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 2 &&
        p.contains("hashpartitioning(l_returnflag") &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("st9_window_quantile",
      "per-window quantiles shuffle sketches, not events; one exchange",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 2 &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("q14_iqr_outliers",
      "fences broadcast back; outlier flagging is map-side (no row " +
        "shuffle after the sketch agg)",
      p => p.contains("BroadcastHashJoin") &&
        "ObjectHashAggregate".r.findAllIn(p).size >= 2),
    Check("q15_sketch_rollup",
      "summary rollup: partial sketch build AND stored-sketch merge " +
        "both aggregate sketches, never rows-to-driver",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 4 &&
        !p.contains("CartesianProduct")),
    Check("st8_hopping",
      "multi-window Expand runs before partial aggregation — the " +
        "shuffle carries per-(window,type) aggregates, not events",
      p => p.contains("Expand") && p.contains("partial_count") &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 1),
    Check("st4_funnel", "three funnel windows share one user-key exchange",
      p => "\\(\\d+\\) Window".r.findAllIn(p).size == 3 &&
        "hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
    Check("st5_retention", "cohort join is an equi-join (planner-chosen build)",
      isEquiJoin),
    Check("st7_funnel_windowed",
      "anchor windows and flag groupBy share one user-key exchange",
      p => "hashpartitioning\\(user_id".r.findAllIn(p).size == 1),
    Check("sim6_pq_topk",
      "ADC probe: distance table broadcast, top-k without full sort",
      p => p.contains("BroadcastHashJoin") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        p.contains("TakeOrderedAndProject")),
    Check("sim8_rpq_topk",
      "rotated-space ADC probe keeps sim6's exact shape (broadcast " +
        "distance table, no extra exchange); the rotation runs behind " +
        "its per-step plan barrier (RDD leaf), never as the nested " +
        "O(dims³) expression",
      p => p.contains("BroadcastHashJoin") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        p.contains("TakeOrderedAndProject") &&
        p.contains("ExistingRDD")),
    Check("sim7_ivfpq_topk",
      "IVFADC: no shuffle join anywhere, top-k without full sort; " +
        "nested-loops only from the build's kc-row broadcast-argmax " +
        "(3 uses of the assignment subtree; the persisted-index probe " +
        "path has none)",
      p => p.contains("BroadcastHashJoin") &&
        !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
        "BroadcastNestedLoopJoin Cross".r.findAllIn(p).size <= 3 &&
        p.contains("TakeOrderedAndProject")),
    Check("dd2b_jaccard_capped",
      "capped candidates expand in-bucket (bounded-collect agg), never " +
        "via a pair nested-loop, and EVERY stats/verification join is " +
        "broadcast (no sort-merge anywhere) — the round-13→14 autopsy " +
        "shape: the 1.4→2.0 s bench drift was NOT a plan flip (this " +
        "property would catch one); shuffle records at ×10 are back at " +
        "the pre-regression 205k",
      p => !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") &&
        !p.contains("SortMergeJoin") &&
        p.contains("BroadcastHashJoin") &&
        p.contains("ObjectHashAggregate")),
    Check("dd15b_containment_capped",
      "capped candidates expand in-bucket (bounded-collect agg), never " +
        "via a pair nested-loop, every stats/verification join broadcast",
      p => !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") &&
        !p.contains("SortMergeJoin") &&
        p.contains("BroadcastHashJoin") &&
        p.contains("ObjectHashAggregate")),
    Check("dd2d_jaccard_capped_chain",
      "chain predecessors derive via the broadcast hot-frequency join " +
        "and the per-shingle range-bucketed lag window (bkt in the " +
        "window keys), and every stats/verification join stays " +
        "broadcast at gate scale — pins the round-13 regression where " +
        "an eager action on a cached frame flipped them to sort-merge",
      p => p.contains("bkt") &&
        p.contains("BroadcastHashJoin") &&
        !p.contains("SortMergeJoin") &&
        !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin")),
    Check("ts7b_decontaminate_bloom",
      "bloom prefilter inside codegen BEFORE the deliberately " +
        "non-broadcast exact join (the large-benchmark shape)",
      p => p.contains("bloom_might_contain") &&
        p.contains("SortMergeJoin") &&
        !p.contains("BroadcastNestedLoopJoin")),
    Check("p12_like_scan", "substring predicate pushed as StringContains",
      p => p.contains("StringContains(p_name,bolt)")),
    Check("p13_prefix_scan", "prefix predicate pushed as StringStartsWith",
      p => p.contains("StringStartsWith(p_name,blue)")),
    Check("mm4_audio_windows",
      "overlapping-window explode is partition-local (map-only, no " +
        "shuffle, no sort)",
      p => !p.contains("Exchange") && noSort(p)),
    Check("mm6_image_decode",
      "render + real ImageIO decode is one map pass over the spread " +
        "dims rows: the only exchange is the scale-adaptive round-robin " +
        "spread of the pre-encode (id, dims) tuples — media payloads " +
        "never shuffle, and no hash exchange or sort appears",
      p => !p.contains("hashpartitioning") &&
        noSort(p) &&
        "RoundRobinPartitioning".r.findAllIn(p).size <= 1 &&
        roundRobinPreEncodeOnly(p)),
    Check("mm5_feature_argmax",
      "feature extraction + summary is map-only (no shuffle)",
      p => !p.contains("Exchange") && noSort(p)),
    Check("q16_drift_report",
      "both snapshot profiles aggregate sketches (rows never shuffle " +
        "past the partial agg); the side join runs on the " +
        "group-cardinality table",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 4 &&
        !p.contains("CartesianProduct")),
    Check("ts23_quality_model",
      "trained-model scoring is map-only over the cached features (no " +
        "row shuffle in the returned plan; training runs as one global " +
        "agg per round with map-side partials, off-plan)",
      p => !p.contains("hashpartitioning") &&
        noSort(p)),
    Check("a13_kmv_overlap",
      "per-group KMV sketches aggregate partial map-side; the pairwise " +
        "probe joins only the group-cardinality sketch table",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 2),
    Check("ts24_bm25_index",
      "index probe: df broadcast back to the posting lists, top-k " +
        "without a full sort",
      p => p.contains("BroadcastHashJoin") &&
        p.contains("TakeOrderedAndProject") &&
        !p.contains("CartesianProduct")),
    Check("ts27_lm_cross_score",
      "frozen-LM scoring: target bigrams equi-join the LM tables — " +
        "never a nested-loop, never a cartesian; bigrams build " +
        "map-only (array zip, no per-doc window shuffle)",
      p => !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct") && isEquiJoin(p) &&
        "\\(\\d+\\) Window".r.findFirstIn(p).isEmpty),
    Check("ts28_phrase_search",
      "phrase probe: per-term posting rows equi-join on doc_id; the " +
        "position algebra is projection-level (no extra shuffle, no " +
        "cartesian)",
      p => isEquiJoin(p) && !p.contains("CartesianProduct")),
    Check("sim11_sq_topk",
      "SQ8 probe scans the code table only — no join of any kind, " +
        "decode+distance in projection, top-k without a full sort",
      p => p.contains("TakeOrderedAndProject") && !p.contains("Join") &&
        !p.contains("hashpartitioning")),
    Check("ts30_dsir_select",
      "DSIR scoring: bigrams equi-join both frozen LM tables, " +
        "selection is a global TakeOrdered — never a nested loop, " +
        "never a per-doc window shuffle",
      p => isEquiJoin(p) && !p.contains("CartesianProduct") &&
        p.contains("TakeOrderedAndProject") &&
        "\\(\\d+\\) Window".r.findFirstIn(p).isEmpty),
    Check("ts31_hybrid_rrf",
      "hybrid RRF: each side cuts to a TakeOrdered shortlist before " +
        "fusion; the fusion join runs on shortlists — the only nested " +
        "loop is BM25's 1-row corpus-stats cross join (ts18's shape)",
      p => p.contains("TakeOrderedAndProject") &&
        !p.contains("CartesianProduct") &&
        "BroadcastNestedLoopJoin (?!Cross)".r.findFirstIn(p).isEmpty),
    Check("ts32_blocklist",
      "blocklist scan is one map-only automaton pass (no shuffle, no " +
        "sort, codegen'd blocklist_hits)",
      p => p.contains("blocklist_hits") && !p.contains("Exchange") &&
        noSort(p)),
    Check("g3_kcore",
      "delta peel: the returned plan reads the truncated cached " +
        "maintained-degree table (no join, no re-aggregation), never " +
        "re-deriving the co-occurrence join",
      p => p.contains("ExistingRDD") && !p.contains("SortMergeJoin") &&
        !p.contains("BroadcastHashJoin")),
    Check("st11_interpolate",
      "all four neighbor-scan window frames (prev/next value+day) " +
        "share ONE user-key exchange; the grid join is broadcast",
      p => "hashpartitioning\\(user_id#\\d+L, \\d+\\)".r
        .findAllIn(p).size == 1 &&
        p.contains("BroadcastHashJoin")),
    Check("a14_join_estimate",
      "join-size estimate: per-side sketch aggregates (partial map-" +
        "side), the 'join' at estimate time is a 1-row × 1-row cross " +
        "of sketches — the fact tables are never equi-joined",
      p => "ObjectHashAggregate".r.findAllIn(p).size >= 4 &&
        !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")),
    Check("ts34_cluster_sample",
      "per-cluster quota runs as WindowGroupLimit (partial top-k on " +
        "both sides of the exchange); the doc join is broadcast-hash; " +
        "the only nested loop is the centroid-broadcast cross",
      p => "WindowGroupLimit".r.findAllIn(p).size >= 2 &&
        p.contains("BroadcastHashJoin") &&
        "BroadcastNestedLoopJoin (?!Cross)".r.findFirstIn(p).isEmpty),
    Check("q18_expectations",
      "all row+unique rules share ONE fact scan (3 scans total: rules, " +
        "ref child, broadcast parent); ref probe is a broadcast " +
        "left-anti, never a nested loop",
      p => "\\(\\d+\\) Scan parquet".r.findAllIn(p).size <= 3 &&
        p.contains("LeftAnti") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct")),
    Check("ts33_blocklist_scrub",
      "blocklist scrub is one map-only automaton pass (no shuffle, no " +
        "sort, codegen'd blocklist_scrub)",
      p => p.contains("blocklist_scrub") && !p.contains("Exchange") &&
        noSort(p)),
    Check("dd21_cdc_dedup",
      "CDC: codegen chunking explodes map-side and the chunk TEXT is " +
        "hashed away before any exchange — both shuffles (per-doc " +
        "distinct, then ledger) carry 32-byte hashes; no join",
      p => p.contains("cdc_chunks") && p.contains("Generate") &&
        !p.contains("Join") &&
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p).size == 2),
    Check("mm12_image_resize",
      "render + resize + re-decode is one map pass over the spread dims " +
        "(round-robin of pre-encode tuples only; payloads never shuffle)",
      p => !p.contains("hashpartitioning") &&
        noSort(p) &&
        "RoundRobinPartitioning".r.findAllIn(p).size <= 1 &&
        roundRobinPreEncodeOnly(p)),
    Check("mm13_audio_decimate",
      "synthesize + decimate + re-decode is one map pass over the " +
        "spread dims (round-robin of pre-encode tuples only; payloads " +
        "never shuffle)",
      p => !p.contains("hashpartitioning") &&
        noSort(p) &&
        "RoundRobinPartitioning".r.findAllIn(p).size <= 1 &&
        roundRobinPreEncodeOnly(p)),
    Check("mm14_channel_stats",
      "render + decode + channel sums is one map pass over the spread " +
        "dims (round-robin of pre-encode tuples only; payloads never " +
        "shuffle)",
      p => !p.contains("hashpartitioning") &&
        noSort(p) &&
        "RoundRobinPartitioning".r.findAllIn(p).size <= 1 &&
        roundRobinPreEncodeOnly(p)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Bench.session(8)

    var failed = 0
    checks.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, cs) =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      cs.foreach { c =>
        val ok = c.test(plan)
        if (!ok) failed += 1
        println(f"${if (ok) "OK  " else "FAIL"}  $q%-22s ${c.property}")
        if (!ok) println(plan.linesIterator.take(40).mkString("\n"))
      }
    }

    // curation-pipeline composition: the passage scrub → blocklist scrub
    // → Gopher rules pipeline (ts38) must add ZERO exchanges over the
    // passage scrub alone (dd23) — the downstream stages are projections
    // riding the same plan, never a re-tokenization shuffle
    {
      def exchanges(q: String): Int = {
        val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(plan).size
      }
      val p38 = SparkEntry.queries("ts38_curation_pipeline")(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      val ex38 = "(?m)^\\s*(\\+-|:-)? *Exchange".r.findAllIn(p38).size
      val ex23 = exchanges("dd23_passage_scrub")
      val ok = ex38 == ex23 && p38.contains("blocklist_scrub")
      if (!ok) { failed += 1; println(s"ts38 exchanges $ex38 vs dd23 $ex23") }
      println(f"${if (ok) "OK  " else "FAIL"}  ${"ts38_curation_pipeline"}%-22s " +
        "scrub+rules stages add zero exchanges over the passage scrub")
    }
    // full curation front-end composition: PII scrub (ts36) + blocklist
    // scrub (ts32/ts33) + heuristic stats gates + Gopher hard gates
    // (ts37) composed in TextPipeline.curate must read the documents
    // table EXACTLY ONCE — every stage is a projection/filter riding the
    // same scan (the scrubs are expression-level automata, the stats and
    // Gopher verdicts map-level token arithmetic), never a second pass
    {
      val plan = graft.ops.TextPipeline.curate(
        Tables.documents(spark, sfDir), "doc_id", "text", "source",
        graft.ops.CurationConfig(scrubPii = true,
          blocklist = Seq("merge batch", "spark row"),
          minTokens = 5, minQuality = 0.1, gopherGates = true,
          dedupExact = false))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      // detail-section headers only — the tree line repeats the name
      val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
      val ok = scans == 1 && plan.contains("blocklist_scrub")
      if (!ok) {
        failed += 1
        println(s"curate scans=$scans")
        println(plan.linesIterator.take(60).mkString("\n"))
      }
      println(f"${if (ok) "OK  " else "FAIL"}  ${"curate_frontend"}%-22s " +
        "PII+blocklist+stats+Gopher gates are ONE documents scan")
      spark.catalog.clearCache()
    }
    // PageRank iteration shape: the pinned u-partitioned adjacency cache
    // must make a round's plan reuse the edge layout — strictly fewer
    // SHUFFLES than the unpinned counterfactual (whose broadcasted
    // degree join leaves eDeg in file layout, so every round's rank
    // join re-shuffles the whole edge table), and few in absolute
    // terms (rank-flow only). Counted on the physical plan TREE
    // (ShuffleExchangeExec nodes; InMemoryTableScan is a leaf, so the
    // adjacency BUILD's one-time exchanges inside the cached relation
    // never count — a plan-string grep would see them and invert the
    // comparison). Broadcast + AQE are off at round-plan time to model
    // the at-scale case: the 400-row fixture's ranks would broadcast
    // and mask the edge-table re-shuffle that dominates at real |V|;
    // the caches are built BEFORE the flip, exactly as pageRank does.
    {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit}
      val pairs = (1L to 400L)
        .map(i => (i, (i % 37) + 1000L)).toDF("id_a", "id_b")
      def roundShuffles(pin: Boolean): Int = {
        val (eDeg, nodes) = graft.ops.Dedup.pageRankAdjacency(pairs, pin)
        eDeg.count(); nodes.count() // materialize the caches
        val ranks = org.apache.spark.sql.graftbridge.PlanBridge
          .truncated(nodes.select(col("id"), lit(100L).as("r"))).persist()
        ranks.count()
        val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val n = try {
          graft.ops.Dedup.pageRankRound(eDeg, nodes, ranks, 1L)
            .queryExecution.executedPlan.collect {
              case e: org.apache.spark.sql.execution.exchange
                  .ShuffleExchangeExec => e
            }.size
        } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
        ranks.unpersist()
        n
      }
      // counterfactual FIRST and caches released between the variants:
      // the pinned build tracks the pair projection, and CacheManager
      // substitutes that cache into any later identical plan — the
      // unpinned build would inherit a u-partitioned layout by accident
      // (its degree join flips to sort-merge under the cache's accurate
      // stats) and the comparison would invert
      val plain = roundShuffles(pin = false)
      graft.ops.Dedup.releaseCaches()
      val pinned = roundShuffles(pin = true)
      graft.ops.Dedup.releaseCaches()
      val ok = pinned < plain && pinned <= 3
      if (!ok) {
        failed += 1
        println(s"pageRank round exchanges: pinned=$pinned plain=$plain")
      }
      println(f"${if (ok) "OK  " else "FAIL"}  ${"pagerank_round"}%-22s " +
        s"pinned adjacency removes the per-round edge shuffle " +
        s"($pinned vs $plain round shuffles)")
      spark.catalog.clearCache()
    }
    // catalog fact-table layout: a time-range read over bucketed appends
    // must plan a partition filter on the derived bucket column
    {
      import spark.implicits._
      val cat = new graft.catalog.VersionedCatalog(
        java.nio.file.Files.createTempDirectory("audit_cat").toString)
      cat.commit(Map("audit.DiaSource" ->
        Seq((1L, 60010.0), (2L, 60040.0), (3L, 60100.0))
          .toDF("diaObjectId", "midpointMjdTai")))
      val plan = cat.readRange(spark, "audit.DiaSource", 60005.0, 60020.0)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      val ok = plan.contains("PartitionFilters") && plan.contains("mjd_bucket")
      if (!ok) { failed += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      println(f"${if (ok) "OK  " else "FAIL"}  ${"catalog_readRange"}%-22s time-bucket partition pruning")
    }
    // bucketized co-located join: fact ⋈ dim on the bucket key must plan
    // with NO exchange on either side (the one-time layout shuffle
    // replaces every future join shuffle)
    {
      import spark.implicits._
      val cat = new graft.catalog.VersionedCatalog(
        java.nio.file.Files.createTempDirectory("audit_bkt").toString)
      cat.commit(Map(
        "audit.DiaObject" ->
          (1L to 200L).map(i => (i, i * 2.0)).toDF("diaObjectId", "ra"),
        "audit.DiaSource" ->
          (1L to 1000L).map(i => (i % 200 + 1, i * 1.0))
            .toDF("diaObjectId", "psfFlux")))
      val obj = cat.bucketize(spark, "audit.DiaObject", "diaObjectId", 4)
      val src = cat.bucketize(spark, "audit.DiaSource", "diaObjectId", 4)
      // model the at-scale case: neither side broadcast-able, so the
      // planner must use the bucket layout instead of an exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan =
        try spark.table(src).join(spark.table(obj), "diaObjectId")
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      val ok = !plan.contains("Exchange") &&
        (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      if (!ok) { failed += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      println(f"${if (ok) "OK  " else "FAIL"}  ${"catalog_bucketize"}%-22s co-located join, no exchange")
    }
    // extensions-injected range-join rule: a naive point-in-interval
    // theta-join must lose its nested loop when the bin conf is set
    {
      import org.apache.spark.sql.SparkSession
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val ext = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.GraftExtensions())
        .config("spark.ui.enabled", "false").getOrCreate()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
      try {
        import ext.implicits._
        val points = (0L to 300L by 3L).map(t => (t, t * 7 % 11)).toDF("t", "v")
        val ivals = (0L to 5L).map(i => (i * 50L, i * 50L + 40L)).toDF("lo", "hi")
        val cond = points("t") >= ivals("lo") && points("t") <= ivals("hi")
        ext.conf.set("spark.graft.rangejoin.binwidth", "50")
        val p = points.join(ivals, cond).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        ext.conf.unset("spark.graft.rangejoin.binwidth")
        val ok = !p.contains("BroadcastNestedLoopJoin") && isEquiJoin(p) &&
          p.contains("graft_bin")
        if (!ok) { failed += 1; println(p.linesIterator.take(40).mkString("\n")) }
        println(f"${if (ok) "OK  " else "FAIL"}  ${"rangejoin_rule"}%-22s injected rule turns theta range join into binned equi-join")
      } finally ()
    }
    // simhash index probe: candidate generation must be an equi-join on
    // (band, bits) — a nested-loop probe would defeat the index
    {
      import spark.implicits._
      val corpus = (1L to 300L)
        .map(i => (i, s"alpha beta gamma tail${i % 40} delta"))
        .toDF("doc_id", "text")
      val idx = graft.ops.Dedup.simhashIndex(corpus, "doc_id", "text", 6)
      val probe = (1001L to 1050L)
        .map(i => (i, s"alpha beta gamma tail${i % 40} delta"))
        .toDF("doc_id", "text")
      val plan = graft.ops.Dedup
        .nearDupProbe(probe, idx, "doc_id", "text", 6)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      val ok = isEquiJoin(plan)
      if (!ok) { failed += 1; println(plan.linesIterator.take(40).mkString("\n")) }
      println(f"${if (ok) "OK  " else "FAIL"}  ${"neardup_probe"}%-22s index probe is an equi-join")
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
