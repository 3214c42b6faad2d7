package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.VersionedCatalog
import graft.ops.{Dedup, IvfPqCellPackedIndex, IvfPqSharedPackedIndex,
  PqPackedIndex, ScaleStress}
import graft.replicate.{ChunkUploader, PpdbStaged, Promoter, Replicator}

/** The recorded scale datapoint beyond sf0.1: inflate the real fixtures
  * ×N executor-side (ScaleStress — near-dup variant groups, the
  * adversarial shape for banded dedup) and measure the headline
  * scale-path operators end-to-end: wall seconds, total shuffle records
  * (the quantity that separates a bucketed design from an all-pairs one
  * — O(n) signatures vs O(n²) pairs), and output rows. Writes one JSON
  * line to stdout and BENCH_SCALE.json.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchScale"
  */
object BenchScale {

  /** Force full evaluation of every output column AND count rows in the
    * same aggregation (Bench.force's hash plus a count).
    */
  private def forceCount(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    r.getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val Bench.Settings(sfDir, cpus, _) = Bench.settings
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = Bench.session(cpus)

    val shuffleTally = new java.util.concurrent.atomic.AtomicLong
    // monotone task-end counter: the drain criterion. Draining on
    // shuffleTally alone left a window where task-end events from ZERO-
    // shuffle tasks of the previous case arrived after the reset and
    // inflated the next case's peak_task_mem_bytes
    val tasksEnded = new java.util.concurrent.atomic.AtomicLong
    // per-case high-water mark of any single task's execution memory
    // (sort/agg/join buffers) — the "does one partition fit an executor"
    // number the 100× posture is judged on; peaks well under the
    // per-core share mean the partitioning survives a memory-constrained
    // cluster, not just this 128 GiB host
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleTally.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          val p = m.peakExecutionMemory
          var cur = peakTaskMem.get()
          while (p > cur && !peakTaskMem.compareAndSet(cur, p))
            cur = peakTaskMem.get()
        }
        tasksEnded.incrementAndGet()
        ()
      }
    })
    /** Shuffle records and max per-task execution memory attributable to
      * `body` (listener bus drained before and after on the MONOTONE
      * task-end counter, so stragglers of earlier work can't leak into
      * this case's tallies).
      */
    // (shuffle records, peak task memory, BODY wall seconds): the wall
    // clock starts after the pre-drain and stops before the post-drain,
    // so recorded phase walls measure the work, not the listener-bus
    // drain sleeps (~0.4 s fixed + up to 20 s post-drain) — comparisons
    // against pre-drain-era artifacts stay apples-to-apples
    def shuffledTimed(body: => Unit): (Long, Long, Double) = {
      var last = -1L
      while (tasksEnded.get() != last) { last = tasksEnded.get(); Thread.sleep(200L) }
      val before = shuffleTally.get()
      peakTaskMem.set(0L)
      val t0 = System.nanoTime()
      body
      val bodySec = (System.nanoTime() - t0) / 1e9
      var waited = 0
      last = -1L
      while (waited < 20000 && tasksEnded.get() != last) {
        last = tasksEnded.get(); Thread.sleep(200L); waited += 200
      }
      (shuffleTally.get() - before, peakTaskMem.get(), bodySec)
    }
    def shuffled(body: => Unit): (Long, Long) = {
      val (recs, peak, _) = shuffledTimed(body)
      (recs, peak)
    }

    // calibrate at RUN START as well as at artifact emission: delivered
    // CPU swings within a single long run (round-16 saw the pair-graph
    // build wall move 6.6× between rounds at IDENTICAL shuffle records
    // with only an end-of-run calibration to arbitrate), so the pair
    // brackets the window every early case ran in
    val calibStart = HostCalib.measure(cpus)
    System.err.println(f"[scale] host calib start: " +
      f"1t ${calibStart.mops1t}%.0f Mops, ${cpus}t " +
      f"${calibStart.mopsNt}%.0f Mops")

    val docs = ScaleStress.inflateDocs(Tables.documents(spark, sfDir), factor)
    val emb = ScaleStress.inflateEmbeddings(Tables.embeddings(spark, sfDir), factor)
    val events = ScaleStress.inflateEvents(Tables.events(spark, sfDir), factor)
    val qVec = Tables.embeddings(spark, sfDir).where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    val nDocs = Tables.documents(spark, sfDir).count() * factor
    val nVecs = Tables.embeddings(spark, sfDir).count() * factor
    val nEvents = Tables.events(spark, sfDir).count() * factor

    // ---- the pair-graph spine: built & committed BEFORE the case sweep
    // (assigned below, after the skip/filter vars parse) — every graph
    // case reads the persisted edge table instead of regenerating the
    // LSH pair pipeline inline. The pair pass is a fixed multi-hundred-
    // second / 77.8M-record floor at ×100; paying it once in the
    // pair_graph_index build row and never again is the production
    // composition, and the case rows below then measure the graph
    // algorithms themselves. (Inline-vs-index comparison: r15's
    // artifact carries the inline numbers — g2 99.5 s/223M recs at
    // ×100 — vs this round's index-fed rows.)
    var pgLoaded: Option[Dedup.PairGraphIndex] = None
    def graphPairs: DataFrame = pgLoaded.map(_.pairs).getOrElse(
      // fallback (pair_graph_index skipped but a graph case requested):
      // the old inline pipeline
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, numHashes = 8,
        rowsPerBand = 2, threshold = 0.6).select(col("id_a"), col("id_b")))

    // the scale-path headliners: banded/capped dedup, ANN indexes, the
    // bloom-prefiltered decontamination join, event sessionization.
    // (No triangle case: trianglePairs output is cubic in clique size by
    // semantics — a ×100 clone family of 100 contributes C(100,3)
    // triangles, ~800M output rows corpus-wide — the dd6-class
    // documented exception; the index-fed operator is oracle-gated at
    // sf0.01 as g1b_triangles_indexed instead.)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "dd3_minhash_lsh" -> (() => Dedup.minhashLshPairs(docs, "doc_id",
        "text", n = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.6)),
      // REFERENCE-ONLY: the uncapped pair set is O(dups²) OUTPUT by
      // definition (243.9M rows at ×10 — the true answer, not a plan
      // failure; the banded join itself moves 2 shuffle records).
      // Production path = dd6b below; skip this case at ×30+ via
      // SPARK_GRAFT_SCALE_SKIP and never read its wall clock as a
      // regression (COVERAGE.md "Scale evidence").
      "dd6_simhash_pairs" -> (() => Dedup.simhashBandedPairs(docs,
        "doc_id", "text", 6)),
      "dd6b_simhash_capped" -> (() => Dedup.simhashBandedPairsCapped(docs,
        "doc_id", "text", maxDist = 6, maxBucket = 20)),
      "dd2b_jaccard_capped" -> (() => Dedup.jaccardPairsCapped(docs,
        "doc_id", "text", n = 3, threshold = 0.6, maxDocFreq = 20)),
      "dd15b_containment_capped" -> (() => Dedup.containmentPairsCapped(
        docs, "doc_id", "text", n = 3, threshold = 0.8, maxDocFreq = 20)),
      // graceful-degradation twins: at ×30 every 30-doc variant group
      // exceeds the cap — the plain capped variants return 0 pairs (the
      // round-10 recall cliff), the star variants must return the farms'
      // canonical pairs with shuffle still bounded (star candidates are
      // linear in hot occurrences)
      "dd2c_jaccard_capped_star" -> (() => Dedup.jaccardPairsCappedStar(
        docs, "doc_id", "text", n = 3, threshold = 0.6, maxDocFreq = 20)),
      "dd15c_containment_capped_star" -> (() =>
        Dedup.containmentPairsCappedStar(docs, "doc_id", "text", n = 3,
          threshold = 0.8, maxDocFreq = 20)),
      // chain escalation: the star recovers only the bucket-minimum's
      // own group when a hot shingle spans many duplicate groups;
      // adjacency chaining adds per-bucket predecessor edges (O(df)),
      // so every group keeps in-group candidates — the dup_recall rows
      // below measure the star→chain doc-recall lift
      "dd2d_jaccard_capped_chain" -> (() => Dedup.jaccardPairsCappedChain(
        docs, "doc_id", "text", n = 3, threshold = 0.6, maxDocFreq = 20)),
      // graph analytics over the near-dup graph at scale, ALL reading
      // the committed pair-graph edges (no inline pair regeneration —
      // the build cost sits once in the pair_graph_index row): the
      // variant farms are k-cliques, so PageRank concentrates rank on
      // canonical sources and the k-core peel must keep exactly the
      // dense families; all run the bounded-round semantics the oracles
      // replay
      "g2_pagerank" -> (() => Dedup.pageRank(
        graphPairs, "doc_id", iters = 3)),
      // the PRODUCTION PageRank row for dup graphs: contract connected
      // components (one CC pass + one size/degree aggregate), then every
      // rank round is a map-only update over the FAMILY table — rank
      // mass no longer shuffles around inside each in-group-quadratic
      // clique. From the committed edges this is the full production
      // composition: no pair floor AND no per-round intra-family flow
      // (r15 measured contracted INLINE slower than raw at ×100 —
      // 138 vs 99.5 s — precisely because both paid the ~360 s-class
      // pair pass and contraction added overhead on top; this row is
      // the index-fed number that removes the floor)
      "g2b_pagerank_contracted" -> (() => Dedup.pageRankContracted(
        graphPairs, "doc_id", iters = 3)),
      "g3_kcore" -> (() => Dedup.kCore(
        graphPairs, k = 10, maxRounds = 12, requireConverged = false)),
      "ts7b_decontaminate_bloom" -> (() => Dedup.decontaminateBloom(
        docs.where(col("doc_id") % 29 =!= 0),
        docs.where(col("doc_id") % 29 === 0),
        "doc_id", "text", n = 4, numBits = 1 << 18, numHashes = 5)),
      // production-resolution codes (128-bit PQ16x8, Lloyd-trained on a
      // bounded spread-sample) in the PACKED kernel layout — encode is
      // one map-only corpus scan (QuantKernels), probe a map-only ADC
      // projection + TakeOrdered; bit-identical to the relational
      // oracle-gated variants (QuantKernelsSpec). The gate variants keep
      // tiny codebooks for oracle tractability, but a recall MEASUREMENT
      // on 16-bit codes would only measure tie-break noise — thousands
      // of vectors share each code. Spread seeding is load-bearing here:
      // the inflated corpus numbers clone families consecutively, so
      // first-k-by-id seeds would collapse to a handful of directions
      // (the round-11 recall cliff: rerank 0.30-0.37)
      "sim6_pq_topk" -> (() => PqPackedIndex.buildTrained(emb, "vec_id",
        "embedding", m = 16, dims = 64, ksub = 256, iters = 2,
        trainLimit = Some(8192)).probe(qVec, k = 30)),
      // the FAISS IVFADC shape: Lloyd coarse + ONE Lloyd residual PQ
      // shared across cells. Operating point nprobe = 24 of 64: on this
      // near-uniform synthetic corpus the coarse cells are grab-bags
      // (beyond the query's own clone family, neighbor directions are
      // uncorrelated with cell structure — the clustered-data assumption
      // of IVFADC does not hold), so the measured rerank-recall curve
      // (sim7_nprobe_curve below) rises slowly: 0.825 @ 8, 0.875 @ 16,
      // 0.904 @ 24, plateau 0.946 @ 32+ — the plateau below plain PQ's
      // 0.988-1.000 is shared-codebook residual noise, not cell miss.
      // sim7c below removes BOTH losses; sim7 stays as the
      // broadcast-minimal shape for corpora where kc·ksub outgrows a
      // codebook sidecar.
      "sim7_ivfpq_topk" -> (() => IvfPqSharedPackedIndex.buildTrained(emb,
        "vec_id", "embedding", kc = 64, m = 16, dims = 64, ksub = 256,
        iters = 2, trainLimit = Some(8192))
        .probe(qVec, k = 30, nprobe = 24)),
      // per-cell codebooks + SPANN-style redundant assignment — the two
      // measured recall ceilings of sim7 dismantled separately: LOCAL
      // codebooks (each cell's residual quantizer trains on its own
      // members) remove the shared-codebook coding noise (rerank 1.000
      // probing all cells, vs sim7's 0.946 plateau), and storing each
      // vector in its 3 nearest cells removes the cell miss at small
      // nprobe (a true neighbor's PRIMARY cell often ranks outside the
      // probe set on this unclustered corpus, but one of 3 host cells
      // ranks inside). Measured (sim7c_nprobe_curve): rerank ≥ 0.98 at
      // nprobe 12, 1.000 at 16 — at the cost of a ×3 code table and a
      // kc-fold codebook sidecar (~8 MB here; the shared-codebook sim7
      // is the fallback where that product outgrows a broadcast).
      // Encode stays one kernel scan, zero shuffle.
      "sim7c_ivfpq_cell" -> (() => IvfPqCellPackedIndex.buildTrained(emb,
        "vec_id", "embedding", kc = 64, m = 16, dims = 64, ksub = 256,
        iters = 2, trainLimit = Some(8192),
        perCellTrainLimit = Some(2048), assigns = 3)
        .probe(qVec, k = 30, nprobe = 16)),
      "st2_sessionize" -> (() => graft.streaming.EventStreams.sessionize(
        events, gapUs = 1800L * 1000000L)),
      // BPE at x10: training cost is bound by the VOCABULARY (the x10
      // corpus adds ~one noise token per doc — vocab grows to ~n_docs,
      // not n_chars), evidencing the dictionary-cost claim
      "ts25_bpe_train" -> (() => graft.ops.Bpe.train(
        docs, "doc_id", "text", nMerges = 8)),
      // the production trainer at PRODUCTION merge depth: 256 merges in
      // ONE Spark job (distributed weighted-vocabulary scan + exact
      // driver-side rounds over the dictionary — the reference-trainer
      // shape; trajectory == sequential, BpeSpec-pinned). train() here
      // would be 256 full jobs — the round-12 job-count wall, removed.
      "ts25c_bpe_local256" -> (() => graft.ops.Bpe.trainLocal(
        docs, "doc_id", "text", nMerges = 256)),
      // the incremental driver loop measured at REAL merge depth: 4096
      // merges, still ONE Spark job (the distributed vocab scan) — the
      // row that makes the "driver seconds, not hours" claim a
      // measurement. The fixture text draws from ~31 distinct words, so
      // vocabStress bolts on a Heaps-law-sized vocabulary (n_docs·8
      // distinct words) the trajectory can actually train 4096 merges
      // into. Wall here = vocab job + driver loop; the loop is
      // O(touched chars + log heap) per merge (occurrence index +
      // lazy-deletion heap), where the replaced full-recount loop paid
      // O(vocab chars) per merge
      "ts25e_bpe_local4k" -> (() => {
        val out = graft.ops.Bpe.trainLocal(
          ScaleStress.vocabStress(docs), "doc_id", "text", nMerges = 4096)
        // trainLocal is eager (vocab collect + driver loop run inside),
        // so the loop seam is final here — the number that tests the
        // "driver seconds, not hours" claim, separate from the vocab job
        System.err.println(f"[scale] ts25e_bpe_local4k driver loop " +
          f"${graft.ops.Bpe.lastTrainLocalLoopNanos / 1e9}%.1f s " +
          f"(4096 merges, incremental)")
        out
      }),
      // the 32k-merge PRODUCTION point (a real tokenizer's merge count)
      // over the vocabLimit-capped dictionary (2^20 words at x100 —
      // vocabStress exceeds the cap there, so this IS the 1M-word
      // datapoint the trainLocal scaladoc claims): one distributed
      // vocab job + the incremental driver loop to depth 32768. Driver
      // heap before/after brackets the occurrence-index + heap cost.
      "ts25f_bpe_local32k" -> (() => {
        val rt = Runtime.getRuntime
        System.gc()
        val heap0 = rt.totalMemory() - rt.freeMemory()
        val out = graft.ops.Bpe.trainLocal(
          ScaleStress.vocabStress(docs), "doc_id", "text", nMerges = 32768)
        val heap1 = rt.totalMemory() - rt.freeMemory()
        System.err.println(f"[scale] ts25f_bpe_local32k driver loop " +
          f"${graft.ops.Bpe.lastTrainLocalLoopNanos / 1e9}%.1f s " +
          f"(32768 merges, incremental), driver heap " +
          f"${heap0 / (1L << 20)}%d -> ${heap1 / (1L << 20)}%d MiB")
        out
      }),
      // build+probe of the inverted index at x10: posting lists only
      "ts24_bm25_probe" -> (() => graft.ops.Bm25Index
        .build(docs, "doc_id", "text")
        .probe(Seq("the", "of", "data"), k = 20)),
      // SQ8 at x10: train (64-row min/max) + map-only encode + a
      // code-table-only probe — shuffle records stay at the dims count
      "sim11_sq_topk" -> (() => graft.ops.SqIndex
        .build(emb, "vec_id", "embedding", 64).probe(qVec, k = 30)),
      // SemDeDup at scale: Lloyd cells (bounded-sample training) +
      // kernel cell assignment (map-only), in-cell pair scan, first-
      // writer-wins keep — the embedding twin of the lexical dedup
      // rows; threshold 0.9 separates the clone families (worst
      // within-family pair at ×30 is cos 0.953, cross-family max 0.36).
      // probes=2: each vector's pair scan covers its 2 nearest cells, so
      // clone families straddling a Lloyd boundary (the round-12 ×30
      // one_kept_frac dip to 0.825 — two sub-families in adjacent cells
      // never met) still meet in a shared host cell; join input ×2,
      // still cell-local. The sem_dedup block below scores the kept set
      // against the known family structure.
      // maxCellRows: the worst-case guard (triangle-bucketed pair scan)
      // rides along dormant on this healthy corpus (every cell under the
      // bound → nb = 1, keep set unchanged by construction); the
      // sem_dedup_skew block below is where it earns its keep
      "dd17b_semdedup_scale" -> (() => graft.ops.Similarity.semDedup(emb,
        "vec_id", "embedding",
        graft.ops.Similarity.ivfTrain(emb, "vec_id", "embedding", k = 64,
          iters = 2, trainLimit = Some(8192)),
        threshold = 0.9, probes = 2,
        maxCellRows = Some(8192))),
      // the PRODUCTION cell sizing next to the fixed-k comparability row
      // above: k = sqrt(n) (semDedupCellCount) bounds the in-cell
      // compare count at n^1.5 where dd17b's held k = 64 degrades to
      // n²/64 — the pair measures exactly the fixed-k wall (505 s at
      // ×100) the sizing rule removes; keep quality is scored for BOTH
      // in the sem_dedup block below
      // the DEFAULT scale-safe entry point (semDedupAtScale): √n cells,
      // bounded Lloyd sample, kernel assignment, probes = 2, guard armed
      // — the composition the rows above hand-assemble, now one call
      "dd17c_semdedup_sqrtk" -> (() => graft.ops.Similarity
        .semDedupAtScale(emb, "vec_id", "embedding", threshold = 0.9)),
      // CDC chunk ledger at x10: chunk text hashed away map-side, both
      // shuffles carry 32-byte hashes — linear in corpus bytes
      "dd21_cdc_dedup" -> (() => Dedup.cdcDedup(docs, "doc_id", "text",
        k = 16, modulus = 64)),
      // DSIR at x10: two frozen-LM scoring passes (map-only bigrams +
      // LM equi-joins), global TakeOrdered selection
      "ts30_dsir_select" -> (() => graft.ops.TextAnalysis.dsirSelect(
        docs, docs.where(col("doc_id") % 3 === 0), "doc_id", "text",
        quota = 200)),
      // blocklist scan at x10: one automaton pass, zero shuffle
      "ts32_blocklist" -> (() => graft.ops.TextAnalysis.blocklistStats(
        docs, "doc_id", "text",
        Seq("table", "tab", "able", "spark row", "merge batch"))))

    // JVM/codegen warmup so the first case doesn't absorb startup cost
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // SPARK_GRAFT_SCALE_CASES: comma list to run a subset (e.g. only the
    // promote cycle while iterating on it — pass "none"); default all.
    // Iteration-only: a CASES-filtered run never replaces the artifact.
    val caseFilter = sys.env.get("SPARK_GRAFT_SCALE_CASES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_SCALE_SKIP: comma list of cases to EXCLUDE from a full
    // run (e.g. dd6_simhash_pairs at ×30, whose quadratic OUTPUT would
    // dominate the wall clock). Unlike CASES this still writes the
    // artifact — with the skipped names recorded, never silently.
    val skip = sys.env.get("SPARK_GRAFT_SCALE_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val selected = (caseFilter match {
      case None => cases
      case Some(f) => cases.filter { case (n, _) => f.contains(n) }
    }).filterNot { case (n, _) => skip.contains(n) }

    // ---- build + commit the pair-graph index (the graph cases' spine).
    // Timed as its own row; also measures the incremental addDocs fold:
    // a standing index over 95% of the corpus is committed and loaded
    // back (the production maintenance shape), then the 5% batch folds
    // in through PairGraphIndex.addDocs — proving the increment is
    // batch-bounded, not another full build.
    val graphCaseNames = Set("g1_triangles", "g2_pagerank",
      "g2b_pagerank_contracted", "g3_kcore")
    val pgNeeded = !skip.contains("pair_graph_index") &&
      caseFilter.forall(f =>
        f.contains("pair_graph_index") || f.contains("pair_graph_addDocs") ||
          f.exists(graphCaseNames))
    var pgBuild: Option[(Double, Long, Long)] = None // sec, recs, edges
    // sec, recs, batch docs, edges after the fold
    var pgAdd: Option[(Double, Long, Long, Long)] = None
    val pgTmp =
      java.nio.file.Files.createTempDirectory("graft-pgidx").toFile
    val pgCat = new VersionedCatalog(s"$pgTmp/catalog")
    if (pgNeeded) {
      val (bRecs, _, bSec) = shuffledTimed {
        val idx = Dedup.pairGraphIndex(docs, "doc_id", "text", n = 3,
          numHashes = 8, rowsPerBand = 2, threshold = 0.6)
        idx.save(pgCat, "pair_graph")
        idx.release()
      }
      Dedup.releaseCaches()
      spark.catalog.clearCache()
      val loaded = Dedup.loadPairGraphIndex(spark, pgCat, "pair_graph")
      val edgeRows = loaded.edges.count()
      pgBuild = Some((bSec, bRecs, edgeRows))
      pgLoaded = Some(loaded)
      System.err.println(f"[scale] pair_graph_index build $bSec%8.1f s  " +
        f"$bRecs%12d shuffle recs  edges $edgeRows%d")
      // runs on a full sweep AND when a CASES filter names it — the
      // filtered form is the iteration loop for maintenance-path work
      if (caseFilter.forall(_.contains("pair_graph_addDocs")) &&
          !skip.contains("pair_graph_addDocs")) {
        val standing0 = Dedup.pairGraphIndex(
          docs.where(col("doc_id") % 20 =!= 0), "doc_id", "text", n = 3,
          numHashes = 8, rowsPerBand = 2, threshold = 0.6)
        standing0.save(pgCat, "pair_graph_standing")
        standing0.release()
        Dedup.releaseCaches()
        spark.catalog.clearCache()
        val batch = docs.where(col("doc_id") % 20 === 0)
        val batchDocs = batch.count()
        val standing =
          Dedup.loadPairGraphIndex(spark, pgCat, "pair_graph_standing")
        val (aRecs, _, aSec) = shuffledTimed {
          val folded = standing.addDocs(batch, "doc_id", "text")
          folded.save(pgCat, "pair_graph_standing")
          folded.release()
        }
        Dedup.releaseCaches()
        spark.catalog.clearCache()
        val edgesAfter = Dedup
          .loadPairGraphIndex(spark, pgCat, "pair_graph_standing")
          .edges.count()
        pgAdd = Some((aSec, aRecs, batchDocs, edgesAfter))
        System.err.println(f"[scale] pair_graph_addDocs $aSec%8.1f s  " +
          f"$aRecs%12d shuffle recs  batch $batchDocs%d docs  " +
          f"edges_after $edgesAfter%d")
      }
    }

    val results = selected.map { case (name, mk) =>
      var rows = 0L
      val (recs, peak, sec) = shuffledTimed { rows = forceCount(mk()) }
      spark.catalog.clearCache()
      Dedup.releaseCaches()
      System.err.println(f"[scale] $name%-26s $sec%8.1f s  " +
        f"$recs%12d shuffle recs  $rows%10d rows  " +
        f"${peak / (1L << 20)}%6d MiB peak task")
      (name, sec, recs, rows, peak)
    }

    // ---- ANN recall@k at scale: the speed/accuracy trade measured where
    // it matters — each approximate index's probe against the exact
    // brute-force top-k on the SAME inflated corpus. Driver traffic is k
    // ids per probe; the brute-force pass is one TakeOrdered scan.
    //
    // Three views per index, because the inflated corpus is adversarial
    // for exact-set recall BY CONSTRUCTION: each base vector becomes
    // `factor` clones 0.0013 apart, so the exact top-k is a tie-break
    // among near-identical variants that a few-bit code (PQ m=4) cannot
    // order — a low `exact` there is quantization resolution, not a lost
    // neighborhood. `base` scores the neighborhoods found (ids div
    // factor), and `rerank` is the production shape: probe an 8×k
    // shortlist, exact-rerank it (broadcast semi-join), top-k on the
    // true metric.
    //
    // Measured as the MEAN over a deterministic spread-sampled query
    // set, not a single vector — one query's recall is ±1/k noise. Each
    // index builds ONCE (codes persisted, the build-once/probe-many
    // production shape); only the probes repeat per query.
    val kRecall = 30
    val nRecallQ = 8
    val recallQs: Seq[Seq[Float]] = graft.ops.Similarity.spreadSample(
        Tables.embeddings(spark, sfDir), "vec_id", nRecallQ)
      .select(col("embedding")).collect().map(_.getSeq[Float](0)).toSeq
    lazy val truths: Seq[(Set[Long], Set[Long])] = recallQs.map { q =>
      val t = graft.ops.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", q, kRecall)
        .select(col("vec_id")).collect().map(_.getLong(0))
      (t.toSet, t.map(_ / factor).toSet)
    }
    def ids(df: DataFrame): Set[Long] =
      df.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // same production builds as the timing cases above, materialized
    // once per index ((codes DataFrame, probe fn)); a CASES filter runs
    // the recall block only when it names the entry (or "recall"), so
    // quantizer iterations don't pay for the full case sweep
    // Each entry: (codes to materialize, probe at the operating point,
    // optional nprobe-sweep probe — sim7 exposes one so the recall/
    // probe-cost curve reuses the SAME build while it is persisted).
    val recallDefs = Seq[(String, () => (DataFrame,
        (Seq[Float], Int) => DataFrame,
        Option[(Seq[Float], Int, Int) => DataFrame]))](
      "sim6_pq_topk" -> (() => {
        val idx = PqPackedIndex.buildTrained(emb, "vec_id", "embedding",
          m = 16, dims = 64, ksub = 256, iters = 2,
          trainLimit = Some(8192))
        val cached = idx.copy(codes = idx.codes.persist())
        (cached.codes, (q, k) => cached.probe(q, k = k), None)
      }),
      "sim7_ivfpq_topk" -> (() => {
        val idx = IvfPqSharedPackedIndex.buildTrained(emb, "vec_id",
          "embedding", kc = 64, m = 16, dims = 64, ksub = 256, iters = 2,
          trainLimit = Some(8192))
        val cached = idx.copy(codes = idx.codes.persist())
        (cached.codes, (q, k) => cached.probe(q, k = k, nprobe = 24),
          Some((q, k, np) => cached.probe(q, k = k, nprobe = np)))
      }),
      "sim7c_ivfpq_cell" -> (() => {
        val idx = IvfPqCellPackedIndex.buildTrained(emb, "vec_id",
          "embedding", kc = 64, m = 16, dims = 64, ksub = 256, iters = 2,
          trainLimit = Some(8192), perCellTrainLimit = Some(2048),
          assigns = 3)
        val cached = idx.copy(codes = idx.codes.persist())
        (cached.codes, (q, k) => cached.probe(q, k = k, nprobe = 16),
          Some((q, k, np) => cached.probe(q, k = k, nprobe = np)))
      }),
      "sim11_sq_topk" -> (() => {
        val idx = graft.ops.SqIndex.build(emb, "vec_id", "embedding", 64)
        val cached = idx.copy(codes = idx.codes.persist())
        (cached.codes, (q, k) => cached.probe(q, k = k), None)
      }))
    // The IVFADC recall/probe-cost curves: mean rerank-recall over the
    // query set as nprobe sweeps — the committed evidence for the sim7 /
    // sim7c operating points (sim7's shared-codebook curve plateaus at
    // 0.946; sim7c's per-cell + redundant-assignment curve crosses 0.98
    // by nprobe 12). Probed off each entry's recall build while its
    // codes are still persisted — full runs only, and skipping an entry
    // skips its curve (SKIP's cost contract).
    val sweepPoints = Map(
      "sim7_ivfpq_topk" -> Seq(8, 16, 24, 32),
      "sim7c_ivfpq_cell" -> Seq(8, 12, 16, 24))
    val nprobeCurves =
      scala.collection.mutable.Map[String, Seq[(Int, Double)]]()
    val recalls: Seq[(String, Double, Double, Double)] =
      (caseFilter match {
        case None => recallDefs
        case Some(f) => recallDefs.filter { case (n, _) =>
          f.contains(n) || f.contains("recall") }
      }).filterNot { case (n, _) => skip.contains(n) }
        .map { case (name, mkIdx) =>
          val (ex, base, rr) = try {
            val (codes, probe, sweepProbe) = mkIdx()
            codes.count() // materialize the build once
            val per = recallQs.zip(truths).map { case (q, (truth, truthBases)) =>
              val found = ids(probe(q, kRecall))
              val e = truth.intersect(found).size.toDouble / truth.size
              val b = truthBases.intersect(found.map(_ / factor)).size
                .toDouble / truthBases.size
              val reranked = ids(graft.ops.Similarity.rerankTopK(
                probe(q, kRecall * 8), emb, "vec_id", "embedding", q,
                kRecall))
              val r = truth.intersect(reranked).size.toDouble / truth.size
              (e, b, r)
            }
            sweepProbe.filter(_ => caseFilter.isEmpty).foreach { sp =>
              nprobeCurves(name) = sweepPoints.getOrElse(name,
                  Seq(8, 16, 24, 32)).map { np =>
                val rrNp = recallQs.zip(truths).map { case (q, (truth, _)) =>
                  val reranked = ids(graft.ops.Similarity.rerankTopK(
                    sp(q, kRecall * 8, np), emb, "vec_id", "embedding", q,
                    kRecall))
                  truth.intersect(reranked).size.toDouble / truth.size
                }.sum / recallQs.size
                System.err.println(f"[scale] $name nprobe curve  " +
                  f"nprobe=$np%-3d rerank $rrNp%6.3f")
                (np, rrNp)
              }
            }
            codes.unpersist()
            (per.map(_._1).sum / per.size, per.map(_._2).sum / per.size,
              per.map(_._3).sum / per.size)
          } catch { case _: Throwable => (-1.0, -1.0, -1.0) }
          spark.catalog.clearCache()
          System.err.println(f"[scale] recall@$kRecall x$nRecallQ " +
            f"$name%-22s exact $ex%6.3f  base $base%6.3f  rerank $rr%6.3f")
          (name, ex, base, rr)
        }

    // ---- dedup recall at scale: the inflated corpus has KNOWN duplicate
    // structure (each base doc's `factor` variants form a near-dup group),
    // so exact ground truth is computable without an all-pairs join — one
    // group-keyed self-join, O(factor²) pairs per base doc. Two views:
    // pair recall (did the exact pair surface) and doc recall (did the
    // doc surface in ANY pair — what canonical-keep dedup consumes). The
    // round-10 recall cliff is visible here: the plain cap's doc recall
    // collapses once groups exceed maxDocFreq; the star variant must hold.
    val dupRecalls: Seq[(String, Double, Double)] =
      if (caseFilter.nonEmpty) Nil
      else {
        val sh = docs.select(col("doc_id").as("doc"),
            expr(s"doc_id div $factor").as("grp"),
            Dedup.shingleHashes(col("text"), 3).as("sh"))
          .where(size(col("sh")) > 0)
          .persist()
        val truth = sh.as("a").join(sh.as("b"),
            col("a.grp") === col("b.grp") && col("a.doc") < col("b.doc"))
          .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
            size(array_intersect(col("a.sh"), col("b.sh")))
              .cast("double").as("common"),
            size(col("a.sh")).cast("double").as("cnt_a"),
            size(col("b.sh")).cast("double").as("cnt_b"))
          .where(col("common") /
            (col("cnt_a") + col("cnt_b") - col("common")) >= 0.6)
          .select(col("id_a"), col("id_b"))
          .persist()
        val nTruthPairs = truth.count().toDouble
        val truthDocs = truth.select(col("id_a").as("doc"))
          .union(truth.select(col("id_b").as("doc"))).distinct().persist()
        val nTruthDocs = truthDocs.count().toDouble
        def recallsOf(found: DataFrame): (Double, Double) = {
          val p = found.select(col("id_a"), col("id_b")).persist()
          val pairR = p.join(truth, Seq("id_a", "id_b"), "left_semi")
            .count() / math.max(nTruthPairs, 1.0)
          val foundDocs = p.select(col("id_a").as("doc"))
            .union(p.select(col("id_b").as("doc"))).distinct()
          val docR = foundDocs.join(truthDocs, Seq("doc"), "left_semi")
            .count() / math.max(nTruthDocs, 1.0)
          p.unpersist()
          (pairR, docR)
        }
        val out = Seq(
          "dd2b_jaccard_capped" -> (() => Dedup.jaccardPairsCapped(docs,
            "doc_id", "text", n = 3, threshold = 0.6, maxDocFreq = 20)),
          "dd2c_jaccard_capped_star" -> (() => Dedup.jaccardPairsCappedStar(
            docs, "doc_id", "text", n = 3, threshold = 0.6, maxDocFreq = 20)),
          "dd2d_jaccard_capped_chain" -> (() => Dedup.jaccardPairsCappedChain(
            docs, "doc_id", "text", n = 3, threshold = 0.6, maxDocFreq = 20)),
          "dd3_minhash_lsh" -> (() => Dedup.minhashLshPairs(docs, "doc_id",
            "text", n = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.6)))
          .filterNot { case (name, _) => skip.contains(name) }
          .map { case (name, mk) =>
            val (pr, dr) = try recallsOf(mk())
              catch { case _: Throwable => (-1.0, -1.0) }
            // NOT clearCache(): that would evict truth/truthDocs mid-loop
            Dedup.releaseCaches()
            System.err.println(
              f"[scale] dup_recall $name%-26s pair $pr%6.3f  doc $dr%6.3f")
            (name, pr, dr)
          }
        sh.unpersist(); truth.unpersist(); truthDocs.unpersist()
        out
      }

    // ---- semantic-dedup quality at scale: the inflated embedding corpus
    // has KNOWN family structure (factor clones per base vector, all
    // above the 0.9 threshold; cross-family cosine maxes out ~0.36), so
    // the kept set scores exactly: drop_recall = dropped / should-drop
    // (over-drop is impossible at this threshold — any loss is a family
    // straddling a cell boundary, which one_kept_frac exposes).
    def scoreSemDedup(tag: String, k: Int, trainLimit: Int)
        : (Long, Long, Double, Double) = {
      val kept = graft.ops.Similarity.semDedup(emb, "vec_id",
        "embedding",
        graft.ops.Similarity.ivfTrain(emb, "vec_id", "embedding", k,
          iters = 2, trainLimit = Some(trainLimit)),
        threshold = 0.9, probes = 2)
      val perFam = kept
        .select(expr(s"vec_id div $factor").as("grp"))
        .groupBy(col("grp")).agg(count(lit(1)).as("kept"))
        .persist()
      val families = perFam.count()
      val keptRows = perFam.agg(sum(col("kept"))).head().getLong(0)
      val oneKept = perFam.where(col("kept") === 1).count()
      perFam.unpersist()
      spark.catalog.clearCache()
      val shouldDrop = (nVecs - families).toDouble
      val dropRecall =
        if (shouldDrop <= 0) 1.0 else (nVecs - keptRows) / shouldDrop
      val oneKeptFrac = oneKept.toDouble / math.max(families, 1L)
      System.err.println(f"[scale] $tag%s kept $keptRows%d of " +
        f"$nVecs%d (families $families%d, one_kept $oneKeptFrac%5.3f, " +
        f"drop_recall $dropRecall%5.3f)")
      (keptRows, families, oneKeptFrac, dropRecall)
    }
    val semDedupStats: Option[(Long, Long, Double, Double)] =
      if (caseFilter.nonEmpty || skip.contains("dd17b_semdedup_scale")) None
      else Some(scoreSemDedup("sem_dedup", 64, 8192))
    // keep quality under the production sqrt(n) cell sizing — must match
    // the fixed-k row (cells only LOCALIZE the scan; probes=2 covers the
    // boundary straddles regardless of how fine the cells are)
    val semDedupSqrtStats: Option[(Long, Long, Double, Double)] =
      if (caseFilter.nonEmpty || skip.contains("dd17c_semdedup_sqrtk")) None
      else {
        val k = graft.ops.Similarity.semDedupCellCount(nVecs)
        Some(scoreSemDedup("sem_dedup_sqrtk", k, math.max(8192, 32 * k)))
      }

    // ---- the worst-case cell guard under REAL skew: 90% of the corpus
    // forced onto one exact direction (the near-constant-embedding
    // failure mode √n sizing cannot fix — Lloyd puts them all in one
    // cell), semDedup'd with the triangle-bucketed guard. Records wall,
    // shuffle, kept rows and the split census — without the guard this
    // cell is an all-pairs scan on ONE task (0.9·n rows sorted,
    // ~(0.9·n)² pair evaluations on a single core). FACTOR-PROPORTIONAL
    // fixture: every constant pair is a TRUE duplicate, so the wall is
    // inherently quadratic in the fixture — the case measures the
    // GUARD's per-task bound and split census AT the round's scale
    // (the ×100 artifact carries a ×100-sized mega-cell), never corpus
    // linearity. Runs through the DEFAULT entry point (semDedupAtScale,
    // bound tightened to 2048 so the mega-cell splits from ×1 up).
    val skewGuardStats: Option[(Double, Long, Long, Long, Long, Int)] =
      if (caseFilter.nonEmpty || skip.contains("dd17d_semdedup_skewguard"))
        None
      else {
        val constVec = array((0 until 64).map(i =>
          lit(if (i == 0) 1.0f else 0.0f)): _*)
        val nSkew = nVecs
        val skewed = emb.select(col("vec_id"),
          when(col("vec_id") % 10 =!= 0, constVec)
            .otherwise(col("embedding")).as("embedding"))
        // tighter than the healthy rows' 8192: the mega-cell must split
        // at every bench factor (≥2048 constant vectors from ×1 up)
        val bound = 2048
        var kept = 0L
        val (recs, _, sec) = shuffledTimed {
          kept = forceCount(graft.ops.Similarity.semDedupAtScale(skewed,
            "vec_id", "embedding", threshold = 0.9, maxCellRows = bound))
        }
        // census with centroids trained exactly as the wrapper trains
        // them (√n cells, bounded spread sample, 2 Lloyd iters)
        val k = graft.ops.Similarity.semDedupCellCount(nSkew)
        val cents = graft.ops.Similarity.ivfTrain(skewed, "vec_id",
          "embedding", k, iters = 2,
          trainLimit = Some(math.max(8192, 32 * k)))
        val (nCells, nSplit, maxNb) = graft.ops.Similarity
          .semDedupSplitStats(skewed, "vec_id", "embedding", cents, bound,
            probes = 2)
        spark.catalog.clearCache()
        System.err.println(f"[scale] sem_dedup_skew $sec%8.1f s  " +
          f"$recs%12d shuffle recs  kept $kept%d  " +
          f"cells $nCells%d split $nSplit%d max_nb $maxNb%d")
        Some((sec, recs, kept, nCells, nSplit, maxNb))
      }

    // ---- contracted-PageRank fidelity at this factor: per-family rank
    // mass of the contracted run vs the raw g2 run over the SAME pair
    // set (families = planted clone groups = doc_id div factor). The
    // planted cliques are degree-regular, so mass should match exactly
    // up to LSH pair-recall noise; max_rel_diff records whatever it is
    val prContractStats: Option[(Long, Long, Double)] =
      if (caseFilter.nonEmpty || skip.contains("g2b_pagerank_contracted"))
        None
      else {
        // from the committed edges (the same graph the case rows read):
        // the comparison isolates contraction fidelity, pair-floor-free
        val pairs = graphPairs.persist()
        def famMass(r: DataFrame) = r
          .select(expr(s"doc_id div $factor").as("grp"), col("rank_fp"))
          .groupBy(col("grp")).agg(sum(col("rank_fp")).as("mass"))
        val raw = famMass(Dedup.pageRank(pairs, "doc_id", iters = 3))
          .withColumnRenamed("mass", "raw_mass").persist()
        val con = famMass(
          Dedup.pageRankContracted(pairs, "doc_id", iters = 3))
          .withColumnRenamed("mass", "con_mass").persist()
        val j = raw.join(con, Seq("grp"), "full")
          .select(coalesce(col("raw_mass"), lit(0L)).as("r"),
            coalesce(col("con_mass"), lit(0L)).as("c"))
          .agg(count(lit(1)).as("fams"),
            sum(when(col("r") === col("c"), 1L).otherwise(0L)).as("eq"),
            max(abs(col("r") - col("c")).cast("double") /
              greatest(abs(col("r")).cast("double"), lit(1.0)))
              .as("max_rel"))
          .head()
        pairs.unpersist(); raw.unpersist(); con.unpersist()
        spark.catalog.clearCache()
        Dedup.releaseCaches()
        val (fams, eq, rel) =
          (j.getLong(0), j.getLong(1), j.getDouble(2))
        System.err.println(f"[scale] pagerank_contracted families " +
          f"$fams%d mass_equal $eq%d max_rel_diff $rel%.2e")
        Some((fams, eq, rel))
      }

    // ---- pair-graph index consumers beyond the case rows: dupClusters
    // (dd8i — the keep-best/dedup spine) and the continuity anchor g2i
    // (directly comparable to r15's g2i row), both off the edges
    // committed up top. Build/addDocs stats come from the hoisted
    // measurement.
    // consumer rows (g2i/dd8i) are full-run-only; the build/addDocs
    // stats emit whenever the build actually ran — a CASES-filtered
    // graph run otherwise publishes index-fed walls with the pair floor
    // measured but silently dropped
    val pairGraphConsumerStats: Option[(Double, Long, Double, Long)] =
      if (caseFilter.nonEmpty || pgLoaded.isEmpty || pgBuild.isEmpty) None
      else {
        val loaded = pgLoaded.get
        val (gRecs, _, gSec) = shuffledTimed {
          forceCount(loaded.pageRank("doc_id", iters = 3))
        }
        Dedup.releaseCaches()
        spark.catalog.clearCache()
        val (cRecs, _, cSec) = shuffledTimed {
          forceCount(loaded.dupClusters(
            docs.select(col("doc_id")), "doc_id"))
        }
        Dedup.releaseCaches()
        spark.catalog.clearCache()
        System.err.println(f"[scale] pair_graph_index g2i $gSec%8.1f s " +
          f"$gRecs%12d recs  |  dd8i $cSec%8.1f s  $cRecs%12d recs")
        Some((gSec, gRecs, cSec, cRecs))
      }

    // ---- the full curation pipeline end-to-end at this factor: the
    // "one real 100 TB job" composition — PII scrub + blocklist +
    // heuristics/Gopher (one fused scan), trained quality gate, frozen
    // bigram-LM filter, exact dedup, MinHash near-dedup, benchmark
    // decontamination and the leakage-free split annotation, in ONE
    // TextPipeline.curate call. Per-stage survivor counts come through
    // the stage tap (persist + count feeding forward, so instrumentation
    // never re-executes a stage); wall/shuffle/peak cover the whole job.
    val curateStats: Option[(Double, Long, Long, Long,
        Seq[(String, Long, Double, Long)], Double)] =
      if (skip.contains("curate_pipeline") ||
          !caseFilter.forall(_.contains("curate_pipeline"))) None
      else {
        val bench = docs.where(col("doc_id") % 997 === 0)
        val lmRef = docs.where(col("doc_id") % 211 === 0)
        // lm_filter operating point: CALIBRATED ON THE DISTRIBUTION THE
        // STAGE ACTUALLY SEES (the CCNet shape — percentile thresholds
        // measured on the corpus, applied as absolute bits), never a
        // fixed bit count. Two failed simpler forms, kept on record:
        // a fixed 16.0 never fired at any scale (×10 scores top out at
        // ~5.7 mean bits); a fixed 4.8 dropped 28% at ×10 but 100% at
        // ×100 (the integer-surprisal OOV penalty is
        // bitlen(context_freq)+1, which grows ~log(factor) as the ref
        // LM's counts scale); and a percentile over ALL docs never
        // fired either — the top surprisal quintile is concentrated in
        // exactly the docs the heuristic/model gates already removed.
        // So an UNTIMED pre-pass runs the same gates (heuristics +
        // trained quality, no dedup), scores the survivors against the
        // same scrubbed ref LM, and cuts at their p75: the timed stage
        // drops ~25% of its real input at every factor by construction.
        // Env override for operating-point iteration.
        val curateGateCfg = graft.ops.CurationConfig(
          scrubPii = true,
          blocklist = Seq("click here", "buy now"),
          minTokens = 5, minQuality = 0.2,
          gopherGates = true,
          minModelQuality = Some(0.2),
          dedupExact = false)
        val curateLmBits = sys.env.get("SPARK_GRAFT_CURATE_LM_BITS")
          .map(_.toDouble).getOrElse {
            val gated = graft.ops.TextPipeline.curate(docs, "doc_id",
              "text", "source", curateGateCfg)
            val scrubbedRef = lmRef
              .withColumn("text",
                graft.ops.TextAnalysis.redactPii(col("text")))
              .withColumn("text", graft.functions.TextExprs
                .blocklistScrub(col("text"), Seq("click here", "buy now")))
            val cut = graft.ops.TextAnalysis
              .bigramSurprisalAgainst(gated, scrubbedRef, "doc_id", "text")
              .select(expr("percentile(mean_surprise, 0.75)"))
              .head().getDouble(0)
            Dedup.releaseCaches()
            spark.catalog.clearCache()
            cut
          }
        System.err.println(
          f"[scale] curate lm_bits operating point $curateLmBits%.3f")
        // per-stage cost through the tap: each stage's frame is persisted
        // and counted as it forms, so wall/shuffle deltas between taps
        // attribute to that stage (approximate: listener tallies lag
        // in-flight tasks by up to an event-bus flush; stage walls sum to
        // within noise of the job wall)
        val stages = scala.collection.mutable
          .ArrayBuffer.empty[(String, Long, Double, Long)]
        var kept = 0L
        var lastT = 0L
        var lastRecs = 0L
        val (recs, peak, sec) = shuffledTimed {
          lastT = System.nanoTime()
          lastRecs = shuffleTally.get()
          kept = forceCount(graft.ops.TextPipeline.curate(docs, "doc_id",
            "text", "source",
            graft.ops.CurationConfig(
              scrubPii = true,
              blocklist = Seq("click here", "buy now"),
              minTokens = 5, minQuality = 0.2,
              gopherGates = true,
              minModelQuality = Some(0.2),
              lmFilter = Some((lmRef, curateLmBits)),
              dedupExact = true,
              nearDupThreshold = Some(0.6),
              benchmark = Some(bench),
              split = Some((80, 10))),
            stageTap = (name, df) => {
              val p = Dedup.trackExisting(df.persist())
              val c = p.count()
              val now = System.nanoTime()
              val nowRecs = shuffleTally.get()
              stages += ((name, c, (now - lastT) / 1e9, nowRecs - lastRecs))
              lastT = now
              lastRecs = nowRecs
              p
            }))
        }
        Dedup.releaseCaches()
        spark.catalog.clearCache()
        val stageStr = stages.map { case (n, c, s, r) =>
          f"$n=$c (${s}%.1f s, $r recs)" }.mkString("  ")
        System.err.println(f"[scale] curate_pipeline $sec%8.1f s  " +
          f"$recs%12d shuffle recs  ${peak / (1L << 20)}%6d MiB peak  " +
          f"kept $kept%d  lm_bits $curateLmBits%.1f  [$stageStr]")
        Some((sec, recs, peak, kept, stages.toSeq, curateLmBits))
      }

    // ---- WHERE the fused heuristics scan spends its wall: the curate
    // stage_cost block shows heuristics dominating (129.5 of 174.8 s at
    // ×100 in r16) but it is ONE exchange-free pass, so stage deltas
    // can't attribute within it. Cumulative single-scan variants peel
    // the gates apart — each adds one gate to the previous composition
    // in curate's exact order (PII scrub → blocklist scrub → stats
    // annotate+filter → Gopher), so successive wall differences are the
    // marginal cost of each gate (same forced-eval sink hashing the
    // surviving text, so the decode+hash floor is constant across
    // variants). A reorder probe runs the Gopher gate BEFORE the stats
    // filters (the only semantics-preserving reorder: the scrubs must
    // precede everything that hashes or scores text) to measure whether
    // gate order inside the one codegen stage matters.
    val gateBreakdown: Option[Seq[(String, Double, Long)]] =
      if (curateStats.isEmpty) None
      else {
        import graft.ops.TextAnalysis
        import graft.functions.TextExprs
        val bl = Seq("click here", "buy now")
        def scrubbed = docs
          .withColumn("text", TextAnalysis.redactPii(col("text")))
        def blocked = scrubbed
          .withColumn("text", TextExprs.blocklistScrub(col("text"), bl))
        def annotated(d: DataFrame) = {
          val st = TextAnalysis.stats(col("text"))
          d.select(col("doc_id"), col("text"),
            TextAnalysis.tokenCountOf(st).as("n_tokens"),
            TextAnalysis.qualityScoreOf(st).as("quality"),
            TextAnalysis.langIdOf(st).as("pred_lang"))
        }
        // curate's real stage-1 shape: gate first with the one-pass
        // verdict scalar, then annotate the survivors
        def statsGate(d: DataFrame, gopher: Boolean) = annotated(
          d.where(TextAnalysis.heuristicKeep(col("text"),
            5, 1 << 20, 0.2, gopherGates = gopher)))
        val variants: Seq[(String, () => DataFrame)] = Seq(
          "scan" -> (() => docs.select(col("doc_id"), col("text"))),
          "pii_scrub" -> (() => scrubbed.select(col("doc_id"), col("text"))),
          "blocklist_scrub" -> (() =>
            blocked.select(col("doc_id"), col("text"))),
          "stats_filter" -> (() => statsGate(blocked, gopher = false)),
          "gopher" -> (() => statsGate(blocked, gopher = true)),
          // the r16 composition kept for the record: annotate, then
          // filter on the annotation columns — pushdown inlines the full
          // scrub→stats chain into every predicate reference and
          // FilterExec has no CSE (15 evals/row measured; the trap
          // HeuristicGateExpr exists to close)
          "legacy_filter_inline" -> (() => annotated(blocked)
            .where(col("n_tokens") >= 5 && col("n_tokens") <= (1 << 20) &&
              col("quality") >= 0.2)))
        Some(variants.map { case (gname, mk) =>
          var rows = 0L
          val (_, _, gsec) = shuffledTimed { rows = forceCount(mk()) }
          spark.catalog.clearCache()
          System.err.println(f"[scale] heuristics_gate $gname%-22s " +
            f"$gsec%8.1f s  $rows%10d rows")
          (gname, gsec, rows)
        })
      }

    // ---- the full replicate→upload→stage→promote service cycle at the
    // same ×factor scale, recorded with the reference's named timers
    // (BASELINE.md §1). The APDB side is generated executor-side
    // (ScaleStress.ScaleApdb) — nObjects·nChunks rows per data table flow
    // export→upload→stage→promote, with field-level update records
    // exercising the LWW patch merge inside the same promote commit.
    val nObj = 10000L * factor
    val nChunks = 3
    // update volume PROPORTIONAL to the corpus (nObj/10 per chunk — 100k
    // at ×100): the MERGE/patch path measured under the reference's real
    // CDC load, not a 200-row token batch. The promote_* timers land in
    // the timers block (its update_validity_time is the JDBC leg's, tag
    // backend=jdbc); per-phase shuffle records land next to the walls
    val updPerChunk = math.max(200L, nObj / 10L).toInt
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale").toFile
    val catalog = new VersionedCatalog(s"$tmp/catalog")
    val promoter = new Promoter(spark, catalog, s"$tmp/export")
    promoter.init()
    val apdb = new ScaleStress.ScaleApdb(spark, nObj, nChunks,
      updatesPerChunk = updPerChunk)
    val replicator = new Replicator(spark, apdb, new PpdbStaged(spark, promoter))
    graft.Metrics.reset()
    def phaseSec(body: => Unit): (Double, Long) = {
      val (recs, _, sec) = shuffledTimed(body)
      (sec, recs)
    }
    val (repS, repRecs) = phaseSec {
      replicator.runOnce(nowUs = Long.MaxValue / 4)
    }
    System.err.println(f"[scale] promote_cycle.replicate  $repS%8.1f s" +
      f"  $repRecs%12d shuffle recs")
    val (upS, upRecs) = phaseSec {
      new ChunkUploader(spark, promoter, s"$tmp/remote").runOnce()
    }
    System.err.println(f"[scale] promote_cycle.upload     $upS%8.1f s" +
      f"  $upRecs%12d shuffle recs")
    var promoted: Seq[Long] = Nil
    val (promoteS, promoteRecs) = phaseSec {
      promoter.stageUploaded()
      promoted = promoter.promote()
    }
    System.err.println(f"[scale] promote_cycle.promote    $promoteS%8.1f s" +
      f"  $promoteRecs%12d shuffle recs")
    val snapRows = catalog.read(spark, "public.DiaObjectLast").count()
    val objRows = catalog.read(spark, "internal.DiaObject").count()
    require(promoted.size == nChunks && objRows == nObj * nChunks &&
      snapRows == nObj,
      s"promote cycle broke: promoted=$promoted obj=$objRows snap=$snapRows")
    // ---- the live-RDBMS ingest path at the same scale: the SAME APDB
    // workload replicated into the JDBC (embedded Derby) backend — one
    // database transaction per chunk, batched DML, LWW patches applied
    // as indexed UPDATEs. This is the reference's primary-SQL-backend
    // cost model measured, not extrapolated.
    val jdbcUrl = graft.replicate.PpdbJdbc.derbyUrl(s"$tmp/jdbcdb")
    val jppdb = graft.replicate.PpdbJdbc.open(spark, jdbcUrl)
    val japdb = new ScaleStress.ScaleApdb(spark, nObj, nChunks,
      updatesPerChunk = updPerChunk)
    val (jdbcS, _) = phaseSec {
      new Replicator(spark, japdb, jppdb).runOnce(nowUs = Long.MaxValue / 4)
    }
    val jObjRows = jppdb.read("DiaObject").count()
    val jChunks = jppdb.replicaChunks().count()
    require(jChunks == nChunks && jObjRows == nObj * nChunks,
      s"jdbc cycle broke: chunks=$jChunks obj=$jObjRows")
    System.err.println(f"[scale] jdbc_cycle.replicate     $jdbcS%8.1f s")
    graft.replicate.PpdbJdbc.shutdownDerby(jdbcUrl)
    // capture AFTER both cycles so the jdbc-tagged store/validity timers
    // land in the artifact alongside the parquet ones
    val timerTable = graft.Metrics.summary()

    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(); ()
    }
    rmTree(tmp)

    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Mops normalization, same convention as Bench: wall × (bracket-mean
    // delivered Mops / reference-host Mops). Per-CASE normalized walls
    // make scale artifacts comparable across rounds without hand
    // arbitration (the r16 766 s-vs-230 s build episode); the bracket is
    // coarse for a multi-hour run, but each case at least carries the
    // run-level delivery context explicitly.
    val calibEnd = HostCalib.mops(cpus)
    val RefMops = 15500.0
    val calibMean =
      if (calibStart.mopsNt > 0 && calibEnd > 0)
        (calibStart.mopsNt + calibEnd) / 2.0
      else -1.0
    val normFactor = if (calibMean > 0) calibMean / RefMops else -1.0
    def nrm(v: Double): Double =
      if (v < 0 || normFactor <= 0) -1.0 else v * normFactor
    val qs = results.map { case (n, s, r, c, p) =>
      s""""$n":{"sec":${f(s)},"sec_norm":${f(nrm(s))},""" +
        s""""shuffle_records":$r,"rows":$c,""" +
        s""""peak_task_mem_bytes":$p}"""
    }.mkString("{", ",", "}")
    val timers = timerTable.toSeq.sortBy(_._1).map { case (m, (n, s)) =>
      s""""$m":{"n":$n,"total_s":${f(s)}}"""
    }.mkString("{", ",", "}")
    val cycle = s"""{"n_objects":$nObj,"n_chunks":$nChunks,""" +
      s""""updates_per_chunk":$updPerChunk,"replicate_s":${f(repS)},""" +
      s""""replicate_s_norm":${f(nrm(repS))},""" +
      s""""replicate_shuffle_records":$repRecs,""" +
      s""""upload_s":${f(upS)},"upload_shuffle_records":$upRecs,""" +
      s""""promote_s":${f(promoteS)},""" +
      s""""promote_s_norm":${f(nrm(promoteS))},""" +
      s""""promote_shuffle_records":$promoteRecs,""" +
      s""""object_rows":$objRows,"snapshot_rows":$snapRows,""" +
      s""""jdbc_replicate_s":${f(jdbcS)},"jdbc_object_rows":$jObjRows,""" +
      s""""timers":$timers}"""
    val total = results.map(_._2).sum
    val recallJson = recalls.map { case (n, ex, base, rr) =>
      s""""$n":{"exact":${f(ex)},"base":${f(base)},"rerank":${f(rr)}}"""
    }.mkString("{", ",", "}")
    val dupRecallJson = dupRecalls.map { case (n, pr, dr) =>
      s""""$n":{"pair":${f(pr)},"doc":${f(dr)}}"""
    }.mkString("{", ",", "}")
    def curveJson(name: String): String =
      nprobeCurves.getOrElse(name, Nil).map { case (np, rr) =>
        s""""$np":${f(rr)}"""
      }.mkString("{", ",", "}")
    def semBlock(s: Option[(Long, Long, Double, Double)]): String =
      s.map { case (kept, fams, ok, dr) =>
        s"""{"kept":$kept,"families":$fams,"one_kept_frac":${f(ok)},""" +
          s""""drop_recall":${f(dr)}}"""
      }.getOrElse("{}")
    val semJson = semBlock(semDedupStats)
    val semSqrtJson = semBlock(semDedupSqrtStats)
    val skewJson = skewGuardStats.map { case (s, r, kept, nc, ns, mx) =>
      s"""{"sec":${f(s)},"shuffle_records":$r,"kept":$kept,""" +
        s""""cells":$nc,"cells_split":$ns,"max_buckets":$mx}"""
    }.getOrElse("{}")
    val prConJson = prContractStats.map { case (fams, eq, rel) =>
      s"""{"families":$fams,"mass_equal":$eq,"max_rel_diff":${f(rel)}}"""
    }.getOrElse("{}")
    val pairGraphJson = pgBuild.map { case (bS, bR, e) =>
      val add = pgAdd.map { case (aS, aR, bd, ea) =>
        s""","addDocs_sec":${f(aS)},"addDocs_sec_norm":${f(nrm(aS))},""" +
          s""""addDocs_records":$aR,""" +
          s""""addDocs_batch_docs":$bd,"addDocs_edges_after":$ea"""
      }.getOrElse("")
      val consumers = pairGraphConsumerStats.map { case (gS, gR, cS, cR) =>
        s""","g2i_sec":${f(gS)},"g2i_records":$gR,""" +
          s""""dd8i_sec":${f(cS)},"dd8i_records":$cR"""
      }.getOrElse("")
      s"""{"build_sec":${f(bS)},"build_sec_norm":${f(nrm(bS))},""" +
        s""""build_records":$bR,"edges":$e$consumers$add}"""
    }.getOrElse("{}")
    val gatesJson = gateBreakdown.map { gates =>
      // marginal_sec = this variant minus the previous cumulative one
      // (the reorder probe is NOT cumulative — it re-runs the full gate
      // set in the alternate order, so it carries no marginal field)
      val entries = gates.zipWithIndex.map { case ((gname, gsec, rows), i) =>
        val marginal =
          if (gname.startsWith("reorder") || i == 0) ""
          else s""","marginal_sec":${f(gsec - gates(i - 1)._2)}"""
        s""""$gname":{"sec":${f(gsec)},"rows":$rows$marginal}"""
      }
      entries.mkString("{", ",", "}")
    }.getOrElse("{}")
    val curateJson = curateStats.map { case (s, r, p, kept, stages, lm) =>
      val st = stages.map { case (n, c, _, _) => s""""$n":$c""" }
        .mkString("{", ",", "}")
      val cost = stages.map { case (n, _, ss, rr) =>
        s""""$n":{"sec":${f(ss)},"records":$rr}""" }
        .mkString("{", ",", "}")
      s"""{"sec":${f(s)},"sec_norm":${f(nrm(s))},""" +
        s""""shuffle_records":$r,"peak_task_mem":$p,""" +
        s""""kept":$kept,"lm_bits":${f(lm)},"stages":$st,""" +
        s""""stage_cost":$cost,"heuristics_gates":$gatesJson}"""
    }.getOrElse("{}")
    val skippedJson = skip.toSeq.sorted.map(s => s""""$s"""")
      .mkString("[", ",", "]")
    val line = s"""{"metric":"scale_x$factor","value":${f(total)},""" +
      s""""value_norm":${f(nrm(total))},""" +
      s""""unit":"sec","factor":$factor,"n_docs":$nDocs,"n_vecs":$nVecs,""" +
      s""""n_events":$nEvents,"cpus":$cpus,""" +
      s"""${calibStart.json},"host_mops_${cpus}t_end":""" +
      "%.1f".formatLocal(java.util.Locale.ROOT, calibEnd) +
      s""","ref_mops":${f(RefMops)},"norm_factor":${f(normFactor)},""" +
      s""""skipped":$skippedJson,""" +
      s""""queries":$qs,"recall_queries":$nRecallQ,""" +
      s""""recall_at_$kRecall":$recallJson,""" +
      s""""sim7_nprobe_curve":${curveJson("sim7_ivfpq_topk")},""" +
      s""""sim7c_nprobe_curve":${curveJson("sim7c_ivfpq_cell")},""" +
      s""""dup_recall":$dupRecallJson,"sem_dedup":$semJson,""" +
      s""""sem_dedup_sqrtk":$semSqrtJson,""" +
      s""""sem_dedup_skew":$skewJson,""" +
      s""""pagerank_contracted":$prConJson,""" +
      s""""pair_graph_index":$pairGraphJson,""" +
      s""""curate_pipeline":$curateJson,""" +
      s""""promote_cycle":$cycle,"sf":"$sfDir"}"""
    println(line)
    // only a FULL run may replace the committed artifact — a filtered
    // iteration run would clobber it with partial data
    val outName =
      if (factor == 10) "BENCH_SCALE.json" else s"BENCH_SCALE_X$factor.json"
    if (caseFilter.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outName), line + "\n")
      catch { case _: Throwable => () }
    spark.stop()
  }
}
