package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queryVec: Seq[Float] = emb.where($"vec_id" === 0L)
    .select($"embedding").head().getSeq[Float](0)

  test("dot/cosine expression matches reference fold arithmetic") {
    val rows = emb.limit(50)
      .select($"vec_id", $"embedding",
        Similarity.dot($"embedding", $"embedding").as("d2"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      var acc = 0.0
      v.foreach(x => acc += x.toDouble * x.toDouble)
      assert(r.getDouble(2) == acc, s"vec ${r.getLong(0)}")
    }
  }

  test("IVF: deterministic training, full coverage, recall vs brute force") {
    val centroids = Similarity.ivfTrain(emb, "vec_id", "embedding",
      k = 8, iters = 2).cache()
    assert(centroids.count() == 8)
    val assignments = Similarity.assign(emb, "vec_id", "embedding", centroids)
      .cache()
    // every vector assigned exactly once
    assert(assignments.count() == emb.count())
    assert(assignments.select("vec_id").distinct().count() == emb.count())

    // deterministic rebuild
    val again = Similarity.ivfTrain(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(centroids.exceptAll(again).isEmpty)

    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryVec, 10).select("vec_id").collect().map(_.getLong(0)).toSet
    // probing every centroid must reproduce brute force exactly
    val all = Similarity.ivfTopK(emb, "vec_id", "embedding", centroids,
      assignments, queryVec, 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(all == exact)
    // nprobe=3 keeps decent recall on this corpus
    val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", centroids,
      assignments, queryVec, 10, nprobe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(approx.intersect(exact).size >= 5,
      s"recall ${approx.intersect(exact).size}/10")
  }

  test("IVF index: build once, persist, probe many across catalog reopen") {
    import graft.ops.IvfIndex
    val root = tmpDir("ivf")
    val cat = new graft.catalog.VersionedCatalog(root)
    IvfIndex.build(emb, "vec_id", "embedding", k = 8, iters = 2)
      .save(cat, "ann_idx")

    // a NEW catalog handle (fresh session's view): load without training
    val idx = IvfIndex.load(spark, new graft.catalog.VersionedCatalog(root),
      "ann_idx")
    assert(idx.centroids.count() == 8)
    assert(idx.assignments.count() == emb.count())

    // probe several queries against the one persisted index; full-probe
    // equals brute force, per-query
    Seq(queryVec, queryVec.map(v => -v), queryVec.reverse).foreach { q =>
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, 5).select("vec_id").collect().map(_.getLong(0)).toSet
      val got = idx.probe(emb, "vec_id", "embedding", q, 5, nprobe = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got == exact)
    }
  }

  /** Clustered corpus where quantization is meaningful: 4 well-separated
    * centers in 64-d, 50 vectors each with small deterministic jitter.
    * Ids INTERLEAVE clusters (id % 4 = cluster) so the seeded codebooks —
    * the first `ksub` ids — span every cluster's subvector patterns.
    */
  private lazy val clustered = {
    val rows = for {
      c <- 0 until 4
      i <- 0 until 50
    } yield {
      val id = i.toLong * 4 + c
      val v = Array.tabulate(64) { d =>
        val center = if (d / 16 == c) 4.0f else 0.0f
        // deterministic pseudo-noise in [-0.25, 0.25)
        val h = (id * 6364136223846793005L + d * 1442695040888963407L) >>> 40
        center + ((h % 1000L) / 2000.0f - 0.25f)
      }
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
  }

  test("PQ: codes cover corpus and ADC separates true neighborhoods") {
    import graft.ops.PqIndex
    val idx = PqIndex.build(clustered, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 8)
    // every vector gets exactly m codes
    assert(idx.codes.count() == 200L * 4)
    assert(idx.codes.groupBy("vec_id").count()
      .where($"count" =!= 4).count() == 0)
    val qId = 17L // cluster 17 % 4 = 1
    val q = clustered.where($"vec_id" === qId)
      .select($"embedding").head().getSeq[Float](0)
    val got = idx.probe(q, k = 10).collect()
    // recall vs exact: every true top-10 neighbor is in the query's
    // cluster, and the 8-entry codebooks keep ADC inside that cluster
    // too — all 10 of the exact top-10's CLUSTER survive, which is the
    // granularity this codebook size quantizes to
    assert(got.length == 10)
    assert(got.forall(r => r.getLong(0) % 4 == qId % 4),
      s"ADC results stay in the query's cluster: ${got.mkString(",")}")
  }

  test("PQ Lloyd refinement recovers structure unrepresentative seeds miss") {
    import graft.ops.PqIndex
    // BLOCK ids (cluster = id / 50): the first 8 ids — the seeds — all
    // come from cluster 0, the worst case for the seeded quantizer
    val block = clustered.select(
      expr("vec_id % 4 * 50 + vec_id DIV 4").as("vec_id"), $"embedding")
    val qId = 167L // cluster 3
    val q = block.where($"vec_id" === qId)
      .select($"embedding").head().getSeq[Float](0)
    def inCluster(idx: PqIndex) = idx.probe(q, 10).collect()
      .count(_.getLong(0) / 50 == qId / 50)
    val seeded = PqIndex.build(block, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 8)
    val trained = PqIndex.buildTrained(block, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 8, iters = 3)
    // k-means moves codewords onto the clusters the seeds never saw;
    // the refined probe must dominate the seeded one and stay pure
    assert(inCluster(trained) == 10,
      s"trained probe leaks out of the query's cluster")
    assert(inCluster(trained) >= inCluster(seeded))
    // training is deterministic: a rebuild yields identical codebooks
    val again = graft.ops.Similarity.pqTrain(block, "vec_id", "embedding",
      4, 64, 8, iters = 3)
    assert(trained.codebooks.exceptAll(again).isEmpty &&
      again.exceptAll(trained.codebooks).isEmpty)
  }

  test("PQ exactness limit: ksub = corpus size makes ADC == exact L2") {
    import graft.ops.PqIndex
    // with every vector's own subvectors in the codebooks, each vector
    // encodes to itself (distance-0 entry, or an identical-contribution
    // tie) and the ADC sum IS the exact squared L2 — the PQ analog of
    // IVF's nprobe=k == brute force
    val n = emb.count().toInt
    val idx = PqIndex.build(emb, "vec_id", "embedding",
      m = 4, dims = 64, ksub = n)
    val got = idx.probe(queryVec, 15).collect().map(_.getLong(0)).toSeq
    val qArr = array(queryVec.map(lit): _*)
    val exact = emb
      .select($"vec_id",
        ((Similarity.dot($"embedding", $"embedding")
          - lit(2.0) * Similarity.dot($"embedding", qArr))
          + Similarity.dot(qArr, qArr)).as("d"))
      .orderBy($"d", $"vec_id").limit(15)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"ADC $got != exact $exact")
  }

  test("rotated PQ: Householder chain is isometric; rotated-space ADC " +
      "at ksub = N recovers the ORIGINAL-space exact L2 ranking") {
    import graft.ops.PqIndex
    val us = Similarity.householderUs(2, 64)
    // isometry: |Rv| == |v| to fp roundoff, every corpus vector
    emb.select(
        Similarity.norm(Similarity.rotateExpr($"embedding", us)).as("rn"),
        Similarity.norm(transform($"embedding", _.cast("double"))).as("n"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) <=
          1e-9 * math.max(1.0, r.getDouble(1)),
          s"rotation changed a norm: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      }
    // rotateVec is rotateExpr's driver twin: same vector, same bits
    val q0 = emb.where($"vec_id" === 0L)
      .select(Similarity.rotateExpr($"embedding", us)).head().getSeq[Double](0)
    assert(q0 == Similarity.rotateVec(queryVec.map(_.toDouble), us),
      "driver-side rotation must equal the column expression bit-for-bit")
    // the corpus-scale barriered form is the expression form, bit-for-bit
    // (hoisting s and truncating the plan must not change a single ULP)
    val viaExpr = emb.select($"vec_id",
        Similarity.rotateExpr($"embedding", us).as("remb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    Similarity.rotated(
        emb.select($"vec_id", $"embedding".as("remb")), "remb", us)
      .collect().foreach { r =>
        assert(r.getSeq[Double](1) == viaExpr(r.getLong(0)),
          s"rotated() diverged from rotateExpr at vec_id ${r.getLong(0)}")
      }
    // exactness limit IN ROTATED SPACE == exact ranking in ORIGINAL
    // space: reflections preserve L2, so quantization is the only
    // approximation and ksub = N removes it
    val n = emb.count().toInt
    val rot = emb.select($"vec_id",
      Similarity.rotateExpr($"embedding", us).as("remb"))
    val idx = PqIndex.build(rot, "vec_id", "remb", m = 4, dims = 64,
      ksub = n)
    val rq = Similarity.rotateVec(queryVec.map(_.toDouble), us)
    val got = Similarity.pqTopKD(idx.codes, idx.codebooks, rq, m = 4,
      k = 15).collect().map(_.getLong(0)).toSeq
    val qArr = array(queryVec.map(lit): _*)
    val exact = emb
      .select($"vec_id",
        ((Similarity.dot($"embedding", $"embedding")
          - lit(2.0) * Similarity.dot($"embedding", qArr))
          + Similarity.dot(qArr, qArr)).as("d"))
      .orderBy($"d", $"vec_id").limit(15)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"rotated ADC $got != original-space exact $exact")
  }

  test("PQ recall on real embeddings beats chance at coarse codebooks") {
    import graft.ops.PqIndex
    val idx = PqIndex.build(emb, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 16)
    val got = idx.probe(queryVec, 30).collect().map(_.getLong(0)).toSet
    val qArr = array(queryVec.map(lit): _*)
    val exact = emb
      .select($"vec_id",
        (Similarity.dot($"embedding", $"embedding")
          - lit(2.0) * Similarity.dot($"embedding", qArr)).as("d"))
      .orderBy($"d", $"vec_id").limit(30)
      .collect().map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size
    // chance would be 30*30/500 = 1.8; random-ish embeddings are PQ's
    // hardest case, observed ~12/30 at this codebook size
    assert(recall >= 6, s"ADC recall $recall/30 vs exact L2")
    assert(got.contains(0L), "the query's own vector survives quantization")
  }

  test("PQ index: persist, reopen, probe without touching the corpus") {
    import graft.ops.PqIndex
    val root = tmpDir("pq")
    val cat = new graft.catalog.VersionedCatalog(root)
    PqIndex.build(emb, "vec_id", "embedding", m = 4, dims = 64, ksub = 16)
      .save(cat, "pq_idx")
    val idx = PqIndex.load(spark,
      new graft.catalog.VersionedCatalog(root), "pq_idx")
    assert(idx.m == 4 && idx.dims == 64)
    assert(idx.codes.count() == emb.count() * 4)
    // probe equality with a freshly-built index (deterministic build)
    val fresh = PqIndex.build(emb, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 16).probe(queryVec, 10)
    val loaded = idx.probe(queryVec, 10)
    assert(loaded.exceptAll(fresh).isEmpty && fresh.exceptAll(loaded).isEmpty)
  }

  test("IVF-PQ: codes quantize residuals per cell; exactness limit " +
      "(all seeds, all cells probed) recovers exact L2") {
    import graft.ops.IvfPqIndex
    val n = emb.count().toInt
    // every vector seeds its own cell's codebooks, so each residual
    // encodes to itself and the per-sub ADC lookups telescope:
    // |rq_j - r_vj|^2 = |q_j - v_j|^2 — with every cell probed the ADC
    // ranking IS the exact squared-L2 ranking
    val idx = IvfPqIndex.build(emb, "vec_id", "embedding",
      kc = 8, m = 4, dims = 64, ksub = n)
    assert(idx.codes.count() == n.toLong * 4)
    assert(idx.codes.groupBy("vec_id").count()
      .where($"count" =!= 4).count() == 0)
    val got = idx.probe(queryVec, k = 15, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    val qArr = array(queryVec.map(lit): _*)
    val exact = emb
      .select($"vec_id",
        ((Similarity.dot($"embedding", $"embedding")
          - lit(2.0) * Similarity.dot($"embedding", qArr))
          + Similarity.dot(qArr, qArr)).as("d"))
      .orderBy($"d", $"vec_id").limit(15)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"IVFADC $got != exact $exact")
  }

  test("IVF-PQ recall >= plain PQ at equal per-vector code budget") {
    import graft.ops.{IvfPqIndex, PqIndex}
    val qArr = array(queryVec.map(lit): _*)
    val exact = emb
      .select($"vec_id",
        (Similarity.dot($"embedding", $"embedding")
          - lit(2.0) * Similarity.dot($"embedding", qArr)).as("d"))
      .orderBy($"d", $"vec_id").limit(30)
      .collect().map(_.getLong(0)).toSet
    // both spend 4 codes per vector from 16-entry codebooks; IVF-PQ
    // quantizes RESIDUALS (smaller magnitudes, denser codewords), so at
    // the same budget its ranking must not lose to plain PQ's
    val plain = PqIndex.build(emb, "vec_id", "embedding",
        m = 4, dims = 64, ksub = 16)
      .probe(queryVec, 30).collect().map(_.getLong(0)).toSet
    val composed = IvfPqIndex.build(emb, "vec_id", "embedding",
        kc = 8, m = 4, dims = 64, ksub = 16)
      .probe(queryVec, 30, nprobe = 8).collect().map(_.getLong(0)).toSet
    val rPlain = plain.intersect(exact).size
    val rComposed = composed.intersect(exact).size
    assert(rComposed >= rPlain,
      s"IVF-PQ recall $rComposed/30 < plain PQ $rPlain/30")
    assert(composed.contains(0L),
      "the query's own vector survives the composed quantization")
    // nprobe < kc restricts candidates to the probed cells' lists
    val narrowed = IvfPqIndex.build(emb, "vec_id", "embedding",
      kc = 8, m = 4, dims = 64, ksub = 16)
    val cells = narrowed.codes.select("vec_id", "centroid_id").distinct()
    val got2 = narrowed.probe(queryVec, 30, nprobe = 2)
      .join(cells, Seq("vec_id"))
      .select("centroid_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got2.size <= 2, s"nprobe=2 probe leaked cells: $got2")
  }

  test("IVF-PQ index: persist, reopen, probe equals a fresh build") {
    import graft.ops.IvfPqIndex
    val root = tmpDir("ivfpq")
    val cat = new graft.catalog.VersionedCatalog(root)
    IvfPqIndex.build(emb, "vec_id", "embedding",
      kc = 8, m = 4, dims = 64, ksub = 16).save(cat, "ivfpq_idx")
    val idx = IvfPqIndex.load(spark,
      new graft.catalog.VersionedCatalog(root), "ivfpq_idx")
    assert(idx.m == 4 && idx.dims == 64)
    val fresh = IvfPqIndex.build(emb, "vec_id", "embedding",
      kc = 8, m = 4, dims = 64, ksub = 16).probe(queryVec, 10, nprobe = 2)
    val loaded = idx.probe(queryVec, 10, nprobe = 2)
    assert(loaded.exceptAll(fresh).isEmpty && fresh.exceptAll(loaded).isEmpty)
  }

  test("incremental addVectors == frozen-quantizer union encode; " +
      "persisted path is an append-only delta") {
    import graft.ops.{IvfIndex, IvfPqIndex, PqIndex}
    // batch ids sit ABOVE every corpus id, so a full rebuild over the
    // union seeds IDENTICAL quantizers (seeds = first ids) — the
    // incremental index must equal that rebuild exactly, row for row
    val corpus = clustered.where($"vec_id" < 160)
    val batch = clustered.where($"vec_id" >= 160)

    // IVF trains centroids (corpus-dependent), so the frozen-quantizer
    // statement is vs assigning the union against the BUILT centroids
    val ivf = IvfIndex.build(corpus, "vec_id", "embedding", k = 4, iters = 2)
    val ivfInc = ivf.addVectors(batch, "vec_id", "embedding")
    val ivfExpect = Similarity.assign(clustered, "vec_id", "embedding",
      ivf.centroids)
    assert(ivfInc.assignments.exceptAll(ivfExpect).isEmpty &&
      ivfExpect.exceptAll(ivfInc.assignments).isEmpty)

    // PQ / IVF-PQ are seeded: incremental == full union rebuild, exactly
    val pq = PqIndex.build(corpus, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16)
    val pqInc = pq.addVectors(batch, "vec_id", "embedding")
    val pqFull = PqIndex.build(clustered, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16)
    assert(pqInc.codes.exceptAll(pqFull.codes).isEmpty &&
      pqFull.codes.exceptAll(pqInc.codes).isEmpty)

    val ivfpq = IvfPqIndex.build(corpus, "vec_id", "embedding",
      kc = 4, m = 8, dims = 64, ksub = 8)
    val ivfpqInc = ivfpq.addVectors(batch, "vec_id", "embedding")
    val ivfpqFull = IvfPqIndex.build(clustered, "vec_id", "embedding",
      kc = 4, m = 8, dims = 64, ksub = 8)
    assert(ivfpqInc.codes.exceptAll(ivfpqFull.codes).isEmpty &&
      ivfpqFull.codes.exceptAll(ivfpqInc.codes).isEmpty)

    // re-ingesting an existing id fails fast, index untouched
    val ex = intercept[IllegalArgumentException] {
      pq.addVectors(corpus.limit(1), "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("already"))

    // persisted path: the append commit writes ONLY the batch's codes;
    // the pre-append version stays readable at its own commit id
    val root = tmpDir("incann")
    val cat = new graft.catalog.VersionedCatalog(root)
    pq.save(cat, "pqi")
    val before = cat.currentCommit
    val re = PqIndex.load(spark, cat, "pqi")
      .appendVectors(cat, "pqi", batch, "vec_id", "embedding")
    assert(re.codes.exceptAll(pqFull.codes).isEmpty &&
      pqFull.codes.exceptAll(re.codes).isEmpty)
    assert(cat.readAt(spark, "pqi.codes", before).count() ==
      pq.codes.count())
  }

  test("stateless assignment/encoding exprs match the batch groupBy " +
      "forms bit-for-bit") {
    import graft.ops.{IvfIndex, PqIndex}
    // IVF cells: projection argmax == groupBy argmax
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", k = 8, iters = 2)
    val batchA = ivf.assignments
    val streamA = ivf.assignRows(emb, "vec_id", "embedding")
    assert(streamA.exceptAll(batchA).isEmpty &&
      batchA.exceptAll(streamA).isEmpty, "cell assignment diverged")
    // PQ codes: projection argmin == groupBy argmin
    val pq = PqIndex.build(emb, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 16)
    val batchC = pq.codes
    val streamC = pq.encodeRows(emb, "vec_id", "embedding")
    assert(streamC.exceptAll(batchC).isEmpty &&
      batchC.exceptAll(streamC).isEmpty, "PQ encoding diverged")
  }

  test("zero-norm (NaN-cosine) centroids lose the argmax in BOTH " +
      "assignment forms") {
    // centroid 0 is all-zero: cosine against it is NaN, and Spark ranks
    // NaN greatest — an unguarded argmax would send EVERY row to the
    // degenerate centroid while the array_min projection would not
    val cents: Array[(Long, Array[Double])] = Array(
      0L -> Array(0.0, 0.0), 1L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0))
    val centDf = cents.toSeq.toDF("centroid_id", "centroid")
    val rows = Seq(
      (10L, Seq(0.9f, 0.1f)),  // near centroid 1
      (11L, Seq(0.1f, 0.9f)),  // near centroid 2
      (12L, Seq(0.0f, 0.0f)))  // zero-norm row: ALL cosines NaN
      .toDF("id", "v")
    val batch = Similarity.assign(rows, "id", "v", centDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expr = rows.select($"id",
        Similarity.assignCellExpr($"v", cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == expr, s"batch $batch != expr $expr")
    assert(batch(10L) == 1L && batch(11L) == 2L,
      "real cosines must beat the NaN centroid")
    // all-undefined row: lowest-id tie-break on both sides
    assert(batch(12L) == 0L)
  }

  test("zero-norm (NaN-cosine) centroids lose the PROBE ordering in " +
      "ivfTopK and ivfPqTopK") {
    // NaN sorts greatest: unguarded ORDER BY sim DESC would hand the
    // degenerate centroid a probe slot, silently evicting a real cell
    // (and its members) from the candidate set
    val cents: Array[(Long, Array[Double])] = Array(
      0L -> Array(0.0, 0.0), 1L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0))
    val centDf = cents.toSeq.toDF("centroid_id", "centroid")
    val rows = Seq(
      (10L, Seq(1.0f, 0.1f)),   // cell 1
      (11L, Seq(0.1f, 1.0f)),   // cell 2
      (12L, Seq(0.0f, 0.0f)))   // parked in the degenerate cell 0
      .toDF("id", "v")
    val asg = Seq((10L, 1L), (11L, 2L), (12L, 0L))
      .toDF("id", "centroid_id")
    val q = Seq(0.9f, 0.45f)
    val ivf = Similarity.ivfTopK(rows, "id", "v", centDf, asg, q,
      k = 2, nprobe = 2).select("id").collect().map(_.getLong(0)).toSet
    assert(ivf == Set(10L, 11L),
      s"both REAL cells must be probed, got $ivf")

    // same discipline on the IVFADC path: m=1 codebooks holding each
    // member's exact residual, so a probed cell always surfaces its
    // member and the result set reveals exactly which cells were probed
    val codebooks = Seq(
      (0L, 0, 0L, Array(0.0, 0.0)),
      (1L, 0, 0L, Array(0.0, 0.1)),
      (2L, 0, 0L, Array(0.1, 0.0)))
      .toDF("centroid_id", "sub", "code_id", "codeword")
    val codes = Seq((10L, 1L, 0, 0L), (11L, 2L, 0, 0L), (12L, 0L, 0, 0L))
      .toDF("vec_id", "centroid_id", "sub", "code")
    val adc = Similarity.ivfPqTopK(codes, centDf, codebooks, q, m = 1,
      k = 2, nprobe = 2).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(adc == Set(10L, 11L),
      s"both REAL cells must be probed on the ADC path, got $adc")
  }

  test("SQ8: codes bounded, constant dims code to 0, dequantization " +
      "error within half a step, ranking tracks exact L2") {
    val (mn, mx) = Similarity.sqParams(emb, "embedding", 64)
    assert(mn.indices.forall(d => mn(d) <= mx(d)))
    val codes = Similarity.sqEncode(emb, "vec_id", "embedding", mn, mx)
      .cache()
    val rows = codes.collect()
    val raw = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.length == raw.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val cs = r.getSeq[Int](1)
      assert(cs.length == 64)
      cs.indices.foreach { d =>
        assert(cs(d) >= 0 && cs(d) <= 255)
        // dequantization error ≤ half a quantization step per dim
        val inv = if (mx(d) == mn(d)) 0.0 else (mx(d) - mn(d)) / 255.0
        val vhat = mn(d) + cs(d) * inv
        assert(math.abs(raw(id)(d) - vhat) <= inv / 2 + 1e-9,
          s"vec $id dim $d")
      }
    }
    // constant dimension → scale 0 → code 0 (and decode = mn exactly)
    val synth = Seq((0L, Seq(1.5f, 0.0f)), (1L, Seq(1.5f, 2.0f)),
      (2L, Seq(1.5f, 4.0f))).toDF("vec_id", "embedding")
    val (smn, smx) = Similarity.sqParams(synth, "embedding", 2)
    assert(smn(0) == 1.5 && smx(0) == 1.5)
    val sc = Similarity.sqEncode(synth, "vec_id", "embedding", smn, smx)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(sc.values.forall(_.head == 0), "constant dim codes to 0")
    assert(sc(0L)(1) == 0 && sc(1L)(1) == 128 && sc(2L)(1) == 255)
    // the probe finds the query's own vector first and keeps most of
    // the exact-L2 top-10 at 8-bit resolution
    val approx = Similarity.sqTopK(codes, mn, mx, queryVec, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(approx.head == 0L, "query's own code decodes nearest")
    val q = queryVec.map(_.toDouble)
    val exact = raw.toSeq.map { case (id, v) =>
      var acc = 0.0
      v.indices.foreach { d => val dd = q(d) - v(d); acc += dd * dd }
      (acc, id)
    }.sorted.take(10).map(_._2).toSet
    val overlap = approx.toSet.intersect(exact).size
    assert(overlap >= 6, s"SQ8 top-10 recall $overlap/10 vs exact L2")
  }

  test("SQ index: persist, reopen, probe equals a fresh build; " +
      "addVectors encodes under the frozen ranges; saturation clamps") {
    val root = tmpDir("sq")
    val cat = new graft.catalog.VersionedCatalog(root)
    val base = emb.where($"vec_id" >= 10L)
    val idx = graft.ops.SqIndex.build(base, "vec_id", "embedding", 64)
    idx.save(cat, "sq")
    val reopened = graft.ops.SqIndex.load(spark, cat, "sq")
    assert(reopened.mn.toSeq == idx.mn.toSeq &&
      reopened.mx.toSeq == idx.mx.toSeq)
    val fresh = idx.probe(queryVec, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val again = reopened.probe(queryVec, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fresh == again, "reopened probe == fresh probe")
    // incremental ingest under the FROZEN ranges == re-encoding the
    // union under those same ranges (earlier codes never move)
    val batch = emb.where($"vec_id" < 10L)
    val inc = reopened.appendVectors(cat, "sq", batch, "vec_id", "embedding")
    val unionCodes = Similarity.sqEncode(emb, "vec_id", "embedding",
      reopened.mn, reopened.mx)
    assert(inc.codes.exceptAll(unionCodes).isEmpty &&
      unionCodes.exceptAll(inc.codes).isEmpty)
    // values outside the trained range saturate to the end codes
    val out = Similarity.sqEncode(
      Seq((99L, Seq(9.0f, -9.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Array(0.0, 0.0), Array(1.0, 1.0))
      .head().getSeq[Int](1)
    assert(out == Seq(255, 0), s"saturation, got $out")
    // id clash fails fast
    intercept[Exception] {
      inc.addVectors(batch, "vec_id", "embedding")
    }
  }

  test("multi-probe LSH recall >= single-probe recall") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryVec, 10).select("vec_id").collect().map(_.getLong(0)).toSet
    val single = Similarity.lshTopK(emb, "vec_id", "embedding", queryVec,
      bits = 8, k = 10).select("vec_id").collect().map(_.getLong(0)).toSet
    val multi = Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding",
      queryVec, bits = 8, k = 10).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(multi.intersect(exact).size >= single.intersect(exact).size)
    assert(multi.contains(0L), "query's own bucket always probed")
  }

  test("LSH topK probes only the query bucket") {
    val got = Similarity.lshTopK(emb, "vec_id", "embedding", queryVec,
      bits = 8, k = 5).collect()
    assert(got.nonEmpty && got.length <= 5)
    // the query itself (vec 0) is in its own bucket -> cos 1.0 first
    assert(got.head.getLong(0) == 0L && got.head.getDouble(1) > 0.999999)
  }

  test("rerank: full-corpus shortlist == brute force; ANN shortlist " +
    "rerank never loses to the raw probe") {
    // exactness limit: reranking a shortlist that IS the corpus must
    // reproduce brute-force cosine top-k bit-for-bit
    val all = emb.select($"vec_id")
    val full = Similarity.rerankTopK(all, emb, "vec_id", "embedding",
      queryVec, k = 10).collect()
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryVec, 10).collect()
    assert(full.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      brute.map(r => (r.getLong(0), r.getDouble(1))).toSeq)

    // reranking a PQ shortlist: recall(rerank top-k) >= recall(pq top-k)
    // — the true metric over a superset shortlist can only fix, never
    // introduce, quantization reorderings at the cut
    import graft.ops.PqIndex
    val dims = queryVec.length
    val idx = PqIndex.build(emb, "vec_id", "embedding",
      m = 4, dims = dims, ksub = 16)
    val exact = brute.map(_.getLong(0)).toSet
    val raw = idx.probe(queryVec, k = 10)
      .collect().map(_.getLong(0)).toSet
    val rr = Similarity.rerankTopK(idx.probe(queryVec, k = 40), emb,
      "vec_id", "embedding", queryVec, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(rr.intersect(exact).size >= raw.intersect(exact).size,
      s"rerank recall ${rr.intersect(exact).size} < raw ${raw.intersect(exact).size}")
  }

  test("semDedup matches a sequential in-cell leader scan; kept set is " +
    "deterministic and drop rule is over-drop-safe") {
    val centroids = Similarity.ivfSeedCentroids(emb, "vec_id", "embedding", 8)
    val thr = 0.4
    val kept = Similarity.semDedup(emb, "vec_id", "embedding",
      centroids, thr).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reference: sequential scan per cell — doc drops iff ANY lower-id
    // doc in the same cell has cosine >= thr (survivor or not)
    val cells = Similarity.assign(emb, "vec_id", "embedding", centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val expect = vecs.keys.toSeq.sorted.flatMap { id =>
      val mine = cells(id)
      val dup = vecs.keys.exists(o => o < id && cells(o) == mine &&
        cos(vecs(o), vecs(id)) >= thr)
      if (dup) None else Some(id -> mine)
    }.toMap
    assert(kept == expect)
    // determinism across a second run
    val again = Similarity.semDedup(emb, "vec_id", "embedding",
      centroids, thr).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == kept)
  }

  test("semDedup cell guard: keep set UNCHANGED under the triangle-" +
      "bucketed pair scan on the dd17 fixture and on a 90%-degenerate " +
      "corpus, with bounded per-task rows and splits recorded") {
    import spark.implicits._
    // dd17 fixture: any bound, including one small enough to split real
    // cells, must leave the keep set bit-identical (the guard changes
    // the WORK LAYOUT, not the keep rule)
    val centroids = Similarity.ivfSeedCentroids(emb, "vec_id", "embedding", 8)
    val plain = Similarity.semDedup(emb, "vec_id", "embedding",
      centroids, 0.4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (bound <- Seq(8, 64, 1 << 20)) {
      val guarded = Similarity.semDedup(emb, "vec_id", "embedding",
        centroids, 0.4, maxCellRows = Some(bound)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(guarded == plain, s"bound=$bound changed the keep set")
    }
    // degenerate corpus: 90% of vectors share ONE near-constant
    // direction (they all land in the same Lloyd cell); the guard must
    // split that cell, bound the per-bucket-pair task input, and still
    // keep exactly the unguarded set (here: the one lowest-id constant
    // doc plus every distinct non-constant survivor)
    val n = 600
    // constants are EXACTLY equal: every constant centroid scores cos
    // 1.0, the lowest-centroid-id tie-break routes all 540 into ONE cell
    val deg = (0 until n).map { i =>
      val v = Array.fill(8)(0.0f)
      if (i % 10 != 0) v(0) = 1.0f
      else v(1 + i % 7) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val degCents = Similarity.ivfSpreadSeedCentroids(deg, "vec_id",
      "embedding", 8)
    val bound = 32
    val unguarded = Similarity.semDedup(deg, "vec_id", "embedding",
      degCents, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Similarity.semDedup(deg, "vec_id", "embedding",
      degCents, 0.9, maxCellRows = Some(bound)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == unguarded, "degenerate corpus changed the keep set")
    assert(guarded.size < n / 5, "fixture degenerate enough to mass-drop")
    // the split census sees the mega-cell
    val (nCells, nSplit, maxNb) = Similarity.semDedupSplitStats(
      deg, "vec_id", "embedding", degCents, bound)
    assert(nSplit >= 1 && maxNb >= (n * 9 / 10) / bound,
      s"mega-cell not split: cells=$nCells split=$nSplit maxNb=$maxNb")
    // bounded per-task rows: each bucket-pair join group holds ≤ ~2·bound
    // rows per side (hash balance; 3× head-room) — replay the bucket
    // assignment and check the largest bucket
    val sizes = Similarity.assignFast(deg, "vec_id", "embedding", degCents)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("cnt"))
      .select(col("centroid_id"), ceil(col("cnt") / lit(bound.toDouble))
        .cast("int").as("nb"))
    val maxBucket = Similarity.assignFast(deg, "vec_id", "embedding",
        degCents)
      .join(sizes, Seq("centroid_id"))
      .select(col("centroid_id"),
        pmod(Similarity.spreadKey(col("vec_id")), col("nb")).as("bkt"))
      .groupBy(col("centroid_id"), col("bkt")).agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head().getLong(0)
    assert(maxBucket <= 3L * bound,
      s"bucket of $maxBucket rows exceeds 3x bound $bound")
  }

  test("semDedupAtScale == the hand-assembled scale composition on the " +
      "dd17 fixture and the 90%-degenerate corpus; guard armed by default") {
    import spark.implicits._
    def handAssembled(df: org.apache.spark.sql.DataFrame, thr: Double,
        bound: Int): Set[(Long, Long)] = {
      val n = df.select(col("vec_id")).count()
      val k = Similarity.semDedupCellCount(n)
      val cents = Similarity.ivfTrain(df, "vec_id", "embedding", k,
        iters = 2, trainLimit = Some(math.max(8192, 32 * k)))
      Similarity.semDedup(df, "vec_id", "embedding", cents, thr,
        probes = 2, maxCellRows = Some(bound))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def viaWrapper(df: org.apache.spark.sql.DataFrame, thr: Double,
        bound: Int): Set[(Long, Long)] =
      Similarity.semDedupAtScale(df, "vec_id", "embedding", thr,
        maxCellRows = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // healthy fixture (the dd17 embeddings)
    assert(viaWrapper(emb, 0.4, 8192) == handAssembled(emb, 0.4, 8192),
      "wrapper diverged from the hand-assembled form on the dd17 fixture")
    // degenerate fixture: 90% of vectors on one exact direction, with a
    // bound tight enough that the default-armed guard must split the
    // mega-cell — keep set still equals the hand-assembled composition
    val n = 600
    val deg = (0 until n).map { i =>
      val v = Array.fill(8)(0.0f)
      if (i % 10 != 0) v(0) = 1.0f else v(1 + i % 7) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val keptDeg = viaWrapper(deg, 0.9, 32)
    assert(keptDeg == handAssembled(deg, 0.9, 32),
      "wrapper diverged on the degenerate corpus")
    assert(keptDeg.size < n / 5, "fixture degenerate enough to mass-drop")
    // and the guard really engaged under the wrapper's own sizing
    val k = Similarity.semDedupCellCount(n.toLong)
    val cents = Similarity.ivfTrain(deg, "vec_id", "embedding", k,
      iters = 2, trainLimit = Some(math.max(8192, 32 * k)))
    val (_, nSplit, maxNb) = Similarity.semDedupSplitStats(
      deg, "vec_id", "embedding", cents, 32, probes = 2)
    assert(nSplit >= 1 && maxNb >= (n * 9 / 10) / 32,
      s"mega-cell not split under wrapper sizing: split=$nSplit maxNb=$maxNb")
  }

  test("semDedupCellCount: sqrt sizing inside the broadcastable clamp") {
    import Similarity.semDedupCellCount
    assert(semDedupCellCount(0L) == 64, "floor")
    assert(semDedupCellCount(4096L) == 64, "sqrt(4096) = 64 boundary")
    assert(semDedupCellCount(1000000L) == 1000)
    assert(semDedupCellCount(200000L) == 447, "the x100 bench point")
    assert(semDedupCellCount(Long.MaxValue) == 65536, "ceiling")
  }

  test("hard negatives: labels always differ, anchors never list " +
      "themselves, and nprobe = all cells equals the brute-force filter") {
    val centroids =
      Similarity.ivfSeedCentroids(emb, "vec_id", "embedding", 16).cache()
    val assignments =
      Similarity.assign(emb, "vec_id", "embedding", centroids).cache()
    val anchors = emb.where($"vec_id" < 4)
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      centroids, assignments, anchors, k = 10, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))

    val labels = emb.select($"vec_id", $"label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    // same IEEE op order as Similarity.cosine (norm(a)*norm(b), NOT
    // sqrt(na*nb)) — the comparison below is bit-for-bit
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    got.foreach { case (aid, vid, _, _) =>
      assert(labels(vid) != labels(aid), s"negative $vid shares $aid's label")
      assert(vid != aid)
    }
    // nprobe = every cell ⇒ identical to the exhaustive scan with the
    // label filter (rank and id sequence, cosine values bit-for-bit)
    (0L until 4L).foreach { aid =>
      val brute = vecs.keys.toSeq
        .filter(v => labels(v) != labels(aid))
        .map(v => (v, cos(vecs(v), vecs(aid))))
        .sortBy { case (v, c) => (-c, v) }
        .take(10)
      val mine = got.filter(_._1 == aid).sortBy(_._4)
        .map(r => (r._2, r._3)).toSeq
      assert(mine == brute, s"anchor $aid")
    }
    // each anchor got a full list (corpus has both labels in quantity)
    assert(got.groupBy(_._1).forall(_._2.length == 10))
    centroids.unpersist(); assignments.unpersist()
  }

  test("recall@k floors vs brute force across the ANN index family " +
      "(multi-probe LSH, IVF, PQ, IVF-PQ, rotated PQ)") {
    import graft.ops.{IvfPqIndex, PqIndex}
    // mean recall over 8 queries spread across the real fixture, at the
    // gate parameterizations (VectorOps sim2b/sim4/sim6/sim7/sim8).
    // Ground truth per family metric: cosine for the cosine rankers
    // (LSH, IVF), squared L2 for the ADC family. The floors document
    // each index's accuracy side of its accuracy/speed trade —
    // deterministic builds + fixed fixture make the measured recalls
    // exactly reproducible, floors sit one query-flip below.
    val ks = Seq(1, 10, 30)
    val qIds = Seq(0L, 61L, 123L, 187L, 251L, 313L, 377L, 441L)
    val qs: Seq[Seq[Float]] = emb.where($"vec_id".isin(qIds: _*))
      .select($"vec_id", $"embedding").collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Float](1)).toSeq
    assert(qs.size == qIds.size)

    val centroids =
      Similarity.ivfSeedCentroids(emb, "vec_id", "embedding", 16).cache()
    val assignments =
      Similarity.assign(emb, "vec_id", "embedding", centroids).cache()
    val pq = PqIndex.build(emb, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 16)
    val ivfpq = IvfPqIndex.build(emb, "vec_id", "embedding",
      kc = 8, m = 4, dims = 64, ksub = 8)
    val us = Similarity.householderUs(2, 64)
    val rot = Similarity.rotated(
      emb.select($"vec_id", $"embedding".as("remb")), "remb", us)
    val rpq = PqIndex.build(rot, "vec_id", "remb", m = 4, dims = 64,
      ksub = 16)

    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    def exactCos(q: Seq[Float]): Seq[Long] =
      ids(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 30))
    def exactL2(q: Seq[Float]): Seq[Long] = {
      val qArr = array(q.map(lit): _*)
      ids(emb.select($"vec_id",
        (Similarity.dot($"embedding", $"embedding")
          - lit(2.0) * Similarity.dot($"embedding", qArr)).as("d"))
        .orderBy($"d", $"vec_id").limit(30))
    }

    val methods: Seq[(String, Boolean, Seq[Float] => Seq[Long])] = Seq(
      ("sim2b_lsh_multiprobe", true, q => ids(
        Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding", q, 8, 30))),
      ("sim4_ivf", true, q => ids(
        Similarity.ivfTopK(emb, "vec_id", "embedding", centroids,
          assignments, q, 30, 4))),
      ("sim6_pq", false, q => ids(pq.probe(q, 30))),
      ("sim7_ivfpq", false, q => ids(ivfpq.probe(q, 30, nprobe = 2))),
      ("sim8_rpq", false, q => ids(Similarity.pqTopKD(rpq.codes,
        rpq.codebooks, Similarity.rotateVec(q.map(_.toDouble), us),
        m = 4, k = 30))))

    // Measured on /root/testdata/sf0.001 (500 real 64-d vecs, the
    // near-random regime — quantization's HARDEST case; clustered-corpus
    // recall is pinned separately above). Deterministic builds on a fixed
    // fixture make these exact; floors sit ~2 query-flips below measured:
    //   sim2b (8-bit multiprobe LSH) 1.000 / 0.238 / 0.171
    //   sim4  (IVF 16 cells, nprobe 4) 1.000 / 0.575 / 0.488
    //   sim6  (PQ m=4 ksub=16)      1.000 / 0.150 / 0.213
    //   sim7  (IVF-PQ kc=8, nprobe 2) 0.625 / 0.213 / 0.296
    //   sim8  (rotated PQ)          1.000 / 0.188 / 0.283
    // The trade each floor documents: IVF keeps the most mid-k recall at
    // these budgets (full vectors, coarse routing); the ADC family trades
    // mid-k recall for 1/64 storage; top-1 survives everywhere except
    // under IVF-PQ's nprobe=2 cell truncation; the production fix is the
    // sim9 exact re-rank over an ADC shortlist.
    val floors: Map[(String, Int), Double] = Map(
      ("sim2b_lsh_multiprobe", 1) -> 0.85, ("sim2b_lsh_multiprobe", 10) -> 0.20,
      ("sim2b_lsh_multiprobe", 30) -> 0.14,
      ("sim4_ivf", 1) -> 0.85, ("sim4_ivf", 10) -> 0.52,
      ("sim4_ivf", 30) -> 0.44,
      ("sim6_pq", 1) -> 0.85, ("sim6_pq", 10) -> 0.12,
      ("sim6_pq", 30) -> 0.18,
      ("sim7_ivfpq", 1) -> 0.45, ("sim7_ivfpq", 10) -> 0.17,
      ("sim7_ivfpq", 30) -> 0.25,
      ("sim8_rpq", 1) -> 0.85, ("sim8_rpq", 10) -> 0.15,
      ("sim8_rpq", 30) -> 0.24)

    methods.foreach { case (name, byCos, probe) =>
      val perQuery: Seq[Seq[Double]] = qs.map { q =>
        val exact = if (byCos) exactCos(q) else exactL2(q)
        val got = probe(q)
        ks.map(k =>
          got.take(k).toSet.intersect(exact.take(k).toSet).size.toDouble / k)
      }
      ks.zipWithIndex.foreach { case (k, i) =>
        val mean = perQuery.map(_(i)).sum / perQuery.size
        info(f"$name%-22s recall@$k%-2d = $mean%.3f  " +
          f"(floor ${floors((name, k))}%.2f, n=${qs.size})")
        assert(mean >= floors((name, k)),
          f"$name recall@$k $mean%.3f below floor ${floors((name, k))}%.2f")
      }
    }
    centroids.unpersist(); assignments.unpersist()
  }

  test("spread seeding survives id-clustered corpora where prefix " +
      "seeding collapses") {
    // inflate the fixture the way a re-numbered ingest would: clone
    // families get CONSECUTIVE ids (base·4 + rep), each clone nudged a
    // hair off its base — the adversarial case for first-k-by-id seeds
    val factor = 4
    val inflated = emb
      .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("rep"))
      .select(($"vec_id" * factor + $"rep").as("vec_id"),
        transform($"embedding",
          x => (x + $"rep".cast("float") * lit(0.0013f)).cast("float"))
          .as("embedding"))
    def families(df: org.apache.spark.sql.DataFrame): Long = df
      .select(($"vec_id" / factor).cast("long")).distinct().count()
    // the first 16 ids span exactly 4 base families; the spread draw
    // must cover 16 distinct ones (the golden-ratio step sends each
    // consecutive id ~0.618·P away, so no family contributes twice
    // before every stride-apart base has appeared)
    assert(families(inflated.orderBy($"vec_id").limit(16)) == 4L)
    assert(families(Similarity.spreadSample(inflated, "vec_id", 16)) == 16L)
    // deterministic: the same draw twice
    val a = Similarity.spreadSample(inflated, "vec_id", 16)
    val b = Similarity.spreadSample(inflated, "vec_id", 16)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("shared-codebook IVFADC: exactness limit, deterministic rebuild, " +
      "persist/reopen, frozen-quantizer increment") {
    import graft.ops.IvfPqSharedIndex
    val n = emb.count().toInt
    // exactness limit: every residual is its own (distance-0) codeword
    // when ksub = corpus size, so with all cells probed the ADC ranking
    // IS the exact squared-L2 ranking
    val idx = IvfPqSharedIndex.buildTrained(emb, "vec_id", "embedding",
      kc = 4, m = 4, dims = 64, ksub = n, iters = 0)
    assert(idx.codes.count() == n.toLong * 4)
    val got = idx.probe(queryVec, k = 15, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val qArr = array(queryVec.map(lit): _*)
    val exact = emb
      .select($"vec_id",
        ((Similarity.dot($"embedding", $"embedding")
          - lit(2.0) * Similarity.dot($"embedding", qArr))
          + Similarity.dot(qArr, qArr)).as("d"))
      .orderBy($"d", $"vec_id").limit(15)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"shared IVFADC $got != exact $exact")

    // trained build is deterministic: identical codebooks on rebuild
    val t1 = IvfPqSharedIndex.buildTrained(emb, "vec_id", "embedding",
      kc = 4, m = 4, dims = 64, ksub = 16, iters = 2,
      trainLimit = Some(128))
    val t2 = IvfPqSharedIndex.buildTrained(emb, "vec_id", "embedding",
      kc = 4, m = 4, dims = 64, ksub = 16, iters = 2,
      trainLimit = Some(128))
    assert(t1.codebooks.exceptAll(t2.codebooks).isEmpty &&
      t2.codebooks.exceptAll(t1.codebooks).isEmpty)
    assert(t1.centroids.exceptAll(t2.centroids).isEmpty)

    // persist → reopen → probe equals the fresh build's probe
    val root = tmpDir("ivfpq_shared")
    val cat = new graft.catalog.VersionedCatalog(root)
    t1.save(cat, "shared_idx")
    val reopened = IvfPqSharedIndex.load(spark,
      new graft.catalog.VersionedCatalog(root), "shared_idx")
    assert(reopened.m == 4 && reopened.dims == 64)
    val fresh = t1.probe(queryVec, 10, nprobe = 2)
    val loaded = reopened.probe(queryVec, 10, nprobe = 2)
    assert(loaded.exceptAll(fresh).isEmpty && fresh.exceptAll(loaded).isEmpty)

    // frozen-quantizer increment == full union encode (batch ids above
    // the training corpus leave sample and quantizers unchanged)
    val lowIds = emb.where($"vec_id" < 100L)
    val batch = emb.where($"vec_id" >= 100L)
    val base = IvfPqSharedIndex.buildTrained(lowIds, "vec_id", "embedding",
      kc = 4, m = 4, dims = 64, ksub = 16, iters = 1)
    val grown = base.addVectors(batch, "vec_id", "embedding")
    val unionEnc = {
      val assignments = Similarity.assign(emb, "vec_id", "embedding",
        base.centroids)
      Similarity.ivfPqEncodeShared(
        Similarity.ivfResiduals(emb, "vec_id", "embedding",
          base.centroids, assignments),
        "vec_id", base.codebooks, 4, 64)
    }
    assert(grown.codes.exceptAll(unionEnc).isEmpty &&
      unionEnc.exceptAll(grown.codes).isEmpty)
  }
}
