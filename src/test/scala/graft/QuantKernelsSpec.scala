package graft

import org.apache.spark.sql.functions._

import graft.ops.{IvfPqCellPackedIndex, IvfPqIndex, IvfPqSharedIndex,
  IvfPqSharedPackedIndex, PqIndex, PqPackedIndex, Similarity}

/** Bit-parity of the tight-loop quantization kernels against the
  * relational (oracle-replayable) quantizer steps: same argmax/argmin,
  * same IEEE op sequences, same NaN and tie disciplines — so the packed
  * production indexes are interchangeable with the gate-checked
  * relational ones, code-for-code and probe-for-probe.
  */
class QuantKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queryVec: Seq[Float] = emb.where($"vec_id" === 0L)
    .select($"embedding").head().getSeq[Float](0)

  test("assignFast matches relational assign, degenerate vectors included") {
    // a zero-norm vector exercises the NaN→−∞ discipline on the kernel
    // side (relational: nanvl(cosine, −∞))
    val withZero = emb.select($"vec_id", $"embedding")
      .unionByName(Seq((999999L, Seq.fill(64)(0.0f)))
        .toDF("vec_id", "embedding"))
    val centroids = Similarity.ivfSpreadSeedCentroids(
      withZero, "vec_id", "embedding", 16).cache()
    val rel = Similarity.assign(withZero, "vec_id", "embedding", centroids)
    val fast = Similarity.assignFast(withZero, "vec_id", "embedding",
      centroids)
    assert(rel.exceptAll(fast).isEmpty && fast.exceptAll(rel).isEmpty)
  }

  test("kernel PQ encode matches relational pqEncode on trained codebooks") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8,
      dims = 64, ksub = 16, iters = 2).cache()
    val rel = PqEncodeOracle.pqEncode(emb, "vec_id", "embedding", cb, 8, 64)
    val fast = Similarity.pqEncodeFast(emb, "vec_id", "embedding", cb, 8, 64)
    assert(rel.schema.map(f => (f.name, f.dataType)) ===
      fast.schema.map(f => (f.name, f.dataType)))
    assert(rel.exceptAll(fast).isEmpty && fast.exceptAll(rel).isEmpty)
  }

  test("packed ADC probe is bit-identical to the relational pqTopK") {
    val m = 8
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, dims = 64,
      ksub = 16, iters = 2).cache()
    val relCodes = PqEncodeOracle.pqEncode(emb, "vec_id", "embedding", cb,
      m, 64)
    val rel = Similarity.pqTopK(relCodes, cb, queryVec, m, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val packed = Similarity.pqEncodePacked(emb, "vec_id", "embedding",
      cb, m, 64)
    val fast = Similarity.pqTopKPackedD(packed,
      Similarity.collectCodebooks(cb, m), queryVec.map(_.toDouble), k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rel.toSeq == fast.toSeq)
  }

  test("packed trained PQ index equals the relational trained index") {
    val rel = PqIndex.buildTrained(emb, "vec_id", "embedding", m = 8,
      dims = 64, ksub = 16, iters = 2, trainLimit = Some(500))
    val packed = PqPackedIndex.buildTrained(emb, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16, iters = 2, trainLimit = Some(500))
    val a = rel.probe(queryVec, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = packed.probe(queryVec, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("packed shared IVFADC equals the relational shared index") {
    val rel = IvfPqSharedIndex.buildTrained(emb, "vec_id", "embedding",
      kc = 8, m = 8, dims = 64, ksub = 16, iters = 2,
      trainLimit = Some(500))
    val packed = IvfPqSharedPackedIndex.buildTrained(emb, "vec_id",
      "embedding", kc = 8, m = 8, dims = 64, ksub = 16, iters = 2,
      trainLimit = Some(500))
    // identical quantizers (same training path)...
    assert(rel.codebooks.exceptAll(packed.codebooks).isEmpty)
    assert(rel.centroids.exceptAll(packed.centroids).isEmpty)
    // ...identical codes (packed explodes to the relational layout)...
    val packedExploded = packed.codes.select($"vec_id", $"centroid_id",
      posexplode($"codes").as(Seq("sub", "code")))
    assert(rel.codes.exceptAll(packedExploded).isEmpty &&
      packedExploded.exceptAll(rel.codes).isEmpty)
    // ...identical probes, adist bits included, at several nprobe
    for (np <- Seq(2, 4, 8)) {
      val a = rel.probe(queryVec, k = 20, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = packed.probe(queryVec, k = 20, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, s"nprobe=$np")
    }
  }

  test("per-cell kernel encode matches the relational ivfPqEncode on the " +
      "sim7-oracle seeded codebooks") {
    val m = 4
    val idx = IvfPqIndex.build(emb, "vec_id", "embedding", kc = 8, m = m,
      dims = 64, ksub = 8)
    val local = Similarity.collectCellCodebooks(idx.codebooks, m)
    val residuals = Similarity.ivfResiduals(emb, "vec_id", "embedding",
      idx.centroids,
      Similarity.assign(emb, "vec_id", "embedding", idx.centroids))
    val packed = Similarity.ivfPqEncodeCellPacked(residuals, "vec_id",
      local, 64)
    val exploded = packed.select($"vec_id", $"centroid_id",
      posexplode($"codes").as(Seq("sub", "code")))
    assert(idx.codes.exceptAll(exploded).isEmpty &&
      exploded.exceptAll(idx.codes).isEmpty)
  }

  test("packed per-cell IVFADC probe is bit-identical to the relational " +
      "ivfPqTopK") {
    val m = 4
    val idx = IvfPqIndex.build(emb, "vec_id", "embedding", kc = 8, m = m,
      dims = 64, ksub = 8)
    val local = Similarity.collectCellCodebooks(idx.codebooks, m)
    val cents = Similarity.collectCentroids(idx.centroids)
    val residuals = Similarity.ivfResiduals(emb, "vec_id", "embedding",
      idx.centroids,
      Similarity.assign(emb, "vec_id", "embedding", idx.centroids))
    val packed = Similarity.ivfPqEncodeCellPacked(residuals, "vec_id",
      local, 64).cache()
    for (np <- Seq(1, 2, 4, 8)) {
      val a = idx.probe(queryVec, k = 25, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = Similarity.ivfPqTopKCellPacked(packed, cents, local,
        queryVec, k = 25, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, s"nprobe=$np")
    }
    packed.unpersist()
  }

  test("trained per-cell packed index is deterministic, round-trips the " +
      "catalog, and frozen ingest equals a full re-encode") {
    val root = tmpDir("ivfpqcell")
    val cat = new graft.catalog.VersionedCatalog(root)
    val low = emb.where($"vec_id" % 7 =!= 0)
    val batch = emb.where($"vec_id" % 7 === 0)
    val idx = IvfPqCellPackedIndex.buildTrained(low, "vec_id", "embedding",
      kc = 8, m = 8, dims = 64, ksub = 16, iters = 2,
      trainLimit = Some(500), perCellTrainLimit = Some(200))
    // deterministic: a second identical build trains identical quantizers
    val again = IvfPqCellPackedIndex.buildTrained(low, "vec_id",
      "embedding", kc = 8, m = 8, dims = 64, ksub = 16, iters = 2,
      trainLimit = Some(500), perCellTrainLimit = Some(200))
    assert(idx.codebooks.exceptAll(again.codebooks).isEmpty &&
      again.codebooks.exceptAll(idx.codebooks).isEmpty)
    idx.save(cat, "ivfpqcell")
    val loaded = IvfPqCellPackedIndex.load(spark, cat, "ivfpqcell")
    val grown = loaded.addVectors(batch, "vec_id", "embedding")
    val full = Similarity.ivfPqEncodeCellPacked(
      Similarity.ivfResidualsFast(emb, "vec_id", "embedding",
        loaded.centroids),
      "vec_id", Similarity.collectCellCodebooks(loaded.codebooks, 8), 64)
    assert(grown.codes.exceptAll(full).isEmpty &&
      full.exceptAll(grown.codes).isEmpty)
    // probes agree between the saved and reloaded index
    val a = idx.probe(queryVec, k = 20, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = loaded.probe(queryVec, k = 20, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("top-p cell kernel matches the relational rank window, position 0 " +
      "matches single assignment") {
    import org.apache.spark.sql.expressions.Window
    val centroids = Similarity.ivfSpreadSeedCentroids(
      emb, "vec_id", "embedding", 16).cache()
    val local = Similarity.collectCentroids(centroids)
    val w = Window.partitionBy($"vec_id")
      .orderBy($"sim".desc, $"centroid_id")
    val rel = emb.crossJoin(broadcast(centroids))
      .select($"vec_id", $"centroid_id",
        nanvl(Similarity.cosine($"embedding", $"centroid"),
          lit(Double.NegativeInfinity)).as("sim"))
      .withColumn("rn", row_number().over(w)).where($"rn" <= 3)
      .select($"vec_id", ($"rn" - 1).cast("int").as("pos"), $"centroid_id")
    val fast = emb.select($"vec_id",
      posexplode(graft.functions.QuantKernelCols
        .nearestCentroids($"embedding", local, 3))
        .as(Seq("pos", "centroid_id")))
    assert(rel.exceptAll(fast).isEmpty && fast.exceptAll(rel).isEmpty)
    // position 0 == the single-assignment kernel
    val one = Similarity.assignFast(emb, "vec_id", "embedding", centroids)
    val head = fast.where($"pos" === 0).drop("pos")
    assert(one.exceptAll(head).isEmpty && head.exceptAll(one).isEmpty)
  }

  test("multi-assigned per-cell index probes each id once at its best " +
      "estimate and round-trips assigns through the catalog") {
    val idx = IvfPqCellPackedIndex.buildTrained(emb, "vec_id", "embedding",
      kc = 8, m = 8, dims = 64, ksub = 16, iters = 1, assigns = 2)
    val cached = idx.copy(codes = idx.codes.cache())
    val cents = Similarity.collectCentroids(idx.centroids)
    val ccb = Similarity.collectCellCodebooks(idx.codebooks, 8)
    // manual truth: score every copy in every cell, keep each id's min
    val manual = Similarity.ivfPqTopKCellPacked(cached.codes, cents, ccb,
        queryVec, k = 1000000, nprobe = 8, dedupIds = false)
      .groupBy($"vec_id").agg(min($"adist").as("adist"))
      .orderBy($"adist", $"vec_id").limit(40)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val probed = cached.probe(queryVec, k = 40, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(manual.toSeq == probed.toSeq)
    assert(probed.map(_._1).distinct.length == probed.length)
    val root = tmpDir("ivfpqcell2")
    val cat = new graft.catalog.VersionedCatalog(root)
    cached.save(cat, "multi")
    val loaded = IvfPqCellPackedIndex.load(spark, cat, "multi")
    assert(loaded.assigns == 2)
    val b = loaded.probe(queryVec, k = 40, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == b.toSeq)
  }

  test("kernel expressions reject wrong input types at analysis time") {
    val cents = Similarity.collectCentroids(
      Similarity.ivfSpreadSeedCentroids(emb, "vec_id", "embedding", 4))
    val bad = Seq((1L, "notavector")).toDF("id", "s")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(graft.functions.QuantKernelCols
        .nearestCentroid($"s", cents)).collect()
    }
    assert(e1.getMessage.contains("nearest_centroid") ||
      e1.getMessage.toLowerCase.contains("data type mismatch"))
    val cb = Similarity.collectCodebooks(Similarity.pqSpreadSeedCodebooks(
      emb, "vec_id", "embedding", m = 4, dims = 64, ksub = 4), 4)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(graft.functions.QuantKernelCols.pqCodes($"s", cb, 16))
        .collect()
    }
    assert(e2.getMessage.contains("pq_codes") ||
      e2.getMessage.toLowerCase.contains("data type mismatch"))
    // adc over a non-codes column fails at analysis, not on an executor
    val tabs = Similarity.adcTables(cb, Seq.fill(64)(0.0), 16)
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(graft.functions.QuantKernelCols.adcDist($"s", tabs))
        .collect()
    }
    assert(e3.getMessage.contains("adc_dist") ||
      e3.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("semDedup's kernel cells keep the same set as a relational-assign " +
      "replay") {
    val centroids = Similarity.ivfSpreadSeedCentroids(
      emb, "vec_id", "embedding", 16).cache()
    // replay: cells from the relational argmax, b drops iff a lower-id
    // vector in its cell sits at cosine >= 0.9
    val cells = emb.select($"vec_id", $"embedding").join(
      Similarity.assign(emb, "vec_id", "embedding", centroids), Seq("vec_id"))
    val dropped = cells.as("a").join(cells.as("b"),
        $"a.centroid_id" === $"b.centroid_id" && $"a.vec_id" < $"b.vec_id")
      .where(Similarity.cosine($"a.embedding", $"b.embedding") >= 0.9)
      .select($"b.vec_id".as("vec_id")).distinct()
    val rel = cells.select($"vec_id", $"centroid_id")
      .join(dropped, Seq("vec_id"), "left_anti")
    val fast = Similarity.semDedup(emb, "vec_id", "embedding", centroids,
      threshold = 0.9)
    assert(rel.exceptAll(fast).isEmpty && fast.exceptAll(rel).isEmpty)
  }

  test("semDedup multi-probe drops exactly the pairs sharing ANY host " +
      "cell, kept rows keep the primary cell") {
    val centroids = Similarity.ivfSpreadSeedCentroids(
      emb, "vec_id", "embedding", 16).cache()
    val local = Similarity.collectCentroids(centroids)
    val t = 0.9
    // brute truth over host-cell SETS: b drops iff a lower-id vector
    // with an overlapping 2-cell host set sits at cosine >= t
    val hosted = emb.select($"vec_id".as("id"), $"embedding".as("v"),
      graft.functions.QuantKernelCols
        .nearestCentroids($"embedding", local, 2).as("hosts"))
    val droppedTruth = hosted.as("a").join(hosted.as("b"),
        arrays_overlap($"a.hosts", $"b.hosts") && $"a.id" < $"b.id")
      .where(Similarity.cosine($"a.v", $"b.v") >= t)
      .select($"b.id".as("vec_id")).distinct()
    val expect = emb.select($"vec_id")
      .join(droppedTruth, Seq("vec_id"), "left_anti")
      .join(Similarity.assignFast(emb, "vec_id", "embedding", centroids),
        Seq("vec_id"))
    val got = Similarity.semDedup(emb, "vec_id", "embedding", centroids,
      threshold = t, probes = 2)
    assert(expect.exceptAll(got).isEmpty && got.exceptAll(expect).isEmpty)
    // probes=2 never keeps MORE than probes=1 (drop set only widens)
    val single = Similarity.semDedup(emb, "vec_id", "embedding",
      centroids, threshold = t)
    assert(got.select($"vec_id").exceptAll(single.select($"vec_id"))
      .isEmpty)
  }

  test("packed index round-trips through the catalog and frozen-codebook " +
      "ingest matches a full re-encode") {
    val root = tmpDir("pqpacked")
    val cat = new graft.catalog.VersionedCatalog(root)
    val low = emb.where($"vec_id" % 7 =!= 0)
    val batch = emb.where($"vec_id" % 7 === 0)
    val idx = PqPackedIndex.buildTrained(low, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16, iters = 1)
    idx.save(cat, "pq")
    val loaded = PqPackedIndex.load(spark, cat, "pq")
    val grown = loaded.addVectors(batch, "vec_id", "embedding")
    // frozen-codebook increment == full re-encode under the same books
    val full = Similarity.pqEncodePacked(emb, "vec_id", "embedding",
      loaded.codebooks, 8, 64)
    assert(grown.codes.exceptAll(full).isEmpty &&
      full.exceptAll(grown.codes).isEmpty)
    // duplicate ingest fails fast
    intercept[IllegalArgumentException] {
      grown.addVectors(batch, "vec_id", "embedding").codes.count()
    }
  }
}
