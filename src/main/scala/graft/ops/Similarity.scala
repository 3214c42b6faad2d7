package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  *  - [[cosine]] / [[dot]]: ordered-fold arithmetic in double precision so
  *    results are bit-reproducible across engines;
  *  - [[bruteForceTopK]]: exact baseline — one pass over the corpus per
  *    query, no shuffle (scan + local top-k via orderBy.limit);
  *  - [[lshBuckets]] / [[lshTopK]]: random-hyperplane LSH — the scale
  *    path: each vector lands in one bucket per table, the query probes
  *    only its buckets, so the scan cost drops from O(N) to O(N / 2^bits)
  *    per table at 100 TB.
  */
object Similarity {

  /** Element-wise dot product in double precision, ordered accumulation —
    * a codegen'd Catalyst expression with semantics identical to
    * `aggregate(zip_with(a,b,(x,y) -> double(x)*double(y)), 0.0, +)` but
    * ~20× faster (tight primitive loop, no per-element lambda frames).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine in double precision. A zero-norm side leaves the quotient
    * undefined: return NaN explicitly. (Not an ANSI-mode concern —
    * Spark's ANSI divide-by-zero error applies to integral/decimal
    * division only; double division follows IEEE 754, and since a zero
    * norm forces a zero dot product the raw quotient would be 0.0/0.0 =
    * NaN anyway. The guard just makes the undefined case deliberate and
    * readable.) Downstream argmax/argmin sites map the NaN away from
    * ever winning (see [[assign]]) — NaN sorts GREATEST in Spark, so an
    * unguarded ordering would crown a degenerate vector.
    */
  def cosine(a: Column, b: Column): Column = {
    val np = norm(a) * norm(b)
    when(np === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / np)
  }

  /** Exact top-k by cosine against a literal query vector. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    df.select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component for (bit, dim):
    * a fixed integer mix mapped into [-1, 1). Same formula is
    * reproducible in SQL for oracle checks.
    */
  private def plane(bit: Int, dim: Int): Double = {
    val x = (bit.toLong * 2654435761L + dim.toLong * 40503L + 97L) % 10007L
    (x.toDouble / 5003.5) - 1.0
  }

  /** Random-hyperplane signature: bit i = (v · plane_i) >= 0. */
  def lshSignature(vec: Column, bits: Int, dims: Int): Column =
    (0 until bits).map { i =>
      val planeArr = array((0 until dims).map(d => lit(plane(i, d))): _*)
      when(dot(vec, planeArr) >= 0.0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Driver-side twin of [[lshSignature]] for a LITERAL query vector —
    * the same IEEE accumulation order as [[dot]] (acc = 0.0, += x·p in
    * index order), so the folded constant is bit-equal to what the
    * expression form would compute. Folding matters because FilterExec
    * codegen has no common-subexpression elimination: a probe predicate
    * that references the signature EXPRESSION k times inlines k full
    * recomputations per row (measured: the 17-probe multiprobe filter
    * evaluated 16 dot products x 34 times per row).
    */
  private def lshSignatureLocal(query: Seq[Float], bits: Int): Long =
    (0 until bits).map { i =>
      var acc = 0.0
      var d = 0
      while (d < query.length) {
        acc += query(d).toDouble * plane(i, d); d += 1
      }
      if (acc >= 0.0) 1L << i else 0L
    }.sum

  /** Bucket assignment for the whole corpus. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, dims: Int): DataFrame =
    df.withColumn("bucket", lshSignature(col(vecCol), bits, dims))

  /** ANN top-k: probe only the query's LSH bucket, rank by exact cosine
    * within it. Recall < 1 by construction; raise `bits` tables or use
    * multi-probe for higher recall.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], bits: Int, k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val qSig = lshSignatureLocal(query, bits)
    lshBuckets(df, idCol, vecCol, bits, query.length)
      .where(col("bucket") === lit(qSig))
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------------ IVF

  /** Deterministic seeded coarse quantizer: the first k corpus vectors by
    * id become the inverted-file centroids (centroid_id = the seed's own
    * id). No training iterations, so the quantizer — and therefore the
    * whole IVF probe — is exactly reproducible in portable SQL; the
    * Lloyd-refined variant is [[ivfTrain]].
    */
  def ivfSeedCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    df.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("centroid_id"),
        transform(col(vecCol), _.cast("double")).as("centroid"))

  /** Deterministic id-spreading sort key: a golden-ratio multiplicative
    * mix ((id mod P)·A mod P with P = 2^31−1 prime, A ≈ P/φ) — a Weyl
    * sequence, so CONSECUTIVE ids land ~0.618·P apart (low-discrepancy,
    * maximally spread; a small multiplier like MINSTD's 48271 would keep
    * a whole clone family inside the smallest-key prefix). Seeding "the
    * first k by id" collapses when ids are assigned in content order (a
    * re-inflated corpus, an ingest that numbers near-duplicates
    * consecutively): the seed prefix then holds a handful of
    * near-identical directions and every downstream Lloyd refinement
    * keeps the duplicates duplicated (empty cells retain their
    * codeword), so the EFFECTIVE codebook size is the number of distinct
    * families in the prefix, not k. Ordering by this mix makes the seed
    * prefix a deterministic pseudo-random corpus sample — still
    * seed-free, still exactly replayable in portable SQL, and
    * overflow-safe for any BIGINT id ((P−1)·A < 2^63). Ties (ids ≡ mod
    * P) break on the raw id.
    */
  def spreadKey(id: Column): Column =
    pmod(pmod(id, lit(2147483647L)) * lit(1327217884L), lit(2147483647L))

  /** A deterministic pseudo-random sample of `n` rows: top-n by
    * [[spreadKey]] — a TakeOrdered at scale (never a full sort), the
    * sample every Lloyd trainer here draws its iterations over. Training
    * on a bounded sample is the 100 TB shape: k-means quality depends on
    * points-per-centroid, not corpus size, so the train scan must not
    * grow with the corpus (FAISS trains its quantizers the same way).
    */
  def spreadSample(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(spreadKey(col(idCol)), col(idCol)).limit(n)

  /** [[ivfSeedCentroids]] over the spread ordering: seeds are a
    * deterministic pseudo-random draw instead of the lowest-id prefix —
    * immune to id-clustered corpora, still SQL-replayable.
    */
  def ivfSpreadSeedCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    spreadSample(df, idCol, k)
      .select(col(idCol).as("centroid_id"),
        transform(col(vecCol), _.cast("double")).as("centroid"))

  /** IVF (inverted-file) coarse quantizer: k-means centroids trained with
    * a fixed number of Lloyd iterations as pure DataFrame aggregations —
    * deterministic AND seed-free: initial centroids are the first k
    * vectors under the [[spreadKey]] golden-ratio ordering (a
    * deterministic pseudo-random draw, immune to id-clustered corpora;
    * see [[ivfSpreadSeedCentroids]]). When `trainLimit` is set, BOTH the
    * seeds and every Lloyd iteration run over that bounded spread-sample
    * — k-means quality depends on points-per-centroid, not corpus size,
    * so the train scan must not grow with the corpus (the 100 TB shape;
    * FAISS trains its quantizers the same way). Returns the centroid
    * table (centroid_id, centroid: array<double>) as a materialized
    * local relation — the training sample's cache is released before
    * returning, so repeated builds (RecallLab sweeps, buildTrained
    * callers) leak no executor storage.
    *
    * At scale each iteration is one scan + one groupBy(centroid) shuffle;
    * k centroids broadcast to the scan.
    */
  def ivfTrain(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3, trainLimit: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cached = trainLimit.map(spreadSample(df, idCol, _).cache())
    val train = cached.getOrElse(df)
    var centroids = ivfSpreadSeedCentroids(train, idCol, vecCol, k)
    for (_ <- 0 until iters) {
      // the k-row centroid table is collected and assignment runs as the
      // kernel twin of [[assign]] (identical argmax, map-only: the
      // collected rows are exactly what the broadcast join would ship) —
      // no crossJoin materialization, no argmax shuffle, no per-iteration
      // plan nesting (each round restarts from `train`), and the id join
      // back to the vectors disappears because the vector rides along
      val local = collectCentroids(centroids)
      centroids = train
        .select(graft.functions.QuantKernelCols
            .nearestCentroid(col(vecCol), local).as("centroid_id"),
          col(vecCol))
        .select(col("centroid_id"),
          posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("centroid_id"),
          transform(col("dm"), s => s.getField("m")).as("centroid"))
    }
    // materialize the final table (k rows — sidecar scale) so the train
    // sample's cache can be released NOW rather than leaking until the
    // caller's first action (same values, bit-for-bit: collect reorders
    // nothing, and the rows were computed before unpersist)
    val local = collectCentroids(centroids)
    cached.foreach { c => c.unpersist(); () }
    local.ids.indices
      .map(i => (local.ids(i), local.vecs(i).toSeq))
      .toDF("centroid_id", "centroid")
  }

  /** Assign each vector to its nearest centroid (max cosine; deterministic
    * lowest-id tie-break). Centroids are broadcast, and the argmax is one
    * map-side-combining aggregation (max of a (sim, -id) struct) — no
    * window, so one shuffle instead of two.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centroids))
      // nanvl: a zero-norm vector or centroid yields a NaN cosine, and
      // Spark's ordering ranks NaN GREATEST — argmax would then pick the
      // degenerate centroid over every real one. Mapping NaN to -inf
      // makes "undefined similarity" lose to any real cosine, and when
      // ALL are undefined the (-id) tie-break still picks the lowest id
      // — the exact contract assignCellExpr reproduces.
      .select(col(idCol), col("centroid_id"),
        nanvl(cosine(col(vecCol), col("centroid")),
          lit(Double.NegativeInfinity)).as("sim"))
      .groupBy(col(idCol))
      .agg(max(struct(col("sim"), (-col("centroid_id")).as("neg_cid")))
        .as("best"))
      .select(col(idCol), (-col("best.neg_cid")).as("centroid_id"))

  /** IVF ANN top-k: probe the `nprobe` centroids nearest the query and
    * rank only their member lists by exact cosine. Scan cost drops from
    * O(N) to O(N * nprobe / k) once the index (assignments) is built.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, assignments: DataFrame, query: Seq[Float],
      k: Int, nprobe: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    // nanvl: Spark sorts NaN GREATEST, so a zero-norm centroid's NaN
    // cosine would win a probe slot ahead of every real cell — map
    // undefined similarity to -Inf so it always loses (the [[assign]]
    // discipline).
    val probed = centroids
      .select(col("centroid_id"),
        nanvl(cosine(col("centroid"), q), lit(Double.NegativeInfinity))
          .as("sim"))
      .orderBy(col("sim").desc, col("centroid_id")).limit(nprobe)
      .select("centroid_id")
    df.join(assignments, Seq(idCol))
      .join(broadcast(probed), Seq("centroid_id"), "left_semi")
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------------- PQ

  /** Product-quantization codebooks with the same deterministic seeding
    * discipline as [[ivfSeedCentroids]]: subspace `j`'s codebook is the
    * j-th subvector slice of the first `ksub` corpus vectors by id
    * (centroid_id = the seed's own id). Seed-free and SQL-expressible,
    * so encode + probe have an exact DuckDB oracle (sim6); a
    * Lloyd-refined per-subspace variant would train like [[ivfTrain]].
    * Returns (sub, centroid_id, centroid: array<double>), `m * ksub`
    * rows — broadcast-sized by construction.
    */
  def pqSeedCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, dims: Int, ksub: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val sd = dims / m
    df.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).as("centroid_id"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            transform(slice(col(vecCol), j * sd + 1, sd), _.cast("double"))
              .as("centroid"))): _*)).as("sc"))
      .select(col("sc.sub"), col("centroid_id"), col("sc.centroid"))
  }

  /** [[pqSeedCodebooks]] over the spread ordering (see [[spreadKey]]):
    * the ksub seed vectors are a deterministic pseudo-random corpus draw
    * instead of the lowest-id prefix, so id-clustered corpora (where
    * consecutive ids are near-duplicates) still seed ksub DISTINCT
    * directions per subspace. Still seed-free and SQL-replayable.
    */
  def pqSpreadSeedCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, dims: Int, ksub: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val sd = dims / m
    spreadSample(df, idCol, ksub)
      .select(col(idCol).as("centroid_id"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            transform(slice(col(vecCol), j * sd + 1, sd), _.cast("double"))
              .as("centroid"))): _*)).as("sc"))
      .select(col("sc.sub"), col("centroid_id"), col("sc.centroid"))
  }

  /** Lloyd-refined PQ codebooks: per subspace, k-means over the corpus'
    * subvectors — seeded from [[pqSeedCodebooks]] (deterministic,
    * seed-free) and refined with `iters` iterations as pure DataFrame
    * aggregations, ALL subspaces in the same pass (the subspace id is
    * just another grouping key, so one scan + one shuffle per iteration
    * trains all m codebooks). Deterministic like [[ivfTrain]], and like
    * it not oracle-gated: iterative means are float-order-sensitive, so
    * the refined variant is spec-tested while the seeded one carries the
    * sim6 gate.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int,
      dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sd = dims / m
    // bounded spread-sample training + spread seeding, as [[ivfTrain]]
    val cached = trainLimit.map(spreadSample(df, idCol, _).cache())
    val train = cached.getOrElse(df)
    var codebooks = pqSpreadSeedCodebooks(train, idCol, vecCol, m, dims, ksub)
    for (_ <- 0 until iters) {
      // nearest codeword per (vector, subspace) via the PQ encode
      // kernel (the same argmin over the collected m·ksub-row
      // codebooks, all m subspaces in one map-only pass) — the
      // n·m·ksub-row join materialization and its argmin shuffle
      // disappear, and each iteration's plan restarts from `train` plus
      // a LocalRelation of the collected codebooks instead of nesting
      // the previous iteration's join chain
      val local = collectCodebooks(codebooks, m)
      val assigned = train
        .select(posexplode(graft.functions.QuantKernelCols
            .pqCodes(col(vecCol), local, sd)).as(Seq("sub", "centroid_id")),
          col(vecCol))
        .select(col("sub"), col("centroid_id"),
          slice(col(vecCol), col("sub") * lit(sd) + lit(1), lit(sd)).as("v"))
      // new codeword = member mean per dimension (empty cells keep their
      // old codeword via the left join below)
      val means = assigned
        .select(col("sub"), col("centroid_id"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("centroid_id"), col("dim"))
        .agg(avg(col("x").cast("double")).as("mu"))
        .groupBy(col("sub"), col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mu")))).as("dm"))
        .select(col("sub"), col("centroid_id"),
          transform(col("dm"), s => s.getField("mu")).as("refined"))
      val prior = local.ids.indices.flatMap(j =>
        local.ids(j).indices.map(kk =>
          (j, local.ids(j)(kk), local.vecs(j)(kk).toSeq)))
        .toDF("sub", "centroid_id", "centroid")
      codebooks = prior
        .join(means, Seq("sub", "centroid_id"), "left")
        .select(col("sub"), col("centroid_id"),
          coalesce(col("refined"), col("centroid")).as("centroid"))
    }
    // materialize (m·ksub rows — sidecar scale) and release the train
    // sample's cache before returning, as [[ivfTrain]]
    val local = collectCodebooks(codebooks, m)
    cached.foreach { c => c.unpersist(); () }
    local.ids.indices.flatMap(j => local.ids(j).indices.map(kk =>
        (j, local.ids(j)(kk), local.vecs(j)(kk).toSeq)))
      .toDF("sub", "centroid_id", "centroid")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * exact; each subspace's `ksub` distances are tabulated once
    * ((|c|² − 2·q_j·c) + |q_j|², the true squared L2 to the centroid)
    * and every corpus vector's approximate distance is the sum of its
    * `m` table lookups — the probe scans CODES (m longs per vector),
    * never the original embeddings. The per-subspace lookups come back
    * as `m` pivoted agg columns summed in fixed subspace order, so the
    * double arithmetic is order-deterministic and oracle-matchable
    * (a groupBy sum over the m rows would add in arrival order).
    */
  def pqTopK(codes: DataFrame, codebooks: DataFrame, query: Seq[Float],
      m: Int, k: Int, idCol: String = "vec_id"): DataFrame =
    // float→double literal is exact and VecDot widens every element to
    // double before multiplying, so delegating is bit-identical
    pqTopKD(codes, codebooks, query.map(_.toDouble), m, k, idCol)

  /** [[pqTopK]] over a double-precision query — the form rotated-space
    * probes use ([[rotateVec]] emits doubles; truncating them to float
    * would desync the probe from the double-arithmetic oracle).
    */
  def pqTopKD(codes: DataFrame, codebooks: DataFrame, query: Seq[Double],
      m: Int, k: Int, idCol: String = "vec_id"): DataFrame = {
    val dims = query.length
    require(dims % m == 0,
      s"query has $dims dims, not divisible into $m subspaces — wrong " +
        "query length for this index")
    val sd = dims / m
    // distance table: per (sub, centroid) the exact squared L2 to the
    // query's subvector, built from the broadcast codebooks
    val dj = (0 until m).reverse.foldLeft(lit(Double.NaN)) { (acc, j) =>
      val qj = array(query.slice(j * sd, j * sd + sd).map(lit): _*)
      when(col("sub") === j,
        (dot(col("centroid"), col("centroid"))
          - lit(2.0) * dot(qj, col("centroid")))
          + dot(qj, qj))
        .otherwise(acc)
    }
    val dt = codebooks.select(col("sub"), col("centroid_id").as("code"),
      dj.as("dj"))
    val perSub = codes
      .join(broadcast(dt), Seq("sub", "code"))
      .groupBy(col(idCol))
      .agg(max(when(col("sub") === 0, col("dj"))).as("d0"),
        (1 until m).map(j =>
          max(when(col("sub") === j, col("dj"))).as(s"d$j")): _*)
    perSub
      // a vector with a code the codebooks don't cover (mismatched index
      // tables) would get a null subspace distance, and a null adist
      // sorts FIRST — exclude it rather than top the ranking with garbage
      .where((0 until m).map(j => col(s"d$j").isNotNull).reduce(_ && _))
      .select(col(idCol),
        (0 until m).map(j => col(s"d$j"))
          .reduce(_ + _).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  /** Cluster-balanced corpus draw — the topic-balance curation stage:
    * assign every document's embedding to its nearest centroid (the IVF
    * [[assign]] argmax — broadcast centroids, one max-of-struct
    * shuffle), then take an equal per-cluster quota in deterministic
    * hash order ([[TextAnalysis.stratifiedSample]] keyed on the
    * cluster id). Balances a training draw across embedding-space
    * topics instead of letting the head topic crowd out the tail — the
    * cluster-level twin of per-source mixture sampling. With seeded
    * centroids the whole chain is exactly SQL-replayable.
    */
  def clusterBalancedSample(docs: DataFrame, docIdCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String,
      centroids: DataFrame, quota: Int): DataFrame = {
    val assigned = assign(emb, vecIdCol, vecCol, centroids)
      .select(col(vecIdCol).as(docIdCol), col("centroid_id"))
    TextAnalysis.stratifiedSample(
      docs.join(assigned, Seq(docIdCol)), docIdCol, "centroid_id", quota)
  }

  // ------------------------------------------ scalar quantization (SQ8)

  /** Per-dimension (min, max) of the corpus — the training pass of SQ8
    * scalar quantization. One posexplode scan + one `dims`-row shuffle
    * (sketch-sized output: 64 rows at dims = 64, regardless of corpus
    * size); the result is an index sidecar collected driver-side and
    * embedded as literals, the same discipline as the IVF centroid and
    * PQ codebook tables. min/max are order-independent exact aggregates,
    * so the quantizer is bit-reproducible in portable SQL.
    */
  def sqParams(df: DataFrame, vecCol: String,
      dims: Int): (Array[Double], Array[Double]) = {
    val mn = new Array[Double](dims)
    val mx = new Array[Double](dims)
    val rows = df.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect() // dims rows — index-sidecar scale
    // a dim the data never produced would keep the (0, 0) array default
    // and the persisted index would score phantom zero-range dims — fail
    // fast on a dims/corpus mismatch instead. (posexplode dims are a
    // union of 0-based prefixes, so observed dims are always contiguous
    // from 0: the row count alone detects short, empty, AND over-long
    // vectors.)
    require(rows.length == dims,
      s"sqParams saw ${rows.length} dims in the data, expected $dims — " +
        "wrong dims for this corpus (vectors shorter or longer than " +
        s"$dims)")
    rows.foreach { r =>
      val d = r.getInt(0)
      // a dimension whose every value is NULL aggregates to null min/max;
      // surface the same descriptive shape as the dims mismatch instead
      // of a bare NullPointerException from getDouble
      require(!r.isNullAt(1) && !r.isNullAt(2),
        s"sqParams: dimension $d holds only NULL values — the corpus " +
          s"cannot train a $dims-dim scalar quantizer")
      mn(d) = r.getDouble(1)
      mx(d) = r.getDouble(2)
    }
    (mn, mx)
  }

  /** SQ8 encode: each dimension affinely mapped to an int8 code —
    * code_d = round((v_d − mn_d) · (255 / (mx_d − mn_d))), clamped to
    * [0, 255] (constant dimensions get scale 0 → code 0). Map-only
    * (no shuffle); codes are 1 byte of information per dimension vs the
    * raw float's 4 — the middle storage point of the quantized family
    * (raw 4 B/dim, SQ 1 B/dim, PQ ~m/dims B/dim). Every arithmetic step
    * is a fixed IEEE sequence, so encoding is exactly replayable in SQL.
    */
  def sqEncode(df: DataFrame, idCol: String, vecCol: String,
      mn: Array[Double], mx: Array[Double]): DataFrame = {
    val scale = mn.indices.map { d =>
      if (mx(d) == mn(d)) 0.0 else 255.0 / (mx(d) - mn(d))
    }
    val mnA = array(mn.map(lit).toSeq: _*)
    val scA = array(scale.map(lit): _*)
    df.select(col(idCol),
      transform(col(vecCol), (x, i) =>
        least(lit(255), greatest(lit(0),
          round((x.cast("double") - element_at(mnA, i + 1)) *
            element_at(scA, i + 1)).cast("int")))).as("codes"))
  }

  /** SQ8 asymmetric probe: squared L2 between the exact query and the
    * DECODED codes (v̂_d = mn_d + code_d · ((mx_d − mn_d) / 255)),
    * accumulated left-to-right — a single scan over the code table plus
    * a local top-k (TakeOrdered; no shuffle join, no corpus-vector
    * read). Dequantization error is bounded per dimension by half a
    * quantization step, so ranking quality degrades gracefully; the
    * arithmetic is a fixed IEEE op sequence with an exact SQL oracle.
    */
  def sqTopK(codes: DataFrame, mn: Array[Double], mx: Array[Double],
      query: Seq[Float], k: Int, idCol: String = "vec_id"): DataFrame = {
    require(query.length == mn.length,
      s"query has ${query.length} dims, index has ${mn.length}")
    val inv = mn.indices.map { d =>
      if (mx(d) == mn(d)) 0.0 else (mx(d) - mn(d)) / 255.0
    }
    val mnA = array(mn.map(lit).toSeq: _*)
    val invA = array(inv.map(lit): _*)
    val qA = array(query.map(x => lit(x.toDouble)): _*)
    val dist = aggregate(
      transform(col("codes"), (c, i) => {
        val vhat = element_at(mnA, i + 1) +
          c.cast("double") * element_at(invA, i + 1)
        val dlt = element_at(qA, i + 1) - vhat
        dlt * dlt
      }),
      lit(0.0), (acc, x) => acc + x)
    codes.select(col(idCol), dist.as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  // ------------------------------------------------ rotated PQ (OPQ-lite)

  /** Seeded Householder reflection vectors for [[rotateExpr]] — the
    * deterministic stand-in for OPQ's learned rotation (Ge et al. 2013):
    * u_k[d] = [[plane]](seedBase + k, d), the same integer mix the LSH
    * hyperplanes use (offset so the families never collide), so the SQL
    * oracle can regenerate every component arithmetically instead of
    * pasting float literals.
    */
  def householderUs(nRefl: Int, dims: Int,
      seedBase: Int = 1000): Seq[Array[Double]] =
    (0 until nRefl).map(k => Array.tabulate(dims)(d => plane(seedBase + k, d)))

  /** Orthogonal pre-rotation as a column expression: each Householder
    * step maps v → v − u·(2(u·v)/(u·u)). Reflections are isometric, so
    * L2 distances — and therefore PQ's ADC ranking in the ksub = N
    * exactness limit — are preserved exactly (SimilaritySpec pins both),
    * while the mixing de-correlates dimensions ACROSS subspace
    * boundaries before the per-subspace quantizers cut them apart —
    * OPQ's motivation, minus the data-dependent training that would
    * break bit-stable oracle checks. Every fold accumulates in index
    * order; [[rotateVec]] is the driver-side twin for query vectors.
    *
    * COST WARNING — this single-expression form re-evaluates the scalar
    * `s` inside the zip_with lambda once per ELEMENT, and each step's
    * input tree nests into the next, so evaluation is O(dims³) per row
    * per reference (the Spark twin of the DuckDB inlined-CTE blowup the
    * sim8 oracle materializes its way around). Fine for a handful of
    * rows in a spec; on a corpus use [[rotated]], which hoists `s` and
    * puts a plan barrier between steps.
    */
  def rotateExpr(vec: Column, us: Seq[Array[Double]]): Column = {
    val vd = transform(vec, _.cast("double"))
    us.foldLeft(vd) { (v, u) =>
      val lu = array(u.map(lit): _*)
      val uu = u.foldLeft(0.0)((acc, x) => acc + x * x)
      val s = (lit(2.0) * dot(v, lu)) / lit(uu)
      zip_with(v, lu, (a, b) => a - b * s)
    }
  }

  /** Corpus-scale [[rotateExpr]]: bit-identical values (same dot, same
    * per-element `a − b·s`, same step order), linear cost. Each
    * Householder step hoists `s = 2(u·v)/(u·u)` into its own projection
    * and crosses a [[org.apache.spark.sql.graftbridge.PlanBridge]]
    * barrier before the per-element update, so (a) the zip_with lambda
    * reads `s` as a row attribute instead of re-deriving the dot per
    * element, and (b) CollapseProject can never fuse the steps back into
    * the nested O(dims³) tree. The barrier is an RDD leaf — recompute-
    * correct, no persist to leak — and downstream multi-references
    * (the PQ encoder's m slices) re-read a computed array, not the fold.
    */
  def rotated(df: DataFrame, vecCol: String, us: Seq[Array[Double]])
      : DataFrame = {
    val start = df.withColumn(vecCol, transform(col(vecCol), _.cast("double")))
    us.foldLeft(start) { (cur, u) =>
      val lu = array(u.map(lit): _*)
      val uu = u.foldLeft(0.0)((acc, x) => acc + x * x)
      val withS = cur.withColumn("__rot_s",
        (lit(2.0) * dot(col(vecCol), lu)) / lit(uu))
      org.apache.spark.sql.graftbridge.PlanBridge.truncated(withS)
        .withColumn(vecCol,
          zip_with(col(vecCol), lu, (a, b) => a - b * col("__rot_s")))
        .drop("__rot_s")
    }
  }

  /** Driver-side [[rotateExpr]] twin (identical IEEE op order) for
    * rotating a literal query vector before a rotated-space probe.
    */
  def rotateVec(q: Seq[Double], us: Seq[Array[Double]]): Seq[Double] =
    us.foldLeft(q.toArray) { (v, u) =>
      var duv = 0.0
      var uu = 0.0
      var i = 0
      while (i < v.length) {
        duv += v(i) * u(i); uu += u(i) * u(i); i += 1
      }
      val s = (2.0 * duv) / uu
      Array.tabulate(v.length)(j => v(j) - u(j) * s)
    }.toSeq

  /** Multi-probe ANN top-k: probe the query's LSH bucket plus every
    * 1-bit-flip neighbor bucket (bits+1 probes) — recovers most of the
    * recall lost to near-boundary hyperplane flips for ~(bits+1)/2^bits
    * of the corpus scanned.
    */
  def lshTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], bits: Int, k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val qSig = lshSignatureLocal(query, bits)
    val probes = qSig +: (0 until bits).map(i => qSig ^ (1L << i))
    lshBuckets(df, idCol, vecCol, bits, query.length)
      .where(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs near-neighbors above a cosine threshold via LSH bucketing:
    * self-join within buckets only (shuffle on bucket id), then exact
    * cosine verification.
    */
  def lshNearPairs(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, dims: Int, threshold: Double): DataFrame = {
    // hoist per-vector norms out of the pair loop (identical IEEE values:
    // cos = dot/(sqrt(na)*sqrt(nb)) either way)
    val b = lshBuckets(df, idCol, vecCol, bits, dims)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("bucket"),
        norm(col(vecCol)).as("nrm"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hoistedCosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
          .as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact all-pairs near neighbors above a cosine threshold (brute-force
    * baseline for embedding near-dup): id-ordered self-join with hoisted
    * norms. O(N²) pairs but each pair is one codegen'd dot product.
    */
  def exactNearPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // spread: the O(N^2) pair pass parallelizes by the STREAM side's
    // partition count, and a small corpus reads as one split
    val e = graft.ops.Dedup.spread(df.select(col(idCol).as("id"),
      col(vecCol).as("v"), norm(col(vecCol)).as("nrm")))
    e.as("x").join(e.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hoistedCosine(col("x.v"), col("y.v"), col("x.nrm"), col("y.nrm"))
          .as("cos"))
      .where(col("cos") >= threshold)
  }

  /** [[cosine]] with pre-computed norms (hoisted out of a pair loop;
    * identical IEEE values) — same explicit-NaN discipline: a zero-norm
    * side yields NaN, which `>= threshold` rejects. (Double division is
    * IEEE even under ANSI mode; the guard documents intent, it does not
    * avert any job abort.)
    */
  private def hoistedCosine(va: Column, vb: Column, na: Column,
      nb: Column): Column = {
    val np = na * nb
    when(np === 0.0, lit(Double.NaN)).otherwise(dot(va, vb) / np)
  }

  // ------------------------------------------------------- rerank & dedup

  /** Exact re-rank of an ANN shortlist — the refinement step every
    * production ANN deployment runs after a quantized probe: the
    * approximate stage (PQ/IVF-PQ ADC, an LSH bucket, ...) cuts the
    * corpus to a shortlist of `k·r` candidate ids, then the TRUE metric
    * is computed against the raw vectors of those candidates only and
    * the final top-k is taken on it. Quantization error can reorder
    * near-ties or drop a true neighbor just outside the code resolution;
    * reranking restores exactness within the shortlist at the cost of
    * touching `|shortlist|` full vectors instead of zero.
    *
    * Scale shape: the shortlist is k·r rows (tens), so it broadcasts and
    * the raw-vector fetch is a broadcast semi-join that prunes the
    * corpus scan — the full-precision vectors are read for shortlist
    * members only, never shuffled corpus-wide, and the final top-k is a
    * TakeOrderedAndProject. NaN discipline as [[bruteForceTopK]]: an
    * undefined cosine ranks below every real one via nanvl(-Inf).
    */
  def rerankTopK(shortlist: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    corpus
      .join(broadcast(shortlist.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol),
        nanvl(cosine(col(vecCol), q), lit(Double.NegativeInfinity))
          .as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: for EACH anchor in
    * `anchors` (id, vector, label), the `k` corpus vectors most
    * cosine-similar to it whose label DIFFERS — the similar-but-wrong
    * examples a retrieval/embedding trainer wants next to each positive.
    *
    * This is the BATCHED ANN problem (many anchors at once), so the
    * probe is shaped around the IVF index instead of per-anchor scans:
    * each anchor ranks the (broadcast-sized) centroid table for its
    * `nprobe` cells, and the corpus is hit with ONE equi-join on
    * centroid_id — anchors × corpus never becomes a cross product; the
    * quadratic term is confined to probed cells exactly as in
    * [[ivfTopK]], and each (anchor, vector) pair appears at most once
    * because a vector lives in one cell. Per-anchor top-k is a rank
    * window partitioned by anchor — one shuffle on the anchor key.
    * Anchors exclude themselves for free (their own label matches).
    *
    * NaN discipline as everywhere in this file: undefined cosines map to
    * -Inf so degenerate vectors never win a slot.
    *
    * Returns (anchor_id, `idCol`, cos, rnk) with rnk 1..k ordered
    * (cos DESC, id ASC).
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, centroids: DataFrame, assignments: DataFrame,
      anchors: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("anchor_vec"), col(labelCol).as("anchor_label"))
    // per-anchor probe cells: anchors × broadcast centroids, rank nprobe
    val wProbe = Window.partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("centroid_id"))
    val probes = a.crossJoin(broadcast(centroids))
      .select(col("anchor_id"), col("anchor_vec"), col("anchor_label"),
        col("centroid_id"),
        nanvl(cosine(col("anchor_vec"), col("centroid")),
          lit(Double.NegativeInfinity)).as("sim"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nprobe)
      .drop("rn", "sim")
    val wTop = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col(idCol))
    df.join(assignments, Seq(idCol))
      .join(broadcast(probes), Seq("centroid_id"))
      .where(col(labelCol) =!= col("anchor_label"))
      .select(col("anchor_id"), col(idCol),
        nanvl(cosine(col(vecCol), col("anchor_vec")),
          lit(Double.NegativeInfinity)).as("cos"))
      .withColumn("rnk", row_number().over(wTop))
      .where(col("rnk") <= k)
      .select(col("anchor_id"), col(idCol), col("cos"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Embedding-space semantic dedup (the SemDeDup shape): coarse k-means
    * cells localize the near-duplicate search, then WITHIN each cell a
    * doc is dropped iff some lower-id doc in the same cell is closer
    * than `threshold` cosine. The keep rule is the deterministic
    * first-writer-wins policy: earlier ids (≈ earlier ingest) win, and a
    * doc similar to ANY earlier in-cell doc is dropped whether or not
    * that earlier doc itself survived — an over-drop-safe variant of
    * greedy leader clustering whose sequential scan cannot be expressed
    * as one relational pass. Returns kept (`idCol`, centroid_id).
    *
    * This is the embedding twin of [[graft.ops.Dedup.dupClusters]]'
    * lexical pipeline: MinHash sees shared n-grams, cosine sees shared
    * MEANING (translations, paraphrases, templated rewrites that share
    * no shingles).
    *
    * Scale shape: pairs never leave their cell (the self-join keys on
    * centroid_id — at corpus scale each cell is ~N/k docs, and the
    * quadratic term is confined to cells instead of the corpus), norms
    * hoist out of the pair loop, and the final keep-set is one left-anti
    * join against the dropped ids. Cell count k is the knob trading
    * cross-cell recall for in-cell pair cost — exactly the IVF posture;
    * size it with [[semDedupCellCount]] (k ≈ √N keeps the total in-cell
    * compare count linear in N), not a constant — the dd17b (fixed k)
    * vs dd17c (√N) BenchScale pair measures exactly that trade.
    */
  /** Production cell count for [[semDedup]]: k ≈ √n (clamped to
    * [64, 65536]) bounds the expected in-cell compare count at
    * k · (n/k)² = n²/k = n^1.5 — sub-quadratic, vs the n²/64 a fixed k
    * degrades to (SemDeDup itself sizes k with the corpus for the same
    * reason; constant-cell-size k = n/c is the fully-linear endpoint,
    * bought with a centroid table that outgrows a broadcast). Training
    * cost is unaffected (the Lloyd sample is bounded separately); the
    * sidecar stays a broadcastable k-row table through the clamp range.
    */
  def semDedupCellCount(n: Long): Int =
    math.min(65536L, math.max(64L, math.round(math.sqrt(n.toDouble)))).toInt

  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double, probes: Int = 1,
      maxCellRows: Option[Int] = None): DataFrame = {
    require(probes >= 1, s"need at least one probe cell, got $probes")
    require(maxCellRows.forall(_ >= 2),
      s"maxCellRows must be >= 2, got $maxCellRows")
    // cells come from the map-only argmax kernel ([[assignFast]],
    // bit-identical to the relational [[assign]], spec-pinned)
    val local = collectCentroids(centroids)
    // probes > 1: the pair scan runs over each vector's `probes` nearest
    // cells instead of only the argmax cell, so a clone family straddling
    // a Lloyd boundary (the measured ×30 one_kept_frac dip: two
    // sub-families in adjacent cells never meet) still meets in SOME
    // shared host cell. The kept rows keep the PRIMARY (argmax) cell —
    // output schema and keep rule are unchanged, only the candidate
    // generation widens (×probes join input; pairs seen through two
    // shared cells dedup in the DISTINCT below). probes=1 keeps the
    // exact dd17-gated plan.
    // persisted: sides feeds the pair scan TWICE (both join sides) plus
    // — under the cell guard — the bucket-count aggregate; uncached, one
    // action re-ran the cell assignment 4× (measured r17: dd17e was the
    // most expensive untouched query)
    val sides = graft.ops.Dedup.trackExisting((
      if (probes == 1)
        // the whole pair-scan input is ONE projection: kernel argmax
        // inline, no crossJoin, no join-back of the vectors
        df.select(col(idCol).as("id"),
          graft.functions.QuantKernelCols
            .nearestCentroid(col(vecCol), local).as("centroid_id"),
          col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      else
        df.select(col(idCol).as("id"), col(vecCol).as("v"),
            norm(col(vecCol)).as("nrm"),
            explode(graft.functions.QuantKernelCols
              .nearestCentroids(col(vecCol), local, probes))
              .as("centroid_id"))
          .select(col("id"), col("centroid_id"), col("v"), col("nrm"))
      ).persist())
    val dropped = (maxCellRows match {
      case None =>
        sides.as("a").join(sides.as("b"),
            col("a.centroid_id") === col("b.centroid_id")
              && col("a.id") < col("b.id"))
          .where(hoistedCosine(col("a.v"), col("b.v"),
            col("a.nrm"), col("b.nrm")) >= threshold)
          .select(col("b.id").as(idCol))
      case Some(bound) =>
        // WORST-CASE CELL GUARD — bounded per-task rows under any skew:
        // √n sizing bounds the EXPECTED in-cell compare count, but a
        // degenerate corpus (a near-constant embedding column drops most
        // vectors into one Lloyd cell) would put the whole cell — and
        // its all-pairs scan — on ONE task. The guard is the triangle-
        // join decomposition: a cell of s rows splits into
        // nb = ceil(s / bound) hash buckets, every unordered bucket pair
        // (u ≤ v) becomes its own join group (left emits its row to
        // (bkt..nb-1) as v, right to (0..bkt) as u), so no task ever
        // holds more than ~2·bound rows while EVERY cross-bucket pair is
        // still compared exactly once — the keep rule is unchanged, only
        // the work layout (SimilaritySpec pins keep-set equality on both
        // the dd17 fixture and a 90%-degenerate corpus). Replication is
        // nb+1 copies per mega-cell row — the price of de-skewing an
        // inherently quadratic cell; ordinary cells have nb = 1 and pay
        // one extra broadcast join. Pairs dedup through the DISTINCT:
        // same-bucket pairs meet in both orientations, so the drop id is
        // greatest(a, b) under an a ≠ b guard rather than a < b.
        val nbT = semDedupCellBuckets(
          sides.select(col("id"), col("centroid_id")), bound)
        val bucketed = sides.join(broadcast(nbT), Seq("centroid_id"))
          .withColumn("bkt",
            pmod(spreadKey(col("id")), col("nb")).cast("int"))
        val lhs = bucketed.withColumn("pv",
          explode(sequence(col("bkt"), col("nb") - 1)))
        val rhs = bucketed.withColumn("pu",
          explode(sequence(lit(0), col("bkt"))))
        // same-bucket groups (u = v) meet in BOTH orientations, so the
        // strict a < b keeps the old single evaluation per unordered
        // pair — with nb = 1 everywhere this is EXACTLY the unguarded
        // join's predicate work; cross-bucket groups meet once in an
        // arbitrary orientation, so they take the orientation-free form.
        //
        // LAYOUT MUST BE PINNED, NOT LEFT TO AQE: the exploded sides are
        // small in BYTES (per-row vectors, ~10⁵ rows) but quadratic in
        // JOIN WORK (each (cell, u, v) group is a bound² pair scan).
        // AQE's byte-based coalescing saw a sub-advisory-size input and
        // collapsed the probe side to ONE partition — at ×100 the whole
        // 1.6×10¹⁰-pair mega-cell scan ran on a single core (measured:
        // one 20-min-plus task, 31 cores idle). Explicit-count
        // repartition by the group key pins one-exchange parallel
        // layout (REPARTITION_BY_NUM is exempt from AQE coalescing),
        // and the merge hint stops the size-misestimated broadcast of
        // the other exploded side — group sizes are ≤ ~2·bound by
        // construction, so the SMJ's per-key buffer is bounded too.
        val np = sides.sparkSession.sessionState.conf.numShufflePartitions
        val lhsP = lhs.repartition(np,
          col("centroid_id"), col("bkt"), col("pv"))
        val rhsP = rhs.repartition(np,
          col("centroid_id"), col("pu"), col("bkt"))
        lhsP.as("a").hint("merge").join(rhsP.as("b"),
            col("a.centroid_id") === col("b.centroid_id")
              && col("a.bkt") === col("b.pu") && col("a.pv") === col("b.bkt")
              && (when(col("a.bkt") === col("b.bkt"),
                   col("a.id") < col("b.id"))
                 .otherwise(col("a.id") =!= col("b.id"))))
          .where(hoistedCosine(col("a.v"), col("b.v"),
            col("a.nrm"), col("b.nrm")) >= threshold)
          .select(greatest(col("a.id"), col("b.id")).as(idCol))
    }).distinct()
    // probes == 1: sides IS the cell assignment plus the norm column —
    // derive the kept set from the cached frame. probes > 1 re-assigns
    // (sides is exploded per probe cell; the output keeps the PRIMARY
    // argmax cell).
    val kept =
      if (probes == 1) sides.select(col("id").as(idCol), col("centroid_id"))
      else assignFast(df, idCol, vecCol, centroids)
    kept.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid_id"))
  }

  /** The scale-safe SemDeDup DEFAULT entry point — the composition
    * BenchScale's production cases assemble by hand, packaged so a
    * library user cannot accidentally run the unguarded single-probe
    * caller-sized-cell form at corpus scale: √n cell count
    * ([[semDedupCellCount]]), spread-sampled Lloyd centroids with a
    * bounded training sample, kernel (map-only) cell assignment,
    * probes = 2 (boundary-straddling clone families still meet in a
    * shared host cell) and the triangle-bucketed worst-case cell guard
    * ([[semDedup]]'s `maxCellRows`) armed by default. Returns kept
    * (`idCol`, centroid_id) exactly like [[semDedup]] — SimilaritySpec
    * pins equality against the hand-assembled form on both the healthy
    * and the 90%-degenerate fixtures.
    *
    * The one eager job is a column-pruned count of `df` for the √n cell
    * sizing — derived from the input frame directly (never from a
    * cached/tracked derivative, the cache-materialization planner trap).
    */
  def semDedupAtScale(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, probes: Int = 2, maxCellRows: Int = 8192,
      trainIters: Int = 2): DataFrame = {
    val n = df.select(col(idCol)).count()
    val k = semDedupCellCount(n)
    val centroids = ivfTrain(df, idCol, vecCol, k, iters = trainIters,
      trainLimit = Some(math.max(8192, 32 * k)))
    semDedup(df, idCol, vecCol, centroids, threshold, probes = probes,
      maxCellRows = Some(maxCellRows))
  }

  /** Per-cell bucket counts for [[semDedup]]'s worst-case guard:
    * (centroid_id, cnt, nb = ceil(cnt / bound)) over the pair-scan input
    * — k rows, broadcastable. Exposed so callers (the BenchScale skew
    * case) can record how many cells the guard actually split.
    */
  private[graft] def semDedupCellBuckets(sides: DataFrame,
      bound: Int): DataFrame =
    sides.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("centroid_id"), col("cnt"),
        ceil(col("cnt") / lit(bound.toDouble)).cast("int").as("nb"))

  /** The guard's split census on a corpus: (n_cells, n_split, max_nb)
    * for the given centroids/probes/bound — what a production run logs
    * next to the kept count.
    */
  def semDedupSplitStats(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, bound: Int, probes: Int = 1)
      : (Long, Long, Int) = {
    val sides =
      if (probes == 1)
        assignFast(df, idCol, vecCol, centroids)
          .select(col(idCol).as("id"), col("centroid_id"))
      else {
        val local = collectCentroids(centroids)
        df.select(col(idCol).as("id"),
          explode(graft.functions.QuantKernelCols
            .nearestCentroids(col(vecCol), local, probes))
            .as("centroid_id"))
      }
    // coalesce the sum/max: on an EMPTY corpus the agg row is
    // (count = 0, sum = null, max = null) and the bare getters would NPE
    val r = semDedupCellBuckets(sides, bound)
      .agg(count(lit(1)),
        coalesce(sum(when(col("nb") > 1, 1L).otherwise(0L)), lit(0L)),
        coalesce(max(col("nb")), lit(0))).head()
    (r.getLong(0), r.getLong(1), r.getInt(2))
  }

  /** Streaming admission against a FROZEN semantic-dedup kept set: an
    * arriving document is admitted iff no kept representative in its
    * cell sits at cosine ≥ `threshold`. The quantization kernel keeps the
    * cell assignment a stateless projection (collected centroids in the
    * expression — [[assignCellExpr]]'s literal tree is the SQL-shaped
    * reference but blows plan compilation at production kc·dims;
    * bit-identical to the batch argmax) and the kept set — `kept` must
    * carry (centroid_id, `keptVecCol`) — joins stream-static LEFT-ANTI:
    * append-legal with zero state, the embedding twin of the MinHash
    * index probe's admission path. Intra-batch mutual near-dups are
    * deliberately NOT compared: admission is against the frozen set
    * only; merging duplicates WITHIN a batch is the batch [[semDedup]] /
    * DupClusterIndex-maintenance shape. Drop arithmetic (plain cosine
    * comparison) matches [[semDedup]] exactly, so a batch replay of the
    * same rows admits the identical set.
    *
    * Scale shape: the kept-rep table is the post-dedup representative
    * set keyed by cell — the equi-join on cell localizes comparisons to
    * ~|kept|/k reps per row, and nothing corpus-sized shuffles.
    *
    * `probes` > 1 widens admission to the arrival's `probes` nearest
    * cells with the kept reps re-hosted in THEIR `probes` nearest cells
    * — the stream twin of [[semDedup]]'s multi-probe pair scan, so a
    * boundary-straddling arrival is rejected exactly where the batch
    * path would drop it (probes = 1 admitted it: the rep's primary cell
    * isn't the arrival's argmax cell). StreamingSpec pins stream == batch
    * on that fixture.
    */
  def semDedupAdmitStream(docs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Long, Array[Double])], kept: DataFrame,
      keptVecCol: String, threshold: Double, probes: Int = 1): DataFrame = {
    require(centroids.nonEmpty, "empty centroid table")
    require(probes >= 1, s"need at least one probe cell, got $probes")
    val sorted = centroids.sortBy(_._1)
    val local = new graft.functions.CentroidsLocal(
      sorted.map(_._1), sorted.map(_._2))
    if (probes == 1) {
      val assigned = docs.withColumn("__cell",
        graft.functions.QuantKernelCols.nearestCentroid(col(vecCol), local))
      val reps = kept.select(col("centroid_id").as("__k_cell"),
        col(keptVecCol).as("__k_vec"))
      assigned.join(reps,
          col("__cell") === col("__k_cell") &&
            cosine(col(vecCol), col("__k_vec")) >= threshold,
          "left_anti")
        .withColumnRenamed("__cell", "centroid_id")
    } else {
      // Multi-probe admission — batch-parity with [[semDedup]](probes):
      // the arrival carries its `probes` nearest cells, and the kept
      // reps are RE-HOSTED in their own `probes` nearest cells
      // (recomputed from the vector; position 0 is exactly the
      // centroid_id the batch keep emitted), so a (rep, arrival) pair
      // is compared iff their probe sets intersect — the identical
      // meet rule to the batch pair scan. One chained equi anti-join
      // per probe position keeps the plan stateless and append-legal:
      // exploding the STREAM side instead would need a "survived all
      // probes" re-aggregation that append mode cannot run, and a
      // single array_contains join would lose the equi key (nested-
      // loop at scale). A pair sharing two host cells just matches
      // twice inside one anti-join — anti-joins absorb multiplicity.
      val assigned = docs.withColumn("__cells",
        graft.functions.QuantKernelCols
          .nearestCentroids(col(vecCol), local, probes))
      val reps = kept.select(col(keptVecCol).as("__k_vec"),
        explode(graft.functions.QuantKernelCols
          .nearestCentroids(col(keptVecCol), local, probes)).as("__k_cell"))
      val admitted = (0 until probes).foldLeft(assigned) { (cur, p) =>
        // get() not element_at(): a kc < probes centroid table yields a
        // short probe array, and under ANSI element_at would throw where
        // the batch path just has fewer host cells (null never equi-matches)
        cur.join(reps,
          get(col("__cells"), lit(p)) === col("__k_cell") &&
            cosine(col(vecCol), col("__k_vec")) >= threshold,
          "left_anti")
      }
      admitted
        .withColumn("centroid_id", get(col("__cells"), lit(0)))
        .drop("__cells")
    }
  }

  // -------------------------------------------------- streaming assignment

  private def litVec(v: Array[Double]): Column = array(v.map(lit): _*)

  /** STATELESS argmax-cosine cell assignment: the (tiny, static) centroid
    * table is embedded as literals and each row's best cell is a pure
    * projection — `array_min` over (−cos, centroid_id) structs, which
    * reproduces [[assign]]'s (max sim, min id tie-break) exactly. No
    * groupBy, no state store: legal in a streaming append projection,
    * which the groupBy-argmax in [[assign]] is not.
    *
    * NaN parity with [[assign]]: a NaN cosine (zero-norm vector or
    * centroid) negates to NaN, which array_min ranks GREATEST — so here
    * the degenerate centroid naturally loses, while the batch argmax
    * would have RANKED it first. Both sides therefore map NaN away from
    * winning (+inf here, -inf there); when every cosine is undefined the
    * struct tie-break picks the lowest centroid id on both sides.
    */
  def assignCellExpr(vec: Column,
      centroids: Array[(Long, Array[Double])]): Column = {
    require(centroids.nonEmpty, "empty centroid table")
    val scored = array(centroids.map { case (cid, cv) =>
      struct((lit(0.0) - nanvl(cosine(vec, litVec(cv)),
        lit(Double.NegativeInfinity))).as("neg_sim"),
        lit(cid).as("centroid_id"))
    }: _*)
    array_min(scored).getField("centroid_id")
  }

  /** STATELESS per-subspace PQ code: subspace j's (static) codebook is
    * embedded as literals and the argmin of |c|² − 2·v_j·c is an
    * `array_min` over (score, code_id) structs — identical arithmetic
    * and tie-break to [[pqEncodeFast]], with no aggregation. Returns the m
    * code columns in subspace order.
    */
  def pqCodeExprs(vec: Column,
      codebooks: Array[(Int, Long, Array[Double])], m: Int,
      dims: Int): Seq[Column] = {
    val sd = dims / m
    (0 until m).map { j =>
      val vj = slice(vec, j * sd + 1, sd)
      val entries = codebooks.filter(_._1 == j).sortBy(_._2)
      require(entries.nonEmpty, s"no codebook entries for subspace $j")
      val scored = array(entries.map { case (_, cid, cw) =>
        struct((dot(litVec(cw), litVec(cw))
          - lit(2.0) * dot(vj, litVec(cw))).as("score"),
          lit(cid).as("code"))
      }: _*)
      array_min(scored).getField("code")
    }
  }

  // --------------------------------------------------------------- IVF-PQ

  /** Element-wise residual `v − centroid` in double precision. */
  private def residual(vec: Column, centroid: Column): Column =
    zip_with(vec, centroid, (x, c) => x.cast("double") - c)

  /** Residuals vs each vector's assigned coarse centroid:
    * (id, centroid_id, resid: array<double>). The composed IVF-PQ
    * quantizes THESE, not the raw vectors — residual magnitudes are a
    * fraction of vector magnitudes, so the same code budget buys a much
    * finer quantization (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", IEEE TPAMI 2011, §IV: IVFADC).
    */
  def ivfResiduals(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, assignments: DataFrame): DataFrame =
    df.join(assignments, Seq(idCol))
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        residual(col(vecCol), col("centroid")).as("resid"))

  /** Per-CELL seeded PQ codebooks over residuals: cell c's subspace-j
    * codebook is the j-th residual slice of the first `ksub` vectors
    * assigned to c, by id (code_id = the seed's own id) — the same
    * deterministic seed-free discipline as [[pqSeedCodebooks]], so the
    * whole composed index is SQL-expressible and exactly oracle-able.
    * Returns (centroid_id, sub, code_id, codeword: array<double>),
    * ≤ `kc * m * ksub` rows — broadcast-sized.
    */
  def ivfPqSeedCodebooks(residuals: DataFrame, idCol: String, m: Int,
      dims: Int, ksub: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val sd = dims / m
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("centroid_id")).orderBy(col(idCol))
    residuals
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= ksub)
      .select(col("centroid_id"), col(idCol).as("code_id"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            slice(col("resid"), j * sd + 1, sd).as("codeword"))): _*)).as("sc"))
      .select(col("centroid_id"), col("sc.sub").as("sub"), col("code_id"),
        col("sc.codeword").as("codeword"))
  }

  /** Encode every residual against ITS OWN cell's codebooks: per
    * (vector, subspace) the codeword minimizing |c|² − 2·r_j·c (the
    * |r_j|² term is constant under the argmin), lowest code_id on ties.
    * One broadcast join + one map-side-combining argmin shuffle.
    * Returns (id, centroid_id, sub, code).
    */
  def ivfPqEncode(residuals: DataFrame, idCol: String,
      codebooks: DataFrame, m: Int, dims: Int): DataFrame = {
    val sd = dims / m
    residuals.select(col(idCol), col("centroid_id"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            slice(col("resid"), j * sd + 1, sd).as("r"))): _*)).as("sr"))
      .select(col(idCol), col("centroid_id"), col("sr.sub").as("sub"),
        col("sr.r").as("r"))
      .join(broadcast(codebooks), Seq("centroid_id", "sub"))
      .select(col(idCol), col("centroid_id"), col("sub"), col("code_id"),
        (dot(col("codeword"), col("codeword"))
          - lit(2.0) * dot(col("r"), col("codeword"))).as("score"))
      .groupBy(col(idCol), col("centroid_id"), col("sub"))
      .agg(min(struct(col("score"), col("code_id"))).as("best"))
      .select(col(idCol), col("centroid_id"), col("sub"),
        col("best.code_id").as("code"))
  }

  /** IVFADC probe: rank the `nprobe` cells nearest the query (exact
    * cosine over `kc` broadcast centroids), build one asymmetric
    * distance table PER PROBED CELL against the query's residual in that
    * cell, and score only the codes of vectors living in probed cells —
    * the inner join against the broadcast table IS the inverted-list
    * restriction, so the scan touches `m` longs per candidate vector and
    * nothing outside the probed cells. Per-subspace lookups come back as
    * pivoted agg columns summed in fixed subspace order (the same
    * order-deterministic tail as [[pqTopK]]).
    */
  def ivfPqTopK(codes: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, query: Seq[Float], m: Int, k: Int,
      nprobe: Int, idCol: String = "vec_id"): DataFrame = {
    val dims = query.length
    require(dims % m == 0,
      s"query has $dims dims, not divisible into $m subspaces — wrong " +
        "query length for this index")
    val sd = dims / m
    val q = array(query.map(lit): _*)
    // nanvl: NaN sorts greatest, so a zero-norm centroid would
    // otherwise beat every real cell into the probe set — undefined
    // similarity must lose (same discipline as [[assign]]/[[ivfTopK]]).
    val probed = centroids
      .select(col("centroid_id"), col("centroid"),
        nanvl(cosine(col("centroid"), q), lit(Double.NegativeInfinity))
          .as("sim"))
      .orderBy(col("sim").desc, col("centroid_id")).limit(nprobe)
      .select(col("centroid_id"), residual(q, col("centroid")).as("rq"))
    val dj = (0 until m).reverse.foldLeft(lit(Double.NaN)) { (acc, j) =>
      val rqj = slice(col("rq"), j * sd + 1, sd)
      when(col("sub") === j,
        (dot(col("codeword"), col("codeword"))
          - lit(2.0) * dot(rqj, col("codeword")))
          + dot(rqj, rqj))
        .otherwise(acc)
    }
    val dt = codebooks.join(probed, Seq("centroid_id"))
      .select(col("centroid_id"), col("sub"), col("code_id").as("code"),
        dj.as("dj"))
    val perSub = codes
      .join(broadcast(dt), Seq("centroid_id", "sub", "code"))
      .groupBy(col(idCol))
      .agg(max(when(col("sub") === 0, col("dj"))).as("d0"),
        (1 until m).map(j =>
          max(when(col("sub") === j, col("dj"))).as(s"d$j")): _*)
    perSub
      // mismatched index tables would surface as a null subspace distance
      // (null adist sorts FIRST) — exclude, as in [[pqTopK]]
      .where((0 until m).map(j => col(s"d$j").isNotNull).reduce(_ && _))
      .select(col(idCol),
        (0 until m).map(j => col(s"d$j"))
          .reduce(_ + _).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  /** Encode residuals against ONE codebook set shared by every cell —
    * the standard IVFADC construction (Jégou et al. 2011 train a single
    * product quantizer on residuals of all cells): per (vector,
    * subspace) the shared codeword minimizing |c|² − 2·r_j·c, lowest
    * code id on ties. Same broadcast-join + argmin-shuffle shape as
    * [[ivfPqEncode]], but the cell id rides along so the probe can restrict
    * to inverted lists. Shared codebooks are the scale choice: the
    * broadcast is m·ksub rows regardless of kc (per-cell codebooks grow
    * the broadcast kc-fold and train each cell on only its own members).
    * Returns (id, centroid_id, sub, code).
    */
  def ivfPqEncodeShared(residuals: DataFrame, idCol: String,
      codebooks: DataFrame, m: Int, dims: Int): DataFrame = {
    val sd = dims / m
    residuals.select(col(idCol), col("centroid_id"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            slice(col("resid"), j * sd + 1, sd).as("r"))): _*)).as("sr"))
      .select(col(idCol), col("centroid_id"), col("sr.sub").as("sub"),
        col("sr.r").as("r"))
      .join(broadcast(codebooks.select(col("sub"),
        col("centroid_id").as("code_id"), col("centroid").as("codeword"))),
        Seq("sub"))
      .select(col(idCol), col("centroid_id"), col("sub"), col("code_id"),
        (dot(col("codeword"), col("codeword"))
          - lit(2.0) * dot(col("r"), col("codeword"))).as("score"))
      .groupBy(col(idCol), col("centroid_id"), col("sub"))
      .agg(min(struct(col("score"), col("code_id"))).as("best"))
      .select(col(idCol), col("centroid_id"), col("sub"),
        col("best.code_id").as("code"))
  }

  /** IVFADC probe over SHARED residual codebooks: rank the nprobe cells
    * nearest the query, build one ADC table per probed cell (the tables
    * differ only through the query's per-cell residual; nprobe·m·ksub
    * rows total, broadcast), and score only the probed cells' inverted
    * lists. Same order-deterministic pivoted-sum tail as [[pqTopK]].
    */
  def ivfPqTopKShared(codes: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, query: Seq[Float], m: Int, k: Int,
      nprobe: Int, idCol: String = "vec_id"): DataFrame = {
    val dims = query.length
    require(dims % m == 0,
      s"query has $dims dims, not divisible into $m subspaces — wrong " +
        "query length for this index")
    val sd = dims / m
    val q = array(query.map(lit): _*)
    // nanvl discipline as [[ivfPqTopK]]: undefined similarity loses
    val probed = centroids
      .select(col("centroid_id"), col("centroid"),
        nanvl(cosine(col("centroid"), q), lit(Double.NegativeInfinity))
          .as("sim"))
      .orderBy(col("sim").desc, col("centroid_id")).limit(nprobe)
      .select(col("centroid_id"), residual(q, col("centroid")).as("rq"))
    val dj = (0 until m).reverse.foldLeft(lit(Double.NaN)) { (acc, j) =>
      val rqj = slice(col("rq"), j * sd + 1, sd)
      when(col("sub") === j,
        (dot(col("codeword"), col("codeword"))
          - lit(2.0) * dot(rqj, col("codeword")))
          + dot(rqj, rqj))
        .otherwise(acc)
    }
    val dt = codebooks
      .select(col("sub"), col("centroid_id").as("code"),
        col("centroid").as("codeword"))
      .crossJoin(probed)
      .select(col("centroid_id"), col("sub"), col("code"), dj.as("dj"))
    val perSub = codes
      .join(broadcast(dt), Seq("centroid_id", "sub", "code"))
      .groupBy(col(idCol))
      .agg(max(when(col("sub") === 0, col("dj"))).as("d0"),
        (1 until m).map(j =>
          max(when(col("sub") === j, col("dj"))).as(s"d$j")): _*)
    perSub
      .where((0 until m).map(j => col(s"d$j").isNotNull).reduce(_ && _))
      .select(col(idCol),
        (0 until m).map(j => col(s"d$j"))
          .reduce(_ + _).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  // ------------------------------------------------ kernel (packed) paths
  //
  // The production twins of the relational quantizer steps: identical
  // arithmetic (spec-pinned bit parity), executed as map-only projections
  // over collected codebooks instead of explode + broadcast-join + argmin
  // shuffles. The relational forms stay as the oracle-gated reference
  // implementation; these carry the at-scale builds, where the encode of
  // an n-vector corpus at production codebook sizes (m=16, ksub=256)
  // otherwise materializes n·m·ksub scored rows through a shuffle.

  /** Collect a coarse-centroid table (kc rows — index-sidecar scale) into
    * the kernel holder, ids ascending (the tie-break order).
    */
  def collectCentroids(centroids: DataFrame)
      : graft.functions.CentroidsLocal = {
    val rows = centroids.select(col("centroid_id"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    new graft.functions.CentroidsLocal(rows.map(_._1), rows.map(_._2))
  }

  /** Collect a PQ codebook table (m·ksub rows) into the kernel holder,
    * per-subspace code ids ascending.
    */
  def collectCodebooks(cb: DataFrame, m: Int)
      : graft.functions.CodebooksLocal = {
    val rows = cb.select(col("sub"), col("centroid_id"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val bySub = rows.groupBy(_._1)
    val perSub = Array.tabulate(m) { j =>
      bySub.getOrElse(j, Array.empty[(Int, Long, Array[Double])])
        .sortBy(_._2)
    }
    new graft.functions.CodebooksLocal(
      perSub.map(_.map(_._2)), perSub.map(_.map(_._3)))
  }

  /** Kernel twin of [[assign]]: identical argmax-cosine (same IEEE ops,
    * NaN→−∞, lowest-id ties), one map-only projection — no crossJoin, no
    * shuffle. The centroid table is collected at plan build (it is kc
    * rows of a static quantizer).
    */
  def assignFast(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val local = collectCentroids(centroids)
    df.select(col(idCol), graft.functions.QuantKernelCols
      .nearestCentroid(col(vecCol), local).as("centroid_id"))
  }

  /** [[ivfResiduals]] with the kernel assignment fused in: the corpus is
    * scanned ONCE (assign is a projection, the centroid fetch a broadcast
    * hash join) — the relational path's corpus-with-assignments id join
    * disappears. Identical rows.
    */
  def ivfResidualsFast(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val local = collectCentroids(centroids)
    df.select(col(idCol), graft.functions.QuantKernelCols
        .nearestCentroid(col(vecCol), local).as("centroid_id"),
        col(vecCol))
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        residual(col(vecCol), col("centroid")).as("resid"))
  }

  /** PQ-encode the corpus in PACKED layout: (id, codes array<long>) —
    * per (vector, subspace) the codebook entry minimizing squared L2
    * distance, computed as |c|² − 2·v_j·c (the |v_j|² term is constant
    * under the argmin), all m argmins per vector in one projection, codes
    * in subspace order. The per-code values are bit-identical to a
    * relational broadcast-join + argmin encoder's (spec-pinned against
    * the test oracle); the layout is the FAISS shape
    * (contiguous codes per vector), which the packed ADC probe scans
    * without re-grouping.
    */
  def pqEncodePacked(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val local = collectCodebooks(codebooks, m)
    df.select(col(idCol), graft.functions.QuantKernelCols
      .pqCodes(col(vecCol), local, dims / m).as("codes"))
  }

  /** [[pqEncodePacked]] in the (id, sub, code) layout — `m` rows per
    * vector, the row-per-subspace code table the relational probes scan
    * INSTEAD of the full vectors. Map-only, no argmin shuffle.
    */
  def pqEncodeFast(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dims: Int): DataFrame =
    pqEncodePacked(df, idCol, vecCol, codebooks, m, dims)
      .select(col(idCol), posexplode(col("codes")).as(Seq("sub", "code")))

  /** Driver-side ADC tables for one query — the same dj arithmetic as
    * [[pqTopKD]]'s distance-table expression, value-for-value:
    * dj = (|c|² − 2·q_j·c) + |q_j|², every dot the ordered fold.
    */
  def adcTables(cb: graft.functions.CodebooksLocal, query: Seq[Double],
      sd: Int): graft.functions.AdcTablesLocal = {
    val K = graft.functions.QuantKernels
    val tabs = Array.tabulate(cb.m) { j =>
      val qj = query.slice(j * sd, j * sd + sd).toArray
      val qq = K.selfDot(qj)
      val t = new scala.collection.mutable.LongMap[Double](
        math.max(8, cb.ids(j).length * 2))
      var k = 0
      while (k < cb.ids(j).length) {
        t(cb.ids(j)(k)) =
          (cb.ccs(j)(k) - 2.0 * K.dot(qj, cb.vecs(j)(k))) + qq
        k += 1
      }
      t
    }
    new graft.functions.AdcTablesLocal(cb.m, tabs)
  }

  /** Packed ADC top-k — the kernel twin of [[pqTopKD]]: one map-only
    * distance projection over the packed code table plus a TakeOrdered;
    * no join, no pivot aggregation. Results (ids AND adist bits) match
    * the relational probe exactly.
    */
  def pqTopKPackedD(codes: DataFrame, cb: graft.functions.CodebooksLocal,
      query: Seq[Double], k: Int, idCol: String = "vec_id"): DataFrame = {
    val dims = query.length
    require(dims % cb.m == 0,
      s"query has $dims dims, not divisible into ${cb.m} subspaces — " +
        "wrong query length for this index")
    val tabs = adcTables(cb, query, dims / cb.m)
    codes.select(col(idCol),
        graft.functions.QuantKernelCols.adcDist(col("codes"), tabs)
          .as("adist"))
      .where(col("adist").isNotNull)
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  /** Kernel twin of [[ivfPqEncodeShared]] in packed layout:
    * (id, centroid_id, codes array<long>).
    */
  def ivfPqEncodeSharedPacked(residuals: DataFrame, idCol: String,
      codebooks: DataFrame, m: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val local = collectCodebooks(codebooks, m)
    residuals.select(col(idCol), col("centroid_id"),
      graft.functions.QuantKernelCols
        .pqCodes(col("resid"), local, dims / m).as("codes"))
  }

  /** Packed shared-codebook IVFADC probe — the kernel twin of
    * [[ivfPqTopKShared]]: cells ranked driver-side over the collected
    * centroids (same cosine/NaN/tie ordering), one per-cell ADC table
    * family built with the identical residual arithmetic, then a
    * partition-prunable `centroid_id IN (probed)` filter + map-only
    * distance + TakeOrdered. At scale the IN filter is the inverted-list
    * restriction: with the code table written cell-partitioned it prunes
    * at the file level, and nothing shuffles.
    */
  def ivfPqTopKSharedPacked(codes: DataFrame,
      cents: graft.functions.CentroidsLocal,
      cb: graft.functions.CodebooksLocal, query: Seq[Float], k: Int,
      nprobe: Int, idCol: String = "vec_id"): DataFrame = {
    val K = graft.functions.QuantKernels
    val dims = query.length
    require(dims % cb.m == 0,
      s"query has $dims dims, not divisible into ${cb.m} subspaces — " +
        "wrong query length for this index")
    val sd = dims / cb.m
    val qd = query.map(_.toDouble).toArray
    val qn = math.sqrt(K.selfDot(qd))
    // rank cells exactly as the relational probe: nanvl(cosine(c, q),
    // −∞) desc, centroid_id asc
    val ranked = cents.ids.indices.map { i =>
      val np = cents.norms(i) * qn
      val s0 = if (np == 0.0) Double.NaN else K.dot(cents.vecs(i), qd) / np
      ((if (s0 != s0) Double.NegativeInfinity else s0), cents.ids(i), i)
    }.sortBy { case (s, id, _) => (-s, id) }.take(nprobe)
    val cellTabs = new scala.collection.mutable.LongMap[Array[
      scala.collection.mutable.LongMap[Double]]]
    ranked.foreach { case (_, cid, ci) =>
      val cent = cents.vecs(ci)
      val rq = Array.tabulate(dims)(i => qd(i) - cent(i))
      cellTabs(cid) = Array.tabulate(cb.m) { j =>
        val rqj = java.util.Arrays.copyOfRange(rq, j * sd, j * sd + sd)
        val qq = K.selfDot(rqj)
        val t = new scala.collection.mutable.LongMap[Double](
          math.max(8, cb.ids(j).length * 2))
        var kk = 0
        while (kk < cb.ids(j).length) {
          t(cb.ids(j)(kk)) =
            (cb.ccs(j)(kk) - 2.0 * K.dot(rqj, cb.vecs(j)(kk))) + qq
          kk += 1
        }
        t
      }
    }
    val probedIds = ranked.map(_._2)
    codes.where(col("centroid_id").isin(probedIds: _*))
      .select(col(idCol), graft.functions.QuantKernelCols.adcDistCell(
        col("centroid_id"), col("codes"),
        new graft.functions.CellAdcTablesLocal(cb.m, cellTabs)).as("adist"))
      .where(col("adist").isNotNull)
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  // ------------------------------------------- per-cell codebooks (IVFADC)
  //
  // The shared-codebook family above quantizes EVERY cell's residuals
  // against one codebook set — broadcast-minimal, but on loosely
  // clustered corpora the residual distribution differs per cell and the
  // shared quantizer averages across them (the measured sim7 recall
  // plateau: rerank 0.946 at nprobe 32+ while plain PQ reranks to 0.988).
  // Per-cell codebooks train each cell's quantizer on that cell's own
  // residuals — classic IVFADC with local codebooks — trading a kc-fold
  // bigger (still sidecar-bounded; see CellCodebooksLocal) quantizer for
  // much tighter residual coding. The relational per-cell forms
  // (ivfPqSeedCodebooks / ivfPqEncode / ivfPqTopK) already carry the sim7
  // oracle; these are their TRAINED, kernel-packed production twins.

  /** Collect a per-cell codebook table (centroid_id, sub, code_id,
    * codeword) into the kernel holder — per cell, per subspace, code ids
    * ascending (the tie-break order). kc·m·ksub rows: sidecar scale for
    * moderate kc·ksub (see [[graft.functions.CellCodebooksLocal]]).
    */
  def collectCellCodebooks(cb: DataFrame, m: Int)
      : graft.functions.CellCodebooksLocal = {
    val rows = cb.select(col("centroid_id"), col("sub"), col("code_id"),
        col("codeword"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getSeq[Double](3).toArray))
    val cells = new scala.collection.mutable.LongMap[
      graft.functions.CodebooksLocal]
    rows.groupBy(_._1).foreach { case (cid, rs) =>
      val bySub = rs.groupBy(_._2)
      val perSub = Array.tabulate(m) { j =>
        bySub.getOrElse(j, Array.empty[(Long, Int, Long, Array[Double])])
          .sortBy(_._3)
      }
      cells(cid) = new graft.functions.CodebooksLocal(
        perSub.map(_.map(_._3)), perSub.map(_.map(_._4)))
    }
    new graft.functions.CellCodebooksLocal(m, cells)
  }

  /** Per-CELL Lloyd-trained residual codebooks — classic IVFADC with
    * local codebooks: every cell's subspace-j quantizer trains on THAT
    * cell's residual slices only, all kc·m codebooks in the SAME
    * distributed loop ((centroid_id, sub) is just the grouping key, so
    * one scan + one shuffle per iteration trains everything). Seeds are
    * each cell's first `ksub` members under the [[spreadKey]] ordering
    * (code_id = dense rank 0..ksub−1), and when `perCellTrainLimit` is
    * set each cell trains on at most that many members — points-per-
    * codeword governs quality, so the train scan stays bounded per cell
    * no matter the corpus (the 100 TB shape). Deterministic like
    * [[pqTrain]] and like it spec-tested rather than oracle-gated
    * (iterative means are float-order-sensitive); the SEEDED per-cell
    * variant ([[ivfPqSeedCodebooks]]) carries the sim7 oracle.
    *
    * Skew note: with `perCellTrainLimit` set the sample comes from a
    * partially-aggregating bounded keyed collect (never a full-corpus
    * sort; a mega-cell costs `cap` pairs per map task), so the build's
    * shuffle volume is corpus-independent. Only the unbounded path
    * (`perCellTrainLimit = None`) ranks whole cells on single tasks —
    * there a degenerate coarse quantizer (one cell swallowing the
    * corpus) would straggle; the spread-seeded Lloyd coarse quantizer
    * upstream is what bounds that.
    *
    * Returns (centroid_id, sub, code_id, codeword) — kc·m·ksub rows,
    * materialized local (train-sample cache released before returning).
    */
  def ivfPqTrainPerCell(residuals: DataFrame, idCol: String, m: Int,
      dims: Int, ksub: Int, iters: Int = 3,
      perCellTrainLimit: Option[Int] = None): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val sd = dims / m
    val spark = residuals.sparkSession
    import spark.implicits._
    // the sample must at least cover the seeds
    val bound = perCellTrainLimit.map(n => math.max(n, ksub))
    val train = (bound match {
      case Some(n) =>
        // CORPUS-INDEPENDENT sampling: the bounded keyed collect keeps
        // each cell's first n members under the (spreadKey, id) ordering
        // with partial aggregation — one array row per cell per map
        // task on the wire, O(kc · tasks) shuffle records at ANY corpus
        // size — and the payload position is exactly the row_number()
        // the full-sort window would assign, so the train set and seed
        // ranks are bit-identical to the window formulation (the keyed-
        // collect-vs-rank-window equivalence is pinned by
        // BoundedCollectSpec; QuantKernelsSpec pins build determinism
        // and round-trip). The kc·n sample then broadcast-joins back
        // onto the residual scan: no full-corpus sort-shuffle anywhere
        // in the per-cell build (requires a BIGINT id, the repo-wide id
        // shape).
        val sample = residuals.groupBy(col("centroid_id"))
          .agg(graft.functions.BoundedCollect.boundedCollectKeyed(
            spreadKey(col(idCol)), col(idCol), n).as("ids"))
          .select(col("centroid_id"),
            posexplode(col("ids")).as(Seq("__pos", idCol)))
          .select(col("centroid_id"), col(idCol),
            (col("__pos") + 1).cast("int").as("__rn"))
        // cluster the cached sample by cell (ONE bounded shuffle of kc·n
        // rows): the Lloyd iterations aggregate on (centroid_id, sub,
        // code_id, dim), and with each map task holding a couple of
        // cells the partial aggregation collapses ~kc-fold better than
        // over scan-ordered rows — measured 4× fewer shuffle records per
        // iteration at ×10
        residuals.select(col(idCol), col("centroid_id"), col("resid"))
          .join(broadcast(sample), Seq(idCol, "centroid_id"))
          .repartition(col("centroid_id"))
      case None =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("centroid_id"))
          .orderBy(spreadKey(col(idCol)), col(idCol))
        residuals
          .select(col(idCol), col("centroid_id"), col("resid"))
          .withColumn("__rn", row_number().over(w))
    }).cache()
    var cb = train.where(col("__rn") <= ksub)
      .select(col("centroid_id"),
        (col("__rn") - 1).cast("long").as("code_id"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            slice(col("resid"), j * sd + 1, sd).as("cw"))): _*)).as("sc"))
      .select(col("centroid_id"), col("sc.sub").as("sub"), col("code_id"),
        col("sc.cw").as("codeword"))
    for (_ <- 0 until iters) {
      // per-cell kernel argmin (map-only, all m subspaces in one pass) —
      // the same no-join, no-plan-nesting discipline as [[pqTrain]]
      val local = collectCellCodebooks(cb, m)
      val assigned = train
        .select(col("centroid_id"),
          posexplode(graft.functions.QuantKernelCols.pqCodesCell(
            col("centroid_id"), col("resid"), local, sd))
            .as(Seq("sub", "code_id")),
          col("resid"))
        .select(col("centroid_id"), col("sub"), col("code_id"),
          slice(col("resid"), col("sub") * lit(sd) + lit(1), lit(sd))
            .as("v"))
      val means = assigned
        .select(col("centroid_id"), col("sub"), col("code_id"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("sub"), col("code_id"), col("dim"))
        .agg(avg(col("x")).as("mu"))
        .groupBy(col("centroid_id"), col("sub"), col("code_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mu"))))
          .as("dm"))
        .select(col("centroid_id"), col("sub"), col("code_id"),
          transform(col("dm"), s => s.getField("mu")).as("refined"))
      val prior = local.cells.toSeq.flatMap { case (cid, cbc) =>
        cbc.ids.indices.flatMap(j => cbc.ids(j).indices.map(kk =>
          (cid, j, cbc.ids(j)(kk), cbc.vecs(j)(kk).toSeq)))
      }.toDF("centroid_id", "sub", "code_id", "codeword")
      // empty codes keep their previous codeword, as [[pqTrain]]
      cb = prior.join(means, Seq("centroid_id", "sub", "code_id"), "left")
        .select(col("centroid_id"), col("sub"), col("code_id"),
          coalesce(col("refined"), col("codeword")).as("codeword"))
    }
    val local = collectCellCodebooks(cb, m)
    train.unpersist()
    local.cells.toSeq.flatMap { case (cid, cbc) =>
      cbc.ids.indices.flatMap(j => cbc.ids(j).indices.map(kk =>
        (cid, j, cbc.ids(j)(kk), cbc.vecs(j)(kk).toSeq)))
    }.toDF("centroid_id", "sub", "code_id", "codeword")
  }

  /** Multi-assignment residuals — SPANN-style redundant assignment: each
    * vector lands in its `r` nearest cells (kernel top-p, [[spreadKey]]-
    * free and deterministic: cosine desc, id asc — position 0 is exactly
    * the single-assignment cell), with the residual computed against EACH
    * host cell. Storage and encode cost grow ×r; what it buys is probe
    * recall at fixed nprobe on loosely clustered corpora, where a true
    * neighbor's single cell often ranks outside the query's probe set but
    * one of its r host cells ranks inside. One corpus scan, broadcast
    * joins only — zero shuffle, like [[ivfResidualsFast]].
    */
  def ivfResidualsMultiFast(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, r: Int): DataFrame = {
    val local = collectCentroids(centroids)
    df.select(col(idCol),
        explode(graft.functions.QuantKernelCols
          .nearestCentroids(col(vecCol), local, r)).as("centroid_id"),
        col(vecCol))
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        residual(col(vecCol), col("centroid")).as("resid"))
  }

  /** Kernel encode against per-cell codebooks in PACKED layout:
    * (id, centroid_id, codes array<long>) — one map-only projection, the
    * per-cell twin of [[ivfPqEncodeSharedPacked]]. A row whose cell has
    * no codebook (impossible when the codebooks were trained over this
    * corpus's own residuals) encodes to NULL codes.
    */
  def ivfPqEncodeCellPacked(residuals: DataFrame, idCol: String,
      local: graft.functions.CellCodebooksLocal, dims: Int): DataFrame = {
    require(dims % local.m == 0,
      s"dims $dims not divisible by ${local.m} subspaces")
    residuals.select(col(idCol), col("centroid_id"),
      graft.functions.QuantKernelCols.pqCodesCell(col("centroid_id"),
        col("resid"), local, dims / local.m).as("codes"))
  }

  /** Packed PER-CELL IVFADC probe — the trained-local-codebook twin of
    * [[ivfPqTopKSharedPacked]]: cells ranked driver-side (same
    * cosine/NaN/tie ordering as the relational [[ivfPqTopK]]), one ADC
    * table family per probed cell built from that cell's OWN codebook
    * against the query's residual in that cell, then a partition-prunable
    * `centroid_id IN (probed)` filter + map-only distance + TakeOrdered.
    * Shuffles nothing; scan cost is the probed lists.
    */
  def ivfPqTopKCellPacked(codes: DataFrame,
      cents: graft.functions.CentroidsLocal,
      cellCb: graft.functions.CellCodebooksLocal, query: Seq[Float], k: Int,
      nprobe: Int, idCol: String = "vec_id",
      dedupIds: Boolean = false): DataFrame = {
    val K = graft.functions.QuantKernels
    val dims = query.length
    require(dims % cellCb.m == 0,
      s"query has $dims dims, not divisible into ${cellCb.m} subspaces — " +
        "wrong query length for this index")
    val sd = dims / cellCb.m
    val qd = query.map(_.toDouble).toArray
    val qn = math.sqrt(K.selfDot(qd))
    val ranked = cents.ids.indices.map { i =>
      val np = cents.norms(i) * qn
      val s0 = if (np == 0.0) Double.NaN else K.dot(cents.vecs(i), qd) / np
      ((if (s0 != s0) Double.NegativeInfinity else s0), cents.ids(i), i)
    }.sortBy { case (s, id, _) => (-s, id) }.take(nprobe)
    val cellTabs = new scala.collection.mutable.LongMap[Array[
      scala.collection.mutable.LongMap[Double]]]
    ranked.foreach { case (_, cid, ci) =>
      val cbc = cellCb.cells.getOrNull(cid)
      // a probed cell with no codebook was empty at build — it has no
      // codes either, so skipping its tables drops nothing
      if (cbc != null) {
        val cent = cents.vecs(ci)
        val rq = Array.tabulate(dims)(i => qd(i) - cent(i))
        cellTabs(cid) = Array.tabulate(cellCb.m) { j =>
          val rqj = java.util.Arrays.copyOfRange(rq, j * sd, j * sd + sd)
          val qq = K.selfDot(rqj)
          val t = new scala.collection.mutable.LongMap[Double](
            math.max(8, cbc.ids(j).length * 2))
          var kk = 0
          while (kk < cbc.ids(j).length) {
            t(cbc.ids(j)(kk)) =
              (cbc.ccs(j)(kk) - 2.0 * K.dot(rqj, cbc.vecs(j)(kk))) + qq
            kk += 1
          }
          t
        }
      }
    }
    val probedIds = ranked.map(_._2)
    val scored = codes.where(col("centroid_id").isin(probedIds: _*))
      .select(col(idCol), graft.functions.QuantKernelCols.adcDistCell(
        col("centroid_id"), col("codes"),
        new graft.functions.CellAdcTablesLocal(cellCb.m, cellTabs))
        .as("adist"))
      .where(col("adist").isNotNull)
    // multi-assigned indexes can surface the same id from several probed
    // host cells — rank each id by its BEST (min) estimate, one
    // map-side-combining agg over the probed candidates only (the
    // single-assignment path stays the pure map + TakeOrdered plan)
    val unique =
      if (dedupIds)
        scored.groupBy(col(idCol)).agg(min(col("adist")).as("adist"))
      else scored
    unique.orderBy(col("adist"), col(idCol)).limit(k)
  }

  /** Incremental-ingest guard shared by the index `addVectors` paths:
    * re-ingesting an existing id would leave two index rows racing at
    * probe time, so clash = hard error (the [[Dedup.DupClusterIndex]]
    * discipline). One left-semi existence probe against the batch —
    * cost is the batch side, the index side prunes to the join.
    */
  private[ops] def requireFreshIds(batch: DataFrame, existing: DataFrame,
      idCol: String, op: String): Unit = {
    val clash = batch.select(col(idCol))
      .join(existing.select(col(idCol)), Seq(idCol), "left_semi")
      .limit(1).collect()
    require(clash.isEmpty,
      s"$op: vector id ${clash.headOption.map(_.get(0)).orNull} already " +
        "in the index — incremental ingest takes new ids only")
  }
}

/** A built IVF index: the build-once / probe-many split. Training
  * (Lloyd iterations over the corpus) and assignment (one broadcast-
  * argmax pass) happen ONCE; every probe after that touches only the
  * persisted centroid table (k rows, broadcast) and the `nprobe`/k
  * slice of the corpus its semi-join selects — the gate-visible
  * `sim4_ivf_topk` cost is the per-probe slice, not the build.
  */
final case class IvfIndex(centroids: DataFrame, assignments: DataFrame) {

  /** Persist both tables in one atomic catalog commit (`<name>.centroids`
    * / `<name>.assignments`); probes in later sessions [[IvfIndex.load]]
    * them without touching the corpus.
    */
  def save(cat: graft.catalog.VersionedCatalog, name: String): Unit = {
    cat.commit(Map(s"$name.centroids" -> centroids,
      s"$name.assignments" -> assignments))
    ()
  }

  /** ANN top-k against this index (see [[Similarity.ivfTopK]]). */
  def probe(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nprobe: Int): DataFrame =
    Similarity.ivfTopK(df, idCol, vecCol, centroids, assignments,
      query, k, nprobe)

  /** Incremental maintenance: assign ONLY `batch` under the frozen
    * quantizer and extend the assignment table — cost is the batch, not
    * the corpus, and the result is EXACTLY what assigning the whole
    * union against these centroids would produce (assignment is
    * per-vector, so frozen-quantizer increments compose losslessly;
    * retraining centroids is by definition a rebuild, not maintenance).
    * Re-ingesting an existing id would shadow the old row at probe time
    * nondeterministically — fail fast instead.
    */
  def addVectors(batch: DataFrame, idCol: String, vecCol: String): IvfIndex = {
    Similarity.requireFreshIds(batch, assignments, idCol, "addVectors")
    copy(assignments = assignments.unionByName(
      Similarity.assign(batch, idCol, vecCol, centroids)))
  }

  /** Persisted incremental ingest: append the batch's assignments to the
    * catalog table as an append-only delta (`TableDelta.appends`) — the
    * commit writes the batch's rows, never rewrites the corpus-sized
    * assignment table. Returns the index as reloaded from the catalog.
    */
  def appendVectors(cat: graft.catalog.VersionedCatalog, name: String,
      batch: DataFrame, idCol: String, vecCol: String): IvfIndex = {
    Similarity.requireFreshIds(batch, assignments, idCol, "appendVectors")
    cat.commitAll(Map(s"$name.assignments" -> graft.catalog.TableDelta(
      appends = Seq((Similarity.assign(batch, idCol, vecCol, centroids),
        "")))))
    IvfIndex.load(batch.sparkSession, cat, name)
  }

  /** STATELESS cell assignment for continuous ingest — works on a
    * STREAMING frame (pure projection, no state store; the batch
    * [[Similarity.assign]] is a groupBy-argmax a streaming append can't
    * run). The centroid table is collected once at plan build (it is kc
    * rows of a persisted, static index) and evaluated by the
    * [[graft.functions.NearestCentroidId]] kernel — bit-identical to the
    * batch assignment, and unlike the literal-embedding form
    * ([[Similarity.assignCellExpr]], kept as the SQL-shaped reference)
    * it stays flat at production centroid counts (a kc·dims literal tree
    * is what blows up plan compilation).
    */
  def assignRows(docs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    docs.select(col(idCol), graft.functions.QuantKernelCols
      .nearestCentroid(col(vecCol), Similarity.collectCentroids(centroids))
      .as("centroid_id"))
  }
}

object IvfIndex {

  /** Train the quantizer (`iters` Lloyd rounds, deterministic seed-free
    * init) and assign every corpus vector once.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3): IvfIndex = {
    val centroids = Similarity.ivfTrain(df, idCol, vecCol, k, iters)
    IvfIndex(centroids, Similarity.assign(df, idCol, vecCol, centroids))
  }

  /** Load a persisted index from the catalog (metadata + parquet scans
    * of k centroid rows and the assignment table — no training work).
    */
  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog, name: String): IvfIndex =
    IvfIndex(cat.read(spark, s"$name.centroids"),
      cat.read(spark, s"$name.assignments"))
}

/** A built product-quantization index: encode once (the corpus collapses
  * to `m` 8-byte codes per vector), probe many — every ADC probe scans
  * only the code table plus a broadcast `m × ksub` distance table, never
  * the original embeddings. The compression is what changes the scale
  * economics: at 100 TB of raw float vectors the PQ codes are ~1/64th
  * the bytes, so a probe is a cheap columnar scan of codes with the
  * exact query-side arithmetic confined to the tiny codebook.
  */
final case class PqIndex(m: Int, dims: Int, codebooks: DataFrame,
    codes: DataFrame) {

  /** Persist codebooks + codes (+ shape params) in one atomic catalog
    * commit; later sessions [[PqIndex.load]] and probe without touching
    * the corpus.
    */
  def save(cat: graft.catalog.VersionedCatalog, name: String): Unit = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    cat.commit(Map(
      s"$name.codebooks" -> codebooks,
      s"$name.codes" -> codes,
      s"$name.params" -> Seq((m, dims)).toDF("m", "dims")))
    ()
  }

  /** ADC top-k against this index (see [[Similarity.pqTopK]]). */
  def probe(query: Seq[Float], k: Int, idCol: String = "vec_id"): DataFrame = {
    require(query.length == dims,
      s"query has ${query.length} dims, index was built at $dims")
    Similarity.pqTopK(codes, codebooks, query, m, k, idCol)
  }

  /** Incremental maintenance: encode ONLY `batch` under the frozen
    * codebooks and extend the code table — cost is the batch, not the
    * corpus, and since encoding is per-vector the result is EXACTLY the
    * code table a full re-encode of the union would produce. Fresh ids
    * only (a clash fails fast, see [[Similarity.requireFreshIds]]).
    */
  def addVectors(batch: DataFrame, idCol: String, vecCol: String): PqIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "addVectors")
    copy(codes = codes.unionByName(
      Similarity.pqEncodeFast(batch, idCol, vecCol, codebooks, m, dims)))
  }

  /** Persisted incremental ingest: append the batch's codes to the
    * catalog table as an append-only delta — the commit writes m rows
    * per batch vector, never rewrites the corpus-sized code table.
    */
  def appendVectors(cat: graft.catalog.VersionedCatalog, name: String,
      batch: DataFrame, idCol: String, vecCol: String): PqIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "appendVectors")
    cat.commitAll(Map(s"$name.codes" -> graft.catalog.TableDelta(
      appends = Seq((
        Similarity.pqEncodeFast(batch, idCol, vecCol, codebooks, m, dims),
        "")))))
    PqIndex.load(batch.sparkSession, cat, name)
  }

  /** STATELESS PQ encoding for continuous ingest — works on a STREAMING
    * frame (projection + generator only, no state store). The codebooks
    * (m × ksub rows of a persisted, static index) are collected once at
    * plan build and evaluated by the [[graft.functions.PqCodes]] kernel;
    * output rows (id, sub, code) are bit-identical to the batch
    * encoder's, so appending them to the index's code table keeps every
    * later ADC probe exact. Unlike the literal-embedding form
    * ([[Similarity.pqCodeExprs]], kept as the SQL-shaped reference) the
    * kernel stays flat at production codebook sizes — an m·ksub·sd
    * literal tree is what OOM'd plan compilation at m=16, ksub=256.
    */
  def encodeRows(docs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, posexplode}
    Similarity.pqEncodePacked(docs, idCol, vecCol, codebooks, m, dims)
      .select(col(idCol), posexplode(col("codes")).as(Seq("sub", "code")))
  }
}

object PqIndex {

  /** Seed the per-subspace codebooks deterministically and encode the
    * whole corpus once.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, m: Int,
      dims: Int, ksub: Int): PqIndex = {
    val cb = Similarity.pqSeedCodebooks(df, idCol, vecCol, m, dims, ksub)
    // kernel encode: bit-identical (id, sub, code) rows to the
    // relational oracle (QuantKernelsSpec/QuantKernelPropertySpec pin
    // it), but map-only — the relational form paid a per-subvector explode +
    // broadcast join + argmin SORT aggregate with its exchange on every
    // corpus encode (the dominant stage of sim6/sim9). Same shape
    // buildTrained has used since r16.
    PqIndex(m, dims, cb,
      Similarity.pqEncodeFast(df, idCol, vecCol, cb, m, dims))
  }

  /** Lloyd-refined build ([[Similarity.pqTrain]]): better codebooks when
    * the seeds are unrepresentative, at the cost of `iters` training
    * scans. Deterministic but not oracle-gated (float-order-sensitive
    * means).
    */
  def buildTrained(df: DataFrame, idCol: String, vecCol: String, m: Int,
      dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None): PqIndex = {
    // pqTrain returns the m·ksub-row codebooks as a materialized local
    // relation — every probe (and the corpus encode) reuses the rows
    // without re-running the Lloyd loop, no cache entry to leak. The
    // corpus encode runs the kernel twin (bit-identical rows, map-only).
    val cb = Similarity.pqTrain(df, idCol, vecCol, m, dims, ksub, iters,
      trainLimit)
    PqIndex(m, dims, cb,
      Similarity.pqEncodeFast(df, idCol, vecCol, cb, m, dims))
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog, name: String): PqIndex = {
    val p = cat.read(spark, s"$name.params").head()
    PqIndex(p.getAs[Int]("m"), p.getAs[Int]("dims"),
      cat.read(spark, s"$name.codebooks"), cat.read(spark, s"$name.codes"))
  }
}

/** A built IVF-PQ (IVFADC) index — the coarse inverted file composed
  * with per-cell product quantization on residuals (Jégou et al. 2011,
  * §IV). Build once: assign every vector to a cell, quantize its
  * residual to `m` codes against that cell's codebooks. Probe many:
  * `nprobe` cells × one broadcast ADC table over codes. At equal code
  * budget this beats plain PQ (residuals are smaller than vectors, so
  * codewords sit denser) AND plain IVF (the probe ranks candidates by
  * quantized distance instead of treating whole cells as flat) — while
  * the probe-side scan stays `m` longs per candidate, restricted to the
  * probed cells' inverted lists.
  */
final case class IvfPqIndex(m: Int, dims: Int, centroids: DataFrame,
    codebooks: DataFrame, codes: DataFrame) {

  /** Persist centroids + codebooks + codes (+ shape params) in one
    * atomic catalog commit; later sessions [[IvfPqIndex.load]] and probe
    * without touching the corpus.
    */
  def save(cat: graft.catalog.VersionedCatalog, name: String): Unit = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    cat.commit(Map(
      s"$name.centroids" -> centroids,
      s"$name.codebooks" -> codebooks,
      s"$name.codes" -> codes,
      s"$name.params" -> Seq((m, dims)).toDF("m", "dims")))
    ()
  }

  /** IVFADC top-k against this index (see [[Similarity.ivfPqTopK]]). */
  def probe(query: Seq[Float], k: Int, nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(query.length == dims,
      s"query has ${query.length} dims, index was built at $dims")
    Similarity.ivfPqTopK(codes, centroids, codebooks, query, m, k,
      nprobe, idCol)
  }

  /** Incremental maintenance under the frozen coarse + fine quantizers:
    * assign the batch to cells, quantize its residuals against the
    * existing per-cell codebooks, extend the code table. Per-vector
    * encoding means the increment equals a full re-encode of the union
    * exactly; cost is the batch. Fresh ids only (clash fails fast).
    */
  def addVectors(batch: DataFrame, idCol: String,
      vecCol: String): IvfPqIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "addVectors")
    copy(codes = codes.unionByName(encodeBatch(batch, idCol, vecCol)))
  }

  /** Persisted incremental ingest: append-only catalog delta of the
    * batch's codes — never rewrites the corpus-sized code table.
    */
  def appendVectors(cat: graft.catalog.VersionedCatalog, name: String,
      batch: DataFrame, idCol: String, vecCol: String): IvfPqIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "appendVectors")
    cat.commitAll(Map(s"$name.codes" -> graft.catalog.TableDelta(
      appends = Seq((encodeBatch(batch, idCol, vecCol), "")))))
    IvfPqIndex.load(batch.sparkSession, cat, name)
  }

  private def encodeBatch(batch: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val assignments = Similarity.assign(batch, idCol, vecCol, centroids)
    val residuals = Similarity.ivfResiduals(batch, idCol, vecCol,
      centroids, assignments)
    Similarity.ivfPqEncode(residuals, idCol, codebooks, m, dims)
  }
}

object IvfPqIndex {

  /** Deterministic seeded build: coarse centroids = first `kc` vectors
    * by id, per-cell codebooks = residual slices of each cell's first
    * `ksub` members by id, corpus encoded once. Fully SQL-expressible
    * (the sim7 oracle reproduces every step bit-for-bit in DuckDB).
    */
  def build(df: DataFrame, idCol: String, vecCol: String, kc: Int,
      m: Int, dims: Int, ksub: Int): IvfPqIndex = {
    val centroids = Similarity.ivfSeedCentroids(df, idCol, vecCol, kc)
    val assignments = Similarity.assign(df, idCol, vecCol, centroids)
    // residuals feed BOTH the per-cell codebook seeding and the encode;
    // uncached, the whole assign subtree (corpus x kc argmax) re-ran per
    // reference — the probe plan carried it three times
    val residuals = graft.ops.Dedup.trackExisting(
      Similarity.ivfResiduals(df, idCol, vecCol, centroids, assignments)
        .persist())
    val cb = Similarity.ivfPqSeedCodebooks(residuals, idCol, m, dims, ksub)
    IvfPqIndex(m, dims, centroids, cb,
      Similarity.ivfPqEncode(residuals, idCol, cb, m, dims))
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog, name: String): IvfPqIndex = {
    val p = cat.read(spark, s"$name.params").head()
    IvfPqIndex(p.getAs[Int]("m"), p.getAs[Int]("dims"),
      cat.read(spark, s"$name.centroids"),
      cat.read(spark, s"$name.codebooks"),
      cat.read(spark, s"$name.codes"))
  }
}

/** The PRODUCTION-shape IVFADC index: Lloyd-trained coarse quantizer +
  * ONE Lloyd-trained product quantizer on residuals shared by every cell
  * (Jégou et al. 2011, §IV — FAISS's IVFx,PQy construction). Differs
  * from the oracle-gated [[IvfPqIndex]] (seeded, per-cell codebooks) in
  * both quality and scale shape: shared codebooks keep the probe-side
  * broadcast at m·ksub rows however many cells the index has, training
  * runs over a bounded spread-sample (never the corpus), and the
  * deterministic spread seeding survives id-clustered corpora. Probe
  * cost per query: nprobe/kc of the code table, m bytes-ish per
  * candidate, one broadcast ADC table of nprobe·m·ksub rows.
  */
final case class IvfPqSharedIndex(m: Int, dims: Int, centroids: DataFrame,
    codebooks: DataFrame, codes: DataFrame) {

  def save(cat: graft.catalog.VersionedCatalog, name: String): Unit = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    cat.commit(Map(
      s"$name.centroids" -> centroids,
      s"$name.codebooks" -> codebooks,
      s"$name.codes" -> codes,
      s"$name.params" -> Seq((m, dims)).toDF("m", "dims")))
    ()
  }

  /** Shared-codebook IVFADC top-k (see [[Similarity.ivfPqTopKShared]]). */
  def probe(query: Seq[Float], k: Int, nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(query.length == dims,
      s"query has ${query.length} dims, index was built at $dims")
    Similarity.ivfPqTopKShared(codes, centroids, codebooks, query, m, k,
      nprobe, idCol)
  }

  /** Incremental maintenance under the frozen coarse + shared fine
    * quantizers: assign the batch, encode its residuals, extend the code
    * table — equals a full re-encode of the union exactly (per-vector
    * encoding). Fresh ids only.
    */
  def addVectors(batch: DataFrame, idCol: String,
      vecCol: String): IvfPqSharedIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "addVectors")
    val assignments = Similarity.assign(batch, idCol, vecCol, centroids)
    val residuals = Similarity.ivfResiduals(batch, idCol, vecCol,
      centroids, assignments)
    copy(codes = codes.unionByName(
      Similarity.ivfPqEncodeShared(residuals, idCol, codebooks, m, dims)))
  }
}

object IvfPqSharedIndex {

  /** Train coarse + shared residual quantizers on a bounded
    * spread-sample, then encode the whole corpus once. `trainLimit`
    * bounds BOTH Lloyd loops (quality needs points-per-centroid, not
    * corpus size); pass None to train on everything.
    */
  def buildTrained(df: DataFrame, idCol: String, vecCol: String, kc: Int,
      m: Int, dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None): IvfPqSharedIndex = {
    val centroids =
      Similarity.ivfTrain(df, idCol, vecCol, kc, iters, trainLimit)
    // kernel assignment fused into the residual pass: one corpus scan
    val residuals =
      Similarity.ivfResidualsFast(df, idCol, vecCol, centroids)
    // the residual PQ trains on the residuals of the SAME spread-sample
    // (spreadSample is a pure filter of df, so sampling the residual
    // frame by the same id mix draws the matching rows); cache = the
    // same one-materialization discipline as the coarse centroids
    val cb = Similarity.pqTrain(residuals, idCol, "resid", m, dims, ksub,
      iters, trainLimit)
    IvfPqSharedIndex(m, dims, centroids, cb,
      Similarity.ivfPqEncodeSharedPacked(residuals, idCol, cb, m, dims)
        .select(col(idCol), col("centroid_id"),
          posexplode(col("codes")).as(Seq("sub", "code"))))
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog, name: String): IvfPqSharedIndex = {
    val p = cat.read(spark, s"$name.params").head()
    IvfPqSharedIndex(p.getAs[Int]("m"), p.getAs[Int]("dims"),
      cat.read(spark, s"$name.centroids"),
      cat.read(spark, s"$name.codebooks"),
      cat.read(spark, s"$name.codes"))
  }
}

/** A built SQ8 scalar-quantization index: the int8 code table plus the
  * per-dimension (mn, mx) training ranges — the quantizer IS those 2·dims
  * doubles, so the persisted index is the code table plus a dims-row
  * params sidecar. Build once (one min/max pass + one map-only encode),
  * probe many ([[Similarity.sqTopK]] — a code-table scan, no join).
  */
final case class SqIndex(mn: Array[Double], mx: Array[Double],
    codes: DataFrame) {

  /** Persist codes + per-dim ranges in one atomic catalog commit; later
    * sessions [[SqIndex.load]] and probe without touching the corpus.
    */
  def save(cat: graft.catalog.VersionedCatalog, name: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    cat.commit(Map(
      s"$name.codes" -> codes,
      s"$name.params" -> mn.indices.map(d => (d, mn(d), mx(d)))
        .toDF("dim", "mn", "mx")))
    ()
  }

  def probe(query: Seq[Float], k: Int, idCol: String = "vec_id"): DataFrame =
    Similarity.sqTopK(codes, mn, mx, query, k, idCol)

  /** Incremental maintenance under the FROZEN quantizer (the same
    * contract as the PQ family's frozen codebooks): the batch encodes
    * against the stored ranges — values outside them clamp to 0/255,
    * the quantizer's saturation semantics — so the increment equals a
    * re-encode of the union under those ranges exactly, and earlier
    * codes never change. Re-train (rebuild) when drift makes the
    * stored ranges stale. Fresh ids only (clash fails fast).
    */
  def addVectors(batch: DataFrame, idCol: String,
      vecCol: String): SqIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "addVectors")
    copy(codes = codes.unionByName(
      Similarity.sqEncode(batch, idCol, vecCol, mn, mx)))
  }

  /** Persisted incremental ingest: append-only catalog delta of the
    * batch's codes — never rewrites the corpus-sized code table.
    */
  def appendVectors(cat: graft.catalog.VersionedCatalog, name: String,
      batch: DataFrame, idCol: String, vecCol: String): SqIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "appendVectors")
    cat.commitAll(Map(s"$name.codes" -> graft.catalog.TableDelta(
      appends = Seq((Similarity.sqEncode(batch, idCol, vecCol, mn, mx),
        "")))))
    SqIndex.load(batch.sparkSession, cat, name)
  }
}

object SqIndex {

  /** Train (per-dim min/max) + encode in one build; fully
    * SQL-expressible (the sim11 oracle reproduces every step).
    */
  def build(df: DataFrame, idCol: String, vecCol: String,
      dims: Int): SqIndex = {
    val (mn, mx) = Similarity.sqParams(df, vecCol, dims)
    SqIndex(mn, mx, Similarity.sqEncode(df, idCol, vecCol, mn, mx))
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog, name: String): SqIndex = {
    val rows = cat.read(spark, s"$name.params").collect()
    val mn = new Array[Double](rows.length)
    val mx = new Array[Double](rows.length)
    rows.foreach { r =>
      val d = r.getAs[Int]("dim")
      mn(d) = r.getAs[Double]("mn")
      mx(d) = r.getAs[Double]("mx")
    }
    SqIndex(mn, mx, cat.read(spark, s"$name.codes"))
  }
}

/** The production PQ index in PACKED layout: one row per vector,
  * `codes: array<long>` of length m in subspace order — the FAISS
  * storage shape. Build/encode/probe all run the quantization KERNELS
  * (map-only projections over the collected codebooks; see
  * [[graft.functions.QuantKernels]]) instead of the relational
  * explode + broadcast-join + argmin shuffles, with bit-identical
  * arithmetic (spec-pinned against [[PqIndex]]). This is the index the
  * at-scale builds use; the relational [[PqIndex]] remains the
  * oracle-replayable reference.
  *
  * Scale shape: encode is one corpus scan with zero shuffle; a probe is
  * one map-only distance projection over the code table (m longs per
  * vector) + TakeOrdered — no join, no pivot aggregation.
  */
final case class PqPackedIndex(m: Int, dims: Int, codebooks: DataFrame,
    codes: DataFrame) {

  // Collected once per index instance (m·ksub rows — sidecar scale), so a
  // probe-many workload pays one Spark job for the codebooks, not one per
  // probe.
  private lazy val codebooksLocal: graft.functions.CodebooksLocal =
    Similarity.collectCodebooks(codebooks, m)

  /** Atomic catalog commit; `lastBatchId` records the most recent
    * streaming micro-batch folded in (see [[PqPackedIndex.maintain]]),
    * −1 for batch-built indexes.
    */
  def save(cat: graft.catalog.VersionedCatalog, name: String,
      lastBatchId: Long = -1L): Unit = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    cat.commit(Map(
      s"$name.codebooks" -> codebooks,
      s"$name.codes" -> codes,
      s"$name.params" -> Seq((m, dims, lastBatchId))
        .toDF("m", "dims", "last_batch_id")))
    ()
  }

  /** Packed ADC top-k (see [[Similarity.pqTopKPackedD]]); results are
    * bit-identical to the relational [[PqIndex.probe]].
    */
  def probe(query: Seq[Float], k: Int, idCol: String = "vec_id"): DataFrame = {
    require(query.length == dims,
      s"query has ${query.length} dims, index was built at $dims")
    Similarity.pqTopKPackedD(codes, codebooksLocal,
      query.map(_.toDouble), k, idCol)
  }

  /** Frozen-codebook incremental ingest (the [[PqIndex.addVectors]]
    * contract): kernel-encode the batch only, fresh ids enforced.
    */
  def addVectors(batch: DataFrame, idCol: String,
      vecCol: String): PqPackedIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "addVectors")
    copy(codes = codes.unionByName(
      Similarity.pqEncodePacked(batch, idCol, vecCol, codebooks, m, dims)))
  }
}

object PqPackedIndex {

  /** Lloyd-trained build over a bounded spread-sample, corpus encoded
    * once with the kernel encoder — the at-scale twin of
    * [[PqIndex.buildTrained]] (identical codebooks: same training path).
    */
  def buildTrained(df: DataFrame, idCol: String, vecCol: String, m: Int,
      dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None): PqPackedIndex = {
    val cb = Similarity.pqTrain(df, idCol, vecCol, m, dims, ksub, iters,
      trainLimit)
    PqPackedIndex(m, dims, cb,
      Similarity.pqEncodePacked(df, idCol, vecCol, cb, m, dims))
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog, name: String): PqPackedIndex = {
    val p = cat.read(spark, s"$name.params").head()
    PqPackedIndex(p.getAs[Int]("m"), p.getAs[Int]("dims"),
      cat.read(spark, s"$name.codebooks"), cat.read(spark, s"$name.codes"))
  }

  /** Continuous packed-index maintenance over a VECTOR STREAM — the ANN
    * twin of [[graft.ops.Dedup.maintainDupClusters]]: the first
    * micro-batch TRAINS the quantizer and builds the index, every later
    * batch kernel-encodes under the FROZEN codebooks ([[PqPackedIndex
    * .addVectors]]' contract — the stream result equals the first-batch
    * build extended by per-batch re-encodes, bit for bit) and commits
    * atomically to the catalog with the batch id recorded alongside.
    * foreachBatch is at-least-once; the recorded id turns a replayed
    * batch (crash after commit, before checkpoint) into a no-op — index
    * maintenance is EXACTLY-ONCE end to end. State lives in the
    * catalog, not the state store: restart-safe and probe-able
    * mid-stream at the latest committed snapshot.
    *
    * Returns the configured DataStreamWriter; the caller picks trigger/
    * checkpoint and calls start().
    */
  def maintain(vecs: DataFrame, idCol: String, vecCol: String,
      cat: graft.catalog.VersionedCatalog, name: String, m: Int,
      dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        applyBatch(batch.toDF(), batchId, idCol, vecCol, cat, name, m,
          dims, ksub, iters, trainLimit)
        ()
    }

  /** One maintenance step (the foreachBatch body, exposed for direct
    * testing and batch-driven backfills): true when applied, false when
    * skipped (already-recorded id or empty batch).
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, cat: graft.catalog.VersionedCatalog, name: String,
      m: Int, dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None): Boolean = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return false
    if (!cat.exists(s"$name.params")) {
      buildTrained(batch, idCol, vecCol, m, dims, ksub, iters, trainLimit)
        .save(cat, name, batchId)
      true
    } else {
      val p = cat.read(spark, s"$name.params").head()
      if (batchId <= p.getAs[Long]("last_batch_id")) false // replay
      else {
        load(spark, cat, name).addVectors(batch, idCol, vecCol)
          .save(cat, name, batchId)
        true
      }
    }
  }
}

/** The production shared-codebook IVFADC index in PACKED layout: one row
  * per vector — (id, centroid_id, codes array<long>). The kernel twin of
  * [[IvfPqSharedIndex]] (identical quantizers, bit-identical codes and
  * probe results), with the inverted-list restriction expressed as a
  * partition-prunable `centroid_id IN (probed)` filter: persisted
  * cell-partitioned, a probe reads nprobe/kc of the code files and
  * shuffles nothing.
  */
final case class IvfPqSharedPackedIndex(m: Int, dims: Int,
    centroids: DataFrame, codebooks: DataFrame, codes: DataFrame) {

  // Quantizers are frozen per index instance — collect each once (kc and
  // m·ksub rows), not once per probe.
  private lazy val centroidsLocal: graft.functions.CentroidsLocal =
    Similarity.collectCentroids(centroids)
  private lazy val codebooksLocal: graft.functions.CodebooksLocal =
    Similarity.collectCodebooks(codebooks, m)

  /** Atomic catalog commit; `lastBatchId` records the most recent
    * streaming micro-batch folded in (see
    * [[IvfPqSharedPackedIndex.maintain]]), −1 for batch-built indexes.
    */
  def save(cat: graft.catalog.VersionedCatalog, name: String,
      lastBatchId: Long = -1L): Unit = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    cat.commit(Map(
      s"$name.centroids" -> centroids,
      s"$name.codebooks" -> codebooks,
      s"$name.codes" -> codes,
      s"$name.params" -> Seq((m, dims, lastBatchId))
        .toDF("m", "dims", "last_batch_id")))
    ()
  }

  /** Packed IVFADC top-k (see [[Similarity.ivfPqTopKSharedPacked]]);
    * bit-identical to the relational [[IvfPqSharedIndex.probe]].
    */
  def probe(query: Seq[Float], k: Int, nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(query.length == dims,
      s"query has ${query.length} dims, index was built at $dims")
    Similarity.ivfPqTopKSharedPacked(codes, centroidsLocal,
      codebooksLocal, query, k, nprobe, idCol)
  }

  /** Frozen-quantizer incremental ingest: kernel-assign + kernel-encode
    * the batch only, fresh ids enforced.
    */
  def addVectors(batch: DataFrame, idCol: String,
      vecCol: String): IvfPqSharedPackedIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "addVectors")
    val residuals =
      Similarity.ivfResidualsFast(batch, idCol, vecCol, centroids)
    copy(codes = codes.unionByName(
      Similarity.ivfPqEncodeSharedPacked(residuals, idCol, codebooks, m,
        dims)))
  }
}

object IvfPqSharedPackedIndex {

  /** Lloyd coarse + ONE Lloyd residual PQ (both over a bounded
    * spread-sample), corpus assigned + encoded in one kernel scan — the
    * at-scale twin of [[IvfPqSharedIndex.buildTrained]].
    */
  def buildTrained(df: DataFrame, idCol: String, vecCol: String, kc: Int,
      m: Int, dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None): IvfPqSharedPackedIndex = {
    val centroids =
      Similarity.ivfTrain(df, idCol, vecCol, kc, iters, trainLimit)
    val residuals =
      Similarity.ivfResidualsFast(df, idCol, vecCol, centroids)
    val cb = Similarity.pqTrain(residuals, idCol, "resid", m, dims, ksub,
      iters, trainLimit)
    IvfPqSharedPackedIndex(m, dims, centroids, cb,
      Similarity.ivfPqEncodeSharedPacked(residuals, idCol, cb, m, dims))
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog,
      name: String): IvfPqSharedPackedIndex = {
    val p = cat.read(spark, s"$name.params").head()
    IvfPqSharedPackedIndex(p.getAs[Int]("m"), p.getAs[Int]("dims"),
      cat.read(spark, s"$name.centroids"),
      cat.read(spark, s"$name.codebooks"),
      cat.read(spark, s"$name.codes"))
  }

  /** Continuous IVFADC maintenance over a VECTOR STREAM — see
    * [[PqPackedIndex.maintain]]: first batch trains coarse + shared
    * residual quantizers, later batches kernel-assign + kernel-encode
    * under the frozen pair (every cell is encodable — the shared
    * codebook covers the whole space, which is why THIS is the
    * streaming-safe IVFADC; frozen per-cell codebooks can't encode a
    * vector landing in a build-time-empty cell). Exactly-once via the
    * recorded batch id, as the Dedup maintenance loop.
    */
  def maintain(vecs: DataFrame, idCol: String, vecCol: String,
      cat: graft.catalog.VersionedCatalog, name: String, kc: Int, m: Int,
      dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        applyBatch(batch.toDF(), batchId, idCol, vecCol, cat, name, kc,
          m, dims, ksub, iters, trainLimit)
        ()
    }

  /** One maintenance step (the foreachBatch body, exposed for direct
    * testing and batch-driven backfills): true when applied, false when
    * skipped (already-recorded id or empty batch).
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, cat: graft.catalog.VersionedCatalog, name: String,
      kc: Int, m: Int, dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None): Boolean = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return false
    if (!cat.exists(s"$name.params")) {
      buildTrained(batch, idCol, vecCol, kc, m, dims, ksub, iters,
        trainLimit).save(cat, name, batchId)
      true
    } else {
      val p = cat.read(spark, s"$name.params").head()
      if (batchId <= p.getAs[Long]("last_batch_id")) false // replay
      else {
        load(spark, cat, name).addVectors(batch, idCol, vecCol)
          .save(cat, name, batchId)
        true
      }
    }
  }
}

/** The PER-CELL-codebook IVFADC index in PACKED layout — classic IVFADC
  * with local codebooks: coarse Lloyd cells plus one Lloyd residual PQ
  * PER CELL, each trained on that cell's own residuals
  * ([[Similarity.ivfPqTrainPerCell]]). Same storage shape as
  * [[IvfPqSharedPackedIndex]] ((id, centroid_id, codes array<long>),
  * cell-partitionable, probe = `centroid_id IN (probed)` + map-only ADC
  * + TakeOrdered, zero shuffle), with the codebook sidecar kc-fold
  * larger — the knob that buys tight residual coding on corpora where
  * cells are loose and the shared codebook plateaus (the measured sim7
  * recall ceiling). The seeded relational per-cell path ([[IvfPqIndex]])
  * carries the sim7 oracle; this is its trained production twin.
  */
final case class IvfPqCellPackedIndex(m: Int, dims: Int,
    centroids: DataFrame, codebooks: DataFrame, codes: DataFrame,
    assigns: Int = 1) {

  private lazy val centroidsLocal: graft.functions.CentroidsLocal =
    Similarity.collectCentroids(centroids)
  private lazy val cellCodebooksLocal: graft.functions.CellCodebooksLocal =
    Similarity.collectCellCodebooks(codebooks, m)

  def save(cat: graft.catalog.VersionedCatalog, name: String): Unit = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    cat.commit(Map(
      s"$name.centroids" -> centroids,
      s"$name.codebooks" -> codebooks,
      s"$name.codes" -> codes,
      s"$name.params" -> Seq((m, dims, assigns))
        .toDF("m", "dims", "assigns")))
    ()
  }

  /** Packed per-cell IVFADC top-k (see [[Similarity.ivfPqTopKCellPacked]]);
    * a multi-assigned index (assigns > 1) ranks each id by its best
    * estimate across probed host cells.
    */
  def probe(query: Seq[Float], k: Int, nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(query.length == dims,
      s"query has ${query.length} dims, index was built at $dims")
    Similarity.ivfPqTopKCellPacked(codes, centroidsLocal,
      cellCodebooksLocal, query, k, nprobe, idCol,
      dedupIds = assigns > 1)
  }

  /** Frozen-quantizer incremental ingest: kernel-assign + per-cell
    * kernel-encode the batch only, fresh ids enforced. A batch vector
    * assigning to a cell that was EMPTY at build time has no local
    * quantizer — that's a hard error (un-indexable under frozen per-cell
    * codebooks; rebuild, or use the shared-codebook index whose quantizer
    * covers every cell).
    */
  def addVectors(batch: DataFrame, idCol: String,
      vecCol: String): IvfPqCellPackedIndex = {
    Similarity.requireFreshIds(batch, codes, idCol, "addVectors")
    val residuals =
      if (assigns > 1)
        Similarity.ivfResidualsMultiFast(batch, idCol, vecCol, centroids,
          assigns)
      else Similarity.ivfResidualsFast(batch, idCol, vecCol, centroids)
    val enc = Similarity.ivfPqEncodeCellPacked(residuals, idCol,
      cellCodebooksLocal, dims)
    val orphan = enc.where(col("codes").isNull).limit(1).collect()
    require(orphan.isEmpty,
      s"addVectors: vector id ${orphan.headOption.map(_.get(0)).orNull} " +
        "assigns to a cell with no trained codebook — per-cell IVFADC " +
        "cannot encode it; rebuild the index over the extended corpus")
    copy(codes = codes.unionByName(enc))
  }
}

object IvfPqCellPackedIndex {

  /** Lloyd coarse + PER-CELL Lloyd residual PQs (one distributed loop
    * trains all kc·m codebooks), corpus assigned + encoded in one kernel
    * scan. `trainLimit` bounds the coarse Lloyd sample;
    * `perCellTrainLimit` bounds each cell's residual-PQ sample.
    * `assigns` > 1 stores each vector's codes in its `assigns` nearest
    * cells (SPANN-style redundant assignment — storage ×assigns, probe
    * recall at fixed nprobe up; each cell's codebook trains on
    * EVERYTHING it will store, replicas included).
    */
  def buildTrained(df: DataFrame, idCol: String, vecCol: String, kc: Int,
      m: Int, dims: Int, ksub: Int, iters: Int = 3,
      trainLimit: Option[Int] = None,
      perCellTrainLimit: Option[Int] = None,
      assigns: Int = 1): IvfPqCellPackedIndex = {
    val centroids =
      Similarity.ivfTrain(df, idCol, vecCol, kc, iters, trainLimit)
    val residuals =
      if (assigns > 1)
        Similarity.ivfResidualsMultiFast(df, idCol, vecCol, centroids,
          assigns)
      else Similarity.ivfResidualsFast(df, idCol, vecCol, centroids)
    val cb = Similarity.ivfPqTrainPerCell(residuals, idCol, m, dims, ksub,
      iters, perCellTrainLimit)
    IvfPqCellPackedIndex(m, dims, centroids, cb,
      Similarity.ivfPqEncodeCellPacked(residuals, idCol,
        Similarity.collectCellCodebooks(cb, m), dims), assigns)
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      cat: graft.catalog.VersionedCatalog,
      name: String): IvfPqCellPackedIndex = {
    val p = cat.read(spark, s"$name.params").head()
    IvfPqCellPackedIndex(p.getAs[Int]("m"), p.getAs[Int]("dims"),
      cat.read(spark, s"$name.centroids"),
      cat.read(spark, s"$name.codebooks"),
      cat.read(spark, s"$name.codes"),
      p.getAs[Int]("assigns"))
  }

  /** SEEDED per-cell build — the oracle-replayable twin of
    * [[buildTrained]]: coarse cells are the first `kc` corpus vectors by
    * id, each cell's residual codebook is its first `ksub` members under
    * the ([[Similarity.spreadKey]], id) ordering (code_id = rank 0..),
    * zero Lloyd refinement. Every step is deterministic, portable SQL —
    * the sim7c gate replays the WHOLE kernel pipeline (bounded keyed
    * collect sample, packed cell encode, packed ADC probe) in DuckDB —
    * while the plan shapes are exactly [[buildTrained]]'s production
    * shapes (corpus-independent build shuffle, map-only encode,
    * zero-shuffle probe).
    */
  def buildSeeded(df: DataFrame, idCol: String, vecCol: String, kc: Int,
      m: Int, dims: Int, ksub: Int): IvfPqCellPackedIndex = {
    val centroids = Similarity.ivfSeedCentroids(df, idCol, vecCol, kc)
    val residuals = Similarity.ivfResidualsFast(df, idCol, vecCol, centroids)
    val cb = Similarity.ivfPqTrainPerCell(residuals, idCol, m, dims, ksub,
      iters = 0, perCellTrainLimit = Some(ksub))
    IvfPqCellPackedIndex(m, dims, centroids, cb,
      Similarity.ivfPqEncodeCellPacked(residuals, idCol,
        Similarity.collectCellCodebooks(cb, m), dims))
  }
}
