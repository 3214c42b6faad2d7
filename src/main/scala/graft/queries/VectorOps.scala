package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.Similarity

/** Similarity-search operators over the `embeddings` table
  * (64-dim array<float>): brute-force cosine top-k baseline and the
  * LSH-bucketed ANN scale path. Oracles reproduce the exact ordered-fold
  * double arithmetic, so cosine values are bit-identical in DuckDB.
  */
object VectorOps {

  type Q = (SparkSession, String) => DataFrame

  private val DIMS = 64
  private val BITS = 8

  /** SQL for the ordered-fold dot product of list exprs `a`·`b`. */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${DIMS + 1}), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), " +
      s"(acc, x) -> acc + x)"

  private def sqlCosine(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  /** Ordered-fold dot product of two n-element list exprs (the slice-
    * sized twin of [[sqlDot]], for PQ subvectors).
    */
  private def sqlDotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${n + 1}), " +
      s"i -> CAST(($a)[i] AS DOUBLE) * CAST(($b)[i] AS DOUBLE))), " +
      s"(acc, x) -> acc + x)"

  /** SQL for the random-hyperplane LSH signature of list expr `v` —
    * mirrors Similarity.plane / Similarity.lshSignature bit for bit.
    */
  private def sqlLshSig(v: String): String = {
    val dotPlane = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, ${DIMS + 1}), dd -> CAST($v[dd] AS DOUBLE) * " +
      s"(CAST((bb * 2654435761 + (dd - 1) * 40503 + 97) % 10007 AS DOUBLE) " +
      s"/ 5003.5 - 1.0))), (acc, x) -> acc + x)"
    s"list_sum(list_transform(range(0, $BITS), bb -> " +
      s"CASE WHEN $dotPlane >= 0.0 THEN CAST(1 AS BIGINT) << bb " +
      s"ELSE CAST(0 AS BIGINT) END))"
  }

  /** Materialized CTE chain rotating every embedding ONCE: `v0` casts to
    * double, `r0`/`rv` apply Householder steps 0 and 1 (plane index
    * `1000 + k`, mirroring Similarity.householderUs/rotateExpr bit for
    * bit — v[i] − u[i]·(2(u·v)/(u·u)), every fold in index order, every
    * u component regenerated arithmetically from the integer mix).
    * MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
    * downstream corpus×codebook cross join would re-expand the whole
    * nested fold per row per element — a >10^10-op blowup that never
    * finishes. One step per CTE with the scalar `s` hoisted keeps cost
    * linear; values are unchanged (only the recompute count drops).
    */
  private def sqlRotCtes: String = {
    def u(k: Int)(i: String) =
      s"(CAST((${1000 + k} * 2654435761 + ($i - 1) * 40503 + 97) % 10007 " +
        s"AS DOUBLE) / 5003.5 - 1.0)"
    def fold(body: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, ${DIMS + 1}), i -> $body)), " +
        s"(acc, x) -> acc + x)"
    def step(src: String, k: Int, dst: String): String = {
      val duv = fold(s"remb[i] * ${u(k)("i")}")
      val uu = fold(s"${u(k)("i")} * ${u(k)("i")}")
      s"$dst AS MATERIALIZED (\n" +
        s"  SELECT vec_id, list_transform(range(1, ${DIMS + 1}), " +
        s"i -> remb[i] - ${u(k)("i")} * s) AS remb\n" +
        s"  FROM (SELECT vec_id, remb, (2.0 * ($duv)) / ($uu) AS s " +
        s"FROM $src))"
    }
    s"v0 AS MATERIALIZED (\n" +
      s"  SELECT vec_id, list_transform(embedding, " +
      s"x -> CAST(x AS DOUBLE)) AS remb FROM embeddings),\n" +
      step("v0", 0, "r0") + ",\n" + step("r0", 1, "rv")
  }

  /** The corpus query vector: embedding of vec_id = 0 (collected once at
    * plan-build; a single 64-float row).
    */
  private def queryVec(s: SparkSession, d: String): Seq[Float] = {
    import s.implicits._
    embeddings(s, d).where($"vec_id" === 0L).select($"embedding")
      .head().getSeq[Float](0)
  }

  val queries: Map[String, Q] = Map(
    // brute-force exact cosine top-k (baseline): scan + local top-k
    "sim1_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), "vec_id", "embedding",
        queryVec(s, d), 20)),

    // LSH-bucketed ANN top-k (scale path): probe one bucket only
    "sim2_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(embeddings(s, d), "vec_id", "embedding",
        queryVec(s, d), BITS, 20)),

    // multi-probe LSH ANN: query bucket + all 1-bit-flip neighbors
    "sim2b_lsh_multiprobe" -> ((s, d) =>
      Similarity.lshTopKMultiProbe(embeddings(s, d), "vec_id", "embedding",
        queryVec(s, d), BITS, 20)),

    // LSH all-pairs near-neighbors with exact cosine verification
    "sim3_lsh_pairs" -> ((s, d) =>
      Similarity.lshNearPairs(embeddings(s, d), "vec_id", "embedding",
        BITS, DIMS, 0.3)),

    // embedding-cosine near-dup (exact all-pairs baseline for dedup —
    // the LSH-bucketed variant above is the scale path)
    "dd4_embed_neardup" -> ((s, d) =>
      Similarity.exactNearPairs(embeddings(s, d), "vec_id", "embedding", 0.4)),

    // IVF ANN top-k: deterministic seeded coarse quantizer (first 16
    // vectors by id; SQL-expressible, so the full probe path has an exact
    // oracle), probe the 4 nearest cells. Lloyd-refined k-means training
    // stays spec-tested in SimilaritySpec (iterative means aren't
    // order-independent, so that variant can't be bit-matched in SQL).
    "sim4_ivf_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      val centroids =
        Similarity.ivfSeedCentroids(e, "vec_id", "embedding", 16).cache()
      val assignments = Similarity.assign(e, "vec_id", "embedding", centroids)
      Similarity.ivfTopK(e, "vec_id", "embedding", centroids, assignments,
        queryVec(s, d), k = 20, nprobe = 4)
    }),

    // PQ (product-quantization) ANN top-k: deterministic seeded
    // per-subspace codebooks (subvectors of the first 16 vectors by id —
    // SQL-expressible like sim4's quantizer), corpus encoded to 4 codes
    // per vector, asymmetric-distance probe over the CODES only. k=30 >
    // the 16-way quantization's tie plateau so the id tie-break keeps
    // the cut deterministic
    "sim6_pq_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      val idx = graft.ops.PqIndex.build(e, "vec_id", "embedding",
        m = 4, dims = DIMS, ksub = 16)
      idx.probe(queryVec(s, d), k = 30)
    }),

    // IVF-PQ composed ANN (IVFADC): seeded coarse cells (first 8 vectors
    // by id) + per-cell seeded PQ codebooks on RESIDUALS (each cell's
    // first 8 members by id), probe = 2 nearest cells × one ADC table
    // per cell over codes only. Every step deterministic and
    // SQL-expressible, so the composed probe has an exact oracle
    "sim7_ivfpq_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      val idx = graft.ops.IvfPqIndex.build(e, "vec_id", "embedding",
        kc = 8, m = 4, dims = DIMS, ksub = 8)
      idx.probe(queryVec(s, d), k = 30, nprobe = 2)
    }),

    // per-cell IVFADC through the PACKED KERNEL pipeline (the production
    // path: bounded-keyed-collect per-cell sample, kernel cell encode to
    // packed codes, per-cell ADC tables, zero-shuffle probe) with SEEDED
    // quantizers so every step stays SQL-replayable: coarse cells = first
    // 8 vectors by id (sim7's), per-cell codebooks = each cell's first 8
    // members under the (spreadKey, id) ordering with code_id = rank.
    // This gate covers exactly what sim7's relational oracle does NOT:
    // BoundedCollect sampling, PqCodesCell, AdcDistCell, and the packed
    // probe's driver-side cell ranking
    "sim7c_ivfpq_cell" -> ((s, d) => {
      val e = embeddings(s, d)
      val idx = graft.ops.IvfPqCellPackedIndex.buildSeeded(
        e, "vec_id", "embedding", kc = 8, m = 4, dims = DIMS, ksub = 8)
      idx.probe(queryVec(s, d), k = 30, nprobe = 2)
    }),

    // rotated PQ (OPQ-lite): a seeded orthogonal pre-rotation mixes
    // dimensions across subspace boundaries before the per-subspace
    // quantizers cut them apart, then the plain sim6 PQ pipeline runs in
    // rotated space (isometry keeps ADC rankings honest). Rotation is
    // deterministic (not data-trained) so the whole probe keeps an exact
    // oracle; the query rotates driver-side with the same IEEE op order
    "sim8_rpq_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      val us = Similarity.householderUs(2, DIMS)
      // rotated(), not rotateExpr: the corpus-scale form hoists the
      // per-step scalar behind a plan barrier (O(dims) per row; the
      // nested expression form is O(dims³) per row per reference)
      val rot = Similarity.rotated(
        e.select(col("vec_id"), col("embedding").as("remb")), "remb", us)
      val idx = graft.ops.PqIndex.build(rot, "vec_id", "remb",
        m = 4, dims = DIMS, ksub = 16)
      val rq = Similarity.rotateVec(queryVec(s, d).map(_.toDouble), us)
      Similarity.pqTopKD(idx.codes, idx.codebooks, rq, m = 4, k = 30)
    }),

    // ANN shortlist + exact re-rank: the sim6 PQ probe cuts the corpus
    // to 60 candidates by approximate distance, then the TRUE cosine is
    // computed over those candidates' raw vectors only — the standard
    // production refinement that undoes quantization reorderings near
    // the top-k cut
    // hard-negative mining (contrastive training): for each of 4 labeled
    // anchors, the 10 most-similar corpus vectors with a DIFFERENT label,
    // probed through the IVF index as one centroid-cell equi-join — the
    // batched-ANN shape (anchors × corpus never cross-joins; per-anchor
    // top-k is one rank window on the anchor key)
    "sim10_hard_negatives" -> ((s, d) => {
      val e = embeddings(s, d)
      import s.implicits._
      val centroids =
        Similarity.ivfSeedCentroids(e, "vec_id", "embedding", 16).cache()
      val assignments = Similarity.assign(e, "vec_id", "embedding", centroids)
      Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        centroids, assignments, e.where($"vec_id" < 4), k = 10, nprobe = 4)
    }),

    "sim9_rerank" -> ((s, d) => {
      val e = embeddings(s, d)
      val idx = graft.ops.PqIndex.build(e, "vec_id", "embedding",
        m = 4, dims = DIMS, ksub = 16)
      val q = queryVec(s, d)
      Similarity.rerankTopK(idx.probe(q, k = 60), e, "vec_id", "embedding",
        q, k = 20)
    }),

    // SQ8 scalar-quantized ANN: per-dim affine int8 codes (1 B/dim — the
    // storage point between raw floats and PQ codes), probe = squared L2
    // against the DECODED codes over the code table only. Training
    // (per-dim min/max) is order-independent, so the whole
    // train→encode→probe chain has an exact oracle
    "sim11_sq_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      val (mn, mx) = Similarity.sqParams(e, "embedding", DIMS)
      val codes = Similarity.sqEncode(e, "vec_id", "embedding", mn, mx)
      Similarity.sqTopK(codes, mn, mx, queryVec(s, d), k = 30)
    }),

    // embedding-space semantic dedup (SemDeDup): IVF cells localize the
    // search, in-cell lower-id docs closer than 0.4 cosine drop a doc —
    // the meaning-level twin of the lexical MinHash dedup pipeline
    "dd17_semdedup" -> ((s, d) => {
      val e = embeddings(s, d)
      // cells by the map-only argmax kernel, bit-identical to the
      // relational assign (spec-pinned) — the oracle hash is the proof
      Similarity.semDedup(e, "vec_id", "embedding",
        Similarity.ivfSeedCentroids(e, "vec_id", "embedding", 16),
        threshold = 0.4)
    }),

    // the worst-case cell GUARD oracle-gated: same semantics as dd17
    // (the keep rule is untouched — the guard only re-layouts the pair
    // scan into bounded bucket-pair join groups), run with a bound small
    // enough that every real cell SPLITS at gate scale. Shares dd17's
    // oracle verbatim: hash-equality IS the proof the guard preserves
    // the keep set
    "dd17e_semdedup_guard" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.semDedup(e, "vec_id", "embedding",
        Similarity.ivfSeedCentroids(e, "vec_id", "embedding", 16),
        threshold = 0.4, maxCellRows = Some(64))
    }),

    // cluster-balanced corpus draw (topic balance): nearest seeded
    // centroid per embedding, equal per-cluster quota in deterministic
    // hash order — the embedding-space twin of per-source mixture
    // sampling
    "ts34_cluster_sample" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.clusterBalancedSample(
        graft.Tables.documents(s, d), "doc_id", e, "vec_id", "embedding",
        Similarity.ivfSeedCentroids(e, "vec_id", "embedding", 8),
        quota = 10)
    }),

    // per-label embedding pooling (mean-pool modulo the final divide) in
    // FIXED POINT: floor(x * 1e6) per dimension, then an exact integer
    // sum — float sums are order-dependent, so the deterministic form is
    // the one that scales (partial aggregation + one shuffle on
    // (label, dim))
    "sim5_label_pool" -> ((s, d) => {
      import s.implicits._
      embeddings(s, d)
        .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
        .groupBy($"label", $"dim")
        .agg(sum(floor($"x".cast("double") * 1e6)).as("sum_fp"),
          count(lit(1)).as("n"))
    })
  )

  /** The dd17 SemDeDup oracle — shared verbatim by dd17e (the guarded
    * engine path keeps the keep rule bit-identical).
    */
  private def semDedupSql: String =
    s"""WITH c AS (SELECT vec_id AS centroid_id,
       |                  list_transform(embedding,
       |                    x -> CAST(x AS DOUBLE)) AS centroid
       |           FROM embeddings ORDER BY vec_id LIMIT 16),
       |a AS (SELECT vec_id, centroid_id FROM (
       |        SELECT e.vec_id, c.centroid_id,
       |               row_number() OVER (PARTITION BY e.vec_id
       |                 ORDER BY ${sqlCosine("e.embedding", "c.centroid")}
       |                   DESC, c.centroid_id) AS rn
       |        FROM embeddings e CROSS JOIN c) WHERE rn = 1),
       |w AS (SELECT e.vec_id, e.embedding, a.centroid_id
       |      FROM embeddings e JOIN a USING (vec_id)),
       |d AS (SELECT DISTINCT y.vec_id
       |      FROM w x JOIN w y ON x.centroid_id = y.centroid_id
       |        AND x.vec_id < y.vec_id
       |      WHERE ${sqlCosine("x.embedding", "y.embedding")} >= 0.4)
       |SELECT w.vec_id, w.centroid_id FROM w
       |LEFT JOIN d USING (vec_id) WHERE d.vec_id IS NULL""".stripMargin

  val oracles: Map[String, String] = Map(
    // SQ8: per-dim min/max (exact order-independent aggregates), code =
    // clamp(round((v − mn)·(255/(mx − mn)))) with constant dims → 0,
    // probe = ordered-fold squared L2 against the decoded codes —
    // identical IEEE op sequence to the engine
    "sim11_sq_topk" ->
      s"""WITH s AS (
         |  SELECT dim, min(x) AS mn, max(x) AS mx
         |  FROM (SELECT generate_subscripts(embedding, 1) AS dim,
         |          CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)
         |  GROUP BY 1),
         |p AS (SELECT list(mn ORDER BY dim) AS mns,
         |             list(mx ORDER BY dim) AS mxs FROM s),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (
         |  SELECT vec_id, list_transform(range(1, ${DIMS + 1}), i ->
         |    CASE WHEN mxs[i] = mns[i] THEN 0
         |         ELSE least(255, greatest(0, CAST(round(
         |           (CAST(embedding[i] AS DOUBLE) - mns[i]) *
         |           (255.0 / (mxs[i] - mns[i]))) AS BIGINT))) END) AS codes
         |  FROM embeddings CROSS JOIN p)
         |SELECT vec_id, list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, ${DIMS + 1}), i ->
         |    (CAST(qv[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) *
         |       ((mxs[i] - mns[i]) / 255.0))) *
         |    (CAST(qv[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) *
         |       ((mxs[i] - mns[i]) / 255.0))))),
         |  (acc, x) -> acc + x) AS adist
         |FROM c CROSS JOIN p CROSS JOIN q
         |ORDER BY adist, vec_id LIMIT 30""".stripMargin,

    // sim4's seeded-centroid assignment + ts13's deterministic
    // hash-order window, partitioned by cluster
    "ts34_cluster_sample" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id,
         |                  list_transform(embedding,
         |                    x -> CAST(x AS DOUBLE)) AS centroid
         |           FROM embeddings ORDER BY vec_id LIMIT 8),
         |a AS (SELECT vec_id, centroid_id FROM (
         |        SELECT e.vec_id, c.centroid_id,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY ${sqlCosine("e.embedding", "c.centroid")}
         |                   DESC, c.centroid_id) AS rn
         |        FROM embeddings e CROSS JOIN c) WHERE rn = 1)
         |SELECT doc_id, centroid_id, rnk FROM (
         |  SELECT d.doc_id, a.centroid_id,
         |         CAST(row_number() OVER (PARTITION BY a.centroid_id
         |           ORDER BY ((d.doc_id % 1000003) * 2654435761) % 1000003,
         |                    d.doc_id) AS INTEGER) AS rnk
         |  FROM documents d JOIN a ON d.doc_id = a.vec_id) t
         |WHERE rnk <= 10""".stripMargin,

    "sim5_label_pool" ->
      """SELECT label, dim,
        |  CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |    AS BIGINT) AS sum_fp,
        |  count(*) AS n
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |        unnest(embedding) AS x
        |      FROM embeddings)
        |GROUP BY 1, 2""".stripMargin,

    "sim1_cosine_topk" ->
      s"""SELECT vec_id, ${sqlCosine("e.embedding", "q.qv")} AS cos
         |FROM embeddings e
         |CROSS JOIN (SELECT embedding AS qv FROM embeddings
         |            WHERE vec_id = 0) q
         |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "sim2_lsh_topk" ->
      s"""WITH q AS (SELECT embedding AS qv, ${sqlLshSig("embedding")} AS qsig
         |           FROM embeddings WHERE vec_id = 0),
         |b AS (SELECT vec_id, embedding, ${sqlLshSig("embedding")} AS sig
         |      FROM embeddings)
         |SELECT vec_id, ${sqlCosine("b.embedding", "q.qv")} AS cos
         |FROM b CROSS JOIN q WHERE b.sig = q.qsig
         |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "sim2b_lsh_multiprobe" ->
      s"""WITH q AS (SELECT embedding AS qv, ${sqlLshSig("embedding")} AS qsig
         |           FROM embeddings WHERE vec_id = 0),
         |b AS (SELECT vec_id, embedding, ${sqlLshSig("embedding")} AS sig
         |      FROM embeddings)
         |SELECT vec_id, ${sqlCosine("b.embedding", "q.qv")} AS cos
         |FROM b CROSS JOIN q
         |WHERE b.sig = q.qsig OR len(list_filter(range(0, $BITS),
         |      i -> b.sig = xor(q.qsig, CAST(1 AS BIGINT) << i))) > 0
         |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "sim3_lsh_pairs" ->
      s"""WITH bk AS (SELECT vec_id, embedding, ${sqlLshSig("embedding")} AS sig
         |            FROM embeddings)
         |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |       ${sqlCosine("x.embedding", "y.embedding")} AS cos
         |FROM bk x JOIN bk y ON x.sig = y.sig AND x.vec_id < y.vec_id
         |WHERE ${sqlCosine("x.embedding", "y.embedding")} >= 0.3""".stripMargin,

    "dd4_embed_neardup" ->
      s"""SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |       ${sqlCosine("x.embedding", "y.embedding")} AS cos
         |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
         |WHERE ${sqlCosine("x.embedding", "y.embedding")} >= 0.4""".stripMargin,

    // seeded-codebook PQ: subspace j's codebook = dims [16j+1, 16j+16] of
    // the first 16 vectors by id; encode = per-(vector, subspace) argmin
    // of |c|^2 - 2 v_j . c; probe = sum of the 4 per-subspace exact
    // squared L2 table lookups, fixed addition order
    "sim6_pq_topk" -> {
      val sub = (e: String) => s"list_slice($e, sub*16+1, sub*16+16)"
      val n2c = sqlDotN("centroid", "centroid", 16)
      s"""WITH cb AS (
         |  SELECT t.sub, s.vec_id AS centroid_id,
         |         list_transform(list_slice(s.embedding, t.sub*16+1,
         |             t.sub*16+16), x -> CAST(x AS DOUBLE)) AS centroid
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16) s
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) t),
         |codes AS (
         |  SELECT vec_id, sub, centroid_id AS code FROM (
         |    SELECT e.vec_id, cb.sub, cb.centroid_id,
         |           row_number() OVER (PARTITION BY e.vec_id, cb.sub
         |             ORDER BY ($n2c) - (2.0 *
         |               (${sqlDotN(sub("e.embedding"), "centroid", 16)})),
         |               cb.centroid_id) AS rn
         |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dt AS (
         |  SELECT sub, centroid_id AS code,
         |         (($n2c) - (2.0 *
         |            (${sqlDotN(sub("q.qv"), "centroid", 16)})))
         |           + (${sqlDotN(sub("q.qv"), sub("q.qv"), 16)}) AS dj
         |  FROM cb CROSS JOIN q),
         |ad AS (
         |  SELECT c.vec_id,
         |         max(CASE WHEN c.sub = 0 THEN dt.dj END) AS d0,
         |         max(CASE WHEN c.sub = 1 THEN dt.dj END) AS d1,
         |         max(CASE WHEN c.sub = 2 THEN dt.dj END) AS d2,
         |         max(CASE WHEN c.sub = 3 THEN dt.dj END) AS d3
         |  FROM codes c JOIN dt ON c.sub = dt.sub AND c.code = dt.code
         |  GROUP BY c.vec_id)
         |SELECT vec_id, ((d0 + d1) + d2) + d3 AS adist
         |FROM ad ORDER BY adist, vec_id LIMIT 30""".stripMargin
    },

    // ANN + exact rerank: the sim6 chain cut at 60 by approximate
    // distance, then exact cosine over the shortlist's raw vectors
    // same seeded-centroid + assignment CTEs as sim4; anchors vec_id<4,
    // per-anchor nprobe=4 cells, label-mismatch filter, per-anchor top-10
    "sim10_hard_negatives" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id,
         |                  list_transform(embedding,
         |                    x -> CAST(x AS DOUBLE)) AS centroid
         |           FROM embeddings ORDER BY vec_id LIMIT 16),
         |a AS (SELECT vec_id, centroid_id FROM (
         |        SELECT e.vec_id, c.centroid_id,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY ${sqlCosine("e.embedding", "c.centroid")}
         |                   DESC, c.centroid_id) AS rn
         |        FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |anch AS (SELECT vec_id AS anchor_id, embedding AS anchor_vec,
         |                label AS anchor_label
         |         FROM embeddings WHERE vec_id < 4),
         |p AS (SELECT anchor_id, anchor_vec, anchor_label, centroid_id
         |      FROM (
         |        SELECT anch.anchor_id, anch.anchor_vec, anch.anchor_label,
         |               c.centroid_id,
         |               row_number() OVER (PARTITION BY anch.anchor_id
         |                 ORDER BY
         |                   ${sqlCosine("anch.anchor_vec", "c.centroid")}
         |                   DESC, c.centroid_id) AS rn
         |        FROM anch CROSS JOIN c) WHERE rn <= 4)
         |SELECT anchor_id, vec_id, cos, rnk FROM (
         |  SELECT p.anchor_id, e.vec_id,
         |         ${sqlCosine("e.embedding", "p.anchor_vec")} AS cos,
         |         CAST(row_number() OVER (PARTITION BY p.anchor_id
         |           ORDER BY ${sqlCosine("e.embedding", "p.anchor_vec")}
         |             DESC, e.vec_id) AS INTEGER) AS rnk
         |  FROM embeddings e
         |  JOIN a ON e.vec_id = a.vec_id
         |  JOIN p ON a.centroid_id = p.centroid_id
         |  WHERE e.label <> p.anchor_label) t
         |WHERE rnk <= 10""".stripMargin,

    "sim9_rerank" -> {
      val sub = (e: String) => s"list_slice($e, sub*16+1, sub*16+16)"
      val n2c = sqlDotN("centroid", "centroid", 16)
      s"""WITH cb AS (
         |  SELECT t.sub, s.vec_id AS centroid_id,
         |         list_transform(list_slice(s.embedding, t.sub*16+1,
         |             t.sub*16+16), x -> CAST(x AS DOUBLE)) AS centroid
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 16) s
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) t),
         |codes AS (
         |  SELECT vec_id, sub, centroid_id AS code FROM (
         |    SELECT e.vec_id, cb.sub, cb.centroid_id,
         |           row_number() OVER (PARTITION BY e.vec_id, cb.sub
         |             ORDER BY ($n2c) - (2.0 *
         |               (${sqlDotN(sub("e.embedding"), "centroid", 16)})),
         |               cb.centroid_id) AS rn
         |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dt AS (
         |  SELECT sub, centroid_id AS code,
         |         (($n2c) - (2.0 *
         |            (${sqlDotN(sub("q.qv"), "centroid", 16)})))
         |           + (${sqlDotN(sub("q.qv"), sub("q.qv"), 16)}) AS dj
         |  FROM cb CROSS JOIN q),
         |ad AS (
         |  SELECT c.vec_id,
         |         max(CASE WHEN c.sub = 0 THEN dt.dj END) AS d0,
         |         max(CASE WHEN c.sub = 1 THEN dt.dj END) AS d1,
         |         max(CASE WHEN c.sub = 2 THEN dt.dj END) AS d2,
         |         max(CASE WHEN c.sub = 3 THEN dt.dj END) AS d3
         |  FROM codes c JOIN dt ON c.sub = dt.sub AND c.code = dt.code
         |  GROUP BY c.vec_id),
         |short AS (SELECT vec_id, ((d0 + d1) + d2) + d3 AS adist
         |          FROM ad ORDER BY adist, vec_id LIMIT 60)
         |SELECT e.vec_id, ${sqlCosine("e.embedding", "q.qv")} AS cos
         |FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
         |ORDER BY cos DESC, e.vec_id LIMIT 20""".stripMargin
    },

    // SemDeDup: sim4's seeded cells, then a doc drops iff a lower-id
    // in-cell doc sits at cosine >= 0.4
    "dd17_semdedup" -> semDedupSql,

    // the guarded engine path must reproduce the identical keep set —
    // the guard is a work layout, not a semantics change
    "dd17e_semdedup_guard" -> semDedupSql,

    // rotated PQ: the sim6 chain verbatim, over Householder-rotated
    // vectors (rv) and the rotated query (q reads rv, so the rotation
    // arithmetic is shared); slices need no cast — rv is already double
    "sim8_rpq_topk" -> {
      val sub = (e: String) => s"list_slice($e, sub*16+1, sub*16+16)"
      val n2c = sqlDotN("centroid", "centroid", 16)
      s"""WITH $sqlRotCtes,
         |cb AS (
         |  SELECT t.sub, s.vec_id AS centroid_id,
         |         list_slice(s.remb, t.sub*16+1, t.sub*16+16) AS centroid
         |  FROM (SELECT vec_id, remb FROM rv ORDER BY vec_id LIMIT 16) s
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) t),
         |codes AS (
         |  SELECT vec_id, sub, centroid_id AS code FROM (
         |    SELECT e.vec_id, cb.sub, cb.centroid_id,
         |           row_number() OVER (PARTITION BY e.vec_id, cb.sub
         |             ORDER BY ($n2c) - (2.0 *
         |               (${sqlDotN(sub("e.remb"), "centroid", 16)})),
         |               cb.centroid_id) AS rn
         |    FROM rv e CROSS JOIN cb) WHERE rn = 1),
         |q AS (SELECT remb AS qv FROM rv WHERE vec_id = 0),
         |dt AS (
         |  SELECT sub, centroid_id AS code,
         |         (($n2c) - (2.0 *
         |            (${sqlDotN(sub("q.qv"), "centroid", 16)})))
         |           + (${sqlDotN(sub("q.qv"), sub("q.qv"), 16)}) AS dj
         |  FROM cb CROSS JOIN q),
         |ad AS (
         |  SELECT c.vec_id,
         |         max(CASE WHEN c.sub = 0 THEN dt.dj END) AS d0,
         |         max(CASE WHEN c.sub = 1 THEN dt.dj END) AS d1,
         |         max(CASE WHEN c.sub = 2 THEN dt.dj END) AS d2,
         |         max(CASE WHEN c.sub = 3 THEN dt.dj END) AS d3
         |  FROM codes c JOIN dt ON c.sub = dt.sub AND c.code = dt.code
         |  GROUP BY c.vec_id)
         |SELECT vec_id, ((d0 + d1) + d2) + d3 AS adist
         |FROM ad ORDER BY adist, vec_id LIMIT 30""".stripMargin
    },

    // composed IVF-PQ (IVFADC): coarse cells = first 8 vectors by id,
    // per-cell codebooks = residual slices of each cell's first 8
    // members, probe = 2 nearest cells, ADC per cell on the query's
    // residual — every arithmetic step in the same ordered-fold form
    "sim7_ivfpq_topk" -> {
      val n2cw = sqlDotN("codeword", "codeword", 16)
      val rsub = (e: String) => s"list_slice($e, sub*16+1, sub*16+16)"
      s"""WITH c AS (SELECT vec_id AS centroid_id,
         |                  list_transform(embedding,
         |                    x -> CAST(x AS DOUBLE)) AS centroid
         |           FROM embeddings ORDER BY vec_id LIMIT 8),
         |a AS (SELECT vec_id, centroid_id FROM (
         |        SELECT e.vec_id, c.centroid_id,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY ${sqlCosine("e.embedding", "c.centroid")}
         |                   DESC, c.centroid_id) AS rn
         |        FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |r AS (SELECT e.vec_id, a.centroid_id,
         |             list_transform(range(1, ${DIMS + 1}),
         |               i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
         |               AS resid
         |      FROM embeddings e
         |      JOIN a USING (vec_id) JOIN c USING (centroid_id)),
         |seeds AS (SELECT centroid_id, vec_id AS code_id, resid FROM (
         |            SELECT r.*, row_number() OVER (PARTITION BY centroid_id
         |                     ORDER BY vec_id) AS rn FROM r) WHERE rn <= 8),
         |cb AS (SELECT s.centroid_id, t.sub, s.code_id,
         |              list_slice(s.resid, t.sub*16+1, t.sub*16+16)
         |                AS codeword
         |       FROM seeds s
         |       CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) t),
         |codes AS (SELECT vec_id, centroid_id, sub, code_id AS code FROM (
         |            SELECT r.vec_id, r.centroid_id, cb.sub, cb.code_id,
         |                   row_number() OVER (PARTITION BY r.vec_id, cb.sub
         |                     ORDER BY ($n2cw) - (2.0 *
         |                       (${sqlDotN(rsub("r.resid"), "codeword", 16)})),
         |                       cb.code_id) AS rn
         |            FROM r JOIN cb ON r.centroid_id = cb.centroid_id)
         |          WHERE rn = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |p AS (SELECT c.centroid_id,
         |             list_transform(range(1, ${DIMS + 1}),
         |               i -> CAST(q.qv[i] AS DOUBLE) - c.centroid[i]) AS rq
         |      FROM c CROSS JOIN q
         |      ORDER BY ${sqlCosine("c.centroid", "q.qv")} DESC, c.centroid_id
         |      LIMIT 2),
         |dt AS (SELECT cb.centroid_id, cb.sub, cb.code_id AS code,
         |              (($n2cw) - (2.0 *
         |                 (${sqlDotN(rsub("p.rq"), "codeword", 16)})))
         |                + (${sqlDotN(rsub("p.rq"), rsub("p.rq"), 16)}) AS dj
         |       FROM cb JOIN p USING (centroid_id)),
         |ad AS (SELECT co.vec_id,
         |              max(CASE WHEN co.sub = 0 THEN dt.dj END) AS d0,
         |              max(CASE WHEN co.sub = 1 THEN dt.dj END) AS d1,
         |              max(CASE WHEN co.sub = 2 THEN dt.dj END) AS d2,
         |              max(CASE WHEN co.sub = 3 THEN dt.dj END) AS d3
         |       FROM codes co JOIN dt ON co.centroid_id = dt.centroid_id
         |         AND co.sub = dt.sub AND co.code = dt.code
         |       GROUP BY co.vec_id)
         |SELECT vec_id, ((d0 + d1) + d2) + d3 AS adist
         |FROM ad ORDER BY adist, vec_id LIMIT 30""".stripMargin
    },

    // per-cell IVFADC (packed kernel path): sim7's oracle with ONE
    // change — seeds rank by the spreadKey Weyl mix ((id % P)·A % P,
    // P = 2^31−1, A = 1327217884) instead of raw id, and code_id is the
    // dense rank 0.. (the trained-build contract), so the bounded keyed
    // collect, kernel encode, and packed ADC probe all replay exactly
    "sim7c_ivfpq_cell" -> {
      val n2cw = sqlDotN("codeword", "codeword", 16)
      val rsub = (e: String) => s"list_slice($e, sub*16+1, sub*16+16)"
      s"""WITH c AS (SELECT vec_id AS centroid_id,
         |                  list_transform(embedding,
         |                    x -> CAST(x AS DOUBLE)) AS centroid
         |           FROM embeddings ORDER BY vec_id LIMIT 8),
         |a AS (SELECT vec_id, centroid_id FROM (
         |        SELECT e.vec_id, c.centroid_id,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY ${sqlCosine("e.embedding", "c.centroid")}
         |                   DESC, c.centroid_id) AS rn
         |        FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |r AS (SELECT e.vec_id, a.centroid_id,
         |             list_transform(range(1, ${DIMS + 1}),
         |               i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
         |               AS resid
         |      FROM embeddings e
         |      JOIN a USING (vec_id) JOIN c USING (centroid_id)),
         |seeds AS (SELECT centroid_id, rn - 1 AS code_id, resid FROM (
         |            SELECT r.*, row_number() OVER (PARTITION BY centroid_id
         |                     ORDER BY ((vec_id % 2147483647) * 1327217884)
         |                       % 2147483647, vec_id) AS rn FROM r)
         |          WHERE rn <= 8),
         |cb AS (SELECT s.centroid_id, t.sub, s.code_id,
         |              list_slice(s.resid, t.sub*16+1, t.sub*16+16)
         |                AS codeword
         |       FROM seeds s
         |       CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) t),
         |codes AS (SELECT vec_id, centroid_id, sub, code_id AS code FROM (
         |            SELECT r.vec_id, r.centroid_id, cb.sub, cb.code_id,
         |                   row_number() OVER (PARTITION BY r.vec_id, cb.sub
         |                     ORDER BY ($n2cw) - (2.0 *
         |                       (${sqlDotN(rsub("r.resid"), "codeword", 16)})),
         |                       cb.code_id) AS rn
         |            FROM r JOIN cb ON r.centroid_id = cb.centroid_id)
         |          WHERE rn = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |p AS (SELECT c.centroid_id,
         |             list_transform(range(1, ${DIMS + 1}),
         |               i -> CAST(q.qv[i] AS DOUBLE) - c.centroid[i]) AS rq
         |      FROM c CROSS JOIN q
         |      ORDER BY ${sqlCosine("c.centroid", "q.qv")} DESC, c.centroid_id
         |      LIMIT 2),
         |dt AS (SELECT cb.centroid_id, cb.sub, cb.code_id AS code,
         |              (($n2cw) - (2.0 *
         |                 (${sqlDotN(rsub("p.rq"), "codeword", 16)})))
         |                + (${sqlDotN(rsub("p.rq"), rsub("p.rq"), 16)}) AS dj
         |       FROM cb JOIN p USING (centroid_id)),
         |ad AS (SELECT co.vec_id,
         |              max(CASE WHEN co.sub = 0 THEN dt.dj END) AS d0,
         |              max(CASE WHEN co.sub = 1 THEN dt.dj END) AS d1,
         |              max(CASE WHEN co.sub = 2 THEN dt.dj END) AS d2,
         |              max(CASE WHEN co.sub = 3 THEN dt.dj END) AS d3
         |       FROM codes co JOIN dt ON co.centroid_id = dt.centroid_id
         |         AND co.sub = dt.sub AND co.code = dt.code
         |       GROUP BY co.vec_id)
         |SELECT vec_id, ((d0 + d1) + d2) + d3 AS adist
         |FROM ad ORDER BY adist, vec_id LIMIT 30""".stripMargin
    },

    // seeded-quantizer IVF: centroids = first 16 vectors by id, nearest
    // cell per vector (cos DESC, centroid_id tie-break), probe the 4
    // cells nearest the query, exact cosine rank within them
    "sim4_ivf_topk" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id,
         |                  list_transform(embedding,
         |                    x -> CAST(x AS DOUBLE)) AS centroid
         |           FROM embeddings ORDER BY vec_id LIMIT 16),
         |a AS (SELECT vec_id, centroid_id FROM (
         |        SELECT e.vec_id, c.centroid_id,
         |               row_number() OVER (PARTITION BY e.vec_id
         |                 ORDER BY ${sqlCosine("e.embedding", "c.centroid")}
         |                   DESC, c.centroid_id) AS rn
         |        FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |p AS (SELECT centroid_id FROM c CROSS JOIN q
         |      ORDER BY ${sqlCosine("c.centroid", "q.qv")} DESC, centroid_id
         |      LIMIT 4)
         |SELECT e.vec_id, ${sqlCosine("e.embedding", "q.qv")} AS cos
         |FROM embeddings e
         |JOIN a ON e.vec_id = a.vec_id
         |JOIN p ON a.centroid_id = p.centroid_id
         |CROSS JOIN q
         |ORDER BY cos DESC, e.vec_id LIMIT 20""".stripMargin
  )
}
