package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Property-based bit-parity of the quantization kernels against the
  * relational quantizer steps, over randomized corpora and codebooks
  * with adversarial structure injected on purpose:
  *
  *  - DUPLICATED codewords/centroids under different ids — forces exact
  *    score ties, so the lowest-id tie-break is exercised on every trial
  *    (random floats alone never tie);
  *  - a zero-norm vector AND a zero-norm centroid — forces the
  *    NaN-cosine → −∞ path on both sides of the argmax;
  *  - duplicated corpus vectors — identical rows must encode identically
  *    through both paths.
  *
  * Fixed seed: reproducible. Parity is asserted on full row sets (and
  * full RANKINGS with adist bits, not just top-k membership).
  */
class QuantKernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(0x5eedL)

  private def mkVec(dims: Int): Seq[Float] =
    Seq.fill(dims)((rnd.nextGaussian() * 2).toFloat)

  test("kernel assign / encode / ADC rank match the relational forms " +
      "over randomized corpora with ties and degenerate vectors") {
    for (trial <- 1 to 6) {
      val dims = Seq(4, 8, 16)(trial % 3)
      val m = Seq(2, 4)(trial % 2)
      val ksub = 2 + rnd.nextInt(6)
      val n = 30
      // corpus: random vectors + one zero vector + a duplicated pair
      val base = (0 until n).map(i => (i.toLong, mkVec(dims)))
      val vecs = base ++ Seq(
        (n.toLong, Seq.fill(dims)(0.0f)),
        (n + 1L, base(3)._2), (n + 2L, base(3)._2))
      val emb = vecs.toDF("vec_id", "embedding")

      // centroids: random + a zero-norm one + an exact duplicate pair
      // (different ids) to force argmax ties
      val kc = 3 + rnd.nextInt(4)
      val cDup = mkVec(dims).map(_.toDouble)
      val cents = ((0 until kc).map(i =>
        (i.toLong, mkVec(dims).map(_.toDouble))) ++ Seq(
        (kc.toLong, Seq.fill(dims)(0.0)),
        (kc + 1L, cDup), (kc + 2L, cDup)))
        .toDF("centroid_id", "centroid")
      val relAssign = Similarity.assign(emb, "vec_id", "embedding", cents)
      val fastAssign =
        Similarity.assignFast(emb, "vec_id", "embedding", cents)
      assert(relAssign.exceptAll(fastAssign).isEmpty &&
        fastAssign.exceptAll(relAssign).isEmpty, s"trial $trial assign")

      // codebooks: per subspace, random codewords + a duplicated pair
      // under adjacent ids (exact score ties)
      val sd = dims / m
      val cb = (0 until m).flatMap { j =>
        val dup = mkVec(sd).map(_.toDouble)
        (0 until ksub).map(k =>
          (j, k.toLong, mkVec(sd).map(_.toDouble))) ++
          Seq((j, ksub.toLong, dup), (j, ksub + 1L, dup))
      }.toDF("sub", "centroid_id", "centroid")
      val relCodes = PqEncodeOracle.pqEncode(emb, "vec_id", "embedding",
        cb, m, dims)
      val fastCodes = Similarity.pqEncodeFast(emb, "vec_id", "embedding",
        cb, m, dims)
      assert(relCodes.exceptAll(fastCodes).isEmpty &&
        fastCodes.exceptAll(relCodes).isEmpty, s"trial $trial encode")

      // full ADC ranking parity, adist bits included (k = all rows)
      val q = mkVec(dims)
      val rel = Similarity.pqTopK(relCodes, cb, q, m, k = vecs.size)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val packed = Similarity.pqEncodePacked(emb, "vec_id", "embedding",
        cb, m, dims)
      val fast = Similarity.pqTopKPackedD(packed,
        Similarity.collectCodebooks(cb, m), q.map(_.toDouble),
        k = vecs.size)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rel == fast, s"trial $trial adc rank")
    }
  }

  test("packed shared-IVFADC probe matches the relational form with a " +
      "zero-norm centroid in the coarse table") {
    val dims = 8
    val m = 4
    val ksub = 4
    val vecs = (0 until 40).map(i => (i.toLong, mkVec(dims))) :+
      (40L, Seq.fill(dims)(0.0f))
    val emb = vecs.toDF("vec_id", "embedding")
    val cents = (0 until 5).map(i =>
      (i.toLong, mkVec(dims).map(_.toDouble))) :+
      (5L, Seq.fill(dims)(0.0))
    val centDf = cents.toDF("centroid_id", "centroid")
    val residuals = Similarity.ivfResidualsFast(emb, "vec_id",
      "embedding", centDf)
    val cb = (0 until m).flatMap(j => (0 until ksub).map(k =>
      (j, k.toLong, mkVec(dims / m).map(_.toDouble))))
      .toDF("sub", "centroid_id", "centroid")
    val relCodes =
      Similarity.ivfPqEncodeShared(residuals, "vec_id", cb, m, dims)
    val packedCodes =
      Similarity.ivfPqEncodeSharedPacked(residuals, "vec_id", cb, m, dims)
    val exploded = packedCodes.select($"vec_id", $"centroid_id",
      posexplode($"codes").as(Seq("sub", "code")))
    assert(relCodes.exceptAll(exploded).isEmpty &&
      exploded.exceptAll(relCodes).isEmpty)
    for (np <- Seq(2, 4, 6)) {
      val q = mkVec(dims)
      val rel = Similarity.ivfPqTopKShared(relCodes, centDf, cb, q, m,
        k = 40, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fast = Similarity.ivfPqTopKSharedPacked(packedCodes,
        Similarity.collectCentroids(centDf),
        Similarity.collectCodebooks(cb, m), q, k = 40, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rel == fast, s"nprobe=$np")
    }
  }
}
