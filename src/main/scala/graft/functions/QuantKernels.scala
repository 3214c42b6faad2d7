package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Tight-loop vector-quantization kernels for the production ANN paths.
  *
  * The oracle-gated quantizer steps are deliberately relational (explode
  * the corpus into (vector, codeword) pairs, broadcast-join the codebook,
  * argmin through a map-side-combining aggregate) so DuckDB can replay
  * them bit-for-bit. That shape pays n·ksub materialized rows per
  * subspace — at production codebook sizes (m=16, ksub=256) the encode of
  * a 60k-vector corpus becomes 245M scored rows through a shuffle, and
  * the arithmetic inside is a dozen FLOPs per row. These kernels compute
  * the SAME argmin/argmax (identical IEEE op sequence, identical NaN and
  * tie disciplines — parity is spec-pinned against the relational forms)
  * as one map-only projection: the collected codebook rides inside the
  * expression as plain JVM arrays, each input vector is decoded once, and
  * all m·ksub candidate scores happen in one JIT-compiled loop. No join,
  * no shuffle, no Catalyst literal tree (embedding m·ksub·sd doubles as
  * literals is what OOM'd plan compilation at production sizes).
  *
  * Scale shape: the codebook is index-sidecar sized (m·ksub·sd doubles,
  * ≤ a few MB) and serializes once per task — the executor-side cost is
  * exactly FAISS's: O(dims·ksub) per vector, embarrassingly parallel,
  * zero data movement. CodegenFallback is deliberate: the kernel body IS
  * the hot loop, so generated-vs-interpreted dispatch around it is noise,
  * and the projection sits alone between two codegen stages.
  */
object QuantKernels {

  /** Decode a numeric ArrayData to doubles once per row; float→double
    * widening is exact, so downstream products match the relational
    * VecDot (which widens per element) bit-for-bit.
    */
  private[graft] def toDoubles(a: ArrayData, t: DataType): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    t match {
      case FloatType => while (i < n) { out(i) = a.getFloat(i).toDouble; i += 1 }
      case DoubleType => while (i < n) { out(i) = a.getDouble(i); i += 1 }
      case IntegerType => while (i < n) { out(i) = a.getInt(i).toDouble; i += 1 }
      case LongType => while (i < n) { out(i) = a.getLong(i).toDouble; i += 1 }
      case other =>
        throw new IllegalArgumentException(s"quant kernel over $other array")
    }
    out
  }

  /** Ordered dot product, ascending index from 0.0 — the VecDot fold. */
  private[graft] def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Ordered self dot (|v|² as VecDot(v, v) computes it). */
  private[graft] def selfDot(v: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    acc
  }

  /** Ordered dot of a subvector window [off, off+sd) of `v` against a
    * codeword — the `dot(slice(vec, off+1, sd), c)` arithmetic.
    */
  private[graft] def sliceDot(v: Array[Double], off: Int, sd: Int,
      c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < sd && off + i < v.length && i < c.length) {
      acc += v(off + i) * c(i); i += 1
    }
    acc
  }

  /** "a sorts strictly before b" under Spark's double ordering (NaN
    * GREATEST): the argmin replace test.
    */
  private[graft] def ltNanGreatest(a: Double, b: Double): Boolean =
    a < b || (b != b && a == a)

  /** Shared analysis-time check: the kernel input must be an array of a
    * numeric type [[toDoubles]] can decode — anything else fails at
    * analysis with the expression name instead of a runtime
    * ClassCastException on an executor.
    */
  private[graft] def checkNumericArray(t: DataType,
      name: String): TypeCheckResult = t match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<float|double|int|bigint>, got " +
        other.catalogString)
  }

  /** Analysis-time check for packed code inputs: array<bigint>. */
  private[graft] def checkCodesArray(t: DataType,
      name: String): TypeCheckResult = t match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects codes array<bigint>, got " + other.catalogString)
  }
}

/** Collected coarse-centroid table: ids ASCENDING (the tie-break order),
  * norms precomputed once. A plain holder class so plan strings show a
  * summary, not kc·dims doubles.
  */
final class CentroidsLocal(val ids: Array[Long],
    val vecs: Array[Array[Double]]) extends Serializable {
  require(ids.length == vecs.length && ids.nonEmpty, "empty centroid table")
  require(ids.indices.tail.forall(i => ids(i - 1) < ids(i)),
    "centroid ids must be strictly ascending")
  val norms: Array[Double] = vecs.map(v => math.sqrt(QuantKernels.selfDot(v)))
  override def toString: String = s"centroids(k=${ids.length})"
}

/** Collected PQ codebooks: per subspace, code ids ASCENDING with their
  * codewords and precomputed |c|² (the constant term of the argmin
  * score). Holder class for the same plan-string reason.
  */
final class CodebooksLocal(val ids: Array[Array[Long]],
    val vecs: Array[Array[Array[Double]]]) extends Serializable {
  require(ids.length == vecs.length && ids.nonEmpty, "empty codebooks")
  val m: Int = ids.length
  val ccs: Array[Array[Double]] = vecs.map(_.map(QuantKernels.selfDot))
  ids.zipWithIndex.foreach { case (sub, j) =>
    require(sub.nonEmpty, s"no codebook entries for subspace $j")
    require(sub.indices.tail.forall(i => sub(i - 1) < sub(i)),
      s"subspace $j code ids must be strictly ascending")
  }
  override def toString: String = s"codebooks(m=$m,ksub=${ids(0).length})"
}

/** Collected PER-CELL PQ codebooks (classic IVFADC with local codebooks:
  * each coarse cell quantizes its residuals against its OWN trained
  * codebook set). Sidecar bound: kc·m·ksub codewords — suits moderate
  * kc·ksub products (the bench shape, 64·256, is ~8 MB); at the kc where
  * the product outgrows a broadcast sidecar, the SHARED-codebook family
  * ([[CodebooksLocal]] + [[AdcDistCell]]) is the scale choice — that
  * trade is exactly FAISS's shared-vs-local codebook knob.
  */
final class CellCodebooksLocal(val m: Int,
    val cells: scala.collection.mutable.LongMap[CodebooksLocal])
    extends Serializable {
  require(cells.nonEmpty, "empty per-cell codebooks")
  cells.foreach { case (cid, cb) =>
    require(cb.m == m, s"cell $cid has ${cb.m} subspaces, expected $m")
  }
  override def toString: String = s"cell_codebooks(m=$m,kc=${cells.size})"
}

/** Argmax-cosine cell id — the kernel twin of [[graft.ops.Similarity.assign]]:
  * sim = dot/(|v|·|c|) with NaN (zero-norm either side) mapped to −∞ so a
  * degenerate centroid never wins, ties to the LOWEST centroid id. One
  * map-only projection replaces the crossJoin + max-of-struct shuffle.
  */
case class NearestCentroidId(child: Expression, cents: CentroidsLocal)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    QuantKernels.checkNumericArray(child.dataType, prettyName)

  @transient private lazy val elemT =
    child.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(in: Any): Any = {
    val v = QuantKernels.toDoubles(in.asInstanceOf[ArrayData], elemT)
    val va = math.sqrt(QuantKernels.selfDot(v))
    var bestSim = Double.NegativeInfinity
    var bestId = cents.ids(0)
    var k = 0
    while (k < cents.ids.length) {
      val np = va * cents.norms(k)
      var sim = Double.NegativeInfinity
      if (np != 0.0) {
        val s0 = QuantKernels.dot(v, cents.vecs(k)) / np
        if (s0 == s0) sim = s0
      }
      if (sim > bestSim) { bestSim = sim; bestId = cents.ids(k) }
      k += 1
    }
    bestId
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The p NEAREST cell ids of a vector, best first — the multi-probe /
  * multi-assignment generalization of [[NearestCentroidId]] under the
  * identical ordering (cosine desc with NaN→−∞, ties to the LOWEST
  * centroid id; position 0 equals [[NearestCentroidId]] exactly).
  * Serves two scale paths: SPANN-style redundant assignment (a vector's
  * codes are stored in its p nearest inverted lists, so a fixed nprobe
  * misses fewer true neighbors on loosely clustered corpora) and
  * multi-cell SemDeDup pair scans (clone families straddling a Lloyd
  * boundary still meet in SOME shared cell). Returns array<long> of
  * min(p, kc) ids.
  */
case class NearestCentroidIds(child: Expression, cents: CentroidsLocal,
    p: Int) extends UnaryExpression with CodegenFallback {
  require(p >= 1, s"need at least one probe cell, got $p")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override def checkInputDataTypes(): TypeCheckResult =
    QuantKernels.checkNumericArray(child.dataType, prettyName)

  @transient private lazy val elemT =
    child.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(in: Any): Any = {
    val v = QuantKernels.toDoubles(in.asInstanceOf[ArrayData], elemT)
    val va = math.sqrt(QuantKernels.selfDot(v))
    val n = math.min(p, cents.ids.length)
    val topSim = new Array[Double](n)
    val topId = new Array[Long](n)
    var filled = 0
    var k = 0
    while (k < cents.ids.length) {
      val np = va * cents.norms(k)
      var sim = Double.NegativeInfinity
      if (np != 0.0) {
        val s0 = QuantKernels.dot(v, cents.vecs(k)) / np
        if (s0 == s0) sim = s0
      }
      // insertion position: strictly-better sims move up; equal sims
      // keep the earlier (lower) id first — ids iterate ascending, so
      // this IS the (sim desc, id asc) order
      if (filled < n || sim > topSim(n - 1)) {
        var pos = if (filled < n) filled else n - 1
        while (pos > 0 && sim > topSim(pos - 1)) {
          topSim(pos) = topSim(pos - 1); topId(pos) = topId(pos - 1)
          pos -= 1
        }
        topSim(pos) = sim; topId(pos) = cents.ids(k)
        if (filled < n) filled += 1
      }
      k += 1
    }
    new GenericArrayData(
      if (filled == n) topId
      else java.util.Arrays.copyOfRange(topId, 0, filled))
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** All m PQ codes of a vector in one pass
  * ([[graft.ops.Similarity.pqEncodePacked]]): per subspace j the code minimizing
  * |c|² − 2·v_j·c (the |v_j|² term is constant under the argmin), NaN
  * scores lose (Spark's NaN-greatest ordering), ties to the LOWEST code
  * id. Returns array<long> of length m in subspace order.
  */
case class PqCodes(child: Expression, cb: CodebooksLocal, sd: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult =
    QuantKernels.checkNumericArray(child.dataType, prettyName)

  @transient private lazy val elemT =
    child.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(in: Any): Any = {
    val v = QuantKernels.toDoubles(in.asInstanceOf[ArrayData], elemT)
    val out = new Array[Long](cb.m)
    var j = 0
    while (j < cb.m) {
      val off = j * sd
      val ids = cb.ids(j)
      val cws = cb.vecs(j)
      val ccs = cb.ccs(j)
      var bestScore = ccs(0) - 2.0 * QuantKernels.sliceDot(v, off, sd, cws(0))
      var bestCode = ids(0)
      var k = 1
      while (k < ids.length) {
        val score = ccs(k) - 2.0 * QuantKernels.sliceDot(v, off, sd, cws(k))
        if (QuantKernels.ltNanGreatest(score, bestScore)) {
          bestScore = score; bestCode = ids(k)
        }
        k += 1
      }
      out(j) = bestCode
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** All m PQ codes of a residual against ITS OWN cell's codebooks — the
  * kernel twin of [[graft.ops.Similarity.ivfPqEncode]] (the relational
  * per-cell encoder the sim7 oracle replays): per subspace j, the code of
  * the probed cell's codebook minimizing |c|² − 2·r_j·c, NaN scores lose,
  * ties to the LOWEST code id — identical discipline to [[PqCodes]], the
  * codebook lookup keyed by the row's cell. NULL for a cell with no
  * codebook (a cell empty at build time has no quantizer — callers either
  * guarantee coverage, as a build over the same corpus does, or treat
  * NULL as un-indexable). Returns array<long> of length m.
  */
case class PqCodesCell(left: Expression, right: Expression,
    cb: CellCodebooksLocal, sd: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_codes_cell"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a bigint cell id, got " +
          left.dataType.catalogString)
    else QuantKernels.checkNumericArray(right.dataType, prettyName)

  @transient private lazy val elemT =
    right.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(cell: Any, in: Any): Any = {
    val cbc = cb.cells.getOrNull(cell.asInstanceOf[Long])
    if (cbc == null) null
    else {
      val v = QuantKernels.toDoubles(in.asInstanceOf[ArrayData], elemT)
      val out = new Array[Long](cbc.m)
      var j = 0
      while (j < cbc.m) {
        val off = j * sd
        val ids = cbc.ids(j)
        val cws = cbc.vecs(j)
        val ccs = cbc.ccs(j)
        var bestScore =
          ccs(0) - 2.0 * QuantKernels.sliceDot(v, off, sd, cws(0))
        var bestCode = ids(0)
        var k = 1
        while (k < ids.length) {
          val score =
            ccs(k) - 2.0 * QuantKernels.sliceDot(v, off, sd, cws(k))
          if (QuantKernels.ltNanGreatest(score, bestScore)) {
            bestScore = score; bestCode = ids(k)
          }
          k += 1
        }
        out(j) = bestCode
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

/** Per-subspace ADC lookup tables for one query: tabs(j) maps code id →
  * the query's squared-L2 contribution in subspace j, exactly the dj
  * values the relational distance table carries.
  */
final class AdcTablesLocal(val m: Int,
    val tabs: Array[scala.collection.mutable.LongMap[Double]])
    extends Serializable {
  require(tabs.length == m, "one table per subspace")
  override def toString: String = s"adc_tables(m=$m)"
}

/** ADC distance of a packed code row — the kernel twin of
  * [[graft.ops.Similarity.pqTopK]]'s pivoted-sum tail: m table lookups
  * summed in fixed subspace order (d0 + d1 + …, the same left fold as
  * the relational reduce). A code the tables don't cover (mismatched
  * index tables) yields NULL, mirroring the relational inner-join drop —
  * callers filter isNotNull exactly as the relational path filters its
  * null pivot columns.
  */
case class AdcDist(child: Expression, tabs: AdcTablesLocal)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_dist"

  override def checkInputDataTypes(): TypeCheckResult =
    QuantKernels.checkCodesArray(child.dataType, prettyName)

  override protected def nullSafeEval(in: Any): Any = {
    val codes = in.asInstanceOf[ArrayData]
    if (codes.numElements() != tabs.m) null
    else {
      var acc = 0.0
      var j = 0
      var missing = false
      while (j < tabs.m && !missing) {
        val t = tabs.tabs(j)
        val code = codes.getLong(j)
        if (!t.contains(code)) missing = true
        else acc = if (j == 0) t(code) else acc + t(code)
        j += 1
      }
      if (missing) null else acc
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-CELL ADC tables (shared-codebook IVFADC: the tables differ across
  * probed cells only through the query's per-cell residual).
  */
final class CellAdcTablesLocal(val m: Int,
    val cells: scala.collection.mutable.LongMap[Array[
      scala.collection.mutable.LongMap[Double]]]) extends Serializable {
  override def toString: String =
    s"cell_adc_tables(m=$m,nprobe=${cells.size})"
}

/** ADC distance under the probed cell's table — the kernel twin of
  * [[graft.ops.Similarity.ivfPqTopKShared]]'s tail. NULL for a cell
  * outside the probe set or a code outside the tables (the relational
  * inner-join drop); callers pre-filter to probed cells so the cell miss
  * is a guard, not the pruning mechanism.
  */
case class AdcDistCell(left: Expression, right: Expression,
    tabs: CellAdcTablesLocal) extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_dist_cell"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a bigint cell id, got " +
          left.dataType.catalogString)
    else QuantKernels.checkCodesArray(right.dataType, prettyName)

  override protected def nullSafeEval(cell: Any, codesIn: Any): Any = {
    val perCell = tabs.cells.getOrNull(cell.asInstanceOf[Long])
    if (perCell == null) null
    else {
      val codes = codesIn.asInstanceOf[ArrayData]
      if (codes.numElements() != tabs.m) null
      else {
        var acc = 0.0
        var j = 0
        var missing = false
        while (j < tabs.m && !missing) {
          val t = perCell(j)
          val code = codes.getLong(j)
          if (!t.contains(code)) missing = true
          else acc = if (j == 0) t(code) else acc + t(code)
          j += 1
        }
        if (missing) null else acc
      }
    }
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

object QuantKernelCols {
  def nearestCentroid(vec: Column, cents: CentroidsLocal): Column =
    ColumnBridge.column(
      NearestCentroidId(ColumnBridge.expression(vec), cents))

  def nearestCentroids(vec: Column, cents: CentroidsLocal, p: Int): Column =
    ColumnBridge.column(
      NearestCentroidIds(ColumnBridge.expression(vec), cents, p))

  def pqCodes(vec: Column, cb: CodebooksLocal, sd: Int): Column =
    ColumnBridge.column(PqCodes(ColumnBridge.expression(vec), cb, sd))

  def pqCodesCell(cell: Column, vec: Column, cb: CellCodebooksLocal,
      sd: Int): Column =
    ColumnBridge.column(PqCodesCell(ColumnBridge.expression(cell),
      ColumnBridge.expression(vec), cb, sd))

  def adcDist(codes: Column, tabs: AdcTablesLocal): Column =
    ColumnBridge.column(AdcDist(ColumnBridge.expression(codes), tabs))

  def adcDistCell(cell: Column, codes: Column,
      tabs: CellAdcTablesLocal): Column =
    ColumnBridge.column(AdcDistCell(ColumnBridge.expression(cell),
      ColumnBridge.expression(codes), tabs))
}
