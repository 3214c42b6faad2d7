package ppdbbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Untimed correctness checks. Each returns the problems it found; an
  * empty result means the check passed.
  */
object Check {

  /** A row rendered by the declared column types, so values that come
    * back from a backend as a wider numeric type compare equal.
    */
  def canon(r: Row, schema: StructType): String =
    schema.fields.indices.map { i =>
      if (r.isNullAt(i)) "null"
      else {
        val v = r.get(i)
        schema(i).dataType match {
          case FloatType => v.asInstanceOf[Number].floatValue.toString
          case DoubleType => v.asInstanceOf[Number].doubleValue.toString
          case ShortType | IntegerType | LongType =>
            v.asInstanceOf[Number].longValue.toString
          case _ => v.toString
        }
      }
    }.mkString("|")

  /** Multiset equality of `actual` and `expected` rows of one table. */
  def sameRows(table: String, schema: StructType, actual: Seq[Row],
      expected: Seq[Row]): Seq[String] = {
    def bag(rows: Seq[Row]) =
      rows.groupMapReduce(canon(_, schema))(_ => 1)(_ + _)
    val a = bag(actual)
    val e = bag(expected)
    if (a == e) Nil
    else {
      val missing = e.filter { case (k, n) => a.getOrElse(k, 0) < n }.keys
      val extra = a.filter { case (k, n) => e.getOrElse(k, 0) < n }.keys
      Seq(s"$table: ${actual.size} rows, expected ${expected.size}; " +
        s"${missing.size} missing (e.g. ${missing.headOption.getOrElse("-")}), " +
        s"${extra.size} unexpected (e.g. ${extra.headOption.getOrElse("-")})")
    }
  }

  /** Validity intervals of DiaObject rows: per object at most one open
    * interval, it is the latest version, and no two versions overlap.
    */
  def validity(objects: Seq[Row]): Seq[String] =
    objects.groupBy(_.getLong(0)).toSeq.flatMap { case (id, vs) =>
      val sorted = vs.sortBy(_.getDouble(1))
      val open = sorted.filter(_.isNullAt(2))
      val overlaps = sorted.zip(sorted.drop(1)).exists { case (a, b) =>
        a.isNullAt(2) || a.getDouble(2) > b.getDouble(1)
      }
      if (open.size > 1) Seq(s"DiaObject $id has ${open.size} open intervals")
      else if (overlaps) Seq(s"DiaObject $id has overlapping intervals")
      else Nil
    }.take(5)

  /** public.DiaObjectLast must hold exactly the open version of each
    * object in internal.DiaObject.
    */
  def snapshot(objects: Seq[Row], last: Seq[Row]): Seq[String] = {
    val expect = objects.filter(_.isNullAt(2))
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val have = last.map(r => (r.getLong(0), r.getDouble(1)))
    if (have.size == have.toSet.size && have.toSet == expect) Nil
    else Seq(s"public.DiaObjectLast holds ${have.size} rows " +
      s"(${have.toSet.size} distinct); internal.DiaObject has ${expect.size} open versions")
  }

  /** Every chunk in `ids` is recorded exactly once with status promoted. */
  def chunksPromoted(chunkRows: Seq[Row], ids: Seq[Long]): Seq[String] = {
    val status = chunkRows.map(r => r.getAs[Long]("apdb_replica_chunk") -> r.getAs[String]("status"))
    val bad = status.filter(_._2 != graft.schema.PpdbSchema.ChunkStatus.Promoted)
    val missing = ids.toSet -- status.map(_._1)
    (if (bad.isEmpty) Nil else Seq(s"chunks not promoted: ${bad.take(5).mkString(", ")}")) ++
      (if (missing.isEmpty) Nil else Seq(s"chunks never recorded: ${missing.toSeq.sorted.take(5).mkString(", ")}")) ++
      (if (status.size == status.map(_._1).distinct.size) Nil else Seq("duplicate chunk rows"))
  }

  /** The PPDB contents against the expected model: data tables, the
    * validity invariant and, where the backend keeps one, the snapshot.
    */
  def tables(model: Model, objects: Seq[Row], sources: Seq[Row],
      forced: Seq[Row], last: Option[Seq[Row]]): Seq[String] = {
    import graft.schema.PpdbSchema._
    sameRows("DiaObject", diaObject, objects, model.objectRows) ++
      sameRows("DiaSource", diaSource, sources, model.sourceRows) ++
      sameRows("DiaForcedSource", diaForcedSource, forced, model.forcedRows) ++
      validity(objects) ++
      last.toSeq.flatMap { l =>
        sameRows("DiaObjectLast", diaObjectLast, l, model.snapshotRows) ++
          snapshot(objects, l)
      }
  }

  /** The exact cone predicate of `SpatialCell.withinCone`, evaluated with
    * the same operations in the same order.
    */
  def inCone(ra: Double, dec: Double, cRa: Double, cDec: Double, r: Double): Boolean = {
    val d2r = math.Pi / 180.0
    val dLat = (dec - cDec) * d2r / 2.0
    val dLon = (ra - cRa) * d2r / 2.0
    val a = math.sin(dLat) * math.sin(dLat) +
      math.cos(dec * d2r) * math.cos(cDec * d2r) * math.sin(dLon) * math.sin(dLon)
    math.asin(math.sqrt(a)) * 2.0 / d2r <= r
  }
}
