package ppdbbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.functions.{SpatialCell, SpatialCellMath}

/** The expected PPDB contents, computed on the side from the generated
  * chunks with plain collections.
  *
  * Chunks are applied in ingest batches: one promote (or one JDBC
  * transaction) inserts every row of its chunks, closes the superseded
  * validity intervals of the objects it carries, and then applies the
  * batch's update records field by field, newest (chunk, time, order)
  * winning. An update keyed by `diaObjectId` patches every version of the
  * object, including versions the same batch inserted.
  */
final class Model {
  // DiaObject rows keyed by (diaObjectId, validityStartMjdTai); row values
  // as an array in PpdbSchema.diaObject order
  val objects = mutable.LinkedHashMap.empty[(Long, Double), Array[Any]]
  val sources = mutable.LinkedHashMap.empty[Long, Array[Any]]
  val forced = mutable.LinkedHashMap.empty[(Long, Long, Long), Array[Any]]

  private val versionsOf = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Double)]]

  def applyBatch(batch: Seq[GenChunk]): Unit = {
    batch.foreach { c =>
      c.objects.foreach { r =>
        val k = (r.getLong(0), r.getDouble(1))
        objects(k) = r.toSeq.toArray
        versionsOf.getOrElseUpdate(k._1, mutable.ArrayBuffer.empty) += k
      }
      c.sources.foreach(r => sources(r.getLong(0)) = r.toSeq.toArray)
      c.forced.foreach { r =>
        forced((r.getLong(0), r.getLong(3), r.getShort(4).toLong)) = r.toSeq.toArray
      }
    }
    // validity fill over the batch's objects: an open interval closes at
    // the next version's start
    batch.flatMap(_.objects.map(_.getLong(0))).distinct.foreach { id =>
      val vs = versionsOf(id).map(_._2).sorted
      vs.zip(vs.drop(1)).foreach { case (s, next) =>
        val row = objects((id, s))
        if (row(2) == null) row(2) = next
      }
    }
    // field-level last-write-wins over the batch's updates
    val latest = mutable.HashMap.empty[(String, Seq[Long], String), ((Long, Long, Long), String)]
    for {
      c <- batch
      u <- c.updates
      (field, value) <- u.payload
    } {
      val key = (u.tableName, u.recordId, field)
      val rank = (c.id, u.updateTimeNs, u.updateOrder)
      if (latest.get(key).forall(p => Ordering[(Long, Long, Long)].gt(rank, p._1)))
        latest(key) = rank -> value
    }
    latest.foreach { case ((table, rid, field), (_, value)) =>
      table match {
        case "DiaObject" =>
          val i = Model.objectCols.indexOf(field)
          versionsOf(rid.head).foreach { k =>
            objects(k)(i) = if (field == "nDiaSources") value.toInt else value.toDouble
          }
        case "DiaSource" =>
          val i = Model.sourceCols.indexOf(field)
          sources(rid.head)(i) = if (field.endsWith("Id")) value.toLong else value.toDouble
        case "DiaForcedSource" =>
          val i = Model.forcedCols.indexOf(field)
          forced((rid(0), rid(1), rid(2)))(i) = value.toDouble
      }
    }
  }

  def objectRows: Seq[Row] = objects.values.map(a => Row(a.toSeq: _*)).toSeq
  def sourceRows: Seq[Row] = sources.values.map(a => Row(a.toSeq: _*)).toSeq
  def forcedRows: Seq[Row] = forced.values.map(a => Row(a.toSeq: _*)).toSeq

  /** public.DiaObjectLast: the open version of every object that has one,
    * with its spatial cell.
    */
  def snapshotRows: Seq[Row] = objects.values.filter(_(2) == null).map { a =>
    Row(a(0), a(1), a(3), a(4), a(5), a(6), a(7),
      SpatialCellMath.cell(a(3).asInstanceOf[Double], a(4).asInstanceOf[Double],
        SpatialCell.DefaultLevel))
  }.toSeq
}

object Model {
  val objectCols: Seq[String] = graft.schema.PpdbSchema.diaObject.fieldNames.toSeq
  val sourceCols: Seq[String] = graft.schema.PpdbSchema.diaSource.fieldNames.toSeq
  val forcedCols: Seq[String] = graft.schema.PpdbSchema.diaForcedSource.fieldNames.toSeq
}
