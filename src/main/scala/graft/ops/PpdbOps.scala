package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.schema.{PpdbSchema, UpdateRecord}

/** The PPDB operator library: pure DataFrame → DataFrame functions for the
  * replication/promotion pipeline (SURVEY.md §2 — W2/J2/J3 validity fill,
  * W3 latest-only, A1 patch build, J4/J5 merge, J6 validation, J7
  * frontier, S14 latest snapshot).
  *
  * Scale posture: every operator shuffles on its natural key
  * (diaObjectId / record key / chunk id) at most once; patch sides are
  * broadcast (bounded by chunk size, not table size); the target tables
  * are only rewritten where touched.
  */
object PpdbOps {

  // ---------------------------------------------------------------- validity

  /** Append `incoming` DiaObject rows to `base` and close open validity
    * intervals: every incoming row, and every base row whose diaObjectId
    * is in `baseIds`, gets validityEndMjdTai of an open row set to the
    * next row's validityStartMjdTai where one exists (LEAD window —
    * fill_diaobject_validity_end.sql:16-31). Other base rows pass through
    * untouched, preserving existing closed intervals (gap preservation).
    *
    * `baseIds` must cover the incoming ids that `base` holds; ids `base`
    * does not hold are harmless. So a caller need not hold every incoming
    * id, only those the base can hold. It feeds a broadcast semi- and
    * anti-join, so it may repeat ids: no distinct (and no shuffle).
    */
  def fillValidityEnd(base: DataFrame, incoming: DataFrame,
      baseIds: DataFrame): DataFrame = {
    val ids = broadcast(baseIds.select("diaObjectId"))
    val scoped = base.join(ids, Seq("diaObjectId"), "left_semi")
      .unionByName(incoming)
    val rest = base.join(ids, Seq("diaObjectId"), "left_anti")
    val w = Window.partitionBy("diaObjectId").orderBy("validityStartMjdTai")
    val filled = scoped
      .withColumn("_next", lead(col("validityStartMjdTai"), 1).over(w))
      .withColumn("validityEndMjdTai",
        when(col("validityEndMjdTai").isNull && col("_next").isNotNull,
          col("_next")).otherwise(col("validityEndMjdTai")))
      .drop("_next")
    rest.unionByName(filled)
  }

  /** Legacy-schema DiaObject shim (DM-52215; P/sql/_ppdb_sql.py:86-90):
    * converts the timestamp-typed `validityStart`/`validityEnd` variant to
    * the modern MJD TAI double columns on read — in place, preserving
    * column order and NULL open intervals. No-op for modern inputs, so
    * every downstream operator (fill, merge, snapshot) sees one schema.
    */
  def modernizeDiaObject(df: DataFrame): DataFrame =
    if (df.columns.contains("validityStartMjdTai")) df
    else df.select(df.columns.map {
      case "validityStart" =>
        graft.functions.TaiTime.mjdTai(unix_micros(col("validityStart")))
          .as("validityStartMjdTai")
      case "validityEnd" =>
        when(col("validityEnd").isNotNull,
          graft.functions.TaiTime.mjdTai(unix_micros(col("validityEnd"))))
          .as("validityEndMjdTai")
      case c => col(c)
    }.toSeq: _*)

  // ------------------------------------------------------------ update CDC

  /** Driver-side conversion of typed update records into the long-format
    * expanded updates DataFrame (one row per patched field —
    * expanded_update_record.py:82-113). Update batches are chunk-sized,
    * so building them on the driver is bounded; at scale the same shape
    * arrives as a parquet read of the updates table.
    */
  def expandUpdates(spark: SparkSession,
      records: Seq[(Long, UpdateRecord)]): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = for {
      (chunk, r) <- records
      (field, value) <- r.payload
    } yield Row(r.tableName, r.recordId, field, value, chunk,
      r.updateTimeNs, r.updateOrder)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      PpdbSchema.expandedUpdates)
  }

  /** Last-write-wins collapse: keep only the newest update per
    * (table, record key, field), newest = (chunk desc, time desc, order
    * desc) (expanded_updates_table.py:173-204, W3).
    */
  def latestOnly(expanded: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("table_name"), concat_ws("-", col("record_id")),
        col("field_name"))
      .orderBy(col("apdb_replica_chunk").desc, col("update_time_ns").desc,
        col("update_order").desc)
    expanded.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Per-table merge configuration: key columns (matched positionally to
    * record_id) and patchable fields with their Spark cast types
    * (merge_diaobject_updates.sql / merge_diasource_updates.sql /
    * merge_diaforcedsource_updates.sql).
    */
  final case class MergeSpec(table: String, keys: Seq[String],
      fields: Seq[(String, String)], requireValueNonNull: Set[String])

  val mergeSpecs: Map[String, MergeSpec] = Map(
    "DiaObject" -> MergeSpec("DiaObject", Seq("diaObjectId"),
      Seq("validityEndMjdTai" -> "double", "nDiaSources" -> "int"),
      requireValueNonNull = Set("nDiaSources")),
    "DiaSource" -> MergeSpec("DiaSource", Seq("diaSourceId"),
      Seq("diaObjectId" -> "long", "ssObjectId" -> "long",
        "ssObjectReassocTimeMjdTai" -> "double",
        "timeWithdrawnMjdTai" -> "double"),
      requireValueNonNull = Set.empty),
    "DiaForcedSource" -> MergeSpec("DiaForcedSource",
      Seq("diaObjectId", "visit", "detector"),
      Seq("timeWithdrawnMjdTai" -> "double"),
      requireValueNonNull = Set.empty))

  /** Pivot-style patch build (A1): GROUP BY record key; per field, the
    * (unique after latestOnly) value plus a presence flag
    * (merge_*_updates.sql:3-25).
    */
  def buildPatch(latest: DataFrame, spec: MergeSpec): DataFrame = {
    val keyCols = spec.keys.zipWithIndex.map { case (k, i) =>
      col("record_id").getItem(i).as(k)
    }
    val aggs = spec.fields.flatMap { case (f, typ) =>
      Seq(
        max(when(col("field_name") === f, col("value_json").cast(typ)))
          .as(s"${f}_value"),
        (count(when(col("field_name") === f, lit(1))) > 0).as(s"${f}_present"))
    }
    latest
      .where(col("table_name") === spec.table &&
        col("field_name").isin(spec.fields.map(_._1): _*))
      .groupBy(keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The target of one latest-only update row: table, record key (the
    * target's key columns in order) and patched field.
    */
  final case class UpdateKey(table: String, recordId: Seq[Long],
      field: String)

  /** The targets of `latest`'s update rows, read to the driver in one
    * collect. Update batches are chunk-sized, so the set is bounded.
    */
  def updateKeys(latest: DataFrame): Seq[UpdateKey] =
    latest.select("table_name", "record_id", "field_name").collect().toSeq
      .map(r => UpdateKey(r.getString(0), r.getSeq[Long](1), r.getString(2)))

  /** The key columns of `spec.table` as `target` declares them, in key
    * order — the row type of every driver-held key of that table.
    */
  def keySchema(spec: MergeSpec, target: StructType): StructType =
    StructType(spec.keys.map(target(_)))

  /** The keys of `rows` that a scoped merge into a table needs on the
    * driver, typed like `keySchema` (which may extend the table's key
    * columns): those whose first column `mayExist` admits — the keys the
    * table's dirs can hold, for the dir probe and the same-key
    * replacement — and those sharing their first column with a key of
    * `patch`, for J6. The other keys are new to the table and neither
    * step needs them. One filtered scan, no shuffle; no job when neither
    * condition can hold.
    */
  def neededKeys(rows: DataFrame, keySchema: StructType,
      mayExist: Option[Column], patch: Map[Row, Boolean]): Seq[Row] = {
    val first = col(keySchema.head.name)
    val patched =
      if (patch.isEmpty) None
      else Some(first.isin(patch.keysIterator.map(_.get(0)).toSeq.distinct: _*))
    (mayExist ++ patched).reduceOption(_ || _).fold(Seq.empty[Row]) { cond =>
      rows.select(keySchema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
        .where(cond).collect().toSeq
    }
  }

  /** Driver-held rows as a DataFrame: a local relation, which the scope
    * joins that use it broadcast without a shuffle.
    */
  def localRows(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of(rows: _*), schema)

  /** The record keys `updates` patch in `spec.table`, as rows typed like
    * `keySchema` — the driver-side scope used for dir-level pruning and
    * scoped merges. A key maps to true when one of its updates sets a
    * field the merge applies, i.e. when J6 requires the key to exist.
    *
    * Record ids are longs; a narrower key column (`detector` is a short)
    * takes them through the same cast, in the session's ANSI mode, that
    * a query's `cast` would use, so an id out of the column's range fails
    * the batch with Spark's own overflow error instead of wrapping.
    */
  def patchKeys(spark: SparkSession, updates: Seq[UpdateKey],
      spec: MergeSpec, keySchema: StructType): Map[Row, Boolean] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    val mode = EvalMode.fromBoolean(
      spark.conf.get("spark.sql.ansi.enabled").toBoolean)
    val typers: Seq[Long => Any] = keySchema.fields.toSeq.map(_.dataType).map {
      case LongType => (v: Long) => v
      case t =>
        val toScala = CatalystTypeConverters.createToScalaConverter(t)
        (v: Long) => toScala(Cast(Literal(v), t, None, mode).eval())
    }
    val applied = spec.fields.map(_._1).toSet
    updates.filter(_.table == spec.table)
      .groupMapReduce { u =>
        require(u.recordId.size == typers.size, s"${spec.table} update " +
          s"record id ${u.recordId.mkString("[", ",", "]")} does not have " +
          s"the ${typers.size} key columns ${spec.keys.mkString(", ")}")
        Row.fromSeq(u.recordId.zip(typers).map { case (v, f) => f(v) })
      }(u => applied(u.field))(_ || _)
  }

  /** Hand-rolled MERGE (J4/J5): broadcast the patch, left-outer join on
    * the (composite) key, rewrite each patchable field with
    * IF(present[, AND value non-null], new, old) (F3). Produces the full
    * rewritten target.
    */
  def mergePatch(target: DataFrame, patch: DataFrame, spec: MergeSpec): DataFrame = {
    val p = broadcast(patch.withColumnRenamed(spec.keys.head, s"_k0")
      .withColumnsRenamed(spec.keys.drop(1).zipWithIndex
        .map { case (k, i) => k -> s"_k${i + 1}" }.toMap))
    val cond = spec.keys.zipWithIndex
      .map { case (k, i) => target(k) === p(s"_k$i") }
      .reduce(_ && _)
    val joined = target.join(p, cond, "left_outer")
    val outCols = target.columns.map { c =>
      spec.fields.find(_._1 == c) match {
        case Some((f, _)) =>
          val present =
            if (spec.requireValueNonNull.contains(f))
              col(s"${f}_present") && col(s"${f}_value").isNotNull
            else col(s"${f}_present")
          when(present.isNotNull && present, col(s"${f}_value"))
            .otherwise(target(c)).as(c)
        case None => target(c)
      }
    }
    joined.select(outCols.toSeq: _*)
  }

  /** J6 validation, settled on the driver: every key an applied update
    * targets must exist. The target rows of a scoped merge are the rows
    * of the dirs the probe opened plus the batch's own staged rows, so a
    * required key of `patch` (see [[patchKeys]]) dangles when the probe
    * did not find it and the batch does not stage it. Callers raise on a
    * non-empty result (P/sql/_ppdb_sql.py:303-314).
    */
  def danglingKeys(patch: Map[Row, Boolean], found: Set[Row],
      staged: Set[Row]): Seq[Row] =
    patch.iterator.collect {
      case (k, true) if !found(k) && !staged(k) => k
    }.toSeq

  /** Apply a chunk's updates to the three data tables: LWW collapse, then
    * per-table patch build + merge. Returns patched tables keyed by name.
    */
  def applyUpdates(tables: Map[String, DataFrame],
      expanded: DataFrame): Map[String, DataFrame] = {
    val latest = latestOnly(expanded).cache()
    PpdbSchema.dataTables.map { t =>
      val spec = mergeSpecs(t)
      val patch = buildPatch(latest, spec)
      t -> mergePatch(tables(t), patch, spec)
    }.toMap
  }

  // -------------------------------------------------------------- snapshot

  /** Latest-version snapshot (S14): open intervals only, validity-end
    * column dropped, spatial cell id attached, cell-clustered within
    * partitions so cone searches prune row groups.
    */
  def latestSnapshot(diaObject: DataFrame,
      level: Int = graft.functions.SpatialCell.DefaultLevel): DataFrame =
    diaObject
      .where(col("validityEndMjdTai").isNull)
      .drop("validityEndMjdTai")
      .withColumn("cellId",
        graft.functions.SpatialCell.spatialCell(col("ra"), col("dec"), level))
      .sortWithinPartitions("cellId")

  // ------------------------------------------------------------- streaming

  /** Replication frontier (J7): chunks present at the source but not yet
    * at the destination, in ascending id order (P/replicator.py:106-110).
    */
  def frontier(apdbChunks: DataFrame, ppdbChunks: DataFrame): DataFrame =
    apdbChunks.join(
        ppdbChunks.select("apdb_replica_chunk"),
        Seq("apdb_replica_chunk"), "left_anti")
      .orderBy("apdb_replica_chunk")

  /** Watermark-like settled gate (T2): a chunk is replicable when a newer
    * chunk exists and it is older than minWait, or it is older than
    * maxWait outright (P/replicator.py:130-163). Times in epoch micros.
    */
  def settledChunks(chunks: DataFrame, nowUs: Long, minWaitUs: Long,
      maxWaitUs: Long): DataFrame = {
    val maxUpdate = chunks.agg(max("last_update_time_us")).first() match {
      case r if r.isNullAt(0) => Long.MinValue
      case r => r.getLong(0)
    }
    chunks.where(
      (col("last_update_time_us") < lit(maxUpdate) &&
        col("last_update_time_us") <= lit(nowUs - minWaitUs)) ||
        col("last_update_time_us") <= lit(nowUs - maxWaitUs))
  }

  /** Source/sink consistency check (T4/J8): same chunk id must carry the
    * same unique_id on both sides; returns mismatches.
    */
  def chunkMismatches(apdbChunks: DataFrame, ppdbChunks: DataFrame): DataFrame =
    apdbChunks.as("a")
      .join(ppdbChunks.as("p"), Seq("apdb_replica_chunk"))
      .where(col("a.unique_id") =!= col("p.unique_id"))
      .select(col("apdb_replica_chunk"), col("a.unique_id").as("apdb_uid"),
        col("p.unique_id").as("ppdb_uid"))

  /** Contiguous-prefix promotion barrier (T5): the longest run of
    * 'staged' chunks uninterrupted by any non-staged, non-terminal chunk
    * (P/bigquery/ppdb_bigquery.py:546-576). Control table is small —
    * evaluated on the driver.
    */
  def promotableChunkIds(chunks: DataFrame): Seq[Long] = {
    val ordered = chunks
      .select("apdb_replica_chunk", "status")
      .orderBy("apdb_replica_chunk")
      .collect()
    ordered.iterator
      .filter(r => r.getString(1) != PpdbSchema.ChunkStatus.Promoted &&
        r.getString(1) != PpdbSchema.ChunkStatus.Skipped)
      .takeWhile(_.getString(1) == PpdbSchema.ChunkStatus.Staged)
      .map(_.getLong(0)).toSeq
  }
}
