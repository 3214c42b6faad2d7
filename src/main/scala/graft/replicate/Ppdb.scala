package graft.replicate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{MetadataTable, TableDelta, VersionedCatalog}
import graft.ops.PpdbOps
import graft.schema.{PpdbSchema, UpdateRecord, VersionTuple}

/** One replica chunk's payload: the three table deltas plus ordered update
  * records (P/ppdb.py:117-153).
  */
final case class ChunkData(
    chunkId: Long,
    uniqueId: String,
    lastUpdateTimeUs: Long,
    diaObjects: DataFrame,
    diaSources: DataFrame,
    diaForcedSources: DataFrame,
    updates: Seq[(Long, UpdateRecord)])

/** The PPDB store interface (P/ppdb.py:51-153): ordered chunk ingestion
  * with exactly-once semantics, plus chunk bookkeeping queries.
  *
  * == Backend boundary ==
  *
  * The reference's primary backend is a LIVE RDBMS (Postgres/SQLite via
  * SQLAlchemy, P/sql/_ppdb_sql.py:74-557). This engine ships three
  * backends behind this trait: two Parquet ([[PpdbSpark]] direct-store,
  * [[PpdbStaged]] export-based) and the live-RDBMS [[PpdbJdbc]] over the
  * embedded Derby engine on the Spark classpath (any other JDBC store
  * plugs in by URL). Everything above this trait (Replicator ordering,
  * settled gating, unique-id consistency, update expansion) is
  * backend-agnostic and spec-tested against all three.
  */
trait Ppdb {
  def store(chunk: ChunkData): Unit
  def replicaChunks(minId: Option[Long] = None): DataFrame
  def metadata: Map[String, String]
}

/** A PPDB store the [[Replicator]] can drive: chunk ingestion with an
  * upsert mode, over either backend (direct-store [[PpdbSpark]] — the
  * reference's SQL backend — or export-based [[PpdbStaged]] — the
  * reference's BigQuery backend, where `store` means "write the chunk's
  * parquet export + manifest" and the upload/stage/promote services
  * carry it the rest of the way).
  */
trait ReplicaTarget extends Ppdb {
  def store(chunk: ChunkData, update: Boolean): Unit

  /** [[store]] when the caller has already established from its own read
    * of the chunk table whether `chunk.chunkId` is known there — the
    * Replicator's frontier/mismatch computation does exactly that, so
    * the per-chunk known-probe (a full extra bookkeeping-table read in
    * the hot replication loop) is skipped.
    */
  def store(chunk: ChunkData, update: Boolean, known: Boolean): Unit
}

/** Staged-backend replication target: `store` exports the chunk to
  * parquet + manifest with status=exported (the reference's BigQuery
  * `Ppdb.store`, P/bigquery/ppdb_bigquery.py:403-488), after which the
  * uploader/promoter services own it. Re-storing a known chunk id is a
  * no-op unless `update` — then the chunk is re-exported in place
  * (exportChunk upserts both the export dir and the bookkeeping row).
  */
final class PpdbStaged(spark: SparkSession, val promoter: Promoter)
    extends ReplicaTarget {

  def store(chunk: ChunkData): Unit = store(chunk, update = false)

  def store(chunk: ChunkData, update: Boolean): Unit = {
    // update mode re-exports regardless of the probe's answer — skip it
    val known = update || promoter.catalog.read(spark, "PpdbReplicaChunk")
      .where(col("apdb_replica_chunk") === chunk.chunkId)
      .limit(1).collect().nonEmpty
    store(chunk, update, known)
  }

  def store(chunk: ChunkData, update: Boolean, known: Boolean): Unit =
    if (!known || update) { promoter.exportChunk(chunk); () }

  def replicaChunks(minId: Option[Long] = None): DataFrame = {
    val base = promoter.catalog.read(spark, "PpdbReplicaChunk")
    val filtered = minId.fold(base)(m => base.where(col("apdb_replica_chunk") >= m))
    filtered.orderBy("last_update_time_us")
  }

  def metadata: Map[String, String] =
    promoter.meta.items + ("catalog_root" -> promoter.catalog.root)
}

/** Spark-native PPDB over a [[VersionedCatalog]], reproducing the SQL
  * backend's per-chunk transaction (P/sql/_ppdb_sql.py:127-155): insert
  * DiaObject rows, close superseded validity intervals, append the fact
  * tables, apply ordered update records with existence validation, and
  * upsert the chunk bookkeeping row — all published in ONE atomic catalog
  * commit (T7), so readers never observe partial chunks.
  */
final class PpdbSpark(spark: SparkSession, val catalog: VersionedCatalog)
    extends ReplicaTarget {

  val schemaVersion = "graft-ppdb:0.1.0"

  /** Persisted key/value metadata (reference `metadata` table,
    * P/sql/_ppdb_sql_base.py:151-154).
    */
  val meta = new MetadataTable(spark, catalog)

  private def emptyDf(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Idempotent initialization: publish empty versions of all tables and
    * record the schema/code versions in the metadata table. Reopening an
    * existing store instead CHECKS the stored versions against the
    * running code (P/sql/_ppdb_sql_base.py:156-158,333-372) and refuses
    * incompatible stores.
    */
  def init(): Unit = {
    if (!catalog.exists("DiaObject")) {
      catalog.commit(Map(
        "DiaObject" -> emptyDf(PpdbSchema.diaObject),
        "DiaSource" -> emptyDf(PpdbSchema.diaSource),
        "DiaForcedSource" -> emptyDf(PpdbSchema.diaForcedSource),
        "PpdbReplicaChunk" -> emptyDf(PpdbSchema.replicaChunk)))
      meta.init()
      meta.set(MetadataTable.SchemaVersionKey,
        PpdbSchema.schemaVersion.render, force = true)
      meta.set(MetadataTable.CodeVersionKey,
        VersionTuple.Current.render, force = true)
    } else checkVersions()
  }

  /** Refuse stores written by an incompatible schema or newer code line. */
  def checkVersions(): Unit =
    meta.checkCompatibility(PpdbSchema.schemaVersion, VersionTuple.Current)

  /** Schema-driven store creation — the reference's Felis-YAML `create`
    * path (P/cli/ppdb_cli.py:60-68 create-sql + --drop,
    * P/sql/_ppdb_sql_base.py:374-447 table build): publish one empty
    * table per declared schema (the internal PpdbReplicaChunk
    * bookkeeping table is added when the schema doesn't carry one),
    * declare every table in the registry under the schema's version, and
    * record schema/code versions in metadata. A non-empty catalog
    * refuses to be re-created unless `drop` is set, which drops every
    * existing table and registry entry first (the reference's
    * `--drop`).
    */
  def create(tableSchemas: Seq[(String, org.apache.spark.sql.types.StructType)],
      version: VersionTuple, registry: graft.catalog.SchemaRegistry,
      drop: Boolean = false): Unit = {
    val existing = catalog.tables
    if (existing.nonEmpty) {
      if (!drop) throw new IllegalStateException(
        s"catalog at ${catalog.root} is already initialized (tables: " +
          s"${existing.toSeq.sorted.mkString(", ")}); use drop to recreate")
      existing.foreach(catalog.drop)
      catalog.vacuum()
      registry.tables.foreach(registry.remove)
    }
    val withChunk = tableSchemas ++
      (if (tableSchemas.exists(_._1 == "PpdbReplicaChunk")) Nil
       else Seq("PpdbReplicaChunk" -> PpdbSchema.replicaChunk))
    catalog.commit(withChunk.map { case (t, s) => t -> emptyDf(s) }.toMap)
    withChunk.foreach { case (t, s) => registry.put(t, s, version) }
    meta.init()
    meta.set(MetadataTable.SchemaVersionKey, version.render, force = true)
    meta.set(MetadataTable.CodeVersionKey, VersionTuple.Current.render,
      force = true)
  }

  def replicaChunks(minId: Option[Long] = None): DataFrame = {
    val base = catalog.read(spark, "PpdbReplicaChunk")
    val filtered = minId.fold(base)(m => base.where(col("apdb_replica_chunk") >= m))
    filtered.orderBy("last_update_time_us")
  }

  def metadata: Map[String, String] =
    meta.items + ("catalog_root" -> catalog.root)

  def store(chunk: ChunkData): Unit = store(chunk, update = false)

  /** Exactly-once, in-order chunk store (T3): re-storing a known chunk id
    * is a no-op; chunk ids must arrive in ascending order.
    *
    * `update = true` is the reference's upsert mode
    * (P/sql/_ppdb_sql.py:127-155, CLI `--update`): a re-store REPLACES
    * rows sharing the incoming primary keys — (diaObjectId,
    * validityStartMjdTai) / diaSourceId / (diaObjectId, visit, detector)
    * — and rewrites the chunk's bookkeeping row, instead of no-oping.
    * Commits here are atomic, so unlike the SQL backend there are no
    * partial chunks to repair; update mode serves operator-driven
    * re-replication of a regenerated chunk. Like the reference, the
    * validity fill only closes NULL intervals, so re-stored data should
    * carry the same validityStart values it did originally.
    *
    * Cost model at scale: the fact tables (the 100 TB of a PPDB) are
    * ingested as APPEND deltas — one new directory per chunk, zero
    * rewrite — and when an update record patches them, only the
    * DIRECTORIES containing patched keys are rewritten
    * ([[VersionedCatalog.dirsTouching]], probed with the chunk's keys
    * held on the driver; the same probe settles J6). The DiaObject
    * validity fill is likewise scoped to the dirs holding this chunk's
    * object ids, so the per-chunk cost is O(chunk + touched dirs), never
    * O(table).
    */
  def store(chunk: ChunkData, update: Boolean): Unit = {
    val known = catalog.read(spark, "PpdbReplicaChunk")
      .where(col("apdb_replica_chunk") === chunk.chunkId)
      .limit(1).count() > 0
    store(chunk, update, known)
  }

  def store(chunk: ChunkData, update: Boolean, known: Boolean): Unit = {
    if (known && !update) return
    catalog.retrying() { expected =>
    val chunks = catalog.read(spark, "PpdbReplicaChunk")

    val objects = catalog.read(spark, "DiaObject")
    val sources = catalog.read(spark, "DiaSource")
    val forced = catalog.read(spark, "DiaForcedSource")
    val label = s"chunk${chunk.chunkId}"

    val latestOpt =
      if (chunk.updates.isEmpty) None
      else Some(PpdbOps.latestOnly(
        PpdbOps.expandUpdates(spark, chunk.updates)).cache())
    try {
    // the update targets come to the driver in one collect; they also
    // say which tables the chunk touches
    val updateKeys = latestOpt.fold(Seq.empty[PpdbOps.UpdateKey])(
      PpdbOps.updateKeys)
    val touched = updateKeys.map(_.table).toSet

    // 1. DiaObject: insert new versions and close superseded intervals
    //    (LEAD fill, W2+J3) — scoped to the dirs holding this chunk's
    //    object ids or patched object ids; other dirs carry over as-is
    val objSpec = PpdbOps.mergeSpecs("DiaObject")
    val objKeys = PpdbOps.keySchema(objSpec, objects.schema)
    val pkSchema = objKeys.add(objects.schema("validityStartMjdTai"))
    val objPatch = PpdbOps.patchKeys(spark, updateKeys, objSpec, objKeys)
    // the chunk's PKs that the table's dirs can hold or that share an id
    // with a patch key; the others are new objects
    val chunkPks = PpdbOps.neededKeys(chunk.diaObjects, pkSchema,
      catalog.mayHold("DiaObject", objKeys.head), objPatch)
    val chunkIds = chunkPks.map(r => Row(r.get(0))).toSet
    val objProbe = catalog.dirsTouching(spark, "DiaObject", objKeys,
      chunkIds.map(_ -> false).toMap ++ objPatch)
    val objBase0 =
      if (objProbe.dirs.isEmpty) emptyDf(objects.schema)
      else catalog.readDirs(spark, objProbe.dirs, objects.columns.toSeq)
    // upsert mode: incoming rows REPLACE same-PK versions
    val objBase =
      if (!update) objBase0
      else objBase0.join(
        broadcast(PpdbOps.localRows(spark, chunkPks, pkSchema)),
        Seq("diaObjectId", "validityStartMjdTai"), "left_anti")
    val filled = graft.Metrics.time("update_validity_time",
        "table" -> "DiaObject") {
      PpdbOps.fillValidityEnd(objBase,
        chunk.diaObjects.select(objects.columns.map(col).toSeq: _*),
        PpdbOps.localRows(spark, chunkIds.toSeq, objKeys))
    }

    val srcDelta = chunk.diaSources.select(sources.columns.map(col).toSeq: _*)
    val fsrcDelta = chunk.diaForcedSources.select(forced.columns.map(col).toSeq: _*)

    // 2. ordered update records (LWW collapse + per-table patch merge,
    //    J4/J5) with existence validation (J6), settled on the driver:
    //    any existing row with a patched key lives in a dir the probe
    //    scanned, so a patched key neither found there nor carried by the
    //    chunk is missing from the table
    def requireFound(table: String, patch: Map[Row, Boolean],
        found: Set[Row], staged: Set[Row]): Unit =
      PpdbOps.danglingKeys(patch, found, staged).headOption.foreach { k =>
        throw new IllegalStateException(
          s"chunk ${chunk.chunkId}: update for missing $table row " +
            k.toString)
      }
    def scopedFact(t: String, full: DataFrame,
        delta: DataFrame): TableDelta = {
      if (!touched(t) && !update)
        return TableDelta(appends = Seq(delta -> label))
      val spec = PpdbOps.mergeSpecs(t)
      val keys = PpdbOps.keySchema(spec, full.schema)
      val patch = PpdbOps.patchKeys(spark, updateKeys, spec, keys)
      // the chunk's own keys that J6 may look for and, in upsert mode,
      // those the table's dirs can hold: the rows the incoming delta's
      // PKs replace (spec.keys IS the fact-table PK)
      val deltaKeys = PpdbOps.neededKeys(delta, keys,
        if (update) catalog.mayHold(t, keys.head) else None, patch)
      // dirs to open: those holding patched keys and, in upsert mode,
      // those holding rows the incoming delta replaces
      val probed = catalog.dirsTouching(spark, t, keys,
        (if (update) deltaKeys.map(_ -> false).toMap
         else Map.empty[Row, Boolean]) ++ patch)
      requireFound(t, patch, probed.found, deltaKeys.toSet)
      val base0 =
        if (probed.dirs.isEmpty) emptyDf(full.schema)
        else catalog.readDirs(spark, probed.dirs, full.columns.toSeq)
      val base =
        if (!update) base0
        else base0.join(broadcast(PpdbOps.localRows(spark, deltaKeys, keys)),
          spec.keys,
          "left_anti")
      val rows = base.unionByName(delta)
      val patched =
        if (patch.isEmpty) rows
        else PpdbOps.mergePatch(rows, PpdbOps.buildPatch(latestOpt.get, spec),
          spec)
      TableDelta(dropDirs = probed.dirs.toSet, appends = Seq(patched -> label))
    }
    val objDelta = {
      requireFound("DiaObject", objPatch, objProbe.found, chunkIds)
      val objPatched =
        if (objPatch.isEmpty) filled
        else PpdbOps.mergePatch(filled,
          PpdbOps.buildPatch(latestOpt.get, objSpec), objSpec)
      TableDelta(dropDirs = objProbe.dirs.toSet,
        appends = Seq(objPatched -> label))
    }

    // 3. chunk bookkeeping row (appended; the control table stays tiny)
    val newChunkRow = spark.createDataFrame(
      java.util.List.of(Row(chunk.chunkId, chunk.lastUpdateTimeUs,
        chunk.uniqueId, System.currentTimeMillis() * 1000L,
        PpdbSchema.ChunkStatus.Promoted, null,
        chunk.updates.size.toLong)),
      PpdbSchema.replicaChunk)

    // 4. single atomic commit: scoped DiaObject + fact appends (scoped
    //    rewrites only where patched/upserted) + bookkeeping append, or
    //    in update mode a rewrite of the (tiny) control table so the
    //    chunk keeps exactly one row
    val chunkDelta =
      if (known) TableDelta(rewrite = Some(
        chunks.where(col("apdb_replica_chunk") =!= chunk.chunkId)
          .unionByName(newChunkRow)))
      else TableDelta(appends = Seq(newChunkRow -> label))
    graft.Metrics.time("store_data_time",
        "chunk_id" -> chunk.chunkId.toString) {
    catalog.commitAll(Map(
      "DiaObject" -> objDelta,
      "DiaSource" -> scopedFact("DiaSource", sources, srcDelta),
      "DiaForcedSource" -> scopedFact("DiaForcedSource", forced, fsrcDelta),
      "PpdbReplicaChunk" -> chunkDelta), Some(expected))
    }
    ()
    // the patch cache is only read by the writes above; drop it even when
    // J6 or commitAll throws, so storage memory doesn't accumulate across
    // retried store() calls
    } finally latestOpt.foreach(_.unpersist())
    }
  }
}
