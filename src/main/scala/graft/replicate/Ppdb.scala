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

/** The chunk bookkeeping the two Parquet targets share: both keep the
  * reference's `PpdbReplicaChunk` table and `metadata` table in their
  * [[VersionedCatalog]].
  */
sealed abstract class CatalogTarget(spark: SparkSession)
    extends ReplicaTarget {
  def catalog: VersionedCatalog

  /** Persisted key/value metadata (reference `metadata` table,
    * P/sql/_ppdb_sql_base.py:151-154).
    */
  def meta: MetadataTable

  def store(chunk: ChunkData): Unit = store(chunk, update = false)

  /** Whether the chunk table holds `chunkId` (one bookkeeping read). */
  protected def isKnown(chunkId: Long): Boolean =
    catalog.read(spark, "PpdbReplicaChunk")
      .where(col("apdb_replica_chunk") === chunkId)
      .limit(1).count() > 0

  def replicaChunks(minId: Option[Long] = None): DataFrame = {
    val base = catalog.read(spark, "PpdbReplicaChunk")
    val filtered = minId.fold(base)(m => base.where(col("apdb_replica_chunk") >= m))
    filtered.orderBy("last_update_time_us")
  }

  def metadata: Map[String, String] =
    meta.items + ("catalog_root" -> catalog.root)
}

/** Staged-backend replication target: `store` exports the chunk to
  * parquet + manifest with status=exported (the reference's BigQuery
  * `Ppdb.store`, P/bigquery/ppdb_bigquery.py:403-488), after which the
  * uploader/promoter services own it. Re-storing a known chunk id is a
  * no-op unless `update` — then the chunk is re-exported in place
  * (exportChunk upserts both the export dir and the bookkeeping row).
  */
final class PpdbStaged(spark: SparkSession, val promoter: Promoter)
    extends CatalogTarget(spark) {

  def catalog: VersionedCatalog = promoter.catalog
  def meta: MetadataTable = promoter.meta

  // update mode re-exports regardless of the probe's answer — skip it
  def store(chunk: ChunkData, update: Boolean): Unit =
    store(chunk, update, update || isKnown(chunk.chunkId))

  def store(chunk: ChunkData, update: Boolean, known: Boolean): Unit =
    if (!known || update) { promoter.exportChunk(chunk); () }
}

/** Spark-native PPDB over a [[VersionedCatalog]], reproducing the SQL
  * backend's per-chunk transaction (P/sql/_ppdb_sql.py:127-155): insert
  * DiaObject rows, close superseded validity intervals, append the fact
  * tables, apply ordered update records with existence validation, and
  * upsert the chunk bookkeeping row — all published in ONE atomic catalog
  * commit (T7), so readers never observe partial chunks. The merge is
  * [[ScopedMerge.plan]], the same one [[Promoter]] promotes with.
  */
final class PpdbSpark(spark: SparkSession, val catalog: VersionedCatalog)
    extends CatalogTarget(spark) {

  val meta = new MetadataTable(spark, catalog)

  /** Idempotent initialization: publish empty versions of all tables and
    * record the schema/code versions in the metadata table. Reopening an
    * existing store instead checks the stored versions
    * ([[MetadataTable.openOrCreate]]).
    */
  def init(): Unit = meta.openOrCreate(catalog.exists("DiaObject")) {
    catalog.commit(Map(
      "DiaObject" -> PpdbOps.emptyRows(spark, PpdbSchema.diaObject),
      "DiaSource" -> PpdbOps.emptyRows(spark, PpdbSchema.diaSource),
      "DiaForcedSource" -> PpdbOps.emptyRows(spark, PpdbSchema.diaForcedSource),
      "PpdbReplicaChunk" -> PpdbOps.emptyRows(spark, PpdbSchema.replicaChunk)))
    ()
  }

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
    catalog.commit(withChunk.map { case (t, s) =>
      t -> PpdbOps.emptyRows(spark, s) }.toMap)
    withChunk.foreach { case (t, s) => registry.put(t, s, version) }
    meta.stamp(version)
  }

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
    * ([[ScopedMerge.plan]]). The DiaObject validity fill is likewise
    * scoped to the dirs holding this chunk's object ids, so the
    * per-chunk cost is O(chunk + touched dirs), never O(table).
    */
  def store(chunk: ChunkData, update: Boolean): Unit =
    store(chunk, update, isKnown(chunk.chunkId))

  def store(chunk: ChunkData, update: Boolean, known: Boolean): Unit = {
    if (known && !update) return
    catalog.retrying() { expected =>
    val label = s"chunk${chunk.chunkId}"
    val latest =
      if (chunk.updates.isEmpty) None
      else Some(PpdbOps.latestOnly(
        PpdbOps.expandUpdates(spark, chunk.updates)).cache())
    try {
    // upsert mode: incoming rows REPLACE same-PK rows
    val merged = ScopedMerge.plan(spark, catalog, "", Map(
        "DiaObject" -> chunk.diaObjects,
        "DiaSource" -> chunk.diaSources,
        "DiaForcedSource" -> chunk.diaForcedSources),
      latest, latest.fold(Seq.empty[PpdbOps.UpdateKey])(PpdbOps.updateKeys),
      snapshot = None, replace = update, label)

    // chunk bookkeeping row: appended (the control table stays tiny), or
    // in update mode a rewrite of the control table so the chunk keeps
    // exactly one row
    val newChunkRow = spark.createDataFrame(
      java.util.List.of(Row(chunk.chunkId, chunk.lastUpdateTimeUs,
        chunk.uniqueId, System.currentTimeMillis() * 1000L,
        PpdbSchema.ChunkStatus.Promoted, null,
        chunk.updates.size.toLong)),
      PpdbSchema.replicaChunk)
    val chunkDelta =
      if (known) TableDelta(rewrite = Some(
        catalog.read(spark, "PpdbReplicaChunk")
          .where(col("apdb_replica_chunk") =!= chunk.chunkId)
          .unionByName(newChunkRow)))
      else TableDelta(appends = Seq(newChunkRow -> label))
    // single atomic commit: the merged tables + the bookkeeping row
    graft.Metrics.time("store_data_time",
        "chunk_id" -> chunk.chunkId.toString) {
    catalog.commitAll(merged + ("PpdbReplicaChunk" -> chunkDelta),
      Some(expected))
    }
    ()
    // the patch cache is only read by the writes above; drop it even when
    // J6 or commitAll throws, so storage memory doesn't accumulate across
    // retried store() calls
    } finally latest.foreach(_.unpersist())
    }
  }
}
