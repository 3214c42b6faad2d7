package graft.replicate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{MetadataTable, TableDelta, VersionedCatalog}
import graft.functions.SpatialCell
import graft.ops.PpdbOps
import graft.schema.{PpdbSchema, UpdateRecord, VersionTuple}

/** The staged (lakehouse) pipeline — the Spark re-expression of the
  * reference's BigQuery backend:
  *
  *  1. [[exportChunk]]: chunk → parquet dir + manifest, status=exported
  *     (ppdb_bigquery.py:403-488);
  *  2. [[stageChunks]]: load exported chunk dirs into the staging tables
  *     with the chunk id column attached, status=staged (the external
  *     Dataflow job in the reference, test_chunk_promoter.py:146-190);
  *  3. [[promote]]: staging → internal for a contiguous staged prefix —
  *     insert with computed cell column, LEAD validity fill scoped to
  *     touched objects, LWW update merge, latest snapshot, staged-row
  *     delete, status=promoted — all published as ONE atomic commit
  *     (chunk_promoter.py:117-348).
  *
  * Promote's scope is held on the driver: the batch's update targets
  * come in one collect, and per table one filtered scan (no shuffle)
  * collects the staged keys that the table's dirs can hold, per their
  * zone maps, or that share an id with an update target, typed like the
  * target key columns. Staged keys new to a table stay off the driver,
  * so its memory follows the batch's overlap with stored data, not the
  * batch size. One dir probe per table takes those keys, and also
  * reports which patched keys it found, so the J6 check (an update must
  * target an existing row) is a set difference on the driver instead of
  * a query. The rewrite plans' scope joins use the same keys as
  * broadcast local relations.
  *
  * Concurrency: the Spark jobs of one step that do not depend on each
  * other run at the same time ([[graft.Concurrently]]) — export's three
  * table writes, promote's per-table chains (staged-key collect, dir
  * probe, base read; the DiaObject chain probes the snapshot too) and
  * every write of a commit. Each step still waits for all of its jobs
  * before the next begins, errors surface in table order, and J6 and the
  * catalog pointer move run on the caller's thread.
  *
  * Scale notes: staging tables are partitioned by apdb_replica_chunk so
  * the staged-row delete (S15) is a partition drop, not a rewrite; the
  * promote rewrite touches internal tables once per batch of chunks, not
  * per chunk; the snapshot write is cell-sorted for spatial locality.
  */
final class Promoter(spark: SparkSession, val catalog: VersionedCatalog,
    exportRoot: String) {
  import Promoter.Scoped

  val schemaVersion = "graft-ppdb:0.1.0"

  /** Persisted key/value metadata (reference `metadata` table). */
  val meta = new MetadataTable(spark, catalog)

  private def emptyDf(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def init(): Unit = {
    if (catalog.exists("internal.DiaObject")) {
      // reopen: refuse stores written by an incompatible schema/code line
      meta.checkCompatibility(PpdbSchema.schemaVersion, VersionTuple.Current)
      return
    }
    meta.init()
    meta.set(MetadataTable.SchemaVersionKey,
      PpdbSchema.schemaVersion.render, force = true)
    meta.set(MetadataTable.CodeVersionKey,
      VersionTuple.Current.render, force = true)
    catalog.commit(Map(
        "internal.DiaObject" -> emptyDf(PpdbSchema.diaObject),
        "internal.DiaSource" -> emptyDf(PpdbSchema.diaSource),
        "internal.DiaForcedSource" -> emptyDf(PpdbSchema.diaForcedSource),
        "staging.DiaObject" -> emptyDf(PpdbSchema.diaObject
          .add("apdb_replica_chunk", "long", nullable = false)),
        "staging.DiaSource" -> emptyDf(PpdbSchema.diaSource
          .add("apdb_replica_chunk", "long", nullable = false)),
        "staging.DiaForcedSource" -> emptyDf(PpdbSchema.diaForcedSource
          .add("apdb_replica_chunk", "long", nullable = false)),
        "staging.updates" -> emptyDf(PpdbSchema.expandedUpdates),
        "PpdbReplicaChunk" -> emptyDf(PpdbSchema.replicaChunk)))
    ()
  }

  def chunkDir(chunkId: Long): String = s"$exportRoot/chunk_$chunkId"

  /** Step 1: export a chunk to parquet + manifest (S4/S5/S6). Empty chunks
    * short-circuit to status=skipped (T8).
    *
    * Each table DataFrame is evaluated exactly ONCE (the parquet write);
    * emptiness and manifest row counts come from the written footers, not
    * a prior `count()` pass. Publish order is data dirs → chunk-status
    * commit → manifest: the manifest is what [[ChunkStream]] triggers on,
    * so by the time it appears the status row a staging consumer needs is
    * already committed (manifest-first would let a fast stream observe a
    * chunk it can never stage, checkpoint it as consumed, and wedge the
    * promote contiguity barrier).
    */
  def exportChunk(chunk: ChunkData): String =
      graft.Metrics.time("write_parquet_time",
        "chunk_id" -> chunk.chunkId.toString) {
    val dir = chunkDir(chunk.chunkId)
    val tables = Map(
      "DiaObject" -> chunk.diaObjects,
      "DiaSource" -> chunk.diaSources,
      "DiaForcedSource" -> chunk.diaForcedSources)
    val hconf = spark.sparkContext.hadoopConfiguration
    // the three table writes are independent jobs: run them together
    val dirs = graft.Concurrently.all(tables.toSeq.map { case (t, df) =>
      () => {
        val d = s"$dir/$t"
        // snappy parquet, subchunk column dropped (S4 exclude_columns)
        df.drop("apdb_replica_subchunk")
          .write.mode("overwrite").option("compression", "snappy").parquet(d)
        t -> d
      }
    }).toMap
    val rowsWritten = dirs.values.map { d =>
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(ChunkManifest.parquetRowCount(_, hconf)).sum
    }.sum
    val isEmpty = rowsWritten == 0L && chunk.updates.isEmpty
    graft.Metrics.count("write_parquet_rows", rowsWritten.toDouble,
      "chunk_id" -> chunk.chunkId.toString)

    val tableDirs =
      if (isEmpty) {
        // nothing to load: drop the (empty-part-file) dirs, keep only the
        // manifest as the chunk's record
        dirs.values.foreach(d => deleteLocal(new java.io.File(d)))
        Map.empty[String, String]
      } else {
        val upd = PpdbOps.expandUpdates(spark, chunk.updates)
        upd.write.mode("overwrite").parquet(s"$dir/updates")
        dirs + ("updates" -> s"$dir/updates")
      }
    val manifest = ChunkManifest.build(chunk.chunkId, schemaVersion,
      chunk.updates.size.toLong, tableDirs)
    new java.io.File(dir).mkdirs()

    val status = if (isEmpty) PpdbSchema.ChunkStatus.Skipped
      else PpdbSchema.ChunkStatus.Exported
    upsertChunkRow(chunk, status, Some(dir))
    ChunkManifest.write(manifest, dir)
    dir
  }

  private def deleteLocal(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteLocal)
    f.delete()
    ()
  }

  /** Flip one exported chunk to status=uploaded recording its remote URI
    * (S10; set by [[ChunkUploader]] after a complete upload).
    */
  def markUploaded(chunkId: Long, uri: String): Unit =
      catalog.retrying() { expected =>
    val chunks = catalog.read(spark, "PpdbReplicaChunk")
    val hit = col("apdb_replica_chunk") === chunkId
    catalog.commit(Map("PpdbReplicaChunk" -> chunks
      .withColumn("status",
        when(hit, lit(PpdbSchema.ChunkStatus.Uploaded))
          .otherwise(col("status")))
      .withColumn("uri", when(hit, lit(uri)).otherwise(col("uri")))),
      Some(expected))
    ()
  }

  /** Record a chunk's remote URI WITHOUT advancing its status — used for
    * skipped (empty) chunks after their manifest-only upload, so later
    * uploader polls drop them from the due set locally instead of probing
    * the remote filesystem for every historical empty chunk forever.
    */
  def markRemoteUri(chunkId: Long, uri: String): Unit =
    markRemoteUris(Map(chunkId -> uri))

  /** Batched [[markRemoteUri]]: one control-table commit however many
    * chunks healed in a poll — a first poll against a catalog with K
    * un-recorded historical empty chunks must not pay K table rewrites
    * and leave K commits for vacuum.
    */
  def markRemoteUris(uris: Map[Long, String]): Unit = {
    if (uris.isEmpty) return
    import spark.implicits._
    catalog.retrying() { expected =>
      val chunks = catalog.read(spark, "PpdbReplicaChunk")
      val heal = uris.toSeq.toDF("apdb_replica_chunk", "_heal_uri")
      catalog.commit(Map("PpdbReplicaChunk" -> chunks
        .join(broadcast(heal), Seq("apdb_replica_chunk"), "left")
        .withColumn("uri", coalesce(col("_heal_uri"), col("uri")))
        .drop("_heal_uri")), Some(expected))
      ()
    }
  }

  /** Step 2: load chunks into staging (validating manifests), add the
    * chunk id column, partition by it, status=staged. Exported chunks
    * load from their local export dir; uploaded chunks load from their
    * recorded remote URI (any Hadoop FS — the reference's
    * Dataflow-stages-from-GCS step).
    */
  def stageChunks(chunkIds: Seq[Long]): Unit =
      catalog.retrying() { expected =>
    val rows = catalog.read(spark, "PpdbReplicaChunk")
      .where(col("apdb_replica_chunk").isin(chunkIds: _*))
      .select("apdb_replica_chunk", "status", "uri").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2)))))
      .toMap
    val sources: Seq[(Long, String)] = chunkIds.flatMap { id =>
      rows.get(id).collect {
        case (PpdbSchema.ChunkStatus.Exported, _) => id -> chunkDir(id)
        case (PpdbSchema.ChunkStatus.Uploaded, Some(uri)) => id -> uri
      }
    }
    if (sources.nonEmpty) {
      val hconf = spark.sparkContext.hadoopConfiguration
      sources.foreach { case (id, src) =>
        val problems = ChunkManifest.validate(src, hconf)
        if (problems.nonEmpty)
          throw new IllegalStateException(
            s"chunk $id manifest invalid: ${problems.mkString("; ")}")
      }
      // per-chunk labeled appends: staging grows by metadata + delta
      // bytes only, and the staged-row delete at promote time is a
      // directory drop. dropLabels first: a chunk re-exported in update
      // mode while its previous staged rows still sat in staging (never
      // promoted) must REPLACE them, not coexist — re-staging is
      // idempotent per chunk id
      val staleLabels = sources.map { case (id, _) => s"chunk$id" }.toSet
      val writes = PpdbSchema.dataTables.map { t =>
        s"staging.$t" -> TableDelta(dropLabels = staleLabels,
          appends = sources.map { case (id, src) =>
            spark.read.parquet(s"$src/$t")
              .withColumn("apdb_replica_chunk", lit(id)) -> s"chunk$id"
          })
      }.toMap
      val updWrites = "staging.updates" -> TableDelta(
        dropLabels = staleLabels,
        appends = sources.map { case (id, src) =>
          spark.read.schema(PpdbSchema.expandedUpdates)
            .parquet(s"$src/updates") -> s"chunk$id"
        })
      val chunkTable =
        setStatus(sources.map(_._1), PpdbSchema.ChunkStatus.Staged)
      graft.Metrics.time("stage_commit_time",
          "chunks" -> sources.map(_._1).mkString(",")) {
        catalog.commitAll(writes + updWrites +
          ("PpdbReplicaChunk" -> TableDelta(rewrite = Some(chunkTable))),
          Some(expected))
      }
    }
    ()
  }

  /** Step 3: promote the contiguous staged prefix (T5) into the internal
    * tables and refresh the public latest snapshot. One atomic commit.
    *
    * Partition-scoped rewrites: the internal tables are unions of
    * immutable directories, and promotion only rewrites the directories
    * that actually hold a staged or patched key (located with the
    * catalog's pruned [[VersionedCatalog.dirsTouching]] probe over the
    * driver-held keys). Every other directory's bytes carry over
    * untouched — so one stray update record against a 100 TB fact table
    * costs a per-dir rewrite, not a table rewrite.
    */
  def promote(): Seq[Long] = promote(None)

  /** [[promote]] with a batching cap: at most `maxChunks` chunks of the
    * contiguous staged prefix per call — the backpressure knob for the
    * continuous [[run]] loop (each commit's rewrite work stays bounded
    * however far promotion has fallen behind; the remainder is still a
    * contiguous prefix and promotes on later polls).
    */
  def promote(maxChunks: Option[Int]): Seq[Long] =
      catalog.retrying() { expected =>
    val chunks = catalog.read(spark, "PpdbReplicaChunk")
    val all = PpdbOps.promotableChunkIds(chunks)
    val ids = maxChunks.fold(all)(all.take)
    if (ids.isEmpty) Nil else promoteBatch(ids, expected)
  }

  /** The non-empty-batch body of [[promote]], committed against the
    * `expected` base commit (re-run wholesale on a concurrent-writer
    * conflict).
    */
  private def promoteBatch(ids: Seq[Long], expected: Long): Seq[Long] = {
    val inChunks = col("apdb_replica_chunk").isin(ids: _*)
    val batchLabel = s"promo${ids.head}_${ids.last}"
    val batchTag = "batch" -> batchLabel

    // T6/W3: latest-only update patches for the batch. The cache feeds
    // the patch merges at commit time; its targets come to the driver in
    // one collect
    val updates = catalog.read(spark, "staging.updates").where(inChunks)
    val latest = PpdbOps.latestOnly(updates).cache()
    try {
    val updateKeys = graft.Metrics.time("promote_latest_updates_time",
      batchTag)(PpdbOps.updateKeys(latest))

    // J9: staged rows for the batch, realigned to internal schema
    val stagedObj = catalog.read(spark, "staging.DiaObject").where(inChunks)
      .drop("apdb_replica_chunk")
    val internalObj = catalog.read(spark, "internal.DiaObject")
    val objSpec = PpdbOps.mergeSpecs("DiaObject")
    val objKeys = PpdbOps.keySchema(objSpec, internalObj.schema)

    def probe(table: String, keySchema: StructType, keys: Map[Row, Boolean]) =
      graft.Metrics.time("promote_dir_probe_time", batchTag,
          "table" -> table) {
        catalog.dirsTouching(spark, table, keySchema, keys)
      }

    // Each output table's chain reads the staged keys it needs to the
    // driver (one filtered scan, no shuffle): those the table's dirs can
    // hold per their zone maps, and those sharing an id with a patch key.
    // The rest are new to the table, so neither the probe, the same-key
    // replacement nor J6 needs them, and a large batch of new rows costs
    // the driver nothing. The chain then probes the dirs holding a needed
    // or patched key and builds the plan of the rows replacing them. The
    // chains share no state, so they run concurrently; nothing commits
    // until all have finished, and a failure surfaces as the first in
    // chain order (DiaObject, DiaSource, DiaForcedSource), whatever the
    // thread timing. Every scope join below uses the driver-held keys as
    // a broadcast local relation.
    val snapTable = "public.DiaObjectLast"
    val objectChain = () => {
      val idField = objKeys.head
      val pkSchema = objKeys.add(internalObj.schema("validityStartMjdTai"))
      val patch = PpdbOps.patchKeys(spark, updateKeys, objSpec, objKeys)
      // the snapshot (S14) shares the ids: a key either table can hold
      val mayExist = (catalog.mayHold("internal.DiaObject", idField) ++
        catalog.mayHold(snapTable, idField)).reduceOption(_ || _)
      val stagedPks = PpdbOps.neededKeys(stagedObj, pkSchema, mayExist, patch)
      val staged = stagedPks.map(r => Row(r.get(0))).toSet
      val scope = staged.map(_ -> false).toMap ++ patch
      // the public snapshot is scoped like the source table: only its
      // dirs holding a scoped object id are rewritten
      val Seq(objProbe, snapProbe) = graft.Concurrently.all(Seq(
        () => probe("internal.DiaObject", objKeys, scope),
        () => probe(snapTable, objKeys, scope)))
      val stagedIds = PpdbOps.localRows(spark, staged.toSeq, objKeys)
      val scopeIds = PpdbOps.localRows(spark, scope.keys.toSeq, objKeys)

      // DiaObject: W2/J3 validity fill + A1/J4 patch over the probed dirs
      val objBase0 =
        if (objProbe.dirs.isEmpty) emptyDf(internalObj.schema)
        else catalog.readDirs(spark, objProbe.dirs, internalObj.columns.toSeq)
      // MERGE semantics (the reference's WHEN MATCHED UPDATE): staged rows
      // REPLACE internal rows sharing their primary key, so a chunk
      // re-exported in update mode and promoted again lands exactly once.
      // Normal-flow PKs are new — the anti-join drops nothing. The dir
      // probe above already covers same-PK rows (same diaObjectId).
      val objBase = objBase0.join(
        broadcast(PpdbOps.localRows(spark, stagedPks, pkSchema)),
        Seq("diaObjectId", "validityStartMjdTai"), "left_anti")
      val stagedRows = stagedObj.select(internalObj.columns.map(col).toSeq: _*)
      def patched(df: DataFrame) =
        if (patch.isEmpty) df
        else PpdbOps.mergePatch(df, PpdbOps.buildPatch(latest, objSpec),
          objSpec)
      val objRows = patched(
        PpdbOps.fillValidityEnd(objBase, stagedRows, stagedIds))

      // the snapshot rows: the snapshot dirs' out-of-scope rows carry
      // over, the in-scope rows are replaced by the scope's new open
      // intervals (an object whose interval closed simply disappears).
      // snapNew holds the SCOPE's rows only — every staged row and the
      // base rows of a staged or patched id: the probed dirs also carry
      // out-of-scope rows that merely shared a dir with scoped ids, and
      // those keep their existing snapshot rows via snapBase.
      val snapNew = PpdbOps.latestSnapshot(patched(PpdbOps.fillValidityEnd(
        objBase.join(broadcast(scopeIds), Seq("diaObjectId"), "left_semi"),
        stagedRows, stagedIds)))
      val snapBase =
        if (snapProbe.dirs.isEmpty) emptyDf(snapNew.schema)
        else catalog.readDirs(spark, snapProbe.dirs, snapNew.columns.toSeq)
          .join(broadcast(scopeIds), Seq("diaObjectId"), "left_anti")
      Seq(
        Scoped("DiaObject", "internal.DiaObject", objProbe.dirs, objRows,
          patch, objProbe.found, staged),
        Scoped("DiaObjectLast", snapTable, snapProbe.dirs,
          snapBase.unionByName(snapNew), Map.empty, Set.empty, Set.empty))
    }

    // fact tables: MERGE, not append — the dirs holding a row whose PK
    // the staged delta carries (a re-promoted update-mode chunk) or a
    // patched key are rewritten with same-PK rows replaced; everything
    // else is the plain append. In the normal flow delta PKs are new:
    // their ids lie outside every dir's zone map, no staged key reaches
    // the driver, and an untouched table is a plain append.
    def factChain(t: String) = () => {
      val name = s"internal.$t"
      val internal = catalog.read(spark, name)
      val delta = catalog.read(spark, s"staging.$t").where(inChunks)
        .drop("apdb_replica_chunk")
        .select(internal.columns.map(col).toSeq: _*)
      val spec = PpdbOps.mergeSpecs(t)
      val keys = PpdbOps.keySchema(spec, internal.schema)
      val patch = PpdbOps.patchKeys(spark, updateKeys, spec, keys)
      val stagedKeys = PpdbOps.neededKeys(delta, keys,
        catalog.mayHold(name, keys.head), patch)
      val staged = stagedKeys.toSet
      val probed = probe(name, keys, staged.map(_ -> false).toMap ++ patch)
      val rows =
        if (probed.dirs.isEmpty && patch.isEmpty) delta
        else {
          val base0 =
            if (probed.dirs.isEmpty) emptyDf(internal.schema)
            else catalog.readDirs(spark, probed.dirs, internal.columns.toSeq)
          val merged = base0
            .join(broadcast(PpdbOps.localRows(spark, stagedKeys, keys)),
              spec.keys, "left_anti")
            .unionByName(delta)
          if (patch.isEmpty) merged
          else PpdbOps.mergePatch(merged, PpdbOps.buildPatch(latest, spec),
            spec)
        }
      Seq(Scoped(t, name, probed.dirs, rows, patch, probed.found, staged))
    }

    val scoped = graft.Concurrently.all(Seq(objectChain,
      factChain("DiaSource"), factChain("DiaForcedSource"))).flatten

    // J6: an update record targeting a row that was never promoted must
    // ABORT the batch (mergePatch's left-outer join would silently drop
    // it) — same contract the direct-store path enforces. Settled on the
    // driver from what the probes found, in table order; starts no job.
    scoped.filter(_.patch.nonEmpty).foreach { s =>
      graft.Metrics.time("promote_validate_time", "table" -> s.label) {
        PpdbOps.danglingKeys(s.patch, s.found, s.staged).headOption
          .foreach { k =>
            throw new IllegalStateException(
              s"promote: update for missing ${s.label} row " + k.toString)
          }
      }
    }
    val writes = scoped.map { s =>
      s.table -> TableDelta(dropDirs = s.affected.toSet,
        appends = Seq(s.rows -> batchLabel))
    }.toMap

    // S15: staged-row delete = DIRECTORY DROP of the promoted chunks'
    // labeled append dirs (metadata-only, no rewrite)
    val dropLabels = ids.map(id => s"chunk$id").toSet
    val stagingWrites = (PpdbSchema.dataTables.map(t => s"staging.$t") :+
      "staging.updates").map { t =>
      t -> TableDelta(dropLabels = dropLabels)
    }.toMap

    val chunkTable = setStatus(ids, PpdbSchema.ChunkStatus.Promoted)

    // the commit is where the lazily-built merge/fill/patch plans
    // actually EXECUTE (parquet writes, one thread per table) — this
    // timer is the whole rewrite cost. Before it, promotion runs the
    // latest-updates collect, at most one staged-key collect and one
    // probe scan per table (plus the broadcast of its keys), and one
    // footer schema-inference job per spark.read.parquet without a
    // schema (catalog reads, readDirs' per-dir scans)
    graft.Metrics.time("promote_commit_time", batchTag) {
      catalog.commitAll(writes ++ stagingWrites ++ Map(
        "PpdbReplicaChunk" -> TableDelta(rewrite = Some(chunkTable))),
        Some(expected))
    }
    ids
    // the patch cache is only read by the writes above; drop it even when
    // validation/commit throws, so storage memory doesn't accumulate
    // across retried promote() calls
    } finally latest.unpersist()
  }

  /** Stage every uploaded-but-unstaged chunk from its remote URI — the
    * reference's Dataflow staging job collapsed into the promoter (also
    * crash recovery for a kill between upload and the staging
    * notification). Returns the ids staged, ascending.
    */
  def stageUploaded(): Seq[Long] = {
    val uploaded = catalog.read(spark, "PpdbReplicaChunk")
      .where(col("status") === PpdbSchema.ChunkStatus.Uploaded)
      .select("apdb_replica_chunk").collect().map(_.getLong(0)).toSeq.sorted
    if (uploaded.nonEmpty) stageChunks(uploaded)
    uploaded
  }

  @volatile private var stopRequested = false

  /** Ask a running [[run]] loop to exit after the current poll. */
  def requestStop(): Unit = stopRequested = true

  /** Continuous promotion — the service-loop shape the reference deploys
    * as the promoter peer of the replicator and uploader
    * (P/bigquery/chunk_promoter.py's polling deployment): each poll
    * stages whatever upload finished ([[stageUploaded]]), promotes up to
    * `maxChunksPerPoll` of the contiguous staged prefix, and reports via
    * `onPoll`. A poll that promoted something rolls straight into the
    * next poll (more may be waiting — and with a cap the remainder
    * usually IS waiting); an idle poll sleeps `checkIntervalMs` first,
    * in 1 s slices so [[requestStop]] takes effect promptly. Exits on
    * requestStop, after the first poll in `single` mode (promoting or
    * not — a one-shot on an idle catalog returns empty instead of
    * hanging on the check interval), or on an idle poll when
    * `exitOnEmpty`. Returns every chunk id promoted, in promote order.
    */
  def run(single: Boolean = false, exitOnEmpty: Boolean = false,
      maxChunksPerPoll: Option[Int] = None,
      checkIntervalMs: Long = 360000L,
      sleepMs: Long => Unit = Thread.sleep(_),
      onPoll: (Int, Seq[Long]) => Unit = (_, _) => ()): Seq[Long] = {
    // a requestStop only ends the run it interrupts — reset here so an
    // embedded/test caller can reuse the instance for a later run
    stopRequested = false
    val promoted = Seq.newBuilder[Long]
    var waitMs = 0L
    var polls = 0
    var done = false
    while (!done && !stopRequested) {
      if (waitMs > 0) {
        var left = waitMs
        while (left > 0 && !stopRequested) {
          sleepMs(math.min(left, 1000L)); left -= 1000L
        }
      }
      if (!stopRequested) {
        polls += 1
        stageUploaded()
        val ids = promote(maxChunksPerPoll)
        promoted ++= ids
        onPoll(polls, ids)
        // single = one-shot: exit after the FIRST poll whether or not it
        // promoted (same semantics as Replicator.run — an idle catalog
        // must not hang a one-shot command on the check interval)
        if (single || (ids.isEmpty && exitOnEmpty)) done = true
        waitMs = if (ids.nonEmpty) 0L else checkIntervalMs
      }
    }
    promoted.result()
  }

  // ----------------------------------------------------------------- helpers

  private def setStatus(ids: Seq[Long], status: String): DataFrame = {
    val chunks = catalog.read(spark, "PpdbReplicaChunk")
    chunks.withColumn("status",
      when(col("apdb_replica_chunk").isin(ids: _*), lit(status))
        .otherwise(col("status")))
  }

  private def upsertChunkRow(chunk: ChunkData, status: String,
      uri: Option[String]): Unit = catalog.retrying() { expected =>
    val chunks = catalog.read(spark, "PpdbReplicaChunk")
    val row = spark.createDataFrame(
      java.util.List.of(Row(chunk.chunkId, chunk.lastUpdateTimeUs,
        chunk.uniqueId, System.currentTimeMillis() * 1000L, status,
        uri.orNull, chunk.updates.size.toLong)),
      PpdbSchema.replicaChunk)
    catalog.commit(Map("PpdbReplicaChunk" ->
      chunks.where(col("apdb_replica_chunk") =!= chunk.chunkId)
        .unionByName(row)), Some(expected))
    ()
  }
}

object Promoter {

  /** One output table's share of a promote: the dirs it replaces, the
    * rows replacing them, and the inputs of its J6 check — the batch's
    * patch keys (see [[PpdbOps.patchKeys]]), those the probe found and
    * those the batch stages. `label` names the table in J6 errors.
    */
  private final case class Scoped(label: String, table: String,
      affected: Seq[String], rows: DataFrame, patch: Map[Row, Boolean],
      found: Set[Row], staged: Set[Row])
}
