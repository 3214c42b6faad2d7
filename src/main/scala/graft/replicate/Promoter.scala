package graft.replicate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{MetadataTable, TableDelta, VersionedCatalog}
import graft.ops.PpdbOps
import graft.schema.PpdbSchema

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
  * Promote's merge is [[ScopedMerge.plan]], the one [[PpdbSpark.store]]
  * also runs: the scope is held on the driver, one dir probe per table
  * also settles J6 (an update must target an existing row), and only
  * the dirs holding a staged or patched key are rewritten.
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
  val schemaVersion = "graft-ppdb:0.1.0"

  /** Persisted key/value metadata (reference `metadata` table). */
  val meta = new MetadataTable(spark, catalog)

  /** Idempotent initialization: publish the empty internal and staging
    * tables with the schema/code versions, or on reopen check them
    * ([[MetadataTable.openOrCreate]]).
    */
  def init(): Unit = meta.openOrCreate(catalog.exists("internal.DiaObject")) {
    def staged(s: StructType) =
      s.add("apdb_replica_chunk", "long", nullable = false)
    catalog.commit(Map(
        "internal.DiaObject" -> PpdbSchema.diaObject,
        "internal.DiaSource" -> PpdbSchema.diaSource,
        "internal.DiaForcedSource" -> PpdbSchema.diaForcedSource,
        "staging.DiaObject" -> staged(PpdbSchema.diaObject),
        "staging.DiaSource" -> staged(PpdbSchema.diaSource),
        "staging.DiaForcedSource" -> staged(PpdbSchema.diaForcedSource),
        "staging.updates" -> PpdbSchema.expandedUpdates,
        "PpdbReplicaChunk" -> PpdbSchema.replicaChunk)
      .map { case (t, s) => t -> PpdbOps.emptyRows(spark, s) })
    ()
  }

  def chunkDir(chunkId: Long): String = s"$exportRoot/chunk_$chunkId"

  /** Step 1: export a chunk to parquet + manifest (S4/S5/S6). Empty chunks
    * short-circuit to status=skipped (T8).
    *
    * Each table DataFrame is evaluated exactly ONCE (the parquet write);
    * emptiness and manifest row counts come from the written footers, not
    * a prior `count()` pass. Publish order is data dirs → chunk-status
    * commit → manifest: [[ChunkUploader]] picks up `exported` rows and
    * validates their manifest, so the manifest is written last — by the
    * time it appears, every file it names and the status row are already
    * committed.
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
    * costs a per-dir rewrite, not a table rewrite ([[ScopedMerge.plan]]).
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

    // T6/W3: latest-only update patches for the batch. The cache feeds
    // the patch merges at commit time; its targets come to the driver in
    // one collect
    val updates = catalog.read(spark, "staging.updates").where(inChunks)
    val latest = PpdbOps.latestOnly(updates).cache()
    try {
    val updateKeys = graft.Metrics.time("promote_latest_updates_time",
      "batch" -> batchLabel)(PpdbOps.updateKeys(latest))

    // J9: the batch's staged rows MERGE into the internal tables, and
    // the public snapshot (S14) is refreshed in the same scope: staged
    // rows replace internal rows sharing their primary key, so a chunk
    // re-exported in update mode and promoted again lands exactly once
    val writes = ScopedMerge.plan(spark, catalog, "internal.",
      t => catalog.read(spark, s"staging.$t").where(inChunks)
        .drop("apdb_replica_chunk"),
      Some(latest), updateKeys, Some("public.DiaObjectLast"),
      replace = true, batchLabel)

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
    graft.Metrics.time("promote_commit_time", "batch" -> batchLabel) {
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

  private val loop = new ServiceLoop

  /** Ask a running [[run]] loop to exit after the current poll. */
  def requestStop(): Unit = loop.requestStop()

  /** Continuous promotion — the service-loop shape the reference deploys
    * as the promoter peer of the replicator and uploader
    * (P/bigquery/chunk_promoter.py's polling deployment): a
    * [[ServiceLoop]] whose poll stages whatever upload finished
    * ([[stageUploaded]]) and promotes up to `maxChunksPerPoll` of the
    * contiguous staged prefix; an idle poll sleeps `checkIntervalMs`
    * before the next. `single` exits after the first poll whether or not
    * it promoted (a one-shot on an idle catalog returns empty instead of
    * hanging on the check interval); `exitOnEmpty` exits on an idle poll.
    * Returns every chunk id promoted, in promote order.
    */
  def run(single: Boolean = false, exitOnEmpty: Boolean = false,
      maxChunksPerPoll: Option[Int] = None,
      checkIntervalMs: Long = 360000L,
      sleepMs: Long => Unit = Thread.sleep(_),
      onPoll: (Int, Seq[Long]) => Unit = (_, _) => ()): Seq[Long] =
    loop.run(checkIntervalMs, single, exitOnEmpty, sleepMs, onPoll) {
      stageUploaded()
      promote(maxChunksPerPoll)
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
