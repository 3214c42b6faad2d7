package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.catalog.VersionedCatalog
import graft.replicate._
import graft.schema.PpdbSchema

/** Remote-FS chunk uploader (S10/S11): full-fidelity upload through the
  * Hadoop FileSystem API, uploaded-state staging, rollback of partial
  * uploads, and the tolerant/strict failure modes.
  */
class UploaderSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(nChunks: Int): (Promoter, TestApdb, String) = {
    val cat = new VersionedCatalog(tmpDir("promo"))
    val p = new Promoter(spark, cat, tmpDir("export"))
    p.init()
    (p, new TestApdb(spark, nObjects = 4, nChunks = nChunks),
      "file://" + tmpDir("remote"))
  }

  test("uploads chunk files + manifest, flips status, notifies (S10/S11)") {
    val (p, apdb, remote) = fresh(2)
    Seq(1L, 2L).foreach(id => p.exportChunk(apdb.chunkData(id)))
    var notified = Vector.empty[(Long, String)]
    val up = new ChunkUploader(spark, p, remote,
      notify = (id, uri) => notified :+= (id, uri))
    assert(up.runOnce() == Seq(1L, 2L))

    val rows = p.catalog.read(spark, "PpdbReplicaChunk")
      .select("apdb_replica_chunk", "status", "uri")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(rows(1L)._1 == PpdbSchema.ChunkStatus.Uploaded)
    assert(rows(1L)._2 != null && rows(1L)._2.endsWith("/1"))
    assert(notified.map(_._1) == Vector(1L, 2L))

    // the remote copy validates against its own manifest (sizes + sha256)
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(ChunkManifest.validate(rows(1L)._2, hconf).isEmpty,
      "remote chunk is a byte-faithful copy")

    // staging works FROM THE REMOTE URI: remove the local export dirs
    Seq(1L, 2L).foreach { id =>
      val dir = Paths.get(p.chunkDir(id))
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
    p.stageChunks(Seq(1L, 2L))
    assert(p.promote() == Seq(1L, 2L))
    assert(p.catalog.read(spark, "internal.DiaObject").count() == 8)
  }

  test("empty chunk uploads its manifest once, keeps skipped status") {
    val (p, apdb, remote) = fresh(2)
    val empty = apdb.chunkData(1).copy(
      diaObjects = apdb.chunkData(1).diaObjects.limit(0),
      diaSources = apdb.chunkData(1).diaSources.limit(0),
      diaForcedSources = apdb.chunkData(1).diaForcedSources.limit(0),
      updates = Nil)
    p.exportChunk(empty)
    p.exportChunk(apdb.chunkData(2))
    val up = new ChunkUploader(spark, p, remote)
    // both process: the empty chunk's manifest keeps the remote id
    // sequence gapless for auditors
    assert(up.runOnce() == Seq(1L, 2L))
    val hconf = spark.sparkContext.hadoopConfiguration
    val m = ChunkManifest.read(s"$remote/1", hconf)
    assert(m.isEmptyChunk && m.entries.isEmpty)
    // local status stays skipped (reference behavior) with the remote
    // uri recorded, so later polls retire the chunk WITHOUT a remote
    // round-trip — poll cost must not grow with historical empty chunks
    val row = p.catalog.read(spark, "PpdbReplicaChunk")
      .where(col("apdb_replica_chunk") === 1L)
      .select("status", "uri").head()
    assert(row.getString(0) == PpdbSchema.ChunkStatus.Skipped)
    assert(Option(row.getString(1)).exists(_.endsWith("/1")),
      s"manifest upload records the remote uri, got ${row.getString(1)}")
    assert(up.runOnce().isEmpty, "second poll finds nothing due")
    // the short-circuit is local: even with the remote manifest gone the
    // chunk stays settled (proves no per-poll remote existence probe)
    Files.delete(Paths.get(s"${remote.stripPrefix("file://")}/1",
      ChunkManifest.FileName))
    assert(up.runOnce().isEmpty, "settled skipped chunk never re-probes")
    // legacy rows (no uri) self-heal: null the uri, restore the manifest
    // is NOT needed — the probe runs once, finds nothing, re-uploads,
    // and records the uri again
    val chunks = p.catalog.read(spark, "PpdbReplicaChunk")
    p.catalog.commit(Map("PpdbReplicaChunk" -> chunks.withColumn("uri",
      when(col("apdb_replica_chunk") === 1L, lit(null: String))
        .otherwise(col("uri")))))
    assert(up.runOnce() == Seq(1L), "uri-less skipped chunk re-uploads")
    val healed = p.catalog.read(spark, "PpdbReplicaChunk")
      .where(col("apdb_replica_chunk") === 1L)
      .select("uri").head().getString(0)
    assert(healed != null, "re-upload re-records the uri")
  }

  test("partial upload rolls back the whole remote prefix") {
    val (p, apdb, remote) = fresh(1)
    p.exportChunk(apdb.chunkData(1))
    // sabotage: a junk FILE squats where the DiaSource table DIRECTORY
    // must go, so mkdirs fails AFTER earlier tables' parquet files have
    // gone up — a genuinely partial transfer (overwrite=true makes a
    // pre-existing manifest file converge instead of failing, so the
    // squatter has to be a directory-slot collision)
    val prefix = Paths.get(remote.stripPrefix("file://"), "1")
    Files.createDirectories(prefix)
    Files.write(prefix.resolve("DiaSource"), "junk".getBytes)
    val up = new ChunkUploader(spark, p, remote)
    assert(up.runOnce().isEmpty, "failed chunk reported not-uploaded")
    assert(!Files.exists(prefix),
      "no partial chunk remains under the remote prefix")
    // chunk stays exported for a retry; next pass succeeds
    val status = p.catalog.read(spark, "PpdbReplicaChunk")
      .select("status").collect().map(_.getString(0)).toSeq
    assert(status == Seq(PpdbSchema.ChunkStatus.Exported))
    assert(up.runOnce() == Seq(1L))
  }

  // flip an uploaded chunk back to exported, as if a prior attempt
  // transferred everything and then crashed before markUploaded committed
  private def flipToExported(p: Promoter, id: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val chunks = p.catalog.read(spark, "PpdbReplicaChunk")
    p.catalog.commit(Map("PpdbReplicaChunk" -> chunks
      .withColumn("status", when(col("apdb_replica_chunk") === id,
        lit(PpdbSchema.ChunkStatus.Exported)).otherwise(col("status")))))
    ()
  }

  private def remoteFiles(prefix: java.nio.file.Path): Seq[java.nio.file.Path] =
    Files.walk(prefix).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  private val epoch = java.nio.file.attribute.FileTime.fromMillis(1000000L)

  test("bookkeeping-failure retry skips the transfer when remote is intact") {
    val (p, apdb, remote) = fresh(1)
    p.exportChunk(apdb.chunkData(1))
    val up = new ChunkUploader(spark, p, remote)
    assert(up.runOnce() == Seq(1L))
    flipToExported(p, 1L)
    // stamp every remote file with a sentinel mtime: an overwrite would
    // replace it, a skipped transfer leaves it
    val prefix = Paths.get(remote.stripPrefix("file://"), "1")
    remoteFiles(prefix).foreach(Files.setLastModifiedTime(_, epoch))
    assert(up.runOnce() == Seq(1L))
    val status = p.catalog.read(spark, "PpdbReplicaChunk")
      .select("status").collect().map(_.getString(0)).toSeq
    assert(status == Seq(PpdbSchema.ChunkStatus.Uploaded))
    assert(remoteFiles(prefix).forall(
      f => Files.getLastModifiedTime(f) == epoch),
      "intact remote files were not re-copied")
  }

  test("stale self-consistent remote copy is overwritten, not blessed") {
    val (p, apdb, remote) = fresh(1)
    p.exportChunk(apdb.chunkData(1))
    val up = new ChunkUploader(spark, p, remote)
    assert(up.runOnce() == Seq(1L))
    flipToExported(p, 1L)
    // re-export the SAME chunk id with different content (an extra update
    // record): the remote prefix still validates against its own manifest
    // but no longer matches the local export
    val apdb2 = new TestApdb(spark, nObjects = 4, nChunks = 1,
      extraUpdates = Map(1L -> Seq((1L,
        graft.schema.UpdateRecord.ReassignDiaSourceToDiaObject(
          1L, 0, 100001L, 1001L): graft.schema.UpdateRecord))))
    p.exportChunk(apdb2.chunkData(1))
    val hconf = spark.sparkContext.hadoopConfiguration
    val prefix = Paths.get(remote.stripPrefix("file://"), "1")
    assert(ChunkManifest.validate(prefix.toString, hconf).isEmpty,
      "precondition: stale remote still self-validates")
    remoteFiles(prefix).foreach(Files.setLastModifiedTime(_, epoch))
    assert(up.runOnce() == Seq(1L))
    // the transfer really re-ran and the remote now equals the new export
    assert(remoteFiles(prefix).exists(
      f => Files.getLastModifiedTime(f) != epoch),
      "stale remote files were re-copied")
    assert(ChunkManifest.read(prefix.toString, hconf) ==
      ChunkManifest.read(p.chunkDir(1), hconf),
      "remote manifest now matches the fresh local export")
  }

  test("corrupt manifest is a per-chunk failure, not a loop crash") {
    val (p, apdb, remote) = fresh(2)
    Seq(1L, 2L).foreach(id => p.exportChunk(apdb.chunkData(id)))
    // truncate chunk 1's manifest so it cannot even be parsed
    Files.write(Paths.get(p.chunkDir(1), ChunkManifest.FileName),
      "{\"chunk_id\":".getBytes)
    val up = new ChunkUploader(spark, p, remote)
    assert(up.runOnce() == Seq(2L),
      "healthy chunk still uploads past the corrupt one")
    val status = p.catalog.read(spark, "PpdbReplicaChunk")
      .orderBy($"apdb_replica_chunk")
      .select("status").collect().map(_.getString(0)).toSeq
    assert(status == Seq(PpdbSchema.ChunkStatus.Exported,
      PpdbSchema.ChunkStatus.Uploaded))
  }

  test("exitOnError propagates; a tolerant poll reports the failure and " +
      "the next poll retries after rollback") {
    val (p, apdb, remote) = fresh(1)
    p.exportChunk(apdb.chunkData(1))
    // a FILE where the chunk's DiaSource dir must go: the copy fails
    val prefix = Paths.get(remote.stripPrefix("file://"), "1")
    def plantJunk(): Unit = {
      Files.createDirectories(prefix)
      Files.write(prefix.resolve("DiaSource"), "junk".getBytes)
      ()
    }
    def status() = p.catalog.read(spark, "PpdbReplicaChunk")
      .select("status").collect().map(_.getString(0)).toSeq
    plantJunk()
    val strict = new ChunkUploader(spark, p, remote, exitOnError = true)
    intercept[ChunkUploadException] { strict.runOnce() }
    // the strict failure rolled the junk prefix back; plant it again so
    // the tolerant poll fails too
    assert(!Files.exists(prefix))
    plantJunk()
    val tolerant = new ChunkUploader(spark, p, remote)
    Metrics.reset()
    val err = new java.io.ByteArrayOutputStream()
    val savedErr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val polled = try tolerant.runOnce() finally System.setErr(savedErr)
    assert(polled.isEmpty)
    assert(status() == Seq(PpdbSchema.ChunkStatus.Exported))
    assert(err.toString.contains("chunk 1: upload failed"), err.toString)
    val failures = Metrics.snapshot().filter(_.metric == "upload_failures")
    assert(failures.map(f => (f.tags, f.value)) ==
      Seq((Map("chunk_id" -> "1"), Some(1.0))), failures)
    // the failure rolled the junk back again: the next poll uploads
    assert(tolerant.runOnce() == Seq(1L), "retry after rollback uploads")
    assert(status() == Seq(PpdbSchema.ChunkStatus.Uploaded))
  }
}
