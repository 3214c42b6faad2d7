package graft.replicate

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.schema.PpdbSchema

/** Raised when a chunk cannot be uploaded; the chunk's remote prefix has
  * already been rolled back when this escapes
  * (P/bigquery/chunk_uploader.py:57-75 ChunkUploadError semantics).
  */
final class ChunkUploadException(val chunkId: Long, msg: String,
    cause: Throwable = null)
    extends RuntimeException(s"chunk $chunkId: $msg", cause)

/** Remote-FS chunk uploader (S10/S11) — the engine's counterpart of the
  * reference's GCS uploader (P/bigquery/chunk_uploader.py:99-301): polls
  * for EXPORTED chunks and, per chunk,
  *
  *  1. validates the local manifest and its files (presence + size +
  *     sha256 — a superset of the reference's presence check);
  *  2. copies the parquet files then the manifest to
  *     `<remoteRoot>/<chunkId>/` through the Hadoop FileSystem API, so
  *     the target can be file://, hdfs://, s3a://, ...;
  *  3. flips the chunk row to status=uploaded with the remote URI;
  *  4. fires the staging notification hook (the reference's Pub/Sub
  *     message to the Dataflow staging job — here a callback that e.g.
  *     triggers [[Promoter.stageChunks]]).
  *
  * ANY failure rolls back by recursively deleting the chunk's remote
  * prefix before the error propagates — a reader of the remote store
  * never observes a partial chunk. Empty chunks upload only their
  * manifest and keep their local status (reference behavior).
  *
  * One [[runOnce]] is one poll; the CLI's `upload` runs it as a single
  * poll of a [[ServiceLoop]]. `exitOnError` (reference CLI,
  * P/cli/options.py:142-154) propagates the first failure instead of
  * logging it to stderr, counting it as `upload_failures` and continuing.
  */
final class ChunkUploader(
    spark: SparkSession,
    promoter: Promoter,
    remoteRoot: String,
    notify: (Long, String) => Unit = (_, _) => (),
    exitOnError: Boolean = false) {

  private val conf = spark.sparkContext.hadoopConfiguration

  /** One polling pass; returns the ids uploaded. Besides exported chunks,
    * SKIPPED (empty) chunks whose manifest is not yet remote are picked
    * up — their manifest-only upload is what keeps the remote chunk-id
    * sequence gapless for auditors (reference behavior: local status
    * stays skipped; the chunk row's `uri` flips from the local export dir
    * to THIS uploader's remote prefix after the manifest upload, so
    * settled skipped chunks drop out of the due set LOCALLY — poll cost
    * must not grow with the count of historical empty chunks, and a
    * remote round-trip per empty chunk per poll would dominate on s3a).
    * Skipped rows whose uri is not the remote prefix (fresh exports,
    * older builds, or a crash between upload and bookkeeping) fall back
    * to one remote-existence probe and self-heal by recording the uri
    * when the manifest is found. With `exitOnError` unset, a failed
    * chunk is reported and skipped (it stays exported for the next pass)
    * and later chunks still process.
    */
  def runOnce(): Seq[Long] = {
    val rows = promoter.catalog.read(spark, "PpdbReplicaChunk")
      .where(col("status").isin(PpdbSchema.ChunkStatus.Exported,
        PpdbSchema.ChunkStatus.Skipped))
      .select("apdb_replica_chunk", "status", "uri")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    // qualification is a local string computation, not a remote call
    def remoteUri(id: Long): String = {
      val prefix = new HPath(remoteRoot, id.toString)
      prefix.getFileSystem(conf).makeQualified(prefix).toString
    }
    // heals are collected across the scan and committed ONCE below —
    // K historical un-recorded chunks must cost one control-table
    // rewrite per poll, not K
    val heals = Map.newBuilder[Long, String]
    val due = rows.filter {
      case (_, PpdbSchema.ChunkStatus.Exported, _) => true
      case (id, _, Some(uri)) if uri == remoteUri(id) => false // settled
      case (id, _, _) => // un-recorded skipped: probe remote once
        val prefix = new HPath(remoteRoot, id.toString)
        val remote = new HPath(prefix, ChunkManifest.FileName)
        try {
          val there = remote.getFileSystem(conf).exists(remote)
          // heal the row so this probe never repeats
          if (there) heals += id -> remoteUri(id)
          !there
        }
        catch { case _: Exception => true } // unreadable remote ⇒ attempt
    }
    promoter.markRemoteUris(heals.result())
    due.map(_._1).filter { id =>
      try { uploadChunk(id); true }
      catch {
        case e: ChunkUploadException =>
          if (exitOnError) throw e
          System.err.println(e.getMessage +
            Option(e.getCause).fold("")(c => s": $c"))
          graft.Metrics.count("upload_failures", 1.0, "chunk_id" -> id.toString)
          false
      }
    }
  }

  /** Upload one chunk with rollback-on-failure. */
  def uploadChunk(chunkId: Long): Unit = {
    val localDir = promoter.chunkDir(chunkId)
    val problems = ChunkManifest.validate(localDir, conf)
    if (problems.nonEmpty)
      throw new ChunkUploadException(chunkId,
        s"invalid local chunk: ${problems.mkString("; ")}")
    val manifest = ChunkManifest.read(localDir, conf)
    if (manifest.entries.isEmpty && !manifest.isEmptyChunk)
      throw new ChunkUploadException(chunkId,
        s"no files to upload in $localDir for non-empty chunk")

    val remotePrefix = new HPath(remoteRoot, chunkId.toString)
    val fs: FileSystem = remotePrefix.getFileSystem(conf)
    // Idempotent retry: a prior attempt may have transferred everything
    // and then failed only the status flip / notification (remote bytes
    // intact by design). Skip the transfer only when the remote prefix
    // validates AND its manifest equals the local one — a self-consistent
    // but stale remote copy (e.g. a re-export of the same chunk id;
    // parquet bytes are not run-deterministic) must fall through to the
    // overwrite re-copy, or bookkeeping would bless wrong bytes.
    val remoteIntact =
      try fs.exists(new HPath(remotePrefix, ChunkManifest.FileName)) &&
        ChunkManifest.validate(remotePrefix.toString, conf).isEmpty &&
        ChunkManifest.read(remotePrefix.toString, conf) == manifest
      catch { case _: Exception => false } // unreadable remote ⇒ re-upload
    // rollback scope = the file transfer only. Once the transfer is
    // complete the remote chunk is valid, so a later status-commit or
    // notification failure must NOT delete it — that would leave the
    // chunk wedged (status advanced or advancing, remote gone).
    if (!remoteIntact) try {
      graft.Metrics.count("upload_file_count",
        manifest.entries.size.toDouble, "chunk_id" -> chunkId.toString)
      graft.Metrics.count("upload_total_bytes",
        manifest.entries.map(_.sizeBytes).sum.toDouble,
        "chunk_id" -> chunkId.toString)
      graft.Metrics.time("upload_files_time",
          "chunk_id" -> chunkId.toString) {
        // overwrite=true (the reference uploader's semantics): leftovers
        // from an interrupted rollback converge in one pass instead of
        // failing on the existing destination
        manifest.entries.foreach { e =>
          val src = new HPath(localDir, e.fileName)
          val dst = new HPath(remotePrefix, e.fileName)
          fs.mkdirs(dst.getParent)
          fs.copyFromLocalFile(false, true, src, dst)
        }
        fs.copyFromLocalFile(false, true,
          new HPath(localDir, ChunkManifest.FileName),
          new HPath(remotePrefix, ChunkManifest.FileName))
      }
    } catch {
      case e: Throwable =>
        // no partial chunks remotely: drop the whole prefix, keep the
        // local files for debugging (chunk_uploader.py:291-301)
        try fs.delete(remotePrefix, true)
        catch { case cleanup: Throwable => e.addSuppressed(cleanup) }
        throw new ChunkUploadException(chunkId, "upload failed", e)
    }
    val uri = fs.makeQualified(remotePrefix).toString
    try {
      if (manifest.isEmptyChunk) {
        // status stays skipped; recording the uri is what retires the
        // chunk from future polls (no notification — nothing to stage)
        promoter.markRemoteUri(chunkId, uri)
      } else {
        promoter.markUploaded(chunkId, uri)
        notify(chunkId, uri)
      }
    } catch {
      case e: Throwable =>
        // remote bytes are intact; surface the failure without deleting
        // them — an un-flipped chunk retries, a flipped one can stage
        throw new ChunkUploadException(chunkId,
          "post-upload bookkeeping failed (remote chunk intact)", e)
    }
  }
}
