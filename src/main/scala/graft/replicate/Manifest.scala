package graft.replicate

import java.io.{File, FileInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Per-chunk manifest: one JSON file describing the chunk directory's
  * parquet files (row counts, sha256, sizes) plus chunk-level flags —
  * the integrity contract between export and load stages
  * (P/bigquery/manifest.py:44-224).
  */
final case class ManifestEntry(table: String, fileName: String,
    rowCount: Long, sha256: String, sizeBytes: Long)

final case class ChunkManifest(chunkId: Long, schemaVersion: String,
    isEmptyChunk: Boolean, updateCount: Long, entries: Seq[ManifestEntry]) {

  def render: String = {
    val es = entries.map { e =>
      s"""{"table":"${e.table}","file":"${e.fileName}","row_count":${e.rowCount},""" +
        s""""sha256":"${e.sha256}","size_bytes":${e.sizeBytes}}"""
    }.mkString("[", ",", "]")
    s"""{"chunk_id":$chunkId,"schema_version":"$schemaVersion",""" +
      s""""is_empty_chunk":$isEmptyChunk,"update_count":$updateCount,""" +
      s""""entries":$es}"""
  }
}

object ChunkManifest {
  val FileName = "manifest.json"

  def sha256Of(in: java.io.InputStream): String = {
    val md = MessageDigest.getInstance("SHA-256")
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def sha256Of(f: File): String = sha256Of(new FileInputStream(f))

  /** Row count of one parquet file from its footer — metadata-only, no
    * data scan (and exact per FILE, where a table-level count smeared
    * over multi-file tables would be wrong on every entry).
    */
  def parquetRowCount(f: File,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Build a manifest over the parquet files of `tableDirs` (table →
    * directory written for this chunk). Per-file row counts come from the
    * parquet footers, so the entries reconcile exactly file-by-file AND
    * in per-table sums — no second evaluation of the source DataFrames.
    */
  def build(chunkId: Long, schemaVersion: String, updateCount: Long,
      tableDirs: Map[String, String]): ChunkManifest = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val entries = tableDirs.toSeq.sortBy(_._1).flatMap { case (table, dir) =>
      val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
      files.map { f =>
        // file name relative to the chunk dir (files live in per-table subdirs)
        ManifestEntry(table, s"$table/${f.getName}",
          parquetRowCount(f, conf), sha256Of(f), f.length())
      }
    }
    ChunkManifest(chunkId, schemaVersion,
      isEmptyChunk = entries.map(_.rowCount).sum == 0L && updateCount == 0L,
      updateCount, entries)
  }

  /** Atomic publish: the manifest is what [[ChunkUploader]] and staging
    * validate a chunk against, so it must never be observable
    * half-written — tmp-write + ATOMIC_MOVE, the same discipline as
    * SchemaRegistry.put.
    */
  def write(m: ChunkManifest, dir: String): Unit = {
    val tmp = Paths.get(dir, s".$FileName.tmp")
    Files.write(tmp, m.render.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, FileName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private val entryRe =
    """\{"table":"([^"]*)","file":"([^"]*)","row_count":(\d+),"sha256":"([^"]*)","size_bytes":(\d+)\}""".r

  /** Parse a manifest from any Hadoop-FS directory (local path, file://,
    * hdfs://, s3a://, ...).
    */
  def read(dir: String,
      conf: org.apache.hadoop.conf.Configuration): ChunkManifest = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val in = fs.open(new org.apache.hadoop.fs.Path(dirPath, FileName))
    val json = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 1 << 16, false)
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val head =
      """"chunk_id":(\d+),"schema_version":"([^"]*)","is_empty_chunk":(true|false),"update_count":(\d+)""".r
        .findFirstMatchIn(json)
        .getOrElse(throw new IllegalStateException(s"bad manifest in $dir"))
    val entries = entryRe.findAllMatchIn(json).map { m =>
      ManifestEntry(m.group(1), m.group(2), m.group(3).toLong, m.group(4),
        m.group(5).toLong)
    }.toSeq
    ChunkManifest(head.group(1).toLong, head.group(2),
      head.group(3).toBoolean, head.group(4).toLong, entries)
  }

  /** Parse + validate a written manifest: files must exist with matching
    * size and checksum (chunk_uploader.py:214-231 semantics). Goes through
    * the Hadoop FileSystem API, so the directory may be local or remote.
    * Returns human-readable problems; empty = valid.
    */
  def validate(dir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Seq[String] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val dirPath = new HPath(dir)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(new HPath(dirPath, FileName)))
      return Seq(s"missing $FileName in $dir")
    val manifest =
      try read(dir, conf)
      catch {
        case e: Exception =>
          return Seq(s"unreadable $FileName in $dir: ${e.getMessage}")
      }
    manifest.entries.flatMap { e =>
      val p = new HPath(dirPath, e.fileName)
      if (e.fileName.contains("..") || e.fileName.startsWith("/") ||
          e.fileName.count(_ == '/') > 1)
        Seq(s"unsafe file name ${e.fileName}")
      else if (!fs.exists(p)) Seq(s"missing file ${e.fileName}")
      else if (fs.getFileStatus(p).getLen != e.sizeBytes)
        Seq(s"size mismatch for ${e.fileName}")
      else if (sha256Of(fs.open(p)) != e.sha256)
        Seq(s"sha256 mismatch for ${e.fileName}")
      else Nil
    }
  }
}
