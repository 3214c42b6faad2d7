package ppdbbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.VersionedCatalog
import graft.replicate._

/** Delegating source: `chunkData` runs inside a span, so the replicator's
  * own poll time is its span minus this one and the store span.
  */
final class TracedSource(inner: ApdbSource, tracer: Tracer) extends ApdbSource {
  def listChunks(): DataFrame = inner.listChunks()
  def chunkData(chunkId: Long): ChunkData =
    tracer.span("source.chunkData")(inner.chunkData(chunkId))
}

/** Delegating replication target: every `store` runs inside span `name`. */
final class TracedTarget(inner: ReplicaTarget, name: String, tracer: Tracer)
    extends ReplicaTarget {
  def store(chunk: ChunkData): Unit = tracer.span(name)(inner.store(chunk))
  def store(chunk: ChunkData, update: Boolean): Unit =
    tracer.span(name)(inner.store(chunk, update))
  def store(chunk: ChunkData, update: Boolean, known: Boolean): Unit =
    tracer.span(name)(inner.store(chunk, update, known))
  def replicaChunks(minId: Option[Long]): DataFrame = inner.replicaChunks(minId)
  def metadata: Map[String, String] = inner.metadata
}

/** Replicate without a settle wait: the source releases a chunk only when
  * it is complete.
  */
object NoWait {
  val config: ReplicatorConfig = ReplicatorConfig(0L, 0L, 0L)
}

/** Dirs a promote added to and dropped from the catalog pointer. */
final case class DirDiff(added: Int, dropped: Int)

/** The staged PPDB as the CLI deploys it: the replicate service opens the
  * catalog with `ppdbWriteOptions` (`run --export`), the upload and
  * promote services open the same root with default options (`upload`,
  * `promote`) — two [[Promoter]] handles over one root.
  */
final class StagedPpdb(spark: SparkSession, root: java.nio.file.Path,
    source: ApdbSource, tracer: Tracer) {
  val catalogRoot: String = root.resolve("catalog").toString
  private val exportRoot = root.resolve("export").toString
  private val remoteRoot = root.resolve("remote").toString

  private val replicateSide = new Promoter(spark,
    new VersionedCatalog(catalogRoot, VersionedCatalog.ppdbWriteOptions), exportRoot)
  replicateSide.init()
  private val serviceSide = new Promoter(spark, new VersionedCatalog(catalogRoot), exportRoot)
  serviceSide.init()
  def catalog: VersionedCatalog = serviceSide.catalog

  private val replicator = new Replicator(spark, new TracedSource(source, tracer),
    new TracedTarget(new PpdbStaged(spark, replicateSide), "Promoter.export", tracer),
    NoWait.config)
  private val uploader = new ChunkUploader(spark, serviceSide, remoteRoot)

  val dirDiffs = mutable.ArrayBuffer.empty[DirDiff]

  /** replicate → upload → stage → promote everything released so far;
    * returns the chunk ids promoted.
    */
  def cycle(): Seq[Long] = {
    tracer.span("Replicator")(replicator.runOnce())
    tracer.span("ChunkUploader")(uploader.runOnce())
    tracer.span("Promoter.stage")(serviceSide.stageUploaded())
    val before = if (tracer.active) catalog.current._2.values.flatten.toSet else Set.empty[String]
    val ids = tracer.span("Promoter.promote")(serviceSide.promote())
    if (tracer.active) {
      val after = catalog.current._2.values.flatten.toSet
      dirDiffs += DirDiff((after -- before).size, (before -- after).size)
    }
    ids
  }
}

/** The JDBC PPDB: the replicator stores each chunk into a file-backed
  * Derby database in one transaction.
  */
final class JdbcStore(spark: SparkSession, root: java.nio.file.Path,
    source: ApdbSource, tracer: Tracer) {
  val dbDir: java.nio.file.Path = root.resolve("derby")
  private val url = PpdbJdbc.derbyUrl(dbDir.toString)
  val ppdb: PpdbJdbc = PpdbJdbc.open(spark, url)
  private val replicator = new Replicator(spark, new TracedSource(source, tracer),
    new TracedTarget(ppdb, "PpdbJdbc.store", tracer), NoWait.config)

  def cycle(): Seq[Long] = tracer.span("Replicator")(replicator.runOnce())

  def close(): Unit = PpdbJdbc.shutdownDerby(url)
}
