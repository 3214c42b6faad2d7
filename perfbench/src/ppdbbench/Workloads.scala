package ppdbbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.catalog.VersionedCatalog
import graft.functions.SpatialCell

final case class Ctx(spark: SparkSession, gen: GenConfig, seed: Long, tracer: Tracer)

/** One traced query: seconds per planning/execution phase, rows its file
  * scans produced and rows it returned.
  */
final case class QueryPhase(seconds: Map[String, Double], scanRows: Long, rows: Long)

/** What one timed operation did: the data-table rows it made readable,
  * how many of them are DiaObject rows, and whether the program answered
  * as expected.
  */
final case class OpOutcome(rows: Long, objects: Long, ok: Boolean)

/** A workload's starting state plus the operation it repeats. */
trait Runner {
  def op(): OpOutcome
  /** Untimed: everything the run produced against its expectation. */
  def check(): Seq[String]
  /** Where the PPDB keeps its tables on disk. */
  def storeRoot: Path
  /** Layer counters read from the store at the end of a traced run. */
  def storeCounters: Map[String, Double] = Map.empty
  /** Phase capture of the traced read queries. */
  def queryPhases: Seq[QueryPhase] = Nil
  def close(): Unit = ()
}

trait Workload {
  def name: String
  def describe: String
  def setup(ctx: Ctx, dir: Path): Runner
}

object Workloads {
  val all: Seq[Workload] = Seq(StreamStaged, StreamJdbc)

  /** The chunk stream both workloads feed the PPDB: 10 000 objects and
    * 200 update records per chunk, the chunk shape of the one-chunk-at-a-time
    * prototype this benchmark was designed from.
    */
  val stream: GenConfig = GenConfig(objectsPerChunk = 10000, updatesPerChunk = 200)

  /** A small stream through the same code paths, for `Main --train`. */
  val trainingStream: GenConfig = GenConfig(objectsPerChunk = 100, updatesPerChunk = 12)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Catalog layout counters: data dirs per PPDB table, commits, bytes
    * the current pointer references and bytes on disk under the root.
    */
  def catalogCounters(catalog: VersionedCatalog, root: Path): Map[String, Double] = {
    val dirs = catalog.current._2
    val data = Seq("internal.DiaObject", "internal.DiaSource",
      "internal.DiaForcedSource", "public.DiaObjectLast")
    Map(
      "VersionedCatalog.dirs_per_table" ->
        data.map(t => dirs.getOrElse(t, Nil).size).sum.toDouble / data.size,
      "VersionedCatalog.commits" -> catalog.commits.size.toDouble,
      "VersionedCatalog.bytes_live" ->
        dirs.values.flatten.toSeq.distinct.map(d => bytesUnder(java.nio.file.Paths.get(d))).sum.toDouble,
      "VersionedCatalog.bytes_on_disk" -> bytesUnder(root).toDouble)
  }

  def chunkRows(c: GenChunk): Long = c.objects.size.toLong + c.sources.size + c.forced.size
}

/** The staged stream: each operation releases one sparse, spatially
  * local chunk, drives it through replicate → upload → stage → promote and
  * then reads it back as a scientist would, with a cone search over the
  * chunk's footprint on `public.DiaObjectLast`; the operation ends when
  * every object of the chunk is visible there.
  */
final class StagedRunner(ctx: Ctx, src: BenchApdb, val ppdb: StagedPpdb) extends Runner {
  private val spark = ctx.spark
  private val batches = mutable.ArrayBuffer.empty[Seq[Long]]
  private val cones = mutable.ArrayBuffer.empty[StagedRunner.Cone]
  private val phases = mutable.ArrayBuffer.empty[QueryPhase]
  override def queryPhases: Seq[QueryPhase] = phases.toSeq

  /** Release `n` chunks and promote them; false unless exactly they were. */
  def ingest(n: Int): Boolean = {
    val released = (1 to n).map(_ => src.release())
    val ids = ppdb.cycle()
    batches += ids
    ids == released
  }

  def op(): OpOutcome = {
    val chunk = src.chunk(src.released + 1L)
    val promoted = ingest(1)
    val (ra, dec) = src.fieldCenter(chunk.field)
    val commit = ppdb.catalog.currentCommit
    val rows = cone(ra, dec)
    cones += StagedRunner.Cone(ra, dec, commit, rows)
    val seen = rows.map(r => (r.getLong(0), r.getDouble(1))).toSet
    val visible = chunk.objects.forall(o => seen((o.getLong(0), o.getDouble(1))))
    OpOutcome(Workloads.chunkRows(chunk), chunk.objects.size.toLong, promoted && visible)
  }

  /** Cone search on the snapshot, recording its query phases when traced. */
  private def cone(ra: Double, dec: Double): Seq[Row] = {
    val df = SpatialCell.coneSearch(
      ctx.tracer.span("VersionedCatalog.read")(ppdb.catalog.read(spark, "public.DiaObjectLast")),
      "ra", "dec", "cellId", ra, dec, StagedRunner.ConeRadiusDeg)
    val t0 = System.nanoTime()
    val rows = ctx.tracer.span("query.cone")(df.collect().toSeq)
    if (ctx.tracer.active) {
      val wall = (System.nanoTime() - t0) / 1e9
      val ph = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
      val exec = math.max(0.0, wall - ph.getOrElse("optimization", 0.0) - ph.getOrElse("planning", 0.0))
      phases += QueryPhase(ph + ("execution" -> exec), QueryStats.scanRows(df), rows.size.toLong)
    }
    rows
  }

  lazy val model: Model = {
    val m = new Model
    batches.foreach(b => m.applyBatch(b.map(src.chunk)))
    m
  }

  def check(): Seq[String] = {
    val cat = ppdb.catalog
    def rows(t: String) = cat.read(spark, t).collect().toSeq
    val promoted = batches.flatten.toSeq
    val expectIds = 1L to src.released.toLong
    // each cone answer against a brute-force filter over an unpruned read
    // of the commit it was asked at
    val coneProblems = cones.toSeq.flatMap { c =>
      val all = cat.readAt(spark, "public.DiaObjectLast", c.commit).collect().toSeq
      val expected = all.filter(r => Check.inCone(r.getAs[Double]("ra"), r.getAs[Double]("dec"),
        c.ra, c.dec, StagedRunner.ConeRadiusDeg))
      Check.sameRows(s"cone ${c.ra} ${c.dec} at commit ${c.commit}",
        graft.schema.PpdbSchema.diaObjectLast, c.rows, expected)
    }
    (if (promoted == expectIds) Nil
     else Seq(s"promoted ${promoted.size} chunks of ${expectIds.size}")) ++
      Check.chunksPromoted(rows("PpdbReplicaChunk"), expectIds) ++
      Check.tables(model, rows("internal.DiaObject"), rows("internal.DiaSource"),
        rows("internal.DiaForcedSource"), Some(rows("public.DiaObjectLast"))) ++
      coneProblems
  }

  def storeRoot: Path = java.nio.file.Paths.get(ppdb.catalogRoot)
  override def storeCounters: Map[String, Double] =
    Workloads.catalogCounters(ppdb.catalog, storeRoot)
}

object StagedRunner {
  /** Covers a whole field box from its center. */
  val ConeRadiusDeg = 0.75

  final case class Cone(ra: Double, dec: Double, commit: Long, rows: Seq[Row])
}

/** Sparse chunks arriving one at a time after a history built by the
  * same ingest calls. The history is one promote, so the timed promote
  * meets one data dir per table: growth in dir count is not measured.
  */
object StreamStaged extends Workload {
  val name = "stream_staged"
  val historyChunks = 2
  def describe: String = s"history=$historyChunks chunks in one promote"

  def setup(ctx: Ctx, dir: Path): Runner = {
    val src = new BenchApdb(ctx.spark, ctx.gen, ctx.seed)
    val r = new StagedRunner(ctx, src, new StagedPpdb(ctx.spark, dir, src, ctx.tracer))
    require(r.ingest(historyChunks), "history ingest did not promote its chunks")
    r
  }
}

/** The stream_staged chunk stream replicated into a file-backed Derby
  * PPDB, one transaction per chunk; the operation ends when the
  * transaction has committed.
  */
object StreamJdbc extends Workload {
  val name = "stream_jdbc"
  // the history is stored chunk by chunk, like the timed operations: the
  // per-chunk cost falls over the first five or so chunks while the JVM
  // warms up, so a shorter history leaves that trend in the timed window
  // and makes a run's median depend on how fast its JVM warmed
  val historyChunks = 5
  def describe: String = s"history=$historyChunks chunks, one transaction each"

  def setup(ctx: Ctx, dir: Path): Runner = {
    val src = new BenchApdb(ctx.spark, ctx.gen, ctx.seed)
    val store = new JdbcStore(ctx.spark, dir, src, ctx.tracer)
    (1 to historyChunks).foreach { _ =>
      val id = src.release()
      require(store.cycle() == Seq(id), s"history ingest did not store chunk $id")
    }
    new Runner {
      def op(): OpOutcome = {
        val id = src.release()
        val ok = store.cycle() == Seq(id)
        val c = src.chunk(id)
        OpOutcome(Workloads.chunkRows(c), c.objects.size.toLong, ok)
      }
      lazy val model: Model = {
        val m = new Model
        (1L to src.released).foreach(id => m.applyBatch(Seq(src.chunk(id))))
        m
      }
      def check(): Seq[String] = {
        def rows(t: String) = store.ppdb.read(t).collect().toSeq
        Check.chunksPromoted(rows("PpdbReplicaChunk"), 1L to src.released) ++
          Check.tables(model, rows("DiaObject"), rows("DiaSource"),
            rows("DiaForcedSource"), None)
      }
      // tables and indexes; the transaction log is recycled at checkpoints
      def storeRoot: Path = store.dbDir.resolve("seg0")
      override def close(): Unit = store.close()
    }
  }
}

object QueryStats {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Rows the file scans of an executed query produced, looking through
    * adaptive-execution wrappers.
    */
  def scanRows(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = {
      val self = p match {
        case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ => 0L
      }
      self + (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case o => o.children.map(walk).sum
      })
    }
    walk(df.queryExecution.executedPlan)
  }
}
