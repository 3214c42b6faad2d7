package ppdbbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.replicate.{ApdbSource, ChunkData}
import graft.schema.{PpdbSchema, UpdateRecord}
import graft.schema.UpdateRecord._

/** Size of the chunks a workload feeds the PPDB; the rest of their shape
  * is fixed in [[BenchApdb]].
  */
final case class GenConfig(objectsPerChunk: Int, updatesPerChunk: Int)

/** One generated chunk: the rows the program receives plus the update
  * records, in generation order.
  */
final case class GenChunk(id: Long, uniqueId: String, mjd: Double, field: Int,
    objects: Seq[Row], sources: Seq[Row], forced: Seq[Row],
    updates: Seq[UpdateRecord])

/** Seeded APDB stand-in. Chunk `k` is generated from the state left by
  * chunks `< k`, so one seed always yields the same chunk sequence.
  *
  *  - chunk `k` observes field `(k - 1) % Fields` (a 1° box) one day after
  *    chunk `k - 1`,
  *    so it is a spatially local footprint and, once every field has been
  *    visited, always finds objects to re-observe;
  *  - `ReobservedShare` of its objects are existing objects of that field
  *    (a new DiaObject version), the rest are new;
  *  - every object gets `SourcesPerObject` DiaSource and
  *    `ForcedPerObject` DiaForcedSource rows;
  *  - `updatesPerChunk` update records cycle through all six
  *    kinds, each aimed at a row of an earlier chunk; a quarter of them
  *    are shadowed by an older record for the same field, so
  *    last-write-wins has something to decide.
  *
  * Validity closes only single-version objects that the chunk does not
  * observe, and closed objects are never observed again: a close patches
  * every version of an object, so this keeps intervals disjoint.
  *
  * The program sees chunks only after [[release]]; `listChunks` reports
  * the released prefix stamped with its release time.
  */
final class BenchApdb(spark: SparkSession, cfg: GenConfig, seed: Long)
    extends ApdbSource {
  import BenchApdb._

  private val rng = new java.util.Random(seed)
  private val chunks = mutable.ArrayBuffer.empty[GenChunk]
  private val releaseUs = mutable.ArrayBuffer.empty[Long]

  private final class Obj(val id: Long, val field: Int, val ra: Double,
      val dec: Double, val parallax: Float, val firstMjd: Double,
      val createdChunk: Long) {
    var versions = 0
    var nDia = 0
    var closed = false
  }
  private val objs = mutable.ArrayBuffer.empty[Obj]
  private val byField = Array.fill(Fields)(mutable.ArrayBuffer.empty[Obj])
  private val sourceIds = mutable.ArrayBuffer.empty[Long]
  private val forcedKeys = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private var nextObjId = 1000000L + (seed & 0xffff) * 1000000L
  private var nextSrcId = nextObjId * 10
  private var updateSeq = 0L

  private val fieldCenters: Array[(Double, Double)] = Array.tabulate(Fields) { f =>
    (15.0 + f * 360.0 / Fields + rng.nextDouble() * 5.0,
      -30.0 + rng.nextDouble() * 60.0)
  }

  def fieldCenter(f: Int): (Double, Double) = fieldCenters(f)

  /** Chunk `id` (1-based), generating it and its predecessors on demand. */
  def chunk(id: Long): GenChunk = {
    while (chunks.size < id) chunks += generate(chunks.size + 1L)
    chunks((id - 1).toInt)
  }

  def released: Int = releaseUs.size

  /** Make the next chunk visible to the program; returns its id. */
  def release(): Long = {
    val id = releaseUs.size + 1L
    chunk(id)
    releaseUs += System.currentTimeMillis() * 1000L
    id
  }

  override def listChunks(): DataFrame = {
    val rows = releaseUs.indices.map { i =>
      Row(i + 1L, releaseUs(i), chunks(i).uniqueId)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), BenchApdb.descriptor)
  }

  override def chunkData(chunkId: Long): ChunkData = {
    require(chunkId >= 1 && chunkId <= releaseUs.size,
      s"chunk $chunkId not released")
    val c = chunks((chunkId - 1).toInt)
    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    ChunkData(c.id, c.uniqueId, releaseUs((chunkId - 1).toInt),
      df(c.objects, PpdbSchema.diaObject),
      df(c.sources, PpdbSchema.diaSource),
      df(c.forced, PpdbSchema.diaForcedSource),
      c.updates.map(c.id -> _))
  }

  private def pick[A](from: collection.IndexedSeq[A]): A =
    from(rng.nextInt(from.size))

  /** `n` distinct elements of `from` satisfying `ok`, by partial shuffle. */
  private def sample[A: scala.reflect.ClassTag](from: collection.IndexedSeq[A], n: Int)(ok: A => Boolean): Seq[A] = {
    val pool = from.filter(ok).toArray
    val k = math.min(n, pool.length)
    (0 until k).map { i =>
      val j = i + rng.nextInt(pool.length - i)
      val t = pool(i); pool(i) = pool(j); pool(j) = t
      pool(i)
    }
  }

  private def generate(id: Long): GenChunk = {
    val mjd = 60000.0 + (id - 1)
    val field = ((id - 1) % Fields).toInt
    val (fra, fdec) = fieldCenters(field)
    val n = cfg.objectsPerChunk
    // the first chunk has nothing earlier to update
    val nUpdates = if (id == 1) 0 else cfg.updatesPerChunk

    // closes first, so the chunk never observes an object it closes
    val nClose = (0 until nUpdates).count(_ % 6 == 4)
    val toClose = sample(objs, nClose)(o =>
      !o.closed && o.versions == 1 && o.createdChunk < id)
    toClose.foreach(_.closed = true)
    val closing = toClose.map(_.id).toSet

    val reobs = sample(byField(field),
      math.round(ReobservedShare * n).toInt)(o =>
      !o.closed && !closing(o.id))
    val fresh = (reobs.size until n).map { _ =>
      val o = new Obj(nextObjId, field,
        fra + rng.nextDouble() - 0.5,
        fdec + rng.nextDouble() - 0.5,
        rng.nextFloat(), mjd, id)
      nextObjId += 1
      objs += o
      byField(field) += o
      o
    }
    val observed = (reobs ++ fresh).sortBy(_.id)

    val objects = observed.map { o =>
      o.versions += 1
      o.nDia += SourcesPerObject
      Row(o.id, mjd, null, o.ra, o.dec, o.parallax, o.nDia, o.firstMjd)
    }
    val sources = observed.flatMap { o =>
      (0 until SourcesPerObject).map { j =>
        val sid = nextSrcId; nextSrcId += 1
        sourceIds += sid
        Row(sid, id * 1000L + j, (o.id % 189).toShort, o.id, null, null,
          o.ra + (rng.nextDouble() - 0.5) * 1e-5,
          o.dec + (rng.nextDouble() - 0.5) * 1e-5, null,
          mjd + j * 0.01, rng.nextBoolean(), mjd + 0.5, null)
      }
    }
    val forced = observed.flatMap { o =>
      (0 until ForcedPerObject).map { j =>
        val key = (o.id, id * 1000L + 500L + j, o.id % 189)
        forcedKeys += key
        Row(o.id, o.ra, o.dec, key._2, key._3.toShort, mjd + j * 0.01,
          rng.nextInt(1024).toLong, mjd + 0.5, null)
      }
    }

    // the targets of everything but closes: rows of earlier chunks (the
    // fact rows this chunk adds were appended above, so exclude them)
    val priorSources = sourceIds.size - sources.size
    val priorForced = forcedKeys.size - forced.size
    val priorObjs = objs.view.filter(o => o.createdChunk < id && !o.closed).toIndexedSeq
    val timeNs = (mjd * 86400e9).toLong
    val closeIt = toClose.iterator
    val updates = (0 until nUpdates).flatMap { i =>
      updateSeq += 1
      val t = timeNs + i * 1000L
      val rec: Option[UpdateRecord] = i % 6 match {
        case 0 => Some(ReassignDiaSourceToDiaObject(t, updateSeq,
          sourceIds(rng.nextInt(priorSources)), pick(priorObjs).id))
        case 1 => Some(ReassignDiaSourceToSSObject(t, updateSeq,
          sourceIds(rng.nextInt(priorSources)), 9000000L + rng.nextInt(100000), mjd))
        case 2 => Some(WithdrawDiaSource(t, updateSeq, sourceIds(rng.nextInt(priorSources)),
          mjd + rng.nextInt(100) / 100.0))
        case 3 =>
          val (o, v, d) = forcedKeys(rng.nextInt(priorForced))
          Some(WithdrawDiaForcedSource(t, updateSeq, o, v, d,
            mjd + rng.nextInt(100) / 100.0))
        case 4 => closeIt.nextOption().map(o => CloseDiaObjectValidity(t,
          updateSeq, o.id, mjd, if (rng.nextBoolean()) Some(o.nDia + 1) else None))
        case _ => Some(UpdateNDiaSources(t, updateSeq, pick(priorObjs).id,
          rng.nextInt(1000)))
      }
      // a quarter of the records are preceded by an older write to the
      // same fields that must lose
      val shadow = rec.filter(_ => rng.nextInt(4) == 0).map(BenchApdb.older)
      shadow.toSeq ++ rec.toSeq
    }
    GenChunk(id, s"bench-$seed-$id-${rng.nextInt(1 << 30)}", mjd, field,
      objects, sources, forced, updates)
  }
}

object BenchApdb {
  /** The stream's fixed shape: this benchmark's own choice, not a measured
    * one.
    */
  val Fields = 2
  val ReobservedShare = 0.5
  val SourcesPerObject = 2
  val ForcedPerObject = 2

  val descriptor: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("apdb_replica_chunk",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("last_update_time_us",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("unique_id",
        org.apache.spark.sql.types.StringType, nullable = false)))

  /** The same target and fields with an earlier timestamp and order and a
    * different value: last-write-wins must discard it.
    */
  private def older(r: UpdateRecord): UpdateRecord = {
    val t = r.updateTimeNs - 500L
    val o = -r.updateOrder
    r match {
      case x: ReassignDiaSourceToDiaObject => x.copy(updateTimeNs = t, updateOrder = o, diaObjectId = x.diaObjectId + 1)
      case x: ReassignDiaSourceToSSObject => x.copy(updateTimeNs = t, updateOrder = o, ssObjectId = x.ssObjectId + 1, ssObjectReassocTimeMjdTai = x.ssObjectReassocTimeMjdTai - 1)
      case x: WithdrawDiaSource => x.copy(updateTimeNs = t, updateOrder = o, timeWithdrawnMjdTai = x.timeWithdrawnMjdTai - 1)
      case x: WithdrawDiaForcedSource => x.copy(updateTimeNs = t, updateOrder = o, timeWithdrawnMjdTai = x.timeWithdrawnMjdTai - 1)
      case x: CloseDiaObjectValidity => x.copy(updateTimeNs = t, updateOrder = o, validityEndMjdTai = x.validityEndMjdTai + 1, nDiaSources = Some(7))
      case x: UpdateNDiaSources => x.copy(updateTimeNs = t, updateOrder = o, nDiaSources = x.nDiaSources + 1)
      case x => x
    }
  }
}
