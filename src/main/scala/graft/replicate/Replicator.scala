package graft.replicate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.PpdbOps

/** An APDB-side chunk source (the process boundary the reference crosses
  * via its APDB client, P/replicator.py:165-191).
  */
trait ApdbSource {
  /** Chunk descriptors: (apdb_replica_chunk, last_update_time_us, unique_id). */
  def listChunks(): DataFrame
  def chunkData(chunkId: Long): ChunkData
}

/** Replication gating/cadence knobs (defaults from P/cli/options.py:105-124,
  * in micros).
  */
final case class ReplicatorConfig(
    minWaitUs: Long = 300L * 1000000L,
    maxWaitUs: Long = 900L * 1000000L,
    checkIntervalUs: Long = 360L * 1000000L)

/** The replication driver loop (P/replicator.py:193-247): list both sides,
  * consistency-check the overlap, compute the not-yet-copied frontier,
  * gate on settledness, and copy chunks strictly in ascending id order.
  * One `runOnce` = one poll.
  */
final class Replicator(spark: SparkSession, source: ApdbSource, ppdb: ReplicaTarget,
    config: ReplicatorConfig = ReplicatorConfig(),
    update: Boolean = false) {

  private val loop = new ServiceLoop

  /** Ask [[run]] to exit after the current poll (wired to SIGTERM by the
    * CLI; also interrupts the inter-poll sleep). See [[ServiceLoop]].
    */
  def requestStop(): Unit = loop.requestStop()

  /** One poll; returns the chunk ids copied (ascending).
    *
    * @param limit  copy at most this many chunks (the reference's
    *               single-shot mode passes 1 — P/replicator.py:243)
    * @param strict unique_id mismatch between the two sides raises when
    *               true, warns and continues otherwise (the reference
    *               crashes only in single-shot mode,
    *               P/replicator.py:230-240)
    */
  def runOnce(nowUs: Long = System.currentTimeMillis() * 1000L,
      limit: Option[Int] = None, strict: Boolean = true): Seq[Long] = {
    val apdbChunks = source.listChunks().cache()
    val ppdbChunks = ppdb.replicaChunks().cache()
    try {
      // T4/J8: same chunk id must carry the same unique_id on both
      // sides. In update mode a mismatch is not an error but the WORK
      // LIST: the source regenerated those chunks (new unique_id), and
      // the upsert store re-replicates them in place.
      val mismatched = PpdbOps.chunkMismatches(apdbChunks, ppdbChunks)
        .select("apdb_replica_chunk").collect().map(_.getLong(0)).toSeq.sorted
      if (mismatched.nonEmpty && !update) {
        val msg = "chunk unique_id mismatch between APDB and PPDB: " +
          s"chunks ${mismatched.mkString(", ")}"
        if (strict) throw new IllegalStateException(msg)
        else System.err.println(s"WARNING: $msg")
      }

      // J7 frontier + T2 settled gate, ascending order (T3); update mode
      // prepends the regenerated chunks (long settled — they were
      // already replicated once)
      val frontier = PpdbOps.frontier(apdbChunks, ppdbChunks)
      val settled = PpdbOps.settledChunks(frontier, nowUs,
        config.minWaitUs, config.maxWaitUs)
      val fresh = settled.select("apdb_replica_chunk")
        .orderBy("apdb_replica_chunk").collect().map(_.getLong(0)).toSeq
      val all = if (update) (mismatched ++ fresh).distinct.sorted else fresh
      val ids = limit.fold(all)(all.take)

      // the frontier read above already established knownness: frontier
      // ids are absent from the PPDB side, mismatched ids are present —
      // pass the hint so store skips its per-chunk known-probe (an extra
      // bookkeeping-table read per chunk in the hot loop)
      val mismatchedSet = mismatched.toSet
      ids.foreach { id =>
        graft.Metrics.time("replicate_chunk_time", "chunk_id" -> id.toString) {
          val data = graft.Metrics.time("get_chunks_time",
            "chunk_id" -> id.toString)(source.chunkData(id))
          graft.Metrics.time("store_chunks_time",
            "chunk_id" -> id.toString)(
            ppdb.store(data, update, known = mismatchedSet(id)))
        }
      }
      ids
    } finally {
      apdbChunks.unpersist()
      ppdbChunks.unpersist()
    }
  }

  /** The continuous replication loop (P/replicator.py:193-247): a
    * [[ServiceLoop]] over [[runOnce]] that sleeps `checkInterval` after an
    * empty poll. `single` copies at most one chunk with a strict
    * unique_id check and exits after that poll; `exitOnEmpty` exits on an
    * empty poll.
    *
    * `nowUs`/`sleepMs` are injectable so tests can drive multiple polls
    * without wall-clock waits; `onPoll` observes each poll's result (the
    * CLI prints a per-poll metrics summary through it). Returns every
    * chunk id copied, in copy order.
    */
  def run(single: Boolean = false, exitOnEmpty: Boolean = false,
      nowUs: () => Long = () => System.currentTimeMillis() * 1000L,
      sleepMs: Long => Unit = Thread.sleep(_),
      onPoll: (Int, Seq[Long]) => Unit = (_, _) => ()): Seq[Long] =
    loop.run(config.checkIntervalUs / 1000L, single, exitOnEmpty, sleepMs,
      onPoll)(runOnce(nowUs(), limit = if (single) Some(1) else None,
        strict = single))
}
