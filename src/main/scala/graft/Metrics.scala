package graft

import scala.collection.mutable

/** Named-timer instrumentation reproducing the reference's metric surface
  * (BASELINE.md §1: replicate_chunk_time, get_chunks_time,
  * store_chunks_time, store_data_time, update_validity_time,
  * write_parquet_time, upload_files_time, …). Timers log one line per
  * observation with tags and accumulate for end-of-run summaries — and,
  * for machine consumption, [[jsonSummary]] renders the accumulated
  * window as one JSON object (the analog of the reference's structured
  * per-job stats logging, P/bigquery/query_runner.py:63-134).
  *
  * Timers of steps that run concurrently ([[Concurrently]]) overlap in
  * wall time: promote's per-table `promote_dir_probe_time` samples are
  * each timed on their own thread, so their sum can exceed the promote
  * step's wall time. `promote_validate_time` (J6) overlaps nothing: it
  * runs on the caller's thread after every probe has ended, on the
  * driver, and starts no Spark job.
  *
  * Both timers belong to the scoped merge ([[replicate.ScopedMerge]]),
  * so the direct store (`PpdbSpark.store`) emits them too, tagged
  * `batch=chunk<id>` where promote's carry `batch=promo<first>_<last>`.
  * The other `promote_*` timers (`promote_latest_updates_time`,
  * `promote_commit_time`) stay promote's own; the direct store's commit
  * is `store_data_time`.
  */
object Metrics {

  /** One observation; `startMs` is the wall clock (epoch millis) when a
    * [[time]]d body began, 0 for an untimed record.
    */
  final case class Sample(metric: String, seconds: Double,
      tags: Map[String, String], value: Option[Double] = None,
      startMs: Long = 0L)

  private val samples = mutable.ArrayBuffer.empty[Sample]
  @volatile var logEnabled: Boolean = false

  def time[A](metric: String, tags: (String, String)*)(body: => A): A = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally record(metric, (System.nanoTime() - t0) / 1e9, tags.toMap,
      startMs = startMs)
  }

  def record(metric: String, seconds: Double,
      tags: Map[String, String] = Map.empty,
      value: Option[Double] = None, startMs: Long = 0L): Unit = synchronized {
    samples += Sample(metric, seconds, tags, value, startMs)
    if (logEnabled) {
      val tagStr = if (tags.isEmpty) ""
        else tags.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
          .mkString(" [", ",", "]")
      System.err.println(f"[metric] $metric$tagStr ${seconds}%.3f s")
    }
  }

  /** A counted observation (the reference metrics' `value` channel —
    * row counts, byte counts, file counts) with no elapsed time.
    */
  def count(metric: String, value: Double, tags: (String, String)*): Unit =
    record(metric, 0.0, tags.toMap, Some(value))

  def snapshot(): Seq[Sample] = synchronized(samples.toSeq)

  def summary(): Map[String, (Int, Double)] = synchronized {
    samples.groupBy(_.metric).view
      .mapValues(ss => (ss.size, ss.map(_.seconds).sum)).toMap
  }

  def reset(): Unit = synchronized(samples.clear())

  // ------------------------------------------------------------ JSON out

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }

  // Locale.ROOT: default-locale format renders "1,500000" on
  // comma-decimal locales — malformed JSON for every downstream reader
  private def num(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
    else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))

  /** One JSON object summarizing the accumulated samples for a polling
    * window: per-metric observation count, total seconds, and summed
    * value where the metric carries one. Field names are fixed; strings
    * are escaped. The caller owns windowing (summarize, emit, [[reset]]).
    */
  def jsonSummary(command: String, poll: Int, chunkIds: Seq[Long],
      wallS: Double): String = synchronized {
    val metricsJson = samples.groupBy(_.metric).toSeq.sortBy(_._1)
      .map { case (m, ss) =>
        val vals = ss.flatMap(_.value)
        s""""${esc(m)}":{"n":${ss.size},"total_s":${num(ss.map(_.seconds).sum)}""" +
          (if (vals.nonEmpty) s""","value":${num(vals.sum)}""" else "") + "}"
      }.mkString(",")
    s"""{"command":"${esc(command)}","poll":$poll""" +
      s""","ts_ms":${System.currentTimeMillis()}""" +
      s""","chunk_ids":[${chunkIds.mkString(",")}]""" +
      s""","chunk_count":${chunkIds.size}""" +
      s""","wall_s":${num(wallS)},"metrics":{$metricsJson}}"""
  }
}
