package graft.replicate

/** The poll loop every PPDB service runs (P/replicator.py:193-247,
  * P/bigquery/chunk_uploader.py:127-178): poll, then either poll again at
  * once (the poll did work — more may already be waiting) or sleep the
  * check interval first. [[Replicator.run]] and [[Promoter.run]] are this
  * loop over their own poll; the CLI runs `upload` and a plain `promote`
  * as one `single` poll of it.
  *
  * Stop rule: a [[requestStop]] made before or during [[run]] ends that
  * run, between polls or inside the idle sleep (taken in slices of at
  * most 1 s). The flag clears when `run` returns, so the instance can
  * run again. A run that throws leaves a pending stop set, so a caller
  * that restarts a failed run still sees it.
  */
final class ServiceLoop {

  @volatile private var stopRequested = false

  /** End the current (or next) [[run]] after its poll in flight. */
  def requestStop(): Unit = stopRequested = true

  /** Poll until stopped, after the first poll when `single`, or after an
    * empty poll when `exitOnEmpty`. `onPoll` sees each poll's number
    * (from 1) and result; `sleepMs` is injectable so tests can drive many
    * polls without wall-clock waits. Returns every id polled, in order.
    */
  def run(intervalMs: Long, single: Boolean = false,
      exitOnEmpty: Boolean = false,
      sleepMs: Long => Unit = Thread.sleep(_),
      onPoll: (Int, Seq[Long]) => Unit = (_, _) => ())(
      poll: => Seq[Long]): Seq[Long] = {
    val all = Seq.newBuilder[Long]
    var polls = 0
    var done = false
    while (!done && !stopRequested) {
      polls += 1
      val ids = poll
      all ++= ids
      onPoll(polls, ids)
      done = single || (exitOnEmpty && ids.isEmpty)
      var left = if (done || ids.nonEmpty) 0L else intervalMs
      while (left > 0 && !stopRequested) {
        sleepMs(math.min(left, 1000L)); left -= 1000L
      }
    }
    stopRequested = false
    all.result()
  }
}
