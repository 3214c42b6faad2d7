package graft

/** Runs a driver's independent Spark actions at the same time.
  *
  * A PPDB commit cycle issues many small jobs (1–4 tasks each) that do
  * not depend on one another: per-table dir probes, validations, and the
  * writes of one commit. Run one after another, most of a cycle is one
  * driver thread waiting on one small job while the other cores idle.
  *
  * Each task gets a FRESH thread per call, never a pooled one: a new
  * thread inherits the caller's Spark local properties (job group, job
  * tags, scheduler pool, any listener attribution key) as they are at
  * the call, while a long-lived pool thread keeps whatever it inherited
  * when it was first started.
  */
object Concurrently {

  /** Run every task and return their results in input order. Returns
    * only after EVERY task has ended — nothing keeps running once the
    * call is over, also when a task failed. If any failed, the failure
    * of the first failing task in input order is rethrown as is (so the
    * error does not depend on thread timing); later tasks' failures are
    * attached to it as suppressed. A single task runs on the caller's
    * thread.
    */
  def all[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val results = new Array[Any](tasks.size)
      val errors = new Array[Throwable](tasks.size)
      val caller = Thread.currentThread().getName
      val threads = tasks.zipWithIndex.map { case (task, i) =>
        val t = new Thread(() =>
          try results(i) = task()
          catch { case e: Throwable => errors(i) = e },
          s"$caller-concurrent-$i")
        t.start()
        t
      }
      // an interrupt of the caller is passed on to the tasks, and the
      // caller still waits for them to end before it returns
      var interrupted = false
      threads.foreach { t =>
        var joined = false
        while (!joined) {
          try { t.join(); joined = true }
          catch {
            case _: InterruptedException =>
              interrupted = true
              threads.foreach(_.interrupt())
          }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      errors.find(_ != null).foreach { first =>
        errors.filter(e => e != null && (e ne first))
          .foreach(first.addSuppressed)
        throw first
      }
      results.toSeq.map(_.asInstanceOf[A])
    }
}
