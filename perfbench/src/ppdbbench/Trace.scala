package ppdbbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters Spark reports for the jobs run while a span was open. */
final class SparkWork {
  var jobs = 0L
  var shuffleRecords = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; shuffleRecords += o.shuffleRecords
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** One timed call into a layer. Children are the spans opened while it
  * was the innermost open span; `work` holds the Spark jobs started while
  * it was innermost (its own jobs, not its children's).
  */
final class Span(val id: Long, val name: String, val parent: Option[Span],
    val startNs: Long) {
  var endNs: Long = -1L
  val children = mutable.ArrayBuffer.empty[Span]
  val work = new SparkWork

  def seconds: Double = (endNs - startNs) / 1e9

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds: Double = seconds - children.map(_.seconds).sum

  /** Own work plus every descendant's. */
  def totalWork: SparkWork = {
    val w = new SparkWork
    w.add(work)
    children.foreach(c => w.add(c.totalWork))
    w
  }

  def descendants: Iterator[Span] =
    Iterator.single(this) ++ children.iterator.flatMap(_.descendants)
}

/** Outside-in tracer: the benchmark opens a span around each call it makes
  * into a layer and tags the calling thread with the span id as a Spark
  * local property; its listener attributes every job, and every task of
  * those jobs, to the span that was open when the job started. Spans stay
  * in memory until the run ends. The listener is installed only when
  * `installed`; while `active` is false bodies run untouched.
  */
final class Tracer(spark: SparkSession, val installed: Boolean) {
  import Tracer.SpanProp

  private var nextId = 0L
  private val stack = mutable.Stack.empty[Span]
  val roots = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()

  @volatile var active = false

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      nextId += 1
      val s = new Span(nextId, name, stack.headOption, System.nanoTime())
      s.parent.fold(roots += s)(_.children += s)
      byId.put(s.id, s)
      stack.push(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until every posted listener event has been attributed. */
  def drain(): Unit = if (installed) org.apache.spark.PerfbenchBridge.drainListeners(spark)

  def spans: Iterator[Span] = roots.iterator.flatMap(_.descendants)

  val listener: SparkListener = new SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(id => Option(byId.get(id.toLong))).foreach { s =>
          s.work.synchronized(s.work.jobs += 1)
          e.stageIds.foreach(stageSpan.put(_, s))
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).zip(Option(e.taskMetrics)).foreach {
        case (s, m) => s.work.synchronized {
          val w = s.work
          w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.inputBytes += m.inputMetrics.bytesRead
          w.outputBytes += m.outputMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
        }
      }
  }

  if (installed) spark.sparkContext.addSparkListener(listener)

  def close(): Unit = if (installed) spark.sparkContext.removeSparkListener(listener)
}

object Tracer {
  val SpanProp = "perfbench.span"
}
