package ppdbbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation. */
final case class Sample(seconds: Double, rows: Long, objects: Long, traced: Boolean)

/** Benchmark entry point: one workload, one JVM, one thread issuing
  * calls in a closed loop.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up builds the workload's starting state once (`setup_s`).
  * Operations then repeat until `--seconds` have passed (at least one,
  * three when traced), the outputs are checked untimed, and the last
  * stdout line is the result JSON. With `--trace 1` every second operation runs traced, the metrics
  * are the per-layer ones, and `trace.overhead_frac` compares traced
  * operations with the untraced ones around them.
  *
  * `Main --train --work <dir>` instead runs every workload's set-up on a
  * small chunk stream and reports nothing: the build runs it to record the
  * classes a run loads in a class-data-sharing archive.
  */
object Main {
  /** End-to-end metrics, name → unit, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "chunk_latency_p50_s" -> "s",
    "ingest_rows_per_s" -> "rows/s",
    "stored_bytes_per_row" -> "B/row")

  def main(args: Array[String]): Unit = {
    val train = args.contains("--train")
    val opts = args.filterNot(_ == "--train").grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opts.getOrElse("workload", ""))
    if (!train && workload.isEmpty) {
      System.err.println(s"unknown workload; choose one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        if (train) Workloads.all.foreach { w =>
          val ctx = Ctx(spark, Workloads.trainingStream, 1L, new Tracer(spark, installed = false))
          w.setup(ctx, work.resolve(w.name)).close()
        } else run(spark, workload.get, opts("seed").toLong, opts("seconds").toDouble,
          opts.getOrElse("trace", "0") == "1", work)
        0
      } finally spark.stop()
    sys.exit(code)
  }

  /** Median; NaN for an empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, workload: Workload, seed: Long, seconds: Double,
      traced: Boolean, work: Path): Unit = {
    val tracer = new Tracer(spark, installed = traced)
    val ctx = Ctx(spark, Workloads.stream, seed, tracer)

    val setupStart = System.nanoTime()
    val runner = workload.setup(ctx, work.resolve("state"))
    val setupSeconds = (System.nanoTime() - setupStart) / 1e9

    // the timed closed loop
    val samples = mutable.ArrayBuffer.empty[Sample]
    val timers = mutable.ArrayBuffer.empty[graft.Metrics.Sample]
    var failed = 0
    var error: Option[String] = None
    // start another operation only if one as long as the last would still
    // end inside the window, so a run never overshoots by a whole operation
    val start = System.nanoTime()
    val windowNs = (seconds * 1e9).toLong
    val bytesBefore = Workloads.bytesUnder(runner.storeRoot)
    val minOps = if (traced) 3 else 1
    var lastNs = 0L
    var i = 0
    while (error.isEmpty && (i < minOps || System.nanoTime() - start + lastNs <= windowNs)) {
      tracer.active = traced && i % 2 == 1
      graft.Metrics.reset()
      val t0 = System.nanoTime()
      try {
        val o = runner.op()
        lastNs = System.nanoTime() - t0
        samples += Sample(lastNs / 1e9, o.rows, o.objects, tracer.active)
        if (!o.ok) { failed += 1; error = Some(s"operation $i returned an unexpected result") }
      } catch {
        case e: Exception =>
          failed += 1
          error = Some(s"operation $i failed: $e")
      }
      if (tracer.active) timers ++= graft.Metrics.snapshot()
      tracer.active = false
      i += 1
    }
    val bytesAdded = Workloads.bytesUnder(runner.storeRoot) - bytesBefore
    val attempted = i

    val checkStart = System.nanoTime()
    val problems = error.toSeq ++ (try runner.check() catch {
      case e: Exception => Seq(s"check failed: $e")
    })
    val checkSeconds = (System.nanoTime() - checkStart) / 1e9
    val correct = problems.isEmpty
    // a wrong answer found by the check counts against the run's operations
    if (!correct && failed == 0) failed = attempted
    problems.foreach(p => System.err.println(s"INCORRECT: $p"))

    val metrics: Seq[(String, Double, String)] =
      if (traced) {
        tracer.drain()
        Layers.metrics(tracer, timers.toSeq, samples.toSeq, runner)
      } else {
        val secs = samples.map(_.seconds).toSeq
        val values = Map(
          "setup_s" -> setupSeconds,
          "chunk_latency_p50_s" -> median(secs),
          "ingest_rows_per_s" -> samples.map(_.rows).sum / secs.sum,
          "stored_bytes_per_row" -> bytesAdded.toDouble / samples.map(_.rows).sum)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      }

    // human-readable detail first; the result JSON is the last line
    println(s"workload ${workload.name}: ${Workloads.stream} ${workload.describe}")
    println(f"setup $setupSeconds%.3f s, check $checkSeconds%.3f s")
    println(f"chunks n=${samples.size} rows=${samples.map(_.rows).sum} seconds " +
      samples.map(s => f"${s.seconds}%.3f" + (if (s.traced) "*" else "")).mkString(" "))
    runner.close()

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
