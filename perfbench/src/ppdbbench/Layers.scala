package ppdbbench

/** Per-layer metrics of a traced run. A layer is a repo module; its
  * numbers come from the spans the benchmark opened around calls into it,
  * the Spark work attributed to those spans, the program's own named
  * timers and the store's layout at the end. Every metric is reported on
  * every workload; a layer the workload does not reach reads 0.
  * Per-call figures are means over the traced operations.
  */
object Layers {
  private val workFields: Seq[(String, SparkWork => Double, String)] = Seq(
    ("jobs", _.jobs.toDouble, "count"),
    ("shuffle_records", _.shuffleRecords.toDouble, "count"),
    ("shuffle_bytes", _.shuffleBytes.toDouble, "B"),
    ("input_bytes", _.inputBytes.toDouble, "B"),
    ("output_bytes", _.outputBytes.toDouble, "B"),
    ("spill_bytes", _.spillBytes.toDouble, "B"),
    ("peak_exec_mem_bytes", _.peakExecMem.toDouble, "B"))

  /** name → unit for every per-layer metric, in report order. */
  val catalogue: Seq[(String, String)] = {
    val staged = Seq("Promoter.stage", "Promoter.promote").flatMap { l =>
      (s"$l.s" -> "s") +: workFields.map { case (f, _, u) => s"$l.$f" -> u }
    }
    Seq(
      "Replicator.poll_self_s" -> "s",
      "Replicator.jobs" -> "count",
      "Replicator.source_s" -> "s",
      "Promoter.export.s" -> "s",
      "Promoter.export.jobs" -> "count",
      "Promoter.export.output_bytes" -> "B",
      "Promoter.export.write_parquet_s" -> "s",
      "ChunkUploader.s" -> "s",
      "ChunkUploader.jobs" -> "count",
      "ChunkUploader.upload_files_s" -> "s",
      "ChunkUploader.upload_bytes" -> "B",
      "ChunkUploader.upload_files" -> "count") ++ staged ++ Seq(
      "Promoter.stage.commit_s" -> "s",
      "Promoter.promote.dir_probe_n" -> "count",
      "Promoter.promote.dir_probe_s" -> "s",
      "Promoter.promote.validate_n" -> "count",
      "Promoter.promote.validate_s" -> "s",
      "Promoter.promote.commit_n" -> "count",
      "Promoter.promote.commit_s" -> "s",
      "Promoter.promote.latest_updates_n" -> "count",
      "Promoter.promote.latest_updates_s" -> "s",
      "Promoter.promote.shuffle_records_per_object_row" -> "ratio",
      "Promoter.promote.dirs_added" -> "count",
      "Promoter.promote.dirs_dropped" -> "count",
      "PpdbJdbc.store_s" -> "s",
      "PpdbJdbc.store_data_s" -> "s",
      "PpdbJdbc.update_validity_s" -> "s",
      "PpdbJdbc.jobs" -> "count",
      "VersionedCatalog.dirs_per_table" -> "count",
      "VersionedCatalog.commits" -> "count",
      "VersionedCatalog.bytes_live" -> "B",
      "VersionedCatalog.bytes_on_disk" -> "B",
      "VersionedCatalog.read_call_s" -> "s",
      "SpatialCell.cone_s" -> "s",
      "spark.cone.analysis_s" -> "s",
      "spark.cone.optimization_s" -> "s",
      "spark.cone.planning_s" -> "s",
      "spark.cone.execution_s" -> "s",
      "spark.cone.scan_rows_per_row_returned" -> "ratio",
      "spark.cone.input_bytes" -> "B",
      "trace.overhead_frac" -> "ratio",
      "trace.ops_traced" -> "count",
      "trace.ops_untraced" -> "count")
  }

  def metrics(tracer: Tracer, timers: Seq[graft.Metrics.Sample],
      samples: Seq[Sample], runner: Runner): Seq[(String, Double, String)] = {
    val (traced, untraced) = samples.partition(_.traced)
    val ops = math.max(1, traced.size).toDouble
    val spans = tracer.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum / ops
    def work(n: String): SparkWork = {
      val w = new SparkWork
      named(n).foreach(s => w.add(s.totalWork))
      w
    }
    def timer(m: String, backend: Option[String] = None) = {
      val ss = timers.filter(s => s.metric == m && backend.forall(b => s.tags.get("backend").contains(b)))
      (ss.size / ops, ss.map(_.seconds).sum / ops, ss.flatMap(_.value).sum / ops)
    }
    val replicator = named("Replicator")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out("Replicator.poll_self_s") = replicator.map(_.selfSeconds).sum / ops
    out("Replicator.jobs") = replicator.map(_.work.jobs).sum / ops
    out("Replicator.source_s") = secs("source.chunkData")
    out("Promoter.export.s") = secs("Promoter.export")
    out("Promoter.export.jobs") = work("Promoter.export").jobs / ops
    out("Promoter.export.output_bytes") = work("Promoter.export").outputBytes / ops
    out("Promoter.export.write_parquet_s") = timer("write_parquet_time")._2
    out("ChunkUploader.s") = secs("ChunkUploader")
    out("ChunkUploader.jobs") = work("ChunkUploader").jobs / ops
    out("ChunkUploader.upload_files_s") = timer("upload_files_time")._2
    out("ChunkUploader.upload_bytes") = timer("upload_total_bytes")._3
    out("ChunkUploader.upload_files") = timer("upload_file_count")._3
    Seq("Promoter.stage", "Promoter.promote").foreach { l =>
      out(s"$l.s") = secs(l)
      val w = work(l)
      workFields.foreach { case (f, get, _) =>
        out(s"$l.$f") = if (f == "peak_exec_mem_bytes") get(w) else get(w) / ops
      }
    }
    out("Promoter.stage.commit_s") = timer("stage_commit_time")._2
    Seq("dir_probe", "validate", "commit", "latest_updates").foreach { t =>
      val (n, s, _) = timer(s"promote_${t}_time")
      out(s"Promoter.promote.${t}_n") = n
      out(s"Promoter.promote.${t}_s") = s
    }
    val objectRows = traced.map(_.objects).sum
    out("Promoter.promote.shuffle_records_per_object_row") =
      if (objectRows == 0) 0.0 else work("Promoter.promote").shuffleRecords.toDouble / objectRows
    runner match {
      case s: StagedRunner =>
        out("Promoter.promote.dirs_added") = s.ppdb.dirDiffs.map(_.added).sum / ops
        out("Promoter.promote.dirs_dropped") = s.ppdb.dirDiffs.map(_.dropped).sum / ops
      case _ =>
    }
    out("PpdbJdbc.store_s") = secs("PpdbJdbc.store")
    out("PpdbJdbc.store_data_s") = timer("store_data_time", Some("jdbc"))._2
    out("PpdbJdbc.update_validity_s") = timer("update_validity_time", Some("jdbc"))._2
    out("PpdbJdbc.jobs") = work("PpdbJdbc.store").jobs / ops
    out ++= runner.storeCounters
    val reads = named("VersionedCatalog.read")
    out("VersionedCatalog.read_call_s") =
      if (reads.isEmpty) 0.0 else Main.median(reads.map(_.seconds))
    val cones = named("query.cone")
    out("SpatialCell.cone_s") = if (cones.isEmpty) 0.0 else Main.median(cones.map(_.seconds))
    val ps = runner.queryPhases
    val n = math.max(1, ps.size).toDouble
    Seq("analysis", "optimization", "planning", "execution").foreach { ph =>
      out(s"spark.cone.${ph}_s") = ps.map(_.seconds.getOrElse(ph, 0.0)).sum / n
    }
    out("spark.cone.scan_rows_per_row_returned") =
      ps.map(_.scanRows).sum.toDouble / math.max(1L, ps.map(_.rows).sum)
    out("spark.cone.input_bytes") = work("query.cone").inputBytes / n
    // traced operations against the untraced ones around them
    out("trace.overhead_frac") =
      Main.median(traced.map(_.seconds)) / Main.median(untraced.map(_.seconds)) - 1.0
    out("trace.ops_traced") = traced.size
    out("trace.ops_untraced") = untraced.size
    catalogue.map { case (n, u) => (n, out.getOrElse(n, 0.0), u) }
  }
}
