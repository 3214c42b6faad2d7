package graft

import java.io.ByteArrayOutputStream

import graft.catalog.VersionedCatalog
import graft.cli.Cli
import graft.replicate._
import org.apache.spark.sql.functions.{col, lit}

/** The CLI surface end-to-end: seed a parquet APDB drop zone, drive the
  * continuous `run` loop through the CLI entry across multiple polls,
  * and list chunks on both sides (the reference's
  * replication_run.py / replication_list_chunks_{apdb,ppdb}.py).
  */
class CliSpec extends SparkSpec {

  private def dispatchCapturing(args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Cli.dispatch(spark, args.toList))
    out.toString("UTF-8")
  }

  test("run loop: multiple polls through the CLI entry, then exit on empty") {
    val apdbRoot = tmpDir("cli-apdb")
    val catRoot = tmpDir("cli-ppdb")

    dispatchCapturing("seed-apdb", apdbRoot, "5", "3")
    val out1 = dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty")
    // poll 1 copies chunks 1-3; poll 2 finds nothing and exits
    assert(out1.contains("poll 1: replicated chunks 1, 2, 3"), out1)
    assert(out1.contains("poll 2: nothing to replicate"), out1)
    assert(out1.contains("run finished: 3 chunks replicated"), out1)
    // per-poll metrics summary is printed
    assert(out1.contains("replicate_chunk_time"), out1)

    val ppdb = new PpdbSpark(spark, new VersionedCatalog(catRoot))
    assert(ppdb.replicaChunks().count() == 3)
    assert(ppdb.catalog.read(spark, "DiaObject").count() == 15, "3 chunks x 5")

    // new chunks land in the drop zone; single-shot copies exactly one
    dispatchCapturing("seed-apdb", apdbRoot, "5", "2", "4")
    val out2 = dispatchCapturing("run", apdbRoot, catRoot, "--single")
    assert(out2.contains("poll 1: replicated chunks 4"), out2)
    assert(out2.contains("run finished: 1 chunks replicated"), out2)

    // a follow-up run drains the rest and stops
    val out3 = dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty")
    assert(out3.contains("poll 1: replicated chunks 5"), out3)
    assert(new PpdbSpark(spark, new VersionedCatalog(catRoot))
      .replicaChunks().count() == 5)
  }

  test("run targets a jdbc: URL — live-RDBMS backend through the same CLI") {
    val apdbRoot = tmpDir("cli-apdb-jdbc")
    val url = PpdbJdbc.derbyMemUrl(s"clijdbc_${System.nanoTime()}")
    dispatchCapturing("seed-apdb", apdbRoot, "4", "2")
    val out = dispatchCapturing("run", apdbRoot, url, "--exit-on-empty")
    assert(out.contains("poll 1: replicated chunks 1, 2"), out)
    assert(out.contains("run finished: 2 chunks replicated"), out)
    val ppdb = PpdbJdbc.open(spark, url)
    assert(ppdb.replicaChunks().count() == 2)
    assert(ppdb.read("DiaObject").count() == 8, "2 chunks x 4")
    // list-chunks accepts the same jdbc: URL
    val ls = dispatchCapturing("list-chunks", url)
    assert(ls.contains("promoted"), ls)
  }

  test("snapshot bridges a live jdbc store into an analytic parquet catalog") {
    val apdbRoot = tmpDir("cli-apdb-snap")
    val url = PpdbJdbc.derbyMemUrl(s"clisnap_${System.nanoTime()}")
    dispatchCapturing("seed-apdb", apdbRoot, "6", "3")
    dispatchCapturing("run", apdbRoot, url, "--exit-on-empty")

    val destRoot = tmpDir("cli-snap-dest")
    val out = dispatchCapturing("snapshot", url, destRoot)
    assert(out.contains(s"snapshot: 6 DiaObjectLast rows"), out)
    val snap = new VersionedCatalog(destRoot).read(spark, "DiaObjectLast")
    // latest version only (3 versions per object in the store), open
    // interval dropped, spatial cell attached
    assert(snap.count() == 6)
    assert(!snap.columns.contains("validityEndMjdTai"))
    assert(snap.columns.contains("cellId"))
    assert(snap.select("nDiaSources").collect().forall(_.getInt(0) == 3),
      "latest version carries the chunk-3 counter")

    // the same command accepts a parquet catalog root as source
    val catRoot = tmpDir("cli-snap-cat")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty")
    val out2 = dispatchCapturing("snapshot", catRoot, tmpDir("cli-snap-dest2"))
    assert(out2.contains("snapshot: 6 DiaObjectLast rows"), out2)
  }

  test("list-chunks --apdb prints the source-side chunk table") {
    val apdbRoot = tmpDir("cli-apdb-ls")
    dispatchCapturing("seed-apdb", apdbRoot, "2", "2")
    val out = dispatchCapturing("list-chunks", "--apdb", apdbRoot)
    assert(out.contains("uuid-1") && out.contains("uuid-2"), out)
    assert(out.contains("Total: 2"), out)
    // empty drop zone lists zero, not an error
    val empty = dispatchCapturing("list-chunks", "--apdb", tmpDir("cli-empty"))
    assert(empty.contains("Total: 0"), empty)
  }

  test("run loop copies chunks staged between polls without sleeping") {
    val apdbRoot = tmpDir("loop-apdb")
    val apdb = new ParquetApdb(spark, apdbRoot)
    val gen = new graft.cli.SyntheticApdb(spark, 3, 10)
    (1L to 3L).foreach(id => ParquetApdb.stage(spark, apdbRoot, gen.chunkData(id)))
    val ppdb = new PpdbSpark(spark, new VersionedCatalog(tmpDir("loop-ppdb")))
    ppdb.init()
    val rep = new Replicator(spark, apdb, ppdb)
    var sleeps = 0
    val pollSizes = Seq.newBuilder[Int]
    val copied = rep.run(exitOnEmpty = true,
      sleepMs = _ => sleeps += 1,
      onPoll = (poll, ids) => {
        pollSizes += ids.size
        // a new chunk arrives while poll 1's copies were in flight
        if (poll == 1) ParquetApdb.stage(spark, apdbRoot, gen.chunkData(4L))
      })
    assert(copied == Seq(1L, 2L, 3L, 4L))
    // productive polls chain immediately (no check-interval sleep)
    assert(pollSizes.result() == Seq(3, 1, 0))
    assert(sleeps == 0)
  }

  test("requestStop exits the loop instead of sleeping out the interval") {
    val apdbRoot = tmpDir("stop-apdb")
    val ppdb = new PpdbSpark(spark, new VersionedCatalog(tmpDir("stop-ppdb")))
    ppdb.init()
    val rep = new Replicator(spark, new ParquetApdb(spark, apdbRoot), ppdb)
    // empty source, no exit-on-empty: the loop would sleep check-interval
    // between polls forever; stop during the first sleep slice
    val copied = rep.run(sleepMs = _ => rep.requestStop())
    assert(copied.isEmpty)
  }

  test("parquet APDB round-trips update records through the raw form") {
    import graft.schema.UpdateRecord
    val apdbRoot = tmpDir("upd-apdb")
    val src = new TestApdb(spark, nObjects = 4, nChunks = 1,
      extraUpdates = Map(1L -> Seq(
        1L -> UpdateRecord.WithdrawDiaSource(5000L, 1L, 100000L, 60000.5),
        1L -> UpdateRecord.ReassignDiaSourceToDiaObject(6000L, 2L, 100001L, 1002L))))
    ParquetApdb.stage(spark, apdbRoot, src.chunkData(1L))
    val got = new ParquetApdb(spark, apdbRoot).chunkData(1L)
    assert(got.uniqueId == "uuid-1")
    assert(got.updates.map(_._2.updateOrder) == Seq(1L, 2L))
    assert(got.updates.map { case (c, u) => (c, u.tableName, u.recordId, u.payload) }
      == src.chunkData(1L).updates.map { case (c, u) =>
        (c, u.tableName, u.recordId, u.payload) })
  }

  test("update mode re-store upserts same-PK rows; default stays a no-op") {
    val apdb = new TestApdb(spark, nObjects = 5, nChunks = 1)
    val ppdb = new PpdbSpark(spark, new VersionedCatalog(tmpDir("upsert")))
    ppdb.init()
    val cd = apdb.chunkData(1L)
    ppdb.store(cd)
    val objects = () => ppdb.catalog.read(spark, "DiaObject")
    val sources = () => ppdb.catalog.read(spark, "DiaSource")
    assert(objects().count() == 5 && sources().count() == 5)

    // default: re-store is the exactly-once no-op even with changed data
    val changed = cd.copy(
      diaObjects = cd.diaObjects.withColumn("ra", lit(99.0)),
      diaSources = cd.diaSources.withColumn("ra", lit(99.0)))
    ppdb.store(changed)
    assert(objects().where(col("ra") === 99.0).count() == 0)

    // update mode: same PKs replaced in place — counts stay flat, the
    // new values land, the control table keeps exactly one chunk row
    ppdb.store(changed, update = true)
    assert(objects().count() == 5 && sources().count() == 5)
    assert(objects().where(col("ra") === 99.0).count() == 5)
    assert(sources().where(col("ra") === 99.0).count() == 5)
    assert(ppdb.replicaChunks().count() == 1)
  }

  test("re-staged chunk (new unique_id) is repaired by run --update") {
    val apdbRoot = tmpDir("regen-apdb")
    val catRoot = tmpDir("regen-ppdb")
    dispatchCapturing("seed-apdb", apdbRoot, "4", "2")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty")

    // the source regenerates chunk 1: new content, new unique_id
    val gen = new graft.cli.SyntheticApdb(spark, 4, 2)
    val regen = gen.chunkData(1L).copy(uniqueId = "uuid-1-regen",
      diaObjects = gen.chunkData(1L).diaObjects.withColumn("ra", lit(77.0)))
    ParquetApdb.stage(spark, apdbRoot, regen)
    // stage upserts the descriptor — exactly one index row per chunk
    val listed = new ParquetApdb(spark, apdbRoot).listChunks().collect()
    assert(listed.length == 2, s"${listed.toSeq}")
    assert(listed.find(_.getLong(0) == 1L).get.getString(2) == "uuid-1-regen")

    // a plain run warns about the mismatch and copies nothing new
    val plain = dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty")
    assert(plain.contains("poll 1: nothing to replicate"), plain)
    val ppdb = new PpdbSpark(spark, new VersionedCatalog(catRoot))
    assert(ppdb.catalog.read(spark, "DiaObject")
      .where(col("ra") === 77.0).count() == 0)

    // --update treats the mismatch as the work list: chunk 1 re-copies
    // in place (same PKs, flat counts, one bookkeeping row, new uuid)
    val rep = dispatchCapturing("run", apdbRoot, catRoot,
      "--exit-on-empty", "--update")
    assert(rep.contains("poll 1: replicated chunks 1"), rep)
    assert(ppdb.catalog.read(spark, "DiaObject").count() == 8, "2 chunks x 4")
    assert(ppdb.catalog.read(spark, "DiaObject")
      .where(col("ra") === 77.0).count() == 4)
    val row = ppdb.replicaChunks()
      .where(col("apdb_replica_chunk") === 1L).collect()
    assert(row.length == 1 && row.head.getAs[String]("unique_id") ==
      "uuid-1-regen")
  }

  test("felis-YAML create stands up a catalog a chunk replicates into; " +
      "--drop recreates") {
    val yamlPath = "/root/reference/python/lsst/dax/ppdb/resources/config/" +
      "schemas/test_apdb_schema.yaml"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(yamlPath)))
    val catRoot = tmpDir("cli-felis-cat")
    val apdbRoot = tmpDir("cli-felis-apdb")
    val out = dispatchCapturing("create", catRoot, "--felis-schema", yamlPath)
    assert(out.contains("schema 0.1.1"), out)
    // every YAML table is declared in the registry with the YAML version
    // and published empty in the catalog (plus internal bookkeeping)
    val reg = new graft.catalog.SchemaRegistry(catRoot)
    val cat = new VersionedCatalog(catRoot)
    for (t <- Seq("DiaObject", "DiaSource", "DiaForcedSource", "SSObject")) {
      val (v, s) = reg.get(t).get
      assert(v == graft.schema.VersionTuple(0, 1, 1), t)
      // parquet scans surface every column nullable; names+types must hold
      assert(cat.read(spark, t).schema.fields.map(f => f.name -> f.dataType)
        .toSeq == s.fields.map(f => f.name -> f.dataType).toSeq, t)
      assert(cat.read(spark, t).count() == 0, t)
    }
    assert(cat.exists("PpdbReplicaChunk") && cat.exists("metadata"))
    assert(reg.get("DiaObject").get._2 ==
      graft.schema.PpdbSchema.diaObject)

    // a chunk replicates end-to-end into the felis-created catalog
    dispatchCapturing("seed-apdb", apdbRoot, "3", "2")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty")
    assert(cat.read(spark, "DiaObject").count() == 6)
    assert(cat.read(spark, "PpdbReplicaChunk").count() == 2)

    // recreating over a non-empty root refuses without --drop...
    val e = intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("create", catRoot, "--felis-schema", yamlPath))
    }
    assert(e.getMessage.contains("--drop"))
    // ...and --drop recreates from scratch (data gone, registry fresh)
    dispatchCapturing("create", catRoot, "--felis-schema", yamlPath, "--drop")
    val cat2 = new VersionedCatalog(catRoot)
    assert(cat2.read(spark, "DiaObject").count() == 0)
    assert(cat2.read(spark, "PpdbReplicaChunk").count() == 0)
    // a missing schema file is a usage error (pre-session validation path)
    intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("create", tmpDir("cli-felis-x"),
        "--felis-schema", "/nope/missing.yaml"))
    }
  }

  test("full service chain via CLI: run --export, upload --stage, promote; " +
      "second cycle resumes after a kill between upload and staging") {
    import graft.schema.PpdbSchema.ChunkStatus
    val apdbRoot = tmpDir("chain-apdb")
    val catRoot = tmpDir("chain-cat")
    val exportRoot = tmpDir("chain-export")
    val remoteRoot = tmpDir("chain-remote")
    val cat = new VersionedCatalog(catRoot)
    def statuses(): Map[Long, String] =
      cat.read(spark, "PpdbReplicaChunk")
        .select("apdb_replica_chunk", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    // ---- cycle 1: the three services run in order over one catalog ----
    dispatchCapturing("seed-apdb", apdbRoot, "4", "2")
    val runOut = dispatchCapturing("run", apdbRoot, catRoot,
      "--exit-on-empty", "--export", exportRoot)
    assert(runOut.contains("poll 1: replicated chunks 1, 2"), runOut)
    assert(statuses() == Map(1L -> ChunkStatus.Exported, 2L -> ChunkStatus.Exported))
    // store = export: data lives in chunk dirs + manifests, not tables
    for (id <- Seq(1L, 2L))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$exportRoot/chunk_$id", ChunkManifest.FileName)), id)
    assert(cat.read(spark, "staging.DiaObject").count() == 0)

    val upOut = dispatchCapturing("upload", catRoot, exportRoot, remoteRoot,
      "--stage")
    assert(upOut.contains("uploaded chunks 1, 2"), upOut)
    // the staging notification fired per chunk: uploaded -> staged
    assert(statuses() == Map(1L -> ChunkStatus.Staged, 2L -> ChunkStatus.Staged))
    assert(cat.read(spark, "staging.DiaObject").count() == 8)
    for (id <- Seq(1L, 2L))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        remoteRoot, id.toString, ChunkManifest.FileName)), s"remote $id")

    val promOut = dispatchCapturing("promote", catRoot, exportRoot)
    assert(promOut.contains("promoted chunks 1, 2"), promOut)
    assert(statuses() == Map(1L -> ChunkStatus.Promoted, 2L -> ChunkStatus.Promoted))
    assert(cat.read(spark, "internal.DiaObject").count() == 8)
    assert(cat.exists("public.DiaObjectLast"))
    // S15: promoted chunks' staged rows are gone (directory drop)
    assert(cat.read(spark, "staging.DiaObject").count() == 0)

    // ---- cycle 2: killed between upload and staging, then resumed ----
    dispatchCapturing("seed-apdb", apdbRoot, "4", "2", "3")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty",
      "--export", exportRoot)
    // upload WITHOUT --stage simulates the crash: remote bytes complete,
    // status flipped to uploaded, but the staging notification never ran
    dispatchCapturing("upload", catRoot, exportRoot, remoteRoot)
    assert(statuses()(3L) == ChunkStatus.Uploaded)
    assert(statuses()(4L) == ChunkStatus.Uploaded)
    assert(cat.read(spark, "staging.DiaObject").count() == 0)
    // promote self-heals: stages 3,4 from their REMOTE uris, then promotes
    val promOut2 = dispatchCapturing("promote", catRoot, exportRoot)
    assert(promOut2.contains("staged uploaded chunks 3, 4"), promOut2)
    assert(promOut2.contains("promoted chunks 3, 4"), promOut2)
    assert(statuses().values.toSet == Set(ChunkStatus.Promoted))
    assert(cat.read(spark, "internal.DiaObject").count() == 16)

    // ---- exactly-once: every service re-run is a no-op ----
    val rerun = dispatchCapturing("run", apdbRoot, catRoot,
      "--exit-on-empty", "--export", exportRoot)
    assert(rerun.contains("run finished: 0 chunks replicated"), rerun)
    assert(dispatchCapturing("upload", catRoot, exportRoot, remoteRoot, "--stage")
      .contains("nothing to upload"))
    assert(dispatchCapturing("promote", catRoot, exportRoot)
      .contains("nothing promotable"))
    assert(cat.read(spark, "internal.DiaObject").count() == 16)
    assert(statuses().values.toSet == Set(ChunkStatus.Promoted))
  }

  test("upload and promote open the catalog with the PPDB write options: " +
      "promoted files carry diaObjectId bloom filters") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val apdbRoot = tmpDir("bloom-apdb")
    val catRoot = tmpDir("bloom-cat")
    val exportRoot = tmpDir("bloom-export")
    dispatchCapturing("seed-apdb", apdbRoot, "4", "1")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty",
      "--export", exportRoot)
    dispatchCapturing("upload", catRoot, exportRoot, tmpDir("bloom-remote"),
      "--stage")
    assert(dispatchCapturing("promote", catRoot, exportRoot)
      .contains("promoted chunks 1"))
    val hconf = spark.sparkContext.hadoopConfiguration
    // every row group of every non-empty file has a diaObjectId filter
    def bloomed(table: String): Boolean = {
      val files = new VersionedCatalog(catRoot).current._2(table).flatMap { d =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
        finally walk.close()
      }
      val groups = files.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), hconf))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == "diaObjectId")
            .exists(c => r.readBloomFilter(c) != null)
        } finally r.close()
      }
      groups.nonEmpty && groups.forall(identity)
    }
    assert(bloomed("internal.DiaObject"))
    assert(bloomed("public.DiaObjectLast"))
  }

  test("promote loop runs as a service peer: capped batches, idle " +
      "check-interval sleeping, convergence with concurrent run/upload") {
    import graft.schema.PpdbSchema.ChunkStatus
    val apdbRoot = tmpDir("ploop-apdb")
    val catRoot = tmpDir("ploop-cat")
    val exportRoot = tmpDir("ploop-export")
    val remoteRoot = tmpDir("ploop-remote")
    val cat = new VersionedCatalog(catRoot)

    // chunks 1,2 already replicated+uploaded before the promoter starts
    dispatchCapturing("seed-apdb", apdbRoot, "3", "2")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty",
      "--export", exportRoot)
    dispatchCapturing("upload", catRoot, exportRoot, remoteRoot)

    val promoter = new Promoter(spark, cat, exportRoot)
    promoter.init()
    var sleeps = 0
    val pollLog = Seq.newBuilder[(Int, Seq[Long])]
    val promoted = promoter.run(
      maxChunksPerPoll = Some(1), // backpressure: one chunk per poll
      checkIntervalMs = 5000L,
      sleepMs = _ => sleeps += 1,
      onPoll = (poll, ids) => {
        pollLog += ((poll, ids))
        // the OTHER services keep running between promoter polls: a new
        // chunk lands after poll 2 and flows replicate → upload while
        // the promoter is mid-backlog
        if (poll == 2) {
          dispatchCapturing("seed-apdb", apdbRoot, "3", "1", "3")
          dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty",
            "--export", exportRoot)
          dispatchCapturing("upload", catRoot, exportRoot, remoteRoot)
        }
        // second consecutive idle poll (after sleeping out one check
        // interval): stop the service
        if (poll >= 5 && ids.isEmpty) promoter.requestStop()
      })
    // poll 1 staged uploaded 1,2 and promoted only 1 (cap); poll 2
    // promoted 2; poll 3 caught chunk 3; polls 4-5 idle with a check-
    // interval sleep between them
    assert(promoted == Seq(1L, 2L, 3L), pollLog.result().toString)
    val polls = pollLog.result()
    assert(polls.take(3).map(_._2) == Seq(Seq(1L), Seq(2L), Seq(3L)), polls)
    assert(polls.takeRight(2).forall(_._2.isEmpty))
    // busy polls roll straight into the next; only idle polls sleep
    assert(sleeps > 0, "idle poll should have slept the check interval")
    val statuses = cat.read(spark, "PpdbReplicaChunk")
      .select("apdb_replica_chunk", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses == Map(1L -> ChunkStatus.Promoted,
      2L -> ChunkStatus.Promoted, 3L -> ChunkStatus.Promoted))
    assert(cat.read(spark, "internal.DiaObject").count() == 9)
    assert(cat.read(spark, "staging.DiaObject").count() == 0)

    // the CLI surface: --single promotes one capped batch and exits
    dispatchCapturing("seed-apdb", apdbRoot, "3", "1", "4")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty",
      "--export", exportRoot)
    dispatchCapturing("upload", catRoot, exportRoot, remoteRoot)
    val out = dispatchCapturing("promote", catRoot, exportRoot,
      "--single", "--max-chunks", "1")
    assert(out.contains("poll 1: promoted chunks 4"), out)
    assert(out.contains("promote finished: 1 chunks promoted"), out)

    // --single on an IDLE catalog is a one-shot too: it must exit after
    // the first (empty) poll, not hang on the 360 s check interval
    val idle = dispatchCapturing("promote", catRoot, exportRoot, "--single")
    assert(idle.contains("promote finished: 0 chunks promoted"), idle)
  }

  test("--metrics-json emits one parseable JSON object per polling window " +
      "with the reference metric names") {
    val apdbRoot = tmpDir("mj-apdb")
    val catRoot = tmpDir("mj-cat")
    val exportRoot = tmpDir("mj-export")
    val remoteRoot = tmpDir("mj-remote")
    val mpath = tmpDir("mj-out") + "/metrics.jsonl"

    dispatchCapturing("seed-apdb", apdbRoot, "3", "2")
    dispatchCapturing("run", apdbRoot, catRoot, "--exit-on-empty",
      "--export", exportRoot, "--metrics-json", mpath)
    dispatchCapturing("upload", catRoot, exportRoot, remoteRoot, "--stage",
      "--metrics-json", mpath)
    dispatchCapturing("promote", catRoot, exportRoot, "--metrics-json", mpath)

    // every line is a self-contained JSON object Spark can read back
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(mpath))
    assert(lines.size == 4, lines) // run poll 1+2, upload, promote
    val df = spark.read.json(mpath).cache()
    assert(df.count() == 4)
    assert(!df.columns.contains("_corrupt_record"), df.columns.toSeq)

    import org.apache.spark.sql.functions.col
    def row(cmd: String, poll: Long) =
      df.where(col("command") === cmd && col("poll") === poll).collect().head
    def metricNames(cmd: String, poll: Long): Set[String] = {
      val r = row(cmd, poll)
      val m = r.getStruct(r.fieldIndex("metrics"))
      m.schema.fields.indices.filter(!m.isNullAt(_))
        .map(m.schema.fields(_).name).toSet
    }

    // run poll 1 replicated chunks 1,2 with the §1 replication metrics
    val r1 = row("run", 1L)
    assert(r1.getSeq[Long](r1.fieldIndex("chunk_ids")) == Seq(1L, 2L))
    assert(r1.getLong(r1.fieldIndex("chunk_count")) == 2)
    assert(r1.getDouble(r1.fieldIndex("wall_s")) > 0.0)
    assert(r1.getLong(r1.fieldIndex("ts_ms")) > 0L)
    val runMetrics = metricNames("run", 1L)
    for (m <- Seq("replicate_chunk_time", "get_chunks_time",
        "store_chunks_time", "write_parquet_time", "write_parquet_rows"))
      assert(runMetrics.contains(m), s"$m missing from $runMetrics")
    // the counted channel: rows written across both chunks
    val wpr = r1.getStruct(r1.fieldIndex("metrics"))
    val wprRow = wpr.getStruct(wpr.fieldIndex("write_parquet_rows"))
    assert(wprRow.getLong(wprRow.fieldIndex("value")) > 0L)
    // poll 2 found nothing: empty ids, still a well-formed line
    val r2 = row("run", 2L)
    assert(r2.getSeq[Long](r2.fieldIndex("chunk_ids")).isEmpty)

    // upload window carries transfer metrics incl. file/byte counts
    val upMetrics = metricNames("upload", 1L)
    for (m <- Seq("upload_files_time", "upload_file_count",
        "upload_total_bytes"))
      assert(upMetrics.contains(m), s"$m missing from $upMetrics")
    val ru = row("upload", 1L)
    assert(ru.getSeq[Long](ru.fieldIndex("chunk_ids")) == Seq(1L, 2L))

    // promote window names the promoted chunks
    val rp = row("promote", 1L)
    assert(rp.getSeq[Long](rp.fieldIndex("chunk_ids")) == Seq(1L, 2L))
    df.unpersist()

    // dest "-" prints the line to stdout instead
    val out = dispatchCapturing("promote", catRoot, exportRoot,
      "--metrics-json", "-")
    assert(out.contains("\"command\":\"promote\""), out)
    assert(out.contains("nothing promotable"), out)
  }

  test("bad flags and numerics raise UsageError, not a stack trace") {
    // unknown run flag (was IllegalArgumentException — the CLI died with
    // a stack trace and JVM exit code instead of the usage path)
    val e1 = intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("run", tmpDir("ue-a"), tmpDir("ue-b"),
        "--bogus"))
    }
    assert(e1.getMessage.contains("--bogus"))
    // non-numeric interval value
    val e2 = intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("run", tmpDir("ue-a"), tmpDir("ue-b"),
        "--min-wait-time", "soon"))
    }
    assert(e2.getMessage.contains("soon"))
    // seed-apdb numerics and arity
    val e3 = intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("seed-apdb", tmpDir("ue-c"), "five", "3"))
    }
    assert(e3.getMessage.contains("five"))
    intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("seed-apdb", tmpDir("ue-c"), "1", "2", "3", "4"))
    }
    intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("demo", tmpDir("ue-d"), "10"))
    }
  }

  test("vacuum CLI: --dry-run audits without deleting; --retain-commits " +
      "keeps time travel readable") {
    import spark.implicits._
    val root = tmpDir("cli-vacuum")
    val cat = new VersionedCatalog(root)
    cat.commit(Map("t" -> Seq(1L).toDF("n")))
    cat.commit(Map("t" -> Seq(2L).toDF("n")))
    cat.commit(Map("t" -> Seq(3L).toDF("n")))
    val dry = dispatchCapturing("vacuum", root,
      "--retain-commits", "1", "--dry-run")
    assert(dry.contains("would remove 1"), dry)
    // dry-run deleted nothing: the out-of-retention commit still reads
    assert(cat.readAt(spark, "t", 1).head().getLong(0) == 1L)
    val real = dispatchCapturing("vacuum", root, "--retain-commits", "1")
    assert(real.contains("removed 1"), real)
    // retained past commit stays readable; swept one refuses
    assert(cat.readAt(spark, "t", 2).head().getLong(0) == 2L)
    assert(cat.read(spark, "t").head().getLong(0) == 3L)
    intercept[IllegalArgumentException] { cat.readAt(spark, "t", 1) }
    intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("vacuum", root, "--nope"))
    }
  }

  test("pair-graph CLI: build the committed edge index, derive " +
      "clusters/rank/core, fold a batch, read labels back via SQL") {
    import spark.implicits._
    val root = tmpDir("cli-pg")
    val docsPath = s"${tmpDir("cli-pg-docs")}/docs"
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (10L, "one two three four five six seven eight"),
      (11L, "one two three four five six seven nine"),
      (20L, "completely different text with no overlap at all whatsoever"))
      .toDF("doc_id", "text").write.parquet(docsPath)

    val built = dispatchCapturing("pair-graph", "build", root, docsPath)
    assert(built.contains("committed") && built.contains("edges"), built)
    assert(dispatchCapturing("pair-graph", "clusters", root)
      .contains("clusters"), "clusters output")
    assert(dispatchCapturing("pair-graph", "rank", root)
      .contains("rank"), "rank output")
    assert(dispatchCapturing("pair-graph", "core", root, "--k", "1")
      .contains("core"), "core output")

    // SQL surface: the committed tables mount as views like every other
    // persisted index family — labels must equal the inline library
    // pipeline at the same LSH parameters
    val cat = new VersionedCatalog(root)
    val viaSql = GraftSession.sql(spark, cat,
      "SELECT doc_id, cluster_id FROM pair_graph_clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val docs = spark.read.parquet(docsPath)
    val inline = graft.ops.Dedup.dupClusters(docs.select(col("doc_id")),
        "doc_id",
        graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.6)
          .select("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaSql == inline, s"CLI labels $viaSql != inline $inline")
    // rank/core tables committed and SQL-readable
    assert(GraftSession.sql(spark, cat,
      "SELECT count(*) FROM pair_graph_rank").head().getLong(0) >= 2L)
    assert(GraftSession.sql(spark, cat,
      "SELECT count(*) FROM pair_graph_core").head().getLong(0) >= 2L)

    // incremental maintenance: a verbatim clone of doc 1 folds in and
    // must land in doc 1's cluster after a label refresh
    val batchPath = s"${tmpDir("cli-pg-batch")}/docs"
    Seq((4L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.parquet(batchPath)
    assert(dispatchCapturing("pair-graph", "add", root, batchPath)
      .contains("folded"), "add output")
    dispatchCapturing("pair-graph", "clusters", root)
    val refreshed = GraftSession.sql(spark, cat,
      "SELECT doc_id, cluster_id FROM pair_graph_clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(refreshed.contains(4L), s"batch doc missing: $refreshed")
    assert(refreshed(4L) == refreshed(1L),
      s"clone must join doc 1's cluster: $refreshed")

    // flag validation goes through the usage path, not a stack trace
    intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("pair-graph", "rank", root, "--nope"))
    }
    intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("pair-graph", "core", root, "--k", "one"))
    }
  }

  test("pair-graph clusters --docs supplies the full id universe: " +
      "too-short-to-shingle docs get singleton labels like the inline " +
      "pipeline; without --docs they are absent (documented contract)") {
    import spark.implicits._
    val root = tmpDir("cli-pg-short")
    val docsPath = s"${tmpDir("cli-pg-short-docs")}/docs"
    // doc 30 has fewer words than the 3-gram shingle window — it never
    // enters the minhash sets table
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (30L, "hi"))
      .toDF("doc_id", "text").write.parquet(docsPath)
    dispatchCapturing("pair-graph", "build", root, docsPath)
    val cat = new VersionedCatalog(root)
    dispatchCapturing("pair-graph", "clusters", root)
    val indexedOnly = cat.read(spark, "pair_graph.clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!indexedOnly.contains(30L),
      s"short doc should be absent without --docs: $indexedOnly")
    dispatchCapturing("pair-graph", "clusters", root, "--docs", docsPath)
    val full = cat.read(spark, "pair_graph.clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full.get(30L).contains(30L),
      s"short doc must label as its own singleton: $full")
    // and the full-universe labels equal the inline pipeline's
    val docs = spark.read.parquet(docsPath)
    val inline = graft.ops.Dedup.dupClusters(docs.select(col("doc_id")),
        "doc_id",
        graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.6)
          .select("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full == inline, s"CLI --docs labels $full != inline $inline")
  }

  test("curate CLI: runs the curation pipeline over a documents parquet " +
      "and commits survivors + per-stage counts, equal to the inline " +
      "library composition") {
    import spark.implicits._
    val root = tmpDir("cli-curate")
    val docsPath = s"${tmpDir("cli-curate-docs")}/docs"
    val fixture = Seq(
      // near-dup family: one canonical survivor after near-dedup
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota", "web"),
      // exact duplicate of doc 1 — exact dedup drops it
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      // distinct keeper from another source
      (10L, "one two three four five six seven eight nine ten", "books"),
      // too short for --min-tokens 4
      (20L, "tiny doc", "web"),
      // distinct keeper
      (30L, "quick brown fox jumps over the lazy dog today friends", "web"))
    fixture.toDF("doc_id", "text", "source").write.parquet(docsPath)
    val out = dispatchCapturing("curate", root, docsPath,
      "--name", "cur", "--min-tokens", "4", "--near-dup", "0.25",
      "--split", "80,10")
    assert(out.contains("committed"), out)

    val cat = new VersionedCatalog(root)
    val survivors = cat.read(spark, "cur")
    val ids = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    // inline library composition with the identical config
    val inline = graft.ops.TextPipeline.curate(
      spark.read.parquet(docsPath), "doc_id", "text", "source",
      graft.ops.CurationConfig(minTokens = 4,
        nearDupThreshold = Some(0.25), split = Some((80, 10))))
    val inlineIds = inline.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(ids == inlineIds, s"CLI $ids != inline $inlineIds")
    // survivors carry the annotations + the split column
    assert(Set("n_tokens", "quality", "pred_lang", "split")
      .subsetOf(survivors.columns.toSet), survivors.columns.mkString(","))

    // stage stats: input row + one row per configured stage, counts
    // monotone non-increasing, final == committed survivor count
    val stats = cat.read(spark, "cur.stage_stats")
      .orderBy("stage_idx")
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(stats.head == ("input", fixture.size.toLong), stats.mkString(","))
    assert(stats.map(_._1).toSeq ==
      Seq("input", "heuristics", "exact_dedup", "near_dedup"),
      stats.mkString(","))
    assert(stats.map(_._2).toSeq == stats.map(_._2).toSeq.sorted.reverse,
      s"stage counts must be non-increasing: ${stats.mkString(",")}")
    assert(stats.last._2 == survivors.count(), stats.mkString(","))
    // SQL surface: both tables mount as views
    assert(GraftSession.sql(spark, cat,
      "SELECT count(*) FROM cur_stage_stats").head().getLong(0) ==
      stats.length.toLong)
    // bad flags fail through the usage path
    intercept[Cli.UsageError] {
      Cli.dispatch(spark, List("curate", root, docsPath, "--split", "80"))
    }

    // --pair-graph: build the committed edge index in the same catalog,
    // then curate reading near-dup pairs from it — survivor set equal to
    // the inline-LSH run above (same LSH family, threshold from the
    // index build)
    dispatchCapturing("pair-graph", "build", root, docsPath,
      "--name", "pg", "--threshold", "0.25")
    dispatchCapturing("curate", root, docsPath,
      "--name", "cur2", "--min-tokens", "4", "--pair-graph", "pg",
      "--split", "80,10")
    val viaIndex = cat.read(spark, "cur2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == ids, s"index-fed $viaIndex != inline-LSH $ids")
    graft.ops.Dedup.releaseCaches()
  }

  test("non-strict mismatch warns and continues; strict raises") {
    val apdb = new TestApdb(spark, nObjects = 2, nChunks = 1)
    val ppdb = new PpdbSpark(spark, new VersionedCatalog(tmpDir("mism")))
    ppdb.init()
    // store chunk 1 under a DIFFERENT unique id than the source reports
    ppdb.store(apdb.chunkData(1L).copy(uniqueId = "other-uuid"))
    val rep = new Replicator(spark, apdb, ppdb)
    intercept[IllegalStateException] {
      rep.runOnce(nowUs = Long.MaxValue / 2, strict = true)
    }
    // the continuous loop's posture (P/replicator.py:237-240): warn, keep going
    val ids = rep.runOnce(nowUs = Long.MaxValue / 2, strict = false)
    assert(ids.isEmpty, "chunk 1 already replicated; nothing new to copy")
  }
}
