package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.VersionedCatalog
import graft.replicate._
import graft.schema.PpdbSchema

class PromoterSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs of the steady-state one-chunk promote below. */
  private val JobCeiling = 55

  /** Spark jobs of the steady-state one-chunk `PpdbSpark.store` below. */
  private val StoreJobCeiling = 35

  private def fresh(): (Promoter, TestApdb) = {
    val cat = new VersionedCatalog(tmpDir("promo"))
    val p = new Promoter(spark, cat, tmpDir("export"))
    p.init()
    (p, new TestApdb(spark, nObjects = 6, nChunks = 3))
  }

  test("export writes parquet + valid manifest; stage loads it") {
    val (p, apdb) = fresh()
    val dir = p.exportChunk(apdb.chunkData(1))
    assert(ChunkManifest.validate(dir).isEmpty, "manifest self-validates")
    p.stageChunks(Seq(1L))
    val staged = p.`catalog`.read(spark, "staging.DiaObject")
    assert(staged.count() == 6)
    assert(staged.select("apdb_replica_chunk").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("manifest row counts are per FILE and reconcile per table") {
    val (p, apdb) = fresh()
    val dir = p.exportChunk(apdb.chunkData(1))
    val hconf = spark.sparkContext.hadoopConfiguration
    val m = ChunkManifest.read(dir, hconf)
    // per-table sums equal the written table sizes (6 objects/sources/
    // forced each), and each entry carries its own file's count
    val byTable = m.entries.groupBy(_.table).view
      .mapValues(_.map(_.rowCount).sum).toMap
    assert(byTable("DiaObject") == 6 && byTable("DiaSource") == 6 &&
      byTable("DiaForcedSource") == 6, s"${m.entries}")
    m.entries.foreach { e =>
      val f = new java.io.File(s"$dir/${e.fileName}")
      assert(ChunkManifest.parquetRowCount(f, hconf) == e.rowCount, e)
    }
  }

  test("promote aborts on an update record targeting a missing row (J6)") {
    import graft.schema.UpdateRecord._
    // update records for rows that no chunk ever carried, one per table
    val dangling = Map(
      "DiaObject" -> UpdateNDiaSources(5000L, 2L, 888888888L, 3),
      "DiaSource" -> WithdrawDiaSource(5000L, 1L, 999999999L, 60000.5),
      "DiaForcedSource" ->
        WithdrawDiaForcedSource(5000L, 3L, 777777777L, 1L, 1L, 60000.5))
    // the per-table chains validate concurrently, yet the error always
    // names the first dangling table in the order DiaObject, DiaSource,
    // DiaForcedSource — checked on three promotes of each batch
    val cases = Seq(
      Seq("DiaSource") -> "DiaSource",
      Seq("DiaObject", "DiaSource", "DiaForcedSource") -> "DiaObject",
      Seq("DiaSource", "DiaForcedSource") -> "DiaSource")
    for ((tables, reported) <- cases) {
      val (p, apdb) = fresh()
      val cd = apdb.chunkData(1)
      p.exportChunk(cd.copy(updates = tables.map(t => 1L -> dangling(t))))
      p.stageChunks(Seq(1L))
      val staged = p.catalog.currentCommit
      (1 to 3).foreach { _ =>
        val e = intercept[IllegalStateException] { p.promote() }
        assert(e.getMessage.contains(s"missing $reported row"), e.getMessage)
      }
      // nothing published: the batch stayed staged, internal tables empty
      assert(p.catalog.currentCommit == staged, tables)
      PpdbSchema.dataTables.foreach { t =>
        assert(p.catalog.read(spark, s"internal.$t").count() == 0, t)
      }
      assert(p.catalog.read(spark, "PpdbReplicaChunk")
        .select("status").head().getString(0) == PpdbSchema.ChunkStatus.Staged)
    }
  }

  /** Runs `chunks` in order through both backends — a [[Promoter]]
    * (export, stage and promote each chunk alone) and a [[PpdbSpark]]
    * (store each chunk) — and gives, per backend, the message of the
    * error the last chunk raised, or a reader of the data tables.
    */
  private def throughBoth(chunks: Seq[ChunkData])
      : Seq[(String, Either[String, String => DataFrame])] = {
    val p = new Promoter(spark, new VersionedCatalog(tmpDir("promo")),
      tmpDir("export"))
    p.init()
    val direct = new PpdbSpark(spark, new VersionedCatalog(tmpDir("ppdb")))
    direct.init()
    def last[A](run: ChunkData => Unit, read: String => DataFrame) = {
      chunks.init.foreach(run)
      try { run(chunks.last); Right(read) }
      catch { case e: IllegalStateException => Left(e.getMessage) }
    }
    Seq(
      "Promoter" -> last(c => {
        p.exportChunk(c); p.stageChunks(Seq(c.chunkId))
        assert(p.promote() == Seq(c.chunkId)); ()
      }, t => p.catalog.read(spark, s"internal.$t")),
      "PpdbSpark" -> last(direct.store, t => direct.catalog.read(spark, t)))
  }

  test("J6 passes an update whose key only the same batch stages") {
    import graft.schema.UpdateRecord._
    // chunk 2 adds object 9000 and carries source 200002 and forced
    // source (1003, visit 2, detector 3), which no earlier chunk has;
    // each gets an update in the same chunk
    val apdb = new TestApdb(spark, nObjects = 6, nChunks = 2, Map(2L -> Seq(
      2L -> UpdateNDiaSources(5000L, 1L, 9000L, 7),
      2L -> WithdrawDiaSource(5000L, 2L, 200002L, 60001.5),
      2L -> WithdrawDiaForcedSource(5000L, 3L, 1003L, 2L, 3L, 60002.5)))) {
      override def chunkData(id: Long): ChunkData = {
        val c = super.chunkData(id)
        if (id == 1L) c
        else c.copy(diaObjects = c.diaObjects.unionByName(
          c.diaObjects.where($"diaObjectId" === 1000L)
            .withColumn("diaObjectId", lit(9000L))))
      }
    }
    for ((backend, result) <- throughBoth(Seq(1L, 2L).map(apdb.chunkData))) {
      val read = result.fold(m => fail(s"$backend: $m"), identity)
      assert(read("DiaObject").where($"diaObjectId" === 9000L)
        .select("nDiaSources").as[Int].collect().toSeq == Seq(7), backend)
      assert(read("DiaSource").where($"diaSourceId" === 200002L)
        .select("timeWithdrawnMjdTai").as[Double].collect().toSeq ==
        Seq(60001.5), backend)
      assert(read("DiaForcedSource").where($"timeWithdrawnMjdTai".isNotNull)
        .select("diaObjectId", "visit", "detector").as[(Long, Long, Short)]
        .collect().toSeq == Seq((1003L, 2L, 3.toShort)), backend)
    }
  }

  test("J6 fails an update whose key lies inside a dir's zone-map range " +
      "but is absent from the dir: the found keys decide, not the range") {
    import graft.schema.UpdateRecord._
    // object 1003, its source (i = 3) and its forced source are left out
    // of every chunk, so chunk 1's dirs span their ids without holding
    // them
    class Gapped(updates: Map[Long, Seq[(Long, graft.schema.UpdateRecord)]])
        extends TestApdb(spark, nObjects = 6, nChunks = 2, updates) {
      override def chunkData(id: Long): ChunkData = {
        val c = super.chunkData(id)
        c.copy(diaObjects = c.diaObjects.where($"diaObjectId" =!= 1003L),
          diaSources = c.diaSources.where($"diaObjectId" =!= 1003L),
          diaForcedSources = c.diaForcedSources.where($"diaObjectId" =!= 1003L))
      }
    }
    val absent = Map(
      "DiaObject" -> UpdateNDiaSources(5000L, 1L, 1003L, 7),
      "DiaSource" -> WithdrawDiaSource(5000L, 2L, 100003L, 60001.5),
      "DiaForcedSource" ->
        WithdrawDiaForcedSource(5000L, 3L, 1003L, 1L, 3L, 60002.5))
    for (t <- PpdbSchema.dataTables) {
      val apdb = new Gapped(Map(2L -> Seq(2L -> absent(t))))
      for ((backend, result) <- throughBoth(Seq(1L, 2L).map(apdb.chunkData))) {
        val msg = result.left.getOrElse(
          fail(s"$backend let the $t update through"))
        assert(msg.contains(s"missing $t row"), s"$backend: $msg")
      }
    }
  }

  test("J6 and the patch find a DiaForcedSource row by its composite key " +
      "with a short detector") {
    import graft.schema.UpdateRecord._
    val apdb = new TestApdb(spark, nObjects = 6, nChunks = 2, Map(2L -> Seq(
      2L -> WithdrawDiaForcedSource(5000L, 1L, 1002L, 1L, 2L, 60003.5))))
    for ((backend, result) <- throughBoth(Seq(1L, 2L).map(apdb.chunkData))) {
      val read = result.fold(m => fail(s"$backend: $m"), identity)
      val withdrawn = read("DiaForcedSource")
        .where($"timeWithdrawnMjdTai".isNotNull)
        .select("diaObjectId", "visit", "detector", "timeWithdrawnMjdTai")
        .as[(Long, Long, Short, Double)].collect().toSeq
      assert(withdrawn == Seq((1002L, 1L, 2.toShort, 60003.5)), backend)
      assert(read("DiaForcedSource").count() == 12, backend)
    }
  }

  test("J6 on the driver equals the replayed J6 query on random batches") {
    import graft.catalog.TableDelta
    import graft.ops.PpdbOps
    import org.apache.spark.sql.Row
    val spec = PpdbOps.mergeSpecs("DiaForcedSource")
    val table = "internal.DiaForcedSource"
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      def key(objLo: Int, objN: Int) =
        (objLo + rnd.nextInt(objN).toLong, 1L + rnd.nextInt(3),
          rnd.nextInt(4).toShort)
      def rows(keys: Seq[(Long, Long, Short)]) =
        keys.distinct.toDF("diaObjectId", "visit", "detector")
          .withColumn("midpointMjdTai", $"visit" * 40.0 + 60000.0)
          .withColumn("timeWithdrawnMjdTai", lit(null).cast("double"))
      // three dirs with gapped, partly overlapping id ranges
      val cat = new VersionedCatalog(tmpDir("j6"))
      cat.commit(Map(table -> rows(Seq.fill(30)(key(1000, 40)))))
      Seq((1030, 40), (2000, 20)).zipWithIndex.foreach { case ((lo, n), i) =>
        cat.commitAll(Map(table -> TableDelta(
          appends = Seq(rows(Seq.fill(30)(key(lo, n))) -> s"c$i"))))
      }
      val stored = cat.read(spark, table)
      val existing = stored.select("diaObjectId", "visit", "detector")
        .as[(Long, Long, Short)].collect().toSeq
      val stagedKeys = Seq.fill(10)(key(1000, 1100))
      // update targets: stored, staged, absent inside and outside the
      // dirs' ranges; a third set an unmerged field, which J6 ignores
      val targets = Seq.fill(6)(existing(rnd.nextInt(existing.size))) ++
        stagedKeys.take(3) ++ Seq.fill(6)(key(1000, 1100)) ++
        Seq.fill(2)(key(5000, 10))
      val updates = targets.map { case (o, v, d) =>
        PpdbOps.UpdateKey("DiaForcedSource", Seq(o, v, d.toLong),
          if (rnd.nextInt(3) == 0) "flags" else "timeWithdrawnMjdTai")
      }
      val keys = PpdbOps.keySchema(spec, stored.schema)
      val staged = stagedKeys.map { case (o, v, d) => Row(o, v, d) }.toSet
      val patch = PpdbOps.patchKeys(spark, updates, spec, keys)
      val probed = cat.dirsTouching(spark, table, keys,
        staged.map(_ -> false).toMap ++ patch)
      val onDriver = PpdbOps.danglingKeys(patch, probed.found, staged)
        .map(r => (r.getLong(0), r.getLong(1), r.getShort(2))).toSet

      val expanded = updates.map(u =>
        (u.table, u.recordId, u.field, "60000.5", 1L, 1L, 1L)).toDF(
        PpdbSchema.expandedUpdates.fieldNames.toSeq: _*)
      val patchDf = PpdbOps.buildPatch(expanded, spec)
      val stagedDf = rows(stagedKeys).select(stored.columns.map(col).toSeq: _*)
      def replay(target: org.apache.spark.sql.DataFrame) =
        J6Oracle.danglingUpdates(target.unionByName(stagedDf), patchDf, spec)
          .as[(Long, Long, Long)].collect()
          .map { case (o, v, d) => (o, v, d.toShort) }.toSet
      // the replay over the whole table and over the probed dirs only
      // (the scoped target the services merge into) agree with the driver
      assert(onDriver == replay(stored), s"seed $seed")
      val scoped =
        if (probed.dirs.isEmpty) stored.limit(0)
        else cat.readDirs(spark, probed.dirs, stored.columns.toSeq)
      assert(onDriver == replay(scoped), s"seed $seed")
      assert(onDriver.nonEmpty, s"seed $seed: no dangling key drawn")
    }
  }

  /** The start times of the Spark jobs `body` runs, and the Metrics
    * samples it records.
    */
  private def observed(body: => Unit): (Seq[Long], Seq[Metrics.Sample]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobTimes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobTimes.add(e.time); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val samplesBefore = Metrics.snapshot().size
    sc.addSparkListener(l)
    try body
    finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    (jobTimes.toArray.toSeq.map(_.asInstanceOf[Long]),
      Metrics.snapshot().drop(samplesBefore))
  }

  // also the steady-state one-chunk PpdbSpark.store, which runs the
  // same scoped merge
  test("a steady-state promote stays under its job ceiling and runs no " +
      "job inside the J6 check") {
    import graft.schema.UpdateRecord._
    // chunks 1 and 2 leave dirs in every table; chunk 3 re-observes the
    // objects and updates earlier rows of all three tables
    val apdb = new TestApdb(spark, nObjects = 6, nChunks = 3, Map(3L -> Seq(
      3L -> UpdateNDiaSources(5000L, 1L, 1001L, 9),
      3L -> WithdrawDiaSource(5000L, 2L, 100002L, 60001.5),
      3L -> WithdrawDiaForcedSource(5000L, 3L, 1002L, 2L, 2L, 60002.5))))
    val p = new Promoter(spark, new VersionedCatalog(tmpDir("promo")),
      tmpDir("export"))
    p.init()
    Seq(1L, 2L, 3L).foreach { id =>
      p.exportChunk(apdb.chunkData(id)); p.stageChunks(Seq(id))
      if (id < 3L) assert(p.promote() == Seq(id))
    }
    val direct = new PpdbSpark(spark, new VersionedCatalog(tmpDir("ppdb")))
    direct.init()
    Seq(1L, 2L).foreach(id => direct.store(apdb.chunkData(id)))
    val chunk3 = apdb.chunkData(3L)
    // the counts these shapes run with the scope held on the driver; the
    // bounds aggregates, distinct key shuffles and J6 replay queries it
    // replaced would push them far above
    for ((backend, ceiling, run) <- Seq(
        ("Promoter", JobCeiling, () => assert(p.promote() == Seq(3L))),
        ("PpdbSpark", StoreJobCeiling, () => direct.store(chunk3)))) {
      val (jobs, samples) = observed(run())
      assert(jobs.size <= ceiling, s"$backend: ${jobs.size} jobs")
      val validations = samples.filter(_.metric == "promote_validate_time")
      assert(validations.map(_.tags("table")).sorted ==
        Seq("DiaForcedSource", "DiaObject", "DiaSource"), backend)
      validations.foreach { v =>
        val endMs = v.startMs + v.seconds * 1000
        val inside = jobs.filter(t => t >= v.startMs && t < endMs)
        assert(inside.isEmpty, s"$backend: jobs started inside $v: $inside")
      }
    }
  }

  test("promote's concurrent jobs all carry the caller's Spark local " +
      "properties (job group)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (p, apdb) = fresh()
    // a first promote leaves dirs behind, so the second one probes,
    // reads bases and rewrites on its worker threads
    p.exportChunk(apdb.chunkData(1))
    p.stageChunks(Seq(1L))
    p.promote()
    p.exportChunk(apdb.chunkData(2))
    p.stageChunks(Seq(2L))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties)
          .flatMap(ps => Option(ps.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup("promote-under-test", "local-property inheritance")
    try assert(p.promote() == Seq(2L))
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
    val seen = groups.toArray.toSeq
    assert(seen.size >= 10, s"too few jobs observed: $seen")
    assert(seen.forall(_ == "promote-under-test"), seen)
  }

  test("tampered chunk file fails manifest validation at stage time") {
    val (p, apdb) = fresh()
    val dir = p.exportChunk(apdb.chunkData(1))
    val parquet = Files.list(Paths.get(dir, "DiaObject")).iterator()
    var f: java.nio.file.Path = null
    while (parquet.hasNext) {
      val c = parquet.next()
      if (c.toString.endsWith(".parquet")) f = c
    }
    Files.write(f, "corrupt".getBytes)
    intercept[IllegalStateException] { p.stageChunks(Seq(1L)) }
  }

  test("empty chunk is skipped (T8) and never blocks promotion") {
    val (p, apdb) = fresh()
    val empty = apdb.chunkData(1).copy(
      diaObjects = apdb.chunkData(1).diaObjects.limit(0),
      diaSources = apdb.chunkData(1).diaSources.limit(0),
      diaForcedSources = apdb.chunkData(1).diaForcedSources.limit(0),
      updates = Nil)
    p.exportChunk(empty)
    val st = p.`catalog`.read(spark, "PpdbReplicaChunk")
      .select("status").collect().map(_.getString(0)).toSeq
    assert(st == Seq(PpdbSchema.ChunkStatus.Skipped))
    // chunk 2 stages and promotes straight past the skipped chunk 1
    p.exportChunk(apdb.chunkData(2))
    p.stageChunks(Seq(2L))
    assert(p.promote() == Seq(2L))
  }

  test("update-mode re-export re-promotes as a MERGE: rows land exactly " +
      "once with the regenerated values") {
    val cat = new VersionedCatalog(tmpDir("promo"))
    val p = new Promoter(spark, cat, tmpDir("export"))
    p.init()
    val apdb = new TestApdb(spark, nObjects = 4, nChunks = 2)
    val target = new PpdbStaged(spark, p)

    // first cycle: both chunks through the full staged pipeline
    Seq(1L, 2L).foreach(id => target.store(apdb.chunkData(id)))
    p.stageChunks(Seq(1L, 2L))
    assert(p.promote() == Seq(1L, 2L))
    assert(cat.read(spark, "internal.DiaSource").count() == 8)

    // the APDB regenerates chunk 1: same primary keys, moved ra, new
    // unique_id — the operator re-replicates it with --update
    val cd = apdb.chunkData(1)
    val regen = cd.copy(uniqueId = "uuid-1b",
      diaSources = cd.diaSources.withColumn("ra", lit(46.5)))
    target.store(regen, update = true)
    assert(cat.read(spark, "PpdbReplicaChunk")
      .where($"apdb_replica_chunk" === 1L).select("status").head()
      .getString(0) == PpdbSchema.ChunkStatus.Exported)
    p.stageChunks(Seq(1L))
    assert(p.promote() == Seq(1L))

    // MERGE, not append: every PK exactly once, chunk-1 rows carry the
    // regenerated value, chunk-2 rows untouched
    val src = cat.read(spark, "internal.DiaSource")
      .select("diaSourceId", "visit", "ra").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(src.length == 8, s"got ${src.length} rows")
    assert(src.map(_._1).distinct.length == 8, "duplicate diaSourceId")
    assert(src.filter(_._2 == 1L).forall(_._3 == 46.5),
      "re-promoted chunk-1 rows must carry the regenerated ra")
    assert(src.filter(_._2 == 2L).forall(_._3 == 45.0))
    // DiaObject versions replaced in place and re-closed by the fill
    val obj = cat.read(spark, "internal.DiaObject")
      .select("diaObjectId", "validityStartMjdTai", "validityEndMjdTai")
      .collect()
    assert(obj.length == 8, "2 versions x 4 objects, no duplicates")
    assert(cat.read(spark, "public.DiaObjectLast").count() == 4)
    // bookkeeping: one row for chunk 1, promoted, regenerated unique id
    val row = cat.read(spark, "PpdbReplicaChunk")
      .where($"apdb_replica_chunk" === 1L)
      .select("status", "unique_id").collect()
    assert(row.length == 1)
    assert(row.head.getString(0) == PpdbSchema.ChunkStatus.Promoted)
    assert(row.head.getString(1) == "uuid-1b")

    // re-export while STAGED (never promoted): staging must replace the
    // stale staged rows, not coexist with them
    val cd2 = apdb.chunkData(2)
    target.store(cd2.copy(uniqueId = "uuid-2b",
      diaSources = cd2.diaSources.withColumn("ra", lit(47.5))),
      update = true)
    p.stageChunks(Seq(2L))
    target.store(cd2.copy(uniqueId = "uuid-2c",
      diaSources = cd2.diaSources.withColumn("ra", lit(48.5))),
      update = true)
    p.stageChunks(Seq(2L))
    assert(cat.read(spark, "staging.DiaSource").count() == 4,
      "re-stage replaces the chunk's previous staged rows")
    assert(p.promote() == Seq(2L))
    val src2 = cat.read(spark, "internal.DiaSource")
      .select("visit", "ra").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(src2.length == 8)
    assert(src2.filter(_._1 == 2L).forall(_._2 == 48.5),
      "latest regeneration wins")
  }

  test("update records flow through export->stage->promote with LWW merge") {
    import graft.schema.UpdateRecord._
    import scala.jdk.CollectionConverters._
    val cat = new VersionedCatalog(tmpDir("promo"))
    val p = new Promoter(spark, cat, tmpDir("export"))
    p.init()
    val t0 = 1640995200000000000L
    val updates = Map(2L -> Seq(
      // two conflicting reassigns of a chunk-1 source; later time wins
      (2L, ReassignDiaSourceToDiaObject(t0, 0, 100000L, 1001L): graft.schema.UpdateRecord),
      (2L, ReassignDiaSourceToDiaObject(t0 + 1000000000L, 1, 100000L, 1003L): graft.schema.UpdateRecord)))
    val apdb = new TestApdb(spark, 4, 2, updates)

    def fileState(dir: String): Map[String, (Long, java.nio.file.attribute.FileTime)] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f)))
        .toMap

    // promote chunk 1 alone so its fact rows land in their own batch dir
    p.exportChunk(apdb.chunkData(1))
    p.stageChunks(Seq(1L))
    assert(p.promote() == Seq(1L))
    val srcDir1 = cat.current._2("internal.DiaSource")
      .find(_.endsWith("_promo1_1")).get
    val fsrcDir1 = cat.current._2("internal.DiaForcedSource")
      .find(_.endsWith("_promo1_1")).get
    val fsrcBefore = fileState(fsrcDir1)

    // chunk 2 carries the updates that patch a chunk-1 DiaSource row
    p.exportChunk(apdb.chunkData(2))
    p.stageChunks(Seq(2L))
    assert(p.promote() == Seq(2L))
    val src = cat.read(spark, "internal.DiaSource")
      .where($"diaSourceId" === 100000L).collect()
    assert(src.length == 1 && src.head.getLong(3) == 1003L,
      "latest reassign applied through the staged pipeline")

    // partition-scoped patch: only the dir holding the patched key was
    // dereferenced; the untouched DiaForcedSource chunk-1 dir survives in
    // the pointer with every file byte-identical (size + mtime)
    assert(!cat.current._2("internal.DiaSource").contains(srcDir1),
      "patched dir dereferenced")
    assert(cat.current._2("internal.DiaForcedSource").contains(fsrcDir1),
      "unpatched fact dir carried over")
    assert(fileState(fsrcDir1) == fsrcBefore,
      "unpatched fact dir untouched on disk")
    // no patched-key row lost or duplicated across the scoped rewrite
    assert(cat.read(spark, "internal.DiaSource").count() ==
      apdb.chunkData(1).diaSources.count() + apdb.chunkData(2).diaSources.count())
  }

  test("disjoint-object promote leaves prior object/snapshot dirs untouched") {
    import scala.jdk.CollectionConverters._
    val cat = new VersionedCatalog(tmpDir("promo"))
    val p = new Promoter(spark, cat, tmpDir("export"))
    p.init()
    // chunks carry DISJOINT object populations (ids offset per chunk)
    val apdb = new TestApdb(spark, nObjects = 4, nChunks = 2) {
      override def chunkData(id: Long): graft.replicate.ChunkData = {
        val base = super.chunkData(id)
        val off = id * 10000L
        base.copy(
          diaObjects = base.diaObjects
            .withColumn("diaObjectId", col("diaObjectId") + off),
          diaSources = base.diaSources
            .withColumn("diaObjectId", col("diaObjectId") + off),
          diaForcedSources = base.diaForcedSources
            .withColumn("diaObjectId", col("diaObjectId") + off))
      }
    }
    def fileState(dirs: Seq[String]) = dirs.flatMap { d =>
      Files.walk(Paths.get(d)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => f.toString ->
          ((Files.size(f), Files.getLastModifiedTime(f))))
    }.toMap

    p.exportChunk(apdb.chunkData(1))
    p.stageChunks(Seq(1L))
    assert(p.promote() == Seq(1L))
    val objDirs1 = cat.current._2("internal.DiaObject")
      .filter(_.contains("_promo"))
    val snapDirs1 = cat.current._2("public.DiaObjectLast")
    val before = fileState(objDirs1 ++ snapDirs1)

    p.exportChunk(apdb.chunkData(2))
    p.stageChunks(Seq(2L))
    assert(p.promote() == Seq(2L))
    // chunk 2's objects are disjoint, so chunk 1's object and snapshot
    // dirs stay in the pointer with every file byte-identical
    assert(objDirs1.forall(cat.current._2("internal.DiaObject").contains),
      "prior DiaObject dir carried over")
    assert(snapDirs1.forall(cat.current._2("public.DiaObjectLast").contains),
      "prior snapshot dir carried over")
    assert(fileState(objDirs1 ++ snapDirs1) == before, "bytes untouched")
    // snapshot content: one open row per object across both populations
    assert(cat.read(spark, "public.DiaObjectLast").count() == 8)
  }

  test("subset promote over a shared dir does not duplicate snapshot rows") {
    val cat = new VersionedCatalog(tmpDir("promo"))
    val p = new Promoter(spark, cat, tmpDir("export"))
    p.init()
    // chunk 2 re-observes only HALF the objects of chunk 1, so its scope
    // shares an internal/snapshot dir with out-of-scope objects
    val apdb = new TestApdb(spark, nObjects = 4, nChunks = 2) {
      override def chunkData(id: Long): graft.replicate.ChunkData = {
        val base = super.chunkData(id)
        if (id == 1L) base
        else base.copy(
          diaObjects = base.diaObjects.where($"diaObjectId" < 1002L),
          diaSources = base.diaSources.where($"diaObjectId" < 1002L),
          diaForcedSources =
            base.diaForcedSources.where($"diaObjectId" < 1002L))
      }
    }
    p.exportChunk(apdb.chunkData(1)); p.stageChunks(Seq(1L))
    assert(p.promote() == Seq(1L))
    p.exportChunk(apdb.chunkData(2)); p.stageChunks(Seq(2L))
    assert(p.promote() == Seq(2L))

    val snap = cat.read(spark, "public.DiaObjectLast")
    assert(snap.count() == 4, "one open row per object, no duplicates")
    assert(snap.select("diaObjectId").distinct().count() == 4)
    // re-observed objects carry the newer version (chunk 2's nDiaSources)
    val byId = snap.select("diaObjectId", "nDiaSources").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byId(1000L) == 2 && byId(1001L) == 2)
    assert(byId(1002L) == 1 && byId(1003L) == 1)
  }

  test("promote applies only the contiguous staged prefix") {
    val (p, apdb) = fresh()
    Seq(1L, 2L, 3L).foreach(id => p.exportChunk(apdb.chunkData(id)))
    p.stageChunks(Seq(1L, 3L)) // 2 stays exported -> barrier after 1
    assert(p.promote() == Seq(1L))

    val internal = p.`catalog`.read(spark, "internal.DiaObject")
    assert(internal.count() == 6)
    // staged rows for promoted chunk removed, chunk 3 still staged
    val remaining = p.`catalog`.read(spark, "staging.DiaObject")
      .select("apdb_replica_chunk").distinct().collect().map(_.getLong(0)).toSet
    assert(remaining == Set(3L))

    // stage chunk 2 -> now 2 and 3 promote together, validity chains close
    p.stageChunks(Seq(2L))
    assert(p.promote() == Seq(2L, 3L))
    val objects = p.`catalog`.read(spark, "internal.DiaObject")
    assert(objects.count() == 18)
    val opens = objects.where($"validityEndMjdTai".isNull).count()
    assert(opens == 6, "one open interval per object")

    // public snapshot is the open rows, cell-clustered
    val snap = p.`catalog`.read(spark, "public.DiaObjectLast")
    assert(snap.count() == 6)
    assert(snap.columns.contains("cellId"))
    assert(!snap.columns.contains("validityEndMjdTai"))
    // nothing left to promote
    assert(p.promote().isEmpty)
  }

  test("idempotent re-promote: running promote again over the same " +
      "contiguous prefix is a metadata no-op — _CURRENT unchanged, " +
      "contents bit-identical (ref chunk_promoter.py:117-177)") {
    val (p, apdb) = fresh()
    Seq(1L, 2L).foreach(id => p.exportChunk(apdb.chunkData(id)))
    p.stageChunks(Seq(1L, 2L))
    assert(p.promote() == Seq(1L, 2L))
    val cat = p.`catalog`
    val commitBefore = cat.currentCommit
    def fingerprint(): Map[String, (Long, Long)] =
      Seq("internal.DiaObject", "internal.DiaSource",
        "public.DiaObjectLast", "PpdbReplicaChunk").map { t =>
        val df = cat.read(spark, t)
        val h = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
          .agg(bit_xor($"h")).head()
        t -> ((df.count(), if (h.isNullAt(0)) 0L else h.getLong(0)))
      }.toMap
    val before = fingerprint()
    // second promote over the same prefix: the status machine yields no
    // promotable chunks, so NOTHING is committed — not even an empty one
    assert(p.promote().isEmpty)
    assert(cat.currentCommit == commitBefore,
      "re-promote must not publish a commit")
    assert(fingerprint() == before)
    // restart-safety: a brand-new Promoter over the same catalog (crash
    // and re-run of the service) is the same no-op
    val p2 = new Promoter(spark, cat, tmpDir("export2"))
    assert(p2.promote().isEmpty)
    assert(cat.currentCommit == commitBefore)
    assert(fingerprint() == before)
  }
}
