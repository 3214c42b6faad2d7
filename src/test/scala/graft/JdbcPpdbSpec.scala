package graft

import org.apache.spark.sql.functions._

import graft.replicate._
import graft.schema.{PpdbSchema, VersionTuple}
import graft.schema.UpdateRecord._

/** The live-RDBMS (JDBC/Derby) backend behind the same [[ReplicaTarget]]
  * contract the Parquet backends satisfy — the reference's primary SQL
  * backend (P/sql/_ppdb_sql.py:74-557). Each test drives the UNCHANGED
  * Replicator over an embedded in-memory Derby store.
  */
class JdbcPpdbSpec extends SparkSpec {

  private var n = 0
  private def freshJdbc(): PpdbJdbc = {
    n += 1
    PpdbJdbc.open(spark, PpdbJdbc.derbyMemUrl(s"jdbcspec_${System.nanoTime()}_$n"))
  }

  val farFuture: Long = 100L * 24 * 3600 * 1000000L

  test("end-to-end replicate: validity chains, counts, exactly-once") {
    val apdb = new TestApdb(spark, nObjects = 10, nChunks = 3)
    val ppdb = freshJdbc()
    val rep = new Replicator(spark, apdb, ppdb)
    assert(rep.runOnce(nowUs = farFuture) == Seq(1L, 2L, 3L))

    val objects = ppdb.read("DiaObject")
    assert(objects.count() == 30, "3 versions x 10 objects")
    val byObj = objects.collect().groupBy(_.getLong(0))
    byObj.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getDouble(1))
      assert(sorted.length == 3)
      // first two closed by successor start, last open
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(2) == b.getDouble(1))
      }
      assert(sorted.last.isNullAt(2))
    }
    assert(ppdb.read("DiaSource").count() == 30)
    assert(ppdb.read("DiaForcedSource").count() == 30)

    // exactly-once: a second pass copies nothing, stores nothing
    assert(rep.runOnce(nowUs = farFuture).isEmpty)
    assert(ppdb.read("DiaObject").count() == 30)
    assert(ppdb.replicaChunks().count() == 3)
  }

  test("update records: LWW patch applied transactionally") {
    val withdrawTime = 60099.5
    val updates = Map(3L -> Seq[(Long, graft.schema.UpdateRecord)](
      3L -> WithdrawDiaSource(10L, 0L, 100000L, withdrawTime),
      3L -> ReassignDiaSourceToSSObject(11L, 1L, 100001L, 777L, 60010.0),
      // two updates to the same field: newest (time 13) must win
      3L -> UpdateNDiaSources(12L, 2L, 1000L, 5),
      3L -> UpdateNDiaSources(13L, 3L, 1000L, 9),
      3L -> WithdrawDiaForcedSource(14L, 4L, 1001L, 1L, 1L, withdrawTime)))
    val apdb = new TestApdb(spark, nObjects = 10, nChunks = 3, updates)
    val ppdb = freshJdbc()
    new Replicator(spark, apdb, ppdb).runOnce(nowUs = farFuture)

    val src = ppdb.read("DiaSource")
    assert(src.where(col("diaSourceId") === 100000L)
      .select("timeWithdrawnMjdTai").head.getDouble(0) == withdrawTime)
    val re = src.where(col("diaSourceId") === 100001L)
      .select("ssObjectId", "ssObjectReassocTimeMjdTai").head
    assert(re.getLong(0) == 777L && re.getDouble(1) == 60010.0)
    // LWW: every version row of object 1000 patched to the newest value
    assert(ppdb.read("DiaObject").where(col("diaObjectId") === 1000L)
      .select("nDiaSources").collect().forall(_.getInt(0) == 9))
    assert(ppdb.read("DiaForcedSource")
      .where(col("diaObjectId") === 1001L && col("visit") === 1L &&
        col("detector") === 1)
      .select("timeWithdrawnMjdTai").head.getDouble(0) == withdrawTime)
  }

  test("dangling update rolls back the WHOLE chunk (T7 atomicity)") {
    val updates = Map(2L -> Seq[(Long, graft.schema.UpdateRecord)](
      2L -> WithdrawDiaSource(10L, 0L, 999999999L, 60050.0))) // no such row
    val apdb = new TestApdb(spark, nObjects = 5, nChunks = 2, updates)
    val ppdb = freshJdbc()
    val rep = new Replicator(spark, apdb, ppdb)
    val err = intercept[Exception] { rep.runOnce(nowUs = farFuture) }
    assert(err.getMessage.contains("missing DiaSource row") ||
      Option(err.getCause).exists(_.getMessage.contains("missing DiaSource row")))
    // chunk 1 landed; chunk 2 left NOTHING behind — not even its inserts
    assert(ppdb.read("DiaObject").count() == 5)
    assert(ppdb.read("DiaSource").count() == 5)
    assert(ppdb.replicaChunks().select("apdb_replica_chunk")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // repairing the source lets the SAME chunk id replay cleanly
    val fixed = new TestApdb(spark, nObjects = 5, nChunks = 2)
    assert(new Replicator(spark, fixed, ppdb).runOnce(nowUs = farFuture) ==
      Seq(2L))
    assert(ppdb.read("DiaObject").count() == 10)
  }

  test("upsert mode replaces same-PK rows and keeps one bookkeeping row") {
    val apdb = new TestApdb(spark, nObjects = 4, nChunks = 1)
    val ppdb = freshJdbc()
    new Replicator(spark, apdb, ppdb).runOnce(nowUs = farFuture)
    assert(ppdb.read("DiaSource").count() == 4)

    // re-store chunk 1 in update mode: same PKs must replace, not duplicate
    ppdb.store(apdb.chunkData(1L), update = true)
    assert(ppdb.read("DiaObject").count() == 4)
    assert(ppdb.read("DiaSource").count() == 4)
    assert(ppdb.replicaChunks().count() == 1)

    // without update, a known chunk is a no-op
    ppdb.store(apdb.chunkData(1L))
    assert(ppdb.read("DiaSource").count() == 4)
  }

  test("replicaChunks minId bound is pushed into the database scan") {
    val apdb = new TestApdb(spark, nObjects = 2, nChunks = 3)
    val ppdb = freshJdbc()
    new Replicator(spark, apdb, ppdb).runOnce(nowUs = farFuture)
    val df = ppdb.replicaChunks(minId = Some(2L))
    assert(df.select("apdb_replica_chunk").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(apdb_replica_chunk,2)"),
      s"minId must reach the JDBC scan as a pushed filter:\n$plan")
  }

  test("partitioned parallel read returns the same rows") {
    val apdb = new TestApdb(spark, nObjects = 8, nChunks = 2)
    val ppdb = freshJdbc()
    new Replicator(spark, apdb, ppdb).runOnce(nowUs = farFuture)
    val par = ppdb.read("DiaSource", "diaSourceId", 0L, 10L * 100000L, 4)
    assert(par.rdd.getNumPartitions == 4)
    assert(par.count() == 16)
    assert(par.select("diaSourceId").collect().map(_.getLong(0)).sorted.toSeq ==
      ppdb.read("DiaSource").select("diaSourceId").collect()
        .map(_.getLong(0)).sorted.toSeq)
  }

  test("bulk backfill via distributed write.jdbc") {
    val ppdb = freshJdbc()
    val apdb = new TestApdb(spark, nObjects = 20, nChunks = 1)
    ppdb.bulkLoad("DiaSource", apdb.chunkData(1L).diaSources, batchSize = 7)
    assert(ppdb.read("DiaSource").count() == 20)
  }

  test("reopen version-checks; incompatible stored version refuses") {
    val url = PpdbJdbc.derbyMemUrl(s"jdbcspec_ver_${System.nanoTime()}")
    PpdbJdbc.open(spark, url)
    // reopen of a compatible store succeeds
    PpdbJdbc.open(spark, url)
    // poison the stored schema version to a newer major
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """UPDATE "metadata" SET "value" = '99.0.0' WHERE "name" = 'version:schema'""")
      st.close()
    } finally conn.close()
    val err = intercept[IllegalStateException] { PpdbJdbc.open(spark, url) }
    assert(err.getMessage.contains("cannot read stored 99.0.0"))
  }

  // Seeded workload, three backends, exact table equality — the
  // strongest evidence the per-chunk SQL transaction and the staged
  // promote chain reproduce the direct backend's validity-fill +
  // LWW-merge semantics, including multi-version-per-chunk objects and
  // cross-chunk update records. Several seeds cover different workload
  // shapes (which objects skip chunks, which records collide).
  for (seed <- Seq(0xC0FFEEL, 0xBEEF01L, 0xFACE42L))
    test("differential: JDBC and Parquet backends converge to identical " +
        s"tables under a randomized chunk/update workload (seed 0x${seed.toHexString})") {
      differentialRun(seed)
    }

  private def differentialRun(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val nObjects = 12
    val nChunks = 5
    val baseMjd = 60000.0
    val chunkUs = 600L * 1000000L
    // pre-generate the whole workload so both replications see the same
    // data (ApdbSource.chunkData may be called once per backend)
    val emittedSources = scala.collection.mutable.ArrayBuffer[Long]()
    val emittedForced = scala.collection.mutable.ArrayBuffer[(Long, Long, Short)]()
    val emittedObjects = scala.collection.mutable.LinkedHashSet[Long]()
    val chunks: Map[Long, ChunkData] = (1L to nChunks.toLong).map { c =>
      val mjd = baseMjd + c * 0.007
      val objRows = (0 until nObjects).flatMap { i =>
        if (rnd.nextDouble() < 0.8) {
          emittedObjects += 1000L + i
          val two = rnd.nextDouble() < 0.2
          val base = org.apache.spark.sql.Row(1000L + i, mjd, null,
            45.0 + i * 0.01, -30.0, null, c.toInt, baseMjd)
          if (two)
            Seq(base, org.apache.spark.sql.Row(1000L + i, mjd + 0.001, null,
              45.0 + i * 0.01, -30.0, null, c.toInt * 10, baseMjd))
          else Seq(base)
        } else Nil
      }
      val srcRows = (0 until nObjects).filter(_ => rnd.nextDouble() < 0.7)
        .map { i =>
          val sid = c * 100000L + i
          emittedSources += sid
          org.apache.spark.sql.Row(sid, c, (i % 4).toShort, 1000L + i, null,
            null, 45.0, -30.0, null, mjd, null, mjd, null)
        }
      val fsrcRows = (0 until nObjects).filter(_ => rnd.nextDouble() < 0.7)
        .map { i =>
          emittedForced += ((1000L + i, c, (i % 4).toShort))
          org.apache.spark.sql.Row(1000L + i, 45.0, -30.0, c,
            (i % 4).toShort, mjd, 0L, mjd, null)
        }
      // updates target rows that exist by now (earlier chunks or this one)
      val updates = scala.collection.mutable.ArrayBuffer[(Long, graft.schema.UpdateRecord)]()
      var ord = 0L
      if (emittedSources.nonEmpty) (0 until rnd.nextInt(4)).foreach { _ =>
        val sid = emittedSources(rnd.nextInt(emittedSources.length))
        val rec: graft.schema.UpdateRecord = rnd.nextInt(3) match {
          case 0 => WithdrawDiaSource(c * 100 + ord, ord, sid, mjd + 0.5)
          case 1 => ReassignDiaSourceToSSObject(c * 100 + ord, ord, sid,
            7000L + rnd.nextInt(10), mjd + 0.25)
          case _ => ReassignDiaSourceToDiaObject(c * 100 + ord, ord, sid,
            1000L + rnd.nextInt(nObjects))
        }
        updates += (c -> rec); ord += 1
      }
      if (emittedForced.nonEmpty && rnd.nextBoolean()) {
        val (oid, v, det) = emittedForced(rnd.nextInt(emittedForced.length))
        updates += (c -> WithdrawDiaForcedSource(c * 100 + ord, ord, oid, v,
          det, mjd + 0.75))
        ord += 1
      }
      if (emittedObjects.nonEmpty) (0 until rnd.nextInt(3)).foreach { _ =>
        val oids = emittedObjects.toIndexedSeq
        updates += (c -> UpdateNDiaSources(c * 100 + ord, ord,
          oids(rnd.nextInt(oids.length)), rnd.nextInt(50)))
        ord += 1
      }
      if (emittedObjects.nonEmpty && rnd.nextBoolean()) {
        // the sixth record type, in both its nDiaSources regimes (None
        // exercises the requireValueNonNull keep-old path)
        val oids = emittedObjects.toIndexedSeq
        updates += (c -> CloseDiaObjectValidity(c * 100 + ord, ord,
          oids(rnd.nextInt(oids.length)), mjd + 0.9,
          if (rnd.nextBoolean()) Some(rnd.nextInt(99)) else None))
        ord += 1
      }
      c -> ChunkData(c, s"uuid-$c", c * chunkUs,
        spark.createDataFrame(java.util.List.of(objRows: _*), PpdbSchema.diaObject),
        spark.createDataFrame(java.util.List.of(srcRows: _*), PpdbSchema.diaSource),
        spark.createDataFrame(java.util.List.of(fsrcRows: _*), PpdbSchema.diaForcedSource),
        updates.toSeq)
    }.toMap

    class FixedApdb extends ApdbSource {
      def listChunks() = spark.createDataFrame(
        java.util.List.of((1L to nChunks.toLong).map(c =>
          org.apache.spark.sql.Row(c, c * chunkUs, s"uuid-$c")): _*),
        new org.apache.spark.sql.types.StructType()
          .add("apdb_replica_chunk", "long", nullable = false)
          .add("last_update_time_us", "long", nullable = false)
          .add("unique_id", "string", nullable = false))
      def chunkData(id: Long) = chunks(id)
    }

    val parquet = new PpdbSpark(spark,
      new graft.catalog.VersionedCatalog(tmpDir("diff-parquet")))
    parquet.init()
    val jdbc = freshJdbc()
    // third backend: the staged export→stage→promote chain
    val promoCat = new graft.catalog.VersionedCatalog(tmpDir("diff-staged"))
    val promoter = new Promoter(spark, promoCat, tmpDir("diff-export"))
    promoter.init()
    new Replicator(spark, new FixedApdb, parquet).runOnce(nowUs = farFuture)
    new Replicator(spark, new FixedApdb, jdbc).runOnce(nowUs = farFuture)
    // per-chunk promotion, matching the incremental backends' update
    // interleaving. (Promoting a MULTI-chunk batch is a different,
    // equally valid semantics: a chunk's updates then also patch
    // later-chunk rows loaded in the same batch — record keys like
    // diaObjectId span versions — so batch-size-1 is the apples-to-
    // apples comparison.)
    val stagedRep = new Replicator(spark, new FixedApdb,
      new PpdbStaged(spark, promoter))
    (1L to nChunks.toLong).foreach { c =>
      assert(stagedRep.runOnce(nowUs = farFuture, limit = Some(1)) == Seq(c))
      promoter.stageChunks(Seq(c))
      assert(promoter.promote() == Seq(c))
    }

    def canon(df: org.apache.spark.sql.DataFrame,
        schema: org.apache.spark.sql.types.StructType): Seq[String] =
      df.select(schema.fields.map(f =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType)).toSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    def assertTablesEqual(phase: String, staged: Boolean): Unit =
      for ((t, schema) <- Seq(
          "DiaObject" -> PpdbSchema.diaObject,
          "DiaSource" -> PpdbSchema.diaSource,
          "DiaForcedSource" -> PpdbSchema.diaForcedSource)) {
        val p = canon(parquet.catalog.read(spark, t), schema)
        val j = canon(jdbc.read(t), schema)
        assert(p.nonEmpty, s"$t: workload must produce rows")
        assert(p == j, s"$t diverged between backends ($phase):\n  parquet=${
          p.diff(j).take(3)}\n  jdbc=${j.diff(p).take(3)}")
        if (staged) {
          val s = canon(promoCat.read(spark, s"internal.$t"), schema)
          assert(p == s, s"$t diverged parquet vs staged ($phase):\n" +
            s"  parquet=${p.diff(s).take(3)}\n  staged=${s.diff(p).take(3)}")
        }
      }
    assertTablesEqual("initial replication", staged = true)

    // upsert parity: the source regenerates chunk 3 (doubled counters,
    // new unique_id) — update-mode re-store must leave all three backends
    // identical again (same-PK replacement + re-applied patches); the
    // staged backend re-exports, re-stages and re-promotes the chunk
    val c3 = chunks(3L)
    val mod = ChunkData(3L, "uuid-3b", c3.lastUpdateTimeUs,
      c3.diaObjects.withColumn("nDiaSources",
        (org.apache.spark.sql.functions.col("nDiaSources") * 2).cast("int")),
      c3.diaSources, c3.diaForcedSources, c3.updates)
    parquet.store(mod, update = true)
    jdbc.store(mod, update = true)
    new PpdbStaged(spark, promoter).store(mod, update = true)
    promoter.stageChunks(Seq(3L))
    assert(promoter.promote() == Seq(3L))
    assertTablesEqual("after upsert re-store", staged = true)
  }

  test("duplicate-chunk race: concurrent writers resolve to exactly one copy") {
    val apdb = new TestApdb(spark, nObjects = 6, nChunks = 1)
    val ppdb = freshJdbc()
    val data = apdb.chunkData(1L)
    // both threads believe the chunk is unknown (the frontier said so
    // before either committed) — the bookkeeping PK must arbitrate
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        try ppdb.store(data, update = false, known = false)
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"race must resolve silently, got ${errs.peek()}")
    assert(ppdb.replicaChunks().count() == 1)
    assert(ppdb.read("DiaObject").count() == 6, "exactly one copy of the rows")
    assert(ppdb.read("DiaSource").count() == 6)
  }

  test("metadata surfaces versions and the store url") {
    val ppdb = freshJdbc()
    val m = ppdb.metadata
    assert(m("version:schema") == PpdbSchema.schemaVersion.render)
    assert(m("version:ppdb-spark") == VersionTuple.Current.render)
    assert(m("jdbc_url").startsWith("jdbc:derby:memory:"))
  }
}
