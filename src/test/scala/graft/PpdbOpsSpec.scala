package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.PpdbOps
import graft.schema.UpdateRecord
import graft.schema.UpdateRecord._

/** Golden-scenario tests for the promotion operators, mirroring the
  * reference's SQL-logic tests (tests/test_chunk_promoter.py:369-583 —
  * no-op / chain fill / gap preservation / multi-object / scoping — and
  * tests/test_updates_merger.py / test_expanded_updates_table.py).
  */
case class TestObj(diaObjectId: Long, validityStartMjdTai: Double,
    validityEndMjdTai: Option[Double], ra: Double, dec: Double,
    parallax: Option[Float], nDiaSources: Int,
    firstDiaSourceMjdTai: Option[Double])

object TestObj {
  def o(id: Long, start: Double, end: Option[Double], n: Int = 1): TestObj =
    TestObj(id, start, end, 45.0, -30.0, None, n, Some(start))
}

class PpdbOpsSpec extends SparkSpec {
  import spark.implicits._
  import TestObj.o

  private def fill(objs: Seq[TestObj], scope: Seq[Long]): Map[(Long, Double), Option[Double]] =
    PpdbOps.fillValidityEnd(objs.toDF(), objs.toDF().limit(0),
        scope.toDF("diaObjectId"))
      .collect().map { r =>
        (r.getLong(0), r.getDouble(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }.toMap

  test("validity fill: single open row is a no-op") {
    val m = fill(Seq(o(1, 100.0, None)), Seq(1))
    assert(m((1L, 100.0)).isEmpty)
  }

  test("validity fill: chain of open rows closes all but the last") {
    val m = fill(Seq(o(1, 100.0, None), o(1, 200.0, None), o(1, 300.0, None)), Seq(1))
    assert(m((1L, 100.0)).contains(200.0))
    assert(m((1L, 200.0)).contains(300.0))
    assert(m((1L, 300.0)).isEmpty)
  }

  test("validity fill: existing closed intervals (gaps) are preserved") {
    val m = fill(Seq(o(1, 100.0, Some(150.0)), o(1, 200.0, None),
      o(1, 300.0, None)), Seq(1))
    assert(m((1L, 100.0)).contains(150.0), "closed interval untouched")
    assert(m((1L, 200.0)).contains(300.0))
    assert(m((1L, 300.0)).isEmpty)
  }

  test("validity fill: objects are independent") {
    val m = fill(Seq(o(1, 100.0, None), o(1, 200.0, None),
      o(2, 150.0, None)), Seq(1, 2))
    assert(m((1L, 100.0)).contains(200.0))
    assert(m((1L, 200.0)).isEmpty)
    assert(m((2L, 150.0)).isEmpty)
  }

  test("validity fill: out-of-scope objects pass through untouched") {
    val m = fill(Seq(o(1, 100.0, None), o(1, 200.0, None),
      o(2, 100.0, None), o(2, 200.0, None)), Seq(1))
    assert(m((1L, 100.0)).contains(200.0))
    assert(m((2L, 100.0)).isEmpty, "object 2 not in staging scope")
  }

  test("validity fill: incoming rows are always in scope, base rows only " +
      "by their ids") {
    val base = Seq(o(1, 100.0, None), o(2, 100.0, None), o(2, 200.0, None))
    val incoming = Seq(o(1, 200.0, None), o(3, 100.0, None), o(3, 200.0, None))
    val m = PpdbOps.fillValidityEnd(base.toDF(), incoming.toDF(),
        Seq(1L).toDF("diaObjectId"))
      .as[TestObj].collect()
      .map(r => (r.diaObjectId, r.validityStartMjdTai) -> r.validityEndMjdTai)
      .toMap
    assert(m.size == 6)
    assert(m((1L, 100.0)).contains(200.0), "base row of a listed id")
    assert(m((3L, 100.0)).contains(200.0), "incoming id not in baseIds")
    assert(m((3L, 200.0)).isEmpty)
    assert(m((2L, 100.0)).isEmpty, "unlisted base id passes through")
  }

  private val t0 = 1640995200000000000L

  private def expanded(records: (Long, UpdateRecord)*): DataFrame =
    PpdbOps.expandUpdates(spark, records.toSeq)

  test("latestOnly keeps newest by (chunk, time, order) per field") {
    val e = expanded(
      (0L, UpdateNDiaSources(t0, 5, 200002, 8)),
      (0L, UpdateNDiaSources(t0 + 1000000000L, 5, 200002, 10)),
      (0L, ReassignDiaSourceToDiaObject(t0, 0, 100001, 300001)),
      (1L, ReassignDiaSourceToDiaObject(t0, 0, 100001, 400001)))
    val latest = PpdbOps.latestOnly(e)
    val nd = latest.where($"table_name" === "DiaObject").collect()
    assert(nd.length == 1 && nd.head.getAs[String]("value_json") == "10")
    val re = latest.where($"table_name" === "DiaSource").collect()
    assert(re.length == 1 && re.head.getAs[String]("value_json") == "400001",
      "higher chunk wins over same time")
  }

  /** `target` with `expanded`'s updates to `table` applied: LWW
    * collapse, patch build, merge.
    */
  private def patched(target: DataFrame, expanded: DataFrame,
      table: String): DataFrame = {
    val spec = PpdbOps.mergeSpecs(table)
    PpdbOps.mergePatch(target,
      PpdbOps.buildPatch(PpdbOps.latestOnly(expanded), spec), spec)
  }

  test("DiaObject merge: close validity + nDiaSources non-null rule") {
    val target = Seq(o(200001, 100.0, None, 5), o(200002, 100.0, None, 7)).toDF()
    val e = expanded(
      (0L, CloseDiaObjectValidity(t0, 4, 200001, 59580.0, None)),
      (0L, UpdateNDiaSources(t0, 5, 200002, 10)))
    val merged = patched(target, e, "DiaObject")
    val rows = merged.collect().map(r =>
      r.getLong(0) -> (Option(r.get(2)), r.getInt(6))).toMap
    assert(rows(200001L)._1.contains(59580.0))
    assert(rows(200001L)._2 == 5, "nDiaSources untouched when patch omits it")
    assert(rows(200002L)._2 == 10)
  }

  test("DiaSource merge patches reassign/withdraw fields") {
    val target = Seq(
      TestSrc(100001, 1, 1, Some(1L), None, 45.0, -30.0, None, 60000.0, None),
      TestSrc(100002, 1, 1, Some(2L), None, 45.0, -30.0, None, 60000.0, None),
      TestSrc(100003, 1, 1, Some(3L), None, 45.0, -30.0, None, 60000.0, None)).toDF()
    val e = expanded(
      (0L, ReassignDiaSourceToDiaObject(t0, 0, 100001, 300001)),
      (0L, ReassignDiaSourceToSSObject(t0, 1, 100002, 2001, 59580.0)),
      (0L, WithdrawDiaSource(t0, 2, 100003, 59580.0)))
    val merged = patched(target, e, "DiaSource")
    val rows = merged.collect().map { r =>
      r.getLong(0) -> ((Option(r.get(3)), Option(r.get(4)),
        Option(r.get(7)), Option(r.get(9))))
    }.toMap
    assert(rows(100001L)._1.contains(300001L))
    assert(rows(100002L)._2.contains(2001L))
    assert(rows(100002L)._3.contains(59580.0))
    assert(rows(100003L)._4.contains(59580.0))
    assert(rows(100001L)._4.isEmpty)
  }

  test("DiaForcedSource merge matches on composite key") {
    val target = Seq(
      TestFsrc(200001, 45.0, -30.0, 12345, 42, 60000.0, 0, 60000.0, None),
      TestFsrc(200001, 45.0, -30.0, 12345, 43, 60000.0, 0, 60000.0, None)).toDF()
    val e = expanded(
      (0L, WithdrawDiaForcedSource(t0, 3, 200001, 12345, 42, 59580.0)))
    val merged = patched(target, e, "DiaForcedSource")
    val rows = merged.collect().map { r =>
      (r.getLong(0), r.getLong(3), r.getShort(4).toLong) -> Option(r.get(8))
    }.toMap
    assert(rows((200001L, 12345L, 42L)).contains(59580.0))
    assert(rows((200001L, 12345L, 43L)).isEmpty, "other detector untouched")
  }

  test("patch keys are typed like the key columns; a narrowing that " +
      "overflows fails like the ANSI cast") {
    import org.apache.spark.sql.Row
    val spec = PpdbOps.mergeSpecs("DiaForcedSource")
    val keys = PpdbOps.keySchema(spec, graft.schema.PpdbSchema.diaForcedSource)
    def u(det: Long, field: String) = PpdbOps.UpdateKey("DiaForcedSource",
      Seq(200001L, 12345L, det), field)
    val typed = PpdbOps.patchKeys(spark,
      Seq(u(42L, "timeWithdrawnMjdTai"), u(43L, "flags"), u(43L, "flags"),
        PpdbOps.UpdateKey("DiaSource", Seq(7L), "ssObjectId")),
      spec, keys)
    // one entry per key; only a merged field makes J6 require it
    assert(typed == Map(Row(200001L, 12345L, 42.toShort) -> true,
      Row(200001L, 12345L, 43.toShort) -> false))
    assert(typed.keys.forall(_.get(2).isInstanceOf[Short]))
    // the same cast a query applies: 40000 is out of a short's range
    val e = intercept[ArithmeticException] {
      PpdbOps.patchKeys(spark, Seq(u(40000L, "timeWithdrawnMjdTai")), spec,
        keys)
    }
    assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition ==
      "CAST_OVERFLOW", e.getMessage)
  }

  test("needed keys: those the table's dirs can hold or a patch key " +
      "shares; no job when neither can apply") {
    import org.apache.spark.sql.Row
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val cat = new graft.catalog.VersionedCatalog(tmpDir("cat"))
    def sources(ids: Seq[Long]) =
      ids.map(i => (i, i / 2, 60000.0 + i))
        .toDF("diaSourceId", "diaObjectId", "midpointMjdTai")
    cat.commit(Map("internal.DiaSource" -> sources(100L to 110L)))
    val spec = PpdbOps.mergeSpecs("DiaSource")
    val stored = cat.read(spark, "internal.DiaSource")
    val keys = PpdbOps.keySchema(spec, stored.schema)
    // a batch of new sources, one stored key and one patched new key
    val delta = sources(Seq(105L, 5000L) ++ (200L to 1200L))
    val patch = Map[Row, Boolean](Row(5000L) -> true, Row(7L) -> true)
    val mayHold = cat.mayHold("internal.DiaSource", keys.head)
    assert(PpdbOps.neededKeys(delta, keys, mayHold, patch).toSet ==
      Set(Row(105L), Row(5000L)))
    assert(PpdbOps.neededKeys(delta, keys, mayHold, Map.empty) ==
      Seq(Row(105L)))

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    val none =
      try PpdbOps.neededKeys(delta, keys, None, Map.empty)
      finally {
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(l)
      }
    assert(none.isEmpty && jobs.get == 0, s"${jobs.get} jobs")
  }

  test("dangling updates are detected (J6 validation)") {
    val target = Seq(o(1, 100.0, None)).toDF()
    val e = expanded((0L, UpdateNDiaSources(t0, 0, 999, 3)))
    val spec = PpdbOps.mergeSpecs("DiaObject")
    val patch = PpdbOps.buildPatch(PpdbOps.latestOnly(e), spec)
    val dangling = J6Oracle.danglingUpdates(target, patch, spec).collect()
    assert(dangling.length == 1 && dangling.head.getLong(0) == 999L)
  }

  test("frontier and settled gating") {
    val apdb = Seq((1L, 1000L, "u1"), (2L, 2000L, "u2"), (3L, 3000L, "u3"))
      .toDF("apdb_replica_chunk", "last_update_time_us", "unique_id")
    val ppdb = Seq((1L, 1000L, "u1"))
      .toDF("apdb_replica_chunk", "last_update_time_us", "unique_id")
    val f = PpdbOps.frontier(apdb, ppdb)
    assert(f.select("apdb_replica_chunk").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 3L))
    // chunk 2 settles under minWait because chunk 3 is newer; chunk 3 (the
    // newest) needs maxWait
    val settledMin = PpdbOps.settledChunks(f, nowUs = 2000L + 150L,
      minWaitUs = 100L, maxWaitUs = 10000L)
    assert(settledMin.select("apdb_replica_chunk").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    val settledMax = PpdbOps.settledChunks(f, nowUs = 3000L + 20000L,
      minWaitUs = 100L, maxWaitUs = 10000L)
    assert(settledMax.count() == 2)
  }

  test("chunk unique_id consistency check") {
    val apdb = Seq((1L, 1000L, "u1"), (2L, 2000L, "uX"))
      .toDF("apdb_replica_chunk", "last_update_time_us", "unique_id")
    val ppdb = Seq((1L, 1000L, "u1"), (2L, 2000L, "u2"))
      .toDF("apdb_replica_chunk", "last_update_time_us", "unique_id")
    val mism = PpdbOps.chunkMismatches(apdb, ppdb).collect()
    assert(mism.length == 1 && mism.head.getLong(0) == 2L)
  }

  test("contiguous staged prefix (T5)") {
    val chunks = Seq(
      (1L, "promoted"), (2L, "staged"), (3L, "skipped"), (4L, "staged"),
      (5L, "uploaded"), (6L, "staged"))
      .toDF("apdb_replica_chunk", "status")
    assert(PpdbOps.promotableChunkIds(chunks) == Seq(2L, 4L))
  }
}

case class TestSrc(diaSourceId: Long, visit: Long, detector: Short,
    diaObjectId: Option[Long], ssObjectId: Option[Long], ra: Double,
    dec: Double, ssObjectReassocTimeMjdTai: Option[Double],
    midpointMjdTai: Double, timeWithdrawnMjdTai: Option[Double])

case class TestFsrc(diaObjectId: Long, ra: Double, dec: Double, visit: Long,
    detector: Short, midpointMjdTai: Double, flags: Long,
    timeProcessedMjdTai: Double, timeWithdrawnMjdTai: Option[Double])
