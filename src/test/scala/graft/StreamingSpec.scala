package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("windowed counts: streaming result equals batch result") {
    val batch = EventStreams.windowedCounts(graft.Tables.events(spark, sf))
    val srcDir = tmpDir("stream-src")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    // complete mode so windows still open at end-of-stream are emitted too
    val q = EventStreams.runToMemory(spark, srcDir, schema, "wincounts",
      EventStreams.windowedCounts(_), outputMode = "complete")
    q.awaitTermination(120000)
    val streamed = spark.table("wincounts")

    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty,
      "streaming (AvailableNow, complete) == batch")
  }

  test("hopping windows: streaming equals batch; each event covers " +
      "duration/slide windows") {
    val ev = graft.Tables.events(spark, sf)
    val batch = EventStreams.windowedCountsHopping(ev)
    // every event lands in exactly dur/slide = 2 windows
    assert(batch.agg(sum("n")).head().getLong(0) == 2L * ev.count())
    val srcDir = tmpDir("hop-src")
    ev.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "hopcounts",
      EventStreams.windowedCountsHopping(_), outputMode = "complete")
    q.awaitTermination(120000)
    val streamed = spark.table("hopcounts")
    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "streaming (AvailableNow, complete) == batch")
  }

  test("windowed distinct: streaming HLL state equals batch approx " +
      "exactly; approx within rsd contract of exact") {
    val ev = graft.Tables.events(spark, sf)
    val exact = EventStreams.windowedDistinct(ev)
    val approxB = EventStreams.windowedDistinct(ev, approx = true)
    val srcDir = tmpDir("wdistinct-src")
    ev.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "wdistinct",
      EventStreams.windowedDistinct(_, approx = true),
      outputMode = "complete")
    q.awaitTermination(120000)
    val streamed = spark.table("wdistinct")
    assert(streamed.count() > 0)
    // HLL++ is deterministic over a multiset, so the sketch-state
    // streaming run must equal the batch approx run bit-for-bit
    assert(approxB.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(approxB).isEmpty,
      "streaming (AvailableNow, complete, HLL state) == batch approx")
    // rsd contract vs the exact count, per window (default rsd 0.05;
    // 3x slack + small-count floor, same discipline as SketchSpec)
    exact.as("e").join(approxB.as("a"), "window_start_us")
      .select(col("e.n_users"), col("a.n_users"))
      .collect().foreach { r =>
        val ex = r.getLong(0).toDouble
        val ap = r.getLong(1).toDouble
        assert(math.abs(ap - ex) <= math.max(3.0, 3 * 0.05 * ex),
          s"window approx $ap vs exact $ex outside the rsd contract")
      }
    // exact distinct on a stream is refused at analysis time — the
    // sketch is not an optimization here but the only legal state shape
    val streamDf = spark.readStream.schema(schema).parquet(srcDir)
    intercept[org.apache.spark.sql.AnalysisException] {
      EventStreams.windowedDistinct(streamDf)
        .writeStream.format("memory").queryName("wdistinct_exact")
        .outputMode("complete").start()
    }
  }

  test("streaming dedup: first writer wins, re-arrivals dropped") {
    import java.sql.Timestamp
    val srcDir = tmpDir("dedup-src")
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    // micro-batch 1: three docs, one internal duplicate
    Seq((1L, ts(0), "alpha"), (2L, ts(1), "beta"), (3L, ts(2), "alpha"))
      .toDF("doc_id", "ts", "text")
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // micro-batch 2: a cross-batch duplicate and a fresh doc
    Seq((4L, ts(3), "beta"), (5L, ts(4), "gamma"))
      .toDF("doc_id", "ts", "text")
      .write.mode("append").parquet(srcDir)

    val q = EventStreams.runToMemory(spark, srcDir, schema, "docdedup",
      EventStreams.dedupStream(_))
    q.awaitTermination(120000)
    val out = spark.table("docdedup")
    assert(out.count() == 3, "one row per distinct content")
    assert(out.select("text").as[String].collect().toSet ==
      Set("alpha", "beta", "gamma"))
    // batch form agrees on the distinct-content set
    val batch = EventStreams.dedupStream(
      spark.read.parquet(srcDir), watermark = "1 hour")
    assert(batch.select("content_sha").collect().map(_.getString(0)).toSet ==
      out.select("content_sha").collect().map(_.getString(0)).toSet)
  }

  test("batch sessionization: gap splits sessions per user") {
    val ev = Seq(
      // user 1: two sessions (gap of 2h), user 2: one session
      (1L, 1L, "2024-01-01 00:00:00"), (2L, 1L, "2024-01-01 00:10:00"),
      (3L, 1L, "2024-01-01 02:30:00"),
      (4L, 2L, "2024-01-01 01:00:00"))
      .toDF("event_id", "user_id", "t")
      .select($"event_id", $"user_id", to_timestamp($"t").as("ts"))
    val sessions = EventStreams.sessionize(ev, gapUs = 3600L * 1000000L)
      .orderBy("user_id", "session_seq").collect()
    assert(sessions.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("stateful sessionization (flatMapGroupsWithState) matches batch") {
    val gapUs = 1800L * 1000000L
    val srcDir = tmpDir("stream-fmgs")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val q = EventStreams.runToMemory(spark, srcDir, schema, "fmgs_sessions",
      EventStreams.sessionizeStateful(_, gapUs))
    q.awaitTermination(120000)
    val streamed = spark.table("fmgs_sessions")
      .select("user_id", "session_start_us", "session_end_us", "n_events")

    // Watermark-exact contract: a session is emitted iff the final
    // watermark (maxTs − delay) passed its end + gap. Every emitted
    // session must be a true batch session; every definitively-closed
    // one (with slack for internal ms arithmetic) must be emitted.
    val wmDelayUs = 1800L * 1000000L // sessionizeStateful default 30 min
    val maxTsUs = graft.Tables.events(spark, sf)
      .agg(max(unix_micros($"ts"))).head().getLong(0)
    val finalWmUs = maxTsUs - wmDelayUs
    val all = EventStreams.sessionize(graft.Tables.events(spark, sf), gapUs)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    val required = all
      .where($"session_end_us" + gapUs < finalWmUs - 5000L)

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(all).isEmpty,
      "every streamed session is a true batch session")
    assert(required.exceptAll(streamed).isEmpty,
      "every watermark-closed batch session was emitted")
  }

  test("space-saving sketch aggregates under streaming (complete mode)") {
    // the TypedImperativeAggregate's serialize/deserialize path is what
    // the state store exercises between micro-batches — parity with the
    // one-shot batch result proves it round-trips
    import graft.functions.SpaceSaving.spaceSavingTopK
    def hh(df: org.apache.spark.sql.DataFrame) = df
      .agg(spaceSavingTopK(col("user_id"), 256, 10).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt"))
    val srcDir = tmpDir("stream-hh")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "hh_stream",
      hh, outputMode = "complete")
    q.awaitTermination(120000)
    val streamed = spark.table("hh_stream").as[(Long, Long)].collect().toSet
    val batch = hh(graft.Tables.events(spark, sf))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming ANN assignment: stream == batch on cells and PQ codes, " +
      "append mode, no state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.{IvfIndex, PqIndex}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sf)
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", k = 8, iters = 2)
    val pq = PqIndex.build(emb, "vec_id", "embedding",
      m = 4, dims = 64, ksub = 16)

    // continuous ingest: new vectors arrive on a stream; the persisted
    // static index assigns cells / codes per row in APPEND mode (pure
    // projection — a stateful aggregate would not be allowed here)
    val rows = emb.limit(40)
      .as[(Long, Seq[Float], String)].collect().toSeq
      .map { case (id, v, _) => (id + 100000L, v) }
    val src = MemoryStream[(Long, Seq[Float])]
    val stream = src.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))

    val qc = ivf.assignRows(stream, "vec_id", "embedding")
      .writeStream.format("memory").queryName("ann_cells")
      .outputMode("append").start()
    val qp = pq.encodeRows(stream, "vec_id", "embedding")
      .writeStream.format("memory").queryName("ann_codes")
      .outputMode("append").start()
    src.addData(rows.take(20): _*)
    qc.processAllAvailable(); qp.processAllAvailable()
    src.addData(rows.drop(20): _*) // second micro-batch: same plan, no state
    qc.processAllAvailable(); qp.processAllAvailable()
    qc.stop(); qp.stop()

    val batchDf = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val cellsGot = spark.table("ann_cells").as[(Long, Long)].collect().toSet
    val cellsWant = graft.ops.Similarity
      .assign(batchDf, "vec_id", "embedding", ivf.centroids)
      .as[(Long, Long)].collect().toSet
    assert(cellsGot == cellsWant && cellsWant.size == 40,
      "streaming cell assignment != batch")
    val codesGot = spark.table("ann_codes")
      .as[(Long, Int, Long)].collect().toSet
    val codesWant = PqEncodeOracle
      .pqEncode(batchDf, "vec_id", "embedding", pq.codebooks, 4, 64)
      .as[(Long, Int, Long)].collect().toSet
    assert(codesGot == codesWant && codesWant.size == 160,
      "streaming PQ codes != batch")
  }

  test("streaming semantic-dedup admission: stream == batch against a " +
      "frozen kept set, append mode, no state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.where(col("vec_id") < 300)
    val centroidsDf = Similarity.ivfSeedCentroids(corpus, "vec_id",
      "embedding", 8)
    val cents = centroidsDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    // frozen kept set: batch semDedup over the corpus, vectors re-joined
    val kept = Similarity.semDedup(corpus, "vec_id", "embedding",
      centroidsDf, threshold = 0.4)
      .join(corpus, Seq("vec_id"))
      .select(col("centroid_id"), col("embedding").as("k_vec"))
      .cache()

    val incoming = emb.where(col("vec_id") >= 300)
      .as[(Long, Seq[Float], String)].collect().toSeq
      .map { case (id, v, _) => (id, v) }
    val src = MemoryStream[(Long, Seq[Float])]
    val stream = src.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val q = Similarity.semDedupAdmitStream(stream, "vec_id", "embedding",
        cents, kept, "k_vec", threshold = 0.4)
      .select("vec_id", "centroid_id")
      .writeStream.format("memory").queryName("sem_admit")
      .outputMode("append").start()
    src.addData(incoming.take(25): _*)
    q.processAllAvailable()
    src.addData(incoming.drop(25): _*)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sem_admit").as[(Long, Long)].collect().toSet
    val batchIncoming = incoming.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val want = Similarity.semDedupAdmitStream(batchIncoming, "vec_id",
        "embedding", cents, kept, "k_vec", threshold = 0.4)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toSet
    assert(got == want, "streaming admission != batch replay")
    // the fixture's near-dup groups must reject SOMETHING, and genuinely
    // novel vectors must get through
    assert(want.size < incoming.size, "no rejections — fixture degenerate")
    assert(want.nonEmpty, "everything rejected — fixture degenerate")
    kept.unpersist()
  }

  test("2-probe streaming admission == batch semDedup on a boundary-" +
      "straddling fixture; 1-probe admitted exactly the straddler") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Similarity
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def v(xs: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.foreach { case (i, x) => a(i) = x.toFloat }
      a.toSeq
    }
    def deg(d: Double) = math.toRadians(d)
    // centroids (= first 3 by id): e_x, e_y, e_z. Base also keeps a rep
    // at 44° in the x-y plane — primary cell e_x, second probe e_y —
    // and a far-off rep on dim 3. All base pairs are < 0.9 apart, so
    // the frozen kept set is the whole base.
    val base = Seq(
      (0L, v(0 -> 1.0)), (1L, v(1 -> 1.0)), (2L, v(2 -> 1.0)),
      (3L, v(0 -> math.cos(deg(44)), 1 -> math.sin(deg(44)))),
      (4L, v(3 -> 1.0)))
    // arrivals: 10 = the STRADDLER (47°: argmax cell e_y, but its true
    // near-dup is rep 3 whose primary cell is e_x — only the second
    // probe meets it); 11 = genuinely novel; 12 = plain same-cell dup
    // of rep 0
    val arrivals = Seq(
      (10L, v(0 -> math.cos(deg(47)), 1 -> math.sin(deg(47)))),
      (11L, v(4 -> 1.0)),
      (12L, v(0 -> math.cos(deg(2)), 1 -> math.sin(deg(2)))))
    val baseDf = base.toDF("vec_id", "embedding")
    val centroidsDf = Similarity.ivfSeedCentroids(baseDf, "vec_id",
      "embedding", 3)
    val cents = centroidsDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val kept = Similarity.semDedup(baseDf, "vec_id", "embedding",
        centroidsDf, threshold = 0.9, probes = 2)
      .join(baseDf, Seq("vec_id"))
      .select(col("centroid_id"), col("embedding").as("k_vec"))
      .cache()
    assert(kept.count() == base.size, "fixture: base must be all-kept")

    val src = MemoryStream[(Long, Seq[Float])]
    val stream = src.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val q = Similarity.semDedupAdmitStream(stream, "vec_id", "embedding",
        cents, kept, "k_vec", threshold = 0.9, probes = 2)
      .select("vec_id", "centroid_id")
      .writeStream.format("memory").queryName("sem_admit2")
      .outputMode("append").start()
    src.addData(arrivals.take(1): _*)
    q.processAllAvailable()
    src.addData(arrivals.drop(1): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sem_admit2").as[(Long, Long)].collect().toSet

    // batch replay: semDedup over base ∪ arrivals at the same probes —
    // the arrivals the batch keeps are exactly the stream-admitted ones
    // (base is all-kept and mutually distant, so intra-arrival pairs
    // can't differ either)
    val allDf = (base ++ arrivals).toDF("vec_id", "embedding")
    val batchKept = Similarity.semDedup(allDf, "vec_id", "embedding",
        centroidsDf, threshold = 0.9, probes = 2)
      .where(col("vec_id") >= 10L).as[(Long, Long)].collect().toSet
    assert(got == batchKept, s"stream $got != batch $batchKept")
    assert(got.map(_._1) == Set(11L),
      "fixture: straddler 10 and same-cell dup 12 must both be rejected")

    // the 1-probe path admits the straddler (the gap probes = 2 closes):
    // rep 3's primary cell is e_x, arrival 10's argmax cell is e_y
    val one = Similarity.semDedupAdmitStream(
        arrivals.toDF("vec_id", "embedding"), "vec_id", "embedding",
        cents, kept, "k_vec", threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(one == Set(10L, 11L), s"1-probe admitted $one, expected 10 & 11")
    kept.unpersist()
  }

  test("windowed top-k: streaming (complete) equals batch on real events") {
    val srcDir = tmpDir("stream-wtopk")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "wtopk_stream",
      EventStreams.windowedTopK(_), outputMode = "complete")
    q.awaitTermination(120000)
    val streamed = spark.table("wtopk_stream")
      .as[(Long, Long, Long, Int)].collect().toSet
    val batch = EventStreams.windowedTopK(graft.Tables.events(spark, sf))
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("windowed quantiles: streaming (complete) equals batch on real " +
      "events — the KLL sketch is the state payload") {
    val srcDir = tmpDir("stream-wquant")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "wquant_stream",
      EventStreams.windowedQuantiles(_), outputMode = "complete")
    q.awaitTermination(120000)
    val streamed = spark.table("wquant_stream")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = EventStreams.windowedQuantiles(graft.Tables.events(spark, sf))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    // gate-scale fixture stays in the exact regime: every window err = 0
    assert(batch.forall(_._4 == 0L), "expected exact-regime windows")
  }

  test("windowed quantiles: watermark-driven append emit, late-but-" +
      "above-watermark values still count") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Timestamp, Double)]
    val q = EventStreams
      .windowedQuantiles(src.toDF().toDF("ts", "value"),
        windowDur = "1 hour", watermark = "10 minutes", k = 64)
      .writeStream.outputMode("append")
      .format("memory").queryName("wquant_append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val h0 = 1700002800000L // hour-aligned epoch ms; w1 = [h0, h0+1h)
    def at(min: Int) = new Timestamp(h0 + min * 60000L)
    // batch 1: five w1 values + one w2 event lifting the watermark to 55
    src.addData((at(5), 1.0), (at(10), 2.0), (at(15), 3.0),
      (at(20), 4.0), (at(45), 5.0), (at(65), 99.0))
    q.processAllAvailable()
    assert(spark.table("wquant_append").count() == 0,
      "w1 not past the watermark yet")
    // batch 2: a LATE w1 value still above the watermark (58 > 55) must
    // enter w1's sketch; an event at 130 pushes the watermark past w1
    src.addData((at(58), 6.0), (at(130), 50.0))
    q.processAllAvailable()
    src.addData((at(200), 70.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wquant_append")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val w1Us = h0 * 1000L
    // w1 over cents {100..600}: p50 = rank ceil(0.5*6)=3 → 300,
    // p95 = rank ceil(0.95*6)=6 → 600; exact regime, all 6 values
    // (the cross-batch late value counted via the merged sketch state)
    assert(got(w1Us) == ((300L, 600L, 0L, 6L)), got.toString)
    // w2 closed too (watermark 190 > 120): single value 99.0
    assert(got(w1Us + 3600L * 1000000L) == ((9900L, 9900L, 0L, 1L)))
    // w3 [120,180) emitted; w4 (the 200-min event) still open
    assert(got.size == 3 && !got.contains(w1Us + 3 * 3600L * 1000000L))
  }

  test("streaming IQR anomaly flags: frozen calibration fences, " +
      "stream == batch replay, calibration never re-aggregated") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val calib = graft.Tables.events(spark, sf)
      .select($"event_type", $"event_id",
        org.apache.spark.sql.functions.round($"value" * 100)
          .cast("long").as("v_cents"))
    val src = MemoryStream[(String, Long, Long)]
    val flagged = graft.ops.Profiling.iqrOutliersStream(
      src.toDF().toDF("event_type", "event_id", "v_cents"),
      calib, "event_type", "v_cents")
    // frozen: the streaming plan carries literal fences, no aggregation
    // of the calibration side per micro-batch
    assert(!flagged.queryExecution.analyzed.toString
      .contains("kll_quantiles"), "calibration must be pre-materialized")
    val q = flagged.select($"event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("iqr_stream").start()
    // arrivals: replay the calibration rows themselves across 2 batches
    val arrivals = calib.as[(String, Long, Long)].collect().toSeq
    val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
    src.addData(b1: _*); q.processAllAvailable()
    src.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("iqr_stream").as[Long].collect().toSet
    val batch = graft.ops.Profiling.iqrOutliers(calib, "event_type",
      "v_cents").select($"event_id").as[Long].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("windowed top-k: watermark-driven append emit across micro-batches") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp)]
    val q = EventStreams
      .windowedTopK(src.toDF().toDF("user_id", "ts"),
        windowDur = "1 hour", watermark = "10 minutes", capacity = 8, k = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("wtopk_append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val h0 = 1700002800000L // hour-aligned epoch ms; w1 = [h0, h0+1h)
    def at(min: Int) = new Timestamp(h0 + min * 60000L)
    // batch 1: w1 activity (u1 x3, u2 x2, u3 x1) plus one w2 event that
    // lifts the watermark to h0+55min — w1 still open
    src.addData((1L, at(5)), (1L, at(10)), (1L, at(15)),
      (2L, at(20)), (2L, at(25)), (3L, at(40)), (9L, at(65)))
    q.processAllAvailable()
    assert(spark.table("wtopk_append").count() == 0,
      "w1 not past the watermark yet — nothing emitted in append mode")
    // batch 2: a LATE w1 event still above the watermark (58 > 55) must
    // count; a w3 event pushes the eventual watermark past w1's end
    src.addData((2L, at(58)), (9L, at(130)))
    q.processAllAvailable()
    // batch 3: advance once more so the new watermark takes effect
    src.addData((9L, at(200)))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("wtopk_append")
      .as[(Long, Long, Long, Int)].collect().toSet
    // w1 finalized exactly: u1 and u2 tie at 3 (the cross-batch event at
    // 58 min counted), tie broken by item. The final watermark (190 min)
    // also closed w2 and w3; w4 (the 200-min event) stays open, unemitted
    val w1Us = h0 * 1000L
    val hourUs = 3600L * 1000000L
    assert(emitted == Set(
      (w1Us, 1L, 3L, 1), (w1Us, 2L, 3L, 2),
      (w1Us + hourUs, 9L, 1L, 1), (w1Us + 2 * hourUs, 9L, 1L, 1)), emitted)
  }

  test("windowed funnel: stateful streaming matches batch on real events") {
    val horizonUs = 12L * 3600L * 1000000L
    val stages = Seq("view", "click", "purchase")
    val srcDir = tmpDir("stream-wfunnel")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "wfunnel_stream",
      EventStreams.funnelWindowedStateful(_, stages, horizonUs),
      outputMode = "update")
    q.awaitTermination(120000)
    // update mode: stages_reached is monotone per user, so max == final
    val perUser = spark.table("wfunnel_stream")
      .groupBy("user_id").agg(max($"stages_reached").as("k"))
    val streamed = (1 to 3).map(k =>
      perUser.where($"k" >= k).count())
    val b = graft.ops.EventAnalytics
      .funnelWindowed(graft.Tables.events(spark, sf), stages, horizonUs)
      .head()
    assert(streamed == Seq(b.getLong(0), b.getLong(1), b.getLong(2)),
      s"streamed=$streamed batch=$b")
    assert(streamed.head > 0)
  }

  test("windowed funnel: late chain link resolves across batches") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams
      .funnelWindowedStateful(
        src.toDF().toDF("user_id", "ts", "event_type")
          .withWatermark("ts", "2 hours"),
        Seq("view", "click", "purchase"), horizonUs = 3600L * 1000000L)
      .writeStream.outputMode("update")
      .format("memory").queryName("wfunnel_state")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: view and purchase only — no click chain yet
    src.addData((1L, t("2024-01-01 10:00:00"), "view"),
      (1L, t("2024-01-01 10:15:00"), "view"),
      (1L, t("2024-01-01 11:10:00"), "purchase"))
    q.processAllAvailable()
    def latest(): Int = spark.table("wfunnel_state")
      .groupBy("user_id").agg(max($"stages_reached")).head().getInt(1)
    assert(latest() == 1, "view only — purchase has no click to chain through")
    // batch 2: the MISSING MIDDLE arrives late but above the watermark;
    // only the 10:15 anchor completes within the 1 h horizon
    // (10:00 → 11:10 is 70 min)
    src.addData((1L, t("2024-01-01 10:30:00"), "click"))
    q.processAllAvailable()
    q.stop()
    assert(latest() == 3,
      "late click chains 10:15 view → 10:30 click → 11:10 purchase")
  }

  test("windowed funnel keeps a boundary anchor alive exactly " +
      "horizon before the watermark") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams
      .funnelWindowedStateful(
        src.toDF().toDF("user_id", "ts", "event_type")
          .withWatermark("ts", "1 hour"),
        Seq("view", "click", "purchase"), horizonUs = 3600L * 1000000L)
      .writeStream.outputMode("update")
      .format("memory").queryName("wfunnel_edge")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: the chain head, plus a filler (user 9) that lifts the
    // watermark to 11:00 — exactly horizon past the 10:00 view
    src.addData((1L, t("2024-01-01 10:00:00"), "view"),
      (1L, t("2024-01-01 10:30:00"), "click"),
      (9L, t("2024-01-01 12:00:00"), "view"))
    q.processAllAvailable()
    // batches 2-3: non-stage events for user 1 force their group
    // function (and its state pruning, cutoff 10:00) to run — twice,
    // because the operator sees batch 1's watermark one batch late. The
    // 10:00 view sits EXACTLY at wm - horizon and must survive
    src.addData((1L, t("2024-01-01 11:50:00"), "scroll"))
    q.processAllAvailable()
    src.addData((1L, t("2024-01-01 11:55:00"), "scroll"))
    q.processAllAvailable()
    // batch 3: the chain completes at exactly the watermark (11:00),
    // span exactly one horizon — inclusive on both edges
    src.addData((1L, t("2024-01-01 11:00:00"), "purchase"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wfunnel_edge")
      .where($"user_id" === 1L)
      .groupBy("user_id").agg(max($"stages_reached")).head().getInt(1)
    assert(got == 3,
      s"boundary anchor was pruned: stages_reached=$got, expected 3")
  }

  test("stateful funnel: cross-batch disorder resolved exactly") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams
      .funnelStateful(
        src.toDF().toDF("user_id", "ts", "event_type"),
        Seq("view", "click", "purchase"))
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_state")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: click then purchase — no view yet, 0 stages
    src.addData((1L, t("2024-01-01 11:00:00"), "click"),
      (1L, t("2024-01-01 12:00:00"), "purchase"))
    q.processAllAvailable()
    val after1 = spark.table("funnel_state")
      .orderBy(desc("stages_reached")).head().getInt(1)
    assert(after1 == 0, "no view yet => no stage reached")
    // batch 2: the view arrives LATE with an EARLIER event time; the
    // retained click/purchase candidates must now complete the chain
    src.addData((1L, t("2024-01-01 10:00:00"), "view"))
    q.processAllAvailable()
    val after2 = spark.table("funnel_state")
      .orderBy(desc("stages_reached")).head().getInt(1)
    q.stop()
    assert(after2 == 3, "late earlier view promotes the whole chain")
  }

  test("stateful funnel on batch matches the windowed batch funnel") {
    val ev = graft.Tables.events(spark, sf)
    val stages = Seq("view", "click", "purchase")
    val perUser = EventStreams.funnelStateful(ev, stages)
    val gotCounts = (1 to 3).map(k =>
      perUser.where(col("stages_reached") >= k).count())
    val batch = graft.ops.EventAnalytics.funnel(ev, stages).head()
    assert(gotCounts == Seq(batch.getLong(0), batch.getLong(1),
      batch.getLong(2)))
  }

  test("streaming sessionization with session_window") {
    val srcDir = tmpDir("stream-sess")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "sessions",
      EventStreams.sessionizeStreaming(_, "30 minutes"))
    q.awaitTermination(120000)
    val got = spark.table("sessions")
    assert(got.count() > 0)
    assert(got.columns.toSet == Set("user_id", "session_start_us", "n_events"))
  }

  test("stream-stream attribution join matches batch") {
    val srcDir = tmpDir("ssjoin-src")
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "attrib",
      EventStreams.attributionJoin(_))
    q.awaitTermination(120000)
    val streamed = spark.table("attrib")
    val batch = EventStreams.attributionJoin(spark.read.parquet(srcDir))
    assert(streamed.count() > 0)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "inner stream-stream interval join emits exactly the batch pairs")
    // a purchase is always within its own window
    assert(streamed.where($"p_event_id" === $"event_id").count() ==
      streamed.select($"p_event_id").distinct().count())
  }

  test("streaming cluster assignment against a static dup-cluster index") {
    import graft.ops.Dedup
    // corpus: docs 1,2 cluster together; 3 is a singleton
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val idx = Dedup.dupClusterIndex(corpus, "doc_id", "text",
      n = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.3)
    // probes: 101 hits cluster 1 (via doc 2), 102 hits cluster 3,
    // 103 matches nothing
    val probes = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta iota kappa"),
      (102L, "one two three four five six seven eight ten"),
      (103L, "entirely unrelated content about parquet and shuffles"))
      .toDF("doc_id", "text")
    val batch = idx.clusterMatches(probes, "doc_id", "text")
      .select($"probe_id", $"cluster_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(batch.map(_._1) == Set(101L, 102L) &&
      batch.contains(101L -> 1L) && batch.contains(102L -> 3L), s"$batch")

    // the SAME plan under readStream: stateless probe + static joins,
    // no state store — micro-batched output must equal the batch result
    val srcDir = tmpDir("clusterassign-src")
    probes.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "clusterassign",
      idx.clusterMatches(_, "doc_id", "text"))
    q.awaitTermination(120000)
    val streamed = spark.table("clusterassign")
      .select($"probe_id", $"cluster_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("streaming dup-cluster maintenance: exactly-once folds equal a " +
      "batch rebuild") {
    import graft.ops.Dedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat = new graft.catalog.VersionedCatalog(tmpDir("stream-dcidx"))
    val (n, h, r, t) = (3, 8, 1, 0.25)
    val src = MemoryStream[(Long, String)]
    val q = Dedup.maintainDupClusters(
        src.toDF().toDF("doc_id", "text"),
        "doc_id", "text", cat, "dup_idx", n, h, r, t)
      .option("checkpointLocation", tmpDir("stream-dcidx-ckpt"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val batchA = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "red green blue yellow purple orange pink white"))
    val batchB = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta one two three " +
        "four five six seven eight nine"),
      (11L, "totally novel content unlike anything else in any corpus"))
    src.addData(batchA: _*); q.processAllAvailable()
    src.addData(batchB: _*); q.processAllAvailable()
    q.stop()

    val streamed = Dedup.loadDupClusterIndex(spark, cat, "dup_idx")
    val full = Dedup.dupClusterIndex(
      (batchA ++ batchB).toDF("doc_id", "text"), "doc_id", "text", n, h, r, t)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(m(streamed.clusters) == m(full.clusters),
      s"${m(streamed.clusters)} != ${m(full.clusters)}")
    // the bridge doc merged clusters {1,2} and {3} across the batches
    assert(m(streamed.clusters)(10L) == 1L && m(streamed.clusters)(3L) == 1L)

    // at-least-once replay (crash after commit, before checkpoint):
    // re-applying an already-recorded batch id is a no-op
    val before = m(streamed.clusters)
    assert(!Dedup.applyDupClusterBatch(batchB.toDF("doc_id", "text"),
      batchId = 1L, "doc_id", "text", cat, "dup_idx", n, h, r, t))
    assert(m(Dedup.loadDupClusterIndex(spark, cat, "dup_idx").clusters)
      == before)
    // a genuinely new batch applies through the same (backfill) entry
    assert(Dedup.applyDupClusterBatch(
      Seq((12L, "red green blue yellow purple orange pink black"))
        .toDF("doc_id", "text"),
      batchId = 2L, "doc_id", "text", cat, "dup_idx", n, h, r, t))
    assert(m(Dedup.loadDupClusterIndex(spark, cat, "dup_idx").clusters)
      .get(12L).contains(4L), "near-dup of 4 joins its cluster")
  }

  test("streaming BM25 scoring: literal-embedded snapshot scores match " +
      "the batch pipeline bit for bit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
    val terms = Seq("dup", "vector", "spark")
    // frozen snapshot: per-term df, N, T — from the same corpus the
    // batch pipeline scores, so scores must agree exactly
    val toks = docs.select(col("doc_id"),
      explode(graft.ops.TextAnalysis.tokens(col("text"))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val Array(nd, tt) = dl.agg(count(lit(1)), sum("dl")).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val termDfs = terms.map { t =>
      t -> toks.where(col("term") === t).select("doc_id").distinct().count()
    }
    val batch = graft.ops.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        terms, k = 1000)
      .as[(Long, Long)].collect().toMap

    val rows = docs.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text")
      .withColumn("score", graft.ops.TextAnalysis.bm25ScoreExpr(
        col("text"), termDfs, nd, tt))
      .writeStream.format("memory").queryName("bm25_stream")
      .outputMode("append").start()
    val (h1, h2) = rows.splitAt(rows.size / 2)
    src.addData(h1: _*); q.processAllAvailable()
    src.addData(h2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bm25_stream")
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    assert(streamed.size == rows.size)
    // batch emits only docs containing >= 1 query term; on those the
    // projection must agree exactly, and on the rest it scores 0
    batch.foreach { case (id, s) =>
      assert(streamed(id) == s, s"doc $id: stream ${streamed(id)} != $s")
    }
    assert(batch.nonEmpty &&
      streamed.filterNot { case (id, _) => batch.contains(id) }
        .forall(_._2 == 0L))
  }

  test("streaming frozen-LM scoring: the batch scorer lifts to a " +
      "stream unchanged (map-only bigrams + stream-static LM joins); " +
      "stream == batch after all micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
    val ref = docs.where(col("doc_id") % 29 === 0)
    val tgt = docs.where(col("doc_id") % 29 =!= 0)
    val batch = graft.ops.TextAnalysis.bigramSurprisalAgainst(
        tgt, ref, "doc_id", "text")
      .select("doc_id", "n_bigrams", "surprise")
      .as[(Long, Long, Long)].collect().toSet
    val rows = tgt.select("doc_id", "text").as[(Long, String)]
      .collect().toSeq
    val src = MemoryStream[(Long, String)]
    // the IDENTICAL op over a streaming target: bigrams are
    // projection-level, the LM tables join stream-static, the per-doc
    // rollup is the only stateful stage
    val scored = graft.ops.TextAnalysis.bigramSurprisalAgainst(
      src.toDF().toDF("doc_id", "text"), ref, "doc_id", "text")
    val q = scored.writeStream.format("memory").queryName("lm_stream")
      .outputMode("complete").start()
    val (h1, h2) = rows.splitAt(rows.size / 2)
    src.addData(h1: _*); q.processAllAvailable()
    src.addData(h2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("lm_stream")
      .select("doc_id", "n_bigrams", "surprise")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream (${streamed.size}) != batch (${batch.size})")
  }

  test("streaming mixture quota: hash-order arrival equals the batch " +
      "prefix; budget never exceeded under adversarial arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val budgets = Map("src0" -> 400L, "src1" -> 250L)

    // arrival order = the batch form's (sampleRank, id) order, split
    // mid-stream: the admitted set must equal the batch prefix exactly
    def rank(id: Long) = ((id % 1000003L) * 2654435761L) % 1000003L
    val ordered = docs.sortBy { case (id, _, _) => (rank(id), id) }
    val src = MemoryStream[(Long, String, String)]
    val q = graft.streaming.EventStreams.mixtureSampleStream(
        src.toDF().toDF("doc_id", "source", "text"), budgets)
      .writeStream.format("memory").queryName("mix_q")
      .outputMode("append").start()
    val (half1, half2) = ordered.splitAt(ordered.size / 2)
    src.addData(half1: _*); q.processAllAvailable()
    src.addData(half2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("mix_q").as[(Long, String, Long)].collect().toSet
    val want = graft.ops.TextAnalysis.mixtureSample(
        docs.toDF("doc_id", "source", "text"),
        "doc_id", "text", "source", budgets)
      .select(col("doc_id"), col("source"), col("n_tok").cast("long"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == want, s"stream ${got.size} rows != batch ${want.size}")
    assert(got.nonEmpty && got.forall { case (_, s, _) => budgets.contains(s) })

    // adversarial arrival (reverse hash order, three batches): admitted
    // set may differ, but no source can ever exceed its budget and
    // unnamed sources admit nothing
    val src2 = MemoryStream[(Long, String, String)]
    val q2 = graft.streaming.EventStreams.mixtureSampleStream(
        src2.toDF().toDF("doc_id", "source", "text"), budgets)
      .writeStream.format("memory").queryName("mix_q2")
      .outputMode("append").start()
    ordered.reverse.grouped(ordered.size / 3 + 1).foreach { b =>
      src2.addData(b: _*); q2.processAllAvailable()
    }
    q2.stop()
    val spent = spark.table("mix_q2").as[(Long, String, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(spent.nonEmpty)
    spent.foreach { case (s, tot) => assert(tot <= budgets(s), s"$s $tot") }
  }

  test("streaming near-dup probe vs static simhash index matches batch") {
    import graft.ops.Dedup
    // static corpus: clustered sentences so some probes hit, some miss
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "how vexingly quick daft zebras jump today"))
      .toDF("doc_id", "text")
    val index = Dedup.simhashIndex(corpus, "doc_id", "text", maxDist = 6)

    // probe docs: near-dup of doc 1 (one word changed), an exact dup of
    // doc 2, and an unrelated doc
    val probes = Seq(
      (101L, "the quick brown fox jumps over the lazy cat"),
      (102L, "pack my box with five dozen liquor jugs"),
      (103L, "completely different text about engines and parquet files"))
      .toDF("doc_id", "text")

    val srcDir = tmpDir("neardup-src")
    probes.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = EventStreams.runToMemory(spark, srcDir, schema, "neardup",
      Dedup.nearDupProbe(_, index, "doc_id", "text", maxDist = 6))
    q.awaitTermination(120000)
    val streamed = spark.table("neardup")
      .as[(Long, Long, Int)].collect().toSet

    // ground truth: brute-force Hamming over all (probe, corpus) pairs
    val corpusSigs = corpus.collect().map(r =>
      r.getLong(0) -> graft.functions.TextHashing.simhash(r.getString(1))).toMap
    val probeSigs = probes.collect()
      .map(r => r.getLong(0) -> graft.functions.TextHashing.simhash(r.getString(1)))
    val expected = (for {
      (pid, psh) <- probeSigs; (cid, csh) <- corpusSigs
      d = java.lang.Long.bitCount(psh ^ csh) if d <= 6
    } yield (pid, cid, d)).toSet
    assert(streamed == expected, "stateless stream-static probe is exact")
    assert(expected.exists(_._1 == 102L), "exact dup found")
    // batch probe through the same index agrees with the stream
    val batch = Dedup.nearDupProbe(probes, index, "doc_id", "text", 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(batch == streamed)
  }

  test("ingest-time packing: stream coordinates == sequential " +
      "packSequencesAppend replay, bit for bit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def mkDocs(ids: Range): Seq[(Long, String, String)] = ids.map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        ("w " * (i % 7 + 1)).trim)
    }.toSeq
    val (b1, b2) = (mkDocs(1 to 15), mkDocs(16 to 30))
    val src = MemoryStream[(Long, String, String)]
    val q = EventStreams.packStream(
        src.toDF().toDF("doc_id", "source", "text"), seqLen = 10L)
      .writeStream.outputMode("append")
      .format("memory").queryName("pack_stream").start()
    src.addData(b1: _*); q.processAllAvailable()
    src.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pack_stream")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet

    // replay the same micro-batches through the incremental batch form
    val zero = Seq(("a", 0L), ("b", 0L)).toDF("source", "total_tokens")
    val d1 = b1.toDF("doc_id", "source", "text")
    val d2 = b2.toDF("doc_id", "source", "text")
    val p1 = TextAnalysis.packSequencesAppend(
      d1, "doc_id", "text", "source", 10L, zero)
    val totals1 = d1.select($"source",
        size(split($"text", "\\s+")).cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("total_tokens"))
    val p2 = TextAnalysis.packSequencesAppend(
      d2, "doc_id", "text", "source", 10L, totals1)
    val replayed = p1.unionByName(p2)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    assert(streamed == replayed && streamed.size == 30)
    // continuation: batch-2 docs start exactly at batch-1's totals
    val aTotal = b1.filter(_._2 == "a").map(_._3.split(" ").length).sum
    val firstA2 = replayed.filter(t => t._2 == "a" && t._1 >= 16L)
      .minBy(t => t._4 * 10 + t._5)
    assert(firstA2._4 * 10 + firstA2._5 == aTotal.toLong)
  }

  test("streaming quality scoring under a FROZEN trained model: " +
      "stream == batch replay, scores independent of batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.QualityModel
    // train once on the fixture; the frozen (weights, means) then score
    // arriving docs map-only — scoreWith is stateless, so it lifts to a
    // streaming plan unchanged (no aggregation per micro-batch)
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
    val raw = QualityModel.rawFeatures(corpus)
    val means = QualityModel.featureMeans(raw)
    val w = QualityModel.train(
      QualityModel.centerWith(raw, means).cache())
    val src = MemoryStream[(Long, String)]
    val scored = QualityModel.scoreWith(
      src.toDF().toDF("doc_id", "text"), w, means)
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("qm_stream").start()
    val arrivals = corpus.as[(Long, String)].collect().toSeq
    val (b1q, b2q) = arrivals.splitAt(arrivals.size / 3)
    src.addData(b1q: _*); q.processAllAvailable()
    src.addData(b2q: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qm_stream")
      .as[(Long, Long, Double)].collect().toSet
    val batch = QualityModel.scoreWith(corpus, w, means)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch && batch.nonEmpty,
      "frozen-model scores must not depend on micro-batch boundaries")
    spark.catalog.clearCache()
  }

  test("exactly-once JDBC stream sink: replayed batches skip, failed " +
      "batches leave nothing, a real stream drains completely") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    import graft.streaming.JdbcStreamSink
    val url = graft.replicate.PpdbJdbc.derbyMemUrl(
      s"streamsink_${System.nanoTime()}")
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("payload", StringType, nullable = true)))
    val sink = new JdbcStreamSink(url, "stream_events", schema, "sinkA")
    sink.init()
    sink.init() // idempotent

    // a real micro-batched stream through foreachBatch
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("event_id", "payload")
      .writeStream.foreachBatch(sink.foreachBatchWriter)
      .option("checkpointLocation", tmpDir("sink-ckpt")).start()
    src.addData(1L -> "a", 2L -> "b")
    q.processAllAvailable()
    src.addData(3L -> "c")
    q.processAllAvailable()
    q.stop()
    def readAll() = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"stream_events\"").load()
    assert(readAll().count() == 3)

    // at-least-once redelivery: same batch id again → clean no-op
    val replay = Seq(1L -> "a", 2L -> "b").toDF("event_id", "payload")
    assert(!sink.applyBatch(replay, 0L))
    assert(readAll().count() == 3)

    // crash mid-batch: a NOT NULL violation rolls back marker AND rows,
    // so the retry (fixed data, same id) starts from nothing
    intercept[Exception] { sink.applyBatch(
      Seq[(java.lang.Long, String)]((10L, "x"), (null, "boom"))
        .toDF("event_id", "payload"), 99L) }
    assert(readAll().count() == 3, "failed batch must leave no rows")
    assert(sink.applyBatch(Seq(10L -> "x", 11L -> "y")
      .toDF("event_id", "payload"), 99L), "retry after rollback must land")
    assert(readAll().count() == 5)
    assert(!sink.applyBatch(Seq(12L -> "z").toDF("event_id", "payload"), 99L),
      "the retried id is now committed — further replays skip")

    // a second sink id on the same database keeps independent markers
    val sinkB = new JdbcStreamSink(url, "stream_events", schema, "sinkB")
    sinkB.init()
    assert(sinkB.applyBatch(Seq(20L -> "w").toDF("event_id", "payload"), 0L))
    assert(readAll().count() == 6)
  }

  test("update-mode windowed aggregate upserts into JDBC: final table " +
      "== batch aggregation, replays skip") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    import graft.streaming.JdbcStreamSink
    val url = graft.replicate.PpdbJdbc.derbyMemUrl(
      s"winupsert_${System.nanoTime()}")
    val schema = StructType(Seq(
      StructField("window_us", LongType, nullable = false),
      StructField("user", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    val sink = new JdbcStreamSink(url, "win_counts", schema, "winA")
    sink.init()

    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val src = MemoryStream[(java.sql.Timestamp, String)]
    val agg = src.toDF().toDF("ts", "user")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"user").count()
      .select(unix_micros($"window.start").as("window_us"), $"user",
        $"count".as("cnt"))
    val q = agg.writeStream.outputMode("update")
      .foreachBatch(sink.foreachBatchUpsertWriter(Seq("window_us", "user")))
      .option("checkpointLocation", tmpDir("win-ckpt")).start()
    // two micro-batches touch the SAME (window, user): the upsert must
    // leave the refreshed count, not two rows
    src.addData(ts(5) -> "a", ts(10) -> "a", ts(20) -> "b")
    q.processAllAvailable()
    src.addData(ts(40) -> "a", ts(50) -> "b")
    q.processAllAvailable()
    q.stop()

    val stored = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"win_counts\"").load()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val expect = Seq(ts(5) -> "a", ts(10) -> "a", ts(20) -> "b",
        ts(40) -> "a", ts(50) -> "b").toDF("ts", "user")
      .groupBy(window($"ts", "1 hour"), $"user").count()
      .select(unix_micros($"window.start"), $"user", $"count")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stored == expect, s"stored=$stored expect=$expect")

    // replayed upsert batch (same id, stale counts) must skip
    val stale = Seq((0L, "a", 1L)).toDF("window_us", "user", "cnt")
    assert(!sink.applyBatchUpsert(stale, 0L, Seq("window_us", "user")))
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "\"win_counts\"").load().count() == stored.size)
  }

  test("streaming packed-ANN maintenance: first batch trains, later " +
      "batches fold exactly-once under the frozen quantizer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.ops.IvfPqSharedPackedIndex
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat = new graft.catalog.VersionedCatalog(tmpDir("stream-annidx"))
    val all = graft.Tables.embeddings(spark, sf)
      .as[(Long, Seq[Float], String)].collect().toSeq
      .map { case (id, v, _) => (id, v) }
    val (rowsA, rowsB) = all.partition(_._1 % 3 != 0)

    val src = MemoryStream[(Long, Seq[Float])]
    val stream = src.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val q = IvfPqSharedPackedIndex.maintain(stream, "vec_id", "embedding",
        cat, "annidx", kc = 8, m = 8, dims = 64, ksub = 16, iters = 1,
        trainLimit = Some(300))
      .option("checkpointLocation", tmpDir("stream-annidx-ckpt"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    src.addData(rowsA: _*); q.processAllAvailable()
    // snapshot after the training batch: later equality is checked
    // against THIS frozen quantizer (the addVectors contract)
    val snap0codes = IvfPqSharedPackedIndex.load(spark, cat, "annidx")
      .codes.collect().toSeq
    src.addData(rowsB: _*); q.processAllAvailable()
    q.stop()

    val streamed = IvfPqSharedPackedIndex.load(spark, cat, "annidx")
    // stream == batch: the final code table equals the batch-0 snapshot
    // extended by a batch addVectors fold of the SAME rows under the
    // SAME frozen quantizer, bit for bit
    val expect = IvfPqSharedPackedIndex.load(spark, cat, "annidx")
      .copy(codes = spark.createDataFrame(
        spark.sparkContext.parallelize(snap0codes),
        streamed.codes.schema))
      .addVectors(rowsB.toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(streamed.codes.exceptAll(expect.codes).isEmpty &&
      expect.codes.exceptAll(streamed.codes).isEmpty)
    // every ingested vector is probe-able
    assert(streamed.codes.count() == all.size.toLong)
    val qv = all.head._2
    val a = streamed.probe(qv, k = 15, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = expect.probe(qv, k = 15, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)

    // at-least-once replay (crash after commit, before checkpoint):
    // re-applying a recorded batch id is a no-op — the double-fire does
    // not duplicate codes (which would also trip the fresh-id guard)
    assert(!IvfPqSharedPackedIndex.applyBatch(
      rowsB.toDF("vec_id", "embedding"), batchId = 1L, "vec_id",
      "embedding", cat, "annidx", kc = 8, m = 8, dims = 64, ksub = 16,
      iters = 1, trainLimit = Some(300)))
    assert(IvfPqSharedPackedIndex.load(spark, cat, "annidx")
      .codes.count() == all.size.toLong)
    // a genuinely new batch applies through the same (backfill) entry
    val extra = Seq((999001L, all.head._2), (999002L, all(1)._2))
    assert(IvfPqSharedPackedIndex.applyBatch(
      extra.toDF("vec_id", "embedding"), batchId = 2L, "vec_id",
      "embedding", cat, "annidx", kc = 8, m = 8, dims = 64, ksub = 16,
      iters = 1, trainLimit = Some(300)))
    assert(IvfPqSharedPackedIndex.load(spark, cat, "annidx")
      .codes.count() == all.size.toLong + 2)
  }
}
