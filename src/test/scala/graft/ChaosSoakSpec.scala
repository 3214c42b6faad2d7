package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.catalog.VersionedCatalog
import graft.replicate._
import graft.schema.PpdbSchema.ChunkStatus

/** The three reference services — replicate (export), upload, promote —
  * racing CONCURRENTLY over one catalog while the soak controller injects
  * the failures the reference's deployment docs call out
  * (P/bigquery/chunk_uploader.py:57-75 rollback, chunk_promoter.py:117-348
  * atomicity): a tampered chunk file mid-upload, a crash between a promote
  * commit's data writes and its pointer move, and continuous
  * optimistic-concurrency contention on the chunk-status table. The end
  * state must be byte-equivalent to a failure-free serial run: every chunk
  * applied exactly once, validity chains intact, no partial publish ever
  * observable, catalog reopenable cold.
  */
class ChaosSoakSpec extends SparkSpec {

  private val far = Long.MaxValue / 4

  test("chaos soak: concurrent run+upload+promote survive a tampered " +
      "chunk, a crash before publish, and CAS contention — exactly-once, " +
      "no partial state, recoverable catalog") {
    val nObjects = 6
    val nChunks = 10
    val catRoot = tmpDir("soak-cat")
    // short orphan grace: the induced crash leaves an orphaned commit
    // claim, and the surviving services must usurp it promptly
    val cat = new VersionedCatalog(catRoot, orphanGraceMs = 300L)
    val promoter = new Promoter(spark, cat, tmpDir("soak-export"))
    promoter.init()
    val apdb = new TestApdb(spark, nObjects, nChunks)
    val replicator =
      new Replicator(spark, apdb, new PpdbStaged(spark, promoter))
    val remoteRoot = tmpDir("soak-remote")

    def statuses(): Map[Long, String] =
      cat.read(spark, "PpdbReplicaChunk")
        .select("apdb_replica_chunk", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    // ---- phase A (serial): export chunks 1-3, then tamper chunk 3's
    // DiaObject parquet before any uploader ever sees it
    replicator.runOnce(nowUs = far, limit = Some(3))
    assert(statuses().keySet == Set(1L, 2L, 3L))
    val tamperTarget = Files.list(Paths.get(promoter.chunkDir(3), "DiaObject"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val originalBytes = Files.readAllBytes(tamperTarget)
    Files.write(tamperTarget, (originalBytes :+ 0x5a.toByte))

    // ---- phase B (concurrent): the three service loops race; the
    // promoter's FIRST publish is killed between its table writes and its
    // pointer move (armed from the start, fires once)
    val armKill = new AtomicBoolean(true)
    @volatile var crashFired = false
    cat.beforePointerMove = () =>
      if (Thread.currentThread().getName == "chaos-promoter" &&
          armKill.getAndSet(false)) {
        crashFired = true
        throw new RuntimeException("induced-crash before publish")
      }

    @volatile var stop = false
    val errors = mutable.ArrayBuffer.empty[Throwable] // promoter-run escapes
    val repDone = new AtomicBoolean(false)

    // the replicator keeps its own loop: the soak needs 2-chunk polls
    val repThread = new Thread(() => {
      try {
        while (!stop && statuses().size < nChunks)
          replicator.runOnce(nowUs = far, limit = Some(2))
      } finally repDone.set(true)
    }, "chaos-replicator")
    // uploader and promoter run the services' own poll loop, idle polls
    // sleeping a short check interval, and end on requestStop
    val uploader = new ChunkUploader(spark, promoter, remoteRoot,
      notify = (id, _) => promoter.stageChunks(Seq(id)))
    val upLoop = new ServiceLoop
    val upThread = new Thread(() => {
      upLoop.run(20L)(uploader.runOnce()); ()
    }, "chaos-uploader")
    // the induced crash ends a promoter run the way it ends the CLI
    // service: restart until a run ends normally, which only a stop does
    // (a stop landing between a crash and its restart ends the restart)
    val promoThread = new Thread(() => {
      var running = true
      while (running) {
        try {
          promoter.run(maxChunksPerPoll = Some(2), checkIntervalMs = 20L)
          running = false
        } catch { case e: Throwable => errors.synchronized(errors += e) }
      }
    }, "chaos-promoter")
    Seq(repThread, upThread, promoThread).foreach(_.start())

    // the tampered chunk wedges the contiguous-promote barrier while its
    // successors keep flowing: wait until 1-2 promoted (proves recovery
    // from the induced crash), 3 still stuck exported, and at least one
    // later chunk progressed past it
    val deadline = System.nanoTime() + 240L * 1000000000L
    def waitFor(what: String)(cond: => Boolean): Unit =
      while (!cond) {
        assert(System.nanoTime() < deadline, s"soak timed out waiting: $what")
        Thread.sleep(100L)
      }
    waitFor("blocked prefix under tamper") {
      val s = statuses()
      s.get(1L).contains(ChunkStatus.Promoted) &&
        s.get(2L).contains(ChunkStatus.Promoted) &&
        s.get(3L).contains(ChunkStatus.Exported) &&
        (4L to nChunks.toLong).exists(id => s.get(id).exists(st =>
          st == ChunkStatus.Uploaded || st == ChunkStatus.Staged))
    }
    assert(crashFired, "induced crash never fired")
    // T5 under failure: nothing beyond the wedge ever promoted
    val mid = statuses()
    (4L to nChunks.toLong).foreach(id =>
      assert(!mid.get(id).contains(ChunkStatus.Promoted),
        s"chunk $id promoted past the wedged chunk 3"))

    // ---- heal: restore chunk 3's original bytes; the uploader's next
    // poll retries it and promotion drains the whole backlog
    Files.write(tamperTarget, originalBytes)
    waitFor("full drain after heal") {
      val s = statuses()
      s.size == nChunks && s.values.forall(_ == ChunkStatus.Promoted)
    }
    stop = true
    upLoop.requestStop()
    promoter.requestStop()
    Seq(repThread, upThread, promoThread).foreach(_.join(30000L))

    // ---- end state == failure-free serial run, exactly once
    val objects = cat.read(spark, "internal.DiaObject")
    assert(objects.count() == nObjects.toLong * nChunks)
    val chains = objects
      .select("diaObjectId", "validityStartMjdTai", "validityEndMjdTai")
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getDouble(1))).toMap
    assert(chains.size == nObjects)
    chains.values.foreach { rows =>
      assert(rows.length == nChunks)
      rows.init.zip(rows.tail).foreach { case (a, b) =>
        assert(a.getDouble(2) == b.getDouble(1), "validity chain broken")
      }
      assert(rows.last.isNullAt(2), "latest version must stay open")
    }
    val sources = cat.read(spark, "internal.DiaSource")
    assert(sources.count() == nObjects.toLong * nChunks)
    assert(sources.select("diaSourceId").distinct().count() ==
      nObjects.toLong * nChunks, "duplicate fact rows applied")
    assert(cat.read(spark, "public.DiaObjectLast").count() == nObjects.toLong)
    assert(cat.read(spark, "staging.DiaObject").count() == 0L)
    assert(cat.read(spark, "staging.updates").count() == 0L)

    // the only promoter-run escape is the induced crash; everything else
    // (CAS contention, concurrent staging) resolved internally
    val unexpected = errors.synchronized(errors.toList).filterNot(e =>
      Option(e.getMessage).exists(_.contains("induced-crash")) ||
        e.isInstanceOf[graft.catalog.ConcurrentCommitException])
    assert(unexpected.isEmpty,
      s"unexpected service errors: ${unexpected.map(_.toString).take(3)}")

    // cold recovery: a fresh catalog handle on the same root reads every
    // table (no dangling dirs from the crashed commit's written-but-
    // unpublished data)
    val reopened = new VersionedCatalog(catRoot)
    Seq("internal.DiaObject", "internal.DiaSource",
      "internal.DiaForcedSource", "public.DiaObjectLast",
      "PpdbReplicaChunk").foreach { t =>
      assert(reopened.read(spark, t).count() >= 0L, s"reopen failed: $t")
    }
  }

  // the pair-graph maintenance soak, parameterized over the two save
  // paths: append-delta commits (the production O(batch) fold) and
  // legacy full-rewrite commits. Both must satisfy the same invariants —
  // append commits change the snapshot surface (a pinned reader must see
  // exactly its prefix of delta dirs), which is what the readers check.
  private def pairGraphSoak(appendCommits: Boolean, tag: String): Unit = {
    import spark.implicits._
    import graft.ops.Dedup
    val cat = new VersionedCatalog(tmpDir(s"soak-pg-$tag"),
      orphanGraceMs = 300L)
    val (n, h, r, t) = (3, 8, 1, 0.25)
    val name = "pg_soak"
    // cross-batch near-dups: 11/30 pair into batch 0's family, 20 into
    // batch 1's — every fold adds old↔new edges, not just self-pairs
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta iota")),
      Seq((10L, "one two three four five six seven eight nine"),
        (11L, "alpha beta gamma delta epsilon zeta eta kappa")),
      Seq((20L, "one two three four five six seven eight ten")),
      Seq((30L, "alpha beta gamma delta epsilon zeta eta theta again"),
        (31L, "quick brown fox jumps over the lazy dog today")))
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // serial-fold ground truth: edge COUNT after each prefix (what any
    // reader snapshot must match) and the final edge SET
    val prefixCounts = (1 to batches.size).map { i =>
      val idx = Dedup.pairGraphIndex(
        batches.take(i).flatten.toDF("doc_id", "text"),
        "doc_id", "text", n, h, r, t)
      val c = idx.edges.count()
      idx.release(); Dedup.releaseCaches()
      c
    }.toSet
    assert(prefixCounts.max >= 4, "fixture produced a trivial graph")

    // concurrent readers: load the committed index mid-maintenance and
    // assert every snapshot is a CONSISTENT committed prefix (the
    // pinned-commit loadPairGraphIndex contract — a reader interleaving
    // per-table reads across a maintenance commit would see edge/params
    // tables from different folds)
    @volatile var stop = false
    val readerErrors =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val readers = (1 to 2).map(i => new Thread(() => {
      while (!stop) {
        try if (cat.exists(s"$name.params")) {
          val idx = Dedup.loadPairGraphIndex(spark, cat, name)
          val e = idx.edges.count()
          observed.add(e)
          if (!prefixCounts.contains(e))
            readerErrors.add(s"snapshot edge count $e not a serial " +
              s"prefix of $prefixCounts")
        } catch {
          case ex: Throwable => readerErrors.add(s"reader died: $ex")
        }
        Thread.sleep(10L)
      }
    }, s"pg-soak-reader-$i"))
    readers.foreach(_.start())

    def apply(id: Long): Boolean = Dedup.applyPairGraphBatch(
      batches(id.toInt).toDF("doc_id", "text"), id, "doc_id", "text",
      cat, name, n, h, r, t, appendCommits = appendCommits)

    assert(apply(0L))
    // induced crash BETWEEN data writes and the pointer move on batch 1's
    // first attempt: the commit must abort invisibly and the redelivery
    // re-applies in full (the pointer never moved, so nothing was folded)
    val armKill = new AtomicBoolean(true)
    val prevHook = cat.beforePointerMove
    cat.beforePointerMove = () =>
      if (armKill.getAndSet(false))
        throw new RuntimeException("induced-crash mid-commit")
    val crashed = intercept[RuntimeException] { apply(1L) }
    assert(crashed.getMessage.contains("induced-crash"))
    cat.beforePointerMove = prevHook
    Dedup.releaseCaches() // the aborted fold's transient caches
    assert(apply(1L), "redelivery after mid-commit crash must re-apply")
    assert(apply(2L))
    // crash AFTER save, BEFORE checkpoint: the stream redelivers batch 2
    // — must be an exactly-once no-op (params.last_batch_id gates it)
    assert(!apply(2L), "replayed batch id must be a no-op")
    assert(apply(3L))

    stop = true
    readers.foreach(_.join(30000L))
    assert(readerErrors.isEmpty,
      s"reader violations: ${readerErrors.toArray.take(3).mkString("; ")}")
    assert(!observed.isEmpty, "readers never observed a committed snapshot")

    // end state == one serial fold over everything ingested, and the
    // index-fed consumer agrees with the inline pipeline on the union
    val all = batches.flatten.toDF("doc_id", "text")
    val rebuilt = Dedup.pairGraphIndex(all, "doc_id", "text", n, h, r, t)
    val committed = Dedup.loadPairGraphIndex(spark, cat, name)
    assert(edgeSet(committed.edges) == edgeSet(rebuilt.edges),
      "soaked fold != serial rebuild")
    val fromIndex = committed.dupClusters(all.select($"doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    val inline = Dedup.dupClusters(all.select($"doc_id"), "doc_id",
        Dedup.minhashLshPairs(all, "doc_id", "text", n, h, r, t)
          .select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(fromIndex == inline, "index-fed clusters diverged after soak")
    // commit-cost shape check: append folds accumulate one delta dir per
    // applied batch on top of the build's dir; rewrite folds keep one
    val edgeDirs = cat.current._2(s"$name.edges").size
    if (appendCommits)
      assert(edgeDirs == batches.size,
        s"append saves should leave one dir per fold, got $edgeDirs")
    else assert(edgeDirs == 1,
      s"rewrite saves should leave exactly one dir, got $edgeDirs")
    rebuilt.release()
    Dedup.releaseCaches()
  }

  test("pair-graph maintenance soak (append-delta commits): mid-commit " +
      "crash + at-least-once replay under concurrent readers — end state " +
      "== serial fold, every reader snapshot a committed prefix") {
    pairGraphSoak(appendCommits = true, tag = "append")
  }

  test("pair-graph maintenance soak (full-rewrite commits): same " +
      "invariants on the legacy save path") {
    pairGraphSoak(appendCommits = false, tag = "rewrite")
  }

  test("pair-graph compaction soak: 12 append folds with compaction " +
      "firing mid-stream under two pinned readers + one induced crash — " +
      "end state == serial fold, content identical across compaction " +
      "commits") {
    import spark.implicits._
    import graft.ops.Dedup
    val cat = new VersionedCatalog(tmpDir("soak-pg-compact"),
      orphanGraceMs = 300L)
    val (n, h, r, t) = (3, 8, 1, 0.25)
    val name = "pg_cmp"
    // 12 batches drawn from 3 recurring families + per-batch noise, so
    // every fold adds cross-batch edges and the graph keeps growing
    val fams = Seq(
      "alpha beta gamma delta epsilon zeta eta",
      "one two three four five six seven",
      "red green blue yellow purple orange pink")
    val batches: Seq[Seq[(Long, String)]] = (0 until 12).map { b =>
      Seq((b * 10L + 1L, s"${fams(b % 3)} tail$b"),
        (b * 10L + 2L, s"unique content window $b nothing shared here $b"))
    }
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val prefixCounts = (1 to batches.size).map { i =>
      val idx = Dedup.pairGraphIndex(
        batches.take(i).flatten.toDF("doc_id", "text"),
        "doc_id", "text", n, h, r, t)
      val c = idx.edges.count()
      idx.release(); Dedup.releaseCaches()
      c
    }.toSet
    assert(prefixCounts.max >= 10, "fixture produced a trivial graph")

    @volatile var stop = false
    val readerErrors = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val readers = (1 to 2).map(i => new Thread(() => {
      while (!stop) {
        try if (cat.exists(s"$name.params")) {
          val idx = Dedup.loadPairGraphIndex(spark, cat, name)
          val e = idx.edges.count()
          observed.add(e)
          if (!prefixCounts.contains(e))
            readerErrors.add(s"snapshot edge count $e not a serial " +
              s"prefix of $prefixCounts")
        } catch {
          case ex: Throwable => readerErrors.add(s"reader died: $ex")
        }
        Thread.sleep(10L)
      }
    }, s"pg-compact-reader-$i"))
    readers.foreach(_.start())

    // low dir bound: compaction fires repeatedly mid-stream (each fold
    // appends one dir to each data table; past 3 dirs the table rewrites
    // back to one)
    def apply(id: Long): Boolean = Dedup.applyPairGraphBatch(
      batches(id.toInt).toDF("doc_id", "text"), id, "doc_id", "text",
      cat, name, n, h, r, t, maxDeltaDirs = 3)

    var compactionsSeen = 0
    var crashUsed = false
    (0 until batches.size).foreach { i =>
      val dirsBefore = if (cat.exists(s"$name.edges"))
        cat.current._2(s"$name.edges").size else 0
      if (i == 5 && !crashUsed) {
        // induced crash between a fold's data writes and its pointer
        // move: the append commit must abort invisibly and redelivery
        // re-applies in full
        val armKill = new AtomicBoolean(true)
        val prevHook = cat.beforePointerMove
        cat.beforePointerMove = () =>
          if (armKill.getAndSet(false))
            throw new RuntimeException("induced-crash mid-append")
        val crashed = intercept[RuntimeException] { apply(i.toLong) }
        assert(crashed.getMessage.contains("induced-crash"))
        cat.beforePointerMove = prevHook
        Dedup.releaseCaches()
        crashUsed = true
      }
      assert(apply(i.toLong), s"batch $i must apply")
      val dirsAfter = cat.current._2(s"$name.edges").size
      if (dirsAfter < dirsBefore) {
        compactionsSeen += 1
        // content across the compaction boundary is identical: the
        // pre-compaction commit (pinned history) reads bit-equal to the
        // post-compaction current snapshot
        val cur = cat.currentCommit
        val preCompact = cat.commits.filter(_ < cur).max
        assert(
          edgeSet(cat.readAt(spark, s"$name.edges", preCompact)) ==
            edgeSet(cat.read(spark, s"$name.edges")),
          "compaction changed table content")
      }
      // replay gate stays exact under append commits + compaction
      assert(!apply(i.toLong), s"replayed batch $i must be a no-op")
    }
    assert(compactionsSeen >= 2,
      s"compaction never cycled (saw $compactionsSeen) — raise batches " +
        "or lower maxDeltaDirs")

    stop = true
    readers.foreach(_.join(30000L))
    assert(readerErrors.isEmpty,
      s"reader violations: ${readerErrors.toArray.take(3).mkString("; ")}")
    assert(!observed.isEmpty, "readers never observed a committed snapshot")

    // end state == one serial fold over everything ingested
    val all = batches.flatten.toDF("doc_id", "text")
    val rebuilt = Dedup.pairGraphIndex(all, "doc_id", "text", n, h, r, t)
    val committed = Dedup.loadPairGraphIndex(spark, cat, name)
    assert(edgeSet(committed.edges) == edgeSet(rebuilt.edges),
      "soaked append+compact fold != serial rebuild")
    rebuilt.release()
    Dedup.releaseCaches()
  }
}
