package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.catalog.VersionedCatalog

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("commit publishes atomically and reads are snapshots") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("t" -> Seq(1, 2, 3).toDF("x")))
    val snap = cat.read(spark, "t")
    assert(snap.count() == 3)

    cat.commit(Map("t" -> Seq(4, 5).toDF("x")))
    // old snapshot still readable (immutable version dir)
    assert(snap.count() == 3)
    assert(cat.read(spark, "t").count() == 2)
  }

  test("the pointer and history store dir names relative to the root: " +
      "their bytes do not depend on the root path") {
    import graft.catalog.TableDelta
    val roots = Seq(tmpDir("c"), tmpDir("c-under-a-much-longer-root-path"))
    assert(roots(0).length != roots(1).length)
    val sizes = roots.map { root =>
      val cat = new VersionedCatalog(root)
      cat.commit(Map("a" -> Seq(1).toDF("x"), "b" -> Seq(1).toDF("x")))
      cat.commitAll(Map("a" -> TableDelta(appends = Seq(Seq(2).toDF("x") -> "l"))))
      // the in-memory dir strings are the paths the writes made
      assert(cat.current._2.values.flatten.forall(_.startsWith(root + "/")))
      assert(cat.read(spark, "a").as[Int].collect().sorted.toSeq == Seq(1, 2))
      val meta = Paths.get(root, "_CURRENT") +:
        cat.commits.map(c => Paths.get(root, "_commits", s"$c.json"))
      assert(meta.forall(f => !new String(Files.readAllBytes(f)).contains(root)))
      meta.map(Files.size)
    }
    assert(sizes(0) == sizes(1))
  }

  test("a catalog whose pointer and history hold absolute dir paths " +
      "(written before relative names) still reads and time-travels") {
    import graft.catalog.TableDelta
    val root = tmpDir("legacy")
    val cat = new VersionedCatalog(root)
    val c1 = cat.commit(Map("t" -> Seq(1, 2).toDF("x")))
    val at1 = cat.current
    val c2 = cat.commitAll(Map("t" ->
      TableDelta(appends = Seq(Seq(3).toDF("x") -> "l"))))
    val at2 = cat.current
    // rewrite pointer and history the old way: absolute paths, no flag
    def legacy(state: (Long, Map[String, Seq[String]])) = {
      val tables = state._2.map { case (t, ds) =>
        s""""$t":${ds.map(d => s""""$d"""").mkString("[", ",", "]")}"""
      }.mkString(",")
      s"""{"commit":${state._1},"tables":{$tables}}""".getBytes
    }
    assert(at2._2("t").forall(d => Paths.get(d).isAbsolute))
    Files.write(Paths.get(root, "_commits", s"$c1.json"), legacy(at1))
    Files.write(Paths.get(root, "_commits", s"$c2.json"), legacy(at2))
    Files.write(Paths.get(root, "_CURRENT"), legacy(at2))
    val old = new VersionedCatalog(root)
    assert(old.current == at2)
    assert(old.read(spark, "t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(old.readAt(spark, "t", c1).as[Int].collect().sorted.toSeq ==
      Seq(1, 2))
    assert(old.diff(spark, "t", c1, c2).select("change", "x").as[(String, Int)]
      .collect().toSeq == Seq(("added", 3)))
    // a commit on top writes relative names; the old dirs still resolve,
    // history still reads both ways, and vacuum keeps every live dir
    val c3 = old.commitAll(Map("t" ->
      TableDelta(appends = Seq(Seq(4).toDF("x") -> "m"))))
    assert(!new String(Files.readAllBytes(Paths.get(root, "_CURRENT")))
      .contains(root))
    assert(old.current._2("t").take(2) == at2._2("t"))
    assert(old.readAt(spark, "t", c2).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3))
    old.vacuum(retainCommits = 1)
    assert(old.read(spark, "t").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4))
    assert(old.readAt(spark, "t", c3 - 1).count() == 3)
  }

  test("multi-table commit is all-or-nothing for readers") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("a" -> Seq(1).toDF("x"), "b" -> Seq(1).toDF("x")))
    // simulate crash between data write and publish: write a version dir
    // by hand, never move the pointer
    val orphan = Paths.get(cat.root, "a", "v99999999")
    Seq(9, 9, 9).toDF("x").write.parquet(orphan.toString)
    assert(cat.read(spark, "a").count() == 1, "unpublished write invisible")
    // vacuum removes the orphan
    assert(cat.vacuum() >= 1)
    assert(!Files.exists(orphan))
    assert(cat.read(spark, "a").count() == 1)
  }

  test("a write failing inside a concurrent multi-table commit surfaces " +
      "unwrapped and publishes nothing; vacuum sweeps its siblings' dirs") {
    import graft.catalog.TableDelta
    import org.apache.spark.sql.functions.{col, udf}
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("a" -> Seq(1).toDF("x"), "b" -> Seq(1).toDF("x"),
      "c" -> Seq(1).toDF("x")))
    val pointer = Paths.get(cat.root, "_CURRENT")
    val pointerBefore = Files.readAllBytes(pointer).toSeq
    val before = cat.current
    val boom = udf { (x: Int) =>
      if (x == 2) throw new IllegalStateException("boom-in-write"); x }
    val failing = Seq(1, 2, 3).toDF("x").select(boom(col("x")).as("x"))
    // the exception the failing write throws when run on its own
    val alone = intercept[Exception] {
      failing.write.parquet(Paths.get(tmpDir("alone"), "x").toString)
    }
    val e = intercept[Exception] {
      cat.commitAll(Map(
        "a" -> TableDelta(appends = Seq(Seq(5, 6).toDF("x") -> "ok")),
        "b" -> TableDelta(rewrite = Some(failing)),
        "c" -> TableDelta(rewrite = Some(Seq(7).toDF("x")))))
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(e.getClass == alone.getClass, e)
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(chain(e).exists(x => String.valueOf(x.getMessage)
      .contains("boom-in-write")), e)
    // nothing published: same pointer bytes, same dir list per table
    assert(Files.readAllBytes(pointer).toSeq == pointerBefore)
    assert(cat.current == before)
    assert(cat.read(spark, "a").as[Int].collect().toSeq == Seq(1))
    // the siblings finished their writes before the commit failed; those
    // dirs are unreferenced orphans that vacuum removes
    def unpublished(t: String): Seq[java.nio.file.Path] = {
      val live = before._2(t).map(Paths.get(_).toAbsolutePath).toSet
      val s = Files.list(Paths.get(cat.root, t))
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .filterNot(d => live.contains(d.toAbsolutePath)).toSeq
      finally s.close()
    }
    assert(unpublished("a").nonEmpty && unpublished("c").nonEmpty)
    cat.vacuum()
    Seq("a", "b", "c").foreach(t => assert(unpublished(t).isEmpty, t))
    assert(cat.current == before)
  }

  test("untouched tables carry over across commits (zero-copy)") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("a" -> Seq(1).toDF("x"), "b" -> Seq(2).toDF("x")))
    val (_, dirs1) = cat.current
    cat.commit(Map("a" -> Seq(10).toDF("x")))
    val (_, dirs2) = cat.current
    assert(dirs1("b") == dirs2("b"), "b's data dir unchanged")
    assert(dirs1("a") != dirs2("a"))
  }

  test("clone is zero-copy and independent after rewrite") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("src" -> Seq(1, 2).toDF("x")))
    cat.clone("src", "dst")
    assert(cat.read(spark, "dst").count() == 2)
    val (_, dirs) = cat.current
    assert(dirs("src") == dirs("dst"))
    cat.commit(Map("dst" -> Seq(1, 2, 3).toDF("x")))
    assert(cat.read(spark, "src").count() == 2)
    assert(cat.read(spark, "dst").count() == 3)
  }

  test("labeled appends accumulate; drops are directory dereferences") {
    import graft.catalog.TableDelta
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("t" -> Seq(1).toDF("x")))
    val baseDirs = cat.current._2("t")
    cat.commitAll(Map("t" -> TableDelta(appends = Seq(
      Seq(2).toDF("x") -> "chunk1", Seq(3).toDF("x") -> "chunk2"))))
    assert(cat.read(spark, "t").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2, 3))
    // base dir carried over untouched (no rewrite on append)
    assert(cat.current._2("t").startsWith(baseDirs))
    assert(cat.current._2("t").size == 3)

    cat.commitAll(Map("t" -> TableDelta(dropLabels = Set("chunk1"))))
    assert(cat.read(spark, "t").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 3))
    assert(cat.current._2("t").size == 2)
    // dropped dir survives on disk until vacuum, then is removed
    assert(cat.vacuum() >= 1)
  }

  test("compact folds append dirs into one and preserves contents") {
    import graft.catalog.TableDelta
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("t" -> Seq(1).toDF("x")))
    cat.commitAll(Map("t" -> TableDelta(appends = Seq(
      Seq(2).toDF("x") -> "c1", Seq(3).toDF("x") -> "c2",
      Seq(4).toDF("x") -> "c3"))))
    assert(cat.current._2("t").size == 4)
    cat.compact(spark, "t", targetPartitions = 1)
    assert(cat.current._2("t").size == 1)
    assert(cat.read(spark, "t").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2, 3, 4))
    assert(cat.vacuum() >= 4, "old dirs reclaimed")
  }

  test("drop removes table from pointer") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("t" -> Seq(1).toDF("x")))
    cat.drop("t")
    assert(!cat.exists("t"))
    intercept[IllegalArgumentException] { cat.read(spark, "t") }
  }

  test("zone-map sidecars prune dirs from the patch probe") {
    import graft.catalog.TableDelta
    val cat = new VersionedCatalog(tmpDir("cat"))
    def rows(ids: Range) =
      ids.map(i => (i.toLong, 60000.0 + i)).toDF("diaObjectId", "midpointMjdTai")
    cat.commit(Map("z.DiaForcedSource" -> rows(1 to 10)))
    cat.commitAll(Map("z.DiaForcedSource" -> TableDelta(
      appends = Seq(rows(100 to 110) -> "c2"))))
    val dirs = cat.current._2("z.DiaForcedSource")
    assert(dirs.forall(d => Files.exists(Paths.get(d,
      VersionedCatalog.ZoneMapFile))), "every written dir has a zone map")

    // corrupt the second dir's data; a probe inside the FIRST dir's id
    // range must succeed without ever opening the corrupted files
    val dirB = dirs(1)
    Files.walk(Paths.get(dirB)).iterator()
      .forEachRemaining { p =>
        if (p.toString.endsWith(".parquet")) Files.write(p, "junk".getBytes)
      }
    val keys = StructType(Seq(StructField("diaObjectId", LongType)))
    def probe(ids: Long*) = cat.dirsTouching(spark, "z.DiaForcedSource",
      keys, ids.map(i => Row(i) -> true).toMap)
    assert(probe(5L) == VersionedCatalog.KeyProbe(Seq(dirs.head), Set(Row(5L))),
      "zone map pruned the out-of-range dir driver-side")
    // keys on both sides of dir B's range, none inside it: the bounds of
    // the key set overlap B, but no single key can lie in B, so B is
    // still pruned
    assert(probe(5L, 50L, 200L).dirs == Seq(dirs.head))
    // a probe overlapping dir B's range DOES have to read it (and trips
    // over the corruption) — evidence the prune, not luck, skipped it
    intercept[Exception](probe(105L))
  }

  test("dir probe returns the flagged keys it found, and an empty key " +
      "set starts no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.catalog.TableDelta
    val cat = new VersionedCatalog(tmpDir("cat"))
    def rows(ids: Seq[(Long, Long, Short)]) =
      ids.toDF("diaObjectId", "visit", "detector")
        .withColumn("midpointMjdTai", $"visit" + 60000.0)
    cat.commit(Map("z.DiaForcedSource" ->
      rows(Seq((1L, 10L, 1.toShort), (3L, 10L, 2.toShort),
        (9L, 11L, 1.toShort)))))
    cat.commitAll(Map("z.DiaForcedSource" -> TableDelta(
      appends = Seq(rows(Seq((20L, 12L, 7.toShort))) -> "c2"))))
    val Seq(dirA, dirB) = cat.current._2("z.DiaForcedSource")
    val keys = StructType(Seq(StructField("diaObjectId", LongType),
      StructField("visit", LongType), StructField("detector", ShortType)))
    def k(o: Long, v: Long, d: Int) = Row(o, v, d.toShort)
    val got = cat.dirsTouching(spark, "z.DiaForcedSource", keys, Map(
      k(1, 10, 1) -> true, // present, flagged: found
      k(3, 10, 2) -> false, // present, not flagged: opens its dir only
      k(3, 10, 1) -> true, // inside dir A's range, absent: never found
      k(20, 12, 7) -> false))
    assert(got.dirs.toSet == Set(dirA, dirB))
    assert(got.found == Set(k(1, 10, 1)), got.found)
    // a flagged key whose dir holds other rows only: dir not touched
    val miss = cat.dirsTouching(spark, "z.DiaForcedSource", keys,
      Map(k(2, 10, 1) -> true))
    assert(miss == VersionedCatalog.KeyProbe(Nil, Set.empty), miss)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    val empty =
      try cat.dirsTouching(spark, "z.DiaForcedSource", keys, Map.empty)
      finally {
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(l)
      }
    assert(empty == VersionedCatalog.KeyProbe(Nil, Set.empty))
    assert(jobs.get == 0, s"${jobs.get} jobs for an empty key set")
  }

  test("an empty dir's zone map prunes it, and mayHold bounds what a " +
      "table's dirs hold") {
    import graft.catalog.TableDelta
    val cat = new VersionedCatalog(tmpDir("cat"))
    val field = StructField("diaObjectId", LongType)
    assert(cat.mayHold("z.DiaObject", field).isEmpty, "no table, no values")
    def rows(ids: Range) =
      ids.map(i => (i.toLong, 60000.0 + i)).toDF("diaObjectId", "x")
    cat.commit(Map("z.DiaObject" -> rows(1 to 0)))
    val Seq(empty) = cat.current._2("z.DiaObject")
    assert(new String(Files.readAllBytes(Paths.get(empty,
      VersionedCatalog.ZoneMapFile))).trim == "{}")
    assert(cat.mayHold("z.DiaObject", field).isEmpty, "only an empty dir")
    cat.commitAll(Map("z.DiaObject" -> TableDelta(appends = Seq(
      rows(10 to 20) -> "a", rows(40 to 50) -> "b"))))
    val ids = (0L to 60L).toDF("diaObjectId")
    def admitted = ids.where(cat.mayHold("z.DiaObject", field).get)
      .as[Long].collect().toSet
    assert(admitted == (10L to 50L).toSet, "the envelope of the dirs' bounds")
    // the empty dir is never opened: a probe succeeds past its junk
    Files.walk(Paths.get(empty)).iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) Files.write(p, "junk".getBytes)
    }
    val probed = cat.dirsTouching(spark, "z.DiaObject", StructType(Seq(field)),
      Map(Row(15L) -> true))
    assert(probed.found == Set(Row(15L)) && probed.dirs.size == 1)
    // a dir whose zone map is gone cannot be bounded
    val withMap = cat.current._2("z.DiaObject").filterNot(_ == empty)
    Files.delete(Paths.get(withMap.head, VersionedCatalog.ZoneMapFile))
    assert(ids.where(cat.mayHold("z.DiaObject", field).get).count() == 61)
  }

  test("dir probe sends back distinct files and found keys, not one row " +
      "per matching version") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val cat = new VersionedCatalog(tmpDir("cat"))
    // 4000 versions of object 5 and one of object 6, in one dir
    val versions = (1 to 4000).map(v => (5L, 60000.0 + v)) :+ ((6L, 60000.0))
    cat.commit(Map("z.DiaObject" ->
      versions.toDF("diaObjectId", "validityStartMjdTai").coalesce(1)))
    val keys = StructType(Seq(StructField("diaObjectId", LongType)))
    val resultBytes = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        resultBytes.addAndGet(e.taskMetrics.resultSize); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    val got =
      try cat.dirsTouching(spark, "z.DiaObject", keys,
        Map(Row(5L) -> true, Row(6L) -> false))
      finally {
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(l)
      }
    assert(got == VersionedCatalog.KeyProbe(cat.current._2("z.DiaObject"),
      Set(Row(5L))))
    // one row per matching version would send back 4000 file paths
    // (over 400 KB); a task's distinct files and keys fit in a few KB
    assert(resultBytes.get < 64 * 1024, s"${resultBytes.get} result bytes")
  }

  test("time-bucket layout: range reads prune partition dirs") {
    import org.apache.spark.sql.functions.input_file_name
    val cat = new VersionedCatalog(tmpDir("cat"))
    // midpointMjdTai spans three 30-day buckets: 2000, 2001, 2003
    def rows(ids: Seq[Long], mjds: Seq[Double]) =
      ids.zip(mjds).toDF("diaObjectId", "midpointMjdTai")
    cat.commit(Map("facts.DiaSource" ->
      rows(Seq(1L, 2L, 3L), Seq(60010.0, 60040.0, 60100.0))))
    cat.commitAll(Map("facts.DiaSource" -> graft.catalog.TableDelta(
      appends = Seq(rows(Seq(4L), Seq(60015.0)) -> "c2"))))

    // logical schema unchanged (bucket column internal to the layout)
    assert(cat.read(spark, "facts.DiaSource").columns.toSeq ==
      Seq("diaObjectId", "midpointMjdTai"))
    assert(cat.read(spark, "facts.DiaSource").count() == 4)

    // range read returns exactly the in-range rows...
    val ranged = cat.readRange(spark, "facts.DiaSource", 60005.0, 60020.0)
    assert(ranged.select("diaObjectId").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 4L))
    // ...the plan carries a partition filter on the bucket column...
    val plan = ranged.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") && plan.contains("mjd_bucket"),
      plan.linesIterator.take(30).mkString("\n"))
    // ...and fewer files are scanned than a full read touches
    def filesOf(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().count()
    assert(filesOf(ranged) < filesOf(cat.read(spark, "facts.DiaSource")),
      "partition pruning skipped at least one bucket dir")
  }

  test("time travel: readAt serves past commits; vacuum retention bounds it") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    val c1 = cat.commit(Map("t" -> Seq(1, 2).toDF("x")))
    val c2 = cat.commit(Map("t" -> Seq(3).toDF("x")))
    val c3 = cat.commit(Map("t" -> Seq(4, 5, 6).toDF("x")))
    assert(cat.commits == Seq(c1, c2, c3))
    assert(cat.readAt(spark, "t", c1).count() == 2)
    assert(cat.readAt(spark, "t", c2).count() == 1)
    assert(cat.read(spark, "t").count() == 3)

    // retain one commit of history: c2 stays readable, c1 is pruned
    cat.vacuum(retainCommits = 1)
    assert(cat.readAt(spark, "t", c2).count() == 1)
    assert(cat.readAt(spark, "t", c3).count() == 3)
    intercept[IllegalArgumentException] { cat.readAt(spark, "t", c1) }

    // default vacuum keeps only the current snapshot readable
    cat.vacuum()
    assert(cat.commits == Seq(c3))
    assert(cat.read(spark, "t").count() == 3)

    // crash orphan: a history file written before a pointer move that
    // never happened must not be listed, served, or steal retention
    val orphan = Paths.get(cat.root, "_commits", s"${c3 + 7}.json")
    Files.copy(Paths.get(cat.root, "_commits", s"$c3.json"), orphan)
    assert(cat.commits == Seq(c3), "orphan not listed")
    intercept[IllegalArgumentException] {
      cat.readAt(spark, "t", c3 + 7)
    }
    cat.vacuum(retainCommits = 5)
    assert(!Files.exists(orphan), "orphan swept")
    assert(cat.readAt(spark, "t", c3).count() == 3)
  }

  test("diff: multiset-exact commit-to-commit changes; shared dirs " +
      "never read; untouched table is a metadata no-op") {
    val cat = new VersionedCatalog(tmpDir("cat-diff"))
    val c1 = cat.commit(Map(
      "t" -> Seq(1, 2, 2).toDF("x"), "u" -> Seq(9).toDF("x")))
    val c2 = cat.commit(Map("t" -> Seq(2, 3).toDF("x")))
    val d = cat.diff(spark, "t", c1, c2)
      .as[(String, Int)].collect().sorted.toSeq
    // multiset: one copy of 2 survives on each side's ledger
    assert(d == Seq(("added", 3), ("removed", 1), ("removed", 2)), d)
    // reversed direction mirrors
    assert(cat.diff(spark, "t", c2, c1)
      .as[(String, Int)].collect().sorted.toSeq ==
      Seq(("added", 1), ("added", 2), ("removed", 3)))
    // u untouched between c1 and c2: dir lists equal, so both sides are
    // limit(0) schema donors — OptimizeLimitZero erases the file scans
    val du = cat.diff(spark, "u", c1, c2)
    assert(du.count() == 0)
    val duPlan = du.queryExecution.optimizedPlan.toString
    assert(!duPlan.contains("parquet") && duPlan.contains("LocalRelation"),
      duPlan)
    // a table that appears between the commits diffs as all-added
    val c3 = cat.commit(Map("v" -> Seq(7, 8).toDF("x")))
    assert(cat.diff(spark, "v", c2, c3)
      .as[(String, Int)].collect().sorted.toSeq ==
      Seq(("added", 7), ("added", 8)))
    intercept[IllegalArgumentException] { cat.diff(spark, "w", c1, c2) }
  }

  test("compactIfNeeded folds dirs only past the threshold") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    cat.commit(Map("t" -> Seq(1).toDF("x")))
    (2 to 4).foreach { i =>
      cat.commitAll(Map("t" -> graft.catalog.TableDelta(
        appends = Seq(Seq(i).toDF("x") -> s"c$i"))))
    }
    assert(cat.current._2("t").size == 4)
    assert(!cat.compactIfNeeded(spark, "t", maxDirs = 4), "within budget")
    assert(cat.current._2("t").size == 4)
    assert(cat.compactIfNeeded(spark, "t", maxDirs = 3), "over budget")
    assert(cat.current._2("t").size == 1)
    assert(cat.read(spark, "t").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2, 3, 4))
  }

  test("a stale expected-commit fails instead of silently overwriting " +
      "a concurrent writer") {
    import graft.catalog.ConcurrentCommitException
    val root = tmpDir("occ")
    // two catalog INSTANCES on one root = two processes (the JVM-level
    // `synchronized` can't serialize them; the commit-id CAS must)
    val a = new VersionedCatalog(root)
    val b = new VersionedCatalog(root)
    a.commit(Map("t" -> Seq(1L).toDF("n")))
    val base = a.currentCommit
    b.commit(Map("t" -> Seq(2L).toDF("n"))) // interleaved peer commit
    val e = intercept[ConcurrentCommitException] {
      a.commit(Map("t" -> Seq(99L).toDF("n")), Some(base))
    }
    assert(e.getMessage.contains("advanced"))
    // the loser published nothing: b's value is live
    assert(a.read(spark, "t").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("racing read-modify-write loops under retrying lose no updates") {
    val root = tmpDir("occ-race")
    val seed = new VersionedCatalog(root)
    seed.commit(Map("counter" -> Seq(0L).toDF("n")))
    val perThread = 4
    def incrLoop(): Unit = {
      val cat = new VersionedCatalog(root) // own instance = own process
      (1 to perThread).foreach { _ =>
        cat.retrying() { expected =>
          val n = cat.read(spark, "counter").head().getLong(0)
          cat.commit(Map("counter" -> Seq(n + 1).toDF("n")), Some(expected))
        }
      }
    }
    val threads = Seq.fill(2)(new Thread(() => incrLoop()))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    // every increment survived: with last-writer-wins two racing loops
    // would finish well short of 2 x perThread
    assert(seed.read(spark, "counter").head().getLong(0) == 2L * perThread)
  }

  test("an orphaned commit claim (crash before publish) is taken over " +
      "after the grace period") {
    import java.nio.charset.StandardCharsets
    val root = tmpDir("occ-orphan")
    val cat = new VersionedCatalog(root, orphanGraceMs = 300L)
    cat.commit(Map("t" -> Seq(1L).toDF("n")))
    val next = cat.currentCommit + 1
    // simulate a writer that claimed the next id and died before the
    // pointer move
    Files.write(Paths.get(root, "_commits", s"$next.json"),
      s"""{"commit":$next,"tables":{}}"""
        .getBytes(StandardCharsets.UTF_8))
    val id = cat.commit(Map("t" -> Seq(2L).toDF("n")))
    assert(id == next, "claim stolen at the orphaned id, not skipped")
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("a writer stalled past the grace period is usurped; it aborts " +
      "loudly and the usurper's acknowledged commit survives") {
    import graft.catalog.ConcurrentCommitException
    val root = tmpDir("occ-stall")
    val stalled = new VersionedCatalog(root)
    stalled.commit(Map("t" -> Seq(1L).toDF("n")))
    val contested = stalled.currentCommit + 1
    val usurper = new VersionedCatalog(root, orphanGraceMs = 200L)
    // Freeze the first writer between its commit-id claim and its
    // pointer move — the exact window a GC pause or slow FS opens —
    // while a second writer outwaits the grace and takes the id over.
    @volatile var usurperId = -1L
    stalled.beforePointerMove = () => {
      val t = new Thread(() =>
        usurperId = usurper.commit(Map("t" -> Seq(99L).toDF("n"))))
      t.start(); t.join(60000)
    }
    val ex = intercept[ConcurrentCommitException] {
      stalled.commit(Map("t" -> Seq(2L).toDF("n")))
    }
    assert(ex.getMessage.contains("not acknowledged"))
    assert(usurperId == contested, "usurper claimed the contested id")
    // The usurper acknowledged its commit; the stalled writer must not
    // have shadowed it — readers see the usurper's data, and the
    // history file for the contested id matches what the pointer shows.
    assert(stalled.read(spark, "t").collect().map(_.getLong(0)).toSeq
      == Seq(99L))
    val hist = new String(Files.readAllBytes(
      Paths.get(root, "_commits", s"$contested.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val ptr = new String(Files.readAllBytes(Paths.get(root, "_CURRENT")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(ptr == hist, "pointer restored to the acknowledged payload")
    // the stalled writer's RMW retry then lands cleanly on the next id
    stalled.beforePointerMove = () => ()
    stalled.retrying() { expected =>
      val n = stalled.read(spark, "t").head().getLong(0)
      stalled.commit(Map("t" -> Seq(n + 1).toDF("n")), Some(expected))
    }
    assert(stalled.read(spark, "t").collect().map(_.getLong(0)).toSeq
      == Seq(100L))
  }

  test("bucketize: co-located join with no exchange; survives re-register") {
    val cat = new VersionedCatalog(tmpDir("cat"))
    val dim = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "attr")
    val fact = (1L to 500L).map(i => (i % 100 + 1, i * 1.0)).toDF("k", "v")
    cat.commit(Map("dim" -> dim, "fact" -> fact))
    val dimB = cat.bucketize(spark, "dim", "k", 4)
    val factB = cat.bucketize(spark, "fact", "k", 4)

    def joined = spark.table(factB).join(spark.table(dimB), "k")
    val expected = fact.join(dim, "k").collect().map(_.toSeq).toSet

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(joined.collect().map(_.toSeq).toSet == expected)
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!plan.contains("Exchange"),
        plan.linesIterator.take(30).mkString("\n"))

      // a fresh session only needs the (metadata-only) re-registration:
      // drop the session tables to simulate the restart, re-register
      // from the persisted layout + _BUCKETSPEC.json sidecar
      spark.sql(s"DROP TABLE `$dimB`")
      spark.sql(s"DROP TABLE `$factB`")
      cat.registerBucketized(spark, "dim")
      cat.registerBucketized(spark, "fact")
      assert(joined.collect().map(_.toSeq).toSet == expected)
      val plan2 = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!plan2.contains("Exchange"),
        plan2.linesIterator.take(30).mkString("\n"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // vacuum leaves the derived layout alone
    cat.vacuum()
    assert(Files.exists(
      Paths.get(cat.root, "_bucketed", dimB, "_BUCKETSPEC.json")))
    assert(spark.table(dimB).count() == 100)
  }

  test("evolve: additive column lands without rewriting data; old " +
      "commits, range reads, and diff stay readable; compact backfills") {
    import graft.catalog.TableDelta
    import graft.schema.VersionTuple
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val cat = new VersionedCatalog(tmpDir("cat-evolve"))
    val v1 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ra", DoubleType, nullable = true)))
    val c1 = cat.commit(Map("obj" -> Seq((1L, 0.5), (2L, 1.5)).toDF("id", "ra")))
    cat.schemas.put("obj", v1, VersionTuple(1, 0, 0))

    // evolve: one nullable column appended; version auto-bumps the minor
    val v2 = StructType(v1.fields :+
      StructField("flux", DoubleType, nullable = true))
    val bumped = cat.evolve("obj", v2)
    assert(bumped == VersionTuple(1, 1, 0))
    // immediately readable: new column NULL for every pre-evolution row,
    // zero data dirs rewritten
    val snap = cat.read(spark, "obj")
    assert(snap.columns.toSeq == Seq("id", "ra", "flux"))
    assert(snap.where(col("flux").isNull).count() == 2)
    // pre-evolution readers refuse post-evolution data (the reference's
    // compat rule), new code reads old data
    intercept[IllegalStateException] {
      cat.schemas.check("obj", VersionTuple(1, 0, 0))
    }
    assert(cat.schemas.check("obj", VersionTuple(1, 1, 0)) == v2)

    // append NEW-schema rows next to the untouched old dir
    cat.commitAll(Map("obj" -> TableDelta(appends =
      Seq((Seq((3L, 2.5, Some(9.0))).toDF("id", "ra", "flux"), "delta")))))
    val mixed = cat.read(spark, "obj").select("id", "flux")
      .as[(Long, Option[Double])].collect().toMap
    assert(mixed == Map(1L -> None, 2L -> None, 3L -> Some(9.0)))

    // time travel to the pre-evolution commit still serves the old rows
    val old = cat.readAt(spark, "obj", c1)
    assert(old.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // diff across the evolution boundary (mixed-schema dir lists)
    val d = cat.diff(spark, "obj", c1, cat.currentCommit)
    assert(d.where(col("change") === "added").count() == 1)

    // compact = backfill: one dir again, NULLs materialized, contents kept
    cat.compact(spark, "obj")
    assert(cat.current._2("obj").size == 1)
    val after = cat.read(spark, "obj").select("id", "flux")
      .as[(Long, Option[Double])].collect().toMap
    assert(after == mixed)

    // breaking shapes are refused with precise errors
    intercept[IllegalArgumentException] { // drop
      cat.evolve("obj", StructType(v2.fields.filter(_.name != "ra")))
    }
    intercept[IllegalArgumentException] { // type change
      cat.evolve("obj", StructType(v2.fields.map(f =>
        if (f.name == "ra") f.copy(dataType = StringType) else f)))
    }
    intercept[IllegalArgumentException] { // non-nullable addition
      cat.evolve("obj", StructType(v2.fields :+
        StructField("must", LongType, nullable = false)))
    }
    intercept[IllegalArgumentException] { // nullability tightening
      cat.evolve("obj", StructType(v2.fields.map(f =>
        if (f.name == "ra") f.copy(nullable = false) else f)))
    }
    intercept[IllegalArgumentException] { // major regression via override
      cat.evolve("obj", StructType(v2.fields :+
        StructField("x", LongType, nullable = true)),
        Some(VersionTuple(2, 0, 0)))
    }
    intercept[IllegalArgumentException] { // change without a minor bump
      cat.evolve("obj", StructType(v2.fields :+
        StructField("x", LongType, nullable = true)),
        Some(VersionTuple(1, 1, 1)))
    }
    // no-op evolution (same schema) keeps the version
    assert(cat.evolve("obj", v2) == VersionTuple(1, 1, 0))
  }

  test("evolve on a time-bucket layout table: mixed-schema dirs merge " +
      "and range reads still prune") {
    import graft.catalog.{TableDelta, TimeBucket}
    import graft.schema.VersionTuple
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val cat = new VersionedCatalog(tmpDir("cat-evolve-tb"),
      layouts = t => if (t == "src") Some(TimeBucket("mjd", 10.0)) else None)
    val v1 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("mjd", DoubleType, nullable = false)))
    cat.commit(Map("src" -> Seq((1L, 5.0), (2L, 15.0)).toDF("id", "mjd")))
    cat.schemas.put("src", v1, VersionTuple(1, 0, 0))
    cat.evolve("src", StructType(v1.fields :+
      StructField("band", StringType, nullable = true)))
    cat.commitAll(Map("src" -> TableDelta(appends = Seq(
      (Seq((3L, 25.0, "g")).toDF("id", "mjd", "band"), "d1")))))
    val all = cat.read(spark, "src")
    assert(all.columns.toSeq == Seq("id", "mjd", "band"))
    assert(all.count() == 3)
    val ranged = cat.readRange(spark, "src", 20.0, 30.0)
    assert(ranged.columns.toSeq == Seq("id", "mjd", "band"))
    assert(ranged.select("id").as[Long].collect().toSeq == Seq(3L))
    // and the old bucket dirs still serve the evolved schema with NULLs
    val lows = cat.readRange(spark, "src", 0.0, 9.0)
    assert(lows.select("band").collect().forall(_.isNullAt(0)))
  }
}
