package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A commit lost a concurrent-writer race: the state it was computed
  * from is no longer current. The write published NOTHING — re-read and
  * re-apply (the [[VersionedCatalog.retrying]] helper does exactly
  * that), or surface to the operator for admin one-shots.
  */
final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

/** Per-table change inside one atomic commit.
  *
  *  - `rewrite`: replace the table's contents (old dirs dereferenced);
  *  - `append`: add a delta directory, existing dirs carry over untouched
  *    — ingest cost is O(delta), not O(table);
  *  - `dropLabels`: dereference previously-appended dirs by label —
  *    deletion cost is O(metadata) when deletes align with append
  *    boundaries (e.g. staged chunks appended per chunk id);
  *  - `dropDirs`: dereference specific data dirs by exact path — the
  *    partition-scoped patch primitive: drop only the dirs containing
  *    patched keys and append their patched replacement, leaving every
  *    other directory's bytes untouched.
  *
  * rewrite and append are mutually exclusive for one table.
  */
final case class TableDelta(
    rewrite: Option[DataFrame] = None,
    appends: Seq[(DataFrame, String)] = Nil,
    dropLabels: Set[String] = Set.empty,
    dropDirs: Set[String] = Set.empty)

/** Physical layout for a time-series fact table: rows are hive-partitioned
  * by a derived time bucket (`mjd_bucket` = floor(column / widthDays)) and
  * sorted within partitions by `sortCols` — the Spark mapping of the
  * reference's secondary indexes on (midpointMjdTai) and (diaObjectId)
  * (test_apdb_schema.yaml:206-219,288-293): time-range scans prune whole
  * partition directories, and id lookups within a bucket skip row groups
  * via min/max stats + bloom filters.
  */
final case class TimeBucket(column: String, widthDays: Double,
    sortCols: Seq[String] = Nil) {
  val bucketCol = "mjd_bucket"
  def bucketOf(v: Double): Long = math.floor(v / widthDays).toLong
}

/** Versioned multi-table Parquet catalog with snapshot isolation and an
  * atomic multi-table commit — the Spark-native replacement for the
  * reference's zero-copy clone + atomic swap + single-transaction store
  * (P/bigquery/chunk_promoter.py:196-284, P/sql/_ppdb_sql.py:138-155).
  *
  * Layout:
  * {{{
  *   root/
  *     _CURRENT                        <- JSON pointer {commit, tables:{name:[dirs]}}
  *     <table>/v000000N[_label]/ ...   <- immutable data directories
  * }}}
  *
  * Semantics:
  *  - A table's contents = the union of its listed directories; readers
  *    resolve `_CURRENT` once and read immutable dirs → snapshot
  *    isolation for free.
  *  - A commit materializes new dirs for rewritten/appended tables only,
  *    then atomically replaces `_CURRENT` (tmp file + ATOMIC_MOVE).
  *    Untouched tables keep their dir lists — the reference's zero-copy
  *    clone (S12) with no data movement.
  *  - Appends and label-drops are metadata-only for every byte not in the
  *    delta: at 100 TB, per-chunk ingest writes the chunk and one pointer.
  *  - Crash anywhere before the pointer move publishes nothing; orphan
  *    dirs are garbage-collected by [[vacuum]].
  *  - Concurrent writers (the replicate/upload/promote services deployed
  *    as separate processes) coordinate OPTIMISTICALLY: each commit id
  *    is claimed exactly once via an atomic CREATE_NEW of its history
  *    file, data dirs carry a per-commit nonce so racing materializers
  *    can never write the same path, and a read-modify-write caller
  *    passes the commit id it read at — a stale `expected` fails the
  *    commit with [[ConcurrentCommitException]] BEFORE any data is
  *    written, and [[retrying]] re-runs the whole read+build+commit.
  *    `vacuum` remains an admin operation: don't run it concurrently
  *    with live writers (it may sweep an in-flight claim).
  *  - A claim that sits unpublished past `orphanGraceMs` is treated as a
  *    crash orphan and taken over. A writer merely STALLED that long
  *    (GC pause, slow FS) is not lost-update-prone: every publish embeds
  *    a writer nonce in its payload and re-verifies ownership after the
  *    pointer move — on a takeover clash, the stalled side restores the
  *    usurper's pointer state and raises [[ConcurrentCommitException]]
  *    instead of silently discarding the usurper's acknowledged commit.
  *    The default grace (60 s) makes takeover of a live-but-stalled
  *    writer rare to begin with; services that poll faster than that can
  *    lower it at construction.
  */
final class VersionedCatalog(val root: String,
    writeOptions: String => Map[String, String] = VersionedCatalog.NoOptions,
    layouts: String => Option[TimeBucket] = VersionedCatalog.ppdbLayouts,
    statsCols: String => Seq[String] = VersionedCatalog.ppdbStatsCols,
    orphanGraceMs: Long = 60000L) {

  private val rootPath: Path = Paths.get(root)
  private val pointer: Path = rootPath.resolve("_CURRENT")

  Files.createDirectories(rootPath)

  /** Current pointer state: commit id and table → data dirs. */
  def current: (Long, Map[String, Seq[String]]) =
    if (!Files.exists(pointer)) (0L, Map.empty)
    else parse(new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8))

  /** The published commit id — capture BEFORE reading tables and pass as
    * `expected` to commit so a concurrent writer's interleaved commit
    * fails yours instead of being silently overwritten.
    */
  def currentCommit: Long = current._1

  /** Run a read-modify-write cycle under optimistic concurrency: `body`
    * receives the commit id to read at and must pass it as `expected` to
    * its commit; on [[ConcurrentCommitException]] the WHOLE body re-runs
    * against the new state (bounded linear backoff — service RMWs are
    * sub-second, so contention resolves in a few rounds).
    */
  def retrying[A](maxAttempts: Int = 20)(body: Long => A): A = {
    var attempt = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      val base = currentCommit
      try out = Some(body(base))
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          Thread.sleep(25L * attempt)
      }
    }
    out.get
  }

  def tables: Set[String] = current._2.keySet

  def exists(table: String): Boolean = current._2.contains(table)

  /** The declared-schema registry co-located at this catalog's root
    * (`root/_schemas` — the same files `Ppdb.create` populates).
    */
  lazy val schemas: SchemaRegistry = new SchemaRegistry(root)

  /** Additive schema evolution (the reference's VersionTuple-guarded
    * schema bumps, P/sql/_ppdb_sql_base.py:333-372, extended with an
    * actual migration path): declare `newSchema` for a live table WITHOUT
    * rewriting any data. Only additions of NULLABLE columns (and
    * nullability widening) are allowed — drops, renames, type changes,
    * or non-nullable additions are breaking (major bump + rewrite, not
    * evolve) and are refused with a precise message. Old directories stay
    * byte-identical and remain readable at every commit: [[read]],
    * [[readAt]], and [[diff]] schema-merge on read (missing columns
    * surface as NULL), and the next [[compact]] materializes the NULLs —
    * backfill-on-compact, zero-cost until then.
    *
    * Versioning follows the compat rule: an additive change bumps the
    * MINOR (new code reads old data; old code refuses new data). Pass
    * `newVersion` to control the bump; it must keep the major and not
    * regress the minor, and an actual schema change must raise it.
    */
  def evolve(table: String,
      newSchema: org.apache.spark.sql.types.StructType,
      newVersion: Option[graft.schema.VersionTuple] = None)
      : graft.schema.VersionTuple = synchronized {
    require(exists(table), s"table '$table' not in catalog $root")
    val (storedV, storedS) = schemas.get(table).getOrElse(
      throw new IllegalStateException(s"table '$table' has no declared " +
        "schema to evolve from; register a baseline (SchemaRegistry.put) " +
        "first"))
    val newByName = newSchema.fields.map(f => f.name -> f).toMap
    storedS.fields.foreach { f =>
      val n = newByName.getOrElse(f.name,
        throw new IllegalArgumentException(s"evolve($table): column " +
          s"'${f.name}' missing from the new schema — drops/renames are " +
          "breaking changes (major bump + rewrite), not an evolution"))
      require(n.dataType == f.dataType, s"evolve($table): column " +
        s"'${f.name}' changes type ${f.dataType.simpleString} -> " +
        s"${n.dataType.simpleString} — breaking, refuse")
      require(n.nullable || !f.nullable, s"evolve($table): column " +
        s"'${f.name}' tightens nullability — existing NULLs would violate it")
    }
    val storedNames = storedS.fieldNames.toSet
    val added = newSchema.fields.filterNot(f => storedNames.contains(f.name))
    added.foreach(f => require(f.nullable, s"evolve($table): new column " +
      s"'${f.name}' must be nullable — existing rows have no value for it"))
    val changed = newSchema != storedS
    val v = newVersion.getOrElse(
      if (changed) graft.schema.VersionTuple(storedV.major,
        storedV.minor + 1, 0)
      else storedV)
    require(v.major == storedV.major && v.minor >= storedV.minor,
      s"evolve($table): version ${v.render} cannot read data stored at " +
        s"${storedV.render} (same major, minor must not regress)")
    require(!changed || v.minor > storedV.minor,
      s"evolve($table): a schema change must bump the minor past " +
        s"${storedV.render} so pre-evolution readers refuse the new data")
    schemas.put(table, newSchema, v)
    v
  }

  /** Snapshot read of one table at the current commit (union of its
    * directories; empty dirs-list yields an empty scan is impossible —
    * tables always have ≥1 dir). Layout tables read per-dir so each dir's
    * hive partitioning resolves independently; the derived bucket column
    * is dropped, keeping the logical schema identical to the unbucketed
    * layout.
    */
  def read(spark: SparkSession, table: String): DataFrame =
    readDirList(spark, table, tableDirs(table))

  private def readDirList(spark: SparkSession, table: String,
      dirs: Seq[String]): DataFrame = {
    // declared-schema read: after an additive [[evolve]], a table's dirs
    // carry MIXED schemas. Reading with the declared StructType makes the
    // parquet source fill absent columns with NULL per file — one
    // registry-file read instead of a mergeSchema footer sweep over every
    // data file (the 100 TB-relevant difference). Undeclared tables keep
    // the inferred-schema fast path unchanged.
    val declared = schemas.get(table).map(_._2)
    layouts(table) match {
      case None => declared match {
        case Some(s) => spark.read.schema(s).parquet(dirs: _*)
        case None => spark.read.parquet(dirs: _*)
      }
      case Some(tb) =>
        val merged = dirs.map(readDir(spark, _, tb, None))
          .reduce(_.unionByName(_, allowMissingColumns = true))
        declared match {
          case Some(s) => conformTo(merged, s)
          case None => merged
        }
    }
  }

  /** Project `df` to exactly the declared schema: declared order, absent
    * columns materialized as typed NULLs (a just-evolved table may have
    * no dir carrying the new column yet).
    */
  private def conformTo(df: DataFrame,
      s: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(s.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Time-range read of a layout table: the range becomes a partition
    * filter on the derived bucket column per directory (whole bucket dirs
    * pruned at planning, `PartitionFilters` in the scan) plus the exact
    * predicate on the time column. Falls back to a plain read for tables
    * without a time-bucket layout (callers keep their own predicate).
    */
  def readRange(spark: SparkSession, table: String, lo: Double,
      hi: Double): DataFrame =
    layouts(table) match {
      case None => read(spark, table)
      case Some(tb) =>
        val merged = tableDirs(table).map(readDir(spark, _, tb, Some((lo, hi))))
          .reduce(_.unionByName(_, allowMissingColumns = true))
          .where(org.apache.spark.sql.functions.col(tb.column).between(lo, hi))
        schemas.get(table).map(_._2) match {
          case Some(s) => conformTo(merged, s)
          case None => merged
        }
    }

  private def tableDirs(table: String): Seq[String] =
    current._2.getOrElse(table,
      throw new IllegalArgumentException(
        s"table '$table' not in catalog $root (have ${current._2.keys.mkString(",")})"))

  private def readDir(spark: SparkSession, dir: String, tb: TimeBucket,
      range: Option[(Double, Double)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(dir)
    val pruned = range match {
      case Some((lo, hi)) if df.columns.contains(tb.bucketCol) =>
        df.where(col(tb.bucketCol) >= tb.bucketOf(lo) &&
          col(tb.bucketCol) <= tb.bucketOf(hi))
      case _ => df
    }
    if (pruned.columns.contains(tb.bucketCol)) pruned.drop(tb.bucketCol)
    else pruned
  }

  /** Rewrite-only commit (the common promote/store shape). */
  def commit(writes: Map[String, DataFrame]): Long = commit(writes, None)

  /** [[commit]] with an expected base commit for read-modify-write. */
  def commit(writes: Map[String, DataFrame], expected: Option[Long]): Long =
    commitAll(writes.map { case (t, df) =>
      t -> TableDelta(rewrite = Some(df)) }, expected)

  /** Atomic multi-table commit of rewrites, append deltas, and label
    * drops. Every DataFrame is fully materialized to immutable dirs
    * before the single pointer move; a crash mid-commit publishes
    * nothing.
    *
    * The DataFrames (every table's rewrite or appends) are written
    * concurrently, one thread each ([[graft.Concurrently]]). The pointer
    * move runs once, on the caller's thread, after every write has
    * succeeded. If any write fails, the commit waits for the others to
    * end and rethrows the first failure in `deltas` order unwrapped;
    * nothing is published, and the dirs its siblings already wrote are
    * orphans for [[vacuum]].
    *
    * `expected`: the commit id the caller READ at (for read-modify-write
    * cycles). If another writer published since, the commit throws
    * [[ConcurrentCommitException]] before materializing anything —
    * without it a rewrite built from a stale snapshot would silently
    * drop the concurrent writer's update (last-writer-wins).
    */
  def commitAll(deltas: Map[String, TableDelta],
      expected: Option[Long] = None): Long = synchronized {
    val (commitId, dirs) = current
    expected.filter(_ != commitId).foreach { e =>
      throw new ConcurrentCommitException(
        s"catalog $root advanced to commit $commitId while this writer " +
          s"worked from $e")
    }
    val next = commitId + 1
    // per-commit nonce in the data-dir names: two processes racing to
    // commit id `next` materialize under different paths, so the loser's
    // dirs are mere vacuum-able orphans — never a shared-path overwrite
    val nonce = f"${java.util.concurrent.ThreadLocalRandom.current()
      .nextLong() & 0xffffffffL}%08x"
    deltas.foreach { case (table, d) =>
      require(d.rewrite.isEmpty || d.appends.isEmpty,
        s"$table: rewrite and append are exclusive")
    }
    // every rewrite and append of every table is its own write job; they
    // share nothing but the nonce, so they materialize concurrently
    val written = graft.Concurrently.all(deltas.toSeq.flatMap {
      case (table, d) =>
        (d.rewrite.map(_ -> "").toSeq ++ d.appends).map { case (df, l) =>
          () => table -> write(df, table, next, nonce, l)
        }
    }).groupMap(_._1)(_._2)
    val newDirs = deltas.map { case (table, d) =>
      val fresh = written.getOrElse(table, Nil)
      val kept = dirs.getOrElse(table, Nil)
        .filterNot(p => d.dropLabels.exists(l =>
          Paths.get(p).getFileName.toString.endsWith(s"_$l")))
        .filterNot(d.dropDirs.contains)
      table -> (if (d.rewrite.isDefined) fresh else kept ++ fresh)
    }
    publish(next, dirs ++ newDirs)
    next
  }

  private def write(df: DataFrame, table: String, commit: Long,
      nonce: String, label: String): String = {
    import org.apache.spark.sql.functions.{col, count, floor, lit, max, min}
    val suffix = if (label.isEmpty) "" else s"_$label"
    val dir = rootPath.resolve(table)
      .resolve(f"v$commit%08d.$nonce$suffix").toString
    // zone-map sidecar: per-dir min/max of the table's NUMERIC probe
    // columns and the dir's row count, collected by observe() DURING the
    // write job (no extra pass) and written next to the data;
    // dirsTouching and mayHold prune whole dirs on it. Non-numeric stats
    // columns are ignored (their values are not JSON-safe to interpolate,
    // and the probe only prunes numerically).
    val zCols = statsCols(table).filter(c => df.columns.contains(c) &&
      df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val obs = if (zCols.isEmpty) None
      else Some(new org.apache.spark.sql.Observation())
    val observed = obs.fold(df) { o =>
      val aggs = zCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      df.observe(o, count(lit(1)).as("rows"), aggs: _*)
    }
    layouts(table) match {
      case Some(tb) if observed.columns.contains(tb.column) =>
        observed.withColumn(tb.bucketCol,
            floor(col(tb.column) / lit(tb.widthDays)).cast("long"))
          .sortWithinPartitions(
            (tb.bucketCol +: tb.sortCols).map(col): _*)
          .write.mode("overwrite").options(writeOptions(table))
          .partitionBy(tb.bucketCol).parquet(dir)
        // partitionBy with zero rows leaves no schema-bearing file; patch
        // in a plain empty write built FROM THE SCHEMA (no plan re-run —
        // an emptiness pre-check would evaluate the whole delta twice)
        val anyParquet = {
          val walk = Files.walk(Paths.get(dir))
          try walk.iterator().asScala.exists(_.toString.endsWith(".parquet"))
          finally walk.close()
        }
        if (!anyParquet) {
          val spark = df.sparkSession
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              df.schema)
            .write.mode("overwrite").options(writeOptions(table)).parquet(dir)
        }
      case _ =>
        observed.write.mode("overwrite").options(writeOptions(table))
          .parquet(dir)
    }
    obs.foreach(o => writeZoneMap(dir, zCols, o.get))
    dir
  }

  // An empty dir's zone map is `{}`: it holds no value of any column. A
  // non-empty dir whose stats columns are all null gets no zone map.
  private def writeZoneMap(dir: String, cols: Seq[String],
      m: Map[String, Any]): Unit = {
    val entries = cols.flatMap { c =>
      (m.get(s"min_$c"), m.get(s"max_$c")) match {
        case (Some(lo), Some(hi)) if lo != null && hi != null =>
          Some(s""""${esc(c)}":["$lo","$hi"]""")
        case _ => None
      }
    }
    if (entries.nonEmpty || m.get("rows").contains(0L))
      Files.write(Paths.get(dir, VersionedCatalog.ZoneMapFile),
        s"{${entries.mkString(",")}}".getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** What a dir's zone map says about `column`'s values. */
  private def zone(dir: String, column: String): VersionedCatalog.Zone = {
    import VersionedCatalog.{Bounded, Empty, Unbounded}
    val p = Paths.get(dir, VersionedCatalog.ZoneMapFile)
    if (!Files.exists(p)) return Unbounded
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    if (json.trim == "{}") return Empty
    """"((?:[^"\\]|\\.)*)":\["([^"]*)","([^"]*)"\]""".r
      .findAllMatchIn(json).find(m => unesc(m.group(1)) == column)
      .flatMap { m =>
        try Some(Bounded(BigDecimal(m.group(2)), BigDecimal(m.group(3))))
        catch { case _: NumberFormatException => None }
      }.getOrElse(Unbounded)
  }

  /** A predicate on `field` — one of `table`'s zone-map columns — that
    * holds for every value some row of the table carries: the envelope of
    * its dirs' zone maps, read on the driver. A key whose `field` falls
    * outside it is in no dir, so a probe or a scoped merge can leave it
    * out. None when no dir holds a row; `lit(true)` when some dir cannot
    * bound the column (no zone map, or a non-numeric column).
    */
  def mayHold(table: String,
      field: org.apache.spark.sql.types.StructField)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import VersionedCatalog.{Bounded, Empty, Unbounded}
    val zones = current._2.getOrElse(table, Nil).map(zone(_, field.name))
      .filter(_ != Empty)
    if (zones.isEmpty) None
    else if (zones.contains(Unbounded) || !field.dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]) Some(lit(true))
    else {
      val bs = zones.collect { case b: Bounded => b }
      def typed(v: BigDecimal) = lit(v.toString).cast(field.dataType)
      Some(col(field.name).between(typed(bs.map(_.lo).min),
        typed(bs.map(_.hi).max)))
    }
  }

  /** Read an explicit subset of a table's data dirs (the scoped-patch
    * base): per-dir scans so each dir's physical layout (hive-partitioned
    * or plain) resolves independently, projected to `columns`.
    */
  def readDirs(spark: SparkSession, dirs: Seq[String],
      columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    dirs.map(d => spark.read.parquet(d).select(columns.map(col): _*))
      .reduce(_ unionByName _)
  }

  /** The dir-level pruning probe behind partition-scoped patching: which
    * of the table's data dirs hold a row whose key columns equal one of
    * `keys`, and which of the FLAGGED keys (`keys` maps each key to its
    * flag) those rows carry.
    *
    * The keys are held on the driver as rows typed like `keySchema` —
    * the table's key columns, in order. Callers bound them to what the
    * table can hold (see [[mayHold]]). The first key column prunes on the
    * dirs' zone maps without touching their files: a dir is scanned only
    * if some key lies inside its recorded [min, max], so a point patch
    * against N range-labeled dirs scans the dirs that can hold it, not
    * all N. The surviving dirs are scanned for their key columns only,
    * read with `keySchema`'s declared types (no footer inference), and
    * joined with the keys as a broadcast local relation. Each task sends
    * back only its distinct matching files and flagged keys, so what
    * reaches the driver is bounded by files plus keys, not by how many
    * stored versions match. An empty key set, or a set every dir prunes
    * away, starts no job.
    *
    * `found` holds each flagged key that some scanned row carries. Since
    * every dir that can hold a key is scanned, a flagged key absent from
    * `found` is absent from the table.
    */
  def dirsTouching(spark: SparkSession, table: String,
      keySchema: org.apache.spark.sql.types.StructType,
      keys: Map[org.apache.spark.sql.Row, Boolean])
      : VersionedCatalog.KeyProbe = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name}
    import org.apache.spark.sql.types.{BooleanType, NumericType}
    import VersionedCatalog.{Bounded, Empty}
    val none = VersionedCatalog.KeyProbe(Nil, Set.empty)
    val allDirs = current._2.getOrElse(table, Nil)
    if (allDirs.isEmpty || keys.isEmpty) return none
    val keyCols = keySchema.fieldNames.toSeq
    val probeCol = keyCols.head
    lazy val sorted = keys.keysIterator
      .map(k => BigDecimal(k.get(0).toString)).toArray.sorted
    val dirs = allDirs.filter { d =>
      zone(d, probeCol) match {
        case Empty => false
        case Bounded(lo, hi)
            if keySchema(probeCol).dataType.isInstanceOf[NumericType] =>
          val i = sorted.search(lo).insertionPoint
          i < sorted.length && sorted(i) <= hi
        case _ => true // cannot prune, must scan
      }
    }
    if (dirs.isEmpty) return none
    val probe = spark.createDataFrame(
      keys.toSeq.map { case (k, flag) => Row.fromSeq(k.toSeq :+ flag) }.asJava,
      keySchema.add("_flag", BooleanType, nullable = false))
    // per-dir scans (layout dirs are hive-partitioned, plain dirs aren't);
    // only the key columns survive, so mixed layouts union cleanly
    val perTask = dirs.map { d =>
      spark.read.schema(keySchema).parquet(d)
        .select(keyCols.map(col) :+ input_file_name().as("_file"): _*)
    }.reduce(_ unionByName _)
      .join(broadcast(probe), keyCols, "inner")
      .select(col("_file") +: col("_flag") +: keyCols.map(col): _*)
      .rdd.mapPartitions(hits => Iterator.single(
        VersionedCatalog.probeSummary(hits)))
      .collect()
    val files = perTask.iterator.flatMap(_._1).toSet
      .map((f: String) => new java.net.URI(f).getPath)
    VersionedCatalog.KeyProbe(dirs.filter { d =>
      val abs = Paths.get(d).toAbsolutePath.toString
      files.exists(f => f.startsWith(abs + "/"))
    }, perTask.iterator.flatMap(_._2).toSet)
  }

  /** Compaction: rewrite a table's accumulated append dirs into one
    * (optionally sorted) dir — the maintenance pass that bounds file and
    * directory counts under append-only ingest. Readers are unaffected
    * (old dirs stay live until the pointer swaps); reclaim space with
    * [[vacuum]] afterwards.
    */
  def compact(spark: SparkSession, table: String,
      sortCols: Seq[String] = Nil, targetPartitions: Int = 0): Long = {
    var df = read(spark, table)
    if (targetPartitions > 0) df = df.repartition(targetPartitions)
    if (sortCols.nonEmpty)
      df = df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
    commit(Map(table -> df))
  }

  /** Z-order compaction: rewrite the table clustered on the Morton
    * interleave of two numeric columns, range-partitioned by the code so
    * each output file covers a compact 2-D tile. A 2-D box predicate
    * then overlaps few files (parquet row-group min/max on BOTH columns
    * stay tight), where a linear sort prunes only its leading column —
    * the layout for (objectId, time) or (ra, dec) selective reads at
    * scale. Quantization ranges are observed in one tiny agg pass.
    */
  def zorderCompact(spark: SparkSession, table: String, colA: String,
      colB: String, targetPartitions: Int, bits: Int = 16): Long =
    zorderCompactK(spark, table, Seq(colA, colB), targetPartitions, bits)

  /** k-dimension form: cluster on the Morton interleave of ANY number of
    * numeric columns (k·bits ≤ 63) — e.g. (time-bucket, diaObjectId,
    * cell) — so every output file is a compact k-D tile and a stripe
    * predicate on any single dimension, or a box on several, prunes on
    * tight per-file min/max for ALL of them.
    */
  def zorderCompactK(spark: SparkSession, table: String, cols: Seq[String],
      targetPartitions: Int, bits: Int = 16): Long = {
    import org.apache.spark.sql.functions.{col, min, max}
    import graft.functions.ZOrder
    require(cols.size >= 2, s"z-order needs >= 2 columns, got $cols")
    val df = read(spark, table)
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // empty table / all-null column: no range to cluster on — quantize
    // collapses that dimension to 0 instead of NPEing on the null agg
    def d(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val z = ZOrder.mortonK(
      cols.zipWithIndex.map { case (c, j) =>
        ZOrder.quantize(col(c), d(2 * j), d(2 * j + 1), bits)
      }, bits)
    commit(Map(table -> df
      .withColumn("_z", z)
      .repartitionByRange(targetPartitions, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")))
  }

  /** Co-located join layout: write `table`'s current snapshot hash-
    * bucketed by `key` into `numBuckets` Spark buckets (sorted by `key`
    * within each bucket) and register it in the session catalog under
    * `bucketedName(table)`. Any join or aggregation between tables
    * bucketized on the same key with the same bucket count runs with NO
    * exchange on either side — the one-time layout shuffle replaces
    * every future join shuffle, which is the 100 TB posture for
    * fact-to-dimension keys like diaObjectId (the reference's clustered
    * secondary indexes, test_apdb_schema.yaml:206-219, map to exactly
    * this).
    *
    * The layout is DERIVED: files live under `root/_bucketed/<name>`
    * (vacuum-exempt), a `_BUCKETSPEC.json` sidecar records (key,
    * buckets), and [[registerBucketized]] re-registers the existing
    * files in a fresh session without rewriting. Re-running bucketize
    * refreshes the layout after the base table moves.
    */
  def bucketize(spark: SparkSession, table: String, key: String,
      numBuckets: Int): String = {
    val name = bucketedName(table)
    val dir = rootPath.resolve("_bucketed").resolve(name)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    read(spark, table).write
      .mode("overwrite")
      .format("parquet")
      .option("path", dir.toString)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(name)
    val spec = s"""{"table":"${esc(table)}","key":"${esc(key)}",""" +
      s""""buckets":$numBuckets}"""
    Files.write(dir.resolve("_BUCKETSPEC.json"),
      spec.getBytes(StandardCharsets.UTF_8))
    name
  }

  /** Session table name for a bucketized layout. Dots are invalid in
    * session-catalog identifiers; the encoding is injective ('_' escapes
    * to '__' before '.' maps to '_1'), so distinct catalog tables like
    * `a.b` and `a_b` can never collide on one layout dir.
    */
  def bucketedName(table: String): String =
    table.replace("_", "__").replace(".", "_1") + "_bucketed"

  /** Register an existing bucketized layout in THIS session's catalog
    * (session-catalog registrations don't survive a restart; the parquet
    * files and bucket spec do). Metadata-only — no data is read beyond
    * parquet footers for schema inference.
    */
  def registerBucketized(spark: SparkSession, table: String): String = {
    val name = bucketedName(table)
    val dir = rootPath.resolve("_bucketed").resolve(name)
    val specJson = new String(
      Files.readAllBytes(dir.resolve("_BUCKETSPEC.json")),
      StandardCharsets.UTF_8)
    val m = """\{"table":"(.*)","key":"(.*)","buckets":(\d+)\}""".r
      .findFirstMatchIn(specJson)
      .getOrElse(throw new IllegalStateException(
        s"bad _BUCKETSPEC.json for $name"))
    val specTable = unesc(m.group(1))
    require(specTable == table,
      s"bucketized layout at $dir was built from '$specTable', not '$table'")
    val (key, buckets) = (unesc(m.group(2)), m.group(3).toInt)
    val schema = spark.read.parquet(dir.toString).schema
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(s"""CREATE TABLE `$name` ($cols) USING parquet
      |CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS
      |LOCATION '${dir.toString}'""".stripMargin)
    name
  }

  /** Append-dir maintenance policy: compact `table` only when its dir
    * count exceeds `maxDirs` — the knob that bounds file/dir counts (and
    * so footer reads + driver planning time) under continuous per-chunk
    * appends without paying a rewrite on every commit. Returns whether a
    * compaction ran. Call after ingest batches; old dirs stay live for
    * open readers until [[vacuum]].
    */
  def compactIfNeeded(spark: SparkSession, table: String,
      maxDirs: Int = 16, sortCols: Seq[String] = Nil): Boolean = {
    val nDirs = current._2.getOrElse(table, Nil).size
    if (nDirs <= maxDirs) false
    else { compact(spark, table, sortCols); true }
  }

  /** Zero-copy clone: register `from`'s current dir list under a new
    * table name. No data is read or written (the reference's CREATE TABLE
    * CLONE).
    */
  def clone(from: String, to: String): Unit = synchronized {
    val (commitId, dirs) = current
    val src = dirs.getOrElse(from,
      throw new IllegalArgumentException(s"clone source '$from' missing"))
    publish(commitId + 1, dirs + (to -> src))
  }

  /** Drop a table from the pointer (data dirs remain until vacuum). */
  def drop(table: String): Unit = synchronized {
    val (commitId, dirs) = current
    publish(commitId + 1, dirs - table)
  }

  /** Delete data dirs no longer referenced by `_CURRENT`, plus stale
    * pointer tmp files left by a crash before ATOMIC_MOVE. With
    * `dryRun` nothing is deleted — the return value is the count that
    * WOULD go, so an operator can audit a retention policy before
    * running it (the CLI's `vacuum --dry-run`).
    */
  def vacuum(retainCommits: Int = 0, dryRun: Boolean = false): Int =
      synchronized {
    val (curId, curDirs) = current
    // keep the last `retainCommits` PAST commits time-travel-readable
    // (plus the current one, always): their dirs survive the sweep,
    // older history files are pruned
    val keepIds =
      (commits.takeRight(retainCommits + 1) :+ curId).distinct.toSet
    val retained = keepIds.toSeq.flatMap { id =>
      val f = rootPath.resolve("_commits").resolve(s"$id.json")
      if (!Files.exists(f)) Nil
      else parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
        ._2.values.flatten
    }
    val live = (curDirs.values.flatten ++ retained)
      .map(Paths.get(_).toAbsolutePath.toString).toSet
    var removed = 0
    // prune history outside the retention window AND crash-orphaned
    // files beyond the published pointer (commits already excludes the
    // orphans, so sweep the raw listing)
    val cdir = rootPath.resolve("_commits")
    if (Files.exists(cdir)) {
      listDir(cdir)(_
        .filter(_.getFileName.toString.endsWith(".json"))
        .filter { f =>
          val id = f.getFileName.toString.stripSuffix(".json").toLong
          !keepIds.contains(id) || id > curId
        }
        .toSeq).foreach { f => if (!dryRun) Files.deleteIfExists(f) }
    }
    listDir(rootPath)(_
      .filter(p => p.getFileName.toString.startsWith("_CURRENT.tmp."))
      .toSeq).foreach { stale =>
        if (!dryRun) Files.deleteIfExists(stale)
        removed += 1
      }
    if (Files.exists(rootPath)) {
      listDir(rootPath)(_
        .filter(p => Files.isDirectory(p))
        // top-level `_` dirs are reserved derived layouts (e.g.
        // _bucketed), managed by their own overwrite lifecycle
        .filter(p => !p.getFileName.toString.startsWith("_"))
        .toSeq).foreach { tableDir =>
          listDir(tableDir)(_
            .filter(p => Files.isDirectory(p))
            .filter(p => !live.contains(p.toAbsolutePath.toString))
            .toSeq).foreach { dead =>
              if (!dryRun) deleteRecursively(dead)
              removed += 1
            }
        }
    }
    removed
  }

  private def publish(commitId: Long, dirs: Map[String, Seq[String]]): Unit = {
    // Per-publish writer nonce: orphan takeover (below) can re-claim an
    // id whose original writer is merely stalled, not dead — a GC pause
    // or slow FS past orphanGraceMs suffices. Both writers would then
    // ATOMIC_MOVE onto the pointer and the slower move would silently
    // discard the other's acknowledged commit. The nonce turns that
    // silent lost update into a loud ConcurrentCommitException: after
    // the pointer move, each writer verifies the history file still
    // carries ITS nonce and that the pointer it observes is its own
    // payload; any mismatch aborts (the RMW retrying() loop re-runs).
    val nonce = java.util.UUID.randomUUID().toString
    val payload = render(commitId, dirs, nonce).getBytes(StandardCharsets.UTF_8)
    // commit-history sidecar first: if we crash between the two writes,
    // an extra history file with no matching pointer is harmless.
    // CREATE_NEW is the cross-process CAS — exactly one writer owns each
    // commit id, so the pointer can only move forward through claimed
    // ids and a raced writer learns it lost instead of overwriting.
    Files.createDirectories(rootPath.resolve("_commits"))
    val hist = rootPath.resolve("_commits").resolve(s"$commitId.json")
    var claimed = false
    var waitedMs = 0L
    while (!claimed) {
      try {
        Files.write(hist, payload,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (current._1 >= commitId)
            throw new ConcurrentCommitException(
              s"commit $commitId already published by a concurrent " +
                s"writer in $root")
          // claimed but not yet published: a live writer sits in its
          // (two-local-file-writes) claim→pointer window, or a crashed
          // one left an orphan. Wait out the window; past the grace
          // period, take the orphaned claim over (the nonce check after
          // the pointer move keeps a merely-stalled original safe).
          if (waitedMs >= orphanGraceMs) Files.deleteIfExists(hist)
          else { Thread.sleep(50); waitedMs += 50 }
      }
    }
    beforePointerMove()
    val tmp = rootPath.resolve(s"_CURRENT.tmp.$commitId")
    Files.write(tmp, payload)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // Post-publish ownership verify: if another writer re-claimed this
    // id (orphan takeover of a stalled claim) the history file carries
    // its nonce, not ours; and if the pointer still shows THIS commit id
    // with someone else's payload, their move landed after ours. In
    // either case at most one of us may acknowledge the commit, and
    // neither can know whose move landed last — so BOTH sides of an
    // observed clash abort, and no acknowledged commit is ever silently
    // discarded; retrying() re-runs the read-modify-write at the next
    // id. A pointer already past commitId is NOT a clash: a later
    // commit legitimately superseded this one after it published.
    val histNow =
      try new String(Files.readAllBytes(hist), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    val pointerNow =
      try new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    if (!histNow.contains(nonce)) {
      // We were deemed orphaned and usurped; the usurper may already
      // have acknowledged this id. If OUR move landed last, the pointer
      // shadows their commit with our unacknowledged payload — restore
      // it to the history file's (the usurper's) before aborting, so
      // readers and subsequent RMW rounds see the acknowledged state.
      // Best-effort: the takeover itself is a multi-second-stall rarity
      // and the repair window is microseconds.
      if (histNow.nonEmpty && parse(pointerNow)._1 == commitId &&
          pointerNow.contains(nonce)) {
        val rep = rootPath.resolve(s"_CURRENT.tmp.repair.$commitId")
        Files.write(rep, histNow.getBytes(StandardCharsets.UTF_8))
        Files.move(rep, pointer, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
      throw new ConcurrentCommitException(
        s"commit $commitId re-claimed by a concurrent writer during " +
          s"publish in $root (stalled-claim takeover); commit not " +
          "acknowledged")
    }
    if (parse(pointerNow)._1 == commitId && !pointerNow.contains(nonce))
      // Our claim held but a usurper's pointer move landed after ours
      // (it aborts via its own history check); its payload shadows ours,
      // so we can't claim readers see this commit — abort and retry.
      throw new ConcurrentCommitException(
        s"commit $commitId pointer clobbered by a concurrent writer in " +
          s"$root; commit not acknowledged")
  }

  /** Test seam: runs between the commit-id claim and the pointer move —
    * the window the orphan-takeover race lives in. Production no-op.
    */
  private[graft] var beforePointerMove: () => Unit = () => ()

  /** Commit ids with retained history, ascending. History files with an
    * id beyond the published pointer are crash orphans (publish writes
    * the history file BEFORE the atomic pointer move, so a crash between
    * the two leaves a file for a commit that never happened) — they are
    * excluded here, refused by [[readAt]], and swept by [[vacuum]].
    */
  def commits: Seq[Long] = {
    val curId = current._1
    val dir = rootPath.resolve("_commits")
    if (!Files.exists(dir)) Nil
    else listDir(dir)(_
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).filter(_ <= curId).toSeq).sorted
  }

  /** Time travel: read `table` as of `commit` (snapshot isolation across
    * history — every commit's dir list is immutable, so an old commit's
    * table is exactly its recorded dir union). Fails if the commit's
    * history file is gone or its dirs were vacuumed; pass
    * `retainCommits` to [[vacuum]] to keep history readable.
    */
  def readAt(spark: SparkSession, table: String, commit: Long): DataFrame = {
    if (commit > current._1)
      throw new IllegalArgumentException(
        s"commit $commit was never published (current is ${current._1})")
    val f = rootPath.resolve("_commits").resolve(s"$commit.json")
    if (!Files.exists(f))
      throw new IllegalArgumentException(
        s"no retained history for commit $commit in $root")
    val (_, dirs) = parse(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    val ds = dirs.getOrElse(table, throw new IllegalArgumentException(
      s"table '$table' absent at commit $commit"))
    readDirList(spark, table, ds)
  }

  /** Commit-to-commit table diff — the time-travel audit: what rows did
    * commit `to` add/remove relative to commit `from`? Returns the
    * table's rows with a leading `change` column (`added` / `removed`),
    * multiset-exact (exceptAll, so k extra copies show k rows).
    *
    * FILE-PRUNED: a commit's dir list is immutable, so rows living in
    * dirs both commits share cancel identically in the multiset
    * difference and are never read — the diff scans only the dirs unique
    * to one side. An unchanged table diffs as a metadata no-op (zero
    * files opened, PlanAudit-style property spec'd in CatalogSpec); a
    * table that appeared (or was dropped) between the commits diffs as
    * all-added (all-removed).
    */
  def diff(spark: SparkSession, table: String, from: Long,
      to: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    def dirsAt(commit: Long): Seq[String] = {
      if (commit > current._1)
        throw new IllegalArgumentException(
          s"commit $commit was never published (current is ${current._1})")
      val f = rootPath.resolve("_commits").resolve(s"$commit.json")
      if (!Files.exists(f))
        throw new IllegalArgumentException(
          s"no retained history for commit $commit in $root")
      parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
        ._2.getOrElse(table, Nil)
    }
    val dFrom = dirsAt(from)
    val dTo = dirsAt(to)
    if (dFrom.isEmpty && dTo.isEmpty)
      throw new IllegalArgumentException(
        s"table '$table' absent at both commit $from and commit $to")
    val onlyFrom = dFrom.filterNot(dTo.toSet)
    val onlyTo = dTo.filterNot(dFrom.toSet)
    // schema donor for an empty side (lazy — never evaluated beyond
    // planning)
    def readOr(dirs: Seq[String]): DataFrame =
      if (dirs.nonEmpty) readDirList(spark, table, dirs)
      else readDirList(spark, table, if (dTo.nonEmpty) dTo else dFrom)
        .limit(0)
    val added = readOr(onlyTo).exceptAll(readOr(onlyFrom))
    val removed = readOr(onlyFrom).exceptAll(readOr(onlyTo))
    added.select(lit("added").as("change"), org.apache.spark.sql.functions.col("*"))
      .unionByName(removed.select(lit("removed").as("change"),
        org.apache.spark.sql.functions.col("*")))
  }

  // minimal flat JSON: {"commit":N,"relative":true,"tables":{"name":
  // ["dir",...],...},"writer":"uuid"}. Dirs under the root are stored
  // relative to it, so the metadata's bytes do not depend on where the
  // store lives; parse resolves them against the root, giving back the
  // dir strings the writes made. A file without the "relative" flag
  // (written before it existed) holds every dir as written. The writer
  // field is the publish-ownership nonce; parse() ignores it
  // (string-valued, so it can't match a table entry).
  private def render(commitId: Long, dirs: Map[String, Seq[String]],
      nonce: String = ""): String = {
    val under = rootPath.toString + java.io.File.separator
    def stored(d: String) =
      if (d.startsWith(under)) d.substring(under.length)
      else Paths.get(d).toAbsolutePath.toString
    val entries = dirs.toSeq.sortBy(_._1).map { case (t, ds) =>
      s""""${esc(t)}":${ds.map(d => s""""${esc(stored(d))}"""").mkString("[", ",", "]")}"""
    }.mkString(",")
    val writer = if (nonce.isEmpty) "" else s""","writer":"$nonce""""
    s"""{"commit":$commitId,"relative":true,"tables":{$entries}$writer}"""
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def parse(json: String): (Long, Map[String, Seq[String]]) = {
    val commit = """"commit"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(0L)
    val relative = """"relative"\s*:\s*true""".r.findFirstIn(json).isDefined
    def dir(d: String) =
      if (!relative || Paths.get(d).isAbsolute) d
      else rootPath.resolve(d).toString
    val tablesBody = json.indexOf("\"tables\"") match {
      case -1 => ""
      case i => json.substring(json.indexOf('{', i) + 1)
    }
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*\[([^\]]*)\]""".r
    val str = """"((?:[^"\\]|\\.)*)"""".r
    val dirs = entry.findAllMatchIn(tablesBody).map { m =>
      unesc(m.group(1)) ->
        str.findAllMatchIn(m.group(2)).map(s => dir(unesc(s.group(1)))).toSeq
    }.toMap
    (commit, dirs)
  }

  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Files.list with a guaranteed close — every directory listing routes
    * through here so no call path leaks a directory file descriptor
    * (Files.list holds one open until the STREAM is closed, not the
    * iterator; a vacuum over thousands of dirs would otherwise exhaust
    * the ulimit in a long-lived driver).
    */
  private def listDir[A](p: Path)(f: Iterator[Path] => A): A = {
    val stream = Files.list(p)
    try f(stream.iterator().asScala) finally stream.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p)(_.toSeq).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object VersionedCatalog {
  val NoOptions: String => Map[String, String] = _ => Map.empty
  val NoStats: String => Seq[String] = _ => Nil

  /** Sidecar file recording a dir's per-column [min,max] zone map. */
  val ZoneMapFile = "_RANGE.json"

  /** What [[VersionedCatalog.dirsTouching]] found: the dirs holding a
    * probed key, and the flagged keys that some row of those dirs carries.
    */
  final case class KeyProbe(dirs: Seq[String],
      found: Set[org.apache.spark.sql.Row])

  /** One task's share of a [[VersionedCatalog.dirsTouching]] scan: the
    * distinct files among `hits` (rows of file, flag, key columns) and
    * the distinct flagged keys.
    */
  private[catalog] def probeSummary(hits: Iterator[org.apache.spark.sql.Row])
      : (Set[String], Set[org.apache.spark.sql.Row]) = {
    val files = Set.newBuilder[String]
    val found = Set.newBuilder[org.apache.spark.sql.Row]
    hits.foreach { r =>
      files += r.getString(0)
      if (r.getBoolean(1))
        found += org.apache.spark.sql.Row.fromSeq(r.toSeq.drop(2))
    }
    (files.result(), found.result())
  }

  /** A dir's zone map on one column: the dir holds no rows, or its
    * values lie in [lo, hi], or the map cannot tell.
    */
  private[catalog] sealed trait Zone
  private[catalog] case object Empty extends Zone
  private[catalog] case object Unbounded extends Zone
  private[catalog] final case class Bounded(lo: BigDecimal, hi: BigDecimal)
      extends Zone

  /** Default zone-map columns: the id columns the scoped-patch probe
    * filters on. Chunked ingest assigns ids in ranges, so per-dir bounds
    * are tight and point patches prune almost every dir driver-side.
    */
  val ppdbStatsCols: String => Seq[String] = {
    case t if t.endsWith("DiaSource") => Seq("diaSourceId", "diaObjectId")
    case t if t.endsWith("DiaForcedSource") => Seq("diaObjectId")
    case t if t.endsWith("DiaObject") || t.endsWith("DiaObjectLast") =>
      Seq("diaObjectId")
    case _ => Nil
  }

  /** Per-table parquet options for the PPDB layout: bloom filters on the
    * point-lookup id columns (the Spark stand-in for the reference's
    * BigQuery search indexes, dataset_builder.py:255-265) — parquet
    * min/max stats alone can't skip on high-cardinality unsorted ids.
    */
  val ppdbWriteOptions: String => Map[String, String] = {
    case t if t.endsWith("DiaObject") || t.endsWith("DiaObjectLast") =>
      Map("parquet.bloom.filter.enabled#diaObjectId" -> "true")
    case t if t.endsWith("DiaSource") =>
      Map("parquet.bloom.filter.enabled#diaSourceId" -> "true",
        "parquet.bloom.filter.enabled#diaObjectId" -> "true")
    case t if t.endsWith("DiaForcedSource") =>
      Map("parquet.bloom.filter.enabled#diaObjectId" -> "true")
    case _ => Map.empty
  }

  /** Default physical layouts: the fact tables (the 100 TB of a PPDB)
    * bucket by 30-day midpointMjdTai windows, sorted within by
    * diaObjectId — the SURVEY §4 mapping of the reference's secondary
    * indexes. Staging tables stay chunk-labeled (they live for one
    * promote cycle; partitioning them buys nothing).
    */
  val ppdbLayouts: String => Option[TimeBucket] = {
    case t if !t.startsWith("staging.") &&
        (t.endsWith("DiaSource") || t.endsWith("DiaForcedSource")) =>
      Some(TimeBucket("midpointMjdTai", 30.0, Seq("diaObjectId")))
    case _ => None
  }
}
