package graft.replicate

import java.sql.{Connection, DriverManager, PreparedStatement, Types}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.PpdbOps
import graft.schema.{PpdbSchema, VersionTuple}

/** Live-RDBMS PPDB backend over JDBC — the reference's PRIMARY backend
  * (Postgres/SQLite via SQLAlchemy, P/sql/_ppdb_sql.py:74-557), realized
  * here against the embedded Derby engine that ships on the Spark
  * classpath. This closes the "JDBC variant" seam documented on [[Ppdb]]:
  * same [[ReplicaTarget]] contract, same [[Replicator]] on top, different
  * physical store.
  *
  * == Division of labor (and why it is Spark-first anyway) ==
  *
  * A live SQL store's chunk ingest is row-level DML inside ONE database
  * transaction — that is the reference's design (per-chunk `begin ...
  * commit`, P/sql/_ppdb_sql.py:127-155) and the only way to get its
  * atomicity guarantee (T7: readers never observe a partial chunk;
  * any failure rolls back everything including the bookkeeping row).
  * Chunk deltas are bounded (one APDB cadence window, thousands of rows,
  * never table-sized), so driver-side batched DML is the correct cost
  * model — the 100 TB analytic path stays on the Parquet catalog
  * backends; this backend is the operational store a real dax_ppdb
  * deployment replicates INTO.
  *
  * Spark still owns everything set-oriented:
  *  - update-record collapse/pivot reuses the SAME plans the Parquet
  *    backends run ([[PpdbOps.latestOnly]]/[[PpdbOps.buildPatch]]), so
  *    LWW and patch semantics cannot drift between backends;
  *  - analytic reads go through `spark.read.jdbc` with predicate
  *    pushdown ([[replicaChunks]]) and partitioned parallel scans
  *    ([[read]]) — on a real cluster each executor opens its own
  *    stride of the key range;
  *  - initial backfill uses distributed `df.write.jdbc`
  *    ([[bulkLoad]]), executors writing concurrently.
  */
final class PpdbJdbc(spark: SparkSession, val url: String)
    extends ReplicaTarget {
  import PpdbJdbc._

  // ------------------------------------------------------------- lifecycle

  /** Idempotent init: create the five tables when absent and record
    * schema/code versions; reopening an existing store checks the stored
    * versions against the running code and refuses incompatible stores
    * (P/sql/_ppdb_sql_base.py:156-158,333-372).
    */
  def init(): Unit = withConn { conn =>
    val existing = listTables(conn)
    if (!existing.contains("DiaObject")) {
      conn.setAutoCommit(false)
      try {
        allTables.foreach { case (name, schema, pk) =>
          if (!existing.contains(name)) exec(conn, createDdl(name, schema, pk))
        }
        upsertMeta(conn, MetaSchemaKey, PpdbSchema.schemaVersion.render)
        upsertMeta(conn, MetaCodeKey, VersionTuple.Current.render)
        conn.commit()
      } catch {
        // e.g. X0Y32 when two opens race the create — roll back so
        // close() doesn't mask the real error with "active transaction";
        // the loser's reopen then version-checks the winner's store
        case e: Throwable => conn.rollback(); throw e
      }
    } else checkVersions(conn)
  }

  /** Refuse stores written by an incompatible schema or newer code line
    * (same rule as the catalog-backed MetadataTable).
    */
  def checkVersions(): Unit = withConn(checkVersions)

  private def checkVersions(conn: Connection): Unit = {
    val m = metaItems(conn)
    def check(key: String, running: VersionTuple): Unit =
      m.get(key).map(VersionTuple.parse).foreach { stored =>
        if (!running.compatibleWith(stored))
          throw new IllegalStateException(
            s"$key: running ${running.render} cannot read stored ${stored.render}")
      }
    check(MetaSchemaKey, PpdbSchema.schemaVersion)
    check(MetaCodeKey, VersionTuple.Current)
  }

  def metadata: Map[String, String] =
    withConn(metaItems) + ("jdbc_url" -> url)

  // ------------------------------------------------------------ chunk store

  def store(chunk: ChunkData): Unit = store(chunk, update = false)

  def store(chunk: ChunkData, update: Boolean): Unit =
    store(chunk, update, known = chunkRowExists(chunk.chunkId))

  /** Exactly-once chunk ingest in ONE transaction (T3/T7): close open
    * validity intervals, insert the three deltas, apply ordered update
    * records with existence validation (J6 — a dangling update rolls back
    * the WHOLE chunk), and write the bookkeeping row last. `update = true`
    * is the reference's upsert mode: same-PK rows are replaced and the
    * bookkeeping row rewritten (P/sql/_ppdb_sql.py:127-155).
    */
  def store(chunk: ChunkData, update: Boolean, known: Boolean): Unit = {
    if (known && !update) return
    // Chunk-sized driver materialization — the live-SQL ingest contract
    // (see class doc); the analytic tables never pass through here.
    val objRows = chunk.diaObjects
      .select(PpdbSchema.diaObject.fieldNames.map(col).toSeq: _*).collect()
    val srcRows = chunk.diaSources
      .select(PpdbSchema.diaSource.fieldNames.map(col).toSeq: _*).collect()
    val fsrcRows = chunk.diaForcedSources
      .select(PpdbSchema.diaForcedSource.fieldNames.map(col).toSeq: _*).collect()

    // LWW collapse + typed pivot via the SAME Spark plans the Parquet
    // backends use, so patch semantics are backend-invariant.
    val patches: Map[String, (PpdbOps.MergeSpec, Array[Row], StructType)] =
      if (chunk.updates.isEmpty) Map.empty
      else {
        val latest = PpdbOps.latestOnly(
          PpdbOps.expandUpdates(spark, chunk.updates)).cache()
        try PpdbSchema.dataTables.flatMap { t =>
          val spec = PpdbOps.mergeSpecs(t)
          val patch = PpdbOps.buildPatch(latest, spec)
          val rows = patch.collect()
          if (rows.isEmpty) None else Some(t -> ((spec, rows, patch.schema)))
        }.toMap
        finally { latest.unpersist(); () }
      }

    // Concurrent-writer discipline (the JDBC analog of the catalog's
    // commit-id CAS): the bookkeeping PK arbitrates duplicate-chunk
    // races — the loser's transaction trips 23505, rolls back WHOLLY,
    // and resolves to a no-op iff the winner's chunk row is now visible.
    // Deadlocks / lock timeouts (Derby 40001/40XL1) retry the whole
    // transaction from scratch — safe, because nothing of a rolled-back
    // attempt survives.
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      try {
        withConn { conn =>
          conn.setAutoCommit(false)
          try {
            graft.Metrics.time("store_data_time",
                "chunk_id" -> chunk.chunkId.toString, "backend" -> "jdbc") {
              if (update) {
                deleteByKeys(conn, "DiaObject", PpdbSchema.diaObject,
                  Seq("diaObjectId", "validityStartMjdTai"), objRows)
                deleteByKeys(conn, "DiaSource", PpdbSchema.diaSource,
                  Seq("diaSourceId"), srcRows)
                deleteByKeys(conn, "DiaForcedSource", PpdbSchema.diaForcedSource,
                  Seq("diaObjectId", "visit", "detector"), fsrcRows)
              }
              insertBatch(conn, "DiaObject", PpdbSchema.diaObject, objRows)
              graft.Metrics.time("update_validity_time", "table" -> "DiaObject",
                "backend" -> "jdbc") { fillValidity(conn, objRows) }
              insertBatch(conn, "DiaSource", PpdbSchema.diaSource, srcRows)
              insertBatch(conn, "DiaForcedSource", PpdbSchema.diaForcedSource,
                fsrcRows)
              patches.foreach { case (t, (spec, rows, schema)) =>
                applyPatch(conn, chunk.chunkId, t, spec, rows, schema)
              }
              upsertChunkRow(conn, chunk, known)
            }
            conn.commit()
          } catch {
            case e: Throwable => conn.rollback(); throw e
          }
        }
        done = true
      } catch {
        case e: java.sql.SQLException
            if !update && hasSqlState(e, "23505") && chunkRowExists(chunk.chunkId) =>
          // lost the duplicate-chunk race; the winner's copy is complete
          done = true
        case e: java.sql.SQLException
            if hasSqlState(e, "40001", "40XL1") && attempt < 4 =>
          () // serialization conflict — retry the whole transaction
      }
    }
  }

  private def chunkRowExists(chunkId: Long): Boolean = withConn { conn =>
    val ps = conn.prepareStatement(
      s"""SELECT 1 FROM $QChunk WHERE "apdb_replica_chunk" = ?""")
    try { ps.setLong(1, chunkId); ps.executeQuery().next() }
    finally ps.close()
  }


  /** The UPDATE form of [[PpdbOps.fillValidityEnd]]'s LEAD fill, run
    * AFTER the chunk's rows are inserted: for the incoming object ids,
    * every OPEN interval that has a later version closes at that
    * successor's start. Only NULL intervals close — closed history is
    * never touched (gap preservation) — and an open interval with no
    * successor stays open, exactly the window semantics. Covers the
    * within-chunk multi-version chain, closure of prior versions by this
    * chunk, AND re-closure of upsert-replaced rows by later versions
    * already in the table (the case a pre-insert closure pass misses).
    * Per id this is a PK-index range scan; the batch is chunk-bounded.
    */
  private def fillValidity(conn: Connection, objRows: Array[Row]): Unit = {
    if (objRows.isEmpty) return
    val ids = objRows.map(_.getLong(0)).distinct
    val ps = conn.prepareStatement(
      s"""UPDATE $QObj o SET "validityEndMjdTai" =
         |   (SELECT MIN(n."validityStartMjdTai") FROM $QObj n
         |     WHERE n."diaObjectId" = o."diaObjectId"
         |       AND n."validityStartMjdTai" > o."validityStartMjdTai")
         | WHERE o."diaObjectId" = ? AND o."validityEndMjdTai" IS NULL
         |   AND EXISTS (SELECT 1 FROM $QObj s
         |     WHERE s."diaObjectId" = o."diaObjectId"
         |       AND s."validityStartMjdTai" > o."validityStartMjdTai")""".stripMargin)
    try {
      ids.foreach { id => ps.setLong(1, id); ps.addBatch() }
      ps.executeBatch()
      ()
    } finally ps.close()
  }

  /** Apply one table's collapsed patch as batched UPDATEs. Rows are
    * grouped by their present-field signature (one PreparedStatement per
    * signature); an UPDATE matching zero rows is a dangling update (J6)
    * and aborts the transaction, exactly like the Parquet backends' J6
    * check on the driver ([[PpdbOps.danglingKeys]]) — but here the
    * rollback also un-inserts the chunk.
    */
  private def applyPatch(conn: Connection, chunkId: Long, table: String,
      spec: PpdbOps.MergeSpec, rows: Array[Row], schema: StructType): Unit = {
    val keyIdx = spec.keys.map(schema.fieldIndex)
    val keyTypes = spec.keys.map(k => schema(schema.fieldIndex(k)).dataType)
    def presentFields(r: Row): Seq[String] = spec.fields.collect {
      case (f, _) if {
        val p = schema.fieldIndex(s"${f}_present")
        val v = schema.fieldIndex(s"${f}_value")
        !r.isNullAt(p) && r.getBoolean(p) &&
          // requireValueNonNull fields keep the old value on a NULL patch
          (!spec.requireValueNonNull.contains(f) || !r.isNullAt(v))
      } => f
    }
    rows.groupBy(presentFields).foreach { case (fields, group) =>
      if (fields.isEmpty) {
        // No effective SET (e.g. a requireValueNonNull field patched to
        // NULL) — J6 still validates the key exists, like danglingKeys.
        val where = spec.keys.map(k => s""""$k" = ?""").mkString(" AND ")
        val ps = conn.prepareStatement(
          s"""SELECT 1 FROM "$table" WHERE $where""")
        try group.foreach { r =>
          keyIdx.zip(keyTypes).zipWithIndex.foreach { case ((ri, dt), i) =>
            setParam(ps, i + 1, dt, r, ri)
          }
          if (!ps.executeQuery().next()) throw new IllegalStateException(
            s"chunk $chunkId: update for missing $table row " +
              spec.keys.zip(keyIdx.map(r.get)).mkString(", "))
        } finally ps.close()
      } else {
        val sets = fields.map(f => s""""$f" = ?""").mkString(", ")
        val where = spec.keys.map(k => s""""$k" = ?""").mkString(" AND ")
        val ps = conn.prepareStatement(
          s"""UPDATE "$table" SET $sets WHERE $where""")
        try {
          group.foreach { r =>
            fields.zipWithIndex.foreach { case (f, i) =>
              val vIdx = schema.fieldIndex(s"${f}_value")
              setParam(ps, i + 1, schema(vIdx).dataType, r, vIdx)
            }
            keyIdx.zip(keyTypes).zipWithIndex.foreach { case ((ri, dt), i) =>
              setParam(ps, fields.length + i + 1, dt, r, ri)
            }
            ps.addBatch()
          }
          val counts = ps.executeBatch()
          val miss = counts.indexWhere(_ == 0)
          if (miss >= 0) throw new IllegalStateException(
            s"chunk $chunkId: update for missing $table row " +
              spec.keys.zip(keyIdx.map(group(miss).get)).mkString(", "))
        } finally ps.close()
      }
    }
  }

  private def upsertChunkRow(conn: Connection, chunk: ChunkData,
      known: Boolean): Unit = {
    if (known) {
      val ps = conn.prepareStatement(
        s"""DELETE FROM $QChunk WHERE "apdb_replica_chunk" = ?""")
      try { ps.setLong(1, chunk.chunkId); ps.executeUpdate(); () }
      finally ps.close()
    }
    val row = Row(chunk.chunkId, chunk.lastUpdateTimeUs, chunk.uniqueId,
      System.currentTimeMillis() * 1000L, PpdbSchema.ChunkStatus.Promoted,
      null, chunk.updates.size.toLong)
    insertBatch(conn, "PpdbReplicaChunk", PpdbSchema.replicaChunk, Array(row))
  }

  // -------------------------------------------------------------- reads

  /** Bookkeeping read through `spark.read.jdbc`; the `minId` bound is a
    * Catalyst filter PUSHED into the database scan (the JDBC relation
    * compiles it to `WHERE "apdb_replica_chunk" >= ?`), so the driver
    * never pulls the full chunk table.
    */
  def replicaChunks(minId: Option[Long] = None): DataFrame = {
    val base = jdbcRead("PpdbReplicaChunk")
    val filtered = minId.fold(base)(m => base.where(col("apdb_replica_chunk") >= m))
    filtered.orderBy("last_update_time_us")
  }

  /** Whole-table analytic read. With a numeric `partitionColumn` and
    * bounds, Spark opens `numPartitions` parallel connections each
    * scanning one key stride — the multi-executor read path for a live
    * store.
    */
  def read(table: String): DataFrame = jdbcRead(table)

  def read(table: String, partitionColumn: String, lowerBound: Long,
      upperBound: Long, numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s""""$table"""")
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()

  /** Driver-side min/max of a numeric key — the partition bounds for
    * [[read]]'s parallel scan (one 1-row query; the database computes it
    * from the PK index). None on an empty table.
    */
  def keyBounds(table: String, column: String): Option[(Long, Long)] =
    withConn { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"""SELECT MIN("$column"), MAX("$column") FROM "$table"""")
        if (rs.next() && rs.getObject(1) != null)
          Some((rs.getLong(1), rs.getLong(2)))
        else None
      } finally st.close()
    }

  private def jdbcRead(table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s""""$table"""")
      .load()

  /** Distributed bulk backfill: executors write concurrent batched
    * INSERTs (`df.write.jdbc` append). NOT transactional across
    * partitions — this is the initial-load path, not the chunk path;
    * per-chunk ingest stays in [[store]]'s single transaction.
    */
  def bulkLoad(table: String, df: DataFrame, batchSize: Int = 1000): Unit =
    df.write.mode("append")
      .option("batchsize", batchSize)
      .jdbc(url, s""""$table"""", new java.util.Properties)

  // ----------------------------------------------------------- JDBC plumbing

  private def withConn[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def metaItems(conn: Connection): Map[String, String] = {
    if (!listTables(conn).contains("metadata")) return Map.empty
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"""SELECT "name", "value" FROM $QMeta""")
      val b = Map.newBuilder[String, String]
      while (rs.next()) b += rs.getString(1) -> rs.getString(2)
      b.result()
    } finally st.close()
  }

  private def upsertMeta(conn: Connection, key: String, value: String): Unit = {
    val del = conn.prepareStatement(s"""DELETE FROM $QMeta WHERE "name" = ?""")
    try { del.setString(1, key); del.executeUpdate() } finally del.close()
    val ins = conn.prepareStatement(
      s"""INSERT INTO $QMeta ("name", "value") VALUES (?, ?)""")
    try { ins.setString(1, key); ins.setString(2, value); ins.executeUpdate(); () }
    finally ins.close()
  }

  private def insertBatch(conn: Connection, table: String, schema: StructType,
      rows: Array[Row], batchSize: Int = 1000): Unit =
    PpdbJdbc.insertBatch(conn, table, schema, rows, batchSize)

  private def deleteByKeys(conn: Connection, table: String, schema: StructType,
      keys: Seq[String], rows: Array[Row]): Unit = {
    if (rows.isEmpty) return
    val idx = keys.map(schema.fieldIndex)
    val where = keys.map(k => s""""$k" = ?""").mkString(" AND ")
    val ps = conn.prepareStatement(s"""DELETE FROM "$table" WHERE $where""")
    try {
      rows.foreach { r =>
        idx.zipWithIndex.foreach { case (ri, i) =>
          setParam(ps, i + 1, schema(ri).dataType, r, ri)
        }
        ps.addBatch()
      }
      ps.executeBatch()
      ()
    } finally ps.close()
  }

}

object PpdbJdbc {
  // Keep Derby's chatter out of the working tree root.
  if (System.getProperty("derby.stream.error.file") == null)
    System.setProperty("derby.stream.error.file", "target/derby.log")

  /** Embedded-Derby URL for a database directory (created on first open). */
  def derbyUrl(path: String): String = s"jdbc:derby:$path;create=true"

  /** In-memory embedded-Derby URL (specs, scratch stores). */
  def derbyMemUrl(name: String): String = s"jdbc:derby:memory:$name;create=true"

  /** Cleanly shut down an embedded-Derby database (releases its file
    * locks so the directory can be removed). Derby signals success with
    * SQLState 08006, so the "error" is swallowed.
    */
  def shutdownDerby(url: String): Unit = {
    val base = url.split(";").head
    try { DriverManager.getConnection(s"$base;shutdown=true"); () }
    catch { case _: java.sql.SQLException => () }
  }

  /** Open + initialize a store at `url` (creates tables on first open,
    * version-checks on reopen).
    */
  def open(spark: SparkSession, url: String): PpdbJdbc = {
    val p = new PpdbJdbc(spark, url); p.init(); p
  }

  private val MetaSchemaKey = "version:schema"
  private val MetaCodeKey = "version:ppdb-spark"

  private val QObj = "\"DiaObject\""
  private val QChunk = "\"PpdbReplicaChunk\""
  private val QMeta = "\"metadata\""

  /** (table, schema, primary key) — PKs give the ingest UPDATEs and the
    * exactly-once probe their indexes.
    */
  private val allTables: Seq[(String, StructType, Seq[String])] = Seq(
    ("DiaObject", PpdbSchema.diaObject,
      Seq("diaObjectId", "validityStartMjdTai")),
    ("DiaSource", PpdbSchema.diaSource, Seq("diaSourceId")),
    ("DiaForcedSource", PpdbSchema.diaForcedSource,
      Seq("diaObjectId", "visit", "detector")),
    ("PpdbReplicaChunk", PpdbSchema.replicaChunk, Seq("apdb_replica_chunk")),
    ("metadata", PpdbSchema.metadata, Seq("name")))

  private[graft] def insertBatch(conn: Connection, table: String,
      schema: StructType, rows: Array[Row], batchSize: Int = 1000): Unit = {
    if (rows.isEmpty) return
    val cols = schema.fieldNames.map(c => s""""$c"""").mkString(", ")
    val marks = schema.fieldNames.map(_ => "?").mkString(", ")
    val ps = conn.prepareStatement(
      s"""INSERT INTO "$table" ($cols) VALUES ($marks)""")
    try {
      var pending = 0
      rows.foreach { r =>
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          setParam(ps, i + 1, f.dataType, r, i)
        }
        ps.addBatch(); pending += 1
        if (pending >= batchSize) { ps.executeBatch(); pending = 0 }
      }
      if (pending > 0) ps.executeBatch()
      ()
    } finally ps.close()
  }

  /** Does the exception chain carry one of these SQLStates? Walks BOTH
    * the getNextException chain and the cause chain (Derby uses either,
    * depending on whether a BatchUpdateException wraps the violation).
    */
  private[graft] def hasSqlState(e: java.sql.SQLException,
      states: String*): Boolean = {
    var cur: Throwable = e
    var hops = 0
    while (cur != null && hops < 20) {
      cur match {
        case s: java.sql.SQLException =>
          if (states.contains(s.getSQLState)) return true
          if (s.getNextException != null && (s.getNextException ne s)) {
            if (hasSqlState(s.getNextException, states: _*)) return true
          }
        case _ => ()
      }
      cur = if (cur.getCause ne cur) cur.getCause else null
      hops += 1
    }
    false
  }

  private[graft] def listTables(conn: Connection): Set[String] = {
    val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val b = Set.newBuilder[String]
    while (rs.next()) b += rs.getString("TABLE_NAME")
    b.result()
  }

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case StringType => "VARCHAR(4096)"
    case other => throw new IllegalArgumentException(
      s"no JDBC mapping for $other")
  }

  private[graft] def createDdl(name: String, schema: StructType,
      pk: Seq[String]): String = {
    val cols = schema.fields.map { f =>
      val nn = if (f.nullable) "" else " NOT NULL"
      s""""${f.name}" ${sqlType(f.dataType)}$nn"""
    }
    val pkc =
      if (pk.isEmpty) Nil
      else Seq(s"""PRIMARY KEY (${pk.map(k => s""""$k"""").mkString(", ")})""")
    s"""CREATE TABLE "$name" (${(cols ++ pkc).mkString(", ")})"""
  }

  private[graft] def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try { st.executeUpdate(sql); () } finally st.close()
  }

  private[graft] def setParam(ps: PreparedStatement, pIdx: Int, dt: DataType,
      r: Row, rIdx: Int): Unit =
    if (r.isNullAt(rIdx)) ps.setNull(pIdx, dt match {
      case LongType => Types.BIGINT
      case IntegerType => Types.INTEGER
      case ShortType => Types.SMALLINT
      case DoubleType => Types.DOUBLE
      case FloatType => Types.REAL
      case BooleanType => Types.BOOLEAN
      case _ => Types.VARCHAR
    })
    else dt match {
      case LongType => ps.setLong(pIdx, r.getLong(rIdx))
      case IntegerType => ps.setInt(pIdx, r.getInt(rIdx))
      case ShortType => ps.setShort(pIdx, r.getShort(rIdx))
      case DoubleType => ps.setDouble(pIdx, r.getDouble(rIdx))
      case FloatType => ps.setFloat(pIdx, r.getFloat(rIdx))
      case BooleanType => ps.setBoolean(pIdx, r.getBoolean(rIdx))
      case StringType => ps.setString(pIdx, r.getString(rIdx))
      case other => throw new IllegalArgumentException(
        s"no JDBC mapping for $other")
    }
}
