package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Catalog-backed key/value metadata table — the engine's counterpart of
  * the reference's `metadata` table (P/sql/_ppdb_sql_base.py:151-154;
  * columns per resources/config/schemas/test_apdb_schema.yaml:6-20):
  * schema/code versions and other engine facts persist WITH the data and
  * survive a catalog reopen.
  *
  * The table is control-plane tiny (a handful of rows), so mutations are
  * atomic single-table rewrites through the catalog pointer.
  */
final class MetadataTable(spark: SparkSession, catalog: VersionedCatalog,
    table: String = "metadata") {

  def init(): Unit =
    if (!catalog.exists(table)) catalog.commit(Map(table -> emptyDf))

  private def emptyDf: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      MetadataTable.schema)

  def items: Map[String, String] =
    if (!catalog.exists(table)) Map.empty
    else catalog.read(spark, table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  def get(key: String): Option[String] = items.get(key)

  /** Insert, or with `force` replace, one key (the reference's
    * ApdbMetadataSql.set semantics: plain set on an existing key fails).
    */
  def set(key: String, value: String, force: Boolean = false): Unit = {
    val current = items
    if (current.contains(key) && !force)
      throw new IllegalStateException(s"metadata key '$key' already exists")
    write(current + (key -> value))
  }

  def delete(key: String): Boolean = {
    val current = items
    val existed = current.contains(key)
    if (existed) write(current - key)
    existed
  }

  /** Refuse a store whose recorded schema/code versions the running code
    * cannot read (major mismatch, or stored minor newer than running).
    * Missing keys pass — pre-metadata stores stay openable.
    */
  def checkCompatibility(schemaRunning: graft.schema.VersionTuple,
      codeRunning: graft.schema.VersionTuple): Unit = {
    def check(key: String, running: graft.schema.VersionTuple): Unit =
      get(key).map(graft.schema.VersionTuple.parse).foreach { stored =>
        if (!running.compatibleWith(stored))
          throw new IllegalStateException(
            s"$key: running ${running.render} cannot read stored " +
              s"${stored.render}")
      }
    check(MetadataTable.SchemaVersionKey, schemaRunning)
    check(MetadataTable.CodeVersionKey, codeRunning)
  }

  /** Record a store's schema version and the running code version. */
  def stamp(schemaVersion: graft.schema.VersionTuple): Unit = {
    init()
    set(MetadataTable.SchemaVersionKey, schemaVersion.render, force = true)
    set(MetadataTable.CodeVersionKey,
      graft.schema.VersionTuple.Current.render, force = true)
  }

  /** Open a PPDB store, or create it when `exists` is false: reopening
    * CHECKS the stored versions against the running code
    * (P/sql/_ppdb_sql_base.py:156-158,333-372) and refuses incompatible
    * stores; creating runs `create` and then [[stamp]]s the versions.
    */
  def openOrCreate(exists: Boolean)(create: => Unit): Unit =
    if (exists) checkCompatibility(graft.schema.PpdbSchema.schemaVersion,
      graft.schema.VersionTuple.Current)
    else { create; stamp(graft.schema.PpdbSchema.schemaVersion) }

  private def write(m: Map[String, String]): Unit = {
    val rows = m.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    catalog.commit(Map(table ->
      spark.createDataFrame(rows.asJava, MetadataTable.schema)))
    ()
  }
}

object MetadataTable {
  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Stored Felis schema version key (P/sql/_ppdb_sql_base.py:142-143). */
  val SchemaVersionKey = "version:schema"

  /** Stored engine code version key (the reference derives its key from
    * the implementing class; this engine uses one fixed name).
    */
  val CodeVersionKey = "version:ppdb-spark"
}
