package graft.replicate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{TableDelta, VersionedCatalog}
import graft.ops.PpdbOps
import graft.schema.PpdbSchema

/** The scoped chunk merge of both Parquet backends: the reference's SQL
  * per-chunk transaction (P/sql/_ppdb_sql.py:127-155) and its BigQuery
  * promotion (P/bigquery/chunk_promoter.py:117-348) compute the same
  * merge, and here it is computed once, for [[PpdbSpark.store]] (one
  * chunk into `DiaObject`, …) and [[Promoter.promote]] (a staged batch
  * into `internal.DiaObject`, …, plus the `public.DiaObjectLast`
  * snapshot).
  *
  * The scope is held on the driver. Per table, one filtered scan (no
  * shuffle) collects the staged keys the table's dirs can hold, per
  * their zone maps, or that share an id with an update target, typed
  * like the target key columns. Staged keys new to a table stay off the
  * driver, so its memory follows the batch's overlap with stored data,
  * not the batch size. One dir probe per table
  * ([[VersionedCatalog.dirsTouching]]) takes those keys and also reports
  * which patched keys it found, so the J6 check (an update must target
  * an existing row) is a set difference on the driver instead of a
  * query. The probed dirs are rewritten with the validity fill
  * (DiaObject), the same-key replacement and the last-write-wins patch;
  * every other dir carries over untouched, and the merge's scope joins
  * use the driver-held keys as broadcast local relations.
  */
object ScopedMerge {

  /** One output table's share of a merge: the dirs it replaces, the rows
    * replacing them, and the inputs of its J6 check — the patch keys
    * (see [[PpdbOps.patchKeys]]), those the probe found and those the
    * batch stages. `label` names the table in J6 errors.
    */
  private final case class Scoped(label: String, table: String,
      affected: Seq[String], rows: DataFrame, patch: Map[Row, Boolean],
      found: Set[Row], staged: Set[Row])

  /** Plan the merge of staged rows into the three data tables, returning
    * each written table's delta for the caller's one atomic commit: the
    * dirs to drop and the rows to append under `label`.
    *
    *  - `prefix` names the tables: `prefix + "DiaObject"`, ….
    *  - `staged` gives a data table's staged rows (any column order).
    *  - `latest`, cached by the caller, holds the batch's latest-only
    *    updates ([[PpdbOps.latestOnly]]) and `updateKeys` their targets;
    *    `latest` may be None only when `updateKeys` is empty.
    *  - `snapshot` names a latest-version snapshot of DiaObject
    *    ([[PpdbOps.latestSnapshot]]) to refresh in the same scope.
    *  - `replace`: staged rows replace stored rows sharing their primary
    *    key — (diaObjectId, validityStartMjdTai) / diaSourceId /
    *    (diaObjectId, visit, detector). Without it, and with no update
    *    for it, a fact table collects no key, probes nothing and gets a
    *    plain append.
    *
    * The per-table chains (key collect, dir probe, plan build) share no
    * state and run concurrently; a failure surfaces as the first in
    * table order (DiaObject, DiaSource, DiaForcedSource), whatever the
    * thread timing. J6 runs afterwards on the caller's thread, in that
    * order, and starts no job. Timers: `promote_dir_probe_time` per
    * probe, `promote_validate_time` per patched table.
    */
  def plan(spark: SparkSession, catalog: VersionedCatalog, prefix: String,
      staged: String => DataFrame, latest: Option[DataFrame],
      updateKeys: Seq[PpdbOps.UpdateKey], snapshot: Option[String],
      replace: Boolean, label: String): Map[String, TableDelta] = {
    val batchTag = "batch" -> label
    def probe(table: String, keySchema: StructType, keys: Map[Row, Boolean]) =
      graft.Metrics.time("promote_dir_probe_time", batchTag,
          "table" -> table) {
        catalog.dirsTouching(spark, table, keySchema, keys)
      }

    def chain(t: String) = () => {
      val name = prefix + t
      val target = catalog.read(spark, name)
      val rows = staged(t).select(target.columns.map(col).toSeq: _*)
      val spec = PpdbOps.mergeSpecs(t)
      val keys = PpdbOps.keySchema(spec, target.schema)
      val isObject = t == "DiaObject"
      // DiaObject's key is the id; its rows' primary key adds the start
      val pk =
        if (isObject) keys.add(target.schema("validityStartMjdTai")) else keys
      val snap = snapshot.filter(_ => isObject)
      val patch = PpdbOps.patchKeys(spark, updateKeys, spec, keys)
      // the validity fill needs every stored version of a staged object,
      // whether or not staged rows replace stored ones; the snapshot
      // shares the ids, so a key either table can hold is in scope
      val scopeStaged = isObject || replace
      val mayExist =
        if (!scopeStaged) None
        else (name +: snap.toSeq).flatMap(catalog.mayHold(_, keys.head))
          .reduceOption(_ || _)
      val stagedPks = PpdbOps.neededKeys(rows, pk, mayExist, patch)
      val stagedKeys =
        if (isObject) stagedPks.map(r => Row(r.get(0))).toSet
        else stagedPks.toSet
      val scope = (if (scopeStaged) stagedKeys.map(_ -> false).toMap
        else Map.empty[Row, Boolean]) ++ patch
      val probes = graft.Concurrently.all(
        (name +: snap.toSeq).map(n => () => probe(n, keys, scope)))
      val probed = probes.head

      val base0 =
        if (probed.dirs.isEmpty) PpdbOps.emptyRows(spark, target.schema)
        else catalog.readDirs(spark, probed.dirs, target.columns.toSeq)
      // MERGE semantics (the reference's WHEN MATCHED UPDATE): staged rows
      // REPLACE stored rows sharing their primary key, so a chunk
      // re-exported in update mode and merged again lands exactly once.
      // Normal-flow keys are new — the anti-join drops nothing. The probe
      // already covers same-key rows.
      val base =
        if (!replace) base0
        else base0.join(broadcast(PpdbOps.localRows(spark, stagedPks, pk)),
          pk.fieldNames.toSeq, "left_anti")
      def patched(df: DataFrame) =
        if (patch.isEmpty) df
        else PpdbOps.mergePatch(df, PpdbOps.buildPatch(latest.get, spec), spec)
      lazy val stagedIds = PpdbOps.localRows(spark, stagedKeys.toSeq, keys)
      val merged =
        if (isObject) PpdbOps.fillValidityEnd(base, rows, stagedIds)
        else if (probed.dirs.isEmpty && patch.isEmpty) rows
        else base.unionByName(rows)
      Scoped(t, name, probed.dirs, patched(merged), patch, probed.found,
        stagedKeys) +: snap.toSeq.map { snapTable =>
        // the snapshot rows: the snapshot dirs' out-of-scope rows carry
        // over, the in-scope rows are replaced by the scope's new open
        // intervals (an object whose interval closed simply disappears).
        // snapNew holds the SCOPE's rows only — every staged row and the
        // base rows of a staged or patched id: the probed dirs also carry
        // out-of-scope rows that merely shared a dir with scoped ids, and
        // those keep their existing snapshot rows via snapBase.
        val snapProbe = probes(1)
        val scopeIds = PpdbOps.localRows(spark, scope.keys.toSeq, keys)
        val snapNew = PpdbOps.latestSnapshot(patched(PpdbOps.fillValidityEnd(
          base.join(broadcast(scopeIds), Seq("diaObjectId"), "left_semi"),
          rows, stagedIds)))
        val snapBase =
          if (snapProbe.dirs.isEmpty) PpdbOps.emptyRows(spark, snapNew.schema)
          else catalog.readDirs(spark, snapProbe.dirs, snapNew.columns.toSeq)
            .join(broadcast(scopeIds), Seq("diaObjectId"), "left_anti")
        Scoped("DiaObjectLast", snapTable, snapProbe.dirs,
          snapBase.unionByName(snapNew), Map.empty, Set.empty, Set.empty)
      }
    }

    val scoped = graft.Concurrently.all(PpdbSchema.dataTables.map(chain))
      .flatten
    // J6: an update record targeting a missing row must ABORT the merge
    // (mergePatch's left-outer join would silently drop it). Any stored
    // row with a patched key lives in a dir the probe scanned, so a
    // patched key neither found there nor staged is missing from the
    // table (P/sql/_ppdb_sql.py:303-314)
    scoped.filter(_.patch.nonEmpty).foreach { s =>
      graft.Metrics.time("promote_validate_time", "table" -> s.label) {
        PpdbOps.danglingKeys(s.patch, s.found, s.staged).headOption
          .foreach { k =>
            throw new IllegalStateException(
              s"$label: update for missing ${s.label} row " + k.toString)
          }
      }
    }
    scoped.map { s =>
      s.table -> TableDelta(dropDirs = s.affected.toSet,
        appends = Seq(s.rows -> label))
    }.toMap
  }
}
