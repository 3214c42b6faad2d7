package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.PpdbOps

/** J6 as a query: the patch keys with no row in `target` (a left anti
  * join of the patch against the merge target — the check the services
  * ran before they settled J6 on the driver). Kept as the oracle the
  * driver-side [[PpdbOps.danglingKeys]] is compared against.
  */
object J6Oracle {
  def danglingUpdates(target: DataFrame, patch: DataFrame,
      spec: PpdbOps.MergeSpec): DataFrame = {
    val t = target.select(spec.keys.map(col): _*)
    patch.select(spec.keys.map(col): _*)
      .join(t, spec.keys.toSeq, "left_anti")
  }
}
