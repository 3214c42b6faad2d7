package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Plan-truncation bridge for iterative DataFrame algorithms.
  *
  * Each round of an iterative algorithm (connected components, Lloyd
  * iterations) nests the previous round's logical plan; after k rounds
  * plan compilation/stringification is O(2^k) and OOMs long before data
  * size matters. `localCheckpoint` truncates, but its blocks live outside
  * the CacheManager — `spark.catalog.clearCache()` (the repo-wide release
  * convention for persisted query internals) can't free them, and they
  * linger until driver GC.
  *
  * `truncated` rebuilds a DataFrame directly over the physical RDD of the
  * input's plan (`LogicalRDD.fromDataset` is private[sql], hence this
  * bridge): the new plan is a single leaf node, and a `persist()` on it
  * IS CacheManager-visible, so the caller keeps deterministic release.
  * Lineage beyond the leaf is plain RDD lineage — cheap for the ≤ 50
  * rounds these loops cap at, and recompute-correct if blocks are
  * evicted.
  *
  * The leaf reports UnknownPartitioning under AQE (the dataset's
  * executedPlan is `AdaptiveSparkPlanExec`, which hides the final plan's
  * layout), so a consumer re-exchanges it. That is kept on purpose: a
  * round-state leaf is usually the SMALL side of its next join, and
  * the exchange's stage boundary lets AQE broadcast it at runtime.
  * Carrying the hash layout instead removed that re-planning point and
  * made the big side co-partition (kCore: 1.57M → 3.96M shuffle records
  * at sf0.1), and on g2_pagerank it changed no counter.
  */
object PlanBridge {
  def truncated(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ds =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]]
    // execute FIRST (finalizes AQE stages), THEN capture metadata; copy
    // each InternalRow: execute() yields operator-reused UnsafeRow
    // buffers (Dataset.checkpoint does the same defensive copy)
    val rdd = df.queryExecution.executedPlan.execute().map(_.copy())
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
