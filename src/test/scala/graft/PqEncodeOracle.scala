package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, broadcast, col, explode, lit,
  min, slice, struct}

import graft.ops.Similarity.dot

/** Relational PQ encode: per (vector, subspace), the codebook entry
  * minimizing squared L2 distance — computed as |c|² − 2·v_j·c (the
  * |v_j|² term is constant under the argmin), all dot products in the
  * reproducible ordered fold. One broadcast join + one
  * map-side-combining argmin shuffle; no window. Returns (id, sub,
  * code). Kept as the oracle the map-only kernel encoders
  * (`Similarity.pqEncodeFast`/`pqEncodePacked`) are compared against.
  */
object PqEncodeOracle {
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dims: Int): DataFrame = {
    val sd = dims / m
    df.select(col(idCol),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            slice(col(vecCol), j * sd + 1, sd).as("v"))): _*)).as("sv"))
      .select(col(idCol), col("sv.sub").as("sub"), col("sv.v").as("v"))
      .join(broadcast(codebooks), Seq("sub"))
      .select(col(idCol), col("sub"), col("centroid_id"),
        (dot(col("centroid"), col("centroid"))
          - lit(2.0) * dot(col("v"), col("centroid"))).as("score"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("score"), col("centroid_id"))).as("best"))
      .select(col(idCol), col("sub"), col("best.centroid_id").as("code"))
  }
}
