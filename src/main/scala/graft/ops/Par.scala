package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input fan-out for compute-heavy per-row operators
  * (guide §2.5, "input skew: one huge unsplittable file").
  *
  * A single-row-group parquet file (or a gzip text shard) scans as ONE
  * partition no matter the cluster size, and a projection-shaped operator
  * (MinHash signing, media synthesis, BPE shaping) then runs its entire
  * per-row compute on one core — 31 of 32 sit idle locally; at cluster
  * scale one straggler task carries the stage. `fanOut` repartitions to
  * the cluster's default parallelism ONLY when the input's planned
  * partition count is below it: corpora that already arrive as many
  * files/splits (the 100 TB case) pass through untouched with no
  * exchange, so this is derived from input shape, not a local constant.
  *
  * Round-robin repartition is deterministic under retries (Spark sorts
  * before round-robin — SPARK-23207) and every consumer of these
  * operators is row-order-insensitive (aggregations, banded joins,
  * order-pinned collect_list via array_sort), so results are unchanged.
  */
private[graft] object Par {
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // planned partition count of the frame as it would execute; for the
    // scan-level frames operators pass here this is the file-split count
    val cur = df.rdd.getNumPartitions
    if (cur >= target) df else df.repartition(target)
  }
}
