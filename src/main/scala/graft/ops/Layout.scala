package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for multi-dimensional scan pruning.
  *
  * Parquet skipping (row groups locally, files via min/max manifests) works
  * off per-column value RANGES. A table sorted by one column skips
  * beautifully on that column and not at all on any other; a query
  * predicating two dimensions against a one-dimensional sort reads almost
  * everything. Interleaving the dimensions' bits into one Morton (Z-order)
  * key and range-partitioning + sorting by it bounds EVERY interleaved
  * dimension's min/max range within each file — a box predicate then
  * overlaps only the files near its corner of the space, and both
  * dimensions prune at once. This is the clustering strategy behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY` (reference capability: layout-driven
  * pruning; the mechanism here is re-expressed directly over parquet).
  *
  * Everything is plain `functions._` arithmetic — shifts, masks, adds — so
  * the key computation stays inside whole-stage codegen and is reproducible
  * in any engine (the z1 oracle recomputes it in SQL, bit for bit).
  */
object Layout {

  /** Morton key: bit-interleave of `cols`, `bitsPerDim` bits each — bit `b`
    * of dimension `i` lands at position `b·n + i`, so the dimensions take
    * strictly alternating bit positions and contribute equally to the sort
    * order at every scale.
    *
    * Inputs MUST already be integers in `[0, 2^bitsPerDim)` — out-of-range
    * bits would silently collide positions, so scale/bucket first (see
    * [[scaleTo]]; `pmod` works for naturally-bounded ids). The total width
    * is capped at 63 bits to stay inside a signed long under ANSI mode.
    */
  def zorderKey(cols: Seq[Column], bitsPerDim: Int = 16): Column = {
    require(cols.nonEmpty, "zorderKey needs at least one dimension")
    require(bitsPerDim >= 1, "zorderKey needs at least one bit per dimension" +
      s" (got $bitsPerDim — more than 63 dimensions cannot interleave into a long)")
    require(cols.size * bitsPerDim <= 63,
      s"${cols.size} dims x $bitsPerDim bits exceeds a signed long")
    val n = cols.size
    cols.zipWithIndex.map { case (c, i) =>
      val x = c.cast("long")
      (0 until bitsPerDim).map { b =>
        shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), b * n + i)
      }.reduce(_ + _)
    }.reduce(_ + _)
  }

  /** Linear map of a numeric column onto `[0, 2^bits)`, clamped at both
    * ends — the normalization step ahead of [[zorderKey]] for unbounded
    * dimensions (use the column's global or per-partition min/max, which at
    * 100 TB you read from table stats, not a scan).
    */
  def scaleTo(c: Column, minV: Double, maxV: Double, bits: Int): Column = {
    require(maxV > minV, "scaleTo needs a non-degenerate range")
    val span = (1L << bits) - 1
    // clamp in DOUBLE space before the long cast: under ANSI mode a cast of
    // a far-out-of-range or NaN double throws instead of clamping, killing
    // the layout job on one corrupt row (least/greatest order NaN above
    // every double, so NaN lands on the top bucket rather than erroring)
    val scaled = (c.cast("double") - minV) / (maxV - minV) * (1L << bits)
    least(lit(span.toDouble), greatest(lit(0.0), scaled)).cast("long")
  }

  /** Cluster `df` for writing: range-partition into `numFiles` output
    * partitions by the Morton key of `dims` and sort within each — one
    * range shuffle, then each written file covers a compact z-interval
    * whose per-dimension min/max ranges are tight. Feed the result straight
    * to `.write.parquet(...)`; the helper key column is dropped.
    *
    * At cluster scale the range exchange samples key quantiles first (the
    * standard `repartitionByRange` machinery), so file sizes stay balanced
    * even when the dimensions are skewed.
    */
  def zorderRepartition(df: DataFrame, dims: Seq[Column], numFiles: Int,
      bitsPerDim: Int = 16): DataFrame =
    df.withColumn("__zkey", zorderKey(dims, bitsPerDim))
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")

  /** Per-group form of [[zorderRepartition]], for writers that partition
    * their output by `group` (one directory per value, `groups` values at
    * most): each group's rows are cut into `filesPerGroup` equal-width
    * intervals of the Morton key, taken from its high bits, and
    * hash-partitioned on `(group, interval)` — one exchange, no sampling
    * job, at most `filesPerGroup` files per group however many groups the
    * frame spans (a range over `(group, key)` straddles group edges and
    * splits one group's interval across two files). With a power-of-two
    * `filesPerGroup` each interval is an axis-aligned box of the dims, the
    * tightest envelope a file can have; file sizes follow the data, so a
    * skewed group writes fewer, larger files rather than more.
    */
  private[graft] def zorderRepartition(df: DataFrame, group: Column, groups: Int,
      dims: Seq[Column], filesPerGroup: Int, bitsPerDim: Int): DataFrame = {
    val width = dims.size * bitsPerDim
    // the top `hi` bits (at most 24, so `· filesPerGroup` fits a long)
    // scaled onto [0, filesPerGroup)
    val hi = math.min(width, 24)
    val interval = shiftright(
      shiftright(col("__zkey"), width - hi) * lit(filesPerGroup.toLong), hi)
    df.withColumn("__zkey", zorderKey(dims, bitsPerDim))
      .repartition(groups * filesPerGroup, group, interval)
      .sortWithinPartitions(group, col("__zkey"))
      .drop("__zkey")
  }

  /** Per-file min/max envelope of `cols` for a written parquet directory —
    * the same statistics a manifest/footer-based planner prunes on. Used by
    * the layout spec to MEASURE skipping: a file whose envelope misses the
    * query box would never be read.
    */
  def fileEnvelopes(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
}
