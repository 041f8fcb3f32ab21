package graft.ops

import graft.Checkpoints.Ownable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  *  - `cosineTopK` is the exact baseline: broadcast the (small) query set,
  *    scan the corpus once, per-query top-k via window. Cost = one corpus
  *    scan per batch of queries — the right exact method at any corpus size
  *    as long as the query batch stays broadcastable.
  *  - `signLshTopK` is the scale path: a seeded random-hyperplane (SRP) LSH
  *    bucket key turns the cross join into an equi-join on the bucket —
  *    candidates shrink ~2^bits.
  *  - `cosinePairs` (near-dup pairs ≥ threshold) bands over multi-table SRP
  *    keys: an equi-join on `(table, bucket)`, never an all-pairs self-join.
  *    Recall is banding-shaped (high only for near-dups) — see its doc.
  *
  * Dot products use `zip_with`/`aggregate` higher-order expressions on
  * double-cast values — sequential left-to-right accumulation, bit-stable
  * across engines.
  */
object Similarity {

  /** Cast an array<float> column to array<double> for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the codegen'd CosineSim expression — one fused loop, same
    * left-to-right accumulation order as the HOF formulation (bit-identical
    * results), ~no interpreted lambda overhead.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.cosine_sim(a, b)

  /** The pure higher-order-function formulation (kept for reference and for
    * engines without the custom expression).
    */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbours for each query row. Output: qid, vec_id, sim, rn. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qe"))
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ce"))
    val sims = c.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "sim", "rn")
  }

  /** Matryoshka truncation-depth dashboard (MRL-style embeddings, public
    * technique): exact recall@k of PREFIX-truncated cosine ANN against the
    * full-dimension exact top-k, per candidate depth — the decision table
    * for "how many leading components can this corpus afford to store".
    * Cosine self-normalizes, so truncation is a pure `slice` (no re-norm
    * column needed) and the whole dashboard is exact arithmetic the oracle
    * replays (the e1 parity: rounded sims, ties broken by id).
    *
    * Fully declarative — per depth one corpus scan (the honest cost of an
    * EXACT dashboard; run it on sampled queries), one left join against
    * the full-dim truth, one grouped census. At 100 TB: queries broadcast
    * (the cosineTopK shape), the join key set is |queries|·k rows.
    */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0), "dims must be positive")
    val full = cosineTopK(corpus, queries, idCol, vecCol, k)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    val truncated = dims.map { d =>
      cosineTopK(
          corpus.withColumn(vecCol, slice(col(vecCol), 1, d)),
          queries.withColumn(vecCol, slice(col(vecCol), 1, d)),
          idCol, vecCol, k)
        .select(lit(d).as("dims"), col("qid"), col("vec_id"))
    }.reduce(_.unionByName(_))
    truncated.join(broadcast(full), Seq("qid", "vec_id"), "left")
      .groupBy(col("dims"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"),
        count(lit(1)).as("n_candidates"))
      .select(col("dims"), col("n_hits"), col("n_candidates"),
        round(col("n_hits") / col("n_candidates"), 6).as("recall"))
  }

  /** Per-dimension [min, max] of a corpus — the SQ8 codebook (FAISS-style
    * scalar quantization, public technique). One aggregation: posexplode is
    * map-side combined down to `dims` rows per partition before the shuffle,
    * so the exchange carries partitions·dims rows regardless of corpus size.
    */
  def sqBounds(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Quantize vectors to SIGNED 8-bit levels `q_i = round(v_i·127/s)`
    * clamped to [−127, 127], where `s = max_dim max(|mn|, |mx|)` is one
    * global scale derived from the bounds (0 → all-zero corpus → level 0).
    *
    * Signed-symmetric, NOT per-dim affine, on purpose: an affine [0,255]
    * code shifts every value by −mn_i/δ_i, and the shift term dominates raw
    * integer dot products — ranking degenerates to "largest Σc_i" (measured
    * recall@5 ≈ 0 at 200k vectors). With a symmetric code the integer dot
    * `Σ q_a q_b = (127/s)²·(a·b) + O(quantization noise)` — an unbiased,
    * monotone approximation of the true inner product, so ranking is
    * preserved (FAISS's SQ8 distance-on-reconstruction collapses to exactly
    * this when the scale is shared).
    *
    * The scale rides along as one broadcast scalar; quantization is a pure
    * projection, a fixed left-to-right IEEE expression the DuckDB oracle
    * reproduces bit-for-bit. At 100 TB the quantized corpus is what you
    * persist/cache: 4× smaller than float32, integer dot products.
    */
  def sqQuantize(df: DataFrame, idCol: String, vecCol: String,
      bounds: DataFrame): DataFrame =
    sqQuantizeScaled(df, idCol, vecCol, sqScale(bounds))

  /** Collapse per-dim bounds to the ONE-ROW global scale frame `(__s)` —
    * the scalar an SQ index persists next to its codes so later batches and
    * probes quantize identically to the build.
    */
  def sqScale(bounds: DataFrame): DataFrame =
    bounds.agg(max(greatest(abs(col("mn")), abs(col("mx")))).as("__s"))

  /** Quantize against an EXPLICIT scale frame (the persisted-index path:
    * appended batches and probe queries must quantize against the
    * build-time scale, the same freeze contract as IVF centroids —
    * re-deriving the scale per batch would make codes incomparable across
    * the table). The scale rides along as one broadcast row; quantization
    * stays a pure projection.
    */
  def sqQuantizeScaled(df: DataFrame, idCol: String, vecCol: String,
      scale: DataFrame): DataFrame =
    df.crossJoin(broadcast(scale))
      .select(col(idCol),
        sqLevels(asDouble(col(vecCol)), col("__s")).as("qv"))

  /** The SQ8 level expression itself: `least(greatest(floor(x·127/s + 0.5),
    * −127), 127)` per element, 0 for an all-zero corpus — one fixed
    * left-to-right IEEE expression the DuckDB oracle mirrors bit-for-bit.
    */
  def sqLevels(vec: Column, s: Column): Column =
    transform(vec, x =>
      when(s === 0d, lit(0L))
        .otherwise(least(greatest(
          floor(x * lit(127) / s + lit(0.5)), lit(-127L)), lit(127L))))

  /** Top-k neighbours scored in the compressed domain: symmetric SQ8
    * (corpus AND queries quantized against the corpus scale), ranked by the
    * integer dot product `Σ q_i·c_i` — exact integer compare, deterministic
    * ties by vec_id. Plan: bounds agg (dims-sized) → quantize projections →
    * broadcast the quantized queries → per-query top-k window. The integer
    * score is monotone in the approximated inner product, the standard
    * SQ-ANN trade: ~1/4 the memory bandwidth of float scan at a small recall
    * cost (measured recall@5 vs the exact inner-product ranking at 1M
    * synthetic 64-dim vectors in `graft.tools.Scale ann`).
    * Output: qid, vec_id, qscore, rn.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val bounds = sqBounds(corpus, vecCol)
    val c = sqQuantize(corpus, idCol, vecCol, bounds)
      .select(col(idCol).as("vec_id"), col("qv").as("cq"))
    val q = sqQuantize(queries, idCol, vecCol, bounds)
      .select(col(idCol).as("qid"), col("qv").as("qq"))
    sqTopKQuantized(c, q, k)
  }

  /** The probe half alone, over pre-quantized frames (`(vec_id, cq)` /
    * `(qid, qq)`) — the production call: quantize + persist the corpus ONCE
    * (levels are what you cache at 100 TB; re-deriving them per probe pays
    * the float scan you bought SQ8 to avoid), then serve every query batch
    * from the compressed domain.
    */
  def sqTopKQuantized(corpusQ: DataFrame, queriesQ: DataFrame, k: Int): DataFrame = {
    val scored = corpusQ.join(broadcast(queriesQ), col("vec_id") =!= col("qid"))
      .withColumn("qscore",
        aggregate(zip_with(col("cq"), col("qq"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy(col("qid")).orderBy(col("qscore").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "qscore", "rn")
  }

  /** Default seed of the SRP hyperplane family (any fixed value works; the
    * oracle SQL is generated from the same matrix, so changing it re-derives
    * both sides together).
    */
  val SrpSeed = 1021L

  /** Seeded ±1 (Rademacher) hyperplane matrix `[table][bit][dim]`. Sign
    * random projections with ±1 entries are the standard Gaussian-free SRP
    * variant (Achlioptas-style database-friendly projections): collision
    * probability 1 − θ/π like Gaussian hyperplanes, but every coefficient is
    * exactly representable, so the projection is a plain left-to-right sum
    * of (negated) vector elements — bit-identical between Spark codegen and
    * the DuckDB oracle, which a decimal-literal Gaussian matrix is not.
    * `java.util.Random`'s LCG is specified, so the matrix is stable across
    * JVMs.
    */
  def srpSigns(seed: Long, tables: Int, bits: Int, dims: Int): Array[Array[Array[Int]]] = {
    val rnd = new java.util.Random(seed)
    Array.tabulate(tables, bits, dims)((_, _, _) => if (rnd.nextBoolean()) 1 else -1)
  }

  /** SRP bucket key of one table (bit i = sign of the i-th ±1 projection,
    * packed MSB-first), via the codegen'd [[graft.functions.SrpBuckets]]
    * expression — identical left-to-right accumulation to the generated
    * oracle SQL chain, but one plan node instead of bits×dims of them.
    * `vec` must already be double-cast.
    */
  def srpBucket(vec: Column, tableSigns: Array[Array[Int]]): Column =
    graft.functions.srp_buckets(vec, Array(tableSigns)).getItem(0)

  /** Multi-probe masks up to the given Hamming radius: the query probes its
    * own bucket plus every bucket differing in ≤ radius bits — the classic
    * recall amplifier that multiplies CANDIDATES by (1 + bits) instead of
    * multiplying TABLES (i.e. hashing work) by the same factor.
    */
  def probeMasks(bits: Int, radius: Int): Seq[Int] =
    (0 to radius).flatMap(r => (0 until bits).combinations(r).map(_.map(1 << _).sum))

  /** ANN top-k via seeded random-hyperplane (SRP) LSH: candidates restricted
    * to the query's bucket plus its Hamming-≤`probeRadius` neighbours. Still
    * an equi-join on the bucket key — the probe explode happens on the
    * (broadcast) query side only, and a corpus row sits in exactly one
    * bucket, so no pair is matched twice and no dedup aggregation is needed.
    */
  def signLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, probeRadius: Int = 1,
      seed: Long = SrpSeed, dims: Int = 64): DataFrame = {
    val signs = srpSigns(seed, 1, bits, dims)(0)
    val masks = probeMasks(bits, probeRadius)
    val q0 = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qe"))
      .withColumn("b0", srpBucket(col("qe"), signs))
    val q = q0.select(col("qid"), col("qe"),
      explode(array(masks.map(m => col("b0").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ce"))
      .withColumn("bucket", srpBucket(col("ce"), signs))
    val sims = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "sim", "rn")
  }

  /** IVF (inverted-file) ANN: assign every corpus vector to its nearest
    * centroid cell, probe only the query's `nprobe` nearest cells. The cell
    * build is a one-off broadcast pass (nlist ≪ corpus); the search joins on
    * the cell id — candidates shrink ~nlist/nprobe versus brute force.
    * Centroids here are the deterministic head of the corpus (pluggable —
    * swap in k-means output without changing the plan shape); everything is
    * DataFrame ops, no driver-side loops.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 8, nprobe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    // default: the deterministic first-nlist seed (the e3 oracle's form);
    // pass kmeansCentroids(...) for Lloyd-refined cells with better recall
    val cents = centroids.getOrElse(defaultCentroids(corpus, idCol, vecCol, nlist))
    // collected ONCE for both sides: the corpus side needs the kernel
    // matrix anyway, and sharing it gives the probe side its truncation
    // depth driver-side at no extra job (r17 opt)
    val pre = collectCentroids(cents)
    // equi-join on the cell key, exact cosine inside the candidate sliver
    rankWithin(assignCells(corpus, idCol, vecCol, cents, "vec_id", "ce", 1, Some(pre))
        .join(broadcast(assignCells(queries, idCol, vecCol, cents, "qid", "qe",
          nprobe, Some(pre))), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("sim", exactSim), "sim", ascending = false, k)
      .select("qid", "vec_id", "sim", "rn")
  }


  /** Read a small unpartitioned metadata table (centroid frames, SQ
    * scales) ENTIRELY ON THE DRIVER into a LocalRelation — bounded by
    * contract (nlist centroids, a one-row scale), these tables cost a
    * distributed scan job per read even after r16's schema fix, one per
    * lifecycle verb. As a LocalRelation the frame also broadcasts without
    * a distributed build job, and driver-side consumers (collectCentroids,
    * the probe-side truncation depth) read it with no job at all (r17
    * opt). Read failures propagate exactly as the Spark read's did —
    * absence and corruption refuse loudly.
    */
  private def readSmall(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (schema, rows) =
      org.apache.spark.sql.graftbridge.Bridge.localParquetRows(spark, path)
    spark.createDataFrame(rows, schema)
  }

  /** The deterministic first-`nlist` centroid seed (the e3 oracle's form). */
  def defaultCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("cent_id"), asDouble(col(vecCol)).as("cent"))

  /** Collect the (nlist-row, bounded by contract) centroid frame to the
    * driver, cent_id-sorted: the id array as a literal Column plus the
    * dense matrix the codegen'd [[graft.functions.NearestCentroid]] kernel
    * references. The sort makes "lowest index wins ties" identical to the
    * window form's `(csim DESC, cent_id ASC)` order.
    */
  private def collectCentroids(cents: DataFrame): (Column, Array[Array[Double]]) = {
    val idType = cents.schema("cent_id").dataType
    val rows = cents.select(col("cent_id"), asDouble(col("cent")).as("cent"))
      .orderBy(col("cent_id")).collect()
    require(rows.nonEmpty, "empty centroid frame")
    val mat = rows.map(_.getSeq[Double](1).toArray)
    val ids = org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        rows.map(_.get(0)).toSeq,
        org.apache.spark.sql.types.ArrayType(idType)))
    (ids, mat)
  }

  /** The nearest centroid's id: the codegen'd kernel's 0-based winner
    * looked up in the cent_id-sorted id array.
    */
  private def cellOf(v: Column, ids: Column, mat: Array[Array[Double]]): Column =
    element_at(ids, graft.functions.nearest_centroid(v, mat).getField("idx") + 1)

  /** Assign each vector to its `nCells` nearest centroid cells.
    *
    * `nCells == 1` (the CORPUS side: ivfTopK, buildIvfIndex,
    * appendToIvfIndex, recluster) is a ZERO-SHUFFLE codegen projection:
    * the centroids collect driver-side (nlist rows) and the nearest cell
    * is one [[graft.functions.nearest_centroid]] expression per row — the
    * corpus is scanned, never joined, exchanged, or sorted (the window
    * form shuffled and sorted corpus × nlist rows; an interpreted HOF fold
    * measured 1.4× slower than even that at 1M×64; SimExprSpec pins the
    * kernel's election to the window form's).
    * `nCells > 1` (the query probe side, tiny by contract) keeps the
    * top-cells window.
    */
  private def assignCells(df: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, outId: String, outVec: String, nCells: Int,
      pre: Option[(Column, Array[Array[Double]])] = None): DataFrame = {
    // every vector entering an assignment TRUNCATES to the centroid
    // dimensionality: an index built at a matryoshka depth
    // ([[buildIvfIndex]]'s `depth`) then auto-truncates every append and
    // probe to the stored prefix — the depth is carried by the centroid
    // geometry itself, no side metadata to drift. On a full-dim index the
    // slice is the identity. `pre` threads an already-collected centroid
    // set through (ivfTopK collects once for both its sides).
    if (nCells == 1) {
      val (ids, mat) = pre.getOrElse(collectCentroids(cents))
      df.select(col(idCol).as(outId),
          asDouble(slice(col(vecCol), 1, mat(0).length)).as(outVec))
        .select(col(outId), col(outVec), cellOf(col(outVec), ids, mat).as("cell"))
    } else {
      // the matryoshka truncation depth (all centroids share the dims)
      // resolves DRIVER-SIDE at zero jobs — from the caller's collected
      // centroid set, or from the LocalRelation the driver-side metadata
      // read produced — so the probe vector truncates ONCE per row BEFORE
      // the broadcast join: the full-width vector never enters the join
      // and the slice no longer runs per (row × centroid) pair (r17 opt,
      // restoring the pre-r16 pre-join truncation without its `.head`
      // job). Distributed centroid frames with no prior collect keep the
      // per-pair slice (depth would cost a job there).
      val w = Window.partitionBy(col(outId))
        .orderBy(col("csim").desc, col("cent_id"))
      val depth = pre.map(_._2(0).length).orElse(
        org.apache.spark.sql.graftbridge.Bridge.localLeafArrayLen(cents, "cent"))
      val paired = depth match {
        case Some(d) =>
          df.select(col(idCol).as(outId),
              asDouble(slice(col(vecCol), 1, d)).as(outVec))
            .join(broadcast(cents), lit(true))
        case None =>
          df.select(col(idCol).as(outId), asDouble(col(vecCol)).as("__full"))
            .join(broadcast(cents), lit(true))
            .withColumn(outVec, slice(col("__full"), lit(1), size(col("cent"))))
      }
      paired
        .withColumn("csim", round(cosine(col(outVec), col("cent")), 6))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= nCells)
        .select(col(outId), col(outVec), col("cent_id").as("cell"))
    }
  }

  // ── index mutation fence ──────────────────────────────────────────────
  // The persisted-index tables (centroids / cells / ingest / scale / books)
  // live OUTSIDE the event log's claim chain, so its rewrite claims don't
  // protect them: two concurrent mutators — a recluster's staged swap, a
  // compact's file moves, an append's partitioned write — can interleave
  // into lost vectors (e.g. an append landing in `cells` after recluster
  // snapshotted its read but before the swap is simply dropped by the
  // rewrite). Every mutating entry point takes this single exclusive fence;
  // probes never do. The fence is the marker `_mutating`, created with the
  // claim chain's own primitive, graft.core.CreateIfAbsent (link(2), HDFS
  // rename, conditional PUT), naming the holder's op, and held for the
  // duration of the mutation. A crashed holder leaves the
  // marker behind — deliberately: silently expiring a lease under a live
  // slow recluster would be worse; the operator (or a maintenance cron
  // that knows the scheduler is the only launcher) clears it with
  // [[breakIndexMutation]]. Contract mirror: reference
  // store/postgresql/store.go:262-293 serializes writers with a unique
  // index; here the filesystem is the arbiter.

  private def mutationMarker(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_mutating")

  /** Run `body` holding the index's exclusive mutation fence. Throws
    * `ConcurrentModificationException` (fail-fast, retryable) when another
    * mutator holds it — the loser retries after the winner finishes; it
    * must NOT fall back to mutating unfenced.
    *
    * `reclaimSameOp`: the streaming appendBatch path sets this — a crashed
    * micro-batch leaves its fence behind, and the crash-REPLAY of that
    * batch (same op string, same batchId, idempotent content) IS the dead
    * holder's retry, so it may reclaim the fence instead of wedging the
    * stream behind a manual break. Reclaim never crosses op identities: a
    * fence left by a recluster/compact (or a different batchId) still
    * refuses — those holders might be alive.
    */
  def withIndexMutation[T](spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, reclaimSameOp: Boolean = false)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) fs.mkdirs(root)
    val marker = mutationMarker(path)
    val content = s"$op pid=${ProcessHandle.current().pid()} at=${java.time.Instant.now()}"
    def holder: Option[String] =
      try {
        val in = fs.open(marker)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    if (reclaimSameOp && fs.exists(marker) && holder.exists(_.split(" pid=").head == op))
      fs.delete(marker, false): Unit
    if (!graft.core.CreateIfAbsent(fs, marker, content))
      throw new java.util.ConcurrentModificationException(
        s"index at $path is being mutated [${holder.getOrElse("<unreadable>")}]; " +
          "retry after it finishes, or clear a crashed holder's fence with " +
          "Similarity.breakIndexMutation")
    try body finally fs.delete(marker, false)
  }

  /** Operator escape hatch: clear a fence left by a CRASHED mutator. Never
    * call while the holder might still be alive — two live mutators is
    * exactly the lost-vector scenario the fence exists to prevent.
    */
  def breakIndexMutation(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val m = mutationMarker(path)
    m.getFileSystem(spark.sessionState.newHadoopConf()).delete(m, false)
  }

  // ── versioned geometry (reader-side recluster consistency) ────────────
  // A recluster retires the whole cell GEOMETRY (centroid set + cell
  // assignment). The old in-place rename swap was crash-safe but not
  // READER-safe: a query that resolved `centroids` before the swap and
  // scanned `cells` after it probed stale cell ids, and a scan whose file
  // list was taken before the swap read paths that no longer existed.
  // Geometry now versions: recluster stages `centroids@N+1` / `cells@N+1`
  // next to the live version, then publishes with ONE atomic marker create
  // (`_geom.N+1`, an empty marker created while the mutation fence is
  // held, so no rival races it), and RETAINS version N until the NEXT
  // recluster. A reader that resolved version N keeps reading N's
  // immutable files to completion — snapshot isolation with a
  // one-recluster-cycle grace window, no maintenance-window coordination.
  // Builds keep the legacy unversioned layout (`cells`/`centroids`,
  // version 0); the first recluster migrates.

  /** Current geometry version: max published `_geom.N` marker; None =
    * legacy unversioned layout.
    */
  private def geomVersion(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) None
    else fs.listStatus(root).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("_geom."))
      .flatMap(_.stripPrefix("_geom.").toLongOption)
      .maxOption
  }

  /** Resolve a geometry table (`cells` / `centroids`) to its CURRENT
    * version's directory — the one call every reader, appender and
    * maintenance pass routes through. Public so external tooling (and the
    * specs) can address the live geometry the same way the library does.
    */
  def resolvedTablePath(spark: org.apache.spark.sql.SparkSession,
      path: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    geomVersion(p.getFileSystem(spark.sessionState.newHadoopConf()), path) match {
      case Some(v) => s"$path/$table@$v"
      case None => s"$path/$table"
    }
  }

  /** A from-scratch build over a previous index resets its geometry
    * history — without this, the fresh legacy-layout write would be
    * INVISIBLE behind the old version markers — and deletes every codec's
    * parameter files, so a rebuild with another codec never reads back as
    * the old one. Build-time only (inside the build's mutation fence, after
    * its pending-build marker).
    */
  private def clearPreviousBuild(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_geom.") || n.startsWith("cells@") ||
        n.startsWith("centroids@") || codecParamFiles.contains(n))
        fs.delete(st.getPath, true): Unit
    }
  }

  /** Both geometry-table paths derived from ONE version resolution. Every
    * entry point — probe or fenced mutator — takes a single snapshot at
    * entry and threads it through all its legs. Probes are deliberately
    * unfenced, so resolving the version independently per leg (the old
    * `cellsPath`/`centroidsPath`-per-call shape) raced against a concurrent
    * recluster/forget publish: a probe could assign queries against
    * `centroids@N` but scan `cells@N+1` — silently wrong neighbors, the
    * exact mixed-version hazard the versioning exists to close. A snapshot
    * makes the probe atomic w.r.t. publishes: it reads version N's
    * IMMUTABLE files end to end (retained until the next rewrite — the
    * one-cycle reader grace window).
    */
  private[graft] final case class GeomSnapshot(cells: String, centroids: String)

  /** Test seam: counts geometry-version resolutions, so specs can pin the
    * resolve-ONCE-per-entry-point contract structurally.
    */
  private[graft] val geomResolutions = new java.util.concurrent.atomic.AtomicLong(0L)

  private def snapshotGeometry(spark: org.apache.spark.sql.SparkSession,
      path: String): GeomSnapshot = {
    // the family's one parameter-resolution choke point: a half-written
    // build (crashed between its parameter and cell writes, fence since
    // broken) refuses HERE, before any probe/append/maintenance leg can
    // mix new parameters with old codes — see IndexLifecycle.beginBuild
    IndexLifecycle.assertNoPendingBuild(spark, path)
    geomResolutions.incrementAndGet(): Unit
    val p = new org.apache.hadoop.fs.Path(path)
    geomVersion(p.getFileSystem(spark.sessionState.newHadoopConf()), path) match {
      case Some(v) => GeomSnapshot(s"$path/cells@$v", s"$path/centroids@$v")
      case None => GeomSnapshot(s"$path/cells", s"$path/centroids")
    }
  }

  // ── persisted IVF index: one codec, one build, one append, one probe ──

  /** How a persisted IVF index stores its vectors — chosen ONCE at build
    * ([[buildIvfIndex]]'s `codec`) and read back from the index's own
    * parameter files by every append and probe, so no caller repeats the
    * choice. A codec owns three things: its build-time parameter files,
    * the zero-shuffle encode projection (cell plus codes) and the probe's
    * pre-rank score with its sort direction. Every layout shares the cell
    * table `(vec_id, ce, [codes], cell)` PARTITIONED BY cell and the
    * `centroids` table; the codec adds at most one code column and its
    * parameter files. Coarse centroids and every codec parameter FREEZE at
    * build, so appended assignments and codes stay comparable with the
    * build (the e11/e13 oracles re-derive them from the even half only).
    */
  sealed trait IvfCodec {
    /** The vectors entering build, append and probe (before assignment). */
    private[Similarity] def prepare(df: DataFrame, vecCol: String): DataFrame = df
    /** The build's centroid frame as persisted. */
    private[Similarity] def centroidsOf(cents: DataFrame): DataFrame = cents
    /** Write the parameter files at build; the codec as persisted. */
    private[Similarity] def persist(corpus: DataFrame, idCol: String,
        vecCol: String, path: String): IvfCodec = this
    /** `(vec_id, ce, [codes], cell)` in ONE zero-shuffle projection: the
      * cell is the codegen'd nearest-centroid kernel, the codes the codec's
      * transform of the same scanned row — the corpus is never shuffled.
      */
    private[Similarity] def encode(df: DataFrame, idCol: String, vecCol: String,
        cents: DataFrame, path: String): DataFrame
    /** The probe side `(qid, cell, …)` with the query's pre-rank key. */
    private[Similarity] def probeKeys(q: DataFrame, path: String): DataFrame
    /** The columns of a cell scan the pre-rank reads. */
    private[Similarity] def codes(cells: DataFrame): DataFrame
    private[Similarity] def score: Column
    private[Similarity] def ascending: Boolean = false
  }

  object IvfCodec {
    /** Float vectors only; the probe is the exact in-cell cosine scan.
      * `depth` (matryoshka/MRL truncation — the [[matryoshkaRecall]] e20
      * decision table's consumer) stores only each vector's leading `depth`
      * components: centroids and cell rows persist truncated — a depth-16
      * index over 64-dim embeddings is 4× smaller and its probes score 4×
      * fewer multiplies — and the depth travels as the CENTROID
      * dimensionality itself, so every probe and append auto-truncates its
      * vectors to the stored prefix (no side metadata). Cosine
      * self-normalizes per prefix, so truncation is a pure slice.
      */
    final case class Raw(depth: Option[Int] = None) extends IvfCodec {
      depth.foreach(d => require(d > 0, s"depth must be positive, got $d"))
      override private[Similarity] def centroidsOf(cents: DataFrame) =
        depth.fold(cents)(d => cents.withColumn("cent", slice(col("cent"), 1, d)))
      private[Similarity] def encode(df: DataFrame, idCol: String, vecCol: String,
          cents: DataFrame, path: String) =
        assignCells(df, idCol, vecCol, cents, "vec_id", "ce", 1)
      private[Similarity] def probeKeys(q: DataFrame, path: String) = q
      private[Similarity] def codes(cells: DataFrame) =
        cells.select(col("vec_id"), col("ce"), col("cell"))
      private[Similarity] def score = exactSim
    }

    /** Signed-symmetric SQ8 (the FAISS IVF-SQ design, public technique): an
      * int8 code column `cq` and the global scale at `path/sq_scale`. The
      * probe's in-cell scan reads the codes only (4× fewer bytes than
      * float32) and pre-ranks by the integer dot product.
      *
      * `normalize = true` L2-normalizes vectors BEFORE the scale/codes: the
      * int8 dot product then approximates COSINE, not the inner product, so
      * on corpora with varying vector norms the pre-rank can no longer be
      * crowded by large-norm vectors with mediocre angles (the final metric
      * is cosine either way — the flag only changes what the compressed
      * pre-rank preserves). The flag persists at `path/sq_meta`; appends and
      * probes normalize their side too.
      */
    final case class Sq(normalize: Boolean = false) extends IvfCodec {
      override private[Similarity] def prepare(df: DataFrame, vecCol: String) =
        if (normalize) withNormalized(df, vecCol) else df
      override private[Similarity] def persist(corpus: DataFrame, idCol: String,
          vecCol: String, path: String) = {
        val spark = corpus.sparkSession
        import spark.implicits._
        sqScale(sqBounds(corpus, vecCol)).write.mode("overwrite")
          .parquet(s"$path/sq_scale")
        Seq(normalize).toDF("normalized").write.mode("overwrite")
          .parquet(s"$path/sq_meta")
        this
      }
      // the scale is read back from its persisted row even at build: the
      // one source of truth every append and probe reads
      private def scale(spark: org.apache.spark.sql.SparkSession, path: String) =
        broadcast(readSmall(spark, s"$path/sq_scale"))
      private[Similarity] def encode(df: DataFrame, idCol: String, vecCol: String,
          cents: DataFrame, path: String) = {
        val (ids, mat) = collectCentroids(cents)
        df.crossJoin(scale(df.sparkSession, path))
          .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ce"), col("__s"))
          .select(col("vec_id"), col("ce"),
            transform(sqLevels(col("ce"), col("__s")), x => x.cast("tinyint")).as("cq"),
            cellOf(col("ce"), ids, mat).as("cell"))
      }
      private[Similarity] def probeKeys(q: DataFrame, path: String) =
        q.crossJoin(scale(q.sparkSession, path))
          .select(col("qid"), col("qe"), col("cell"),
            sqLevels(col("qe"), col("__s")).as("qq"))
      private[Similarity] def codes(cells: DataFrame) = cells.select(col("vec_id"),
        transform(col("cq"), x => x.cast("long")).as("cq"), col("cell"))
      private[Similarity] def score = aggregate(
        zip_with(col("cq"), col("qq"), (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    }

    /** Product quantization (the FAISS IVF-PQ design): `m` one-byte codes
      * per vector in a `code` column (8 B/vector at the defaults — 32× less
      * than float32) and the codebooks at `path/books`, seeded from the
      * build corpus unless `codebooks` is given ([[pqCodebooksKmeans]] for
      * trained books). The probe scans the codes only and pre-ranks by ADC
      * table-lookup sums, ascending.
      */
    final case class Pq(m: Int = 8, kc: Int = 16,
        codebooks: Option[Array[Array[Array[Double]]]] = None) extends IvfCodec {
      private def books = codebooks.getOrElse(
        throw new IllegalStateException("PQ codebooks are resolved at build"))
      override private[Similarity] def persist(corpus: DataFrame, idCol: String,
          vecCol: String, path: String) = {
        val b = codebooks.getOrElse(pqCodebooks(corpus, idCol, vecCol, m, kc))
        writeBooks(corpus.sparkSession, b, s"$path/books")
        copy(codebooks = Some(b))
      }
      private[Similarity] def encode(df: DataFrame, idCol: String, vecCol: String,
          cents: DataFrame, path: String) = {
        val (ids, mat) = collectCentroids(cents)
        val v = asDouble(col(vecCol))
        df.select(col(idCol).as("vec_id"), v.as("ce"),
          graft.functions.pq_codes(v, books).as("code"), cellOf(v, ids, mat).as("cell"))
      }
      private[Similarity] def probeKeys(q: DataFrame, path: String) =
        q.select(col("qid"), col("cell"), pqQueryTable(col("qe"), books).as("qt"))
      private[Similarity] def codes(cells: DataFrame) =
        cells.select(col("vec_id"), col("code"), col("cell"))
      private[Similarity] def score = pqAdcDist(col("code"), col("qt"))
      override private[Similarity] def ascending = true
    }
  }

  /** Every codec's parameter files: a rebuild deletes them all, so a
    * rebuild with a different codec never leaves the old one's behind for
    * [[ivfIndexCodec]] to read.
    */
  private val codecParamFiles = Seq("books", "sq_scale", "sq_meta")

  /** The codec a persisted index was built with, from its parameter files
    * (`books` → PQ, `sq_scale` → SQ8, neither → float). Read once per entry
    * point, after its geometry snapshot (which refuses a half-written build).
    */
  private def ivfIndexCodec(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfCodec = {
    val conf = spark.sessionState.newHadoopConf()
    def has(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      p.getFileSystem(conf).exists(p)
    }
    if (has("books")) {
      val b = readBooks(spark, s"$path/books")
      IvfCodec.Pq(b.length, b(0).length, Some(b))
    } else if (has("sq_scale")) IvfCodec.Sq(normalize = has("sq_meta") && {
      // indexes written before the flag existed read as un-normalized; ONLY
      // absence maps to false — a corrupt flag file propagates from the
      // parquet reader, because treating a normalized index as raw would
      // write un-normalized vectors and codes into it: a permanent,
      // unsignalled recall loss instead of a retryable error
      val (schema, rows) = org.apache.spark.sql.graftbridge.Bridge
        .localParquetRows(spark, s"$path/sq_meta")
      !rows.isEmpty && rows.get(0).getBoolean(schema.fieldIndex("normalized"))
    })
    else IvfCodec.Raw()
  }

  /** The exact similarity every probe ranks its final top-k by. */
  private def exactSim: Column = round(cosine(col("qe"), col("ce")), 6)

  /** Build and PERSIST an IVF index: `path/centroids` (nlist rows), the
    * codec's parameter files, and `path/cells` (one row per corpus vector,
    * parquet PARTITIONED BY the cell id). This is the production
    * similarity shape at 100 TB — the corpus is assigned once, queries only
    * ever read the `nprobe` cell partitions they hash to (the cell
    * partition column turns the probe's equi-join into parquet partition
    * pruning), and new vectors append incrementally without touching
    * existing cells. Centroids default to the deterministic first-nlist
    * seed; pass [[kmeansCentroids]] (trained on a sample) for refined
    * cells. `codec` picks the layout ([[IvfCodec]]); a rebuild at the same
    * path first deletes the previous build's geometry versions, ingest
    * state and every codec's parameter files.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 8,
      centroids: Option[DataFrame] = None,
      codec: IvfCodec = IvfCodec.Raw()): Unit =
    withIndexMutation(corpus.sparkSession, path, "buildIvfIndex") {
      val spark = corpus.sparkSession
      IndexLifecycle.beginBuild(spark, path)
      IndexLifecycle.clearIngestState(spark, path)
      clearPreviousBuild(spark, path)
      val src = codec.prepare(corpus, vecCol)
      val cents = codec.centroidsOf(
        centroids.getOrElse(defaultCentroids(src, idCol, vecCol, nlist)))
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      codec.persist(src, idCol, vecCol, path)
        .encode(src, idCol, vecCol, cents, path)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
      IndexLifecycle.endBuild(spark, path)
    }

  /** A batch encoded against the index's PERSISTED centroids and codec
    * parameters (both frozen at build): the one encode every append runs.
    * Values outside an SQ8 build range clamp to ±127, exactly what the
    * probe-side quantizer does.
    */
  private def encodeBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      g: GeomSnapshot, batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val codec = ivfIndexCodec(spark, path)
    codec.encode(codec.prepare(batch, vecCol), idCol, vecCol,
      readSmall(spark, g.centroids), path)
  }

  /** Incrementally index a new vector batch into the main cell table —
    * existing cell files are never rewritten; the ingest-side cost is one
    * zero-shuffle encode + one partitioned append per batch.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit =
    withIndexMutation(spark, path, "appendToIvfIndex") {
      val g = snapshotGeometry(spark, path)
      encodeBatch(spark, path, g, batch, idCol, vecCol)
        .write.mode("append").partitionBy("cell").parquet(g.cells)
    }

  /** IDEMPOTENT per-batch append for continuous ingest (the
    * `foreachBatch` leg of [[graft.streaming.StreamAggs.indexAtIngest]]):
    * the batch lands in a side area `path/ingest` PARTITIONED BY
    * `(b=batchId, cell)` with DYNAMIC partition overwrite — a crash-replay
    * of the same micro-batch rewrites exactly its own `b=` partitions
    * (foreachBatch redelivers identical content for a batchId), so
    * re-delivery can never duplicate a vector, including across a crash
    * that left a partial first attempt visible. Probes read
    * `cells ∪ ingest` (each side pruned independently);
    * [[compactIvfIngest]] folds the side area back into the main table
    * as pure file moves. Every layout ingests the same way, so migrating
    * an index to another codec changes only the build call.
    */
  def appendBatchToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, vecCol: String,
      batchId: Long, owner: Option[String] = None): Unit =
    withIndexMutation(spark, path, s"appendBatchToIvfIndex b=$batchId",
        reclaimSameOp = true) {
      IndexLifecycle.checkOwner(spark, path, owner)
      if (!batchFolded(spark, path, batchId)) {
        IndexLifecycle.guardBatchId(spark, path, batchId)
        encodeBatch(spark, path, snapshotGeometry(spark, path), batch, idCol, vecCol)
          .withColumn("b", lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("b", "cell").parquet(s"$path/ingest")
      }
    }

  /** The EXACT probe of a persisted index, on any layout: queries assign to
    * their `nprobe` cells against the loaded centroids, then probe the cell
    * table's float column — the broadcast equi-join on the PARTITION column
    * lets dynamic partition pruning skip every unprobed cell's files, so
    * query cost scales with `nprobe / nlist` of the corpus, not the corpus.
    * The reference [[ivfProbe]]'s compressed pre-rank is measured against.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2, excludeBatch: Option[Long] = None): DataFrame =
    probeIndex(spark, path, queries, idCol, vecCol, k, nprobe, 1, excludeBatch,
      exact = true)

  /** ANN top-k against a persisted index through the codec it was built
    * with (the Scala twin of SQL `ivf_probe`). On a float index it is
    * [[ivfTopKIndexed]]. On SQ8/PQ, probed cells are scanned in the
    * COMPRESSED domain (codes only — the narrow read is the bandwidth win)
    * and pre-ranked by the codec's score; the top `rerank·k` candidates per
    * query are exact-rescored with the float column (read pruned to probed
    * cells via the same dynamic partition pruning, then cut to the
    * candidate sliver by the broadcast join before any cosine is computed).
    * Output `(qid, vec_id, sim, rn)` — exact cosines; with `rerank·k ≥` the
    * probed cells' population the result is IDENTICAL to the exact probe —
    * pinned by SkewTextOpsSpec ("IVF-SQ8 index: exhaustive rerank equals
    * the float probe", and its PQ twin).
    */
  def ivfProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2, rerank: Int = 4,
      excludeBatch: Option[Long] = None): DataFrame =
    probeIndex(spark, path, queries, idCol, vecCol, k, nprobe, rerank,
      excludeBatch, exact = false)

  /** Per-query top-`n` of `df` by `score` (ties by vec_id), as `rn`. */
  private def rankWithin(df: DataFrame, score: String, ascending: Boolean,
      n: Long): DataFrame = {
    val o = if (ascending) col(score).asc else col(score).desc
    df.withColumn("rn", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(o, col("vec_id"))).cast("long"))
      .filter(col("rn") <= n)
  }

  /** The one probe: `exact` forces the float scorer on any layout. */
  private def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int, nprobe: Int,
      rerank: Int, excludeBatch: Option[Long], exact: Boolean): DataFrame = {
    val g = snapshotGeometry(spark, path)
    val codec = if (exact) IvfCodec.Raw() else ivfIndexCodec(spark, path)
    // probe side (tiny by contract): nprobe cells + the codec's query key.
    // A normalized SQ8 index quantizes normalized queries; the exact
    // rescore below is norm-invariant and reads the raw query
    val keys = codec.probeKeys(assignCells(codec.prepare(queries, vecCol), idCol,
      vecCol, readSmall(spark, g.centroids), "qid", "qe", nprobe), path)
    // the streaming-ingest side area (if any) joins as a SEPARATE scan and
    // unions AFTER the per-side broadcast join, so both scans keep their own
    // partition pruning on the cell key (a join does not push through a
    // Union, so pruning a pre-union scan would be lost)
    val ing = ingestCells(spark, path, excludeBatch)
    def scan(side: DataFrame => DataFrame): DataFrame = {
      val main = side(spark.read.parquet(g.cells))
      ing.fold(main)(i => main.unionByName(side(i)))
    }
    val scored = scan(df => codec.codes(df).join(broadcast(keys), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", codec.score)
      .select(col("qid"), col("vec_id"), col("cell"), col("score")))
    val top = codec match {
      case _: IvfCodec.Raw => rankWithin(scored, "score", ascending = false, k)
      case _ =>
        require(rerank >= 1, "rerank must be >= 1")
        // the candidate sliver carries KEYS ONLY (qid, vec_id, cell) — the
        // query vector would otherwise ride the broadcast rerank·k times per
        // query; it rejoins below from the one-row-per-query frame instead
        val cand = rankWithin(scored, "score", codec.ascending, k.toLong * rerank)
          .select(col("qid"), col("vec_id"), col("cell"))
        val qvecs = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qe"))
        rankWithin(scan(_.select(col("vec_id"), col("ce"), col("cell"))
            .join(broadcast(cand), Seq("cell", "vec_id")))
          .join(broadcast(qvecs), Seq("qid"))
          .withColumn("score", exactSim), "score", ascending = false, k)
    }
    top.select(col("qid"), col("vec_id"), col("score").as("sim"), col("rn"))
  }

  /** Replace `vecCol` with its L2-normalized copy (zero vectors stay zero).
    * The norm is computed ONCE into a sibling column, so the per-element
    * divide stays O(d), not O(d²) of a nested re-aggregation.
    */
  private def withNormalized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__nrm", sqrt(aggregate(
        transform(asDouble(col(vecCol)), x => x * x),
        lit(0d), (a, x) => a + x)))
      .withColumn(vecCol, transform(asDouble(col(vecCol)),
        x => when(col("__nrm") === 0d, lit(0d)).otherwise(x / col("__nrm"))))
      .drop("__nrm")

  /** Has [[compactIvfIngest]] already folded this batchId into the main
    * cell table? The replay guard: a stream can crash with batch N written
    * to `ingest/b=N` but its streaming checkpoint uncommitted; if a compact
    * runs before the restart, the files have MOVED into `cells/` — the
    * replayed micro-batch's dynamic overwrite of the (now absent) `b=N`
    * partitions would remove nothing, and the next compact would fold the
    * same vectors a second time. Compaction records each folded batch id as
    * a marker under `path/ingest_folded/` BEFORE moving its files, so the
    * replay skips instead. (Markers are created before the moves: if the
    * compact crashes in between, the batch's files are all still in
    * `ingest/`, the skipped replay loses nothing, and the next compact
    * resumes the moves. The write itself is atomically visible — Spark
    * stages dynamic overwrites and commits at job end — so a marker can
    * never cover a half-written batch.)
    *
    * Public because the streaming semantic-dedup composite
    * ([[graft.streaming.StreamAggs.semDedupAtIngest]]) must skip a folded
    * batch's WHOLE replay body, not just the write — post-fold the batch's
    * own vectors are indistinguishable from the corpus, so a re-probe
    * would match the batch against itself.
    */
  def batchFolded(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: Long): Boolean =
    IndexLifecycle.batchFolded(spark, path, batchId)

  /** Clear the fold-marker history after the owning stream's checkpoint is
    * retired (a fresh checkpoint restarts batch ids at 0, which
    * [[IndexLifecycle.guardBatchId]] otherwise refuses). Folds pending
    * ingest first; see [[IndexLifecycle.resetFoldedFenced]] for the safety
    * contract.
    */
  def resetIngestFolded(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    withIndexMutation(spark, path, "resetIngestFolded") {
      IndexLifecycle.resetFoldedFenced(spark, path)(
        compactIvfIngestFenced(spark, path))
    }

  /** Hand the ingest area to a NEW owning stream (the old checkpoint must
    * be retired): folds pending ingest, clears the fold-marker history and
    * re-registers ownership — see [[IndexLifecycle.rebindOwnerFenced]].
    */
  def rebindIngestOwner(spark: org.apache.spark.sql.SparkSession,
      path: String, owner: String): Unit =
    withIndexMutation(spark, path, "rebindIngestOwner") {
      IndexLifecycle.rebindOwnerFenced(spark, path, owner)(
        compactIvfIngestFenced(spark, path))
    }

  /** Fold the streaming-ingest side area into the main cell table as PURE
    * FILE MOVES — no data rewrite: every parquet file under
    * `ingest/b=N/cell=X/` renames into `cells/cell=X/` (batch-prefixed so
    * names stay unique), then the side area is deleted. Each move is a
    * same-filesystem rename, so a crash mid-compact loses nothing and a
    * re-run resumes where it stopped — every file is always in exactly one
    * of the two locations and probes read the union. O(files) metadata
    * ops, zero bytes rewritten; at 100 TB this runs on the maintenance
    * cadence (like [[reclusterIvfIndex]], under the caller's claim fence)
    * to restore the single-table probe plan.
    */
  def compactIvfIngest(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    withIndexMutation(spark, path, "compactIvfIngest") {
      // explicit (not just via the fold's geometry snapshot, which an
      // empty ingest area short-circuits past): folding into a half-built
      // index would mint fold markers from a retired id sequence —
      // LshIndex.compactIngest parity
      IndexLifecycle.assertNoPendingBuild(spark, path)
      compactIvfIngestFenced(spark, path)
    }

  /** The compact body, callers already inside the mutation fence
    * ([[compactIvfIngest]] and [[reclusterIvfIndex]], which folds pending
    * ingest under its own fence before retraining).
    */
  private def compactIvfIngestFenced(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val ingest = new Path(s"$path/ingest")
    if (!fs.exists(ingest)) return
    val liveCells = snapshotGeometry(spark, path).cells
    fs.listStatus(ingest).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("b=")).foreach { bdir =>
      val bTag = bdir.getPath.getName.stripPrefix("b=")
      val moves = for {
        cdir <- fs.listStatus(bdir.getPath).toSeq
        if cdir.isDirectory && cdir.getPath.getName.startsWith("cell=")
        f <- fs.listStatus(cdir.getPath).toSeq
        if f.isFile && f.getPath.getName.endsWith(".parquet")
      } yield (cdir.getPath.getName, f.getPath)
      // record the fold BEFORE moving: a crash-replay of this batch (its
      // streaming checkpoint may still be uncommitted) must skip rewriting
      // `b=` partitions whose files now live in `cells/` — see batchFolded.
      // Only when there IS something to move: an empty b= tree (a previous
      // compact's crash leftover) must not mint a marker that could block a
      // future real batch of the same id.
      if (moves.nonEmpty) IndexLifecycle.mintFoldedMarker(fs, path, bTag)
      moves.foreach { case (cellDir, f) =>
        val dest = new Path(s"$liveCells/$cellDir")
        fs.mkdirs(dest)
        if (!fs.rename(f, new Path(dest, s"ing-b$bTag-${f.getName}")))
          throw new java.io.IOException(s"compact move failed: $f")
      }
    }
    fs.delete(ingest, true): Unit
    // markers below the max are dead under the monotone-id protocol the
    // guardBatchId refusal enforces — see IndexLifecycle
    IndexLifecycle.pruneFoldedMarkers(fs, path)
  }

  /** The ingest side area's cell frame, if any — same columns as the main
    * cell table; probes union it in with its own broadcast join so BOTH
    * scans keep per-side partition pruning on the cell key. `excludeBatch`
    * drops one ingest batch's partitions: the streaming semantic-dedup
    * composite excludes the CURRENT micro-batch so a crash-replay never
    * screens a vector against a sibling's first-attempt ghost (partition
    * pruning on `b`, so the exclusion costs nothing).
    */
  private def ingestCells(spark: org.apache.spark.sql.SparkSession,
      path: String, excludeBatch: Option[Long] = None): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$path/ingest")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // a compact that crashed AFTER its last file move but BEFORE deleting
    // the side area leaves an empty directory tree: every vector already
    // lives in `cells`, so probes must treat it as absent (a bare read
    // would fail schema inference and take every probe down with it)
    def hasData(d: Path): Boolean = fs.listStatus(d).exists(s =>
      (s.isFile && s.getPath.getName.endsWith(".parquet")) ||
        (s.isDirectory && hasData(s.getPath)))
    if (fs.exists(p) && hasData(p)) {
      val raw = spark.read.parquet(p.toString)
      Some(excludeBatch.fold(raw)(b => raw.filter(col("b") =!= b)).drop("b"))
    } else None
  }

  /** Learn the largest SAFE `nprobe` from the index's cell-occupancy
    * census — the IVF twin of [[graft.ops.LshIndex.safeBucketCap]] /
    * [[graft.ops.PhashIndex.safeMaxDist]]: probing p cells costs at worst
    * the p LARGEST cells' populations (a query's probe set is data-
    * dependent, so the worst case is the honest bound under skew), and
    * the census knows that bound before any probe runs. Returns the
    * largest `nprobe` whose worst-case scanned rows stay within the
    * caller's budget; `None` means the single largest cell alone exceeds
    * it — the clustering is degenerate for this budget and the remedy is
    * [[reclusterIvfIndex]] (see [[shouldRecluster]]), not a smaller
    * probe. The census is one grouped count over `cells ∪ ingest`
    * (nlist-bounded collect).
    */
  def ivfNprobeAuto(spark: org.apache.spark.sql.SparkSession, path: String,
      maxScannedPerProbe: Long,
      excludeBatch: Option[Long] = None): Option[Int] = {
    val g = snapshotGeometry(spark, path)
    val base = spark.read.parquet(g.cells)
      .groupBy(col("cell")).agg(count(lit(1)).as("m"))
    val census = ingestCells(spark, path, excludeBatch) match {
      case None => base
      case Some(i) => base
        .unionByName(i.groupBy(col("cell")).agg(count(lit(1)).as("m")))
        .groupBy(col("cell")).agg(sum(col("m")).as("m"))
    }
    val sizes = census.collect().map(_.getLong(1)).sortBy(-_)
    if (sizes.isEmpty) Some(1)
    else {
      val np = sizes.scanLeft(0L)(_ + _).tail
        .count(_ <= maxScannedPerProbe)
      if (np == 0) None else Some(np)
    }
  }

  /** [[ivfTopKIndexed]] with `nprobe` LEARNED from the index: picks
    * [[ivfNprobeAuto]] under the caller's scanned-rows budget and refuses
    * loudly when even one cell blows it — the cell-occupancy census made
    * load-bearing, so "probed a skew-degenerate index at a cost nobody
    * chose" stops being a reachable operator mistake. The chosen probe
    * width travels as an `nprobe` column (observable, auditable).
    */
  def ivfTopKIndexedAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, maxScannedPerProbe: Long,
      excludeBatch: Option[Long] = None): DataFrame = {
    val np = ivfNprobeAuto(spark, path, maxScannedPerProbe, excludeBatch)
      .getOrElse(throw new IllegalStateException(
        s"IVF index at $path: the largest cell alone exceeds " +
          s"$maxScannedPerProbe scanned rows per probe — the clustering " +
          "is degenerate under this budget (one cell swallowed the " +
          "corpus); recluster first (Similarity.reclusterIvfIndex; " +
          "shouldRecluster quantifies the drift) instead of probing at " +
          "a cost nobody chose"))
    ivfTopKIndexed(spark, path, queries, idCol, vecCol, k, np, excludeBatch)
      .withColumn("nprobe", lit(np))
  }

  /** Semantic (embedding) near-duplicate screen of a batch against a
    * persisted IVF-family index — the SemDeDup decision: each batch vector
    * probes for its top-1 accepted neighbor ([[ivfProbe]]: compressed
    * layouts pre-rank compressed and exact-rescore, so the decision metric
    * is exact cosine on every layout) and a neighbor at `sim ≥ threshold`
    * marks it a near-duplicate. Output per batch row: `(id, is_new,
    * match_id, sim)` — `match_id` the best-neighbor id, null when new.
    * The batch-vs-corpus shape of [[graft.ops.Dedup.incrementalDedup]]
    * lifted to embeddings; the per-micro-batch body of
    * [[graft.streaming.StreamAggs.semDedupAtIngest]], which also appends
    * the accepted vectors. With `nprobe = nlist` and exhaustive `rerank`
    * the decision equals the exact cosine scan (every cell probed, every
    * candidate rescored) — the e17 oracle's equivalence gate.
    */
  def semScreen(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nprobe: Int = 2, rerank: Int = 4,
      excludeBatch: Option[Long] = None): DataFrame = {
    val top1 = ivfProbe(spark, path, batch, idCol, vecCol, k = 1, nprobe,
      rerank, excludeBatch)
    batch.select(col(idCol))
      .join(broadcast(top1.filter(col("sim") >= threshold)
        .select(col("qid").as(idCol), col("vec_id").as("match_id"),
          col("sim"))), Seq(idCol), "left")
      .select(col(idCol), col("match_id").isNull.as("is_new"),
        col("match_id"), col("sim"))
  }

  /** Rebuild a persisted IVF index's centroids from the CURRENT cell table
    * and reassign every vector — the maintenance pass that restores recall
    * after appended batches drift away from the build-time distribution.
    * [[appendToIvfIndex]] deliberately freezes centroids so assignments
    * agree with the build; a drifted append (vectors far from every
    * centroid, e.g. straddling a cell boundary) then scatters true
    * neighbours across cells the query never probes and recall@k decays.
    * Reclustering trains fresh Lloyd-refined centroids on a hash-sample of
    * the current corpus (deterministic end to end) and rewrites the cell
    * table into the NEXT GEOMETRY VERSION: `centroids@N+1` / `cells@N+1`
    * staged next to the live version, published with one atomic
    * `_geom.N+1` marker create, previous version RETAINED until the next
    * recluster. Crash mid-stage leaves the live version untouched (stale
    * staging dirs are overwritten by the next attempt); readers that
    * resolved version N keep reading its immutable files to completion —
    * snapshot isolation, no maintenance window (see the versioned-geometry
    * note above [[resolvedTablePath]]).
    *
    * Scale shape: training reads the `sampleRate` sliver; reassignment is
    * one broadcast-join scan of the cell table writing `nlist` partitions —
    * no corpus-sized shuffle or driver materialization.
    */
  def reclusterIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      nlist: Int = 8, iters: Int = 2, sampleRate: Double = 1.0): Unit =
    withIndexMutation(spark, path, "reclusterIvfIndex") {
      reclusterIvfIndexFenced(spark, path, nlist, iters, sampleRate)
    }

  private def reclusterIvfIndexFenced(spark: org.apache.spark.sql.SparkSession,
      path: String, nlist: Int, iters: Int, sampleRate: Double): Unit = {
    // fold any streaming-ingest side area in FIRST: the rewrite below
    // retrains centroids and reassigns from `cells` only — an unfolded
    // ingest area would keep unioning into probes with cell ids from the
    // RETIRED geometry (wrong cells probed, vectors invisible at the right
    // ones). Compaction is pure file moves, so this costs metadata only.
    compactIvfIngestFenced(spark, path)
    val full = spark.read.parquet(snapshotGeometry(spark, path).cells)
    val live = full.select(col("vec_id"), col("ce"))
    val sample =
      if (sampleRate >= 1.0) live
      else Sampling.hashSample(live, "vec_id", sampleRate, salt = "ivf-recluster")
    // kmeansCentroids localCheckpoints its result: the centroid frame is
    // materialized and the staged writes below never re-read live dirs lazily
    val cents = kmeansCentroids(sample, "vec_id", "ce", nlist, iters)
    publishGeometry(spark, path) { next =>
      cents.write.mode("overwrite").parquet(s"$path/centroids@$next")
      // preserve the compressed columns of an SQ8/PQ index through the
      // rewrite: codes depend only on the FROZEN scale/codebooks, never on
      // the coarse centroids, so reassigning cells cannot change them — one
      // zero-shuffle projection re-derives the cell over ALL existing
      // columns (the same codegen kernel assignCells uses)
      val (ids, mat) = collectCentroids(cents)
      full.drop("cell")
        .withColumn("cell", cellOf(col("ce"), ids, mat))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells@$next")
    }
  }

  /** The staged-publish half of the versioned-geometry protocol, shared by
    * every fenced whole-table rewrite ([[reclusterIvfIndex]],
    * [[forgetFromIvfIndex]]): clear crashed-stage leftovers above the
    * published version, run `stage(next)` to write `centroids@next` /
    * `cells@next`, publish with ONE atomic `_geom.next` marker create, and
    * retire everything older than the previous version (the one-cycle
    * reader grace window).
    */
  private def publishGeometry(spark: org.apache.spark.sql.SparkSession,
      path: String)(stage: Long => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val cur = geomVersion(fs, path).getOrElse(0L) // legacy layout = version 0
    val next = cur + 1
    // clear crashed-stage leftovers of any version ABOVE the published one
    // (a previous attempt that died before its marker), then stage
    fs.listStatus(new Path(path)).filter { st =>
      val n = st.getPath.getName
      Seq("cells@", "centroids@").exists(pfx => n.startsWith(pfx) &&
        n.dropWhile(_ != '@').drop(1).toLongOption.exists(_ > cur))
    }.foreach(st => fs.delete(st.getPath, true): Unit)
    stage(next)
    // publish: one atomic marker create flips every subsequent resolution
    fs.create(new Path(s"$path/_geom.$next"), false).close()
    // retire versions older than the PREVIOUS one — the grace window a
    // reader mid-query needs is bounded by one rewrite cycle (in-flight
    // scans hold version `cur`, which stays on disk until the NEXT
    // rewrite retires it)
    val retire = cur - 1
    if (retire >= 1) Seq(s"cells@$retire", s"centroids@$retire",
      s"_geom.$retire").foreach(t => fs.delete(new Path(s"$path/$t"), true): Unit)
    if (retire >= 0) Seq("cells", "centroids").foreach(t =>
      fs.delete(new Path(s"$path/$t"), true): Unit) // legacy v0 dirs
  }

  /** GDPR/forget for a persisted IVF-family index (plain, SQ8 or PQ — the
    * cell tables share their shape): REMOVE the given ids' rows — vector,
    * codes and assignment — via a copy-on-write rewrite into the next
    * geometry version. Centroids are COPIED unchanged (membership shrinks;
    * the geometry doesn't move), so probes keep their plan and in-flight
    * readers of the VERSIONED geometry keep snapshot isolation exactly as
    * under a recluster. Pending ingest folds first (forgotten vectors may
    * still sit in the side area) — a reader whose plan unioned that
    * transient side area follows the compaction contract instead
    * (maintenance cadence, not reader-concurrent: folds move files). The log-side twin is `EventLog.forget`; an index built from
    * content must participate in the same erasure story, or the "deleted"
    * vector keeps surfacing as a neighbor. Returns the number of rows
    * removed.
    */
  def forgetFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String): Long =
    withIndexMutation(spark, path, "forgetFromIvfIndex") {
      compactIvfIngestFenced(spark, path)
      val g = snapshotGeometry(spark, path)
      val full = spark.read.parquet(g.cells)
      val cents = readSmall(spark, g.centroids)
        .checkpointOwned() // staged copy below must not lazily re-read live dirs
      val victims = ids.select(col(idCol).cast("long").as("vec_id")).distinct()
      // before/after counts ride `observe` taps on the staged rewrite (the
      // one full scan the verb needs) instead of a separate count() before
      // and a re-read count() after the publish — 3 full cell-table passes
      // → 1 (r16 opt, the LshIndex.forgetRows twin).
      val obsBefore = org.apache.spark.sql.Observation()
      val obsAfter = org.apache.spark.sql.Observation()
      publishGeometry(spark, path) { next =>
        cents.write.mode("overwrite").parquet(s"$path/centroids@$next")
        full.observe(obsBefore, count(lit(1)).as("n"))
          .join(broadcast(victims), Seq("vec_id"), "left_anti")
          .observe(obsAfter, count(lit(1)).as("n"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$path/cells@$next")
      }
      obsBefore.get("n").asInstanceOf[Long] - obsAfter.get("n").asInstanceOf[Long]
    }

  /** Per-cell health of a persisted IVF-family index (plain, SQ8, or PQ —
    * all cell tables share `(vec_id, ce, cell)`): occupancy and
    * cosine-to-own-centroid stats per cell, the numbers a maintenance
    * scheduler watches to decide WHEN [[reclusterIvfIndex]] is due. Drift
    * shows up here before recall decays: appended vectors far from every
    * frozen centroid drag their cell's `mean_csim`/`min_csim` down, and a
    * hot cell's `n` ballooning past its peers means probe work skews. One
    * scan + one nlist-sized aggregate (the centroid join broadcasts);
    * includes the streaming-ingest side area when present. Output
    * `(cell, n, mean_csim, min_csim)`.
    */
  def ivfIndexHealth(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val g = snapshotGeometry(spark, path)
    val cents = readSmall(spark, g.centroids)
    val base = spark.read.parquet(g.cells)
      .select(col("vec_id"), col("ce"), col("cell"))
    val cells = ingestCells(spark, path)
      .map(i => base.unionByName(i.select(col("vec_id"), col("ce"), col("cell"))))
      .getOrElse(base)
    cells.join(broadcast(cents), col("cell") === col("cent_id"))
      .withColumn("csim", round(cosine(col("ce"), col("cent")), 6))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("csim")), 6).as("mean_csim"),
        round(min(col("csim")), 6).as("min_csim"))
  }

  /** Collision-density summary of a persisted IVF-family index — the
    * cell-grid analog of [[LshIndex.density]]: how much same-cell pair
    * mass the layout implies, which is exactly the exhaustive-distance
    * work an `nprobe = 1` query pays inside its own cell. One row:
    *
    *   - `n` vectors, `cells` occupied cells;
    *   - `collision_pairs` = Σ_c n_c·(n_c−1)/2 — same-cell pairs;
    *   - `collision_prob` = collision_pairs / C(n,2) — P(two random
    *     vectors share a cell); a collapsed (drifted) index saturates
    *     toward 1, a balanced nlist-cell grid sits near 1/nlist;
    *   - `exp_scanned_per_probe` = Σ_c n_c·(n_c−1)/n — distance
    *     computations a corpus-drawn probe pays at nprobe = 1.
    *
    * Same inputs as [[ivfIndexHealth]] (cells ∪ ingest side area), one
    * census aggregate.
    */
  def ivfIndexDensity(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val g = snapshotGeometry(spark, path)
    val base = spark.read.parquet(g.cells).select(col("vec_id"), col("cell"))
    val cells = ingestCells(spark, path)
      .map(i => base.unionByName(i.select(col("vec_id"), col("cell"))))
      .getOrElse(base)
    cells.groupBy(col("cell")).agg(count(lit(1)).as("nc"))
      .agg(sum(col("nc")).as("n"),
        count(lit(1)).as("cells"),
        (sum(col("nc") * (col("nc") - 1)) / 2).cast("long")
          .as("collision_pairs"))
      .withColumn("collision_prob",
        when(col("n") > 1, round(col("collision_pairs") * lit(2.0)
          / (col("n") * (col("n") - lit(1))), 9)).otherwise(lit(0.0)))
      .withColumn("exp_scanned_per_probe",
        round(col("collision_pairs") * lit(2.0) / col("n"), 9))
  }

  /** The recluster trigger: true when the index has drifted past the
    * caller's fences — a cell holds more than `maxSkew`× the mean
    * occupancy (probe work skews to hot cells), or any cell's mean
    * cosine-to-centroid fell below `minMeanCsim` (appends no longer
    * resemble the build distribution, the recall-decay precursor
    * [[reclusterIvfIndex]] repairs). Collects only the nlist-row health
    * frame — bounded by contract, never corpus-sized.
    */
  def shouldRecluster(spark: org.apache.spark.sql.SparkSession, path: String,
      maxSkew: Double = 4.0, minMeanCsim: Double = -1.0): Boolean = {
    val h = ivfIndexHealth(spark, path).collect()
    if (h.isEmpty) return false
    val ns = h.map(_.getAs[Long]("n"))
    val meanN = ns.sum.toDouble / ns.length
    ns.max > maxSkew * meanN ||
      h.map(_.getAs[Double]("mean_csim")).min < minMeanCsim
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings and pairing only INSIDE each cluster cell —
    * never corpus×corpus. Duplicate groups are the connected components of
    * the intra-cell cosine graph at `threshold` (fixed-round min-label
    * propagation, shared with the text-dedup family); each group keeps the
    * example FARTHEST from its cluster centroid (lowest centroid cosine,
    * ties by min id) — the paper's keep-rule: the most central copy of a
    * semantic duplicate group is the most redundant with its cluster.
    *
    * Returns one row per vector: (id, cell, csim, component, is_kept);
    * singletons keep themselves.
    *
    * Scale shape: centroid assignment is a codegen'd scan projection
    * ([[graft.functions.NearestCentroid]]); pairing is an
    * equi-join on the cell id, so candidate pairs shrink ~1/nlist versus
    * all-pairs (at 100 TB, raise `nlist` so cells stay task-sized — the
    * paper runs 50k clusters; an over-full cell only ever costs that cell's
    * square, and Lloyd-refined `kmeansCentroids` balance cells far better
    * than the deterministic seed). Label propagation shuffles edge-sized
    * frames; survivor election is one component-keyed min-struct agg.
    */
  /** `exact = true` swaps the fixed-round propagation for
    * [[graft.ops.Dedup.connectedComponents]] (diameter-proof, `rounds`
    * ignored) — same trade as `dedupSurvivors(exact = true)`.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 8, rounds: Int = 3,
      centroids: Option[DataFrame] = None,
      materializeCells: Boolean = true,
      exact: Boolean = false): DataFrame = {
    val cents = centroids.getOrElse(defaultCentroids(corpus, idCol, vecCol, nlist))
    // cell + centroid-csim via the codegen'd kernel — same winner and
    // tie-break as the former per-id window, zero shuffle (see assignCells)
    val (centIds, centMat) = collectCentroids(cents)
    val nc = graft.functions.nearest_centroid(col("sv"), centMat)
    val cells0 = corpus
      .select(col(idCol).as("sd_id"), asDouble(col(vecCol)).as("sv"))
      .select(col("sd_id"), col("sv"),
        element_at(centIds, nc.getField("idx") + 1).as("cell"),
        nc.getField("csim").as("csim"))
    // consumed 3× (both pair-join sides + final output). Materializing is
    // right up to cluster-memory corpora; at 100 TB pass false — the
    // assignment is one broadcast pass, cheaper to recompute per consumer
    // than to cache corpus-sized state (the same trade as
    // incrementalDedup's materializeCorpusSets).
    val cells = if (materializeCells) cells0.checkpointOwned() else cells0
    val pairs = cells.select(col("sd_id").as("doc_a"), col("sv").as("va"), col("cell"))
      .join(cells.select(col("sd_id").as("doc_b"), col("sv").as("vb"), col("cell")),
        Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val ns = cells.select(col("sd_id").as("node"))
    val labeled =
      if (exact) graft.ops.Dedup.connectedComponents(ns, pairs)
      else graft.ops.Dedup.labelPropagation(ns, pairs, rounds)
    val meta = cells.select(col("sd_id").as("node"), col("cell"), col("csim"))
    val rep = labeled.join(meta, Seq("node"))
      .groupBy(col("label"))
      .agg(min(struct(col("csim"), col("node"))).as("__r"))
      .select(col("label"), col("__r.node").as("__rep"))
    labeled.join(meta, Seq("node")).join(rep, Seq("label"))
      .select(col("node").as(idCol), col("cell"), col("csim"),
        col("label").as("component"), (col("node") === col("__rep")).as("is_kept"))
  }

  /** Embedding QC: centroid-distance outlier screen. Assigns every vector
    * to its nearest centroid (the codegen'd [[graft.functions.NearestCentroid]]
    * kernel — a zero-shuffle scan projection) and flags the ones whose best
    * centroid cosine falls below `simFloor`: vectors no cluster claims are
    * the corrupt/degenerate/off-distribution embeddings a training pipeline
    * screens out before they pollute ANN structures and nearest-neighbor
    * mixes. Returns (id, cell, csim, is_outlier); pass Lloyd-refined or IVF
    * centroids for production use, the deterministic first-`nlist` seed
    * keeps the operator oracle-mirrorable.
    */
  def centroidOutliers(corpus: DataFrame, idCol: String, vecCol: String,
      simFloor: Double, nlist: Int = 8,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(defaultCentroids(corpus, idCol, vecCol, nlist))
    val (centIds, centMat) = collectCentroids(cents)
    val nc = graft.functions.nearest_centroid(asDouble(col(vecCol)), centMat)
    corpus.select(col(idCol),
        element_at(centIds, nc.getField("idx") + 1).as("cell"),
        nc.getField("csim").as("csim"))
      .withColumn("is_outlier", col("csim") < simFloor)
  }

  /** Deterministic farthest-first seeding (the k-means++ idea without
    * randomness): start from the minimum-id vector, then repeatedly take the
    * vector LEAST similar to every chosen centroid (ties by id). One small
    * broadcast-scan per centroid — at full corpus scale run it on a sample,
    * the seeds only need to straddle the clusters. Unlike a first-`nlist`
    * seed, this cannot start degenerate (all seeds inside one cluster),
    * which Lloyd iterations alone provably cannot escape once every far
    * point assigns to a single centroid.
    */
  def farthestFirstCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // The chosen set is nlist-bounded DRIVER METADATA by contract (every
    // round already collected it for the kernel matrix), so it accumulates
    // in a local buffer: each round is exactly ONE distributed job — the
    // shuffle-free corpus scan ending in TakeOrdered(1) — where the frame-
    // union form paid three (collect the frame, scan, re-checkpoint the
    // union) per centroid (r16 opt; e9 seed phase 3 jobs/round → 1).
    // Arithmetic is unchanged: the kernel's csim is the max of per-pair
    // round(·,6) similarities, order-independent over the chosen set.
    val first = corpus.orderBy(col(idCol)).limit(1)
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(first.nonEmpty, "empty centroid corpus")
    val chosen = scala.collection.mutable.ArrayBuffer(first.head)
    (2 to nlist).foreach { _ =>
      val mat = chosen.map(_._2).toArray
      val next = corpus
        .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("v"))
        .withColumn("maxsim",
          graft.functions.nearest_centroid(col("v"), mat).getField("csim"))
        .orderBy(col("maxsim").asc, col("cid").asc).limit(1)
        .select(col("cid"), col("v"))
        .collect()
      next.foreach(r => chosen += ((r.getLong(0), r.getSeq[Double](1).toArray)))
    }
    chosen.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cent_id", "cent")
  }

  /** Driver-local twin of `farthestFirstCentroids` for BOUNDED samples.
    * The seed scan is inherently sequential (choosing centroid i+1 needs
    * the first i), so at nlist ≈ 64 the distributed form pays 64 job
    * round-trips to rescan a few-thousand-row sample. Collecting the sample
    * (the caller bounds it, e.g. `Sampling.hashSample(emb, idCol, 0.02)`)
    * and running the same arithmetic in driver memory returns the IDENTICAL
    * centroid frame — same cosine accumulation order, same round(·,6), same
    * (maxsim, id) tie-break; equality is asserted in the spec — in
    * milliseconds instead of tens of seconds. Lloyd refinement and serving
    * stay distributed; only the seed selection localizes.
    */
  def farthestFirstCentroidsLocal(sample: DataFrame, idCol: String,
      vecCol: String, nlist: Int): DataFrame = {
    val spark = sample.sparkSession
    import spark.implicits._
    val pts = sample.select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    require(pts.nonEmpty, "empty centroid sample")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // Spark's round(double, 6) = BigDecimal(x).setScale(6, HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val chosen = scala.collection.mutable.ArrayBuffer(pts.head)
    // running max-similarity to the chosen set: only the newest centroid
    // needs a pass (max over the same rounded values == full recompute)
    val maxsim = pts.map(p => r6(cos(p._2, pts.head._2)))
    while (chosen.size < math.min(nlist, pts.length)) {
      var bi = 0
      var i = 1
      while (i < pts.length) {
        if (maxsim(i) < maxsim(bi) ||
          (maxsim(i) == maxsim(bi) && pts(i)._1 < pts(bi)._1)) bi = i
        i += 1
      }
      chosen += pts(bi)
      i = 0
      while (i < pts.length) {
        val s = r6(cos(pts(i)._2, pts(bi)._2))
        if (s > maxsim(i)) maxsim(i) = s
        i += 1
      }
    }
    chosen.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cent_id", "cent")
  }

  /** Lloyd-refined IVF centroids: deterministic farthest-first seed, then
    * `iters` rounds of assign-to-nearest (broadcast centroids — the corpus
    * is scanned, never shuffled on vectors) + per-dimension mean (posexplode
    * → two partial aggregations; the shuffle carries nlist×dims cells, not
    * vectors). Deterministic end to end: ties broken by cent_id, means are
    * exact per-dimension averages.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 8, iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = farthestFirstCentroids(corpus, idCol, vecCol, nlist)
    (1 to iters).foreach { _ =>
      // nearest-centroid assignment as the codegen'd kernel (same winner
      // and tie-break as the window form): each Lloyd round scans the
      // corpus once; only the nlist×dims mean aggregation below exchanges.
      // The round's result is nlist rows of driver metadata — collect it
      // into a LocalRelation instead of checkpointing a distributed frame
      // (one job per round instead of checkpoint + next round's collect;
      // same exact per-dimension means, same rows; r16 opt).
      val (ids, mat) = collectCentroids(cents)
      val assigned = corpus
        .select(col(idCol).as("rid"), asDouble(col(vecCol)).as("v"))
        .withColumn("cent_id", cellOf(col("v"), ids, mat))
      cents = assigned
        .select(col("cent_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cent_id"), col("dim")).agg(avg(col("x")).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("cent"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toDF("cent_id", "cent")
    }
    cents
  }

  /** Multi-table SRP-LSH ANN (OR-construction × multi-probe): `tables`
    * independent seeded hyperplane families; a corpus vector is a candidate
    * when it collides with the query (or one of its Hamming-≤`probeRadius`
    * probe buckets) in ANY table. P(candidate) = 1 − (1 − p_probe)^tables —
    * the recall amplifier — at the cost of up to `tables × (1+bits)` the
    * candidate volume, still an equi-join (never a cross join). Measured by
    * `e5_multitable_recall` against `e4_ann_recall`'s single table. On the
    * bench corpus (true top-3 at cosine ≈ 0.26–0.49, i.e. p ≈ 0.61 per bit)
    * 8 tables × 8 bits × radius-1 probing lands mean recall ≈ 0.6 while
    * touching well under a third of the corpus per query.
    */
  def signLshTopKMulti(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, tables: Int = 4,
      probeRadius: Int = 1, seed: Long = SrpSeed, dims: Int = 64): DataFrame = {
    val signs = srpSigns(seed, tables, bits, dims)
    val masks = probeMasks(bits, probeRadius)
    def withTables(df: DataFrame, id: String, vec: String): DataFrame =
      df.select(col(id), col(vec),
        posexplode(graft.functions.srp_buckets(col(vec), signs)))
        .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")
    val q = withTables(
      queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qe")), "qid", "qe")
      .select(col("qid"), col("qe"), col("t"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val c = withTables(
      corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("ce")), "vec_id", "ce")
    // sim is identical whichever table produced the collision — max() dedups
    val sims = c.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qe"), col("ce")), 6))
      .groupBy(col("qid"), col("vec_id"))
      .agg(max(col("sim")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "sim", "rn")
  }

  /** Recall@k of an approximate neighbor frame against the exact one: per
    * query, the fraction of the true top-k the ANN recovered. Both inputs
    * are `(qid, vec_id, ...)` top-k frames (the shape `cosineTopK` /
    * `signLshTopK` / `ivfTopK` emit). This turns ANN quality into a
    * monitored, oracle-checkable number instead of a one-off eyeball — at
    * 100 TB you tune `bits`/`nprobe` against exactly this curve on a sample.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select(col("qid"), col("vec_id"))
      .join(approx.select(col("qid"), col("vec_id"), lit(1).as("__hit")),
        Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).cast("long").as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("recall", round(col("n_overlap").cast("double") / k, 4))

  /** Candidate recall of SRP banding for a pair at the given cosine: per-bit
    * agreement p = 1 − θ/π (the Goemans–Williamson hyperplane identity),
    * band collision p^bits, OR across tables. This IS the `cosinePairs`
    * recall model — use it to CHOOSE `bits`/`tables` instead of guessing.
    */
  def srpCandidateRecall(cosine: Double, bits: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits), tables)
  }

  /** Smallest table count whose OR-construction reaches `targetRecall` for
    * pairs at `cosine` under `bits`-bit bands (candidate volume grows
    * linearly with tables; cap guards the low-threshold regime where banding
    * is the wrong tool — use `cosineTopK` there instead).
    */
  def srpTablesFor(cosine: Double, bits: Int, targetRecall: Double = 0.99,
      maxTables: Int = 64): Int = {
    require(targetRecall > 0 && targetRecall < 1, "0 < targetRecall < 1")
    val t = (1 to maxTables).find(srpCandidateRecall(cosine, bits, _) >= targetRecall)
    t.getOrElse(throw new IllegalArgumentException(
      f"SRP banding cannot reach recall $targetRecall at cosine $cosine%.2f with " +
        f"$bits-bit bands within $maxTables tables (per-bit agreement too low) — " +
        "lower `bits`, or use exact cosineTopK"))
  }

  /** NEAR-DUPLICATE pairs (cosine ≥ threshold AND SRP-band candidate) via
    * seeded multi-table SRP banding. Each vector hashes to one `bits`-bit
    * SRP bucket per table ([[graft.functions.SrpBuckets]], codegen'd);
    * candidate pairs are the in-bucket pairs of ANY table — an equi-join on
    * `(table, bucket)`, never all-pairs. Candidate volume is controlled by
    * `bits` (bucket count per table = 2^bits → expected in-bucket join is
    * ~N²/2^bits per table) and recall by `tables` (OR-construction:
    * P(candidate) = 1 − (1 − p^bits)^tables with p = 1 − θ/π).
    *
    * RECALL MODEL — this is a candidate generator for NEAR duplicates, not
    * an exact "all pairs ≥ θ" scan: with the defaults (16-bit × 8 tables) a
    * pair at cosine 0.99 (p ≈ 0.955) is recovered with probability > 0.99,
    * at cosine 0.9 (p ≈ 0.856) ≈ 0.56, and recall falls off sharply below —
    * at cosine 0.15 (p ≈ 0.55) it is ~5·10⁻⁴. Pass a LOW threshold only to
    * keep genuinely-near pairs the banding surfaced; to chase pairs NEAR a
    * low threshold, lower `bits` / raise `tables` (cost: candidate volume
    * grows ~2^Δbits per table) or use `cosineTopK` for exact results. A
    * random pair's collision odds stay at ~tables/2^bits (~8/65536 by
    * default) — the banding trade LSH dedup is built on. A pair colliding
    * in several tables is emitted once (`max(sim)` — sim is identical
    * whichever table matched); that cross-table dedup groupBy is the plan's
    * single exchange and moves only candidate pairs, never the corpus.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 16, tables: Int = 8,
      seed: Long = SrpSeed, dims: Int = 64): DataFrame = {
    val signs = srpSigns(seed, tables, bits, dims)
    val e = emb
      .select(col(idCol).as("pid"), asDouble(col(vecCol)).as("pe"))
      .select(col("pid"), col("pe"),
        posexplode(graft.functions.srp_buckets(col("pe"), signs)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")
    val a = e.select(col("t"), col("bucket"), col("pid").as("id_a"), col("pe").as("e_a"))
    val b = e.select(col("t"), col("bucket"), col("pid").as("id_b"), col("pe").as("e_b"))
    a.join(b, Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("sim")).as("sim"))
  }

  // ── product quantization (PQ / ADC — the FAISS design, public technique) ──

  /** Driver-side PQ codebooks: `m` subspaces × `kc` centroids each, seeded
    * from the first `kc` corpus vectors' subvectors (the deterministic
    * first-k pattern every oracle-checked index here uses — swap in
    * per-subspace k-means output for production recall without changing
    * any plan shape). Returns `books(s)(c)` = centroid `c` of subspace `s`.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kc: Int): Array[Array[Array[Double]]] = {
    val seed = corpus.orderBy(col(idCol)).limit(kc)
      .select(asDouble(col(vecCol))).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seed.length == kc, s"corpus smaller than kc=$kc")
    val d = seed.head.length
    require(d % m == 0, s"dims $d not divisible by m=$m subspaces")
    val sub = d / m
    Array.tabulate(m)(s => seed.map(v => v.slice(s * sub, (s + 1) * sub)))
  }

  /** Per-subspace Lloyd-refined PQ codebooks trained on a caller-bounded
    * sample — the production drop-in for [[pqCodebooks]]'s deterministic
    * first-kc seed. An arbitrary first-kc seed pays real quantization error
    * on clustered corpora (the 1M-vector smoke needed rerank=64 to reach
    * its recall floor); Lloyd means minimize within-cell variance, which is
    * exactly the ADC approximation error, so trained books buy the same
    * recall at a fraction of the exact-rescore slack — `Scale ann` floors
    * k-means against seeded books at equal rerank (16 and 64). Keep
    * the seeded path for the DuckDB-oracle queries (e12/e13 pin it); this
    * one is graded by recall floors.
    *
    * Driver-local on purpose: the codebooks are m·kc·(d/m) doubles (4 KiB
    * at the defaults) and training needs many sequential passes over a
    * small sample — the same locality trade as
    * [[farthestFirstCentroidsLocal]]. The caller bounds the sample (e.g.
    * `Sampling.hashSample(emb, id, 0.02)`); training cost is
    * O(|sample|·kc·d·iters) driver flops. Deterministic end to end:
    * sample sorted by id, farthest-first seeding (max min-squared-L2, ties
    * by lowest index), first-wins assignment, empty cells keep their
    * centroid.
    */
  def pqCodebooksKmeans(sample: DataFrame, idCol: String, vecCol: String,
      m: Int, kc: Int, iters: Int = 8): Array[Array[Array[Double]]] = {
    val pts = sample.select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    require(pts.length >= kc, s"sample smaller than kc=$kc")
    val d = pts.head.length
    require(d % m == 0, s"dims $d not divisible by m=$m subspaces")
    val sub = d / m
    Array.tabulate(m) { s =>
      kmeansLocal(pts.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)),
        kc, iters)
    }
  }

  /** Deterministic driver-local Lloyd over squared-L2: farthest-first seed,
    * fixed rounds, first-wins ties, empty cells keep their centroid.
    */
  private def kmeansLocal(xs: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = xs(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var s = 0.0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val cents = Array.ofDim[Array[Double]](k)
    cents(0) = xs(0).clone()
    val minD = xs.map(x => d2(x, cents(0)))
    var c = 1
    while (c < k) {
      var bi = 0; var i = 1
      while (i < xs.length) { if (minD(i) > minD(bi)) bi = i; i += 1 }
      cents(c) = xs(bi).clone()
      i = 0
      while (i < xs.length) {
        val s = d2(xs(i), cents(c)); if (s < minD(i)) minD(i) = s; i += 1
      }
      c += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      xs.foreach { x =>
        var best = 0; var bd = d2(x, cents(0)); var ci = 1
        while (ci < k) {
          val dd = d2(x, cents(ci)); if (dd < bd) { bd = dd; best = ci }; ci += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += x(j); j += 1 }
      }
      var ci = 0
      while (ci < k) {
        if (counts(ci) > 0) {
          val m2 = new Array[Double](dim)
          var j = 0
          while (j < dim) { m2(j) = sums(ci)(j) / counts(ci); j += 1 }
          cents(ci) = m2
        }
        ci += 1
      }
      it += 1
    }
    cents
  }

  /** Rounded squared-L2 distance of a `sub`-dim slice to a literal centroid
    * — one fixed left-to-right fold both engines reproduce; the round(6)
    * makes the downstream argmin compare engine-stable (the same convention
    * every cosine compare here uses).
    */
  private def pqDist(slice0: Column, cent: Array[Double]): Column =
    round(aggregate(zip_with(slice0, typedLit(cent.toSeq),
      (a, b) => (a - b) * (a - b)), lit(0d), (acc, x) => acc + x), 6)

  /** PQ-encode: each vector becomes `m` one-byte codes — the 1-based index
    * of its nearest (squared-L2, first-wins ties) centroid per subspace. A
    * PURE zero-shuffle projection: at `m=8`, a 64-dim float32 corpus
    * compresses 32× (256 B → 8 B per vector), the memory-bandwidth shape
    * that serves ANN over corpora even SQ8 cannot hold.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol).as("vec_id"),
      graft.functions.pq_codes(asDouble(col(vecCol)), books).as("code"))

  /** ADC top-k over PQ codes: each query precomputes its `m × kc` distance
    * table (subspace → centroid → rounded squared-L2); a corpus vector's
    * approximate distance is the SUM OF `m` TABLE LOOKUPS selected by its
    * code — no float arithmetic against the corpus at all. Plan: codes are
    * a zero-shuffle projection (or the persisted table), query tables
    * broadcast, one per-query top-k window — ranking ascending by the
    * rounded ADC distance, ties by vec_id. Output `(qid, vec_id, qdist,
    * rn)`, the e8 shape with distance semantics.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, kc: Int = 16): DataFrame = {
    val books = pqCodebooks(corpus, idCol, vecCol, m, kc)
    pqTopKEncoded(pqEncode(corpus, idCol, vecCol, books),
      queries, idCol, vecCol, k, books)
  }

  /** The probe half over pre-encoded codes — the production call: encode +
    * persist the corpus ONCE (8 B/vector at the defaults), serve every
    * query batch from pure table lookups.
    */
  def pqTopKEncoded(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, books: Array[Array[Array[Double]]]): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), pqQueryTable(col(vecCol), books).as("qt"))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("qdist", pqAdcDist(col("code"), col("qt")))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdist").asc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "qdist", "rn")
  }

  /** A query's `m × kc` ADC distance table as one nested-array column. */
  private def pqQueryTable(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val sub = books(0)(0).length
    val qv = asDouble(vec)
    array(books.indices.map { s =>
      val sl = slice(qv, s * sub + 1, sub)
      array(books(s).map(cent => pqDist(sl, cent)): _*)
    }: _*)
  }

  /** The ADC distance: sum of per-subspace table lookups selected by the
    * code, rounded like every compare in this module.
    */
  private def pqAdcDist(code: Column, qt: Column): Column =
    round(aggregate(zip_with(code, qt,
      (c, tbl) => element_at(tbl, c)), lit(0d), (acc, x) => acc + x), 6)

  /** Persist PQ codebooks as `(s, c, cent)` rows (the frame shape survives
    * any engine; order restored on load).
    */
  private def writeBooks(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    books.indices.flatMap(s => books(s).indices.map(c =>
      (s, c, books(s)(c).toSeq))).toDF("s", "c", "cent")
      .write.mode("overwrite").parquet(path)
  }

  private def readBooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Double]]] = {
    // bounded by contract (m·kc rows) and consumed driver-side anyway —
    // read it ON the driver with no Spark job (r17 opt; was a distributed
    // scan + collect per read)
    val (schema, local) =
      org.apache.spark.sql.graftbridge.Bridge.localParquetRows(spark, path)
    val (si, ci, vi) =
      (schema.fieldIndex("s"), schema.fieldIndex("c"), schema.fieldIndex("cent"))
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(local).asScala
      .map(r => (r.getInt(si), r.getInt(ci), r.getSeq[Double](vi).toArray))
      .toArray
    val m = rows.map(_._1).max + 1
    val kc = rows.map(_._2).max + 1
    val out = Array.ofDim[Array[Double]](m, kc)
    rows.foreach { case (s, c, v) => out(s)(c) = v }
    out
  }
}
