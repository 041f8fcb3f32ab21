package graft.ops

import graft.Checkpoints.Ownable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A PERSISTED perceptual-hash index — the IMAGE twin of [[LshIndex]],
  * and the third family on the shared [[IndexLifecycle]] protocol.
  *
  * The ad-hoc image near-dup ([[Multimodal.phashNearDupPairs]], oracle
  * `mm6`) re-DECODES and re-hashes the whole image corpus per run — at
  * 100 TB the decode (~8.5 µs/image; `Scale linearity` times it) plus
  * the corpus-×-corpus self-join is the dominant cost even though a hash
  * is 16 bytes. This module persists the hashes once; every subsequent
  * screening batch decodes ONLY ITSELF and joins the persisted table.
  *
  * Same physical layout as the minhash family (`sigs/band=B/sb=S/`,
  * `ingest/b=N/...`, `_grid`, fold markers, ownership, pending-build
  * protocol — the generic verbs live in [[LshIndex]] as `private[ops]`
  * bodies and are shared VERBATIM, so the crash/maintenance analysis
  * there carries over unchanged), with two family-specific differences:
  *
  *  - the signature is a dHash BAND WORD: `(band ∈ 0..3, sig = the
  *    band's 16 pigeonhole bits)` — two images within Hamming distance 3
  *    MUST collide in at least one band ([[Multimodal.perceptualHash]]'s
  *    recall argument), so the equi-join on `(band, sb, sig)` is a
  *    total-recall candidate generator for `maxDist ≤ 3`;
  *  - every stored row carries the image's FULL 4-word hash (`h0..h3`),
  *    so the Hamming verify runs MAP-SIDE on the candidate join itself —
  *    the image corpus is NEVER re-read, not even through a semi-join
  *    sliver (cheaper than the text family, whose Jaccard verify must
  *    fetch candidate texts). 8 extra bytes/row buys a fetch-free verify.
  *
  * Reference anchor: like [[LshIndex]], a beyond-reference operator — the
  * reference treats media as opaque bytes (sink/sink.go); screening each
  * ingest batch against all prior media is the training-data-pipeline
  * analog of its store-batching shape (store/postgresql/store.go).
  */
object PhashIndex {

  private val dataCols =
    Seq("mh_id", "band", "sig", "h0", "h1", "h2", "h3", "sb")

  /** Build-time grid parameter, persisted at `path/phash_meta`; absence is
    * an error and the `sigs/_grid` cross-check mirrors [[LshIndex]]'s (a
    * crashed reshard's half-swap refuses loudly, never prunes wrongly).
    */
  private def meta(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    IndexLifecycle.assertNoPendingBuild(spark, path)
    // one-row parameter table, read driver-side with no Spark job (r17
    // opt; absence/corruption propagate exactly as before)
    val (sch, rows) = org.apache.spark.sql.graftbridge.Bridge
      .localParquetRows(spark, s"$path/phash_meta")
    val sb = rows.get(0).getInt(sch.fieldIndex("sig_buckets"))
    val fs = LshIndex.fsOf(spark, path)
    LshIndex.gridOf(fs, new org.apache.hadoop.fs.Path(s"$path/sigs")).foreach(g =>
      require(g == sb,
        s"phash index at $path: sigs grid $g != phash_meta sig_buckets $sb — " +
          "a crashed reshard left the swap incomplete; re-run PhashIndex.reshard"))
    sb
  }

  /** Decode + hash a frame of images into the index's signature rows:
    * one row per (image, band) carrying the band word as `sig` AND the
    * full 4-word hash for the map-side verify. The decode runs once per
    * image ([[Multimodal.perceptualHash]]'s batched kernel); images must
    * satisfy its 9×8-divisible-dims contract.
    */
  private val dhCols = Seq("dh0", "dh1", "dh2", "dh3")

  /** Decode + hash an image frame into the `*Hashed` input shape: the
    * image-specific public API is exactly the `*Hashed` API composed with
    * this (one decode, then the shared fingerprint-agnostic machinery).
    */
  private def hashFrame(images: DataFrame, idCol: String,
      imgCol: String): DataFrame =
    Multimodal.perceptualHash(
      images.select(col(idCol).cast("long").as("mh_id"), col(imgCol).as("img")),
      "img")

  /** The fingerprint-agnostic signer: any four 16-bit band words — the
    * image dHash, the audio energy-contour fingerprint
    * ([[Multimodal.audioFingerprint]]), a video frame hash — enter the
    * SAME persisted family through here. The `*Hashed` public entry
    * points expose it for pre-hashed rows.
    */
  private def signWords(hashed: DataFrame, idCol: String,
      wordCols: Seq[String], sigBuckets: Int): DataFrame = {
    require(wordCols.length == 4, "banded hashes are four 16-bit words")
    hashed
      .select(col(idCol).cast("long").as("mh_id"),
        col(wordCols(0)).as("h0"), col(wordCols(1)).as("h1"),
        col(wordCols(2)).as("h2"), col(wordCols(3)).as("h3"),
        posexplode(array(wordCols.map(col): _*)))
      .withColumnRenamed("pos", "band")
      .withColumn("sig", col("col").cast("long")).drop("col")
      .withColumn("sb", pmod(col("sig"), lit(sigBuckets.toLong)).cast("int"))
      .repartition(col("band"), col("sb"))
  }

  /** Build and persist the index over an image corpus. Same contract as
    * [[LshIndex.build]]: overwrites any previous index (including pending
    * ingest and its markers), not reader-concurrent, and a mid-build crash
    * leaves the fence held + the pending-build marker set — every
    * subsequent mutator and parameter read refuses until the operator
    * intervenes. `sigBuckets` sizes the `4 × sigBuckets` partition grid.
    */
  def build(images: DataFrame, idCol: String, imgCol: String, path: String,
      sigBuckets: Int = 16): Unit =
    buildHashed(hashFrame(images, idCol, imgCol), "mh_id", dhCols, path,
      sigBuckets)

  /** Incrementally index a batch (non-streaming form). */
  def append(spark: org.apache.spark.sql.SparkSession, path: String,
      images: DataFrame, idCol: String, imgCol: String): Unit =
    appendHashed(spark, path, hashFrame(images, idCol, imgCol), "mh_id",
      dhCols)

  /** IDEMPOTENT per-batch append for continuous ingest — the exact
    * protocol of [[LshIndex.appendBatch]] (same generic body: reclaimable
    * fence, ownership check, folded-batch skip, monotone-id guard,
    * dynamic overwrite of the batch's own partitions).
    */
  def appendBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      images: DataFrame, idCol: String, imgCol: String, batchId: Long,
      owner: Option[String] = None): Unit =
    appendBatchHashed(spark, path, hashFrame(images, idCol, imgCol), "mh_id",
      dhCols, batchId, owner)

  /** Has a compact already folded this batch's ingest files into `sigs/`?
    * (See [[LshIndex.batchFolded]] for why this is public.)
    */
  def batchFolded(spark: org.apache.spark.sql.SparkSession, path: String,
      batchId: Long): Boolean =
    IndexLifecycle.batchFolded(spark, path, batchId)

  /** Clear the fold-marker history after the owning stream's checkpoint
    * is retired — [[LshIndex.resetIngestFolded]]'s exact twin.
    */
  def resetIngestFolded(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    Similarity.withIndexMutation(spark, path, "resetIngestFolded") {
      IndexLifecycle.resetFoldedFenced(spark, path)(
        LshIndex.compactIngestFenced(spark, path))
    }

  /** Hand the ingest area to a NEW owning stream —
    * [[LshIndex.rebindIngestOwner]]'s exact twin.
    */
  def rebindIngestOwner(spark: org.apache.spark.sql.SparkSession,
      path: String, owner: String): Unit =
    Similarity.withIndexMutation(spark, path, "rebindIngestOwner") {
      IndexLifecycle.rebindOwnerFenced(spark, path, owner)(
        LshIndex.compactIngestFenced(spark, path))
    }

  /** Fold the streaming-ingest side area into `sigs/` as pure file moves —
    * the SAME generic body as the other two families (crash-safe, not
    * reader-concurrent; maintenance cadence).
    */
  def compactIngest(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    Similarity.withIndexMutation(spark, path, "PhashIndex.compactIngest") {
      IndexLifecycle.assertNoPendingBuild(spark, path)
      LshIndex.compactIngestFenced(spark, path)
    }

  /** The index's hash rows, `sigs ∪ ingest` (generic read). */
  def signatures(spark: org.apache.spark.sql.SparkSession, path: String,
      excludeBatch: Option[Long] = None): DataFrame =
    LshIndex.signaturesOf(spark, path, dataCols, excludeBatch)

  /** Per-bucket health — the flat-image/boilerplate skew signal (one
    * blank-image class is a single band bucket pairing quadratically; the
    * remedy is [[Dedup.capWordBuckets]] upstream or exact-dedup of the
    * flat class). Same census as [[LshIndex.health]].
    */
  def health(spark: org.apache.spark.sql.SparkSession, path: String,
      topK: Int = 20): DataFrame = LshIndex.healthOf(spark, path, topK)

  /** Per-band collision-density census — [[LshIndex.density]]'s generic
    * body over this family's grid.
    */
  def density(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = LshIndex.densityOf(spark, path)

  /** Index-resident accidental-match dashboard: what fraction of the
    * grid's band collisions are ALSO within Hamming `d`, for every
    * `d ≤ maxDist` — the number that decides whether a given screening
    * `maxDist` is safe on THIS corpus, learned from the index instead of
    * from a postmortem. dHash space is dense on near-uniform rasters
    * (a measured 34% hamming≤2 accidental-match rate at 4M random flat
    * images) and sparse on differentiated ones; only the index knows
    * which corpus it holds.
    *
    * Estimator: every (band, sig) bucket is sampled to at most
    * `perBucketCap` rows (deterministic xxhash64 rank — reproducible
    * across runs), the within-bucket sampled pairs get their TRUE
    * Hamming distance from the stored full hashes (this family's rows
    * carry `h0..h3`, so no corpus read), and each sampled pair is
    * weighted by `n_b·(n_b−1) / (s_b·(s_b−1))` so heavy buckets keep
    * their quadratic pair mass in the estimate. With `perBucketCap` at
    * least the largest bucket the estimate is EXACT (all weights 1).
    *
    * One row per `d ∈ 0..maxDist`:
    *   - `collision_pairs` — exact same-band-signature pair incidences
    *     (a pair colliding in two bands counts twice, matching the
    *     candidate-join work it causes);
    *   - `sampled_pairs` — pairs actually measured (total, same every
    *     row; equals `collision_pairs` when the cap covers every bucket);
    *   - `p_match_given_collision` — estimated P(Hamming ≤ d | band
    *     collision), pair-incidence weighted;
    *   - `implied_matches_per_probe` — expected candidates within `d`
    *     that a corpus-drawn probe pulls (union bound over bands,
    *     = 2·Σ weighted matching pairs / n).
    *
    * Cost: two grid scans — the windowed sampling pass (one shuffle by
    * (band, sig)) and the exact bucket census (a plain aggregate; cheaper
    * than checkpointing the windowed frame to share one scan) — plus a
    * capped self-join (≤ C(cap,2) pairs per bucket) and a ≤65-row
    * distance histogram folded on the driver.
    */
  def densityByDist(spark: org.apache.spark.sql.SparkSession, path: String,
      perBucketCap: Int = 8, maxDist: Int = 4): DataFrame = {
    require(perBucketCap >= 2, s"perBucketCap must be >= 2, got $perBucketCap")
    require(maxDist >= 0 && maxDist <= 64, s"maxDist must be in 0..64, got $maxDist")
    import org.apache.spark.sql.expressions.Window
    val rows = LshIndex.signaturesOf(spark, path,
      Seq("mh_id", "band", "sig", "h0", "h1", "h2", "h3"), None)
    val bucket = Window.partitionBy(col("band"), col("sig"))
    val ranked = rows
      .withColumn("nb", count(lit(1)).over(bucket))
      .withColumn("rk", row_number().over(bucket.orderBy(
        xxhash64(col("mh_id"), col("band"), col("sig")), col("mh_id"))))
    val samp = ranked.filter(col("rk") <= perBucketCap)
      .withColumn("sn", least(col("nb"), lit(perBucketCap.toLong)))
    val a = samp.select(col("band"), col("sig"), col("nb"), col("sn"),
      col("rk").as("rk_a"), col("h0").as("a0"), col("h1").as("a1"),
      col("h2").as("a2"), col("h3").as("a3"))
    val b = samp.select(col("band").as("band_b"), col("sig").as("sig_b"),
      col("rk").as("rk_b"), col("h0").as("b0"), col("h1").as("b1"),
      col("h2").as("b2"), col("h3").as("b3"))
    // ≤65 distinct distances after the aggregate — bounded by contract
    val hist = a.join(b, col("band") === col("band_b") &&
        col("sig") === col("sig_b") && col("rk_a") < col("rk_b"))
      .withColumn("d",
        (bit_count(col("a0").bitwiseXOR(col("b0"))) +
          bit_count(col("a1").bitwiseXOR(col("b1"))) +
          bit_count(col("a2").bitwiseXOR(col("b2"))) +
          bit_count(col("a3").bitwiseXOR(col("b3")))).cast("int"))
      .withColumn("w", col("nb") * (col("nb") - 1)
        / (col("sn") * (col("sn") - lit(1.0))))
      .groupBy(col("d"))
      .agg(sum(col("w")).as("wsum"), count(lit(1)).as("pairs"))
      .collect()
    val census = rows.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("nb"))
      .agg(sum(col("nb") * (col("nb") - 1)).as("cp2"),
        (sum(col("nb")) / 4).cast("long").as("n"))
      .collect()(0)
    // per-bucket Σw over rk_a<rk_b pairs telescopes to n_b·(n_b−1)/2, so
    // the weighted sums below are already in UNORDERED-pair units
    val collisionPairs = if (census.isNullAt(0)) 0L else census.getLong(0) / 2
    val n = if (census.isNullAt(1)) 0L else census.getLong(1)
    val sampled = hist.map(_.getLong(2)).sum
    import spark.implicits._
    (0 to maxDist).map { k =>
      val m = hist.filter(_.getInt(0) <= k).map(_.getDouble(1)).sum
      // raw quotients (no rounding): with the cap covering every bucket
      // both are EXACT ratios of integer pair masses, and consumers that
      // need display rounding round ONCE (double-rounding is a real
      // oracle-mismatch hazard at the 6-decimal compare)
      (k, collisionPairs, sampled,
        if (collisionPairs > 0) m / collisionPairs else 0.0,
        if (n > 0) 2.0 * m / n else 0.0)
    }.toDF("max_dist", "collision_pairs", "sampled_pairs",
      "p_match_given_collision", "implied_matches_per_probe")
  }

  /** [[screen]] with the radius LEARNED from the index: picks
    * [[safeMaxDist]] under the caller's accidental-match budget and
    * refuses loudly when no radius is safe — the density probe made
    * load-bearing, so "screened at an unsafe radius" stops being a
    * reachable operator mistake. The chosen radius travels as a
    * `max_dist` column (the decision is observable and auditable).
    */
  def screenAuto(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, imgCol: String,
      maxImpliedPerProbe: Double = 0.5, perBucketCap: Int = 8): DataFrame = {
    val d = safeMaxDist(spark, path, maxImpliedPerProbe, perBucketCap)
      .getOrElse(throw new IllegalStateException(
        s"phash index at $path: even exact-hash screening implies more " +
          s"than $maxImpliedPerProbe accidental matches per probe — the " +
          "corpus holds a flat/boilerplate raster class that pairs " +
          "quadratically; exact-dedup or cap it upstream before screening " +
          "(inspect with PhashIndex.densityByDist)"))
    screen(spark, path, batch, idCol, imgCol, maxDist = d)
      .withColumn("max_dist", lit(d))
  }

  /** Learn the largest SAFE screening `maxDist` from the index itself:
    * the biggest `d ≤ 3` (the banding-recall ceiling) whose
    * [[densityByDist]] `implied_matches_per_probe` stays within the
    * caller's accidental-match budget. `None` means even exact-hash
    * screening (`d = 0`) exceeds the budget — the corpus is degenerate
    * (a flat-raster class pairs quadratically) and the remedy is
    * upstream, not a smaller radius: exact-dedup the flat class or cap
    * its buckets before screening in anger.
    */
  def safeMaxDist(spark: org.apache.spark.sql.SparkSession, path: String,
      maxImpliedPerProbe: Double, perBucketCap: Int = 8): Option[Int] = {
    val rates = densityByDist(spark, path, perBucketCap, maxDist = 3)
      .collect().map(r => r.getInt(0) -> r.getDouble(4)).toMap
    // rates are cumulative in d, so the safe set is a prefix of 0..3
    (0 to 3).takeWhile(rates(_) <= maxImpliedPerProbe).lastOption
  }

  /** GDPR/forget: remove the given image ids' hash rows — content-derived
    * fingerprints participate in the erasure story ([[LshIndex.forget]]'s
    * contract and generic body; staged rewrite + swap, folds ingest
    * first). Returns rows removed.
    */
  def forget(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String): Long =
    LshIndex.forgetRows(spark, path, "PhashIndex.forget", ids, idCol,
      meta(spark, path))

  /** Re-shard the partition grid — [[LshIndex.reshard]]'s generic body
    * over this family's columns (the full hash words travel with their
    * rows; nothing recomputes).
    */
  def reshard(spark: org.apache.spark.sql.SparkSession, path: String,
      newSigBuckets: Int): Unit = {
    import spark.implicits._
    LshIndex.reshardRows(spark, path, "PhashIndex.reshard", newSigBuckets,
      Seq("mh_id", "band", "sig", "h0", "h1", "h2", "h3"),
      () => Seq(newSigBuckets).toDF("sig_buckets")
        .write.mode("overwrite").parquet(s"$path/phash_meta"))
  }

  /** Verified near-duplicate candidates of a probe frame against the
    * index: the pruned `(band, sb, sig)` equi-join ([[LshIndex]]'s static
    * partition filter — a probe batch reads O(batch × bands) buckets,
    * never the index), then the Hamming verify MAP-SIDE on the joined
    * rows (both sides carry their full hash). Emits
    * `(b_id, c_id, dist ≤ maxDist)` — distinct pairs; public for plan
    * inspection and for pair-collecting consumers.
    *
    * `maxDist ≤ 3` is required: 4×16-bit banding guarantees candidate
    * recall only to Hamming 3 (beyond it the equi-join is a heuristic,
    * and this family refuses to pretend otherwise).
    */
  def candidates(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, imgCol: String, maxDist: Int = 2,
      excludeBatch: Option[Long] = None): DataFrame =
    candidatesHashed(spark, path, hashFrame(batch, idCol, imgCol), "mh_id",
      dhCols, maxDist, excludeBatch)

  /** The map-side Hamming verify over the candidate join (both sides
    * carry their full 4-word hash — no fetch).
    */
  private def verifyHamming(joined: DataFrame, maxDist: Int): DataFrame =
    joined
      .withColumn("dist",
        (bit_count(col("h0").bitwiseXOR(col("c_h0"))) +
          bit_count(col("h1").bitwiseXOR(col("c_h1"))) +
          bit_count(col("h2").bitwiseXOR(col("c_h2"))) +
          bit_count(col("h3").bitwiseXOR(col("c_h3")))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("b_id"), col("c_id"), col("dist")).distinct()

  /** Screen a batch of images against the index: for each batch image,
    * `is_new` plus the minimum matching corpus id within `maxDist` —
    * [[LshIndex.screen]]'s semantics with the verify already paid by
    * [[candidates]] (no corpus argument: the verify is index-resident).
    * One row per distinct probe id, named `idCol` (long).
    */
  def screen(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, imgCol: String, maxDist: Int = 2,
      excludeBatch: Option[Long] = None): DataFrame =
    screenWithScratch(spark, path, batch, idCol, imgCol, maxDist,
      excludeBatch)._1

  /** [[screen]] plus the interior checkpointed probe-signature frame, so a
    * caller that EXECUTES the verdicts can release its blocks explicitly
    * ([[graft.Checkpoints.release]]) — the per-micro-batch ingest loop's
    * lifetime discipline ([[LshIndex.screenWithScratch]]'s contract).
    */
  private[graft] def screenWithScratch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, imgCol: String, maxDist: Int = 2,
      excludeBatch: Option[Long] = None): (DataFrame, Seq[DataFrame]) = {
    val (v, scratch) = screenHashedWithScratch(spark, path,
      hashFrame(batch, idCol, imgCol), "mh_id", dhCols, maxDist, excludeBatch)
    (v.withColumnRenamed("mh_id", idCol), scratch)
  }

  // ── fingerprint-agnostic entry points: PRE-HASHED rows ─────────────────
  // The index stores 4×16-bit band words; nothing about the lifecycle,
  // pruning or Hamming verify is image-specific. Any fingerprint with the
  // dHash banding contract (recall total to Hamming 3) shares the family —
  // the audio energy-contour fingerprint is the second tenant, and the
  // image-specific API above is exactly these entries composed with
  // [[Multimodal.perceptualHash]].

  /** [[build]] over already-fingerprinted rows: `wordCols` are the four
    * 16-bit band word columns (e.g. `af0..af3` from
    * [[Multimodal.audioFingerprint]]).
    */
  def buildHashed(hashed: DataFrame, idCol: String, wordCols: Seq[String],
      path: String, sigBuckets: Int = 16): Unit = {
    val spark = hashed.sparkSession
    import spark.implicits._
    LshIndex.buildSigned(spark, path, "PhashIndex.build",
      signWords(hashed, idCol, wordCols, sigBuckets), sigBuckets,
      () => Seq(sigBuckets).toDF("sig_buckets")
        .write.mode("overwrite").parquet(s"$path/phash_meta"))
  }

  /** [[append]] over already-fingerprinted rows. The signer (and its grid
    * meta read) runs inside the fence via [[LshIndex.appendSigned]]'s
    * by-name body — a reshard committing between an outside meta read and
    * the write would otherwise bucket these rows under the stale modulus.
    */
  def appendHashed(spark: org.apache.spark.sql.SparkSession, path: String,
      hashed: DataFrame, idCol: String, wordCols: Seq[String]): Unit =
    LshIndex.appendSigned(spark, path, "PhashIndex.append") {
      signWords(hashed, idCol, wordCols, meta(spark, path))
    }

  /** [[appendBatch]] over already-fingerprinted rows (same protocol). */
  def appendBatchHashed(spark: org.apache.spark.sql.SparkSession,
      path: String, hashed: DataFrame, idCol: String, wordCols: Seq[String],
      batchId: Long, owner: Option[String] = None): Unit =
    LshIndex.appendBatchSigned(spark, path,
      s"PhashIndex.appendBatch b=$batchId", batchId, owner)(
      signWords(hashed, idCol, wordCols, meta(spark, path)))

  /** [[candidates]] for a pre-hashed probe frame. */
  def candidatesHashed(spark: org.apache.spark.sql.SparkSession,
      path: String, hashed: DataFrame, idCol: String, wordCols: Seq[String],
      maxDist: Int = 2, excludeBatch: Option[Long] = None): DataFrame = {
    requireBandedDist(maxDist) // BEFORE the probe decodes anything
    // grid resolved ONCE per probe (the snapshotGeometry discipline): a
    // reshard committing between two independent meta reads would sign the
    // probe under one modulus and prune under the other — silently empty
    // candidates instead of this family's loud refusal
    val grid = meta(spark, path)
    verifyHamming(candidateJoinOf(spark, path,
      probeSigs(spark, path, hashed, idCol, wordCols, grid), grid,
      excludeBatch), maxDist)
  }

  /** [[screen]] for a pre-hashed probe frame. One row per DISTINCT probe
    * id (the id column keeps `idCol`'s name, cast to long). The probe ids
    * come from the checkpointed signature frame, NOT from re-projecting
    * `hashed` — for a decode-lineage probe (every Multimodal pipeline)
    * that projection would re-run the whole decode a second time.
    */
  def screenHashed(spark: org.apache.spark.sql.SparkSession, path: String,
      hashed: DataFrame, idCol: String, wordCols: Seq[String],
      maxDist: Int = 2, excludeBatch: Option[Long] = None): DataFrame =
    screenHashedWithScratch(spark, path, hashed, idCol, wordCols, maxDist,
      excludeBatch)._1

  /** [[screenHashed]] plus the interior checkpointed probe-signature frame
    * (see [[screenWithScratch]]).
    */
  private[graft] def screenHashedWithScratch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      hashed: DataFrame, idCol: String, wordCols: Seq[String],
      maxDist: Int = 2,
      excludeBatch: Option[Long] = None): (DataFrame, Seq[DataFrame]) = {
    requireBandedDist(maxDist) // BEFORE the probe decodes anything
    val grid = meta(spark, path) // resolved once; see candidatesHashed
    val bSigs = probeSigs(spark, path, hashed, idCol, wordCols, grid)
    val matched = verifyHamming(
        candidateJoinOf(spark, path, bSigs, grid, excludeBatch), maxDist)
      .groupBy(col("b_id")).agg(min(col("c_id")).as("match_id"))
    (bSigs.select(col("b_id").as(idCol)).distinct()
      .join(broadcast(matched.withColumnRenamed("b_id", idCol)),
        Seq(idCol), "left")
      .select(col(idCol), col("match_id").isNull.as("is_new"), col("match_id")),
      Seq(bSigs))
  }

  private def requireBandedDist(maxDist: Int): Unit =
    require(maxDist <= 3,
      "4x16-bit banding guarantees recall only to hamming 3")

  /** Sign + CHECKPOINT a probe frame once (the probe feeds the
    * touched-bucket collect, the join, and — in the screen — the verdict
    * id list; without the checkpoint each consumer re-runs the probe's
    * decode lineage).
    */
  private def probeSigs(spark: org.apache.spark.sql.SparkSession,
      path: String, hashed: DataFrame, idCol: String,
      wordCols: Seq[String], sigBuckets: Int): DataFrame =
    signWords(hashed, idCol, wordCols, sigBuckets)
      .withColumnRenamed("mh_id", "b_id").checkpointOwned()

  private def candidateJoinOf(spark: org.apache.spark.sql.SparkSession,
      path: String, bSigs: DataFrame, sigBuckets: Int,
      excludeBatch: Option[Long]): DataFrame =
    LshIndex.candidatesJoin(spark, path, bSigs, dataCols,
      4 * sigBuckets, excludeBatch)
}
