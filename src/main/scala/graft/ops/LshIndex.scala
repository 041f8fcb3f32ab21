package graft.ops

import graft.Checkpoints.Ownable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A PERSISTED MinHash-LSH signature index — the production shape of the
  * batch-vs-corpus near-duplicate screen at 100 TB.
  *
  * The ad-hoc screens ([[Dedup.incrementalDedup]] and friends, oracle
  * `d12_incremental`) re-sign the whole corpus per run: one full corpus
  * scan per screening job, which at 100 TB is the dominant cost even
  * though the signatures it produces are ~32 bytes/doc. This module
  * persists them once and lets every subsequent screening job join
  * against the persisted table instead — the corpus is touched only when
  * candidate texts are verified, via a semi-join sliver.
  *
  * Layout under `path/` (mirrors the persisted IVF family in
  * [[Similarity]], so the maintenance story — fence, idempotent streaming
  * ingest, file-move compaction — is the same story twice):
  *
  *   - `lsh_meta`       one row: (bands, shingle_size, sig_buckets) —
  *                      build-time parameters; append/screen read them
  *                      back so callers set them ONCE at build.
  *   - `sigs/band=B/sb=S/`  the signature rows `(mh_id, sig)`, parquet
  *                      PARTITIONED BY (band, sig-bucket). The screen's
  *                      candidate join carries both partition columns, so
  *                      the scan prunes to the batch's touched buckets via
  *                      dynamic partition pruning — a screening batch
  *                      reads O(batch × bands) buckets, never the index.
  *   - `ingest/b=N/band=B/sb=S/`  streaming micro-batches (idempotent
  *                      DYNAMIC overwrite of the batch's own partitions —
  *                      a crash-replay rewrites exactly itself).
  *   - `ingest_folded/b=N`  compaction's replay guard markers (see
  *                      [[Similarity.compactIvfIngest]] for the hazard
  *                      this closes; same design).
  *   - `_mutating`      the exclusive mutation fence, shared primitive
  *                      [[Similarity.withIndexMutation]].
  *
  * Reference anchor: the reference has no persisted dedup index — this is
  * a beyond-reference operator motivated by its ingest pipeline shape
  * (store/postgresql/store.go batches appends; screening each batch
  * against all prior data is the training-data-pipeline analog).
  */
object LshIndex {

  private[ops] def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Build-time parameters, persisted at `path/lsh_meta`. Absence is an
    * error (an index is never legally meta-less); read failures propagate —
    * silently guessing parameters would produce signatures incomparable
    * with the persisted ones (the [[Similarity]] `sq_meta` lesson).
    *
    * The grid size is ALSO stamped into the sigs directory itself
    * (`sigs/_grid`, written by build/forget/reshard) and cross-checked
    * here: a [[reshard]] crash between its meta write and its directory
    * swap would otherwise leave new-grid metadata over old-grid files, and
    * every screen would derive `sb` with the wrong modulus — partition
    * pruning then silently drops true candidates. The mismatch REFUSES
    * loudly instead; re-running reshard repairs it (idempotent rewrite).
    * Pre-marker directories (no `_grid`) skip the check.
    */
  private def meta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int) = {
    // the family's parameter choke point: a half-written build (crashed
    // between lsh_meta and sigs, fence since broken) would sign probes with
    // NEW bands against OLD stored signatures — bands the stored side never
    // hashed silently match nothing. Refuse instead (IndexLifecycle parity
    // with the IVF snapshotGeometry check).
    IndexLifecycle.assertNoPendingBuild(spark, path)
    // one-row parameter table, read driver-side with no Spark job (r17
    // opt; the former distributed read cost one collect job per lifecycle
    // verb — 4 per d17-shaped lifecycle). Absence/corruption propagate
    // exactly as before.
    val (sch, rows) = org.apache.spark.sql.graftbridge.Bridge
      .localParquetRows(spark, s"$path/lsh_meta")
    val r = rows.get(0)
    def f(n: String) = r.getInt(sch.fieldIndex(n))
    val sb = f("sig_buckets")
    val fs = fsOf(spark, path)
    gridOf(fs, new org.apache.hadoop.fs.Path(s"$path/sigs")).foreach(g =>
      require(g == sb,
        s"lsh index at $path: sigs grid $g != lsh_meta sig_buckets $sb — " +
          "a crashed reshard left the swap incomplete; re-run LshIndex.reshard"))
    (f("bands"), f("shingle_size"), sb)
  }

  private[ops] def gridMarker(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir, "_grid")

  private[ops] def gridOf(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[Int] = {
    val m = gridMarker(dir)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Some(body.toInt)
    }
  }

  private[ops] def writeGrid(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, n: Int): Unit = {
    val out = fs.create(gridMarker(dir), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Sign a frame with the index's parameters: `(mh_id, band, sig, sb)`.
    * `sb` is the signature's bucket — a pure function of `sig`, so it can
    * be a PARTITION column on the stored side and a JOIN key on both
    * sides: equality on `(band, sb, sig)` is equality on `(band, sig)`,
    * but carrying `sb` lets the candidate join prune stored partitions.
    */
  private def signFrame(df: DataFrame, idCol: String, textCol: String,
      bands: Int, shingleSize: Int, sigBuckets: Int): DataFrame =
    Dedup.minhashSignatures(df, idCol, textCol, bands, shingleSize)
      .withColumn("sb", pmod(col("sig"), lit(sigBuckets.toLong)).cast("int"))
      // co-locate each output partition's rows before the partitioned
      // write: without this every task writes a sliver file into every
      // (band, sb) dir it touches — tasks × grid tiny files per write leg,
      // the classic small-files explosion (measured 13× on the d17
      // lifecycle at sf0.1). One shuffle of 16-byte rows buys one file per
      // populated dir, which is also what the probe's pruned scan wants.
      .repartition(col("band"), col("sb"))

  /** Build and persist the index over `corpus`. Overwrites any previous
    * index at `path` (including pending ingest and its replay markers —
    * a rebuild starts the streaming story from scratch, same contract as
    * [[Similarity.buildIvfIndex]]). Like the IVF build, NOT
    * reader-concurrent (it rewrites `sigs/` in place) and not silently
    * crash-recoverable: a build that dies mid-way leaves the mutation
    * fence held, so every subsequent mutator refuses until the operator
    * clears it ([[Similarity.breakIndexMutation]]) and re-runs the build —
    * a half-built index can never be mutated into quietly.
    *
    * `sigBuckets` sizes the partition grid: `bands × sigBuckets`
    * directories. Size it so one bucket's rows fit a task comfortably —
    * at 50 B docs × 8 bands and 4096 buckets a bucket holds ~100 M
    * 16-byte rows, and a screening batch still prunes to the handful of
    * buckets it hashes into.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String, path: String,
      bands: Int = 4, shingleSize: Int = 3, sigBuckets: Int = 64): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    buildSigned(spark, path, "LshIndex.build",
      signFrame(corpus, idCol, textCol, bands, shingleSize, sigBuckets),
      sigBuckets,
      () => Seq((bands, shingleSize, sigBuckets))
        .toDF("bands", "shingle_size", "sig_buckets")
        .write.mode("overwrite").parquet(s"$path/lsh_meta"))
  }

  /** The layout-generic build skeleton (fence → pending-build marker →
    * family meta → ingest reset → partitioned write → grid stamp →
    * marker clear); `signed` must already carry `(band, sb)` and be
    * repartitioned on them (the signer's job).
    */
  private[ops] def buildSigned(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, signed: DataFrame, sigBuckets: Int,
      writeMeta: () => Unit): Unit =
    Similarity.withIndexMutation(spark, path, op) {
      IndexLifecycle.beginBuild(spark, path)
      val fs = fsOf(spark, path)
      writeMeta()
      IndexLifecycle.clearIngestState(spark, path)
      signed.write.mode("overwrite").partitionBy("band", "sb")
        .parquet(s"$path/sigs")
      writeGrid(fs, new org.apache.hadoop.fs.Path(s"$path/sigs"), sigBuckets)
      IndexLifecycle.endBuild(spark, path)
    }

  /** Incrementally index a batch (non-streaming form): signatures under
    * the persisted parameters, appended straight into the main table.
    */
  def append(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String): Unit =
    appendSigned(spark, path, "LshIndex.append") {
      val (bands, shingleSize, sigBuckets) = meta(spark, path)
      signFrame(batch, idCol, textCol, bands, shingleSize, sigBuckets)
    }

  /** Layout-generic non-streaming append (fenced straight write).
    * `signed` is BY NAME so the family's meta read (and therefore the
    * grid modulus the signer buckets under) resolves INSIDE the fence — a
    * reshard committing between an outside read and the write would
    * otherwise bucket these rows under the stale modulus, and every sb
    * value would still be a valid partition dir: probes would silently
    * never find them.
    */
  private[ops] def appendSigned(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String)(signed: => DataFrame): Unit =
    Similarity.withIndexMutation(spark, path, op) {
      IndexLifecycle.assertNoPendingBuild(spark, path)
      signed.write.mode("append").partitionBy("band", "sb").parquet(s"$path/sigs")
    }

  /** Has a compact already folded this batch's ingest files into `sigs/`?
    * Public because the streaming composite ([[graft.streaming.StreamAggs
    * .dedupAtIngest]]) must skip a folded batch's whole replay body, not
    * just the write — post-fold, the batch's own signatures are
    * indistinguishable from the corpus, so a re-screen would match the
    * batch against itself.
    */
  def batchFolded(spark: org.apache.spark.sql.SparkSession, path: String,
      batchId: Long): Boolean =
    IndexLifecycle.batchFolded(spark, path, batchId)

  /** Clear the fold-marker history after the owning stream's checkpoint is
    * retired (a fresh checkpoint restarts batch ids at 0, which
    * [[IndexLifecycle.guardBatchId]] otherwise refuses). Folds pending
    * ingest first; see [[IndexLifecycle.resetFoldedFenced]] for the safety
    * contract. The exact twin of [[Similarity.resetIngestFolded]].
    */
  def resetIngestFolded(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    Similarity.withIndexMutation(spark, path, "resetIngestFolded") {
      IndexLifecycle.resetFoldedFenced(spark, path)(
        compactIngestFenced(spark, path))
    }

  /** Hand the ingest area to a NEW owning stream (the old checkpoint must
    * be retired) — the exact twin of [[Similarity.rebindIngestOwner]].
    */
  def rebindIngestOwner(spark: org.apache.spark.sql.SparkSession,
      path: String, owner: String): Unit =
    Similarity.withIndexMutation(spark, path, "rebindIngestOwner") {
      IndexLifecycle.rebindOwnerFenced(spark, path, owner)(
        compactIngestFenced(spark, path))
    }

  /** IDEMPOTENT per-batch append for continuous ingest: the batch lands
    * in `ingest/` partitioned by `(b=batchId, band, sb)` with dynamic
    * overwrite — a crash-replay rewrites exactly its own partitions. The
    * fence is reclaimable by the same op identity (a crashed micro-batch's
    * replay IS the dead holder's retry); already-folded batches are
    * skipped ([[batchFolded]]).
    */
  def appendBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String, batchId: Long,
      owner: Option[String] = None): Unit =
    appendBatchSigned(spark, path, s"LshIndex.appendBatch b=$batchId",
      batchId, owner) {
      val (bands, shingleSize, sigBuckets) = meta(spark, path)
      signFrame(batch, idCol, textCol, bands, shingleSize, sigBuckets)
    }

  /** Layout-generic idempotent per-batch ingest append: fence (reclaimable
    * by the same op — a crashed micro-batch's replay IS the dead holder's
    * retry), ownership check, folded-batch skip, monotone-id guard, then
    * the batch's own `(b, band, sb)` partitions via dynamic overwrite.
    * `signed` is by-name: a skipped (already-folded) batch never signs.
    */
  private[ops] def appendBatchSigned(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, batchId: Long, owner: Option[String])(
      signed: => DataFrame): Unit =
    Similarity.withIndexMutation(spark, path, op, reclaimSameOp = true) {
      IndexLifecycle.checkOwner(spark, path, owner)
      if (batchFolded(spark, path, batchId)) ()
      else {
        IndexLifecycle.guardBatchId(spark, path, batchId)
        signed.withColumn("b", lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("b", "band", "sb").parquet(s"$path/ingest")
      }
    }

  /** Fold the streaming-ingest side area into `sigs/` as PURE FILE MOVES
    * (no bytes rewritten): `ingest/b=N/band=B/sb=S/f.parquet` renames to
    * `sigs/band=B/sb=S/ing-bN-f.parquet`. Marker-before-move and
    * latest-marker pruning exactly as [[Similarity.compactIvfIngest]] —
    * the crash/replay analysis there carries over unchanged; the only
    * difference is the two-level partition walk. Also like the IVF
    * compact, crash-safe but NOT reader-concurrent (a screen that listed
    * `ingest/` before the moves reads vanished paths): run it on the
    * maintenance cadence, not under live screens.
    */
  def compactIngest(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    Similarity.withIndexMutation(spark, path, "LshIndex.compactIngest") {
      // parity with the IVF compact (which refuses via snapshotGeometry):
      // folding a retired stream's ingest into a half-built index would
      // mint fold markers from a dead id sequence
      IndexLifecycle.assertNoPendingBuild(spark, path)
      compactIngestFenced(spark, path)
    }

  /** The compact body, for callers already holding the fence
    * ([[compactIngest]], [[forget]] — which must fold the side area before
    * its rewrite or forgotten signatures would survive in `ingest/`).
    */
  private[ops] def compactIngestFenced(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
      import org.apache.hadoop.fs.Path
      val fs = fsOf(spark, path)
      val ingest = new Path(s"$path/ingest")
      if (fs.exists(ingest)) {
      fs.listStatus(ingest).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("b=")).foreach { bdir =>
        val bTag = bdir.getPath.getName.stripPrefix("b=")
        val moves = for {
          banddir <- fs.listStatus(bdir.getPath).toSeq
          if banddir.isDirectory && banddir.getPath.getName.startsWith("band=")
          sbdir <- fs.listStatus(banddir.getPath).toSeq
          if sbdir.isDirectory && sbdir.getPath.getName.startsWith("sb=")
          f <- fs.listStatus(sbdir.getPath).toSeq
          if f.isFile && f.getPath.getName.endsWith(".parquet")
        } yield (s"${banddir.getPath.getName}/${sbdir.getPath.getName}", f.getPath)
        // marker BEFORE the moves; only when there is something to move —
        // an empty b= tree (crash leftover) must not mint a marker that
        // could block a future real batch of the same id
        if (moves.nonEmpty) IndexLifecycle.mintFoldedMarker(fs, path, bTag)
        moves.foreach { case (part, f) =>
          val dest = new Path(s"$path/sigs/$part")
          fs.mkdirs(dest)
          if (!fs.rename(f, new Path(dest, s"ing-b$bTag-${f.getName}")))
            throw new java.io.IOException(s"lsh compact move failed: $f")
        }
      }
      fs.delete(ingest, true): Unit
      // markers below the max are dead under the monotone-id protocol the
      // guardBatchId refusal enforces — see IndexLifecycle
      IndexLifecycle.pruneFoldedMarkers(fs, path)
      }
    }

  /** Per-bucket health of the index — the numbers a maintenance scheduler
    * watches: `(band, sig, n)` for the `topK` heaviest signature buckets
    * plus the grid occupancy per `(band, sb)` partition. Heavy buckets are
    * the boilerplate-skew signal (candidate expansion is quadratic IN THE
    * BUCKET — the screen's cost model dies on one pathological bucket long
    * before it dies on corpus size; remedy: `maxBucketSize` screening
    * upstream or exact-dedup of the boilerplate class), and a partition
    * grid whose per-(band, sb) row counts dwarf the write/commit sweet
    * spot is the [[reshard]] trigger. One scan of `sigs ∪ ingest`, one
    * grid-keyed aggregate.
    */
  def health(spark: org.apache.spark.sql.SparkSession, path: String,
      topK: Int = 20): DataFrame = healthOf(spark, path, topK)

  /** Layout-generic: the bucket census touches only the universal
    * `(band, sig)` columns, so one body serves every family.
    */
  private[ops] def healthOf(spark: org.apache.spark.sql.SparkSession,
      path: String, topK: Int): DataFrame = {
    val sigs = signaturesOf(spark, path,
      Seq("mh_id", "band", "sig", "sb"), None)
    val heavy = sigs.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("band"), col("sig"))
      .limit(topK)
    heavy.select(col("band"), col("sig"), col("n"))
  }

  /** Collision-density census of the banded signature grid — what
    * [[health]]'s topK view can't say: not just WHERE the heavy buckets
    * are, but how much ACCIDENTAL candidate mass the whole grid implies.
    * A screen's cost and false-candidate rate are both driven by the
    * band-collision probability (two random corpus members sharing a
    * band signature); on a differentiated corpus it is ~n/|sig-space|
    * per band, on a near-uniform corpus (flat images, boilerplate text)
    * it saturates — the 34%-accidental-match postmortem this verb turns
    * into a BEFORE-the-fact dashboard. Per band:
    *
    *   - `n` rows, `buckets` distinct signatures;
    *   - `collision_pairs` = Σ_b n_b·(n_b−1)/2 — unordered same-sig pairs;
    *   - `collision_prob` = collision_pairs / C(n,2) — P(two random
    *     members collide in this band);
    *   - `exp_candidates_per_probe` = Σ_b n_b·(n_b−1)/n — candidates a
    *     corpus-drawn probe pulls from this band (excluding itself).
    *
    * A probe's total candidate set is bounded by the SUM of the bands'
    * `exp_candidates_per_probe` (union bound; multi-band collisions
    * dedup in the screen). One scan of `sigs ∪ ingest`, one bucket
    * census, one band-sized aggregate — the same cost as [[health]].
    */
  def density(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = densityOf(spark, path)

  /** Layout-generic: touches only the universal `(band, sig)` columns,
    * so one body serves the minhash, perceptual-hash, and audio
    * fingerprint families alike.
    */
  private[ops] def densityOf(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val sigs = signaturesOf(spark, path, Seq("mh_id", "band", "sig"), None)
    sigs.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("nb"))
      .groupBy(col("band"))
      .agg(sum(col("nb")).as("n"),
        count(lit(1)).as("buckets"),
        (sum(col("nb") * (col("nb") - 1)) / 2).cast("long")
          .as("collision_pairs"))
      .withColumn("collision_prob",
        when(col("n") > 1, round(col("collision_pairs") * lit(2.0)
          / (col("n") * (col("n") - lit(1))), 9)).otherwise(lit(0.0)))
      .withColumn("exp_candidates_per_probe",
        round(col("collision_pairs") * lit(2.0) / col("n"), 9))
      .orderBy(col("band"))
  }

  /** Bucket-SIZE histogram of the stored grid — `(nb, k)` = k buckets of
    * size nb. The distinct-size count is tiny at any corpus scale (it
    * cannot exceed the largest bucket's size, and realistically reads in
    * the dozens), so the collect feeding [[safeBucketCap]] is bounded.
    */
  def bucketSizeHistogram(spark: org.apache.spark.sql.SparkSession,
      path: String, excludeBatch: Option[Long] = None): DataFrame =
    signaturesOf(spark, path, Seq("mh_id", "band", "sig"), excludeBatch)
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("nb"))
      .groupBy(col("nb")).agg(count(lit(1)).as("k"))

  /** Learn the largest SAFE per-bucket cap from the index itself — the
    * text family's [[PhashIndex.safeMaxDist]]: a corpus-drawn probe
    * landing in a bucket of size nb pulls nb−1 candidates from it, so
    * buckets of size ≤ c imply `Σ_{nb ≤ c} nb·(nb−1)·k / n` expected
    * candidates per probe (union-bounded over bands, exact integer pair
    * mass over one final division — engine-portable). The cap is the
    * largest bucket size whose cumulative implied-candidate mass stays
    * within the caller's budget; candidates in larger buckets are the
    * boilerplate/flat-class skew that pairs quadratically — the guard
    * [[Dedup.capWordBuckets]] asks the OPERATOR to size, chosen here
    * from the census instead.
    *
    * `None` means even the size-2 buckets alone exceed the budget — the
    * corpus is degenerate (a near-identical class dominates) and the
    * remedy is upstream (exact-dedup the class), not a cap: a cap of 1
    * would silently screen nothing. `Some(2)` on a collision-free grid
    * (nothing to cap; any cap is vacuous).
    */
  def safeBucketCap(spark: org.apache.spark.sql.SparkSession, path: String,
      maxCandidatesPerProbe: Double,
      excludeBatch: Option[Long] = None): Option[Int] = {
    val hist = bucketSizeHistogram(spark, path, excludeBatch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val (bands, _, _) = meta(spark, path)
    val n = hist.map { case (nb, k) => nb * k }.sum / bands
    val colliding = hist.filter(_._1 >= 2)
    if (n == 0 || colliding.isEmpty) Some(2)
    else {
      val cums = colliding.scanLeft(0L) {
        case (c, (nb, k)) => c + nb * (nb - 1) * k
      }.tail
      colliding.zip(cums)
        .takeWhile(_._2 <= maxCandidatesPerProbe * n)
        .lastOption.map(_._1._1.toInt)
    }
  }

  /** [[screen]] with the boilerplate-skew cap LEARNED from the index:
    * picks [[safeBucketCap]] under the caller's candidate budget, refuses
    * loudly when no cap is safe, and screens with candidates from buckets
    * above the cap DROPPED (recall loss confined to the near-identical
    * classes an exact-dedup pass owns — the [[Dedup.capWordBuckets]]
    * contract, decided before the fact). The chosen cap travels as a
    * `bucket_cap` column: the decision is observable and auditable.
    */
  def screenAuto(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxCandidatesPerProbe: Double = 16.0,
      excludeBatch: Option[Long] = None): DataFrame = {
    val cap = safeBucketCap(spark, path, maxCandidatesPerProbe, excludeBatch)
      .getOrElse(throw new IllegalStateException(
        s"lsh index at $path: even size-2 buckets alone imply more than " +
          s"$maxCandidatesPerProbe candidates per probe — the corpus is " +
          "dominated by a near-identical class that pairs quadratically; " +
          "exact-dedup it upstream before screening in anger (inspect " +
          "with LshIndex.bucketSizeHistogram / density)"))
    screenWithScratch(spark, path, corpus, batch, idCol, textCol, threshold,
      excludeBatch, maxBucket = Some(cap))._1
      .withColumn("bucket_cap", lit(cap))
  }

  /** Re-shard the partition grid to `newSigBuckets` — the maintenance verb
    * for an index whose corpus outgrew its build-time grid (`sb` is a pure
    * function of `sig`, so this is ONE deterministic rewrite; no
    * signatures change, only their physical placement). Folds pending
    * ingest first, rewrites `sigs/` through the same staged-swap protocol
    * as [[forget]] (crash leaves the fence held + the staged copy
    * adoptable), and persists the new grid in `lsh_meta` so every
    * subsequent probe/append derives the matching `sb`. Not
    * reader-concurrent (maintenance cadence).
    */
  def reshard(spark: org.apache.spark.sql.SparkSession, path: String,
      newSigBuckets: Int): Unit = {
    import spark.implicits._
    reshardRows(spark, path, "LshIndex.reshard", newSigBuckets,
      Seq("mh_id", "band", "sig"), () => {
        // raw parameter read (no grid cross-check): reshard is the REPAIR
        // for a meta/grid mismatch, so it must be callable while one exists
        val r0 = spark.read
          .schema("bands INT, shingle_size INT, sig_buckets INT")
          .parquet(s"$path/lsh_meta").collect()(0)
        Seq((r0.getInt(r0.fieldIndex("bands")),
            r0.getInt(r0.fieldIndex("shingle_size")), newSigBuckets))
          .toDF("bands", "shingle_size", "sig_buckets")
          .write.mode("overwrite").parquet(s"$path/lsh_meta")
      })
  }

  /** The layout-generic reshard body: `sb` is a pure function of `sig`,
    * so the regrid is ONE deterministic rewrite of `dataCols` (everything
    * but `sb`) under the new modulus, staged then swapped; `rewriteMeta`
    * persists the family's new grid parameter.
    */
  private[ops] def reshardRows(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, newSigBuckets: Int, dataCols: Seq[String],
      rewriteMeta: () => Unit): Unit =
    Similarity.withIndexMutation(spark, path, op) {
      import org.apache.hadoop.fs.Path
      // reshard repairs a GRID mismatch, not a half-done build — resharding
      // old sigs under a new build's meta would "repair" into consistent-
      // looking wrong parameters
      IndexLifecycle.assertNoPendingBuild(spark, path)
      val fs = fsOf(spark, path)
      val staged = new Path(s"$path/sigs.reshard")
      val live = new Path(s"$path/sigs")
      // crash recovery: a previous reshard that died between the delete and
      // the rename left only the staged copy — adopt it before proceeding
      if (!fs.exists(live) && fs.exists(staged)) {
        if (!fs.rename(staged, live))
          throw new java.io.IOException("index reshard recovery rename failed")
      }
      compactIngestFenced(spark, path)
      spark.read.parquet(live.toString)
        .select(dataCols.map(col): _*)
        .withColumn("sb",
          pmod(col("sig"), lit(newSigBuckets.toLong)).cast("int"))
        .repartition(col("band"), col("sb"))
        .write.mode("overwrite").partitionBy("band", "sb")
        .parquet(staged.toString)
      writeGrid(fs, staged, newSigBuckets)
      rewriteMeta()
      // crash windows are LOUD, never silently lossy: after the meta write
      // but before the swap, live's _grid contradicts meta and every
      // parameter read refuses; after the delete but before the rename,
      // sigs is absent and screens fail outright — both states repair by
      // re-running reshard (idempotent: sb is a pure function of sig)
      if (!fs.delete(live, true) || !fs.rename(staged, live))
        throw new java.io.IOException(s"index reshard swap failed at $path")
    }

  /** GDPR/forget: REMOVE the given doc ids' signature rows via a
    * copy-on-write rewrite of `sigs/` (staged full write, then swap) —
    * content-derived fingerprints must participate in the same erasure
    * story as the corpus itself (`EventLog.forget`'s contract), or a
    * "deleted" document keeps matching future batches. Folds pending
    * ingest first so forgotten signatures cannot survive in the side
    * area. Not reader-concurrent (like [[build]] and [[compactIngest]] —
    * maintenance cadence); a crash mid-swap leaves the fence held and the
    * staged copy on disk, so the operator re-runs forget after breaking
    * the fence (the rewrite is idempotent). Returns rows removed.
    */
  def forget(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String): Long =
    forgetRows(spark, path, "LshIndex.forget", ids, idCol,
      meta(spark, path)._3)

  /** The layout-generic forget body: fold pending ingest, staged full
    * rewrite of `sigs/` minus the victims' rows, swap. `gridBuckets` is
    * passed BY NAME so the family meta read (which asserts no pending
    * build itself) runs inside the fence.
    */
  private[ops] def forgetRows(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, ids: DataFrame, idCol: String,
      gridBuckets: => Int): Long =
    Similarity.withIndexMutation(spark, path, op) {
      import org.apache.hadoop.fs.Path
      IndexLifecycle.assertNoPendingBuild(spark, path)
      val fs = fsOf(spark, path)
      val staged = new Path(s"$path/sigs.forget")
      val live = new Path(s"$path/sigs")
      // crash recovery: a previous forget that died between the delete and
      // the rename left only the staged copy — adopt it before rewriting
      if (!fs.exists(live) && fs.exists(staged)) {
        if (!fs.rename(staged, live))
          throw new java.io.IOException(s"index forget recovery rename failed")
      }
      compactIngestFenced(spark, path)
      val victims = ids.select(col(idCol).as("mh_id")).distinct()
      val full = spark.read.parquet(live.toString)
      // before/after row counts ride `observe` taps ON the staged rewrite
      // itself (CollectMetrics is a pass-through): the rewrite is the ONE
      // full scan this verb fundamentally needs — the former separate
      // count() before and re-read count() after the swap were two more
      // full index passes per forget (r16 opt; at 100 TB the erase-must-
      // rewrite pass dominates, so this is 3 passes → 1).
      val obsBefore = org.apache.spark.sql.Observation()
      val obsAfter = org.apache.spark.sql.Observation()
      full.observe(obsBefore, count(lit(1)).as("n"))
        .join(broadcast(victims), Seq("mh_id"), "left_anti")
        .observe(obsAfter, count(lit(1)).as("n"))
        .repartition(col("band"), col("sb"))
        .write.mode("overwrite").partitionBy("band", "sb")
        .parquet(staged.toString)
      writeGrid(fs, staged, gridBuckets) // grid unchanged by forget
      if (!fs.delete(live, true) || !fs.rename(staged, live))
        throw new java.io.IOException(s"index forget swap failed at $path")
      obsBefore.get("n").asInstanceOf[Long] - obsAfter.get("n").asInstanceOf[Long]
    }

  /** The index's signature frame: `sigs ∪ ingest` (each side keeps its own
    * partition pruning). `excludeBatch` drops one ingest batch — the
    * streaming composite excludes the CURRENT batch so a crash-replay
    * never screens a document against its own first-attempt signatures.
    */
  def signatures(spark: org.apache.spark.sql.SparkSession, path: String,
      excludeBatch: Option[Long] = None): DataFrame =
    signaturesOf(spark, path, Seq("mh_id", "band", "sig", "sb"), excludeBatch)

  /** The layout-generic `sigs ∪ ingest` read, parameterized by the
    * family's data columns — the phash family carries its full hash words
    * on every row ([[PhashIndex]]); the minhash family carries none.
    */
  private[ops] def signaturesOf(spark: org.apache.spark.sql.SparkSession,
      path: String, dataCols: Seq[String],
      excludeBatch: Option[Long]): DataFrame = {
    import org.apache.hadoop.fs.Path
    IndexLifecycle.assertNoPendingBuild(spark, path)
    // data-file schema from ONE footer on the driver + the grid's fixed
    // partition columns (band/sb are written as ints by every signer; the
    // ingest side adds its int batch dir) — a bare read.parquet would pay
    // a distributed schema-inference job per read (r16 opt); the id/word
    // columns still follow the family via the footer.
    val dataSchema = org.apache.spark.sql.graftbridge.Bridge
      .parquetSchemaOf(spark, s"$path/sigs")
    val partCols = new org.apache.spark.sql.types.StructType()
      .add("band", "int").add("sb", "int")
    val main = spark.read
      .schema(org.apache.spark.sql.types.StructType(dataSchema ++ partCols))
      .parquet(s"$path/sigs")
      .select(dataCols.map(col): _*)
    val ing = new Path(s"$path/ingest")
    val fs = fsOf(spark, path)
    // a compact that crashed AFTER its last file move but BEFORE deleting
    // the side area leaves an EMPTY directory tree: every signature already
    // lives in sigs/, and a bare read of it would fail schema inference and
    // take every screen down (the Similarity.ingestCells guard, same crash)
    def hasData(d: Path): Boolean = fs.listStatus(d).exists(s =>
      (s.isFile && s.getPath.getName.endsWith(".parquet")) ||
        (s.isDirectory && hasData(s.getPath)))
    if (!fs.exists(ing) || !hasData(ing)) main
    else {
      // `b` is LONG: appendBatchSigned writes it from a Long batchId, and
      // declaring INT here would make a batch id above Int.MaxValue parse
      // as a null partition value — the excludeBatch filter would then
      // silently drop every such ingest row from the signature frame
      // (ADVICE r16 fix)
      val side0 = spark.read
        .schema(org.apache.spark.sql.types.StructType(
          dataSchema.add("b", "long") ++ partCols))
        .parquet(ing.toString)
      val side = excludeBatch.fold(side0)(b => side0.filter(col("b") =!= b))
      main.unionByName(side.select(dataCols.map(col): _*))
    }
  }

  /** The LSH candidate pairs `(b_id, c_id)` of a probe frame against the
    * index — the join whose physical shape IS the index's reason to
    * exist: the probe side is broadcast, the join carries the `(band,
    * sb)` partition columns, and the stored signature scan prunes to the
    * probe's buckets via dynamic partition pruning. Public for plan
    * inspection (the spec pins the pruning) and for pair-collecting
    * consumers (component maintenance wants edges, not verdicts).
    * Signatures computed here from the raw text are identical to
    * [[screen]]'s from-sets path — min over the distinct shingle set
    * equals min over the multiset ([[Dedup.minhashSignaturesFromSets]]).
    */
  def candidates(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    val (bands, shingleSize, sigBuckets) = meta(spark, path)
    candidatesFromSigs(spark, path,
      signFrame(batch, idCol, textCol, bands, shingleSize, sigBuckets),
      bands * sigBuckets, excludeBatch)
  }

  /** Above this many touched buckets the probe stops enumerating a static
    * partition filter and scans the grid (at that density it would touch
    * most partitions anyway, and a thousands-deep OR chain only taxes the
    * planner). The cap bounds PLAN size; the collect feeding it is bounded
    * by the grid (`bands × sigBuckets`), never by data volume.
    */
  private val MaxPruneBuckets = 1024

  private def candidatesFromSigs(spark: org.apache.spark.sql.SparkSession,
      path: String, bSigs: DataFrame, fullGrid: Int,
      excludeBatch: Option[Long], maxBucket: Option[Int] = None): DataFrame =
    candidatesJoin(spark, path, bSigs.withColumnRenamed("mh_id", "b_id"),
      Seq("mh_id", "band", "sig", "sb"), fullGrid, excludeBatch, maxBucket)
      .select(col("b_id"), col("c_id")).distinct()

  /** The layout-generic pruned candidate join: the probe's touched
    * `(band, sb)` set is a pure function of its signatures and bounded by
    * the partition grid, so it is collected (bounded, driver-tiny) and
    * pushed as a literal partition filter — STATIC pruning, deterministic
    * unlike the DPP heuristic, which declines when the broadcast side
    * lacks a selective scalar predicate (exactly this shape: the probe is
    * a small in-memory frame).
    *
    * `bSigs` must already carry `b_id` (plus any probe-side verify
    * columns); the stored side's `mh_id` comes back as `c_id` and every
    * other non-key data column gains a `c_` prefix, so a family can carry
    * its verify payload on BOTH sides of the join without a name clash
    * (the phash family's map-side hamming verify, [[PhashIndex]]).
    */
  private[ops] def candidatesJoin(spark: org.apache.spark.sql.SparkSession,
      path: String, bSigs: DataFrame, dataCols: Seq[String], fullGrid: Int,
      excludeBatch: Option[Long], maxBucket: Option[Int] = None): DataFrame = {
    // collecting past min(fullGrid, cap) is pointless: the touched set is
    // bounded by the grid itself, and a probe that reaches every bucket
    // gains nothing from a filter that names every partition
    val pruneCap = math.min(MaxPruneBuckets, fullGrid - 1)
    val touched = bSigs.select(col("band"), col("sb")).distinct()
      .limit(pruneCap + 1).collect()
    val keyCols = Set("mh_id", "band", "sig", "sb")
    val idx0 = signaturesOf(spark, path, dataCols, excludeBatch)
      .withColumnRenamed("mh_id", "c_id")
    val idx = dataCols.filterNot(keyCols)
      .foldLeft(idx0)((d, c) => d.withColumnRenamed(c, s"c_$c"))
    val pruned =
      if (touched.isEmpty) idx.where(lit(false))
      else if (touched.length > pruneCap) {
        // full-grid (or past-cap) probes: a literal filter enumerating
        // every partition is strictly worse than no filter — it taxes the
        // planner and the file-listing without skipping anything (measured
        // on a 5k-probe × 256-bucket grid: git show aab9049:src/main/scala/graft/tools/PhashIndexScaleSmoke.scala)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"index probe touches > $pruneCap buckets; scanning the grid")
        idx
      } else idx.where(
        touched.map(r => col("band") === r.getInt(0) && col("sb") === r.getInt(1))
          .reduce(_ || _))
    // maxBucket (screenAuto's census-derived skew cap): drop candidates
    // from buckets larger than the cap. The bucket count runs over the
    // PRUNED sliver — pruning keeps whole (band, sb) partitions, so every
    // surviving bucket is complete and the windowed count is its TRUE
    // size; the extra window shuffle is over the probe-touched sliver
    // only, and the uncapped (None) plan is byte-identical to before.
    val capped = maxBucket match {
      case None => pruned
      case Some(c) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("sig"))
        pruned.withColumn("__nb", count(lit(1)).over(w))
          .filter(col("__nb") <= c).drop("__nb")
    }
    capped.join(broadcast(bSigs), Seq("band", "sb", "sig"))
  }

  /** Screen a batch against the index: for each batch doc, `is_new` plus
    * the minimum matching corpus id at `threshold` Jaccard — identical
    * semantics (and oracle) to [[Dedup.incrementalDedupPresigned]], but
    * the corpus signatures come from the persisted table and the
    * candidate join prunes to the batch's buckets ([[candidates]]).
    * `corpus` supplies candidate TEXTS for exact verification only — it
    * is touched through one semi-join sliver (never scanned for
    * signing), which is the whole point of the index.
    */
  def screen(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, excludeBatch: Option[Long] = None): DataFrame =
    screenWithScratch(spark, path, corpus, batch, idCol, textCol, threshold,
      excludeBatch)._1

  /** [[screen]] plus the interior checkpointed scratch frames (the batch
    * shingle sets and the candidate join) so a caller that EXECUTES the
    * verdicts can release their blocks explicitly
    * ([[graft.Checkpoints.release]]) instead of waiting for a GC — the
    * per-micro-batch ingest loop's lifetime discipline. The scratch frames
    * are engine-created here (never the caller's `corpus`), so releasing
    * them can't kill a user-owned checkpoint.
    */
  private[graft] def screenWithScratch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      excludeBatch: Option[Long] = None,
      maxBucket: Option[Int] = None): (DataFrame, Seq[DataFrame]) = {
    val (bands, shingleSize, sigBuckets) = meta(spark, path)
    val bSets = Dedup.shingleSets(batch, idCol, textCol, shingleSize)
      .checkpointOwned()
    val bSigs = Dedup.minhashSignaturesFromSets(bSets, bands)
      .withColumn("sb", pmod(col("sig"), lit(sigBuckets.toLong)).cast("int"))
    val cand = candidatesFromSigs(spark, path, bSigs, bands * sigBuckets,
        excludeBatch, maxBucket)
      .checkpointOwned() // consumed twice: corpus-sliver prune + verify join
    // every batch-derived frame here is small BY CONSTRUCTION (screening
    // batches are bounded; pairs only exist inside colliding buckets), so
    // each joins the corpus-sized side as an explicit broadcast: the
    // corpus is never exchanged — it streams once through the semi-join
    // sliver and once through the verify, which is the index's whole
    // cost model at 100 TB
    val cSets = Dedup.shingleSets(
      corpus.join(broadcast(cand.select(col("c_id").as(idCol)).distinct()),
        Seq(idCol), "semi"),
      idCol, textCol, shingleSize)
    val candSets = broadcast(cand.join(
      bSets.select(col("set_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id")))
    val matched = cSets.select(col("set_id").as("c_id"), col("sh").as("sh_c"))
      .join(candSets, Seq("c_id"))
      .filter(round(graft.functions.jaccard_sim(col("sh_b"), col("sh_c")), 4)
        >= threshold)
      .groupBy(col("b_id")).agg(min(col("c_id")).as("match_id"))
    (batch.select(col(idCol)).join(
        broadcast(matched.withColumnRenamed("b_id", idCol)), Seq(idCol), "left")
      .select(col(idCol), col("match_id").isNull.as("is_new"), col("match_id")),
      Seq(bSets, cand))
  }
}
