package graft.streaming

import graft.core.{EventSchema, Ulid}
import graft.log.EventLog
import graft.replay.{EventFilter, Player}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** A projection message: the reference's `projection.Message` envelope —
  * `Meta{name, kind, partition, sequence}` + the event
  * (projection/types.go:165-183), flattened to one row.
  * `meta_kind` ∈ catchup | switch | live; the switch row carries the catchup
  * watermark in `id` and a zero aggregate id (projection/projection.go:220-232).
  */
case class ProjMessage(
    meta_kind: String,
    partition: Int,
    sequence: Long,
    id: String,
    aggregate_id: String,
    aggregate_kind: String,
    kind: String,
    body: String,
    created_at: Timestamp)

/** The projection runtime: catchup → switch → live, with the reference's
  * exactly-once dedup semantics (T1-T6, projection/projection.go +
  * projection/checkpoints.go) restated on Spark:
  *
  *  - **catchup** = ONE bounded batch replay of `(resume, until]` where
  *    `until = now − startOffset` (default 1 min, the overlap window). The
  *    reference's K parallel split workers collapse into Spark tasks — the
  *    `partition` column (`calc_partition(fnv1a32_hash, n)`) is preserved so
  *    checkpoints stay per-partition and bit-compatible.
  *  - **switch** = checkpoint rows `{done, until}` for every partition plus a
  *    control message to the handler.
  *  - **live** = Structured Streaming over the log's file source (new parquet
  *    files appear as the log appends; a broker source mounts behind the same
  *    shape). Late/duplicate rejection (T4): a per-partition monotonic
  *    watermark `(lastId, sequence)` — seeded from the saved checkpoints,
  *    held on the driver, advanced inside each foreachBatch only by rows
  *    actually delivered — rejects `id <= checkpoint.id`, exactly
  *    projection/checkpoints.go:58-92.
  *  - the handler runs inside `foreachBatch` together with the checkpoint
  *    save — the reference's handle+checkpoint-in-one-transaction (T5);
  *    with a transactional table format both writes share one commit.
  */
class Projector(
    val log: EventLog,
    val name: String,
    val statePath: String,
    filter: EventFilter = EventFilter(),
    // one dedup partition per log bucket by default: dedup and sequence
    // assignment parallelize by partition, so the old default of 1 funneled
    // every event through one task — correct, but a throughput ceiling
    // the reference's K split workers never had (projection/projection.go)
    partitions: Int = -1,
    untilOffsetMs: Long = 60000L,
    // how long a live micro-batch waits for an in-flight commit's done-flip
    // before failing loudly (manifest mode; see Projector.resolveUncommitted)
    claimWaitMs: Long = 600000L,
    // every N live micro-batches, fold the append-only checkpoint table back
    // to one row per partition (reader-safe two-phase compact; the projector
    // IS the single writer, so this is the sanctioned call site). 0 = never.
    // Without it a long-running projector accretes one tiny parquet file per
    // micro-batch forever.
    compactEvery: Int = 256) {

  /** Effective dedup/checkpoint parallelism (−1 = follow the log's buckets). */
  val numPartitions: Int = if (partitions > 0) partitions else log.numBuckets

  val spark: SparkSession = log.spark
  val checkpoints = new CheckpointStore(spark, s"$statePath/checkpoints")
  import spark.implicits._

  // ONE source of truth for the ProjMessage projection — batch shaping and
  // the live stream struct must never drift apart field-by-field
  private def shapedCols(metaKind: String): Seq[org.apache.spark.sql.Column] = Seq(
    lit(metaKind).as("meta_kind"),
    graft.functions.calc_partition(col("aggregate_id_hash"), numPartitions).as("partition"),
    lit(0L).as("sequence"),
    col("id"), col("aggregate_id"), col("aggregate_kind"), col("kind"),
    col("body"), col("created_at"))

  private def shaped(df: DataFrame, metaKind: String): Dataset[ProjMessage] =
    df.select(shapedCols(metaKind): _*).as[ProjMessage]

  /** Saved checkpoints are keyed by partition — reopening a projector with
    * a DIFFERENT partition count would silently remap every stream to a
    * different dedup state (fresh partitions start empty → historical
    * re-delivery). The count is recorded as a metadata row at partition 0
    * (`calc_partition` is 1-based, so 0 never collides) and enforced here;
    * pre-metadata checkpoint tables skip the check.
    */
  private def loadChecked(): (Map[Int, Checkpoint], Boolean) = {
    val all = checkpoints.load(name)
    all.get(0).foreach { m =>
      require(m.sequence == numPartitions.toLong,
        s"projector '$name' was checkpointed with ${m.sequence} partitions; " +
          s"this instance uses $numPartitions — construct it with partitions = ${m.sequence}")
    }
    // read-only: the entry points write the partition-count metadata row
    // AFTER this check passes — a load must not be a writer. NOTE the pin is
    // best-effort against concurrent FIRST opens: two projectors first-opened
    // simultaneously with different counts each pass the vacuous check before
    // either pin lands (the parquet KV has no conditional put). First open is
    // a deployment event — serialize it; every REopen fails fast here.
    (all - 0, all.contains(0))
  }

  /** T1+T2: catchup replay then switch. Returns the switch watermark ULID. */
  def catchup(handle: Dataset[ProjMessage] => Unit,
      nowMs: Long = System.currentTimeMillis()): String = {
    val (cps, pinned) = loadChecked()
    // pin the partition count BEFORE the (potentially long) replay, not just
    // in the switch save — a restart mid-catchup must already fail fast on a
    // mismatched count
    if (!pinned)
      checkpoints.save(Seq(Checkpoint(name, 0, "", numPartitions.toLong, done = true)))
    val after = {
      val resumed = cps.values.filterNot(_.done)
      if (cps.isEmpty) ""
      else if (resumed.nonEmpty) resumed.map(_.event_id).min
      else cps.values.map(_.event_id).min
    }
    val until = Ulid.timeMax(nowMs - untilOffsetMs)
    val batch = shaped(new Player(log).replay(after, until, filter), "catchup")
    handle(batch)
    // switch: pin the dedup watermark for every partition (tokens done@until)
    // plus the partition-count metadata row
    checkpoints.save(Checkpoint(name, 0, "", numPartitions.toLong, done = true) +:
      (1 to numPartitions).map(p => Checkpoint(name, p, until, 0L, done = true)))
    val switchMsg = Seq(ProjMessage("switch", 0, 0L, until, "", "", "", "",
      new Timestamp(nowMs))).toDS()
    handle(switchMsg)
    until
  }

  /** T3+T4: live stream with per-partition monotonic dedup. The handler and
    * the checkpoint save share each micro-batch (T5). `trigger` reproduces
    * the reference's poller cadence when set (S13: 200 ms default there);
    * None = as-fast-as-possible micro-batches.
    *
    * The read-committed gate runs BEFORE the dedup watermark can advance:
    * each micro-batch first resolves its source files against the claim
    * chain (deliver / drop condemned / wait on pending), and only rows that
    * actually reach the handler move the per-partition `(lastId, sequence)`
    * watermark — which lives on the driver, seeded from the checkpoint
    * table, and is saved in the same foreachBatch as the handler call (T5).
    * The former in-stream `flatMapGroupsWithState` advanced its state before
    * the gate dropped condemned rows, so a condemned row minted by a
    * clock-skewed-ahead writer would swallow its own legitimate redelivery
    * (the re-appended copy carries fresh — lower — ULIDs) — silent loss.
    */
  def live(handle: Dataset[ProjMessage] => Unit,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): StreamingQuery = {
    val (cps, pinned) = loadChecked()
    // pin the partition count on a live()-first open (catchup pins via its
    // switch save): a later restart under a different bucket count must
    // fail fast, not silently remap streams to fresh dedup partitions
    if (!pinned)
      checkpoints.save(Seq(Checkpoint(name, 0, "", numPartitions.toLong, done = true)))
    val watermarks = scala.collection.mutable.Map.empty[Int, (String, Long)]
    cps.foreach { case (p, c) => watermarks.put(p, (c.event_id, c.sequence)): Unit }

    // Each row carries its source file so foreachBatch can hold back rows of
    // claims whose commit has not flipped `done` yet (manifest mode): the
    // file stream lists a claim's staged `c{N}-` files the moment the writer
    // moves them into the buckets, which precedes markDone. Delivering them
    // early is only safe when the commit completes — if the writer crashes,
    // prune deletes those files and the redelivered batch re-appends with
    // FRESH (strictly higher) ULIDs, so the early rows and the replacement
    // rows are different ids and the monotonic dedup passes both: a
    // double-delivery. Resolution happens per micro-batch, driver-side (see
    // resolveUncommitted); in Lock mode files carry no token and the column
    // stays empty end-to-end.
    val src = spark.readStream
      .schema(EventSchema.events)
      // a rewrite (lock-mode overwrite, manifest GC) may delete a listed
      // file before the batch's tasks read it — that is the gate's
      // "superseded outright" case, not an error: the surviving ids arrive
      // via the successor file and the watermark only advances on delivered
      // rows. Without this, the task fails the whole stream with
      // FAILED_READ_FILE on a perfectly ordinary mid-batch rewrite.
      .option("ignoreMissingFiles", "true")
      .parquet(s"${log.path}/events/bucket=*")
      .filter(col("migration") === 0 && filter.toColumn)
      .withColumn("__file", input_file_name())

    val shapedLive = src.select(
      col("__file").as("_1"),
      struct(shapedCols("live"): _*).as("_2"))
      .as[(String, ProjMessage)]

    val cpStore = checkpoints
    val projName = name
    val theLog = log
    val waitMs = claimWaitMs
    val compactN = compactEvery
    var batchesSinceCompact = 0
    val writer0 = shapedLive.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$statePath/stream_checkpoint")
    val writer = trigger.fold(writer0)(writer0.trigger)
    writer
      .foreachBatch { (batch: Dataset[(String, ProjMessage)], _: Long) =>
        val b0 = batch.persist()
        var ranked: DataFrame = null // file-dedup frame; cached across the tie re-probe loop
        try {
          val files = b0.select(col("_1")).distinct().as[String].collect().toSeq
          val drop = Projector.resolveUncommitted(theLog, files, waitMs)
          // a batch can still carry the SAME event twice under one id: a
          // lock-mode rewrite (compact/forget/migrate) briefly leaves the
          // old file and its rewritten copy side by side, then the
          // overwrite deletes the old file. The watermark filter below
          // compares every row against the PRE-batch watermark, so equal
          // ids would all pass — and an arbitrary pick (dropDuplicates)
          // could hand the PRE-forget body to the handler. Instead:
          // newest-EXISTING-file wins. Rows whose source file is already
          // gone are superseded outright — their surviving ids arrive via
          // the successor file (this batch or a later one; the watermark
          // only advances on delivered rows, so nothing is lost) — and
          // among coexisting copies the youngest file is the committed one.
          //
          // An mtime TIE between coexisting copies (coarse fs granularity
          // mid-rewrite) cannot be broken by name — part-file UUIDs are
          // random, so a lexical tie-break would hand the pre-rewrite body
          // to the handler about half the time. The rewrite deletes the old
          // copy promptly, so re-probe until existence disambiguates; a tie
          // outliving the deadline is a crashed rewrite's leftover — fail
          // loudly, never guess.
          val kept = if (drop.isEmpty) b0
            else b0.filter(!col("_1").isin(drop.toSeq: _*))
          val wDup = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_2.id"))
            .orderBy(col("__mtime").desc, col("_1").desc)
          var flat: DataFrame = null
          val tieDeadline = System.currentTimeMillis() + waitMs
          while (flat == null) {
            val meta = Projector.fileMeta(theLog, files.filterNot(drop.contains))
            val metaDF = meta.toDF("_1", "__live", "__mtime")
            ranked = kept
              .join(broadcast(metaDF), Seq("_1"), "left")
              .filter(col("__live"))
              .withColumn("__rk", row_number().over(wDup))
              .withColumn("__mt2", lead(col("__mtime"), 1).over(wDup))
              .withColumn("__f2", lead(col("_1"), 1).over(wDup))
              .persist()
            val ties = ranked
              .filter(col("__rk") === 1 && col("__mt2") === col("__mtime") &&
                col("__f2") =!= col("_1"))
              .select(col("_2.id"), col("_1"), col("__f2"))
              .limit(3).collect()
            if (ties.isEmpty) flat = ranked.filter(col("__rk") === 1).select(col("_2.*"))
            else {
              ranked.unpersist(); ranked = null
              if (System.currentTimeMillis() > tieDeadline)
                throw new IllegalStateException(
                  "coexisting copies of the same event id with identical " +
                    "mtimes cannot be ordered — crashed rewrite leftover? " +
                    ties.map(r => s"id ${r.getString(0)}: ${r.getString(1)} vs ${r.getString(2)}")
                      .mkString("; ") + " — delete the stale copy and restart")
              Thread.sleep(100)
            }
          }
          // monotonic dedup + bus-sequence assignment against the driver
          // watermark (numPartitions tiny rows — broadcast): survivors get
          // the per-partition sequence the reference's live consumers carry
          // (projection/checkpoints.go:58-92 rejects on BOTH id ≤
          // checkpoint.id and seq ≤ checkpoint.seq); continuity restores
          // from the checkpoint table on restart
          val wmDF = watermarks.toSeq.map { case (p, (id, sq)) => (p, id, sq) }
            .toDF("partition", "__wm_id", "__wm_seq")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("partition")).orderBy(col("id"))
          val b = flat
            .join(broadcast(wmDF), Seq("partition"), "left")
            .filter(col("id") > coalesce(col("__wm_id"), lit("")))
            .withColumn("sequence",
              coalesce(col("__wm_seq"), lit(0L)) + row_number().over(w).cast("long"))
            .select(col("meta_kind"), col("partition"), col("sequence"),
              col("id"), col("aggregate_id"), col("aggregate_kind"), col("kind"),
              col("body"), col("created_at"))
            .as[ProjMessage].persist()
          try {
            handle(b)
            val tokens = b.groupBy(col("partition"))
              .agg(max(col("id")).as("event_id"), max(col("sequence")).as("sequence"))
              .collect()
              .map(r => Checkpoint(projName, r.getInt(0), r.getString(1), r.getLong(2), done = true))
            cpStore.save(tokens.toSeq)
            // advance only by what was DELIVERED — dropped condemned rows
            // leave the watermark untouched, so their redelivered
            // replacements (whatever their ULIDs) still pass the gate
            tokens.foreach(t =>
              watermarks.put(t.partition, (t.event_id, t.sequence)): Unit)
            batchesSinceCompact += 1
            if (compactN > 0 && batchesSinceCompact >= compactN) {
              batchesSinceCompact = 0
              cpStore.compact()
            }
          } finally { b.unpersist(); () }
        } finally {
          if (ranked != null) { ranked.unpersist(); () }
          b0.unpersist(); ()
        }
      }
      .start()
  }
}

object Projector {
  /** Driver-side existence + mtime snapshot for a micro-batch's source
    * files (batch-sized, bounded by the source's maxFilesPerTrigger). Lock
    * mode runs on local/HDFS schemes where mtimes are real; manifest mode
    * has its own claim-based resolution and uses this only as a backstop.
    *
    * ONE `listStatus` per touched directory, not one `getFileStatus` per
    * file: a micro-batch's files cluster into O(numBuckets) bucket dirs,
    * and a LIST returns existence + mtime for every sibling in one call —
    * on an object store that is O(buckets) round-trips instead of N serial
    * HEADs on the driver per micro-batch.
    */
  private[streaming] def fileMeta(log: EventLog,
      files: Seq[String]): Seq[(String, Boolean, Long)] = {
    val conf = log.spark.sessionState.newHadoopConf()
    files.groupBy(f => f.substring(0, f.lastIndexOf('/'))).iterator
      .flatMap { case (dirStr, group) =>
        val dp = new org.apache.hadoop.fs.Path(dirStr)
        val listed: Map[String, Long] =
          try dp.getFileSystem(conf).listStatus(dp).iterator
            .map(s => s.getPath.getName -> s.getModificationTime).toMap
          catch { case _: java.io.FileNotFoundException => Map.empty }
        group.map { fpath =>
          val name = fpath.substring(fpath.lastIndexOf('/') + 1)
          (fpath, listed.contains(name), listed.getOrElse(name, 0L))
        }
      }.toSeq
  }

  /** Read-committed gate for the live file stream (manifest mode): decide,
    * per source FILE of a micro-batch, whether its rows may be delivered.
    *
    *  - token file of a DONE claim → deliver;
    *  - token file of a PENDING claim → the commit is mid-flight (the
    *    move-then-markDone gap is sub-second) — poll until it resolves;
    *    a writer that died pending wedges delivery until `manifest.prune`
    *    condemns it, which is the honest read-committed outcome (the rows'
    *    fate is undecided until then). `waitMs` bounds the poll: on timeout
    *    the stream FAILS — loud, never silent double-delivery;
    *  - token file with NO claim on disk → the claim was pruned; committed
    *    data files survive prune (deliver) while a condemned claim's staged
    *    files are deleted by it, so a vanished file means drop. The dedup
    *    state never advanced past dropped ids (the watermark moves only with
    *    delivered rows), so the re-appended batch passes whatever its ULIDs;
    *  - file on a done rewrite claim's `replaced` list → drop: its rewritten
    *    copy (same ids, possibly scrubbed bodies) is the committed version —
    *    exactly the batch readers' committedView exclusion, without which a
    *    fresh projector in the pre-gcReplaced window would deliver both
    *    copies (and could hand a forgotten body to the handler);
    *  - tokenless file (Lock mode / pre-manifest history) → deliver.
    *
    * Returns the file names whose rows must be dropped from the batch.
    */
  private[streaming] def resolveUncommitted(log: EventLog, files: Seq[String],
      waitMs: Long): Set[String] = {
    if (log.commitMode != graft.log.CommitMode.Manifest || files.isEmpty)
      return Set.empty
    val tokened = files.flatMap(f => graft.log.ManifestCommitLog.tokenClaim(f).map(f -> _))
    val conf = log.spark.sessionState.newHadoopConf()
    val dropped = scala.collection.mutable.Set.empty[String]
    var unresolved = tokened
    val deadline = System.currentTimeMillis() + waitMs
    while (unresolved.nonEmpty) {
      unresolved = unresolved.filter { case (file, n) =>
        log.manifest.status(n) match {
          case Some(true) => false // committed → deliver
          case Some(false) => true // pending → poll
          case None =>
            val hp = new org.apache.hadoop.fs.Path(file)
            if (!hp.getFileSystem(conf).exists(hp)) dropped += file
            false // pruned: data survived = committed; file gone = condemned
        }
      }
      if (unresolved.nonEmpty) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"claims ${unresolved.map(_._2).distinct.sorted.mkString(",")} still " +
              s"pending after ${waitMs} ms — crashed writer? run manifest.prune " +
              "to condemn it, then restart the projector")
        Thread.sleep(100)
      }
    }
    // Replaced-file exclusion AFTER the poll: a rewrite that flipped done
    // while this batch waited must drop its old files in this same batch
    // (same ids, possibly scrubbed bodies — the replaced set taken at entry
    // would miss it). The exclusion itself is shared with the batch
    // readers' committedView (manifest.replacedRelnames) so the two can
    // never drift. The LIST here is unconditional, one per micro-batch: a
    // cached chain — even seconds old — reopens a cross-batch window where
    // a just-flipped rewrite's OLD copy is delivered alone in this batch
    // (advancing the watermark past its ids) and the rewritten copy arrives
    // in a later batch only to be watermark-filtered; the newest-existing-
    // file dedup in live() can only backstop copies that share one batch.
    log.manifest.claims(): Unit
    val replacedRel = log.manifest.replacedRelnames()
    dropped.toSet ++ files.filter(f =>
      replacedRel.contains(graft.log.ManifestCommitLog.relname(f)))
  }
}
