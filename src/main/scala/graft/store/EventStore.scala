package graft.store

import graft.codec.Codec
import graft.core.{EventRow, SnapshotRow, Ulid}
import graft.log.{AppendRecord, EventDetail, EventLog}
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Domain contract: how to fold events of one aggregate kind into state.
  * The Spark counterpart of the reference's handler registry
  * (rootaggregate.go:54-103) — a pattern-match fold instead of reflection.
  */
trait AggregateType[T] extends Serializable {
  def kind: String
  def empty: T
  /** Fold one (event kind, JSON body) into the state. */
  def fold(state: T, eventKind: String, body: String): T
  def encodeState(state: T): String
  def decodeState(body: String): T
}

case class Retrieved[T](state: T, version: Int, eventsSinceSnapshot: Int)

class UnknownAggregateException(id: String)
  extends RuntimeException(s"unknown aggregate id: $id")

/** Aggregate read-modify-write API over the event log, reproducing the
  * reference lifecycle (eventstore.go:230-403): retrieve = snapshot +
  * ordered tail fold; save = optimistic append with monotonic ULIDs; a
  * snapshot is written when `eventsSinceSnapshot + new >= snapshotThreshold`.
  */
class EventStore[T](
    val log: EventLog,
    val agg: AggregateType[T],
    val codec: Codec = new Codec,
    val snapshotThreshold: Int = 0,
    discriminator: Map[String, String] = Map.empty) {

  private val spark = log.spark
  import spark.implicits._

  /** Create a stream: append the first events (expected version 0).
    * `callDiscriminator` merges over the store-level discriminator — the
    * repo-config + per-call-context merge of the reference
    * (store/store.go:195-228); the log then filters to allowed keys.
    */
  def create(aggregateId: String, events: Seq[EventDetail],
      nowMs: => Long = System.currentTimeMillis(),
      callDiscriminator: Map[String, String] = Map.empty): Unit =
    save(aggregateId, 0, events, nowMs, callDisc = callDiscriminator)

  /** As-of (time-travel) read: the aggregate's state at `asOfMs` — the fold
    * of the stream's events whose ULID time component is ≤ the instant. The
    * log IS the history, so temporal reads are a filtered fold; the id
    * bound pushes to parquet (ULID order == time order), no snapshot is
    * consulted (snapshots may postdate the instant).
    */
  def retrieveAt(aggregateId: String, asOfMs: Long): Retrieved[T] = {
    val rows = log.collectStream(aggregateId, untilId = graft.core.Ulid.timeMax(asOfMs))
    if (rows.isEmpty) throw new UnknownAggregateException(aggregateId)
    var state = agg.empty
    var version = 0
    rows.foreach { r =>
      val (k, b) = codec.upcastJson(r.getString(0), r.getString(1))
      state = agg.fold(state, k, b)
      version = r.getInt(2)
    }
    Retrieved(state, version, rows.length)
  }

  /** As-of rehydration of EVERY stream: same distributed fold as
    * `rehydrateAll`, bounded by the ULID time bound.
    */
  def rehydrateAllAt(asOfMs: Long)(implicit e: Encoder[(String, T)]): Dataset[(String, T)] = {
    val bound = graft.core.Ulid.timeMax(asOfMs)
    val codecB = codec
    val aggB = agg
    log.activeEvents
      .filter(col("aggregate_kind") === agg.kind && col("id") <= bound)
      .select("aggregate_id", "aggregate_version", "kind", "body")
      .as[(String, Int, String, String)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("aggregate_version")) { (id, it) =>
        var state = aggB.empty
        var any = false
        it.foreach { case (_, _, k0, b0) =>
          val (k, b) = codecB.upcastJson(k0, b0)
          state = aggB.fold(state, k, b)
          any = true
        }
        if (any) Iterator((id, state)) else Iterator.empty
      }
  }

  /** Point read of one aggregate: latest snapshot (S2) + active tail events
    * (S1) folded in version order, with decode-time upcasting (M3). Without
    * a snapshot on disk this is ONE Spark job with no shuffle: the tail is
    * collected unsorted and ordered on the driver ([[EventLog.collectStream]]).
    */
  def retrieve(aggregateId: String): Retrieved[T] = {
    val snap = log.latestSnapshot(aggregateId)
    val (base, snapVersion) = snap match {
      case Some(s) => (agg.decodeState(s.body), s.aggregate_version)
      case None => (agg.empty, 0)
    }
    val tail = log.collectStream(aggregateId, snapVersion)
    if (snap.isEmpty && tail.isEmpty) throw new UnknownAggregateException(aggregateId)
    var state = base
    var version = snapVersion
    tail.foreach { r =>
      val (k, b) = codec.upcastJson(r.getString(0), r.getString(1))
      state = agg.fold(state, k, b)
      version = r.getInt(2)
    }
    Retrieved(state, version, tail.length)
  }

  /** Read-modify-write: fold current state, let `mutate` emit new events,
    * append them at the stream's current version (optimistic), snapshot if
    * over threshold. Returns the new version.
    */
  def update(aggregateId: String)(mutate: T => Seq[EventDetail],
      nowMs: => Long = System.currentTimeMillis(),
      callDiscriminator: Map[String, String] = Map.empty): Int = {
    val cur = retrieve(aggregateId)
    val events = mutate(cur.state)
    if (events.isEmpty) cur.version
    else save(aggregateId, cur.version, events, nowMs, Some(cur), callDiscriminator)
  }

  private def save(aggregateId: String, baseVersion: Int, events: Seq[EventDetail],
      nowMs: Long, retrieved: Option[Retrieved[T]] = None,
      callDisc: Map[String, String] = Map.empty): Int = {
    val ids = log.append(Seq(AppendRecord(
      aggregateId, agg.kind, baseVersion, discriminator ++ callDisc, events)), nowMs)
    val newVersion = baseVersion + events.size
    maybeSnapshot(aggregateId, ids.last, newVersion, events, retrieved, nowMs)
    newVersion
  }

  /** Snapshot threshold logic (eventstore.go:381-400): count events since the
    * last snapshot; if `pending + new >= threshold`, fold forward and persist
    * the state alongside the last event's id/version.
    */
  private def maybeSnapshot(aggregateId: String, lastId: String, newVersion: Int,
      newEvents: Seq[EventDetail], retrieved: Option[Retrieved[T]], nowMs: Long): Unit = {
    if (snapshotThreshold <= 0) return
    // `retrieved` is the pre-append read (update path); on the create path the
    // stream didn't exist before this append, so the pre-state is empty.
    val pre = retrieved.getOrElse(Retrieved(agg.empty, 0, 0))
    // `pre` was taken before this append, so its tail counter excludes newEvents.
    if (pre.eventsSinceSnapshot + newEvents.size >= snapshotThreshold) {
      var state = pre.state
      newEvents.foreach { d =>
        val (k, b) = codec.upcastJson(d.kind, d.body)
        state = agg.fold(state, k, b)
      }
      log.saveSnapshot(SnapshotRow(lastId, aggregateId, newVersion, agg.kind,
        agg.encodeState(state), new Timestamp(nowMs), discriminator))
    }
  }

  /** M1 Forget/GDPR: scrub payload fields of one stream (events of the given
    * kinds + all its snapshots) via user JSON rewrites. Event count and
    * versions are untouched (eventstore.go:405-432).
    */
  def forget(aggregateId: String, eventKinds: Set[String])(
      scrubEvent: String => String, scrubSnapshot: String => String): Unit =
    log.forget(aggregateId, eventKinds, scrubEvent, scrubSnapshot)

  /** M2 migration: rewrite every stream containing `targetKinds` via
    * `handler`, then snapshot the migrated streams that cross the threshold
    * under the NEW aggregate type (eventstore.go:434-454). Snapshot folds
    * run on executors and land in ONE bucketed write — a driver loop of
    * per-stream saveSnapshot jobs would undo the distributed rewrite at
    * 10⁶+ migrated streams.
    *
    * SMALL-STREAM-COUNT COMPAT API: the return value is a driver-side Seq
    * (the reference's per-stream outcome list), so it is guarded by
    * `graft.migrate.collectMax` (default 100000 streams) — crossing the cap
    * aborts the COLLECT, not the migration (the rewrite and snapshots above
    * are already committed), with an error naming the scale path. Backfill
    * migrations call `log.migrateDistributed` directly and keep the outcome
    * frame distributed.
    */
  def migrate[S](revision: Int, targetKinds: Set[String], newAgg: AggregateType[S],
      newCodec: Codec = new Codec)(handler: Seq[EventRow] => Option[Seq[EventDetail]],
      nowMs: => Long = System.currentTimeMillis()): Seq[graft.log.MigratedStream] = {
    val t = nowMs
    val migrated = log.migrateDistributed(revision, targetKinds, handler, t)
    if (snapshotThreshold > 0) {
      val thr = snapshotThreshold
      val agg2 = newAgg
      val codec2 = newCodec
      val snaps = migrated
        .filter(_.details.size >= thr)
        .map { m =>
          var state = agg2.empty
          m.details.foreach { d =>
            val (k, b) = codec2.upcastJson(d.kind, d.body)
            state = agg2.fold(state, k, b)
          }
          SnapshotRow(m.lastEventId, m.aggregateId, m.lastVersion,
            agg2.kind, agg2.encodeState(state), new Timestamp(t), m.discriminator)
        }
      log.saveSnapshots(snaps.toDF())
    }
    graft.log.EventLog.collectMigrated(migrated, "EventStore.migrate")
  }

  /** M4 consistent-projection rebuild: optionally fence every stream with a
    * `NoOp` (so writers racing the rebuild fail their optimistic append),
    * then fold all streams into the read model in one distributed pass
    * (store/postgresql/projection_migration.go:44-149 restated; under pure
    * batch isolation the fence is optional — Spark jobs see a stable
    * snapshot of the log's files).
    */
  def rebuildProjection(fence: Boolean = false)(implicit e: Encoder[(String, T)]): Dataset[(String, T)] = {
    if (fence) log.appendNoOpFences(agg.kind)
    // stitched: identical to the raw fold on a full log, and the only
    // correct rebuild after snapshot-covered retention pruned prefixes
    rehydrateAllStitched()
  }

  /** Snapshot-stitched rehydration of EVERY stream: the distributed form of
    * `retrieve` — latest snapshot per stream full-outer-joined with its
    * active tail (version > snapshot's), folded per key from the decoded
    * snapshot state. Equals [[rehydrateAll]] on an unpruned log; it is the
    * REQUIRED form after [[graft.log.EventLog.pruneSnapshotted]] retention
    * (the pruned prefix lives only in the snapshot), and the cheaper form
    * whenever snapshots exist — the fold touches tails, not full history
    * (the j3 snapshot-stitch shape, distributed).
    */
  def rehydrateAllStitched()(implicit e: Encoder[(String, T)]): Dataset[(String, T)] = {
    val codecB = codec
    val aggB = agg
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("aggregate_id")).orderBy(col("id").desc)
    val snaps = log.snapshots
      .filter(col("aggregate_kind") === agg.kind)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("aggregate_id"),
        col("aggregate_version").as("snap_version"), col("body").as("snap_body"))
    val tail = log.activeEvents
      .filter(col("aggregate_kind") === agg.kind)
      .select(col("aggregate_id"), col("aggregate_version"), col("kind"), col("body"))
    // One SEED row per snapshotted stream plus its strictly-newer tail —
    // NOT a join-then-filter of the tail alone: a snapshot at the stream
    // head (the normal case after retention pruning) has no newer events,
    // and filtering matched rows away would drop the stream entirely. The
    // seed sorts first inside each group (its sort key is the snapshot
    // version; every kept tail row is newer).
    val seedRows = snaps.select(col("aggregate_id"),
      col("snap_version").as("aggregate_version"),
      lit(null).cast("string").as("kind"), lit(null).cast("string").as("body"),
      col("snap_body"))
    val tailRows = tail
      .join(snaps.select(col("aggregate_id"), col("snap_version")),
        Seq("aggregate_id"), "left")
      .filter(col("snap_version").isNull ||
        col("aggregate_version") > col("snap_version"))
      .select(col("aggregate_id"), col("aggregate_version"), col("kind"),
        col("body"), lit(null).cast("string").as("snap_body"))
    seedRows.unionByName(tailRows)
      .as[(String, Int, String, String, String)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("aggregate_version")) { (id, it) =>
        var state = aggB.empty
        var any = false
        it.foreach { case (_, _, k0, b0, snapBody) =>
          if (snapBody != null) state = aggB.decodeState(snapBody)
          else if (k0 != null) {
            val (k, b) = codecB.upcastJson(k0, b0)
            state = aggB.fold(state, k, b)
          }
          any = true
        }
        if (any) Iterator((id, state)) else Iterator.empty
      }
  }

  /** A1 at scale: rehydrate EVERY stream of this aggregate kind in one
    * distributed pass — sorted per-key iterator fold inside `flatMapGroups`
    * (no `collect_list` materialization; Spark's group sort spills). One
    * shuffle on the stream key; with the log bucketed by hash the shuffle
    * is the only wide stage. Folds the FULL event history from empty state:
    * on a log pruned by snapshot-covered retention use
    * [[rehydrateAllStitched]] instead.
    */
  def rehydrateAll()(implicit e: Encoder[(String, T)]): Dataset[(String, T)] = {
    val codecB = codec
    val aggB = agg
    log.activeEvents
      .filter(col("aggregate_kind") === agg.kind)
      .select("aggregate_id", "aggregate_version", "kind", "body")
      .as[(String, Int, String, String)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("aggregate_version")) { (id, it) =>
        var state = aggB.empty
        var any = false
        it.foreach { case (_, _, k0, b0) =>
          val (k, b) = codecB.upcastJson(k0, b0)
          state = aggB.fold(state, k, b)
          any = true
        }
        if (any) Iterator((id, state)) else Iterator.empty
      }
  }
}
