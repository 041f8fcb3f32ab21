package graft.log

import graft.Checkpoints.Ownable
import graft.Checkpoints
import graft.core.{CreateIfAbsent, EventSchema, EventRow, SnapshotRow, Ulid}
import graft.functions.Fnv1a32
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, DataFrameWriter, Dataset, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One event payload inside an append transaction. */
case class EventDetail(kind: String, body: String)

/** A write-side record: all events of one transaction for one aggregate
  * (reference: EventRecord, eventstore.go:137-149).
  */
case class AppendRecord(
    aggregateId: String,
    aggregateKind: String,
    expectedVersion: Int, // optimistic-concurrency base: current max version of the stream
    discriminator: Map[String, String],
    details: Seq[EventDetail])

class ConcurrentModificationException(msg: String) extends RuntimeException(msg)

/** Discriminator governance, the reference's `DiscriminatorMerge` pipeline
  * verbatim (store/store.go:195-228; options `WithDiscriminatorKeys` /
  * `WithDiscriminator` / `WithDiscriminatorHook`,
  * store/postgresql/store.go:74-96): the per-call discriminator passes
  * through the optional hook (which sees the call values and the operation
  * kind, and may replace or extend them), is merged over the repo-root
  * discriminator (call/hook wins on conflicts), and is then filtered to the
  * declared key allow-list — with the reference's strict rule that NO
  * declared keys means NO discriminator is stored at all (`filterOut`,
  * store/store.go:213-228).
  */
case class DiscriminatorPolicy(
    allowedKeys: Set[String] = Set.empty,
    root: Map[String, String] = Map.empty,
    hook: Option[DiscriminatorPolicy.Hook] = None) {
  def merge(callDisc: Map[String, String], kind: String): Map[String, String] = {
    val hooked = hook.fold(callDisc)(h => h(callDisc, kind))
    val merged = root ++ hooked
    if (allowedKeys.isEmpty) Map.empty
    else merged.view.filterKeys(allowedKeys.contains).toMap
  }
}

object DiscriminatorPolicy {
  /** (call discriminator, operation kind) → discriminator to use. */
  type Hook = (Map[String, String], String) => Map[String, String]
  /** Hook kinds (store/store.go:40-41). */
  val OnPersist = "persist"
  val OnRetrieve = "retrieve"
}

/** How writers exclude each other (reads are identical in both modes):
  *  - [[CommitMode.Lock]]: the single-writer lock-file section — correct on
  *    POSIX/HDFS, where its stale-lock break is an exclusive take;
  *  - [[CommitMode.Manifest]]: the [[ManifestCommitLog]] claim chain — the
  *    object-store-safe protocol. Both rest on one primitive, atomic
  *    create-if-absent ([[graft.core.CreateIfAbsent]]).
  *
  * Every write — the appends (`append`, `bulkImport`, `appendBulk`,
  * `appendNoOpFences`), the rewrites and migration — commits through one
  * section in [[EventLog]], the only place a write branches on the mode.
  * An append that cannot commit either skips or refuses: a skip is a
  * successful no-op returning 0 (a redelivered `appendBulk` batch whose
  * ledger mark is committed), a refusal is
  * [[ConcurrentModificationException]] (a lost optimistic check, or a
  * `bulkImport` stream that already exists or is reserved). Ledger rule:
  * Lock mode writes the ingest ledger file inside the lock after the data;
  * Manifest mode also carries the mark on the claim, so the dedup and the
  * commit share the claim's done-flip.
  *
  * Lock stays the default by measurement: on the `serve` benchmark (4
  * cores, 5 alternating untraced pairs, seeds 51–55, the default switched
  * on a scratch copy), medians with quartiles, Lock → Manifest: `ops_per_s`
  * 8.52 (8.46–8.70) → 7.37 (7.33–7.42), `latency_ms` 518 (511–534) → 632
  * (627–634), `cpu_ms_per_op` 375 (367–384) → 469 (467–473), `setup_s`
  * 6.94 (6.79–6.96) → 7.41 (7.13–7.77); Lock was better in 5 of 5 pairs on
  * the first three, 0 failed operations on either side.
  */
sealed trait CommitMode
object CommitMode {
  case object Lock extends CommitMode
  case object Manifest extends CommitMode
}

/** Executor-side plan of one stream's migration: handler output plus the
  * minted replacement rows (fence first, copies after).
  */
case class MigrationPlan(
    aggregateId: String,
    aggregateKind: String,
    discriminator: Map[String, String],
    maxVersion: Int,
    details: Seq[EventDetail],
    rows: Seq[EventRow])

/** Per-bucket physical footprint (maintenance telemetry). */
case class BucketStat(bucket: Int, files: Int, bytes: Long)

/** Operational snapshot of the log's physical state — what a maintenance
  * scheduler consumes to decide WHEN to compact (file counts per bucket are
  * the small-files signal), gc (replaced files awaiting delete) and prune
  * the commit chain (claim counts).
  */
case class LogStats(
    events: Seq[BucketStat],
    snapshots: Seq[BucketStat],
    pendingClaims: Int,
    doneClaims: Int,
    replacedAwaitingGc: Int) {
  def eventFiles: Int = events.map(_.files).sum
  def eventBytes: Long = events.map(_.bytes).sum
  def maxFilesPerBucket: Int = (0 +: events.map(_.files)).max
}

/** Output-file clustering for [[EventLog.compact]] — how a rewritten
  * bucket's rows arrange into files, which decides what later scans can
  * SKIP via parquet min/max stats.
  */
sealed trait CompactionLayout
object CompactionLayout {
  /** Default: files sorted by event id (ULID) — optimal for id-range scans
    * (time is the ULID prefix), the log's dominant access path.
    */
  case object IdSort extends CompactionLayout

  /** Z-order clustering: files cover compact Morton intervals of `dims`, so
    * a box predicate over ALL the interleaved dimensions prunes at once —
    * the layout for workloads that mix time-range scans WITH per-stream or
    * attribute slices (Delta/Iceberg `OPTIMIZE ZORDER BY`, re-expressed
    * over [[graft.ops.Layout.zorderRepartition]]'s per-group form, one
    * group per bucket). `dims` must already be
    * integers in `[0, 2^bitsPerDim)` — scale with [[graft.ops.Layout.scaleTo]]
    * / `pmod` (e.g. `ulid_millis(col("id"))` scaled to the log's time range,
    * `pmod(fnv1a32(col("aggregate_id")), 1 << bits)`). `filesPerBucket`
    * bounds the z-granularity of each bucket rewrite.
    */
  final case class ZOrder(dims: Seq[org.apache.spark.sql.Column],
      bitsPerDim: Int = 16, filesPerBucket: Int = 8) extends CompactionLayout
}

/** Result of migrating one stream: its new head after the rewrite. */
case class MigratedStream(
    aggregateId: String,
    lastVersion: Int,
    lastEventId: String,
    details: Seq[EventDetail],
    discriminator: Map[String, String])

/** The global append-only event log over bucketed Parquet.
  *
  * Layout: `<path>/events/bucket=N/…` with `bucket = pmod(fnv1a32(aggregate_id),
  * numBuckets)` and files written in `id` (ULID) order, so
  *  - point scans of one stream prune to a single bucket directory,
  *  - global `(after, until]` range scans skip whole files via Parquet min/max
  *    stats on the lexicographically time-ordered `id`,
  *  - downstream `groupBy(aggregate_id)` folds shuffle at most once, and the
  *    bucket column gives catchup workers their split selector for free.
  *
  * Mutation semantics mirror the reference: append-only except Forget (in-place
  * body scrub, M1), Migration (flag rows inactive + append replacements, M2)
  * and snapshot inserts — all implemented as copy-on-write rewrites of ONLY the
  * affected bucket partitions (dynamic partition overwrite), never the full
  * table. Optimistic concurrency (the reference's UNIQUE(aggregate_id,
  * aggregate_version) index, store/postgresql/store.go:702) is enforced by a
  * per-log single-writer commit section that validates the stream's max version
  * before committing; a lost race surfaces as ConcurrentModificationException
  * (eventstore.go:21).
  */
class EventLog(
    val spark: SparkSession,
    val path: String,
    val numBuckets: Int = 32,
    discriminatorKeys: Set[String] = Set.empty,
    ulidSeed: Option[Long] = None,
    val commitMode: CommitMode = CommitMode.Lock,
    val discriminatorPolicy: Option[DiscriminatorPolicy] = None) {

  import EventLog._

  private val eventsPath = s"$path/events"
  private val snapshotsPath = s"$path/snapshots"
  private val gen = new Ulid.Generator(seed = ulidSeed)

  /** Declared discriminator keys (ctor allow-list ∪ policy allow-list).
    * Each is materialized as a top-level `disc_<key>` string column on every
    * event/snapshot write — the Spark restatement of the reference's
    * physical per-key columns + indexes (store/postgresql/store.go:712-726)
    * — so tenant-scoped scans filter on a plain pushable column instead of
    * decoding the `MAP` for every row of a 100 TB log. Files written before
    * a key was declared lack the column and read as null; every filter site
    * keeps the map predicate as the source of truth and uses the column
    * only as the parquet-pushable pruning twin, so old data stays correct
    * (just unpruned until the next compaction rewrites it).
    */
  val declaredDiscKeys: Seq[String] =
    (discriminatorKeys ++ discriminatorPolicy.fold(Set.empty[String])(_.allowedKeys))
      .toSeq.sorted
  declaredDiscKeys.foreach(k => require(k.matches("[A-Za-z][A-Za-z0-9_]*"),
    s"declared discriminator key '$k' must be identifier-safe ([A-Za-z][A-Za-z0-9_]*) " +
      "to materialize as a disc_ column"))

  private val evSchema = EventSchema.withDiscColumns(EventSchema.events, declaredDiscKeys)
  private val snSchema = EventSchema.withDiscColumns(EventSchema.snapshots, declaredDiscKeys)

  /** Write-side half of the materialization: derive any missing `disc_<key>`
    * column from the map. Idempotent — rewrite paths whose input already
    * carries the columns pass through unchanged.
    */
  private def ensureDiscCols(df: DataFrame): DataFrame =
    declaredDiscKeys.foldLeft(df) { (d, k) =>
      if (d.columns.contains(EventSchema.discColName(k))) d
      else d.withColumn(EventSchema.discColName(k), element_at(col("discriminator"), lit(k)))
    }

  /** Labels one step of a maintenance protocol: [[EventLog.crashHook]] sees
    * the label before the step runs (CrashInjectionSpec's kill points).
    */
  @inline private def phase[A](label: String)(f: => A): A = {
    EventLog.crashHook.foreach(_(label))
    f
  }

  def bucketOf(aggregateId: String): Int =
    Math.floorMod(Fnv1a32.hashString(aggregateId), numBuckets)

  // ── reads ────────────────────────────────────────────────────────────────

  /** Full envelope incl. the physical bucket partition column: the whole
    * log, so its file index lists every bucket directory (a Spark job of
    * its own above 32 directories). Whole-log readers and rewrites start
    * here; the point reads (a stream's events, the version check of an
    * append, the latest snapshot) read only their buckets ([[pointScan]]).
    */
  def eventsWithBucket: DataFrame =
    if (!exists(eventsPath)) emptyEvents(withBucket = true)
    else spark.read.schema(addBucket(evSchema)).parquet(eventsPath)

  /** The logical event table (no physical layout columns). */
  def events: DataFrame = eventsWithBucket.drop("bucket")

  /** Active (non-invalidated) rows only — what every query sees by default.
    * Claim-aware in manifest mode: replaced-but-not-yet-GCed files would
    * otherwise double-count every rewritten row.
    */
  def activeEvents: DataFrame = committedView(events).filter(col("migration") === 0)

  /** Read-committed view (manifest mode): excludes rows of claims whose
    * `done` marker is absent — in-flight appends whose multi-bucket data is
    * only partially visible, or crashed claimants. Possible because
    * manifest-mode commits prefix every data file with their claim token
    * (`c{N}-…`), so commit membership is recoverable from the file name; the
    * predicate evaluates per-row post-scan and costs nothing when every
    * claim is done. Lock-mode files carry no token and always pass. This is
    * the first half of manifest-scoped reads (README roadmap #1); full
    * add/remove file manifests would extend the same mechanism to the
    * bucket-rewriting maintenance ops.
    */
  def committedEvents: DataFrame = committedView(events)

  /** Claim-aware read filter (manifest mode; identity under Lock):
    * hides pending claims' token-prefixed files and files superseded by a
    * completed rewrite — excluded until the lazy physical delete
    * (gcReplaced) catches up. The done-flip is the atomic visibility
    * switch, so no reader ever sees both versions of a file. Replaced files
    * are matched on their bucket-qualified relative name (one partitioned
    * write reuses part-file basenames across bucket directories). Applies to events and snapshots alike (claims carry absolute
    * paths; both tables share the one chain).
    */
  private def committedView(df: DataFrame, refreshed: Boolean = false): DataFrame = {
    if (commitMode == CommitMode.Lock) return df
    // `refreshed = true` skips the chain LIST for callers inside a retry
    // loop that just paid manifest.refresh() — on object stores the listing
    // is the dominant commit-path cost, and claims() would repeat it
    val claims = if (refreshed) manifest.cachedClaims() else manifest.claims()
    val pending = claims.filterNot(_.done).map(c => ManifestCommitLog.token(c.n))
    val replaced = manifest.replacedRelnames().toSeq
    var out = df
    if (pending.nonEmpty)
      out = out.where(!ManifestCommitLog.tokenCol(input_file_name()).isin(pending: _*))
    if (replaced.nonEmpty)
      // table+bucket-qualified (last three segments): one partitioned write
      // reuses a part-file basename across bucket dirs, and events/snapshots
      // share one chain, so shorter keys are ambiguous
      out = out.where(!ManifestCommitLog.relnameCol(input_file_name()).isin(replaced: _*))
    out
  }

  /** Physically delete files superseded by completed rewrites (VACUUM
    * semantics — reads are already correct without it; this reclaims space
    * and lets `manifest.prune` retire the rewrite claims). `retentionMs`
    * guards in-flight readers: a scan that listed a file just before the
    * rewrite's visibility flip may still be executing, so only rewrites
    * older than the retention window are collected. Eager deletion inside
    * the rewrite itself caused exactly that race (FILE_NOT_EXIST on a
    * concurrent reader) — never GC inline.
    */
  def gcReplaced(retentionMs: Long = 10 * 60 * 1000L,
      nowMs: Long = System.currentTimeMillis()): Int = {
    if (commitMode == CommitMode.Lock) return 0
    val conf = spark.sessionState.newHadoopConf()
    var n = 0
    manifest.claims()
      .filter(c => c.done && c.kind == CommitClaim.KindRewrite &&
        nowMs - c.tsMs >= retentionMs)
      .flatMap(_.replaced).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        if (fs.exists(hp) && fs.delete(hp, false)) n += 1
      }
    n
  }

  def snapshots: DataFrame =
    if (!exists(snapshotsPath)) emptySnapshots
    else committedView(
      spark.read.schema(addBucket(snSchema)).parquet(snapshotsPath))
      .drop("bucket")

  /** S1: one stream's active events after a version, in version order
    * (store/postgresql/store.go:423-444). A point scan of the stream's
    * bucket directory ([[pointScan]]). The global `orderBy` plans a range
    * exchange — a sampling job, a map stage and a result stage — so a
    * caller that collects the stream to fold it on the driver uses
    * [[collectStream]] instead: the same filter, one job.
    */
  def streamEvents(aggregateId: String, sinceVersion: Int = 0): DataFrame =
    streamScan(aggregateId, sinceVersion).getOrElse(emptyEvents(withBucket = false))
      .orderBy(col("aggregate_version"))

  /** The point-scan filter behind [[streamEvents]], unordered; None when
    * the stream's bucket directory does not exist.
    */
  private def streamScan(aggregateId: String, sinceVersion: Int): Option[DataFrame] =
    pointScan(eventsPath, evSchema, Seq(bucketOf(aggregateId))).map(_
      .filter(col("aggregate_id") === aggregateId &&
        col("migration") === 0 &&
        col("aggregate_version") > sinceVersion)
      .drop("bucket"))

  /** S1 as a fold input: `(kind, body, aggregate_version)` of one stream's
    * active events after `sinceVersion` (and with `id <= untilId` when it is
    * set), in version order. One single-stage job with no exchange, and
    * none when the stream's bucket directory does not exist: the point scan
    * is collected unsorted (the scan keeps its parallelism) and the rows
    * are sorted by version on the driver, where the caller folds them
    * anyway.
    */
  private[graft] def collectStream(aggregateId: String, sinceVersion: Int = 0,
      untilId: String = ""): Array[Row] =
    streamScan(aggregateId, sinceVersion).fold(Array.empty[Row])(_
      .filter(if (untilId.isEmpty) lit(true) else col("id") <= untilId)
      .select("kind", "body", "aggregate_version")
      .collect()
      .sortBy(_.getInt(2)))

  /** S2: latest snapshot of one stream (store/postgresql/store.go:295-323).
    * A point scan like the event one: the read lists the stream's one
    * bucket directory, never another partition directory.
    */
  def latestSnapshot(aggregateId: String): Option[SnapshotRow] = {
    import spark.implicits._
    pointScan(snapshotsPath, snSchema, Seq(bucketOf(aggregateId))).flatMap(_
      .filter(col("aggregate_id") === aggregateId)
      .drop("bucket")
      .orderBy(col("id").desc)
      .limit(1)
      .as[SnapshotRow]
      .collect()
      .headOption)
  }

  /** S3: global `(after, until]` keyset range scan in ULID order
    * (store/postgresql/store.go:497-518). Predicates push to Parquet; the
    * `id` sort order within files makes min/max skipping effective.
    *
    * Reads through [[committedEvents]]: catchup replay must never process an
    * in-flight commit's partially-visible data (identical to `activeEvents`
    * in Lock mode, where the view adds no predicate). The reference gets the
    * same guarantee from SQL transaction isolation; the overlap re-read +
    * idempotent dedup (T4/T7) still covers the live streaming path.
    */
  def range(afterId: String, untilId: String): DataFrame =
    committedEvents.filter(col("migration") === 0)
      .filter((if (afterId.isEmpty) lit(true) else col("id") > afterId) &&
        (if (untilId.isEmpty) lit(true) else col("id") <= untilId))

  /** S4: id IN (...) fetch (store/postgresql/store.go:665-674). */
  def byIds(ids: Seq[String]): DataFrame =
    committedView(events).filter(col("id").isin(ids: _*))

  /** S5: one outbox poll batch — the next `limit` committed events strictly
    * after `afterId` in ULID order (sink/poller/poller.go:83-84 polls 20 at a
    * time; the driver of this method is a forwarder loop that acks by
    * remembering the last id, exactly the reference's keyset cursor). The
    * ULID lower bound prunes files via min/max stats before the global
    * order+limit, so a poll touches the log's tail, not its history.
    */
  def outboxBatch(afterId: String, limit: Int = 20): DataFrame =
    committedEvents.filter(col("migration") === 0)
      .filter(if (afterId.isEmpty) lit(true) else col("id") > afterId)
      .orderBy(col("id")).limit(limit)

  /** A5: distinct stream ids, optionally restricted to one aggregate kind.
    * The reference pages this scan 100 ids at a time
    * (store/postgresql/projection_migration.go:180); here it is one
    * distributed distinct — partial-aggregated map-side, so the exchange
    * carries unique ids per partition, not the event count.
    */
  def distinctStreams(kind: Option[String] = None): DataFrame =
    kind.fold(activeEvents)(k => activeEvents.filter(col("aggregate_kind") === k))
      .select(col("aggregate_id")).distinct()

  /** Retrieve-side discriminator scoping (the reference's `OnRetrieve` hook
    * path + per-call context, applied as a query filter the way its
    * listener/poller options do — `WithDiscriminatorKV`,
    * sink/poller/poller.go): rows must carry EVERY merged (key, value).
    * Identity when no policy is configured. For DECLARED keys the filter
    * pairs the map predicate (source of truth) with its materialized
    * `disc_<key>` twin — `disc_k = v OR disc_k IS NULL` — which parquet
    * pushes down and skips row groups on (the reference indexes disc_*
    * columns for exactly this, store/postgresql/store.go:712-726). The
    * IS NULL leg keeps files written before the key was declared correct:
    * their column reads null and the map predicate alone decides.
    */
  def withDiscriminator(df: DataFrame, callDisc: Map[String, String] = Map.empty): DataFrame =
    discriminatorPolicy match {
      case None => df
      case Some(p) =>
        val cols = df.columns.toSet
        p.merge(callDisc, DiscriminatorPolicy.OnRetrieve).foldLeft(df) {
          case (d, (k, v)) =>
            val mapEq = element_at(col("discriminator"), k) === v
            val dc = EventSchema.discColName(k)
            if (cols.contains(dc))
              d.filter(mapEq && (col(dc) === v || col(dc).isNull))
            else d.filter(mapEq)
        }
    }

  /** SQL surface: register the log as temp views (`<prefix>_events`,
    * `<prefix>_events_active`, `<prefix>_snapshots`) and the engine's SQL
    * functions (`fnv1a32`, `ulid_millis`), so `spark.sql` queries run
    * against the log directly.
    */
  def registerViews(prefix: String = "graft"): Unit = {
    graft.functions.registerAll(spark)
    events.createOrReplaceTempView(s"${prefix}_events")
    activeEvents.createOrReplaceTempView(s"${prefix}_events_active")
    snapshots.createOrReplaceTempView(s"${prefix}_snapshots")
  }

  // ── append (S-write) ─────────────────────────────────────────────────────

  /** Append one or more transactions. Returns the assigned event ids.
    *
    * Validates each stream's current head against `expectedVersion` and
    * throws [[ConcurrentModificationException]] on a lost race — the Spark
    * restatement of the unique-index violation. The heads come from a
    * bucket-pruned read of the touched streams only (max'ed with the commit
    * chain's reservations in Manifest mode); the commit is [[commitAppend]].
    */
  def append(records: Seq[AppendRecord], nowMs: => Long = System.currentTimeMillis()): Seq[String] = {
    val touched = records.map(_.aggregateId).distinct
    var rows = Seq.empty[EventRow]
    commitAppend("append") { chain =>
      val parquet = maxVersions(touched, refreshed = chain.isDefined)
      val reserved = chain.fold(Map.empty[String, Int])(_.reservedHeads(touched))
      validateVersions(records, touched.map(s =>
        s -> math.max(parquet.getOrElse(s, 0), reserved.getOrElse(s, 0))).toMap)
      rows = buildRows(records, nowMs)
      Held(rows)
    }
    rows.map(_.id)
  }

  /** The optimistic check: each record must sit on its stream's head. The
    * heads fold through the records, so a stream that appears twice in one
    * append must chain onto its earlier record — two records at the same
    * base would otherwise both pass and store duplicate versions.
    */
  private def validateVersions(records: Seq[AppendRecord], current: Map[String, Int]): Unit =
    records.foldLeft(current) { (heads, r) =>
      val cur = heads.getOrElse(r.aggregateId, 0)
      if (cur != r.expectedVersion)
        throw new ConcurrentModificationException(
          s"stream ${r.aggregateId}: expected version ${r.expectedVersion}, log has $cur")
      heads.updated(r.aggregateId, cur + r.details.size)
    }: Unit

  private def buildRows(records: Seq[AppendRecord], nowMs: => Long): Seq[EventRow] =
    records.flatMap { r =>
      val disc = persistDisc(r.discriminator)
      r.details.zipWithIndex.map { case (d, i) =>
        EventRow(
          id = gen.next(nowMs),
          aggregate_id = r.aggregateId,
          aggregate_id_hash = Fnv1a32.hashString(r.aggregateId),
          aggregate_version = r.expectedVersion + i + 1,
          aggregate_kind = r.aggregateKind,
          kind = d.kind,
          body = d.body,
          discriminator = disc,
          created_at = new Timestamp(nowMs),
          migration = 0,
          migrated = false)
      }
    }

  /** The persist-time discriminator pipeline of every append path: the
    * policy's merge, or without a policy the declared keys, compared
    * case-blind on both sides (no declared keys keeps the map whole).
    */
  private val persistDisc: Map[String, String] => Map[String, String] = {
    val keys = discriminatorKeys.map(_.toLowerCase)
    discriminatorPolicy match {
      case Some(p) => d => p.merge(d, DiscriminatorPolicy.OnPersist)
      case None if keys.isEmpty => d => d
      case None => d => d.view.filterKeys(k => keys.contains(k.toLowerCase)).toMap
    }
  }

  /** Bulk ingest for backfills and initial loads: append a DataFrame of NEW
    * streams' events in one distributed write. Input columns:
    * `aggregate_id`, `aggregate_kind`, `kind`, `body`, `seqCol` (any
    * per-stream ordering column) and optionally `discriminator`
    * (map<string,string>). Versions are assigned 1..n per stream in seq
    * order, and event ids come from per-stream monotonic ULID generators
    * after a repartition+sort on the stream key ([[mintStreams]]) — so ids
    * increase with version inside every stream, exactly like transactional
    * appends.
    *
    * The reference has no bulk path (an import loops `store.Create` one
    * transaction at a time — 10⁸ streams cost 10⁸ round-trips); this is one
    * shuffle plus one bucketed write, and the optimistic version counters
    * continue correctly afterwards because versions ARE the per-stream
    * sequence. `timeCol` (millis) keeps HISTORICAL timestamps: each event's
    * ULID time component and `created_at` come from it, so time-range scans
    * and as-of reads work on backfilled history exactly as on live appends
    * (per stream, `seqCol` order must not decrease in `timeCol` — the same
    * invariant live appends have). Without it every row is stamped `nowMs`.
    * `requireNew` (default) rejects the import if any target stream already
    * exists (one distributed semi-join probe); disable it only when the
    * caller guarantees disjointness. The discriminator pipeline (policy
    * merge / legacy key filter) applies per row as in [[append]].
    *
    * Concurrency: in Manifest mode the import is CLAIM-FENCED like every
    * other writer ([[commitAppend]]): it reserves `(0, head)` for every
    * imported stream, and with `requireNew` a chain reservation on any of
    * them refuses the import — so a concurrent writer touching the same
    * stream from another driver either sees the reservation or loses the
    * claim race, and the loser surfaces [[ConcurrentModificationException]],
    * matching the reference's unique-index guarantee on every write path
    * (store/postgresql/store.go:702). `manifest.prune` must not run
    * concurrently with an import (standard maintenance-window rule).
    */
  def bulkImport(rows: DataFrame, nowMs: Long = System.currentTimeMillis(),
      seqCol: String = "seq", timeCol: Option[String] = None,
      requireNew: Boolean = true): Long = {
    import spark.implicits._
    val prepared = withDiscMap(rows)
      .withColumn("__ts", timeCol.fold(lit(nowMs))(c => col(c).cast("long")))
    val ids = prepared.select(col("aggregate_id"))
    commitAppend("import",
      guard = _ => {
        if (requireNew && exists(eventsPath)) {
          // semi-join needs no distinct on the (corpus-sized) log side
          val clash = ids.distinct()
            .join(events.select(col("aggregate_id")), Seq("aggregate_id"), "left_semi")
            .limit(1).as[String].collect()
          if (clash.nonEmpty) throw new ConcurrentModificationException(
            s"bulkImport: stream ${clash.head} already exists in the log")
        }
        None
      },
      // a reservation on ANY imported stream means it is not new — the
      // chain-time twin of the parquet probe (claims precede data, so the
      // chain is authoritative for in-flight writers): a driver lookup for
      // inline-scale imports, one distributed semi-join past the limit
      refuse = resv => if (requireNew) {
        val clash =
          if (resv.sidecar.isEmpty)
            manifest.reservedHeads(resv.inline.keys.toSeq).find(_._2 > 0).map(_._1)
          else phase("import: chain clash join")(manifest.reservationsDF().flatMap(r =>
            ids.join(r.select(col("aggregate_id")), Seq("aggregate_id"), "left_semi")
              .limit(1).as[String].collect().headOption))
        clash.foreach(s => throw new ConcurrentModificationException(
          s"bulkImport: stream $s already reserved in the commit chain"))
      }) { _ =>
      Spread(mintStreams(prepared, seqCol, col("__ts"), lit(0)) { (s, pid, id) =>
        s * 2654435761L + pid * 1000003L + (Fnv1a32.hashString(id).toLong << 16) +
          scala.util.hashing.MurmurHash3.stringHash(id)
      })
    }
  }

  /** Distributed append-at-head: like [[bulkImport]] but for streams that
    * may already EXIST — versions continue from each stream's current head
    * (one bucket-colocated aggregation over just the touched streams, never
    * a driver map). This is the continuous-ingest primitive: the source is
    * authoritative and rows append in `seqCol` order per stream, so there
    * is no optimistic expectedVersion — concurrent interactive writers are
    * excluded by the commit section, exactly the CDC-consumer contract.
    * `ledgerId`/`batchId` (`batchId >= 0`) make redelivery idempotent: a
    * batch at or below the ledger's committed id is skipped whole (the
    * streaming exactly-once handshake — see
    * [[graft.streaming.StreamAggs.ingestStream]]). In Manifest mode the
    * ledger mark ALSO rides the commit claim, so the dedup check and the
    * data commit share the chain's single atomic done-flip — a crash
    * anywhere leaves the redelivered batch either skipped (done landed) or
    * the only visible copy (pending claims' files stay hidden): exactly-once
    * with no window. Lock mode keeps the file-ledger-after-write ordering
    * and its inherent crashed-between-write-and-ledger duplicate window.
    * Returns rows appended (0 on a skipped redelivery).
    *
    * Concurrency: Manifest mode is claim-fenced ([[commitAppend]]): heads
    * are `max(parquet head, reserved head)` from a fresh chain read, and a
    * lost claim race RETRIES from fresh heads (there is no
    * `expectedVersion` to violate — concurrent appenders serialize and
    * versions continue, the CDC-consumer contract), while interactive
    * `append`s racing the same streams fail their optimistic check against
    * our reservation.
    */
  def appendBulk(rows: DataFrame, nowMs: Long = System.currentTimeMillis(),
      seqCol: String = "seq", ledgerId: Option[String] = None,
      batchId: Long = -1L): Long = {
    val mark = ledgerId.filter(_ => batchId >= 0).map(_ -> batchId)
    val hconf = spark.sessionState.newHadoopConf()
    val ledger = mark.map { case (id, _) => new Path(s"$path/_ingest/$id") }
    def ledgerFs = ledger.map(_.getFileSystem(hconf))
    // a torn/garbage ledger file (crash mid-write) reads as absent rather
    // than wedging every subsequent batch on a parse error; in manifest mode
    // the chain mark still dedups, in lock mode the batch re-appends
    // (at-least-once, the pre-ledger contract)
    def readLedger(): Option[Long] = ledger.zip(ledgerFs).collect {
      case (p, f) if f.exists(p) =>
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
        finally in.close()
    }.flatten
    def commitLedger(): Unit = ledger.zip(ledgerFs).foreach { case (p, f) =>
      // NEVER regress: a failover rival may have committed a HIGHER batch
      // while this delivery was stalled — overwriting its mark would re-open
      // the dedup hole the moment the rival's claim is pruned off the chain
      if (!readLedger().exists(_ >= batchId)) {
        // write-temp + swap: the ledger is never observable half-written
        val tmp = new Path(p.getParent, s".${p.getName}.tmp.${java.util.UUID.randomUUID()}")
        val out = f.create(tmp, true)
        try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
        f.delete(p, false)
        if (!f.rename(tmp, p)) { f.delete(tmp, false); throw new java.io.IOException(
          s"could not commit ingest ledger $p") }
      }
    }
    var rivalDeadline = -1L
    val input = withDiscMap(rows)
    val touched = input.select(col("aggregate_id")).distinct()
    commitAppend("appendBulk", mark,
      // The ledger dedup runs after every chain refresh, not once up front:
      // a pre-check is check-then-act, so two CONCURRENT deliveries of the
      // same (ledgerId, batchId) — a zombie driver racing its failover
      // replacement — would both pass it and both win distinct claims. A
      // rival claim carrying (ledgerId, batch >= batchId) is authoritative:
      // DONE means the batch is committed (skip; committed-then-pruned is
      // covered by the restored ledger file), PENDING means the outcome is
      // undecided — wait for its done-flip or its condemnation rather than
      // race it to a second append.
      guard = chain => {
        val rivals = for {
          c <- chain.toSeq; (id, b) <- mark.toSeq
          r <- c.cachedClaims() if r.ledgerId.contains(id) && r.ledgerBatch >= b
        } yield r
        // disk-truth for pending rivals: the cache deliberately remembers
        // PRUNED claims, and a condemned rival (crashed, then pruned) must
        // not wedge this legitimate redelivery — its staged files are gone,
        // so re-appending is exactly the recovery path. status() (not the
        // cached done flag) decides "committed": a rival that won its done
        // fate and crashed before deriving the marker is committed on disk
        // even though no listing shows it — and status() is read-only, so
        // no one heals the marker for us here
        val live = rivals.flatMap(r => if (r.done) Some(true) else manifest.status(r.n))
        if (live.contains(true) || readLedger().exists(batchId <= _)) {
          commitLedger()
          Some(Done(0L))
        } else if (live.isEmpty) None
        else {
          // a rival that DIED pending stays undecided until prune condemns
          // it, so fail loudly at the deadline
          if (rivalDeadline < 0) rivalDeadline = System.currentTimeMillis() + LockAcquireTimeoutMs
          if (System.currentTimeMillis() > rivalDeadline)
            throw new IllegalStateException(
              s"appendBulk: rival delivery of ($ledgerId, $batchId) still " +
                "pending — undecided in-flight commit (crashed writer?); " +
                "retry after it completes or manifest.prune condemns it")
          Some(Wait)
        }
      },
      committed = () => commitLedger()) { chain =>
      // heads of the TOUCHED streams (semi-join prune, then one agg; stays
      // fully distributed — no driver map of the stream set), max'ed with
      // every chain reservation
      val parquet =
        if (!exists(eventsPath)) None
        else Some(committedView(events, refreshed = true)
          .join(touched, Seq("aggregate_id"), "left_semi")
          .select(col("aggregate_id"), col("aggregate_version").as("__h")))
      val reserved = chain.flatMap(_.reservationsDF())
        .map(_.select(col("aggregate_id"), col("head").as("__h")))
      val withHeads = (parquet ++ reserved).reduceOption(_ unionByName _)
        .fold(input.withColumn("__head", lit(null).cast("int")))(heads => input.join(
          heads.groupBy(col("aggregate_id")).agg(max(col("__h")).as("__head")),
          Seq("aggregate_id"), "left"))
      Spread(mintStreams(withHeads, seqCol, lit(nowMs), coalesce(col("__head"), lit(0))) {
        (s, pid, id) => s * 6364136223846793005L + pid * 1000003L + batchId * 31L +
          (Fnv1a32.hashString(id).toLong << 16) + scala.util.hashing.MurmurHash3.stringHash(id)
      })
    }
  }

  /** Ingest rows with a `discriminator` map column (empty when absent). */
  private def withDiscMap(rows: DataFrame): DataFrame =
    if (rows.columns.contains("discriminator")) rows
    else rows.withColumn("discriminator", typedLit(Map.empty[String, String]))

  /** The per-stream minting of the distributed writers ([[bulkImport]],
    * [[appendBulk]]): `input`'s rows, shuffled by stream and sorted by
    * `seqCol`, get versions continuing from the stream's `head` and ids
    * stamped `ts` (millis) from ONE monotonic generator per stream, created
    * on stream change (all rows of a stream are contiguous after the sort):
    * per-stream id order follows the per-row times without one stream's
    * clock bumping another's, matching live appends' per-stream
    * monotonicity. Each writer passes its own `seed(ulidSeed, partition,
    * stream)` mix.
    */
  private def mintStreams(input: DataFrame, seqCol: String, ts: Column, head: Column)(
      seed: (Long, Int, String) => Long): DataFrame = {
    import spark.implicits._
    val seedBase = ulidSeed
    val disc = persistDisc
    input
      .repartition(col("aggregate_id"))
      .sortWithinPartitions(col("aggregate_id"), col(seqCol))
      .select(col("aggregate_id"), col("aggregate_kind"), col("kind"),
        col("body"), col("discriminator"), ts, head)
      .as[(String, String, String, String, Map[String, String], Long, Int)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var gen: Ulid.Generator = null
        var v = 0
        it.map { case (aggId, aggKind, kind, body, d, t, h) =>
          if (aggId != cur) {
            cur = aggId
            v = h
            gen = new Ulid.Generator(seed = seedBase.map(seed(_, pid, aggId)))
          }
          v += 1
          EventRow(gen.next(t), aggId, Fnv1a32.hashString(aggId), v, aggKind,
            kind, body, disc(if (d == null) Map.empty else d), new Timestamp(t), 0, false)
        }
      }
      .toDF()
  }

  /** The commit chain (lazily materialized; also usable for inspection in
    * Lock mode, where it simply stays empty).
    */
  lazy val manifest = new ManifestCommitLog(spark, path)

  private val writerId =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName // pid@host

  /** One snapshot, written by the held writer ([[writeHeld]]): one file
    * in the stream's bucket directory, with no Spark job.
    */
  def saveSnapshot(snap: SnapshotRow): Unit = {
    import spark.implicits._
    writeHeld("snapshot", snapshotsPath, Seq(snap).toDS().toDF())
  }

  /** Distributed snapshot append (same layout and codec as
    * [[saveSnapshot]]; one bucketed Spark write for any number of streams'
    * snapshots).
    */
  def saveSnapshots(snaps: DataFrame): Unit = {
    partitionedWriter(withBucketCol(snaps)).mode(SaveMode.Append).parquet(snapshotsPath)
    graft.sources.GraftMeta.write(spark, snapshotsPath, numBuckets)
  }

  // ── batch rewrites (M1/M2) ───────────────────────────────────────────────

  /** M1 Forget/GDPR: scrub event bodies (and snapshot bodies) of one stream
    * for the given kinds, via a user JSON-rewrite function. Copy-on-write of
    * only the stream's bucket partition (eventstore.go:405-432). In
    * manifest mode both tables' rewrites ride one claim, so a forget is
    * all-or-nothing; it must not report success over rows it never read,
    * so it refuses (ConcurrentModificationException naming the holding
    * claim) while a pending rival rewrite holds either table's files.
    */
  def forget(aggregateId: String, eventKinds: Set[String],
      scrubEvent: String => String, scrubSnapshot: String => String): Unit =
    withLogLock(path) {
      val scrubE = udf(scrubEvent)
      val scrubS = udf(scrubSnapshot)
      rewriteBuckets("forget", Seq(bucketOf(aggregateId)), refuseHeld = true)(
        TableRewrite(eventsPath, evSchema, _.withColumn("body",
          when(col("aggregate_id") === aggregateId && col("kind").isin(eventKinds.toSeq: _*),
            scrubE(col("body"))).otherwise(col("body")))),
        TableRewrite(snapshotsPath, snSchema, _.withColumn("body",
          when(col("aggregate_id") === aggregateId, scrubS(col("body")))
            .otherwise(col("body"))))): Unit
    }

  /** M2 MigrateInPlaceCopyReplace: for every active stream containing one of
    * `targetKinds`, run the user handler over its full event sequence; if it
    * rewrites anything, flag the old rows `migration = revision`, drop the
    * stream's snapshots, and append an `Invalidated` fence plus the migrated
    * copies (`migrated = true`) — exactly the reference's 9-row golden shape
    * (store/postgresql/events_migration.go:18-206).
    *
    * The handler maps the ordered active events of one stream to the new
    * event list (kind/body pairs), or None to leave the stream untouched.
    *
    * Fully distributed, unlike the reference's per-stream transactions
    * (store/postgresql/events_migration.go:90-206): the handler runs on
    * executors inside a sorted-group fold, replacement rows get their ULIDs
    * from per-partition monotonic generators, invalidation is ONE
    * copy-on-write rewrite per affected bucket (a join against the migrated
    * stream set — never an `isin` list or a per-stream job), and all
    * fences+copies land in ONE append. Job count is bounded by the bucket
    * count, not the stream count (MigrationScaleSpec pins this). The
    * per-stream outcomes come back to the driver under
    * [[EventLog.collectMigrated]]'s cap.
    */
  def migrate(revision: Int, targetKinds: Set[String],
      handler: Seq[EventRow] => Option[Seq[EventDetail]],
      nowMs: => Long = System.currentTimeMillis(),
      dense: Boolean = false): Seq[MigratedStream] =
    EventLog.collectMigrated(
      migrateDistributed(revision, targetKinds, handler, nowMs, dense), "EventLog.migrate")

  /** Distributed M2: as [[migrate]] but returns the per-stream outcome as a
    * Dataset, so a migration touching 10⁸ streams never materializes its
    * result on the driver (callers aggregate or write it out instead).
    *
    * `dense = true` declares that the target kinds touch most streams (the
    * kind-wide copy-replace shape): the plan fold then runs as one scan +
    * one shuffle with candidate detection inside the fold, instead of the
    * default candidates-distinct + semi-join shape that keeps a SELECTIVE
    * migration's shuffle bounded by the candidate sliver. Wrong-direction
    * hints are never incorrect, only slower.
    *
    * The commit is ONE [[rewriteBuckets]] call: the invalidation rewrite,
    * the snapshot drops and the fence+copy append land together. Under a
    * chain they ride ONE rewrite claim whose `done` marker is the single
    * visibility switch (readers never see history flagged away with the
    * copies not yet visible; store/postgresql/events_migration.go:90-206),
    * fenced against concurrent appends:
    *  - it RESERVES `(head, head+1+copies)` for every migrated stream, so
    *    interactive `append`s lose their optimistic check and `appendBulk`
    *    continues past the fence — never a version collision;
    *  - before claiming, [[migrationStale]] checks the plan against the
    *    chain and the committed heads; a stream that moved re-plans (at
    *    most 5 plans);
    *  - appends landing DURING the staged write keep their files, and the
    *    bounded invalidation never flags rows past a planned head;
    *  - files a pending rival rewrite holds are refused, not skipped.
    */
  def migrateDistributed(revision: Int, targetKinds: Set[String],
      handler: Seq[EventRow] => Option[Seq[EventDetail]],
      nowMs: => Long = System.currentTimeMillis(),
      dense: Boolean = false): Dataset[MigratedStream] =
    withLogLock(path) {
      import spark.implicits._
      require(revision > 0, "migration revision must be > 0")
      val t = nowMs
      val seedBase = ulidSeed
      val h = handler
      val tk = targetKinds
      val nb = numBuckets
      val fenceKind = KindInvalidated

      var planAttempts = 0
      var result: Option[Dataset[MigratedStream]] = None
      while (result.isEmpty) {
        planAttempts += 1

        // 1+2. per-stream sorted fold over the candidate streams, two plan
        // shapes by declared selectivity:
        //  - dense = false (default): candidate ids first (scan + small
        //    distinct), then a semi-join restricts the fold's shuffle to
        //    candidate events only — right when the target kinds are rare
        //    (the fold shuffle carries the sliver, and AQE's runtime filters
        //    prune the probe side);
        //  - dense = true: ONE scan + ONE shuffle of the log, candidates
        //    detected inside the fold — right for the reference's
        //    kind-wide copy-replace shape (events_migration.go walks every
        //    aggregate of a kind) where "candidates" ≈ all streams and the
        //    semi-join would shuffle the same volume plus an extra scan +
        //    distinct.
        // Both run the handler on the stream's version-ordered active
        // events and yield identical plans.
        val folded: Dataset[MigrationPlan] =
          if (dense)
            activeEvents.as[EventRow]
              .repartition(col("aggregate_id"))
              .sortWithinPartitions(col("aggregate_id"), col("aggregate_version"))
              .mapPartitions { it =>
                val buf = it.buffered
                new Iterator[MigrationPlan] {
                  private var nextPlan: MigrationPlan = _
                  private var done = false
                  private def advance(): Unit = {
                    nextPlan = null
                    while (nextPlan == null && buf.hasNext) {
                      val id = buf.head.aggregate_id
                      val evs = scala.collection.mutable.ArrayBuffer.empty[EventRow]
                      while (buf.hasNext && buf.head.aggregate_id == id)
                        evs += buf.next()
                      if (evs.exists(e => tk.contains(e.kind)))
                        h(evs.toSeq).filter(_.nonEmpty).foreach { details =>
                          nextPlan = MigrationPlan(id, evs.head.aggregate_kind,
                            evs.head.discriminator,
                            evs.map(_.aggregate_version).max, details, Seq.empty)
                        }
                    }
                    if (nextPlan == null) done = true
                  }
                  advance()
                  override def hasNext: Boolean = !done
                  override def next(): MigrationPlan = {
                    val p = nextPlan; advance(); p
                  }
                }
              }
          else {
            val candidates = activeEvents
              .filter(col("kind").isin(targetKinds.toSeq: _*))
              .select("aggregate_id").distinct()
            activeEvents
              .join(candidates, Seq("aggregate_id"), "left_semi")
              .as[EventRow]
              .groupByKey(_.aggregate_id)
              .flatMapSortedGroups(col("aggregate_version")) { (id, it) =>
                val evs = it.toSeq
                h(evs).filter(_.nonEmpty) match {
                  case Some(details) =>
                    Iterator(MigrationPlan(id, evs.head.aggregate_kind,
                      evs.head.discriminator, evs.map(_.aggregate_version).max,
                      details, Seq.empty))
                  case None => Iterator.empty
                }
              }
          }

        // 3. mint fence+copy rows with a per-partition monotonic ULID
        // generator; materialize BEFORE any rewrite below invalidates the
        // lineage's source files.
        val plan: Dataset[MigrationPlan] = phase("migrate: plan fold+checkpoint")(folded
          .mapPartitions { it =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val pgen = new Ulid.Generator(seed = seedBase.map(s => s * 1000003L + pid))
            it.map { p =>
              val hash = Fnv1a32.hashString(p.aggregateId)
              val fence = EventRow(pgen.next(t), p.aggregateId, hash,
                p.maxVersion + 1, p.aggregateKind, fenceKind, "{}",
                p.discriminator, new Timestamp(t), revision, false)
              val copies = p.details.zipWithIndex.map { case (d, i) =>
                EventRow(pgen.next(t), p.aggregateId, hash,
                  p.maxVersion + 2 + i, p.aggregateKind, d.kind, d.body,
                  p.discriminator, new Timestamp(t), 0, true)
              }
              p.copy(rows = fence +: copies)
            }
          }
          .checkpointOwned())

        // emptiness falls out of the bucket-set collect below — no separate
        // isEmpty job
        val ids = plan.select(col("aggregateId").as("m_id"),
          col("maxVersion").as("m_maxv"),
          pmod(graft.functions.fnv1a32(col("aggregateId")), lit(nb)).as("m_bucket"))
        val buckets = phase("migrate: bucket-set collect")(
          ids.select("m_bucket").distinct().as[Int].collect().sorted.toSeq)
        if (buckets.isEmpty)
          result = Some(spark.emptyDataset[MigratedStream])
        else {
          // 4. ONE rewrite over the affected bucket SET: flag old rows via a
          // join against the migrated stream ids, BOUNDED by each stream's
          // planned head (rows a concurrent bulk appender lands past our
          // reservation are post-migration events and must never be
          // flagged), drop their snapshots, and append every fence + copy
          // under the same commit
          val invalidate: DataFrame => DataFrame = { df =>
            val allIds = ids.select("m_id", "m_maxv")
            df.join(allIds, df("aggregate_id") === allIds("m_id"), "left")
              .withColumn("migration",
                when(col("m_id").isNotNull && col("migration") === 0 &&
                  col("aggregate_version") <= col("m_maxv"), lit(revision))
                  .otherwise(col("migration")))
              .drop("m_id", "m_maxv")
          }
          val dropSnapshots: DataFrame => DataFrame = { df =>
            val allIds = ids.select("m_id")
            df.join(allIds, df("aggregate_id") === allIds("m_id"), "left_anti")
          }
          val appended = Appended(plan.select(explode(col("rows")).as("r")).select("r.*"),
            // (aggregate_id, base = head at plan time, head = base + 1 fence + copies)
            plan.select(col("aggregateId").as("aggregate_id"), col("maxVersion").as("base"),
              (col("maxVersion") + lit(1) + size(col("details"))).cast("int").as("head")),
            migrationStale(plan, buckets))
          val committed = rewriteBuckets("migrate", buckets, refuseHeld = true,
            appended = Some(appended))(TableRewrite(eventsPath, evSchema, invalidate),
            TableRewrite(snapshotsPath, snSchema, dropSnapshots)).isDefined
          if (committed)
            result = Some(plan.map(p => MigratedStream(p.aggregateId,
              p.maxVersion + 1 + p.details.size, p.rows.last.id, p.details,
              p.discriminator)))
          else if (planAttempts >= 5)
            throw new ConcurrentModificationException(
              s"migration revision $revision: stream heads kept moving under " +
                s"concurrent appends across $planAttempts plan attempts — giving up")
          // else: an append slipped in after the plan read its streams —
          // recompute the plan from the NEW committed state (the handler then
          // sees the interleaved events too: no write is ever lost)
        }
      }
      result.get
    }

  /** Migration's check before its claim: whether a stream of `plan` moved
    * past its plan-time head (a chain reservation or a committed row in the
    * affected `buckets` past it), so the caller re-plans. Claim-number
    * density closes the check→claim gap: a writer claiming in between takes
    * the claim's number and the attempt loses its race. An inline-scale
    * plan folds the chain's inline lines driver-side first; then chain and
    * parquet heads meet in ONE distributed existence probe (reservationsDF
    * covers inline and sidecar lines alike), so the migrated stream set
    * never rides an isin list or a driver map.
    */
  private def migrationStale(plan: Dataset[MigrationPlan], buckets: Seq[Int])(
      resv: Reservation): Boolean = {
    val chainStaleInline = resv.sidecar.isEmpty &&
      manifest.cachedClaims().exists(_.streams.exists {
        case (s, (_, head)) => resv.inline.get(s).exists(_._1 < head)
      })
    chainStaleInline || {
      val planned = plan.select(col("aggregateId").as("m_id"), col("maxVersion").as("m_v"))
      val chainHeads =
        if (resv.sidecar.isDefined || manifest.cachedClaims().exists(_.streamsRef.isDefined))
          manifest.reservationsDF().map(_.select(col("aggregate_id"),
            col("head").cast("int").as("observed")))
        else None
      // refreshed = true: the attempt just paid manifest.refresh(), skip the
      // repeat chain listing inside the read filter
      val parquetHeads = committedView(eventsWithBucket, refreshed = true)
        .filter(col("bucket").isin(buckets: _*))
        .select(col("aggregate_id"), col("aggregate_version").as("observed"))
      phase("migrate: staleness probe")(
        chainHeads.fold(parquetHeads)(parquetHeads.unionByName(_))
          .join(planned, col("aggregate_id") === col("m_id"))
          .filter(col("observed") > col("m_v"))
          .limit(1).count() > 0)
    }
  }

  /** M4 support: append a `NoOp` fence event to EVERY active stream of one
    * aggregate kind, in a single distributed write: one shuffle to compute
    * per-stream max versions, fences minted by per-partition monotonic ULID
    * generators — nothing per-stream ever touches the driver, so 10⁹ streams
    * cost the same driver memory as 10 (unlike the reference's paged
    * iteration, store/postgresql/projection_migration.go). Fences bump each
    * stream's version so concurrent writers started before the rebuild lose
    * their optimistic check (eventstore.go:123-131). In Manifest mode the
    * pass is claim-fenced like every append ([[commitAppend]]).
    */
  def appendNoOpFences(aggregateKind: String, nowMs: => Long = System.currentTimeMillis()): Long = {
    import spark.implicits._
    val t = nowMs
    val seedBase = ulidSeed
    val kind = aggregateKind
    val noOp = KindNoOp
    commitAppend("fences") { chain =>
      val parquet = activeEvents
        .filter(col("aggregate_kind") === aggregateKind)
        .groupBy(col("aggregate_id"))
        .agg(max(col("aggregate_version")).as("v"),
          first(col("discriminator")).as("disc"))
      // chain reservations merge in DISTRIBUTED (the reservation table is
      // chain-sized, broadcast by Spark; the stream set never touches the
      // driver), so a fence can't collide with an in-flight append's slot
      val heads = chain.flatMap(_.reservationsDF()).fold(parquet)(resv => parquet
        .join(resv.select(col("aggregate_id").as("r_id"), col("head"))
          .groupBy(col("r_id")).agg(max(col("head")).as("r_v")),
          col("aggregate_id") === col("r_id"), "left")
        .select(col("aggregate_id"),
          greatest(col("v"), coalesce(col("r_v"), lit(0))).as("v"),
          col("disc")))
      Spread(heads
        .as[(String, Int, Map[String, String])]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val pgen = new Ulid.Generator(seed = seedBase.map(s => s * 7368787L + pid))
          it.map { case (aggId, v, disc) =>
            EventRow(pgen.next(t), aggId, Fnv1a32.hashString(aggId), v + 1,
              kind, noOp, "{}", disc, new Timestamp(t), 0, false)
          }
        }
        .toDF(), onePerStream = true)
    }
  }

  /** Compaction: every append writes new files, so a hot log accumulates
    * small files (the classic small-files problem — fatal at 100 TB where
    * scan cost is dominated by file opens). Rewrites the given buckets (or
    * all) into one sorted file per bucket: restores the ULID sort order that
    * makes parquet min/max skipping effective on time-range scans. On a real
    * deployment this runs incrementally, a bucket subset per maintenance
    * window — which is why `buckets` is a parameter. `maxRecordsPerFile`
    * (0 = unbounded) splits a hot bucket into scannable units in either
    * commit mode.
    *
    * `layout` picks the output clustering: [[CompactionLayout.IdSort]]
    * (default, id-range-scan-optimal) or [[CompactionLayout.ZOrder]] for
    * mixed time×attribute workloads — each rewritten bucket's files then
    * cover compact Morton intervals, so both dimensions prune at once. In
    * Manifest mode the layout runs UNDER the same rewrite claim as plain
    * compaction: appends racing the re-layout commit safely either side of
    * it (CompactionSpec pins committed-view equality through a claim-fenced
    * z-order compact). Compaction is optional work, so files a pending
    * rival rewrite holds are skipped, not refused (see [[rewriteBuckets]]).
    */
  def compact(buckets: Option[Seq[Int]] = None,
      maxRecordsPerFile: Long = 0L,
      layout: CompactionLayout = CompactionLayout.IdSort): Unit = withLogLock(path) {
    rewriteBuckets("compact", buckets.getOrElse(0 until numBuckets), layout, maxRecordsPerFile)(
      TableRewrite(eventsPath, evSchema, identity)): Unit
  }

  /** Retention: prune events that are BOTH older than `beforeMs` (by ULID
    * time) AND covered by their stream's latest snapshot (version ≤ the
    * snapshot's) — the only form of event-log TTL that keeps every fold
    * reproducible: `retrieve` and the stitched rehydration
    * ([[graft.store.EventStore.rehydrateAllStitched]]) read snapshot + tail
    * and never miss pruned prefixes. Un-snapshotted streams are untouched,
    * and each stream keeps its newest event even when its snapshot covers
    * it: appends read a stream's version from its events ([[maxVersions]]).
    * One multi-bucket copy-on-write rewrite (join against the snapshot
    * heads), scoped to the buckets that actually shrink; invalidated audit
    * rows below the covered version age out under the same rule — that is
    * what retention means. Returns rows dropped (counted by one
    * parquet-pruned scan of the `id < bound` sliver, not by bracketing
    * full-table counts).
    *
    * The reference has no retention op at all — logs grow forever or get
    * truncated by hand; at 100 TB this plus [[compact]] IS the storage
    * lifecycle.
    */
  def pruneSnapshotted(beforeMs: Long): Long = withLogLock(path) {
    if (!exists(eventsPath) || !exists(snapshotsPath)) 0L
    else {
      // each snapshotted stream's latest snapshot version p_v and event
      // head p_h, in ONE aggregation over both tables (one exchange)
      val heads = snapshots
        .select(col("aggregate_id"), col("id"), col("aggregate_version"),
          lit(null).cast("int").as("ev"))
        .unionByName(committedView(events).select(col("aggregate_id"), lit(null).cast("string")
          .as("id"), lit(null).cast("int").as("aggregate_version"), col("aggregate_version").as("ev")))
        .groupBy(col("aggregate_id").as("p_id"))
        .agg(max_by(col("aggregate_version"), col("id")).as("p_v"), max(col("ev")).as("p_h"))
        .filter(col("p_v").isNotNull)
        .checkpointOwned() // consumed by the rewrite below
      val bound = Ulid.timeOnly(beforeMs)
      val keep: DataFrame => DataFrame = { df =>
        df.join(heads, df("aggregate_id") === heads("p_id"), "left")
          .filter(col("p_id").isNull || col("aggregate_version") > col("p_v") ||
            col("id") >= bound || col("aggregate_version") === col("p_h"))
          .drop("p_id", "p_v", "p_h")
      }
      // Count the doomed rows per bucket with ONE scan whose `id < bound`
      // predicate pushes to parquet (min/max skipping prunes every young
      // file — at scale this reads the old sliver, where the former
      // before/after bracketing counted the FULL table twice on top of the
      // rewrite). heads has one row per stream, so the inner join can't
      // fan out; the per-bucket counts then scope the rewrite to the
      // buckets that actually shrink — an incremental prune after a recent
      // one rewrites (almost) nothing. Counted per file too: the rewrite
      // skips files a pending rival rewrite holds, and their rows stay.
      val doomed = committedView(eventsWithBucket)
        .withColumn("file", ManifestCommitLog.relnameCol(input_file_name()))
        .filter(col("id") < bound)
        .join(heads, col("aggregate_id") === col("p_id"))
        .filter(col("aggregate_version") <= col("p_v") && col("aggregate_version") < col("p_h"))
        .groupBy(col("bucket"), col("file")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      val skipped =
        if (doomed.isEmpty) Set.empty[String]
        else rewriteBuckets("retention", doomed.map(_._1).distinct.sorted)(
          TableRewrite(eventsPath, evSchema, keep)).fold(Set.empty[String])(
          _.keySet.map(ManifestCommitLog.relname))
      Checkpoints.release(heads) // every rewrite consuming it has run
      doomed.collect { case (_, file, n) if !skipped.contains(file) => n }.sum
    }
  }

  /** Maintenance telemetry: per-bucket file counts and bytes for both
    * tables plus commit-chain counters. Pure metadata listing (no data
    * read); `maxFilesPerBucket` crossing a threshold is the trigger for
    * [[compact]], `replacedAwaitingGc > 0` for [[gcReplaced]] — the
    * scheduler loop a 100 TB log runs in its maintenance window.
    */
  def stats(): LogStats = {
    val conf = spark.sessionState.newHadoopConf()
    def table(tablePath: String): Seq[BucketStat] = {
      val root = new org.apache.hadoop.fs.Path(tablePath)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .map { d =>
          val files = fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          BucketStat(d.getPath.getName.stripPrefix("bucket=").toInt,
            files.length, files.map(_.getLen).sum)
        }.sortBy(_.bucket).toSeq
    }
    val claims = if (commitMode == CommitMode.Manifest) {
      manifest.refresh(): Unit
      manifest.claims()
    } else Seq.empty
    LogStats(
      events = table(eventsPath),
      snapshots = table(snapshotsPath),
      pendingClaims = claims.count(!_.done),
      doneClaims = claims.count(_.done),
      replacedAwaitingGc = claims
        .filter(c => c.done && c.kind == CommitClaim.KindRewrite)
        .flatMap(_.replaced)
        .count { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).exists(hp)
        })
  }

  /** Re-bucketing maintenance: rewrite the whole log (events AND snapshots)
    * under a new bucket count — the grow-the-cluster operation a log sized
    * at 64 buckets needs when the corpus grows 100×, since bucket count
    * bounds both point-scan parallelism and compaction granularity. One
    * distributed rewrite per table into a temp directory, then a swap; the
    * bucket column is re-derived from `fnv1a32(aggregate_id)`, so ordering,
    * versions and ids are untouched. Returns a NEW EventLog bound to the
    * same path with the new count — the receiving instance MUST be
    * discarded (its `bucketOf` would prune point reads to the wrong
    * directory). Lock mode only: a manifest-mode log re-buckets by parallel
    * copy into a fresh path + reader cutover, which is also the zero-
    * downtime recipe at 100 TB (this in-place form assumes its maintenance
    * window).
    */
  def rebucket(newNumBuckets: Int): EventLog = withLogLock(path) {
    require(newNumBuckets > 0, "newNumBuckets must be positive")
    require(commitMode == CommitMode.Lock,
      "in-place rebucket is lock-mode only; manifest logs re-bucket by copy + cutover")
    Seq(eventsPath -> evSchema, snapshotsPath -> snSchema).foreach { case (table, schema) =>
      val tmp = s"$table.rebucket-tmp"
      if (copyTable(table, tmp, schema, newNumBuckets)) {
        val dst = new Path(table)
        val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
        fs.delete(dst, true)
        fs.rename(new Path(tmp), dst): Unit
        graft.sources.GraftMeta.invalidate(table)
        graft.sources.GraftMeta.write(spark, table, newNumBuckets)
      }
    }
    new EventLog(spark, path, newNumBuckets, discriminatorKeys, ulidSeed,
      commitMode, discriminatorPolicy)
  }

  /** The manifest-mode (and 100 TB zero-downtime) re-bucketing recipe the
    * in-place form above points at: parallel COPY of the committed view into
    * a FRESH log path under the new bucket count, then reader cutover. The
    * source log stays fully readable and writable throughout; the copy
    * reads read-committed (pending claims and replaced files excluded), so
    * the new log is a consistent snapshot as of the copy's start. Writers
    * must be quiesced (or their tail re-driven) before cutting over —
    * that's the cutover protocol's job, not this method's; the method
    * returns a log whose content equals the source's committed view at
    * entry, bit-for-bit except the bucket assignment.
    *
    * One distributed rewrite per table, no driver materialization; the new
    * chain starts empty (plain data files are visible to manifest readers —
    * claims only gate files written THROUGH the chain).
    */
  def rebucketCopy(newPath: String, newNumBuckets: Int): EventLog = {
    require(newNumBuckets > 0, "newNumBuckets must be positive")
    require(commitMode == CommitMode.Manifest,
      "rebucketCopy is the manifest-mode recipe; lock-mode logs rebucket in place")
    // An ALIASED destination (trailing slash, relative vs absolute, symlink)
    // must not pass a raw string compare: SaveMode.Overwrite would delete the
    // source events directory while the copy job is still lazily reading it.
    // Compare filesystem-qualified paths instead.
    locally {
      val conf = spark.sessionState.newHadoopConf()
      def qualified(p: String) = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).makeQualified(hp)
      }
      require(qualified(newPath) != qualified(path),
        s"rebucketCopy needs a fresh destination path (got an alias of the source: $newPath)")
    }
    copyTable(eventsPath, s"$newPath/events", evSchema, newNumBuckets)
    copyTable(snapshotsPath, s"$newPath/snapshots", snSchema, newNumBuckets)
    new EventLog(spark, newPath, newNumBuckets, discriminatorKeys, ulidSeed,
      commitMode, discriminatorPolicy)
  }

  /** Snapshot compaction: drop superseded snapshots, keeping the latest per
    * stream (the only one `latestSnapshot` ever serves).
    */
  def compactSnapshots(): Unit = withLogLock(path) {
    // bucket-local latest-per-key IS global latest-per-key (aggregate_id
    // determines the bucket)
    val w = Window.partitionBy(col("aggregate_id")).orderBy(col("id").desc)
    rewriteBuckets("compactSnapshots", 0 until numBuckets)(TableRewrite(snapshotsPath, snSchema,
      _.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn"))): Unit
  }

  // ── internals ────────────────────────────────────────────────────────────

  /** Per-stream version heads from COMMITTED data only. The claim-aware view
    * matters in manifest mode: rows of pending/crashed claims' hidden token
    * files must not feed head computation directly — they are covered by
    * [[ManifestCommitLog.reservedHead]] while their claim lives, and
    * physically deleted before the claim is forgotten. Reading them here
    * would otherwise couple correctness to prune's internal delete ordering.
    *
    * One single-stage job with no exchange: each task reduces its split of
    * the touched buckets to a max per stream, and the driver merges those
    * few pairs. A `groupBy.agg` would plan a hash exchange (a map job and a
    * result job) for a result of one row per stream.
    */
  private def maxVersions(aggregateIds: Seq[String],
      refreshed: Boolean = false): Map[String, Int] = {
    import spark.implicits._
    pointScan(eventsPath, evSchema, aggregateIds.map(bucketOf), refreshed)
      .fold(Map.empty[String, Int])(_
        .filter(col("aggregate_id").isin(aggregateIds: _*))
        .select("aggregate_id", "aggregate_version")
        .as[(String, Int)]
        .mapPartitions(EventLog.maxPerStream)
        .collect()
        .groupMapReduce(_._1)(_._2)(math.max))
  }

  /** The scan of a point read: only the `bucket=k` directories of
    * `buckets`, with the table root as `basePath` so `bucket` still reads
    * as a column, through [[committedView]]. Its listing covers those
    * directories and never the whole table, so it does not grow with the
    * bucket count or with other buckets' files. None when none of the
    * directories exists.
    * A directory deleted under the read (a Lock rewrite deletes the buckets
    * it empties) drops out of it instead of failing it with
    * `PATH_NOT_FOUND`.
    */
  private def pointScan(table: String, schema: StructType, buckets: Seq[Int],
      refreshed: Boolean = false): Option[DataFrame] = {
    val dirs = buckets.distinct.sorted.map(b => s"$table/bucket=$b")
      .filter(d => logFs.exists(new Path(d)))
    if (dirs.isEmpty) None
    else try Some(committedView(spark.read.schema(addBucket(schema))
      .option("basePath", table).parquet(dirs: _*), refreshed))
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        pointScan(table, schema, buckets, refreshed)
    }
  }

  /** Every commit writes EXACTLY ONE id-sorted file per touched bucket:
    * live projectors read the log as a file stream, and a commit scattered
    * over several files per bucket can have those files straddle
    * micro-batches in arbitrary listing order — the per-partition monotonic
    * dedup then drops the lower-id rows as late. One file per bucket per
    * commit makes arrival order per dedup partition follow id order (files
    * within a commit are disjoint by bucket; across commits ids grow with
    * commit time). It is also the small-files fix: an N-task append no
    * longer writes N tiny files into one bucket.
    *
    * A distributed row set gets the layout from `repartition(bucket)`: the
    * shuffle carries the BATCH being committed, never the log.
    */
  private def bucketed(df: DataFrame): DataFrame =
    withBucketCol(df)
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "id")

  /** The held writer: a batch already on the driver (a point append's rows,
    * a snapshot) gets the same layout with no Spark job and no shuffle.
    * [[withBucketCol]] is evaluated locally (the plan is a local table
    * scan), and each touched bucket's rows, sorted by id, are written as
    * one file through Spark's parquet writer on the driver — the footer a
    * Spark write of the same rows gets — into a hidden staging directory
    * under the table's `.commit-tmp`: the claim's `c{N}` when `token` is
    * set (Manifest), a fresh `held-<uuid>` otherwise. [[moveStaged]] then
    * renames the files into their `bucket=k` directories, prefixed with the
    * token when there is one. A crash before the move leaves only hidden
    * staging, which no reader lists: a condemned claim's prune sweeps its
    * `c{N}`, and a later unclaimed held write of the table sweeps a
    * `held-<uuid>` older than [[EventLog.StaleLockMs]] (no live write takes
    * that long). Crash-hook labels: `"<op>: held write"`, `"<op>: held move"`.
    */
  private def writeHeld(op: String, table: String, rows: DataFrame,
      token: Option[String] = None): Unit = {
    val tmp = s"$table/.commit-tmp"
    val staging = s"$tmp/${token.getOrElse(s"held-${java.util.UUID.randomUUID()}")}"
    phase(s"$op: held write")(Bridge.writeLocalPartitioned(spark, withBucketCol(rows), "bucket",
      "id", staging, Map("compression" -> EventLog.Compression)))
    phase(s"$op: held move")(moveStaged(staging, table, token.fold("")(_ + "-")))
    graft.sources.GraftMeta.write(spark, table, numBuckets)
    if (token.isEmpty) {
      val staleBefore = System.currentTimeMillis() - EventLog.StaleLockMs
      logFs.listStatus(new Path(tmp))
        .filter(d => d.getPath.getName.startsWith("held-") && d.getModificationTime < staleBefore)
        .foreach(d => logFs.delete(d.getPath, true): Unit)
    }
  }

  private def withBucketCol(df: DataFrame): DataFrame =
    ensureDiscCols(df).withColumn("bucket", bucketCol())

  /** The bucket of a row, re-derived from `aggregate_id` — both tables
    * bucket by its FNV hash.
    */
  private def bucketCol(n: Int = numBuckets): Column =
    pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(n))

  /** The writer of the log's appends, rewrites and copies: bucket
    * directories, zstd, and `maxRecordsPerFile` (0 = unbounded; the option
    * is left unset then, so appends write exactly as they always have).
    */
  private def partitionedWriter(laidOut: DataFrame,
      maxRecordsPerFile: Long = 0L): DataFrameWriter[Row] = {
    val w = laidOut.write.partitionBy("bucket").option("compression", EventLog.Compression)
    if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
  }

  /** The Spark write of a distributed batch: [[bucketed]] rows into the
    * events table. Without a token (Lock) it appends in place. With a claim
    * token (Manifest) it writes to the claim's own `.commit-tmp/<token>` and
    * moves the part files in ([[moveStaged]]): concurrent appends to one
    * output path would share Spark's `_temporary/` staging and clobber each
    * other, even with versions reserved. Visibility may then be out of
    * claim order — harmless, versions are already reserved and readers
    * order by id/version, never by file arrival.
    */
  private def writeBucketed(rows: DataFrame, token: Option[String]): Unit = {
    val w = partitionedWriter(bucketed(rows))
    token match {
      case None => w.mode(SaveMode.Append).parquet(eventsPath)
      case Some(t) =>
        val tmp = s"$eventsPath/.commit-tmp/$t"
        w.mode(SaveMode.Overwrite).parquet(tmp)
        moveStaged(tmp, eventsPath, s"$t-")
    }
    graft.sources.GraftMeta.write(spark, eventsPath, numBuckets)
  }

  /** The one stage-and-move step of every manifest write and of the held
    * writer: moves the part files staged under `tmp` in `bucket=k`
    * directories into `table`'s bucket directories, each name prefixed
    * with `prefix` (`c{N}-`, the claim token that is the committed view's
    * membership key; empty for an unclaimed held write), then drops the
    * staging directory. Renames of finished files never conflict, so
    * commits stay parallel; a claim's staging lives under its
    * `.commit-tmp/c{N}` so a condemned claim's prune sweeps it.
    */
  private def moveStaged(tmp: String, table: String, prefix: String): Unit = {
    val staged = new Path(tmp)
    val fs = staged.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(staged)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("bucket="))
      .foreach { bdir =>
        val dest = new Path(table, bdir.getPath.getName)
        fs.mkdirs(dest)
        fs.listStatus(bdir.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(f => fs.rename(f.getPath, new Path(dest, prefix + f.getPath.getName)): Unit)
      }
    fs.delete(staged, true): Unit
  }

  // ── the commit section ───────────────────────────────────────────────────

  /** An attempt's verdict in [[commitSection]]: end the section with `a`
    * (committed, nothing to commit, or a skip), wait a lap (a rival's fate
    * is still undecided), or retry after a lost claim race.
    */
  private sealed trait Step[+A]
  private case class Done[+A](a: A) extends Step[A]
  private case object Wait extends Step[Nothing]
  private case object Lost extends Step[Nothing]

  /** A claim's version reservations, `(base, head]` per stream: inline
    * claim lines, or a staged parquet sidecar `(name, count, max head)`.
    */
  private case class Reservation(inline: Map[String, (Int, Int)],
      sidecar: Option[(String, Long, Int)] = None) {
    def claim(n: Long, kind: String = CommitClaim.KindAppend, replaced: Seq[String] = Nil,
        eventIds: Seq[String] = Nil, mark: Option[(String, Long)] = None): CommitClaim =
      CommitClaim(n, inline, eventIds, writerId, System.currentTimeMillis(), done = false,
        kind, replaced, mark.map(_._1), mark.fold(-1L)(_._2),
        sidecar.map(_._1), sidecar.fold(0L)(_._2), sidecar.fold(0)(_._3))
  }

  /** One attempt of [[commitSection]] for `op`. `chain` is the commit chain
    * as this attempt refreshed it (Manifest); None under the lock.
    */
  private final class Attempt(op: String, tip: Option[Long]) {
    val chain: Option[ManifestCommitLog] = tip.map(_ => manifest)
    private var sidecar: Option[String] = None
    private var won = false

    /** The one reservation step of every claim that reserves versions: a
      * bounded probe collects at most `inlineMax + 1` rows of `streams`
      * `(aggregate_id, base, head)`. Up to the limit they ride the claim TSV;
      * past it they go to a range-sorted parquet SIDECAR and the stream set
      * never touches the driver — claim file and driver memory stay flat at
      * 10⁸ streams. An attempt that does not win its claim drops the
      * sidecar (else it would sit as an orphan until prune's sweep).
      */
    def reserve(streams: DataFrame): Reservation = {
      val limit = ManifestCommitLog.inlineClaimMaxStreams
      val probe = phase(s"$op: heads probe")(streams.limit(limit + 1).collect())
      if (probe.length <= limit)
        Reservation(probe.map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap)
      else {
        val written = phase(s"$op: sidecar write")(manifest.writeSidecar(streams))
        sidecar = Some(written._1)
        Reservation(Map.empty, Some(written))
      }
    }

    /** Commits the attempt's writes; false on a lost claim race.
      *  - Lock: `stage(None)`.
      *  - Manifest: claims slot `tip + 1` with `claim(slot)`, stages under
      *    the claim token `c{N}`, then `"<op>: markDone"` — the single
      *    atomic switch. `claim` runs only here, so the reservation step
      *    and the checks before the claim go in it.
      */
    def commit(claim: Long => CommitClaim)(stage: Option[String] => Unit): Boolean =
      tip match {
        case None => stage(None); true
        case Some(t) =>
          val c = claim(t + 1)
          won = manifest.tryClaim(c)
          if (won) {
            stage(Some(ManifestCommitLog.token(c.n)))
            phase(s"$op: markDone")(manifest.markDone(c.n))
          }
          won
      }

    def close(): Unit = if (!won) sidecar.foreach(manifest.dropSidecar)
  }

  /** The one commit section of every write — appends ([[commitAppend]]) and
    * rewrites ([[rewriteBuckets]], migration included) — and the only place
    * a write branches on the commit mode:
    *  - Lock: run the attempt once inside the log lock. The lock is
    *    re-entrant, so maintenance callers that already hold it enter
    *    directly. The commit chain is never touched.
    *  - Manifest: at most 100 attempts, each: refresh the chain, run the
    *    attempt, whose [[Attempt.commit]] claims the next slot, stages
    *    under the claim token and marks it done. A lost claim race retries
    *    from the fresh chain. No lock: serializing writers through a JVM
    *    monitor would hide exactly the cross-driver races (rival
    *    redeliveries, concurrent imports) the chain must fence — the chain
    *    is the commit section.
    * Every exit that does not win a claim drops the attempt's sidecar.
    * Crash-hook labels are `"<op>: <step>"`.
    */
  private def commitSection[A](op: String)(attempt: Attempt => Step[A]): A = {
    val lock = commitMode == CommitMode.Lock
    def run(): A = {
      var lost = 0
      while (lost < 100) {
        val s = new Attempt(op, if (lock) None else Some(manifest.refresh()))
        val step = try attempt(s) finally s.close()
        step match {
          case Done(a) => return a
          case Wait => Thread.sleep(100)
          case Lost => lost += 1
        }
      }
      throw new IllegalStateException(s"$op lost $lost claim races — giving up")
    }
    if (lock) withLogLock(path)(run()) else run()
  }

  // ── the append kernel ────────────────────────────────────────────────────

  /** One append attempt's rows: held on the driver (a point append) or
    * distributed (checkpointed by [[commitAppend]], released on every
    * exit). `onePerStream`: at most one row per stream, so the claim's
    * reservations are a projection of the rows, not an aggregation.
    */
  private sealed trait Batch
  private case class Held(rows: Seq[EventRow]) extends Batch
  private case class Spread(rows: DataFrame, onePerStream: Boolean = false) extends Batch

  /** The one commit of every append — [[append]], [[bulkImport]],
    * [[appendBulk]] and [[appendNoOpFences]] — through [[commitSection]].
    * `mint(chain)` resolves the heads its rows continue from (committed
    * parquet, max'ed with the chain's reservations when there is a chain)
    * and mints them. A commit adds one id-sorted file per touched bucket:
    * held rows through the held writer ([[writeHeld]]: no Spark job, so a
    * one-record Lock `append` is its one version-check job), distributed
    * rows through [[writeBucketed]]. Under a chain the claim reserves the
    * minted versions and carries the held rows' ids and `mark`, the
    * ingest-ledger mark.
    *
    * `guard` runs first in every attempt and may end the append (a
    * successful no-op: a redelivered batch) or wait a lap; `refuse` runs
    * before claiming and throws to refuse it (a stream that must be new is
    * not). Every exit releases the attempt's checkpoint. `committed` runs
    * once the rows are committed or the mint made none. Returns the rows
    * committed.
    */
  private def commitAppend(op: String, mark: Option[(String, Long)] = None,
      guard: Option[ManifestCommitLog] => Option[Step[Long]] = _ => None,
      refuse: Reservation => Unit = _ => (),
      committed: () => Unit = () => ())(mint: Option[ManifestCommitLog] => Batch): Long = {
    // the batch and its row count; a distributed batch's count rides an
    // `observe` tap on its checkpoint pass (no separate count job)
    def minted[A](batch: Batch)(body: (Batch, Long) => A): A = batch match {
      case Held(rows) => body(batch, rows.size.toLong)
      case Spread(df, one) =>
        val obs = Observation()
        val cp = phase(s"$op: checkpoint rows")(
          df.observe(obs, count(lit(1)).as("n")).checkpointOwned())
        try body(Spread(cp, one), phase(s"$op: count")(obs.get("n").asInstanceOf[Long]))
        finally Checkpoints.release(cp)
    }
    // the write step; `token` is the claim's in Manifest mode
    def write(batch: Batch, token: Option[String]): Unit = batch match {
      case Held(rows) =>
        import spark.implicits._
        writeHeld(op, eventsPath, rows.toDS().toDF(), token)
      case Spread(df, _) => phase(s"$op: bucketed write")(writeBucketed(df, token))
    }
    // reservations derive from the minted rows themselves (base = min
    // version - 1), so a claim can never drift from what it writes
    def reservation(s: Attempt, batch: Batch): Reservation = batch match {
      case Held(rows) => Reservation(rows.groupMapReduce(_.aggregate_id)(r =>
        (r.aggregate_version - 1, r.aggregate_version)) {
        case ((b1, h1), (b2, h2)) => (math.min(b1, b2), math.max(h1, h2))
      })
      case Spread(df, true) => s.reserve(df.select(col("aggregate_id"),
        (col("aggregate_version") - 1).as("base"), col("aggregate_version").as("head")))
      case Spread(df, false) => s.reserve(df.groupBy(col("aggregate_id"))
        .agg((min(col("aggregate_version")) - 1).as("base"),
          max(col("aggregate_version")).as("head")))
    }
    commitSection(op) { s =>
      guard(s.chain).getOrElse(minted(mint(s.chain)) { (batch, n) =>
        val won = n == 0 || s.commit { slot =>
          val resv = reservation(s, batch)
          refuse(resv)
          resv.claim(slot, mark = mark, eventIds = batch match {
            case Held(rows) => rows.map(_.id)
            case _ => Nil
          })
        }(write(batch, _))
        if (won) { committed(); Done(n) } else Lost
      })
    }
  }

  // ── the copy-on-write rewrite kernel ─────────────────────────────────────

  /** One table's share of a [[rewriteBuckets]] call: `f` maps the rows of
    * the rewritten buckets of `table` (the events or snapshots directory)
    * to their replacement.
    */
  private case class TableRewrite(table: String, schema: StructType,
      f: DataFrame => DataFrame) {
    def name: String = if (table == eventsPath) "events" else "snapshot"
  }

  /** Rows a rewrite appends under its own commit — migration's fences and
    * copies: `heads` `(aggregate_id, base, head)` are their version
    * reservations, and `stale` is the check before the claim (true: a
    * stream moved past the plan, so the caller re-plans).
    */
  private case class Appended(rows: DataFrame, heads: DataFrame,
      stale: Reservation => Boolean)

  /** The one copy-on-write rewrite behind forget, migration, compaction,
    * snapshot compaction and retention, committed through
    * [[commitSection]]: each part's `f` maps the rows of `buckets` of its
    * table to their replacement, which lands in the same buckets laid out
    * by [[layOut]]; `appended` rows (migration's) land with them.
    *  - Lock: per table, [[rewriteInPlace]]; then the appended rows.
    *  - Manifest: claim ONE `rewrite` slot over every part's [[liveFiles]]
    *    (and the appended rows' versions, after their `stale` check), stage
    *    each part ([[stageRewrite]]) and the appended rows under the claim
    *    token, then `markDone` — the single atomic switch: new files in,
    *    replaced files out, GC separate ([[gcReplaced]]). Appends racing
    *    the rewrite keep their files, and a crash at any point leaves
    *    exactly one version visible.
    * Crash-hook labels: `"<op>: stage <table> rewrite"`, `"<op>: fence+copy
    * append"`, and under a chain the reservation's and `"<op>: markDone"`.
    *
    * Skip versus refuse: files a pending rival rewrite holds are the one
    * input the two modes can disagree on. Optional work — compaction,
    * snapshot compaction, retention — skips them (a later pass picks them
    * up), and a bucket set with nothing else live is a no-op; the skipped
    * files are returned (file → holding claim; empty under Lock). A rewrite
    * whose caller relies on it (`refuseHeld`: forget, migration) throws
    * [[ConcurrentModificationException]] naming the holding claim before
    * it claims anything. None when `appended`'s check asked for a re-plan.
    *
    * One claim covers the whole bucket set, so a rewriter that dies after
    * claiming quarantines every batched bucket from other rewrites until
    * prune condemns the claim (readers are never affected); schedulers that
    * want a smaller radius pass bucket subsets.
    */
  private def rewriteBuckets(op: String, buckets: Seq[Int],
      layout: CompactionLayout = CompactionLayout.IdSort, maxRecordsPerFile: Long = 0L,
      refuseHeld: Boolean = false, appended: Option[Appended] = None)(
      parts: TableRewrite*): Option[Map[String, Long]] = {
    val present = parts.filter(p => exists(p.table))
    if (buckets.isEmpty || present.isEmpty) return Some(Map.empty)
    commitSection(op) { s =>
      // each part's inputs: under a chain its live files, with the files a
      // pending rival rewrite holds apart; under the lock its whole buckets
      val (inputs, held) = s.chain.fold((present.map(_ -> Seq.empty[String]),
          Map.empty[String, Long])) { _ =>
        val live = present.map(p => p -> liveFiles(p.table, buckets))
        (live.collect { case (p, (files, _)) if files.nonEmpty => p -> files },
          live.flatMap(_._2._2).toMap)
      }
      if (refuseHeld && held.nonEmpty) throw heldError(held)
      def stage(token: Option[String]): Unit = {
        inputs.foreach { case (part, files) =>
          phase(s"$op: stage ${part.name} rewrite")(token.fold(
            rewriteInPlace(part, buckets, layout, maxRecordsPerFile))(
            stageRewrite(part, files, _, buckets.size, layout, maxRecordsPerFile)))
        }
        appended.foreach(a => phase(s"$op: fence+copy append")(writeBucketed(a.rows, token)))
      }
      val resv = for (a <- appended; _ <- s.chain) yield s.reserve(a.heads)
      if (inputs.isEmpty && appended.isEmpty) Done(Some(held))
      else if (appended.zip(resv).exists { case (a, r) => a.stale(r) }) Done(None)
      else if (s.commit(resv.getOrElse(Reservation(Map.empty))
          .claim(_, CommitClaim.KindRewrite, inputs.flatMap(_._2)))(stage)) Done(Some(held))
      else Lost
    }
  }

  /** The Lock half of a rewrite: `f` over the part's `buckets`,
    * checkpointed (the write replaces its own source). The buckets `f`
    * emptied are deleted, because a dynamic overwrite never touches a
    * partition absent from its output; the rest are dynamic-overwritten.
    */
  private def rewriteInPlace(part: TableRewrite, buckets: Seq[Int],
      layout: CompactionLayout, maxRecordsPerFile: Long): Unit = {
    val TableRewrite(table, schema, f) = part
    val source = spark.read.schema(addBucket(schema)).parquet(table)
      .filter(col("bucket").isin(buckets: _*)).drop("bucket")
    val populated = Observation()
    Checkpoints.withCheckpointed(f(source).withColumn("bucket", bucketCol())
        .observe(populated, collect_set(col("bucket")).as("buckets"))) { out =>
      val written = populated.get("buckets").asInstanceOf[scala.collection.Seq[Int]].toSet
      buckets.filterNot(written).foreach(b => logFs.delete(new Path(s"$table/bucket=$b"), true))
      if (written.nonEmpty)
        partitionedWriter(layOut(out, buckets.size, layout), maxRecordsPerFile)
          .option("partitionOverwriteMode", "dynamic")
          .mode(SaveMode.Overwrite).parquet(table)
    }
  }

  /** The one input rule of a manifest rewrite, over the chain as the latest
    * `manifest.refresh()` saw it: the parquet files of `buckets` that are
    * committed and current. Files a done rewrite replaced are excluded
    * (copying them back would resurrect stale rows), and so are files
    * carrying a pending claim's token (not committed yet). Files a rewrite
    * the cache still calls pending lists as replaced come back apart, as
    * `held` (file → holding claim): once that rival's done marker shows,
    * they are hidden and its own output shows, so a rewrite that read them
    * would commit their rows a second time. Each caller decides whether
    * held files mean skip or refuse (see [[rewriteBuckets]]).
    */
  private def liveFiles(table: String,
      buckets: Seq[Int]): (Seq[String], Map[String, Long]) = {
    val pending = manifest.cachedClaims().filterNot(_.done)
    val pendingNs = pending.map(_.n).toSet
    val stale = manifest.replacedRelnames()
    // disk truth, not the cache: the cache remembers claims prune already
    // condemned, and a condemned rewrite (no trace on disk) holds nothing.
    // A claim whose fate already reads done still holds: its marker may be
    // missing (crashed writer) or newer than this refresh, and until the
    // cache sees it its files stay in `stale`'s blind spot
    val holder = pending
      .filter(c => c.kind == CommitClaim.KindRewrite && manifest.status(c.n).isDefined)
      .flatMap(c => c.replaced.map(p => ManifestCommitLog.relname(p) -> c.n)).toMap
    val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    val current = buckets.flatMap { b =>
      val dir = new Path(s"$table/bucket=$b")
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") &&
          !ManifestCommitLog.tokenClaim(p.getName).exists(pendingNs))
        .map(_.toString)
        .filterNot(p => stale.contains(ManifestCommitLog.relname(p)))
    }.sorted
    val (held, live) = current.partition(p => holder.contains(ManifestCommitLog.relname(p)))
    (live, held.map(p => p -> holder(ManifestCommitLog.relname(p))).toMap)
  }

  private def heldError(held: Map[String, Long]): ConcurrentModificationException =
    new ConcurrentModificationException(
      s"${held.size} input file(s) held by pending rewrite claim(s) " +
        held.values.toSeq.distinct.sorted.map(ManifestCommitLog.token).mkString(", ") +
        " — retry once it completes or manifest.prune condemns it")

  /** The manifest half of a rewrite, after the claim: `f` over the live
    * `inputs`, laid out over `nBuckets` buckets, staged under the claim
    * `token` and moved into place — hidden from committed readers until the
    * claim is done. No checkpoint: the inputs stay on disk until GC.
    */
  private def stageRewrite(part: TableRewrite, inputs: Seq[String], token: String,
      nBuckets: Int, layout: CompactionLayout, maxRecordsPerFile: Long): Unit = {
    val TableRewrite(table, schema, f) = part
    val tmp = s"$table/.commit-tmp/$token"
    val rows = f(spark.read.schema(schema).parquet(inputs: _*)).withColumn("bucket", bucketCol())
    partitionedWriter(layOut(rows, nBuckets, layout), maxRecordsPerFile)
      .mode(SaveMode.Overwrite).parquet(tmp)
    moveStaged(tmp, table, s"$token-")
  }

  /** How a rewrite arranges `bucket`-carrying rows over `nBuckets` bucket
    * directories — files per partition decide what a later scan can skip.
    *  - IdSort: one partition per bucket, sorted by `(bucket, id)` — one
    *    id-sorted file per bucket (the order live projectors and id-range
    *    scans rely on).
    *  - ZOrder: the per-bucket form of
    *    [[graft.ops.Layout.zorderRepartition]] — at most `filesPerBucket`
    *    files per bucket, each a contiguous Morton interval, so a bucket
    *    subset writes no more files than it asks for.
    */
  private def layOut(df: DataFrame, nBuckets: Int, layout: CompactionLayout): DataFrame =
    layout match {
      case CompactionLayout.IdSort =>
        df.repartition(nBuckets, col("bucket"))
          .sortWithinPartitions(col("bucket"), col("id"))
      case CompactionLayout.ZOrder(dims, bits, files) =>
        graft.ops.Layout.zorderRepartition(df, col("bucket"), nBuckets, dims, files, bits)
    }

  /** Copies `table`'s committed rows into `dest` under `nBuckets` buckets,
    * laid out like a rewrite; false when there is nothing to copy.
    * Shared by in-place [[rebucket]] (into a temp directory it then swaps
    * in) and [[rebucketCopy]].
    */
  private def copyTable(table: String, dest: String, schema: StructType,
      nBuckets: Int): Boolean = exists(table) && {
    val rows = committedView(spark.read.schema(addBucket(schema)).parquet(table))
      .drop("bucket").withColumn("bucket", bucketCol(nBuckets))
    partitionedWriter(layOut(rows, nBuckets, CompactionLayout.IdSort))
      .mode(SaveMode.Overwrite).parquet(dest)
    graft.sources.GraftMeta.write(spark, dest, nBuckets)
    true
  }

  private def exists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(hp) && fs.listStatus(hp).nonEmpty
  }

  private lazy val logFs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def withLogLock[A](path: String)(f: => A): A =
    EventLog.withLogLock(path, spark.sessionState.newHadoopConf())(f)

  private def addBucket(s: org.apache.spark.sql.types.StructType) =
    s.add("bucket", org.apache.spark.sql.types.IntegerType, nullable = true)

  private def emptyEvents(withBucket: Boolean): DataFrame = {
    val schema = if (withBucket) addBucket(evSchema) else evSchema
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  private def emptySnapshots: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snSchema)
}

object EventLog {
  /** zstd: best scan-speed/size trade-off for a log that is written once and
    * range-scanned many times (catchup replays at 100 TB are IO-bound).
    */
  val Compression = "zstd"

  /** TEST-ONLY crash injection: when set, called with each maintenance
    * phase label BEFORE the phase runs — a hook that throws simulates a
    * writer dying at that exact protocol step (the randomized
    * CrashInjectionSpec kills writers at every step of
    * claim→stage→sidecar→done and asserts recovery invariants). One
    * volatile read per phase when unset; never set in production.
    */
  @volatile var crashHook: Option[String => Unit] = None

  /** Commit lock acquisition timeout / staleness horizon. */
  val LockAcquireTimeoutMs = 60000L
  val StaleLockMs = 120000L

  /** The migration fence kind (reference: eventstore.go:17). */
  val KindInvalidated = "Invalidated"
  /** The projection-migration fence kind (reference: eventstore.go:123-131). */
  val KindNoOp = "NoOp"

  private val locks = new ConcurrentHashMap[String, Object]()

  /** The compat guard of `EventLog.migrate` and `EventStore.migrate`
    * (`api` names the caller in the error): both return a driver-side Seq,
    * so the COLLECT — never the committed migration — aborts past
    * `graft.migrate.collectMax` (default 100000 streams). A 10⁷-stream kind
    * must use `migrateDistributed` and keep the outcome frame distributed.
    */
  private[graft] def collectMigrated(migrated: Dataset[MigratedStream],
      api: String): Seq[MigratedStream] = {
    val cap = migrated.sparkSession.conf.get("graft.migrate.collectMax", "100000").toInt
    val out = migrated.limit(cap + 1).collect()
    if (out.length > cap) throw new IllegalStateException(
      s"$api touched more than graft.migrate.collectMax=$cap " +
        "streams — this compat API collects every per-stream outcome to the " +
        "driver; the migration itself committed, but for backfill-scale runs " +
        "use EventLog.migrateDistributed and keep the outcome frame distributed")
    out.toSeq.sortBy(_.aggregateId)
  }

  /** The qualified log paths whose commit lock this thread holds. */
  private val held = ThreadLocal.withInitial[java.util.Set[String]](() => new java.util.HashSet[String]())

  /** One partition's `(aggregate_id, version)` rows reduced to the max
    * version per stream (the map side of `maxVersions`).
    */
  private def maxPerStream(it: Iterator[(String, Int)]): Iterator[(String, Int)] = {
    val heads = scala.collection.mutable.HashMap.empty[String, Int]
    it.foreach { case (s, v) => if (heads.getOrElse(s, Int.MinValue) < v) heads(s) = v }
    heads.iterator
  }

  /** The single-writer commit section. Two layers:
    *  - a JVM-level monitor (writers inside one driver serialize cheaply);
    *  - a lock file `.graft.commit.lock` made by
    *    [[graft.core.CreateIfAbsent]], so writers in SEPARATE drivers on
    *    shared storage also exclude each other. A failed create — a lost
    *    race or an IO error — retries until [[LockAcquireTimeoutMs]].
    *    Stale locks (holder died) are broken after [[StaleLockMs]] by a
    *    rename, an exclusive take only on `file` and HDFS; on object
    *    stores use manifest mode — the claim chain IS the commit section.
    * Re-entrant: a thread that already holds the lock runs `f` at once, so
    * a maintenance op holding it can commit through the commit section.
    */
  private[log] def withLogLock[A](path: String,
      conf: org.apache.hadoop.conf.Configuration)(f: => A): A = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    // qualify so two EventLog instances addressing the same directory
    // through different spellings share one commit section
    val qualified = fs.makeQualified(root)
    val holds = held.get()
    if (holds.contains(qualified.toString)) return f
    val lock = locks.computeIfAbsent(qualified.toString, _ => new Object)
    lock.synchronized {
      val lockFile = new org.apache.hadoop.fs.Path(qualified, ".graft.commit.lock")
      fs.mkdirs(qualified)
      val deadline = System.currentTimeMillis() + LockAcquireTimeoutMs
      var acquired = false
      while (!acquired) {
        // an IO error is retried like a lost race, until the deadline
        acquired = try CreateIfAbsent(fs, lockFile, "")
          catch { case _: java.io.IOException => false }
        if (!acquired) {
          val age =
            try System.currentTimeMillis() - fs.getFileStatus(lockFile).getModificationTime
            catch { case _: java.io.IOException => Long.MinValue } // gone — retry now
          if (age > StaleLockMs) {
            // Break a stale lock (holder died mid-commit) via exclusive TAKE
            // (rename to a tombstone), never a blind delete: with two
            // waiters, a blind second delete can remove the first waiter's
            // freshly-acquired lock and let both inside the section. Only
            // the rename winner owns the break; it re-checks that what it
            // took really was stale (a fresh lock created in the
            // stat→rename instant is handed back).
            val tomb = new org.apache.hadoop.fs.Path(qualified,
              s".graft.commit.lock.stale.${java.util.UUID.randomUUID()}")
            val took = try fs.rename(lockFile, tomb)
              catch { case _: java.io.IOException => false }
            if (took) {
              val fresh =
                try System.currentTimeMillis() -
                  fs.getFileStatus(tomb).getModificationTime <= StaleLockMs
                catch { case _: java.io.IOException => false }
              if (!fresh) fs.delete(tomb, false): Unit
              else {
                // Took a FRESH lock by mistake (created in the stat→rename
                // instant): hand it back. The rename target may be occupied
                // by another waiter that slipped in — deleting the tomb
                // there would destroy the fresh holder's lock while it is
                // inside its critical section (its exit-delete would then
                // remove the interloper's lock: cascading breakage). Retry
                // until the slot frees; fail LOUDLY if it never does.
                var restored = false
                var linked = false // file://: survives a failed tomb delete
                val restoreDeadline = System.currentTimeMillis() + LockAcquireTimeoutMs
                while (!restored && System.currentTimeMillis() < restoreDeadline) {
                  restored =
                    if (fs.getScheme == "file") {
                      // RawLocalFileSystem.rename is POSIX rename(2), which
                      // REPLACES an existing target — a plain rename-back
                      // would clobber an interloper's lock. link(2) is the
                      // atomic create-if-absent: link the tomb back in only
                      // when the slot is free, then drop the tomb name (same
                      // inode — the holder's lock survives under its path).
                      // `linked` remembers a link that succeeded so a failed
                      // tomb delete retries ONLY the delete — re-linking
                      // would hit our own lock file forever.
                      try {
                        if (!linked) {
                          java.nio.file.Files.createLink(
                            java.nio.file.Paths.get(lockFile.toUri.getPath),
                            java.nio.file.Paths.get(tomb.toUri.getPath))
                          linked = true
                        }
                        java.nio.file.Files.deleteIfExists(
                          java.nio.file.Paths.get(tomb.toUri.getPath)): Unit
                        true
                      } catch { case _: java.io.IOException => false }
                    } else
                      // HDFS rename fails when the destination exists
                      try fs.rename(tomb, lockFile)
                      catch { case _: java.io.IOException => false }
                  if (!restored) Thread.sleep(20)
                }
                if (!restored) {
                  if (linked)
                    // the link DID restore the holder's lock — the tomb is
                    // just a redundant hard-link name for the same inode
                    // that kept resisting deletion. Not a lock-safety
                    // problem: nothing ever treats a `.stale.*` tombstone
                    // as a lock. Leave it for a later sweep, don't tell an
                    // operator to "restore" it over a live lock.
                    System.err.println(
                      s"[graft] stale-break: lock $lockFile handed back via " +
                        s"link, but the tombstone $tomb could not be deleted " +
                        "— harmless leftover, safe to delete manually")
                  else throw new IllegalStateException(
                    s"stale-break race: could not hand back fresh lock $lockFile; " +
                      s"holder's lock is at $tomb — manual cleanup required")
                }
              }
            }
          } else if (System.currentTimeMillis() > deadline) {
            throw new IllegalStateException(
              s"could not acquire commit lock $lockFile within ${LockAcquireTimeoutMs} ms")
          } else Thread.sleep(20)
        }
      }
      holds.add(qualified.toString)
      try f finally {
        holds.remove(qualified.toString)
        fs.delete(lockFile, false): Unit
      }
    }
  }
}
