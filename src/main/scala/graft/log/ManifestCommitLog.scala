package graft.log

import graft.core.CreateIfAbsent
import java.net.{URLDecoder, URLEncoder}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.regexp_extract
import scala.collection.concurrent.TrieMap

/** One committed (or reserved) commit: manifest number, per-stream version
  * movement (appends), the event ids it wrote, and — for `kind = "rewrite"`
  * — the data files it replaces. A rewrite claim's `done` marker is the
  * atomic visibility switch: before it, readers see the replaced files and
  * ignore the claim's new files (pending token); after it, the new files are
  * visible and the replaced ones are excluded until physically deleted.
  */
case class CommitClaim(
    n: Long,
    streams: Map[String, (Int, Int)], // aggregate_id -> (baseVersion, newHead)
    eventIds: Seq[String],
    writer: String,
    tsMs: Long,
    done: Boolean,
    kind: String = CommitClaim.KindAppend,
    replaced: Seq[String] = Nil, // full paths of files this rewrite supersedes
    // ingest-ledger mark: a DONE claim carrying (ledgerId, batch) makes the
    // batch's redelivery a no-op — the dedup check and the commit share the
    // chain's atomic done-flip, so there is no crash window between them
    ledgerId: Option[String] = None,
    ledgerBatch: Long = -1L,
    // bulk reservations beyond the inline threshold live in a parquet
    // SIDECAR inside the commit dir (name only; resolved against it): one
    // (aggregate_id, base, head) row per stream, range-sorted so point
    // probes prune to one file + row group. The claim TSV then stays tiny
    // no matter how many streams a backfill reserves, and the driver never
    // folds them into memory — lookups go through reservedHeads /
    // reservationsDF. `refCount`/`refMaxHead` are the sidecar's summary.
    streamsRef: Option[String] = None,
    refCount: Long = 0L,
    refMaxHead: Int = 0)

object CommitClaim {
  val KindAppend = "append"
  val KindRewrite = "rewrite"
}

/** The object-store-safe commit protocol (README roadmap #1): a claim chain
  * under `<path>/_graft_commit/` where commit `N` is the file `v{N}.tsv`,
  * created with [[graft.core.CreateIfAbsent]]: link(2) on `file`, a
  * no-overwrite rename on HDFS, a conditional PUT (`If-None-Match: *`) on
  * object stores. That single primitive serializes writers without any
  * wall-clock lock:
  *
  *  1. a writer reads the chain tip `N` and computes each touched stream's
  *     head as `max(parquet head, highest claimed head in the chain)`;
  *  2. validates the caller's `expectedVersion` against that head (the
  *     reference's UNIQUE(aggregate_id, aggregate_version) check,
  *     store/postgresql/store.go:702);
  *  3. claims `v{N+1}.tsv` listing the version range it RESERVES;
  *     a lost race (file already exists) loops back to 1;
  *  4. only after the claim succeeds does it write the parquet data, then
  *     drops a `v{N+1}.done` marker.
  *
  * Reservation semantics make crashes safe without rollback machinery: a
  * claimant that dies after step 3 leaves a claim whose versions are never
  * reused (later writers see the reserved head), so the worst outcome of a
  * crash is a version GAP for a commit that was never acknowledged — never a
  * duplicate (stream, version) pair, even if the dead writer's parquet write
  * lands minutes later. Folds order by version and are gap-tolerant.
  *
  * Scope: fences appends AND bucket-rewriting maintenance against each
  * other. Rewrites (forget, migrate, compact) claim at FILE granularity —
  * an append committing during a rewrite keeps its files (they are not in
  * the claim's `replaced` set) — and version-assigning maintenance
  * (migrate's fences+copies, NoOp fences) reserves its versions in the
  * claim and re-validates planned heads at claim time, re-planning when a
  * concurrent append moved them. The one remaining convention: a single
  * MAINTENANCE writer at a time (rewrite-vs-rewrite of one bucket is not
  * fenced; the in-process log lock serializes it per driver, and
  * deployments run maintenance from one scheduler).
  */
class ManifestCommitLog(spark: SparkSession, logPath: String) {
  import ManifestCommitLog._

  private val dir = new Path(logPath, CommitDir)
  private def fs: FileSystem = dir.getFileSystem(spark.sessionState.newHadoopConf())

  // claims are immutable once created — cache by number; `done` can flip once
  private val cache = TrieMap.empty[Long, CommitClaim]

  /** List the chain, load any claims not yet cached, return the tip (0 when
    * the chain is empty). One LIST per refresh — the object-store cost of a
    * commit round-trip.
    */
  def refresh(): Long = {
    val f = fs
    if (!f.exists(dir)) return cache.keys.foldLeft(0L)(math.max)
    val statuses = f.listStatus(dir)
    val doneSet = statuses.iterator.map(_.getPath.getName)
      .collect { case DoneRe(n) => n.toLong }.toSet
    var tip = 0L
    statuses.foreach { st =>
      st.getPath.getName match {
        case ClaimRe(nStr) =>
          val n = nStr.toLong
          tip = math.max(tip, n)
          val cached = cache.get(n)
          if (cached.isEmpty) {
            cache.put(n, readClaim(f, n, doneSet.contains(n))): Unit
          } else if (doneSet.contains(n) && !cached.get.done) {
            cache.put(n, cached.get.copy(done = true)): Unit
          }
        case _ =>
      }
    }
    tip
  }

  /** Highest reserved head for a stream across the cached chain (0 when the
    * chain never touched it). Call after [[refresh]].
    */
  def reservedHead(aggregateId: String): Int =
    reservedHeads(Seq(aggregateId)).getOrElse(aggregateId, 0)

  /** Batched reserved-head lookup for a TOUCHED stream set (an append batch —
    * never the log): inline claim lines fold driver-side; sidecar claims are
    * consulted with ONE pruned parquet read across all of them (predicate
    * pushdown on the range-sorted stream key). Returns only streams the
    * chain reserves.
    */
  def reservedHeads(ids: Seq[String]): Map[String, Int] = {
    if (ids.isEmpty) return Map.empty
    val wanted = ids.toSet
    val acc = scala.collection.mutable.Map.empty[String, Int]
    cache.values.foreach(_.streams.foreach { case (s, (_, h)) =>
      if (wanted.contains(s) && h > acc.getOrElse(s, 0)) acc.put(s, h): Unit
    })
    val refs = sidecarPaths()
    if (refs.nonEmpty) {
      import org.apache.spark.sql.functions.{col, max}
      spark.read.parquet(refs: _*)
        .filter(col("aggregate_id").isin(ids: _*))
        .groupBy(col("aggregate_id")).agg(max(col("head")).as("head"))
        .collect().foreach { r =>
          val s = r.getString(0); val h = r.getInt(1)
          if (h > acc.getOrElse(s, 0)) acc.put(s, h): Unit
        }
    }
    acc.toMap
  }

  /** Every chain reservation as a DataFrame `(aggregate_id, base, head)` —
    * for DISTRIBUTED consumers (bulk new-stream probes, fence head merges,
    * migration staleness). None when the chain reserves nothing.
    */
  def reservationsDF(): Option[org.apache.spark.sql.DataFrame] = {
    import spark.implicits._
    val inline = cache.values
      .flatMap(c => c.streams.map { case (s, (b, h)) => (s, b, h) }).toSeq
    val refs = sidecarPaths()
    val inlineDF =
      if (inline.isEmpty) None
      else Some(inline.toDF("aggregate_id", "base", "head"))
    val sideDF =
      if (refs.isEmpty) None
      else Some(spark.read.parquet(refs: _*)
        .selectExpr("aggregate_id", "base", "head"))
    (inlineDF, sideDF) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
  }

  /** Stage a bulk claim's reservation sidecar BEFORE claiming: one parquet
    * table `(aggregate_id, base, head)`, range-sorted on the stream key so
    * point probes prune. Returns (name, count, maxHead) for the claim line.
    * A sidecar whose tryClaim never wins is an orphan; [[prune]] sweeps
    * unreferenced sidecars past the staleness horizon.
    */
  def writeSidecar(streams: org.apache.spark.sql.DataFrame): (String, Long, Int) = {
    import org.apache.spark.sql.functions.{col, count => cnt, max}
    // name carries the creation time: the orphan sweep ages sidecars by it
    // (directory mtimes are synthetic on object stores)
    val name = s"r${System.currentTimeMillis()}x" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val f = fs
    if (!f.exists(dir)) f.mkdirs(dir)
    // the claim-line summary rides an Observation on the write job itself —
    // no second job re-reading the parquet we just wrote
    val obs = org.apache.spark.sql.Observation()
    streams.selectExpr("aggregate_id", "base", "head")
      .repartitionByRange(col("aggregate_id"))
      .sortWithinPartitions(col("aggregate_id"))
      // AFTER the range shuffle: repartitionByRange samples its input in an
      // extra pass, and an upstream observe would double-count every row
      .observe(obs, cnt(col("aggregate_id")).as("n"), max(col("head")).as("h"))
      .write.parquet(new Path(dir, name).toString)
    val summary = obs.get
    (name, summary("n").asInstanceOf[Long], summary("h").asInstanceOf[Int])
  }

  /** Best-effort delete of a staged sidecar that never made it into a won
    * claim (the stager re-planned or gave up). Purely an optimization — an
    * un-dropped orphan is swept by [[prune]] past the staleness horizon.
    */
  def dropSidecar(name: String): Unit =
    try fs.delete(new Path(dir, name), true): Unit
    catch { case _: java.io.IOException => }

  private def sidecarPaths(): Seq[String] =
    cache.values.flatMap(_.streamsRef).toSeq.distinct
      .map(n => new Path(dir, n).toString)

  /** Step 3: conditional create of claim `n`. False = lost the race. */
  def tryClaim(claim: CommitClaim): Boolean = {
    val f = fs
    if (!f.exists(dir)) f.mkdirs(dir)
    if (!CreateIfAbsent(f, claimPath(claim.n), render(claim))) return false
    cache.put(claim.n, claim)
    true
  }

  /** The fate file's content (`done` | `condemned`), None when absent. A
    * missing fate falls back to the PREVIOUS format's `v{n}.condemned`
    * marker (two-marker handshake, replaced by the single fate file): a log
    * written by that version can carry a condemnation — possibly with some
    * staged files already deleted by the prune that crashed leaving it —
    * and ignoring it would let a zombie markDone flip half-deleted staged
    * files to committed.
    */
  private def readFate(n: Long): Option[String] = {
    val f = fs
    try {
      val in = f.open(fatePath(n))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException =>
        if (f.exists(legacyCondemnedPath(n))) Some("condemned") else None
    }
  }

  /** Step 4: mark the claim's data as visible. Idempotent for the claim's
    * owner — but REFUSES a claim that [[prune]] condemned meanwhile (a
    * writer that outlived the staleness horizon): an unconditional done
    * marker for a deleted claim would be an orphan `v{n}.done` that flips
    * the condemned claim's partially-staged files to "committed" and lets
    * the zombie's GC delete live data.
    *
    * Consensus with prune is ONE atomic create-if-absent of `v{n}.fate`:
    * the writer races to create it with content `done`, prune with
    * `condemned` — the single winner decides the claim's fate and the loser
    * reads the content and yields. (A previous design used two separate
    * marker files with mutual second looks; an interleaving existed where
    * BOTH parties observed the other's first mark and both yielded — the
    * writer rolling back a done marker prune had already trusted, poisoning
    * prune's cache into done=true for a claim still pending on disk, whose
    * next prune then forgot the claim WITHOUT deleting its staged files.)
    * The listing-visible `v{n}.done` marker is DERIVED from a won fate —
    * created only when the fate file says done — so it can never be rolled
    * back once observed.
    */
  def markDone(n: Long): Unit = {
    val f = fs
    def refuseCondemned(): Nothing = throw new ConcurrentModificationException(
      s"claim $n was condemned by prune before markDone — the writer outlived " +
        "the staleness horizon; its staged files are gone, retry the whole write")
    def refusePruned(): Nothing = throw new ConcurrentModificationException(
      s"claim $n is gone from the chain — pruned as committed-and-forgotten OR " +
        "condemned past the staleness horizon. Do NOT blindly retry the write: " +
        "a retry re-validates versions/ledger against the data, which is the " +
        "safe arbiter of whether the original commit stood")
    def flip(): Unit = {
      f.create(donePath(n), true).close()
      cache.get(n).foreach(c => cache.put(n, c.copy(done = true)))
    }
    var attempts = 0
    while (true) {
      attempts += 1
      if (!f.exists(claimPath(n))) refusePruned()
      // a legacy-format condemnation (prior two-marker protocol) has no fate
      // file to lose the race against — honor it BEFORE racing. Legacy
      // markers are never created by this version, so pre-existing is the
      // only way one can be observed; no check is needed after the win.
      if (f.exists(legacyCondemnedPath(n))) refuseCondemned()
      if (CreateIfAbsent(f, fatePath(n), "done")) {
        // prune deletes the claim file BEFORE the fate file, so winning the
        // fate race against an already-cleaned claim is possible — re-check
        // and retract. Nothing can have trusted the retracted fate: status()
        // ignores a fate whose claim file is gone.
        if (!f.exists(claimPath(n))) { f.delete(fatePath(n), false): Unit; refusePruned() }
        flip(); return
      }
      readFate(n) match {
        case Some("done") => flip(); return // idempotent re-call, or healing a crashed twin
        case Some(_) => refuseCondemned()
        case None =>
          // the fate vanished between the failed create and the read: a
          // prune is mid-cleanup (the claim check above re-classifies next
          // lap). CreateIfAbsent PROPAGATES transient IO errors, so None here
          // is never an error in disguise — loop, bounded as a safety valve.
          if (attempts >= 5) throw new java.io.IOException(
            s"claim $n: fate file keeps vanishing after $attempts attempts — " +
              "is a prune loop stuck mid-cleanup? resolve manually before retrying")
      }
    }
  }

  /** The chain, oldest first (for inspection and tests). */
  def claims(): Seq[CommitClaim] = {
    refresh(): Unit
    cachedClaims()
  }

  /** Bucket-qualified relative names (`bucket=N/<basename>`) of every file
    * superseded by a completed rewrite — THE committed-read exclusion,
    * shared by the batch readers ([[graft.log.EventLog]]'s committedView)
    * and the live projector gate so the two can never drift. Pure cache
    * read; callers pick the refresh policy ([[refresh]]/[[claims]]) first.
    *
    * Bare basenames do NOT suffice, despite part-file task UUIDs: one
    * partitioned write emits the SAME part-file name into every bucket
    * directory it touches, so a bucket-0 rewrite keyed by basename would
    * hide (and eventually GC) the sibling files of all other buckets —
    * a committed-view data loss. Matching on the last two path segments
    * pins the exclusion to the one file the rewrite actually replaced.
    */
  def replacedRelnames(): Set[String] = cache.values
    .filter(c => c.done && c.kind == CommitClaim.KindRewrite)
    .flatMap(_.replaced).map(ManifestCommitLog.relname).toSet

  /** The cached chain WITHOUT a fresh LIST — what the latest [[refresh]]
    * observed (plus pruned-but-remembered entries). For retry loops that
    * just refreshed and must re-examine the chain without paying a second
    * listing per iteration.
    */
  def cachedClaims(): Seq[CommitClaim] = cache.values.toSeq.sortBy(_.n)

  /** Disk-truth status of claim `n`, bypassing the cache (which deliberately
    * remembers pruned claims): `Some(true)` = done, `Some(false)` = pending,
    * `None` = no trace on disk (pruned — committed-then-forgotten or
    * condemned; the claim's data files distinguish the two: committed data
    * survives prune, a condemned claim's staged files are deleted by it).
    */
  def status(n: Long): Option[Boolean] = {
    val f = fs
    if (f.exists(donePath(n))) Some(true)
    else if (f.exists(claimPath(n))) {
      // fate says done but the marker is missing: the writer won the fate
      // race and crashed in the instant before deriving the marker. Report
      // committed WITHOUT healing the marker — status() is the read-only
      // disk-truth probe (read-only reader deployments call it from the
      // live gate, where a write would throw AccessControlException); the
      // writers that heal are markDone's idempotent re-call and prune's
      // handshake. Gated on the claim file existing so a retracted fate
      // (markDone's losing window against an already-cleaned claim) is
      // never trusted.
      if (readFate(n).contains("done")) Some(true) else Some(false)
    } else None
  }

  /** Drop chain entries whose reservations are fully reflected in `heads`
    * (the parquet per-stream maxima) — safe to forget because later writers
    * recompute the same heads from the data itself. Claims not yet `done`
    * are kept unless older than `staleMs` (a crashed claimant's gap becomes
    * permanent once pruned, which is exactly its semantics).
    *
    * Two invariants the delete must not break:
    *  - a DONE claim carrying an ingest-ledger mark is the redelivery dedup
    *    record when the writer crashed before the ledger-file write — the
    *    ledger file is restored (if behind) BEFORE the claim is forgotten;
    *  - a STALE PENDING claim's token-prefixed data files are hidden only
    *    while the claim exists — they are physically deleted BEFORE the
    *    claim is, so a half-moved crashed commit can never resurface as
    *    committed data.
    */
  def prune(heads: Map[String, Int], staleMs: Long = 24L * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Int = {
    refresh(): Unit
    val f = fs
    var tip = cache.keys.foldLeft(0L)(math.max)
    // A stale pending claim AT THE TIP would otherwise be un-condemnable
    // forever on an idle log (the tip is pinned below so cold-start claim
    // numbering never regresses): move the tip off it with a no-op fence
    // claim, then condemn it in this same pass.
    if (cache.get(tip).exists(c => !c.done && nowMs - c.tsMs > staleMs)) {
      val fence = CommitClaim(tip + 1, Map.empty, Seq.empty, "prune-fence",
        nowMs, done = false)
      if (tryClaim(fence)) markDone(fence.n)
      tip = math.max(refresh(), tip + 1)
    }
    val removable = cache.values.filter { c =>
      c.n != tip && // keep the tip so refresh() never regresses the chain
        (c.kind match {
          // a rewrite claim still carries read-path semantics (exclude the
          // replaced files) until those files are physically gone. A claim
          // whose writer DIED pending must also be condemnable — its staged
          // files never became visible, the replaced files were never
          // deleted, so dropping its tokens restores the exact pre-rewrite
          // log; leaving it would wedge the live-projector commit gate and
          // every future migration forever
          case CommitClaim.KindRewrite =>
            (c.done && c.replaced.forall(p => !f.exists(new Path(p)))) ||
              (!c.done && nowMs - c.tsMs > staleMs)
          case _ if c.streamsRef.isDefined =>
            // sidecar bulk claim: its data is visible the instant done flips
            // (files move before markDone), so parquet heads cover the
            // reservations by construction — forget after the staleness
            // horizon rather than folding 10⁸ sidecar lines against `heads`
            nowMs - c.tsMs > staleMs
          case _ =>
            (c.done &&
              c.streams.forall { case (s, (_, head)) => heads.getOrElse(s, 0) >= head }) ||
              (!c.done && nowMs - c.tsMs > staleMs)
        })
    }.toSeq
    removable.foreach { c =>
      // Handshake with a possibly-still-ALIVE slow writer: race for the
      // claim's single fate file (see markDone). Winning it condemns the
      // claim irrevocably; losing it means the writer committed after all —
      // back off and treat the claim as the committed claim it is (deriving
      // the done marker the writer may not have written yet). Exactly one
      // party ever wins, so a late markDone can never flip a claim this
      // pass cleans, and this pass can never cache done=true for a claim
      // the writer is about to roll back.
      //
      // resolution: 0 = clean up (forget a done claim / condemn a pending
      // one), 1 = the writer committed (marker derived, claim kept), 2 =
      // already resolved by a RIVAL prune — skip. The skip matters: the
      // cache deliberately remembers pruned claims, so a stale entry here
      // can describe a claim a rival already committed-and-forgot, whose
      // surviving c{N}- files are COMMITTED data; condemning it now would
      // win a fresh fate on a clean slate and delete live rows. Disk truth
      // (the claim file) gates every condemnation.
      val resolution: Int =
        if (c.done) 0
        else if (!f.exists(claimPath(c.n))) 2 // rival finished; nothing of ours left
        else if (CreateIfAbsent(f, fatePath(c.n), "condemned")) {
          // symmetric with markDone's post-win re-check: the claim can
          // vanish between the exists probe and the create (a rival
          // forgetting a committed claim deletes claim first, fate last) —
          // retract the hollow win and skip.
          if (!f.exists(claimPath(c.n))) { f.delete(fatePath(c.n), false): Unit; 2 }
          else 0
        } else readFate(c.n) match {
          case Some("done") =>
            f.create(donePath(c.n), true).close()
            cache.put(c.n, c.copy(done = true)): Unit
            1
          case Some(_) => 0 // a crashed prior prune's "condemned" (incl. legacy): finish its job
          case None =>
            // lost the fate race, then the fate vanished: a rival prune is
            // mid-cleanup. Acting on a half-cleaned claim without a won
            // fate would be acting without consensus — leave it to the
            // rival (or re-examine next pass).
            2
        }
      if (resolution == 0) {
        if (c.done) c.ledgerId.foreach(id => restoreLedger(f, id, c.ledgerBatch))
        if (!c.done) deleteTokenFiles(f, c.n)
        c.streamsRef.foreach(r => f.delete(new Path(dir, r), true): Unit)
        // deletion order carries the protocol: the CLAIM file goes first
        // (markDone refuses on a missing claim; until then the condemned
        // fate blocks it), the fate file goes LAST — so no window exists in
        // which a late markDone could win a fresh fate on a half-cleaned
        // claim whose file deletions are still in flight.
        f.delete(claimPath(c.n), false)
        f.delete(donePath(c.n), false): Unit
        f.delete(legacyCondemnedPath(c.n), false): Unit
        f.delete(fatePath(c.n), false): Unit
        // keep the cache entry: it still carries the reservation in-memory,
        // protecting concurrent local writers; fresh processes rely on
        // `heads`. (the sidecar file is gone, so drop the ref or lookups
        // would fail)
        cache.put(c.n, c.copy(streamsRef = None)): Unit
      } else if (resolution == 2) {
        // the rival's cleanup deleted the sidecar before the claim file —
        // drop the dangling ref so reserved-head lookups don't read a path
        // that is gone
        cache.put(c.n, c.copy(streamsRef = None)): Unit
      }
    }
    // ONE listing serves both sweeps (a LIST is the dominant object-store
    // cost): orphan markers — fate/done files whose claim a crashed prune
    // deleted first (harmless meanwhile: markDone refuses on the missing
    // claim alone; status() ignores a claimless fate) — and orphan sidecars,
    // staged for a claim that never won its race (or whose writer died
    // before tryClaim), unreferenced and past the horizon.
    if (f.exists(dir)) {
      val statuses = f.listStatus(dir)
      val claimNames = statuses.iterator.map(_.getPath.getName)
        .collect { case nm @ ManifestCommitLog.ClaimRe(_) => nm }.toSet
      def claimMissing(n: String) = !claimNames.contains(s"v$n.tsv")
      val referenced = cache.values.flatMap(_.streamsRef).toSet
      statuses.foreach { s =>
        s.getPath.getName match {
          case ManifestCommitLog.FateRe(n) if claimMissing(n) =>
            f.delete(s.getPath, false): Unit
          case ManifestCommitLog.DoneRe(n) if claimMissing(n) =>
            f.delete(s.getPath, false): Unit
          case ManifestCommitLog.CondemnedRe(n) if claimMissing(n) =>
            f.delete(s.getPath, false): Unit // legacy two-marker leftover
          case nm if nm.startsWith("r") && s.isDirectory &&
              !referenced.contains(nm) => {
            // age from the CREATION TIME embedded in the name — object
            // stores don't maintain directory mtimes, and a synthetic mtime
            // of 0 would condemn an in-flight import's just-written sidecar
            val born = nm match {
              case ManifestCommitLog.SidecarRe(ts) => ts.toLong
              case _ => s.getModificationTime
            }
            if (nowMs - born > staleMs) f.delete(s.getPath, true): Unit
          }
          case _ =>
        }
      }
    }
    removable.size
  }

  /** Re-write the `_ingest/<id>` ledger file if it is absent or behind the
    * claim's batch (the claim is about to be forgotten and with it the
    * chain-side dedup record).
    */
  private def restoreLedger(f: FileSystem, id: String, batch: Long): Unit = {
    val p = new Path(logPath, s"_ingest/$id")
    val current =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
        finally in.close()
      }
    if (!current.exists(_ >= batch)) {
      val out = f.create(p, true)
      try out.write(batch.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Physically delete a (condemned pending) claim's token-prefixed files —
    * staged data that was hidden only by the claim's existence.
    */
  private def deleteTokenFiles(f: FileSystem, n: Long): Unit =
    Seq("events", "snapshots").foreach { table =>
      val root = new Path(logPath, table)
      if (f.exists(root)) {
        f.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
          .foreach { d =>
            f.listStatus(d.getPath)
              .filter(_.getPath.getName.startsWith(s"${token(n)}-"))
              .foreach(st => f.delete(st.getPath, false): Unit)
          }
        f.delete(new Path(root, s".commit-tmp/${token(n)}"), true): Unit
      }
    }

  private def claimPath(n: Long) = new Path(dir, s"v$n.tsv")
  private def donePath(n: Long) = new Path(dir, s"v$n.done")
  private def fatePath(n: Long) = new Path(dir, s"v$n.fate")
  // the previous two-marker protocol's condemnation marker: honored on read
  // (readFate fallback) and swept on prune, never created
  private def legacyCondemnedPath(n: Long) = new Path(dir, s"v$n.condemned")

  private def readClaim(f: FileSystem, n: Long, done: Boolean): CommitClaim = {
    val in = f.open(claimPath(n))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    parse(n, body, done)
  }
}

object ManifestCommitLog {
  val CommitDir = "_graft_commit"

  /** Last THREE path segments of a file path
    * (`<table>/bucket=N/<basename>`, e.g. `events/bucket=3/part-….parquet`)
    * — the unit every replaced-file comparison uses. Bucket-qualified
    * because one partitioned write reuses part-file basenames across bucket
    * dirs ([[replacedRelnames]]); TABLE-qualified because events and
    * snapshots share one commit chain and one exclusion set, so a
    * `bucket=N/<basename>` collision across the two tables would silently
    * hide a live file in the other table.
    */
  def relname(p: String): String =
    p.split('/').takeRight(3).mkString("/")

  /** [[relname]] of a file-name Column (`input_file_name()`). */
  private[graft] def relnameCol(file: Column): Column =
    regexp_extract(file, "/([^/]+/bucket=[^/]+/[^/]+)$", 1)

  /** Claim `n`'s token `c{N}`: it names the claim's staging directory
    * `.commit-tmp/c{N}` and prefixes its data files, `c{N}-<name>`.
    */
  private[graft] def token(n: Long): String = s"c$n"

  /** The claim of a token-prefixed data file; None when tokenless (Lock). */
  private[graft] def tokenClaim(file: String): Option[Long] =
    file.substring(file.lastIndexOf('/') + 1) match {
      case TokenRe(n) => Some(n.toLong)
      case _ => None
    }

  /** [[token]] of a file-name Column, "" when tokenless. */
  private[graft] def tokenCol(file: Column): Column = regexp_extract(file, "/(c\\d+)-[^/]*$", 1)
  private val TokenRe = "c(\\d+)-.*".r

  /** Streams per bulk claim above which reservations move to a parquet
    * sidecar (tunable via `-Dgraft.bulkClaim.inlineMax=`; tests shrink it).
    * 10⁴ inline lines ≈ a 500 KB claim TSV — still one cheap read; beyond
    * that the TSV and the driver fold would grow with the backfill.
    */
  def inlineClaimMaxStreams: Int =
    sys.props.get("graft.bulkClaim.inlineMax").flatMap(_.toIntOption).getOrElse(10000)
  private val ClaimRe = "v(\\d+)\\.tsv".r
  private val DoneRe = "v(\\d+)\\.done".r
  private val FateRe = "v(\\d+)\\.fate".r
  private val CondemnedRe = "v(\\d+)\\.condemned".r
  private[log] val SidecarRe = "r(\\d+)x.*".r

  /** TSV, ids URL-encoded — no JSON library dependency, trivially greppable:
    * {{{
    * meta\t<writer>\t<tsMs>
    * stream\t<id>\t<base>\t<head>
    * event\t<eventId>
    * }}}
    */
  def render(c: CommitClaim): String = {
    val sb = new StringBuilder
    sb.append("meta\t").append(enc(c.writer)).append('\t').append(c.tsMs)
      .append('\t').append(c.kind).append('\n')
    c.streams.toSeq.sortBy(_._1).foreach { case (s, (base, head)) =>
      sb.append("stream\t").append(enc(s)).append('\t').append(base)
        .append('\t').append(head).append('\n')
    }
    c.eventIds.foreach(id => sb.append("event\t").append(enc(id)).append('\n'))
    c.replaced.foreach(p => sb.append("replace\t").append(enc(p)).append('\n'))
    c.ledgerId.foreach(id => sb.append("ledger\t").append(enc(id)).append('\t')
      .append(c.ledgerBatch).append('\n'))
    c.streamsRef.foreach(r => sb.append("streamsref\t").append(enc(r)).append('\t')
      .append(c.refCount).append('\t').append(c.refMaxHead).append('\n'))
    sb.toString
  }

  def parse(n: Long, body: String, done: Boolean): CommitClaim = {
    var writer = ""
    var ts = 0L
    var kind = CommitClaim.KindAppend
    var ledgerId: Option[String] = None
    var ledgerBatch = -1L
    var streamsRef: Option[String] = None
    var refCount = 0L
    var refMaxHead = 0
    val streams = Map.newBuilder[String, (Int, Int)]
    val events = Seq.newBuilder[String]
    val replaced = Seq.newBuilder[String]
    body.linesIterator.foreach { line =>
      line.split('\t') match {
        case Array("meta", w, t) => writer = dec(w); ts = t.toLong
        case Array("meta", w, t, k) => writer = dec(w); ts = t.toLong; kind = k
        case Array("stream", s, base, head) => streams += dec(s) -> (base.toInt, head.toInt)
        case Array("event", id) => events += dec(id)
        case Array("replace", p) => replaced += dec(p)
        case Array("ledger", id, b) => ledgerId = Some(dec(id)); ledgerBatch = b.toLong
        case Array("streamsref", r, c, mh) =>
          streamsRef = Some(dec(r)); refCount = c.toLong; refMaxHead = mh.toInt
        case _ =>
      }
    }
    CommitClaim(n, streams.result(), events.result(), writer, ts, done, kind,
      replaced.result(), ledgerId, ledgerBatch, streamsRef, refCount, refMaxHead)
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = URLDecoder.decode(s, "UTF-8")
}
