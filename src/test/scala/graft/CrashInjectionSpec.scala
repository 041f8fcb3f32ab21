package graft

import graft.core.SnapshotRow
import graft.log.{AppendRecord, CommitMode, EventDetail, EventLog}
import graft.streaming.{ProjMessage, Projector}
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Crash-injection harness for the manifest commit protocol: kill a writer
  * at EVERY step of claim→stage→sidecar→done (via the phase hook — one
  * enumerated point per scenario, stronger than sampling), recover with a
  * fresh writer (prune, the cadence any rival runs), and assert the
  * protocol's recovery invariants at each point (the held writer of point
  * appends and snapshots is killed at its steps in both commit modes):
  *   - single fate: the committed view equals the pre-crash state OR the
  *     fully-applied state, never a partial mix;
  *   - no lost rows: every original row stays present through crash,
  *     condemnation, retry and GC;
  *   - no resurrection: GC after recovery never brings replaced rows back;
  *   - convergence: a retried operation completes and reads correctly.
  */
class CrashInjectionSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private case class InjectedCrash(label: String)
    extends RuntimeException(s"injected crash at '$label'")

  private def newLog(dir: String, seed: Long): EventLog =
    new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(seed),
      commitMode = CommitMode.Manifest)

  /** Arm the hook to throw the first time `point` fires, run `op`, disarm.
    * Returns the labels seen, so a renamed phase label fails loudly instead
    * of silently skipping the scenario.
    */
  private def crashAt[A](point: String)(op: => A): Set[String] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    EventLog.crashHook = Some { l =>
      seen.add(l)
      if (l == point) throw InjectedCrash(l)
    }
    try {
      op
      fail(s"operation survived crash point '$point'")
    } catch {
      case _: InjectedCrash => ()
    } finally EventLog.crashHook = None
    import scala.jdk.CollectionConverters._
    seen.asScala.toSet
  }

  // every phase label on the migration path, in protocol order — the
  // sidecar is forced below the inline threshold so ALL steps execute
  private val migratePoints = Seq(
    "migrate: plan fold+checkpoint", // before anything is claimed or staged
    "migrate: heads probe",
    "migrate: sidecar write",        // reservation sidecar staged, no claim
    "migrate: staleness probe",      // claim won, nothing staged yet
    "migrate: stage events rewrite", // claim won, sidecar live
    "migrate: fence+copy append",    // staged rewrites in place, no append
    "migrate: markDone")             // everything staged, fate not sealed

  test("a migration writer dies at EVERY protocol step: recovery invariants hold") {
    sys.props("graft.bulkClaim.inlineMax") = "0" // force the sidecar leg
    try {
      migratePoints.foreach { point =>
        val dir = Files.createTempDirectory(s"graftcrash").toFile.getAbsolutePath
        val log = newLog(dir, 61L)
        (1 to 6).foreach(i => log.append(Seq(AppendRecord(s"cr-$i", "Account", 0,
          Map.empty, Seq(EventDetail("Created", s"""{"v":$i}"""))))))
        val before = log.committedEvents
          .orderBy("aggregate_id", "aggregate_version").collect().toSeq

        val seen = crashAt(point) {
          log.migrate(1, Set("Created"),
            evs => Some(evs.map(r => EventDetail("CreatedV2", r.body))))
        }
        assert(seen.contains(point),
          s"phase '$point' never fired — label drift in EventLog?")

        // recovery: a FRESH writer prunes the dead claim chain
        val fresh = newLog(dir, 62L)
        fresh.manifest.prune(Map.empty, staleMs = 0L): Unit

        // SINGLE FATE: every crash point precedes markDone, so the fate
        // must be "not committed" — the committed view reads exactly as
        // before the migration started (no staged row leaks through)
        val after = fresh.committedEvents
          .orderBy("aggregate_id", "aggregate_version").collect().toSeq
        assert(after === before,
          s"crash at '$point' must leave the pre-migration view")

        // NO RESURRECTION: GC at horizon 0 sweeps nothing live
        fresh.gcReplaced(retentionMs = 0L): Unit
        assert(fresh.committedEvents
          .orderBy("aggregate_id", "aggregate_version").collect().toSeq === before)

        // CONVERGENCE: the retried migration completes in full
        val out = fresh.migrate(1, Set("Created"),
          evs => Some(evs.map(r => EventDetail("CreatedV2", r.body))))
        assert(out.size === 6, s"retry after '$point' must migrate all streams")
        val act = fresh.activeEvents.filter(col("kind") === "CreatedV2")
        assert(act.select("aggregate_id").distinct().count() === 6L)
        assert(act.count() === 6L, "exactly one migrated copy per stream")
        // NO LOST ROWS: originals survive in the committed view (the raw
        // file view keeps replaced pre-rewrite copies until GC — by design),
        // flagged not dropped
        val originals = fresh.committedEvents
          .filter(col("kind") === "Created" && !col("migrated"))
        assert(originals.count() === 6L)
        assert(originals.filter(col("migration") === 1).count() === 6L)
        // ids stay unique through the whole lifecycle
        assert(fresh.committedEvents.select("id").distinct().count() ===
          fresh.committedEvents.count())
        // and GC after the committed retry still changes nothing visible
        fresh.gcReplaced(retentionMs = 0L): Unit
        assert(fresh.activeEvents.filter(col("kind") === "CreatedV2").count() === 6L)
      }
    } finally {
      sys.props.remove("graft.bulkClaim.inlineMax"): Unit
      EventLog.crashHook = None
    }
  }

  private val importPoints = Seq(
    "import: heads probe", "import: sidecar write",
    "import: bucketed write", "import: markDone")

  test("a bulk-import writer dies at every step: redelivery lands exactly once") {
    val s = spark
    import s.implicits._
    sys.props("graft.bulkClaim.inlineMax") = "0"
    try {
      importPoints.foreach { point =>
        val dir = Files.createTempDirectory("graftcrashimp").toFile.getAbsolutePath
        val log = newLog(dir, 63L)
        log.append(Seq(AppendRecord("seed-1", "Account", 0, Map.empty,
          Seq(EventDetail("Created", """{"v":0}""")))))
        val batch = (1 to 40).map(i => (s"imp-$i", "User", "Evt", s"""{"i":$i}""", 1L))
          .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")

        val seen = crashAt(point) { log.bulkImport(batch, seqCol = "seq") }
        assert(seen.contains(point),
          s"phase '$point' never fired — label drift in EventLog?")

        val fresh = newLog(dir, 64L)
        fresh.manifest.prune(Map.empty, staleMs = 0L): Unit
        // single fate: all 40 rows or none — a partial import is the one
        // outcome the claim must make impossible
        val n = fresh.committedEvents.filter(col("aggregate_kind") === "User").count()
        assert(n === 0L || n === 40L, s"crash at '$point' left a partial import: $n")

        // redelivery of the SAME batch: exactly-once net effect
        if (n === 0L) fresh.bulkImport(batch, seqCol = "seq"): Unit
        assert(fresh.committedEvents.filter(col("aggregate_kind") === "User")
          .count() === 40L)
        assert(fresh.committedEvents.filter(col("aggregate_kind") === "User")
          .select("aggregate_id").distinct().count() === 40L)
        assert(fresh.committedEvents.select("id").distinct().count() ===
          fresh.committedEvents.count())
      }
    } finally {
      sys.props.remove("graft.bulkClaim.inlineMax"): Unit
      EventLog.crashHook = None
    }
  }

  // a ledgered appendBulk's labels, in protocol order (all run at inlineMax 0)
  private val bulkPoints = Seq(
    "appendBulk: checkpoint rows", "appendBulk: count", "appendBulk: heads probe",
    "appendBulk: sidecar write", "appendBulk: bucketed write", "appendBulk: markDone")

  test("a ledgered appendBulk writer dies at every step: redelivery lands exactly once") {
    val s = spark
    import s.implicits._
    sys.props("graft.bulkClaim.inlineMax") = "0"
    try {
      bulkPoints.foreach { point =>
        val dir = Files.createTempDirectory("graftcrashbulk").toFile.getAbsolutePath
        val log = newLog(dir, 65L)
        (1 to 4).foreach(i => log.append(Seq(AppendRecord(s"ab-$i", "Account", 0,
          Map.empty, Seq(EventDetail("Created", "{}"))))))
        val batch = (1 to 12).map(i => (s"ab-${i % 4 + 1}", "Account", "Deposited",
            s"""{"i":$i}""", i.toLong))
          .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
        def deliver(l: EventLog) = l.appendBulk(batch, ledgerId = Some("cdc"), batchId = 3L)

        val seen = crashAt(point)(deliver(log))
        assert(seen.contains(point),
          s"phase '$point' never fired — label drift in EventLog?")

        val fresh = newLog(dir, 66L)
        fresh.manifest.prune(Map.empty, staleMs = 0L): Unit
        def deposits = fresh.committedEvents.filter(col("kind") === "Deposited")
        // every crash point precedes markDone: nothing of the batch is visible
        assert(deposits.count() === 0L, s"crash at '$point' leaked a partial batch")

        // redelivery lands exactly once; a second redelivery is a no-op
        assert(deliver(fresh) === 12L, s"redelivery after '$point' must append the batch")
        assert(deliver(fresh) === 0L)
        assert(deposits.count() === 12L)
        val all = fresh.committedEvents
        assert(all.select("aggregate_id", "aggregate_version").distinct().count() === all.count())
        assert(all.select("id").distinct().count() === all.count())
      }
    } finally {
      sys.props.remove("graft.bulkClaim.inlineMax"): Unit
      EventLog.crashHook = None
    }
  }

  private val fencePoints = Seq(
    "fences: checkpoint rows", "fences: count", "fences: heads probe",
    "fences: sidecar write", "fences: bucketed write", "fences: markDone")

  test("a NoOp fence pass dies at every step: no fence or one per stream, never a partial pass") {
    sys.props("graft.bulkClaim.inlineMax") = "0"
    try {
      fencePoints.foreach { point =>
        val dir = Files.createTempDirectory("graftcrashfence").toFile.getAbsolutePath
        val log = newLog(dir, 67L)
        val streams = (1 to 6).map(i => s"nf-$i")
        streams.foreach(id => log.append(Seq(AppendRecord(id, "Account", 0,
          Map.empty, Seq(EventDetail("Created", "{}"))))))

        val seen = crashAt(point)(log.appendNoOpFences("Account"))
        assert(seen.contains(point),
          s"phase '$point' never fired — label drift in EventLog?")

        val fresh = newLog(dir, 68L)
        fresh.manifest.prune(Map.empty, staleMs = 0L): Unit
        def fenced = fresh.activeEvents.filter(col("kind") === EventLog.KindNoOp)
          .groupBy("aggregate_id").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val afterCrash = fenced
        assert(afterCrash.isEmpty || afterCrash === streams.map(_ -> 1L).toMap,
          s"crash at '$point' left a partial fence pass: $afterCrash")

        if (afterCrash.isEmpty) assert(fresh.appendNoOpFences("Account") === 6L)
        assert(fenced === streams.map(_ -> 1L).toMap, s"retry after '$point'")
        val all = fresh.committedEvents
        assert(all.select("aggregate_id", "aggregate_version").distinct().count() === all.count())
      }
    } finally {
      sys.props.remove("graft.bulkClaim.inlineMax"): Unit
      EventLog.crashHook = None
    }
  }

  private def rec(id: String, v: Int, body: String) =
    AppendRecord(id, "Account", v, Map.empty, Seq(EventDetail("Created", body)))

  /** Every file under `dir`, recursively, hidden ones included. */
  private def allFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir))
  }

  // the held writer's labels in a Manifest point append, in protocol order
  private val heldPoints = Seq("append: held write", "append: held move", "append: markDone")

  test("a Manifest point append dies at every held-writer step: no row shows, prune sweeps it") {
    heldPoints.foreach { point =>
      val dir = Files.createTempDirectory("graftcrashheld").toFile.getAbsolutePath
      val log = newLog(dir, 69L)
      log.append(Seq(rec("hm-1", 0, "{}")))
      val before = log.committedEvents.orderBy("id").collect().toSeq
      // several buckets in one commit
      val batch = (2 to 9).map(i => rec(s"hm-$i", 0, s"""{"i":$i}"""))
      assert(batch.map(r => log.bucketOf(r.aggregateId)).distinct.size >= 3)

      val seen = crashAt(point)(log.append(batch))
      assert(seen.contains(point), s"phase '$point' never fired — label drift in EventLog?")
      val fresh = newLog(dir, 70L)
      assert(fresh.committedEvents.orderBy("id").collect().toSeq === before,
        s"crash at '$point' leaked rows of an undone claim")

      fresh.manifest.prune(Map.empty, staleMs = 0L): Unit
      val staged = allFiles(s"$dir/events/.commit-tmp")
      assert(staged.isEmpty, s"prune left the staging of '$point': $staged")
      assert(spark.read.parquet(s"$dir/events").count() === before.size.toLong,
        s"prune left token files of the claim that died at '$point'")

      // a new process reads the heads from the data (the pruning writer's
      // cache keeps the condemned reservation): the retry commits at v1
      val retry = newLog(dir, 71L)
      retry.append(batch): Unit
      assert(retry.committedEvents.count() === 1L + batch.size)
      assert(retry.committedEvents.select("aggregate_id", "aggregate_version").distinct()
        .count() === 1L + batch.size)
    }
  }

  test("a Lock point append dies before its move: only hidden staging, no reader lists it") {
    Seq("append: held write", "append: held move").foreach { point =>
      val dir = Files.createTempDirectory("graftcrashlock").toFile.getAbsolutePath
      val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(71L))
      log.append(Seq(rec("lk-1", 0, "{}")))
      val buf = ArrayBuffer[ProjMessage]()
      val q = new Projector(log, "heldcrash", s"$dir/projector", partitions = 2)
        .live(ds => buf.synchronized { buf ++= ds.collect(); () })
      try {
        q.processAllAvailable()
        assert(buf.map(_.aggregate_id).toSeq == Seq("lk-1"))
        val batch = Seq(rec("lk-2", 0, "{}"), rec("lk-3", 0, "{}"), rec("lk-4", 0, "{}"))

        val seen = crashAt(point)(log.append(batch))
        assert(seen.contains(point), s"phase '$point' never fired — label drift in EventLog?")
        val staged = allFiles(s"$dir/events/.commit-tmp").filter(_.getName.endsWith(".parquet"))
        if (point == "append: held move") assert(staged.size === 3, s"staged files: $staged")
        else assert(staged.isEmpty)
        assert(log.events.count() === 1L && log.activeEvents.count() === 1L,
          s"crash at '$point' made staged rows visible")
        q.processAllAvailable()
        assert(buf.map(_.aggregate_id).toSeq == Seq("lk-1"),
          s"the live projector delivered staged rows after '$point'")

        // the lock was released: the retry commits, and is delivered once;
        // it sweeps the dead write's staging once that is stale
        new File(s"$dir/events/.commit-tmp").listFiles().foreach(_.setLastModified(0L))
        log.append(batch): Unit
        q.processAllAvailable()
        assert(log.activeEvents.count() === 4L)
        assert(buf.map(_.aggregate_id).sorted.toSeq == Seq("lk-1", "lk-2", "lk-3", "lk-4"))
        assert(allFiles(s"$dir/events/.commit-tmp").isEmpty, "stale staging must be swept")
      } finally q.stop()
    }
  }

  test("a Manifest compaction or forget dies at markDone: the pre-rewrite rows stay, prune sweeps them") {
    Seq("compact", "forget").foreach { op =>
      val dir = Files.createTempDirectory("graftcrashrw").toFile.getAbsolutePath
      val log = newLog(dir, 75L)
      // two files in every touched bucket, and a body forget scrubs
      (1 to 6).foreach(i => log.append(Seq(rec(s"rw-$i", 0, s"""{"secret":$i}"""))))
      (1 to 6).foreach(i => log.append(Seq(rec(s"rw-$i", 1, "{}"))))
      val before = log.committedEvents.orderBy("id").collect().toSeq
      def rewrite(l: EventLog): Unit =
        if (op == "compact") l.compact()
        else l.forget("rw-1", Set("Created"), _ => "{}", _ => "{}")

      val point = s"$op: markDone"
      val seen = crashAt(point)(rewrite(log))
      assert(seen.contains(point), s"phase '$point' never fired — label drift in EventLog?")
      assert(seen.contains(s"$op: stage events rewrite"))
      val fresh = newLog(dir, 76L)
      assert(fresh.committedEvents.orderBy("id").collect().toSeq === before,
        s"'$point': the undone rewrite's rows must stay hidden")

      fresh.manifest.prune(Map.empty, staleMs = 0L): Unit
      assert(allFiles(s"$dir/events/.commit-tmp").isEmpty, s"'$point' left staging")
      assert(spark.read.parquet(s"$dir/events").count() === before.size.toLong,
        s"prune left token files of the rewrite that died at '$point'")
      assert(fresh.committedEvents.orderBy("id").collect().toSeq === before)

      // the retried rewrite commits
      rewrite(fresh)
      assert(fresh.committedEvents.count() === before.size.toLong)
      if (op == "forget")
        assert(fresh.committedEvents.filter(col("aggregate_id") === "rw-1" &&
          col("body").contains("secret")).count() === 0L)
    }
  }

  test("a snapshot save dies at every held-writer step: the previous snapshot stays latest") {
    Seq(CommitMode.Lock, CommitMode.Manifest).foreach { mode =>
      Seq("snapshot: held write", "snapshot: held move").foreach { point =>
        val dir = Files.createTempDirectory("graftcrashsnap").toFile.getAbsolutePath
        val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(73L), commitMode = mode)
        val first = SnapshotRow("01H0000000000000000000000A", "sn-1", 2, "Account", "2",
          new java.sql.Timestamp(1700000000000L), Map.empty)
        val second = first.copy(id = "01H0000000000000000000000B", aggregate_version = 5, body = "5")
        log.saveSnapshot(first)

        val seen = crashAt(point)(log.saveSnapshot(second))
        assert(seen.contains(point), s"phase '$point' never fired — label drift in EventLog?")
        assert(log.latestSnapshot("sn-1").contains(first), s"$mode, '$point'")
        assert(log.snapshots.count() === 1L)

        log.saveSnapshot(second)
        assert(log.latestSnapshot("sn-1").contains(second), s"$mode retry after '$point'")
      }
    }
  }
}
