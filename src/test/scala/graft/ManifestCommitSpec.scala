package graft

import graft.log.{AppendRecord, CommitClaim, CommitMode, ConcurrentModificationException, EventDetail, EventLog}
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The object-store-safe commit protocol: conditional-put claim chain with
  * version reservations (README roadmap #1). Single primitive under test:
  * create-if-absent — everything else must follow from the protocol.
  */
/** Latches the migration race test threads through (executors share the JVM
  * on local[*], so the handler closure can rendezvous with the appender).
  */
object MigrateRaceGate {
  @volatile var entered: CountDownLatch = _
  @volatile var release: CountDownLatch = _
  val handlerRuns = new java.util.concurrent.atomic.AtomicInteger(0)
}

class ManifestCommitSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def newLog(buckets: Int = 4): EventLog = {
    val dir = Files.createTempDirectory("graftmanifest").toFile.getAbsolutePath
    new EventLog(spark, dir, numBuckets = buckets, ulidSeed = Some(21L),
      commitMode = CommitMode.Manifest)
  }

  private def rec(id: String, v: Int, n: Int = 1) =
    AppendRecord(id, "Account", v, Map.empty,
      (1 to n).map(i => EventDetail("Deposited", s"""{"amount":$i}""")))

  test("appends commit through sequential claims and stay readable") {
    val log = newLog()
    log.append(Seq(rec("m-a", 0, 2)))
    log.append(Seq(rec("m-b", 0, 1)))
    log.append(Seq(rec("m-a", 2, 1)))
    assert(log.events.count() === 4L)
    assert(log.streamEvents("m-a").collect().map(_.getInt(3)).toSeq === Seq(1, 2, 3))
    val claims = log.manifest.claims()
    assert(claims.map(_.n) === Seq(1L, 2L, 3L), "claims must be gap-free and ordered")
    assert(claims.forall(_.done), "all commits finished, so all claims carry done markers")
    assert(claims.head.streams === Map("m-a" -> (0, 2)))
    assert(claims.head.eventIds.size === 2)
  }

  test("lost optimistic check throws, exactly like the lock path") {
    val log = newLog()
    log.append(Seq(rec("m-c", 0)))
    intercept[ConcurrentModificationException] {
      log.append(Seq(rec("m-c", 0))) // stale expectedVersion
    }
    assert(log.events.count() === 1L, "failed append must not write")
  }

  test("a crashed claimant's reservation is honored: no version reuse, only a gap") {
    val log = newLog()
    log.append(Seq(rec("m-d", 0))) // v1, claim 1
    // simulate a writer that claimed versions 2..3 and died before writing data
    log.manifest.refresh()
    assert(log.manifest.tryClaim(CommitClaim(2L, Map("m-d" -> (1, 3)), Seq.empty,
      "dead-writer", System.currentTimeMillis(), done = false)))
    // a writer validating against parquet alone would accept expected=1 and
    // reuse versions 2..3 — the reservation must reject it
    intercept[ConcurrentModificationException] {
      log.append(Seq(rec("m-d", 1)))
    }
    // acknowledging the reservation continues past the gap
    log.append(Seq(rec("m-d", 3)))
    assert(log.streamEvents("m-d").collect().map(_.getInt(3)).toSeq === Seq(1, 4),
      "versions 2..3 stay a permanent gap; no duplicates")
  }

  test("racing writers commit safely: every commit lands, claims stay unique") {
    // 4 writers: 2-writer contention failed to surface the local-rename
    // overwrite bug that 4-writer contention caught in the retired
    // ScaleSmoke (git show aab9049:src/main/scala/graft/tools/ScaleSmoke.scala) — the
    // claim primitive must be atomic-exclusive, and this is its fence
    val writers = 4
    val rounds = 3
    val logA = newLog()
    val logs = logA +: (1 until writers).map(i => new EventLog(spark, logA.path,
      numBuckets = 4, ulidSeed = Some(22L + i), commitMode = CommitMode.Manifest))
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val futures = logs.zipWithIndex.map { case (log, i) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          (0 until rounds).foreach(v => log.append(Seq(rec(s"race-$i", v))))
        }
      })
    }
    start.countDown()
    try futures.foreach(_.get(180, TimeUnit.SECONDS))
    finally { pool.shutdownNow(); () }
    (0 until writers).foreach { i =>
      assert(logA.streamEvents(s"race-$i").count() === rounds.toLong)
    }
    val ns = logA.manifest.claims().map(_.n)
    assert(ns === (1L to writers.toLong * rounds),
      s"claim chain must be dense and unique, got $ns")
  }

  test("pruned chain keeps committing (heads recovered from parquet)") {
    val log = newLog()
    (0 until 4).foreach(v => log.append(Seq(rec("m-p", v))))
    val heads = Map("m-p" -> 4)
    val removed = log.manifest.prune(heads)
    assert(removed === 3, "everything but the tip is reflected in parquet")
    // a fresh process (new chain cache) must still validate correctly
    val log2 = new EventLog(spark, log.path, numBuckets = 4,
      ulidSeed = Some(23L), commitMode = CommitMode.Manifest)
    log2.append(Seq(rec("m-p", 4)))
    assert(log2.streamEvents("m-p").collect().map(_.getInt(3)).toSeq === (1 to 5))
  }

  test("committedEvents hides claims whose done marker is missing (read-committed)") {
    val log = newLog()
    log.append(Seq(rec("rc-a", 0)))
    log.append(Seq(rec("rc-b", 0, 2)))
    assert(log.committedEvents.count() === 3L)
    // simulate a claimant that wrote data but died before markDone
    val dir = new java.io.File(log.path, graft.log.ManifestCommitLog.CommitDir)
    assert(new java.io.File(dir, "v2.done").delete(), "fixture must delete the marker")
    val log2 = new EventLog(spark, log.path, numBuckets = 4, commitMode = CommitMode.Manifest)
    assert(log2.events.count() === 3L, "raw view still sees the files")
    assert(log2.committedEvents.count() === 1L, "read-committed view hides claim 2")
    assert(log2.committedEvents.select("aggregate_id").collect().map(_.getString(0)).toSeq
      === Seq("rc-a"))
    // catchup replay reads the same view: the pending claim must not replay
    assert(log2.range("", "").count() === 1L)
  }

  test("manifest forget: file-level rewrite, atomic visibility, GC retires originals") {
    val log = newLog()
    log.append(Seq(AppendRecord("fg-a", "Account", 0, Map.empty,
      Seq(EventDetail("Created", """{"owner":"secret"}""")))))
    log.append(Seq(rec("fg-a", 1)))
    log.forget("fg-a", Set("Created"),
      b => b.replace("secret", "[gone]"), identity)
    // scrubbed body visible, one consistent version of every row
    val bodies = log.committedEvents.filter(col("aggregate_id") === "fg-a")
      .orderBy("aggregate_version").select("body").collect().map(_.getString(0))
    assert(bodies.head.contains("[gone]") && !bodies.exists(_.contains("secret")))
    assert(log.committedEvents.filter(col("aggregate_id") === "fg-a").count() === 2L)
    val rw = log.manifest.claims().filter(_.kind === graft.log.CommitClaim.KindRewrite)
    assert(rw.nonEmpty && rw.forall(_.done))
    // replaced originals survive the retention window (in-flight readers),
    // then VACUUM collects them
    assert(log.gcReplaced() === 0, "default retention must protect fresh rewrites")
    assert(log.gcReplaced(retentionMs = 0L) > 0)
    val conf = spark.sessionState.newHadoopConf()
    rw.flatMap(_.replaced).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      assert(!hp.getFileSystem(conf).exists(hp), s"replaced file survived: $p")
    }
    // the rewrite claims are now prunable; append claims keep the tip rule
    assert(log.manifest.prune(Map("fg-a" -> 2)) >= rw.size)
  }

  test("appends racing a forget rewrite in the same bucket are never lost") {
    val log = newLog(buckets = 1) // one bucket: maximum interference
    log.append(Seq(AppendRecord("hot-x", "Account", 0, Map.empty,
      Seq(EventDetail("Created", """{"owner":"secret"}""")))))
    val writer = new EventLog(spark, log.path, numBuckets = 1,
      ulidSeed = Some(31L), commitMode = CommitMode.Manifest)
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val appender = pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        (0 until 4).foreach(v => writer.append(Seq(rec("hot-y", v))))
      }
    })
    val forgetter = pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        log.forget("hot-x", Set("Created"), b => b.replace("secret", "[gone]"), identity)
      }
    })
    start.countDown()
    try { appender.get(180, TimeUnit.SECONDS); forgetter.get(180, TimeUnit.SECONDS) }
    finally { pool.shutdownNow(); () }
    // the directory-overwrite form would have deleted whichever hot-y files
    // landed during the rewrite; the file-level form must keep all of them
    assert(log.committedEvents.filter(col("aggregate_id") === "hot-y").count() === 4L,
      "concurrent appends lost to the rewrite")
    assert(!log.committedEvents.filter(col("aggregate_id") === "hot-x")
      .select("body").collect().exists(_.getString(0).contains("secret")))
  }

  test("a pending rewrite claim keeps the old files visible (crash before done)") {
    val log = newLog()
    log.append(Seq(rec("pr-a", 0)))
    log.manifest.refresh()
    // simulate a rewriter that claimed + staged files but died before done
    val conf = spark.sessionState.newHadoopConf()
    val events = new org.apache.hadoop.fs.Path(log.path, "events")
    val fs = events.getFileSystem(conf)
    val orig = fs.listStatus(events).filter(_.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath.toString).toSeq
    assert(log.manifest.tryClaim(graft.log.CommitClaim(2L, Map.empty, Seq.empty,
      "dead-rewriter", System.currentTimeMillis(), done = false,
      graft.log.CommitClaim.KindRewrite, orig)))
    // no done marker: originals stay visible, nothing excluded
    assert(log.committedEvents.count() === 1L)
  }

  test("a crashed pending rewrite claim is condemned by prune (no permanent wedge)") {
    val log = newLog()
    log.append(Seq(rec("prc-a", 0)))
    log.manifest.refresh()
    val conf = spark.sessionState.newHadoopConf()
    val events = new org.apache.hadoop.fs.Path(log.path, "events")
    val fs = events.getFileSystem(conf)
    val orig = fs.listStatus(events).filter(_.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath.toString).toSeq
    // the dead rewriter staged a token file into a bucket (valid parquet —
    // staged files are complete before the move), then died before done
    val bucketDir = new org.apache.hadoop.fs.Path(orig.head).getParent
    val staged = new org.apache.hadoop.fs.Path(bucketDir, "c2-part-dead.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(orig.head),
      fs, staged, false, conf)
    assert(log.manifest.tryClaim(CommitClaim(2L, Map.empty, Seq.empty,
      "dead-rewriter", System.currentTimeMillis() - 100000L, done = false,
      CommitClaim.KindRewrite, orig)))
    assert(log.committedEvents.count() === 1L, "staged token rows stay hidden")
    log.append(Seq(rec("prc-b", 0))) // move the tip past the dead claim
    assert(log.manifest.prune(Map.empty, staleMs = 60000L) >= 1)
    assert(!fs.exists(staged), "condemned rewrite's staged token files must go")
    assert(log.manifest.status(2L).isEmpty, "the dead rewrite claim must go")
    assert(log.committedEvents.count() === 2L,
      "replaced files were never deleted — the pre-rewrite log is intact")
    // and the log is not wedged: maintenance and appends proceed
    log.append(Seq(rec("prc-a", 1)))
    assert(log.streamEvents("prc-a").count() === 2L)
  }

  /** A rival rewriter mid-flight: a PENDING rewrite claim over every file
    * of `bucket` of `table` — what a compactor that died after claiming
    * leaves until prune condemns it (24 h by default).
    */
  private def plantRivalRewrite(log: EventLog, bucket: Int,
      table: String = "events"): CommitClaim = {
    val files = new java.io.File(s"${log.path}/$table/bucket=$bucket").listFiles()
      .filter(_.getName.endsWith(".parquet")).map("file:" + _.getAbsolutePath).toSeq
    assert(files.nonEmpty, s"fixture must hold files in $table bucket $bucket")
    val rival = CommitClaim(log.manifest.refresh() + 1, Map.empty, Seq.empty, "rival",
      System.currentTimeMillis(), done = false, CommitClaim.KindRewrite, files)
    assert(log.manifest.tryClaim(rival))
    rival
  }

  private def createdStreams(log: EventLog, n: Int): Seq[String] = {
    val ids = (1 to n).map(i => s"held-$i")
    ids.foreach(id => log.append(Seq(AppendRecord(id, "Account", 0, Map.empty,
      Seq(EventDetail("Created", s"""{"owner":"secret-$id"}"""))))))
    ids
  }

  test("forget refuses while a pending rival rewrite holds its bucket: bodies unchanged") {
    val log = newLog(buckets = 2)
    val victim = createdStreams(log, 8).find(log.bucketOf(_) == 0).get
    val before = log.committedEvents.orderBy("id").collect().toSeq
    val rival = plantRivalRewrite(log, bucket = 0)
    val e = intercept[ConcurrentModificationException] {
      log.forget(victim, Set("Created"), b => b.replace("secret", "[gone]"), identity)
    }
    assert(e.getMessage.contains(s"c${rival.n}"), e.getMessage)
    assert(log.committedEvents.orderBy("id").collect().toSeq === before)
    // once prune condemns the dead rival, the same writer's forget proceeds
    // (its cache still remembers the condemned claim as pending)
    log.manifest.prune(Map.empty, staleMs = 0L): Unit
    log.forget(victim, Set("Created"), b => b.replace("secret", "[gone]"), identity)
    val body = log.committedEvents.filter(col("aggregate_id") === victim)
      .select("body").head().getString(0)
    assert(body.contains("[gone]") && !body.contains("secret"), body)
  }

  test("forget refuses while a rival holds only the snapshot bucket: neither table changes") {
    // both tables ride one claim, so a refusal on the snapshot side must
    // not leave the event bodies already scrubbed
    val log = newLog(buckets = 1)
    val victim = createdStreams(log, 1).head
    log.saveSnapshot(graft.core.SnapshotRow("01HXHELDSNAP00000000000001", victim, 1,
      "Account", s"""{"owner":"secret-$victim"}""", new java.sql.Timestamp(1L), Map.empty))
    val events = log.committedEvents.orderBy("id").collect().toSeq
    val snaps = log.snapshots.orderBy("id").collect().toSeq
    val rival = plantRivalRewrite(log, bucket = 0, table = "snapshots")
    val e = intercept[ConcurrentModificationException] {
      log.forget(victim, Set("Created"), _.replace("secret", "[gone]"),
        _.replace("secret", "[gone]"))
    }
    assert(e.getMessage.contains(s"c${rival.n}"), e.getMessage)
    assert(log.committedEvents.orderBy("id").collect().toSeq === events)
    assert(log.snapshots.orderBy("id").collect().toSeq === snaps)
  }

  test("a rival rewrite whose fate reads done but whose marker is missing still holds its files") {
    // the rival won its done fate and crashed before deriving the v{n}.done
    // marker: this writer's cache calls it pending while disk says done.
    // Reading its inputs would commit their rows twice once the marker heals
    val log = newLog(buckets = 2)
    createdStreams(log, 8)
    val before = log.committedEvents.orderBy("id").collect().toSeq
    val rival = plantRivalRewrite(log, bucket = 0)
    rival.replaced.foreach { p => // the rival's staged output: a same-rows copy
      val src = new java.io.File(p.stripPrefix("file:")).toPath
      Files.copy(src, src.resolveSibling(s"c${rival.n}-${src.getFileName}"))
    }
    Files.write(java.nio.file.Paths.get(s"${log.path}/_graft_commit/v${rival.n}.fate"),
      "done".getBytes("UTF-8"))
    log.compact()
    log.manifest.markDone(rival.n) // the idempotent re-call heals the marker
    assert(log.committedEvents.orderBy("id").collect().toSeq === before)
  }

  test("retention counts only the rows it dropped when a rival holds a bucket") {
    val log = newLog(buckets = 2)
    val store = new graft.store.EventStore(log, AccountType, snapshotThreshold = 3)
    (1 to 10).foreach { i =>
      store.create(f"01HXHELDPRUNE${i}%013d", Seq(AccountType.created(10L * i, s"o$i"),
        AccountType.deposited(1), AccountType.deposited(2)), nowMs = 1700000000000L + i)
    }
    plantRivalRewrite(log, bucket = 0)
    val before = log.activeEvents.count()
    val dropped = log.pruneSnapshotted(1750000000000L)
    assert(dropped > 0L, "bucket 1's covered rows are dropped")
    assert(dropped === before - log.activeEvents.count(),
      "the held bucket's rows stay, so they are not counted")
  }

  test("migrate refuses while a pending rival rewrite holds a bucket: view unchanged") {
    val log = newLog(buckets = 2)
    createdStreams(log, 8)
    val before = log.committedEvents.orderBy("id").collect().toSeq
    val rival = plantRivalRewrite(log, bucket = 0)
    val e = intercept[ConcurrentModificationException] {
      log.migrate(1, Set("Created"), evs => Some(evs.map(r => EventDetail("CreatedV2", r.body))))
    }
    assert(e.getMessage.contains(s"c${rival.n}"), e.getMessage)
    assert(log.committedEvents.orderBy("id").collect().toSeq === before)
    assert(log.manifest.claims().count(_.kind == CommitClaim.KindRewrite) === 1,
      "the refused migration must not stack a claim over the rival's inputs")
  }

  test("racing deliveries of DIFFERENT batches never regress the ingest ledger") {
    val log = newLog()
    val s = spark
    import s.implicits._
    def batchDF(tag: String) = Seq((s"lg-$tag", "Account", "Created", "{}", 1))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def deliver(tag: String, b: Long) = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        start.await()
        log.appendBulk(batchDF(tag), ledgerId = Some("LR"), batchId = b)
      }
    })
    val f7 = deliver("b7", 7L)
    val f8 = deliver("b8", 8L)
    start.countDown()
    f7.get(120, TimeUnit.SECONDS): Unit
    f8.get(120, TimeUnit.SECONDS): Unit
    pool.shutdown()
    assert(log.streamEvents("lg-b8").count() === 1L)
    // the commitLedger guard makes an in-order regression impossible, and a
    // sub-millisecond check/write interleaving is repaired at prune time:
    // restoreLedger maxes the file against every forgotten claim's mark, so
    // after the chain claims retire the ledger MUST read the highest batch
    log.append(Seq(rec("lg-tip", 0))) // move the tip off the batch claims
    log.manifest.prune(Map("lg-b7" -> 1, "lg-b8" -> 1, "lg-tip" -> 1),
      staleMs = 0L): Unit
    val lp = new org.apache.hadoop.fs.Path(s"${log.path}/_ingest/LR")
    val lfs = lp.getFileSystem(spark.sessionState.newHadoopConf())
    val in = lfs.open(lp)
    val mark = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(mark === "8", s"ledger must never regress below the max batch (read $mark)")
    // a fresh redelivery of batch 8 is a no-op even with the claims pruned
    assert(log.appendBulk(batchDF("b8"), ledgerId = Some("LR"), batchId = 8L) === 0L)
    assert(log.streamEvents("lg-b8").count() === 1L)
  }

  test("a stale pending claim AT THE TIP is condemned via a fence claim") {
    val log = newLog()
    log.append(Seq(rec("tipc-a", 0)))
    log.manifest.refresh()
    // dead writer's claim lands at the tip; the log then goes idle
    assert(log.manifest.tryClaim(CommitClaim(2L, Map("tipc-x" -> (0, 1)),
      Seq.empty, "dead-writer", System.currentTimeMillis() - 100000L, done = false)))
    intercept[ConcurrentModificationException] { log.append(Seq(rec("tipc-x", 0))) }
    // ONE prune call must clear it — no unrelated append needed to move the tip
    assert(log.manifest.prune(Map.empty, staleMs = 60000L) >= 1)
    assert(log.manifest.status(2L).isEmpty, "the dead tip claim must be gone")
    // the condemned reservation stays a permanent version GAP (the cache
    // remembers it in-process): appends continue past it
    log.append(Seq(rec("tipc-x", 1)))
    assert(log.streamEvents("tipc-x").collect().map(_.getInt(3)).toSeq === Seq(2))
  }

  test("markDone refuses a claim that prune condemned (slow-but-alive writer)") {
    val log = newLog()
    log.append(Seq(rec("slow-a", 0)))
    log.manifest.refresh()
    assert(log.manifest.tryClaim(CommitClaim(2L, Map("slow-x" -> (0, 1)),
      Seq.empty, "slow-writer", System.currentTimeMillis() - 100000L, done = false)))
    log.append(Seq(rec("slow-b", 0))) // move the tip
    log.manifest.prune(Map.empty, staleMs = 60000L): Unit
    // the stalled writer wakes up and tries to flip its (condemned) claim
    intercept[ConcurrentModificationException] { log.manifest.markDone(2L) }
    val conf = spark.sessionState.newHadoopConf()
    val done = new org.apache.hadoop.fs.Path(
      s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}/v2.done")
    assert(!done.getFileSystem(conf).exists(done),
      "no orphan done marker may survive the refused flip")
  }

  test("markDone vs condemning prune: the fate race has exactly ONE winner") {
    // The old two-marker handshake (condemned + done with mutual second
    // looks) had a double-yield interleaving: prune observed the done
    // marker and trusted it (caching done=true) while the writer observed
    // the condemned marker and rolled its done marker back — prune's next
    // pass then forgot the claim WITHOUT deleting its staged files, leaving
    // claimless token files every reader treats as committed. The single
    // fate file makes the outcome a consensus: hammer the race and assert
    // the state is one of exactly two legal worlds every time.
    for (round <- 1 to 10) {
      val log = newLog()
      log.append(Seq(rec(s"fw-seed", 0)))
      log.manifest.refresh()
      // stale pending claim with a staged token file (the contended commit)
      val conf = spark.sessionState.newHadoopConf()
      val events = new org.apache.hadoop.fs.Path(log.path, "events")
      val fs = events.getFileSystem(conf)
      val orig = fs.listStatus(events).filter(_.getPath.getName.startsWith("bucket="))
        .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath.toString).toSeq
      val bucketDir = new org.apache.hadoop.fs.Path(orig.head).getParent
      val staged = new org.apache.hadoop.fs.Path(bucketDir, "c2-part-race.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(orig.head),
        fs, staged, false, conf)
      assert(log.manifest.tryClaim(CommitClaim(2L, Map.empty, Seq.empty,
        "slow-writer", System.currentTimeMillis() - 100000L, done = false,
        CommitClaim.KindRewrite, Seq.empty)))
      log.append(Seq(rec(s"fw-tip", 0))) // keep the contended claim off the tip
      // a SEPARATE chain instance plays the pruner (fresh cache = fresh
      // process), racing the in-process writer's markDone
      val pruner = new graft.log.ManifestCommitLog(spark, log.path)
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val writerF = pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          try { log.manifest.markDone(2L); true }
          catch { case _: ConcurrentModificationException => false }
        }
      })
      val prunerF = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { start.await(); pruner.prune(Map.empty, staleMs = 60000L): Unit }
      })
      start.countDown()
      val writerWon = writerF.get(60, TimeUnit.SECONDS)
      prunerF.get(60, TimeUnit.SECONDS)
      pool.shutdown()
      val statusAfterRace = new graft.log.ManifestCommitLog(spark, log.path).status(2L)
      // ONE more prune from the pruner's (possibly poisoned, in the old
      // design) view: in the double-yield bug this pass forgot the claim
      // without deleting the staged file
      pruner.prune(Map("fw-seed" -> 1, "fw-tip" -> 1), staleMs = 60000L): Unit
      val stagedExists = fs.exists(staged)
      if (writerWon) {
        // world A: commit stands — staged file intact and visible (the
        // second prune may legitimately FORGET the done claim; its data
        // files survive and committed-by-default semantics keep them in)
        assert(statusAfterRace === Some(true),
          s"round $round: writer won but disk says $statusAfterRace")
        assert(stagedExists, s"round $round: writer won but the staged file is gone")
        assert(log.committedEvents.count() === 3L,
          s"round $round: committed rows must include the staged file's")
      } else {
        // world B: condemned — claim gone, staged file deleted, rows hidden
        assert(statusAfterRace.isEmpty,
          s"round $round: condemned claim still on disk: $statusAfterRace")
        assert(!stagedExists, s"round $round: condemned claim's staged file survived")
        assert(log.committedEvents.count() === 2L,
          s"round $round: a condemned claim's rows resurfaced")
      }
    }
  }

  test("a rival's stale cache cannot condemn a committed-and-forgotten claim") {
    // The cache deliberately remembers pruned claims. A rival instance that
    // cached claim N as PENDING, then slept through N's markDone AND the
    // prune that forgot the done claim (chain files deleted; committed c{N}-
    // data files survive), sees a stale-pending claim with a clean fate
    // slate — winning a condemnation there would delete COMMITTED data.
    val log = newLog()
    log.append(Seq(rec("rv-a", 0))) // claim 1
    log.manifest.refresh()
    assert(log.manifest.tryClaim(CommitClaim(2L, Map.empty, Seq.empty,
      "bulk-writer", System.currentTimeMillis() - 100000L, done = false)))
    val rival = new graft.log.ManifestCommitLog(spark, log.path)
    rival.refresh() // rival caches claim 2 as pending, then sleeps
    val conf = spark.sessionState.newHadoopConf()
    val events = new org.apache.hadoop.fs.Path(log.path, "events")
    val fs = events.getFileSystem(conf)
    val orig = fs.listStatus(events).filter(_.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath.toString).toSeq
    val staged = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(orig.head).getParent, "c2-part-rival.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(orig.head),
      fs, staged, false, conf)
    log.manifest.markDone(2L) // the claim commits…
    log.append(Seq(rec("rv-b", 0))) // …the tip moves on…
    log.manifest.prune(Map("rv-a" -> 1, "rv-b" -> 1), staleMs = 60000L): Unit
    val commitDir = s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}"
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$commitDir/v2.tsv")),
      "precondition: the done claim was forgotten")
    assert(fs.exists(staged), "precondition: committed data survives forgetting")
    // …and the rival wakes up and prunes with its stale pending view
    rival.prune(Map.empty, staleMs = 60000L): Unit
    assert(fs.exists(staged),
      "rival prune condemned a forgotten-but-committed claim and deleted its data")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$commitDir/v2.fate")),
      "no fate may be minted for a claim that is gone from the chain")
    assert(log.committedEvents.count() === 3L)
  }

  test("legacy .condemned markers are honored by markDone and swept by prune") {
    val log = newLog()
    log.append(Seq(rec("lg-a", 0))) // claim 1
    log.manifest.refresh()
    assert(log.manifest.tryClaim(CommitClaim(2L, Map.empty, Seq.empty,
      "old-writer", System.currentTimeMillis() - 100000L, done = false)))
    val conf = spark.sessionState.newHadoopConf()
    val events = new org.apache.hadoop.fs.Path(log.path, "events")
    val fs = events.getFileSystem(conf)
    val orig = fs.listStatus(events).filter(_.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath.toString).toSeq
    val staged = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(orig.head).getParent, "c2-part-legacy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(orig.head),
      fs, staged, false, conf)
    val commitDir = s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}"
    // a condemnation left by the PREVIOUS two-marker protocol (no fate file)
    fs.create(new org.apache.hadoop.fs.Path(s"$commitDir/v2.condemned"), true).close()
    intercept[ConcurrentModificationException] { log.manifest.markDone(2L) }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$commitDir/v2.fate")),
      "a legacy condemnation is honored BEFORE racing for the fate")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$commitDir/v2.done")))
    log.append(Seq(rec("lg-b", 0))) // move the tip off the condemned claim
    log.manifest.prune(Map("lg-a" -> 1, "lg-b" -> 1), staleMs = 60000L): Unit
    assert(!fs.exists(staged), "the legacy-condemned claim's staged file must go")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$commitDir/v2.condemned")),
      "the legacy marker is cleaned up with the claim")
    // a claimless leftover from a prune that crashed mid-cleanup is swept too
    fs.create(new org.apache.hadoop.fs.Path(s"$commitDir/v9.condemned"), true).close()
    log.manifest.prune(Map.empty, staleMs = 60000L): Unit
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$commitDir/v9.condemned")))
  }

  test("status() reports a won done fate without writing (read-only probe)") {
    val log = newLog()
    log.append(Seq(rec("st-a", 0))) // claim 1
    log.manifest.refresh()
    assert(log.manifest.tryClaim(CommitClaim(2L, Map.empty, Seq.empty, "w",
      System.currentTimeMillis(), done = false)))
    // the writer won the fate and crashed in the instant before deriving
    // the listing-visible marker
    val conf = spark.sessionState.newHadoopConf()
    val commitDir = s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}"
    val fate = new org.apache.hadoop.fs.Path(s"$commitDir/v2.fate")
    val fs = fate.getFileSystem(conf)
    val out = fs.create(fate, true)
    try out.write("done".getBytes("UTF-8")) finally out.close()
    assert(log.manifest.status(2L) === Some(true))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$commitDir/v2.done")),
      "status() is a read-only probe — read-only reader deployments call it")
  }

  test("orphan sidecar sweep ages by creation time in the name, not dir mtime") {
    val log = newLog()
    log.append(Seq(rec("os-a", 0)))
    val s = spark
    import s.implicits._
    val heads = Seq(("os-x", 0, 1)).toDF("aggregate_id", "base", "head")
    val (freshName, _, _) = log.manifest.writeSidecar(heads)
    val (tmpName, _, _) = log.manifest.writeSidecar(heads)
    val conf = spark.sessionState.newHadoopConf()
    val cdir = new org.apache.hadoop.fs.Path(
      s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}")
    val fs = cdir.getFileSystem(conf)
    // forge an AGED orphan by renaming to a name with an old birth stamp
    val oldName = s"r${System.currentTimeMillis() - 100000L}xforged00"
    assert(fs.rename(new org.apache.hadoop.fs.Path(cdir, tmpName),
      new org.apache.hadoop.fs.Path(cdir, oldName)))
    log.manifest.prune(Map.empty, staleMs = 60000L): Unit
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cdir, oldName)),
      "an orphan past its birth-stamp horizon is swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(cdir, freshName)),
      "a just-written orphan survives even where dir mtimes are synthetic")
  }

  test("snapshot rewrites go through claims too: compact keeps only the latest") {
    val log = newLog()
    log.append(Seq(rec("sn-a", 0)))
    log.append(Seq(rec("sn-a", 1)))
    Seq(1, 2).foreach { v =>
      log.saveSnapshot(graft.core.SnapshotRow(f"01HXSNAPMANIF$v%012d", "sn-a", v,
        "Account", s"""{"balance":$v}""", new java.sql.Timestamp(v.toLong), Map.empty))
    }
    assert(log.snapshots.count() === 2L)
    log.compactSnapshots()
    assert(log.snapshots.count() === 1L)
    assert(log.latestSnapshot("sn-a").map(_.aggregate_version) === Some(2))
    assert(log.manifest.claims().exists(c =>
      c.kind === graft.log.CommitClaim.KindRewrite && c.done))
  }

  test("bulkImport is claim-fenced: an in-flight reservation fails the import") {
    // another driver claimed the stream but hasn't written data yet — the
    // parquet probe alone cannot see it; the chain reservation must
    val log = newLog()
    log.manifest.refresh()
    assert(log.manifest.tryClaim(CommitClaim(1L, Map("bi-x" -> (0, 3)), Seq.empty,
      "other-driver", System.currentTimeMillis(), done = false)))
    val s = spark
    import s.implicits._
    val batch = Seq(("bi-x", "Account", "Created", "{}", 1))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    intercept[ConcurrentModificationException] { log.bulkImport(batch) }
    assert(log.events.count() === 0L, "failed import must not write")
    // an unreserved stream imports fine and lands its own claim
    val ok = Seq(("bi-y", "Account", "Created", "{}", 1))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    assert(log.bulkImport(ok) === 1L)
    val c = log.manifest.claims().filter(_.streams.contains("bi-y"))
    assert(c.nonEmpty && c.head.done && c.head.streams("bi-y") === (0, 1))
    assert(log.streamEvents("bi-y").count() === 1L)
  }

  test("racing bulkImports of one new stream: exactly one wins, loser gets CME") {
    val logA = newLog()
    val logB = new EventLog(spark, logA.path, numBuckets = 4,
      ulidSeed = Some(41L), commitMode = CommitMode.Manifest)
    val s = spark
    import s.implicits._
    def batch = Seq(("race-bi", "Account", "Created", "{}", 1))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = Seq(logA, logB).map(log => pool.submit(new Runnable {
      override def run(): Unit = {
        start.await()
        try { log.bulkImport(batch); outcomes.add("ok"): Unit }
        catch { case _: ConcurrentModificationException => outcomes.add("cme"): Unit }
      }
    }))
    start.countDown()
    try futures.foreach(_.get(180, TimeUnit.SECONDS))
    finally { pool.shutdownNow(); () }
    import scala.jdk.CollectionConverters._
    assert(outcomes.asScala.toSeq.sorted === Seq("cme", "ok"))
    assert(logA.streamEvents("race-bi").count() === 1L,
      "exactly one import's single event must be visible")
  }

  test("CONCURRENT redelivery of one (ledgerId, batch) appends exactly once") {
    // the zombie-driver-vs-failover-replacement race: both deliveries pass
    // any pre-check simultaneously; the chain must fence the dedup so only
    // one append lands (the in-loop rival re-check after each refresh)
    val logA = newLog()
    val logB = new EventLog(spark, logA.path, numBuckets = 4,
      ulidSeed = Some(43L), commitMode = CommitMode.Manifest)
    val s = spark
    import s.implicits._
    def batch = (1 to 30).map(i => (s"cr-${i % 3}", "Account", "Deposited",
        s"""{"n":$i}""", i))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val results = Seq(logA, logB).map(log =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          start.await()
          log.appendBulk(batch, ledgerId = Some("cdc"), batchId = 7L)
        }
      }))
    start.countDown()
    val outs = try results.map(_.get(180, TimeUnit.SECONDS))
      finally { pool.shutdownNow(); () }
    assert(outs.sorted === Seq(0L, 30L),
      s"exactly one delivery must append, the rival must skip — got $outs")
    assert(logA.committedEvents.count() === 30L, "no duplicate batch")
    assert(logA.streamEvents("cr-0").collect().map(_.getInt(3)).toSeq === (1 to 10),
      "single contiguous version range — no interleaved duplicate")
  }

  test("appendBulk continues versions past chain reservations (claim-fenced heads)") {
    val log = newLog()
    log.append(Seq(rec("ab-s", 0, 2))) // v1..2, claim 1
    log.manifest.refresh()
    // dead writer reserved 3..5 and never wrote — heads must come from
    // max(parquet, chain), so the bulk append starts at 6
    assert(log.manifest.tryClaim(CommitClaim(2L, Map("ab-s" -> (2, 5)), Seq.empty,
      "dead-writer", System.currentTimeMillis(), done = false)))
    val s = spark
    import s.implicits._
    val batch = Seq(("ab-s", "Account", "Deposited", "{}", 1),
        ("ab-s", "Account", "Deposited", "{}", 2))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    assert(log.appendBulk(batch) === 2L)
    assert(log.streamEvents("ab-s").collect().map(_.getInt(3)).toSeq === Seq(1, 2, 6, 7),
      "versions 3..5 stay the dead writer's permanent gap")
    val c = log.manifest.claims().find(_.streams.get("ab-s").exists(_._2 == 7))
    assert(c.nonEmpty && c.get.streams("ab-s") === (5, 7) && c.get.done)
  }

  test("ingest ledger rides the claim chain: redelivery after a lost ledger file is a no-op") {
    // crash window under test: the done marker landed but the writer died
    // before the _ingest ledger file write — a file-ledger-only dedup would
    // re-append the redelivered batch; the claim's ledger mark must not
    val log = newLog()
    val s = spark
    import s.implicits._
    def batch = Seq(("lg-a", "Account", "Created", "{}", 1),
        ("lg-b", "Account", "Created", "{}", 1))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    assert(log.appendBulk(batch, ledgerId = Some("ing-1"), batchId = 7L) === 2L)
    // simulate the crash: the ledger file vanishes, the chain survives
    val conf = spark.sessionState.newHadoopConf()
    val lf = new org.apache.hadoop.fs.Path(s"${log.path}/_ingest/ing-1")
    assert(lf.getFileSystem(conf).delete(lf, false), "fixture must delete the ledger")
    // a FRESH instance (cold chain cache — a restarted driver) must still skip
    val log2 = new EventLog(spark, log.path, numBuckets = 4,
      ulidSeed = Some(51L), commitMode = CommitMode.Manifest)
    assert(log2.appendBulk(batch, ledgerId = Some("ing-1"), batchId = 7L) === 0L,
      "redelivered batch must dedup against the chain's ledger mark")
    assert(log2.committedEvents.count() === 2L, "no duplicate rows")
    // the next batch still goes through
    assert(log2.appendBulk(batch.withColumn("seq", col("seq") + 1),
      ledgerId = Some("ing-1"), batchId = 8L) === 2L)
    assert(log2.streamEvents("lg-a").collect().map(_.getInt(3)).toSeq === Seq(1, 2))
  }

  test("prune restores the ledger file before forgetting a ledger-marked claim") {
    // without the restore, pruning the claim after a lost ledger file would
    // reopen the redelivery-duplicate window the chain mark closed
    val log = newLog()
    val s = spark
    import s.implicits._
    def batch = Seq(("pl-a", "Account", "Created", "{}", 1))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    assert(log.appendBulk(batch, ledgerId = Some("ing-p"), batchId = 3L) === 1L)
    log.append(Seq(rec("pl-b", 0))) // so the ledger claim is not the tip
    val conf = spark.sessionState.newHadoopConf()
    val lf = new org.apache.hadoop.fs.Path(s"${log.path}/_ingest/ing-p")
    assert(lf.getFileSystem(conf).delete(lf, false), "fixture must delete the ledger")
    assert(log.manifest.prune(Map("pl-a" -> 1, "pl-b" -> 1)) >= 1)
    assert(lf.getFileSystem(conf).exists(lf), "prune must restore the ledger file")
    val log2 = new EventLog(spark, log.path, numBuckets = 4,
      ulidSeed = Some(52L), commitMode = CommitMode.Manifest)
    assert(log2.appendBulk(batch, ledgerId = Some("ing-p"), batchId = 3L) === 0L,
      "redelivery must still dedup after the claim is pruned")
    assert(log2.committedEvents.filter(col("aggregate_id") === "pl-a").count() === 1L)
  }

  test("prune deletes a condemned pending claim's staged files (no resurrection)") {
    // a crashed bulk writer moved SOME token-prefixed files in before dying;
    // they are hidden only while the pending claim exists — pruning the
    // stale claim must delete them, never un-hide them as committed data
    val log = newLog()
    log.append(Seq(rec("st-a", 0)))
    log.manifest.refresh()
    assert(log.manifest.tryClaim(CommitClaim(2L, Map("st-b" -> (0, 1)), Seq.empty,
      "dead-bulk-writer", System.currentTimeMillis() - 10000L, done = false)))
    // plant a staged file: copy an existing bucket file under the claim token
    val conf = spark.sessionState.newHadoopConf()
    val events = new org.apache.hadoop.fs.Path(log.path, "events")
    val fs = events.getFileSystem(conf)
    val src = fs.listStatus(events).filter(_.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    val staged = new org.apache.hadoop.fs.Path(src.getParent, s"c2-${src.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, staged, false, conf)
    assert(log.committedEvents.count() === 1L, "staged file hidden while claim pends")
    log.append(Seq(rec("st-c", 0))) // bump the tip past the dead claim
    assert(log.manifest.prune(Map("st-a" -> 1, "st-c" -> 1), staleMs = 1000L) === 2)
    assert(!fs.exists(staged), "prune must physically delete the staged file")
    val fresh = new EventLog(spark, log.path, numBuckets = 4,
      commitMode = CommitMode.Manifest)
    assert(fresh.committedEvents.count() === 2L,
      "a fresh reader must not see the dead claim's rows resurface")
  }

  test("bulk reservations beyond the inline threshold ride a parquet sidecar") {
    sys.props("graft.bulkClaim.inlineMax") = "3"
    try {
      val log = newLog()
      val s = spark
      import s.implicits._
      val batch = (1 to 8).map(i => (s"sc-$i", "Account", "Created", "{}", 1))
        .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
      assert(log.bulkImport(batch) === 8L)
      val bulk = log.manifest.claims().last
      assert(bulk.streams.isEmpty && bulk.streamsRef.isDefined,
        "above the threshold the claim TSV must carry a sidecar ref, not stream lines")
      assert(bulk.refCount === 8L && bulk.refMaxHead === 1)
      assert(log.streamEvents("sc-3").count() === 1L)

      // a FRESH instance (cold cache — restarted driver) parses the ref and
      // resolves reservations from the sidecar parquet
      val log2 = new EventLog(spark, log.path, numBuckets = 4,
        ulidSeed = Some(44L), commitMode = CommitMode.Manifest)
      log2.manifest.refresh()
      assert(log2.manifest.reservedHeads(Seq("sc-3", "sc-nope")) === Map("sc-3" -> 1))

      // dead bulk writer: a PENDING sidecar reservation with no data must
      // fence writers exactly like inline reservation lines
      val heads = Seq(("sc-dead", 0, 3)).toDF("aggregate_id", "base", "head")
      val (name, cnt, mh) = log.manifest.writeSidecar(heads)
      log.manifest.refresh()
      val tip = log.manifest.claims().map(_.n).max
      assert(log.manifest.tryClaim(CommitClaim(tip + 1, Map.empty, Seq.empty,
        "dead-writer", System.currentTimeMillis() - 100000L, done = false,
        streamsRef = Some(name), refCount = cnt, refMaxHead = mh)))
      intercept[ConcurrentModificationException] {
        log.append(Seq(rec("sc-dead", 0)))
      }
      // the distributed requireNew probe sees the sidecar reservation too
      intercept[ConcurrentModificationException] {
        log.bulkImport(Seq(("sc-dead", "Account", "Created", "{}", 1))
          .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq"))
      }
      // appendBulk continues past it: versions 1..3 stay the dead writer's gap
      assert(log.appendBulk(Seq(("sc-dead", "Account", "Deposited", "{}", 1))
        .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")) === 1L)
      assert(log.streamEvents("sc-dead").collect().map(_.getInt(3)).toSeq === Seq(4))

      // prune condemns the dead claim and deletes its sidecar
      log.append(Seq(rec("sc-live", 0))) // move the tip off the dead claim
      log.manifest.prune(Map.empty, staleMs = 60000L): Unit
      val conf = spark.sessionState.newHadoopConf()
      val side = new org.apache.hadoop.fs.Path(
        s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}/$name")
      assert(!side.getFileSystem(conf).exists(side),
        "a condemned bulk claim's sidecar must be swept with it")
    } finally { sys.props.remove("graft.bulkClaim.inlineMax"); () }
  }

  test("appendBulk reservations beyond the inline threshold ride a parquet sidecar") {
    sys.props("graft.bulkClaim.inlineMax") = "3"
    try {
      val log = newLog()
      val s = spark
      import s.implicits._
      // two streams already exist (heads 2 and 1) — the sidecar path must
      // CONTINUE their versions, unlike bulkImport's all-new base-0 claims
      log.append(Seq(rec("ab-1", 0, 2)))
      log.append(Seq(rec("ab-2", 0, 1)))
      val batch = (1 to 8).map(i => (s"ab-$i", "Account", "Deposited", "{}", 1))
        .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
      assert(log.appendBulk(batch) === 8L)
      val bulk = log.manifest.claims().last
      assert(bulk.streams.isEmpty && bulk.streamsRef.isDefined,
        "above the threshold the appendBulk claim must carry a sidecar ref, not stream lines")
      assert(bulk.refCount === 8L)
      assert(bulk.refMaxHead === 3, "ab-1's head 2 continues to 3 in the sidecar summary")
      assert(log.streamEvents("ab-1").collect().map(_.getInt(3)).toSeq === Seq(1, 2, 3))
      assert(log.streamEvents("ab-2").collect().map(_.getInt(3)).toSeq === Seq(1, 2))
      assert(log.streamEvents("ab-7").collect().map(_.getInt(3)).toSeq === Seq(1))

      // cold cache (restarted driver): reservations resolve from the sidecar
      val log2 = new EventLog(spark, log.path, numBuckets = 4,
        ulidSeed = Some(45L), commitMode = CommitMode.Manifest)
      log2.manifest.refresh()
      assert(log2.manifest.reservedHeads(Seq("ab-1", "ab-nope")) === Map("ab-1" -> 3))
      // optimistic check honors the sidecar-reserved head
      intercept[ConcurrentModificationException] { log2.append(Seq(rec("ab-1", 2))) }
      log2.append(Seq(rec("ab-1", 3)))
      assert(log2.streamEvents("ab-1").count() === 4L)
    } finally { sys.props.remove("graft.bulkClaim.inlineMax"); () }
  }

  test("migration reservations beyond the inline threshold ride a parquet sidecar") {
    sys.props("graft.bulkClaim.inlineMax") = "3"
    try {
      val log = newLog()
      (1 to 8).foreach(i => log.append(Seq(AppendRecord(s"ms-$i", "Account", 0,
        Map.empty, Seq(EventDetail("Created", s"""{"v":$i}"""))))))
      val migrated = log.migrate(1, Set("Created"),
        evs => Some(evs.map(e => EventDetail("CreatedV2", e.body))))
      assert(migrated.size === 8)
      val rewrite = log.manifest.claims().filter(_.kind == CommitClaim.KindRewrite).last
      assert(rewrite.streams.isEmpty && rewrite.streamsRef.isDefined,
        "above the threshold the migration claim must carry a sidecar ref")
      assert(rewrite.refCount === 8L && rewrite.refMaxHead === 3)
      // data is exactly the lock-mode shape: original invalidated, fence, copy
      val one = log.committedEvents.filter(col("aggregate_id") === "ms-5")
        .orderBy(col("aggregate_version")).collect()
      assert(one.map(_.getAs[String]("kind")).toSeq ===
        Seq("Created", "Invalidated", "CreatedV2"))
      assert(one.map(_.getAs[Int]("migration")).toSeq === Seq(1, 1, 0))
      // the sidecar reservation fences a stale writer exactly like inline lines
      intercept[ConcurrentModificationException] {
        log.append(Seq(AppendRecord("ms-5", "Account", 1, Map.empty,
          Seq(EventDetail("Deposited", "{}")))))
      }
      log.append(Seq(AppendRecord("ms-5", "Account", 3, Map.empty,
        Seq(EventDetail("Deposited", "{}")))))
      assert(log.streamEvents("ms-5").count() === 2L)
    } finally { sys.props.remove("graft.bulkClaim.inlineMax"); () }
  }

  test("kind-wide NoOp fences beyond the inline threshold ride a sidecar claim") {
    sys.props("graft.bulkClaim.inlineMax") = "3"
    try {
      val log = newLog()
      (1 to 8).foreach(i => log.append(Seq(AppendRecord(s"nf-$i", "Account", 0,
        Map.empty, Seq(EventDetail("Created", "{}"))))))
      assert(log.appendNoOpFences("Account") === 8L)
      val fenceClaim = log.manifest.claims().last
      assert(fenceClaim.streams.isEmpty && fenceClaim.streamsRef.isDefined,
        "above the threshold the fence claim must carry a sidecar ref")
      assert(fenceClaim.refCount === 8L && fenceClaim.refMaxHead === 2)
      val fences = log.activeEvents.filter(col("kind") === EventLog.KindNoOp)
      assert(fences.count() === 8L)
      assert(fences.filter(col("aggregate_version") =!= 2).count() === 0L)
      // a writer that planned before the fence pass loses its optimistic check
      intercept[ConcurrentModificationException] {
        log.append(Seq(AppendRecord("nf-2", "Account", 1, Map.empty,
          Seq(EventDetail("Deposited", "{}")))))
      }
      log.append(Seq(AppendRecord("nf-2", "Account", 2, Map.empty,
        Seq(EventDetail("Deposited", "{}")))))
      assert(log.streamEvents("nf-2").count() === 3L)
    } finally { sys.props.remove("graft.bulkClaim.inlineMax"); () }
  }

  test("a migration writer dying between claim and done leaves no trace after prune") {
    // the round-8 crash window: rewrite claim won WITH a sidecar, staged
    // token files partially moved in, writer dies. Prune must condemn the
    // claim, delete the staged files AND the sidecar, and the log must read
    // exactly as before the migration started.
    val log = newLog()
    (1 to 3).foreach(i => log.append(Seq(AppendRecord(s"mc-$i", "Account", 0,
      Map.empty, Seq(EventDetail("Created", s"""{"v":$i}"""))))))
    val before = log.committedEvents.orderBy("aggregate_id", "aggregate_version")
      .collect().toSeq
    log.manifest.refresh()
    val s = spark
    import s.implicits._
    // dead migration writer: sidecar staged, rewrite claim won, no done
    val heads = (1 to 3).map(i => (s"mc-$i", 1, 3))
      .toDF("aggregate_id", "base", "head")
    val (name, cnt, mh) = log.manifest.writeSidecar(heads)
    val tip = log.manifest.claims().map(_.n).max
    // the claim replaces a real live file (as a crashed stageRewrite would)
    val conf = spark.sessionState.newHadoopConf()
    val events = new org.apache.hadoop.fs.Path(log.path, "events")
    val fs = events.getFileSystem(conf)
    val victim = fs.listStatus(events).filter(_.getPath.getName.startsWith("bucket="))
      .flatMap(d => fs.listStatus(d.getPath))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    assert(log.manifest.tryClaim(CommitClaim(tip + 1, Map.empty, Seq.empty,
      "dead-migrator", System.currentTimeMillis() - 100000L, done = false,
      kind = CommitClaim.KindRewrite, replaced = Seq(victim.toString),
      streamsRef = Some(name), refCount = cnt, refMaxHead = mh)))
    val staged = new org.apache.hadoop.fs.Path(victim.getParent,
      s"c${tip + 1}-${victim.getName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, victim, fs, staged, false, conf)

    // while the claim pends: reads unchanged, writers fenced by the sidecar
    assert(log.committedEvents.orderBy("aggregate_id", "aggregate_version")
      .collect().toSeq === before, "pending rewrite must be invisible")
    intercept[ConcurrentModificationException] {
      log.append(Seq(AppendRecord("mc-2", "Account", 1, Map.empty,
        Seq(EventDetail("Deposited", "{}")))))
    }

    log.append(Seq(rec("mc-live", 0))) // move the tip off the dead claim
    log.manifest.prune(Map.empty, staleMs = 60000L): Unit
    assert(!fs.exists(staged), "staged rewrite file must be deleted")
    val side = new org.apache.hadoop.fs.Path(
      s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}/$name")
    assert(!side.getFileSystem(conf).exists(side),
      "the condemned migration's sidecar must be swept")
    assert(fs.exists(victim), "the replaced live file must survive condemnation")
    // a fresh reader sees the pre-migration log plus the live append
    val fresh = new EventLog(spark, log.path, numBuckets = 4,
      commitMode = CommitMode.Manifest)
    assert(fresh.committedEvents.filter(col("aggregate_id").startsWith("mc-"))
      .count() === before.size + 1L)
    // and the fenced writer now succeeds at the real head
    fresh.append(Seq(AppendRecord("mc-2", "Account", 1, Map.empty,
      Seq(EventDetail("Deposited", "{}")))))
    assert(fresh.streamEvents("mc-2").count() === 2L)
  }

  test("a sidecar-scale migration re-plans when an append interleaves (no lost rows)") {
    // inlineMax=0 forces even this 1-stream plan through the sidecar path, so
    // the race coverage of the inline re-plan test applies to sidecar claims:
    // stale plan abandoned (sidecar reclaimed), recomputed plan commits both
    sys.props("graft.bulkClaim.inlineMax") = "0"
    try {
      val log = newLog()
      log.append(Seq(AppendRecord("scm-race", "Account", 0, Map.empty,
        Seq(EventDetail("Created", """{"v":1}""")))))
      MigrateRaceGate.entered = new CountDownLatch(1)
      MigrateRaceGate.release = new CountDownLatch(1)
      MigrateRaceGate.handlerRuns.set(0)
      val pool = Executors.newFixedThreadPool(1)
      val mig = pool.submit(new java.util.concurrent.Callable[Seq[graft.log.MigratedStream]] {
        override def call() = log.migrate(1, Set("Created"), { evs =>
          MigrateRaceGate.handlerRuns.incrementAndGet(): Unit
          MigrateRaceGate.entered.countDown()
          MigrateRaceGate.release.await(60, TimeUnit.SECONDS): Unit
          Some(evs.map(e => EventDetail(
            if (e.kind == "Created") "CreatedV2" else e.kind, e.body)))
        })
      })
      assert(MigrateRaceGate.entered.await(60, TimeUnit.SECONDS))
      log.append(Seq(AppendRecord("scm-race", "Account", 1, Map.empty,
        Seq(EventDetail("Deposited", """{"money":5}""")))))
      MigrateRaceGate.release.countDown()
      val out = try mig.get(180, TimeUnit.SECONDS) finally { pool.shutdownNow(); () }
      assert(MigrateRaceGate.handlerRuns.get() == 2,
        "the stale sidecar plan must be abandoned and recomputed")
      assert(out.map(m => (m.aggregateId, m.lastVersion)) === Seq(("scm-race", 5)))
      val rows = log.committedEvents.filter(col("aggregate_id") === "scm-race")
        .orderBy(col("aggregate_version")).collect()
      assert(rows.map(_.getAs[Int]("aggregate_version")).toSeq === Seq(1, 2, 3, 4, 5),
        "single version chain — no collision, no lost row")
      // the abandoned attempt's sidecar was reclaimed; only won-claim
      // sidecars remain referenced in the chain
      val refs = log.manifest.claims().flatMap(_.streamsRef)
      val conf = spark.sessionState.newHadoopConf()
      val cdir = new org.apache.hadoop.fs.Path(
        s"${log.path}/${graft.log.ManifestCommitLog.CommitDir}")
      val fs = cdir.getFileSystem(conf)
      val onDisk = fs.listStatus(cdir).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
      assert(onDisk === refs.toSet,
        s"orphan sidecars left behind: ${(onDisk -- refs).mkString(",")}")
    } finally { sys.props.remove("graft.bulkClaim.inlineMax"); () }
  }

  test("an append landing mid-migrate forces a re-plan: both writes survive") {
    // the reference fences migration against concurrent writers with its
    // unique index (store/postgresql/events_migration.go:90-206); here the
    // migration claim must re-validate planned heads and re-plan when an
    // append interleaved — no lost rows, single version chain
    val log = newLog()
    log.append(Seq(AppendRecord("mig-race", "Account", 0, Map.empty,
      Seq(EventDetail("Created", """{"v":1}""")))))
    MigrateRaceGate.entered = new CountDownLatch(1)
    MigrateRaceGate.release = new CountDownLatch(1)
    MigrateRaceGate.handlerRuns.set(0)
    val pool = Executors.newFixedThreadPool(1)
    val mig = pool.submit(new java.util.concurrent.Callable[Seq[graft.log.MigratedStream]] {
      override def call() = log.migrate(1, Set("Created"), { evs =>
        MigrateRaceGate.handlerRuns.incrementAndGet(): Unit
        MigrateRaceGate.entered.countDown()
        MigrateRaceGate.release.await(60, TimeUnit.SECONDS): Unit
        Some(evs.map(e => EventDetail(
          if (e.kind == "Created") "CreatedV2" else e.kind, e.body)))
      })
    })
    // the first plan is inside the handler → the append lands and COMMITS
    // before the migration can claim
    assert(MigrateRaceGate.entered.await(60, TimeUnit.SECONDS))
    log.append(Seq(AppendRecord("mig-race", "Account", 1, Map.empty,
      Seq(EventDetail("Deposited", """{"money":5}""")))))
    MigrateRaceGate.release.countDown()
    val out = try mig.get(180, TimeUnit.SECONDS) finally { pool.shutdownNow(); () }

    assert(MigrateRaceGate.handlerRuns.get() == 2,
      "the stale first plan must be thrown away and recomputed")
    assert(out.map(m => (m.aggregateId, m.lastVersion)) === Seq(("mig-race", 5)),
      "re-planned migration covers the interleaved append: fence v3, copies v4..v5")
    val rows = log.committedEvents.filter(col("aggregate_id") === "mig-race")
      .orderBy(col("aggregate_version")).collect()
    assert(rows.map(_.getAs[Int]("aggregate_version")).toSeq === Seq(1, 2, 3, 4, 5),
      "single version chain — no collision, no lost row")
    assert(rows.map(_.getAs[String]("kind")).toSeq ===
      Seq("Created", "Deposited", "Invalidated", "CreatedV2", "Deposited"))
    assert(rows.map(_.getAs[Int]("migration")).toSeq === Seq(1, 1, 1, 0, 0))
    // the raced append's payload survives in the active view
    val active = log.activeEvents.filter(col("aggregate_id") === "mig-race")
      .orderBy(col("aggregate_version")).collect()
    assert(active.map(_.getAs[String]("body")).toSeq ===
      Seq("""{"v":1}""", """{"money":5}"""))
  }

  test("an interactive append racing a migration's reservation gets CME") {
    val log = newLog()
    log.append(Seq(AppendRecord("mig-cme", "Account", 0, Map.empty,
      Seq(EventDetail("Created", """{"v":1}""")))))
    val migrated = log.migrate(1, Set("Created"),
      evs => Some(evs.map(e => EventDetail("CreatedV2", e.body))))
    assert(migrated.size === 1)
    // a writer that read head=1 before the migration committed loses its
    // optimistic check against the migration's reservation/parquet head
    intercept[ConcurrentModificationException] {
      log.append(Seq(AppendRecord("mig-cme", "Account", 1, Map.empty,
        Seq(EventDetail("Deposited", "{}")))))
    }
    // and succeeds when it re-reads the post-migration head (fence+copy = v3)
    log.append(Seq(AppendRecord("mig-cme", "Account", 3, Map.empty,
      Seq(EventDetail("Deposited", "{}")))))
    assert(log.streamEvents("mig-cme").count() === 2L, "copy + new append active")
  }

  test("lock-mode logs keep an empty chain") {
    val dir = Files.createTempDirectory("graftlockmode").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(24L))
    log.append(Seq(rec("l-a", 0)))
    assert(log.manifest.claims().isEmpty)
  }
}
