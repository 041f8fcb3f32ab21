package graft

import graft.log.EventLog
import graft.sources.Bus
import graft.store.EventStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f)
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  }

  test("compact merges small append files, preserves data, restores id sort order") {
    val dir = Files.createTempDirectory("graftcompact").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(31L))
    val store = new EventStore(log, AccountType)
    // 15 separate appends → many small files
    (1 to 15).foreach { i =>
      store.create(f"01HXCOMPACT${i}%015d", Seq(AccountType.created(i, s"o$i")))
    }
    val before = parquetFiles(s"$dir/events")
    assert(before >= 15)
    val dataBefore = log.events.orderBy("id").collect().toSeq

    log.compact()
    val after = parquetFiles(s"$dir/events")
    assert(after <= 2, s"expected ≤1 file per bucket, got $after")
    assert(log.events.orderBy("id").collect().toSeq == dataBefore)

    // appends still work after compaction, optimistic check intact
    store.update("01HXCOMPACT000000000000001")(_ => Seq(AccountType.deposited(1)))
    assert(store.retrieve("01HXCOMPACT000000000000001").state.balance == 2)
  }

  test("stats: small-files telemetry drives the compact/gc schedule") {
    val dir = Files.createTempDirectory("graftstats").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(33L))
    val store = new EventStore(log, AccountType)
    (1 to 10).foreach { i =>
      store.create(f"01HXSTATS${i}%017d", Seq(AccountType.created(i, s"o$i")))
    }
    val s1 = log.stats()
    assert(s1.events.map(_.bucket).toSet.subsetOf(Set(0, 1)))
    assert(s1.eventFiles >= 10, "one append = at least one file")
    assert(s1.maxFilesPerBucket >= 5)
    assert(s1.eventBytes > 0 && s1.pendingClaims == 0 && s1.replacedAwaitingGc == 0)
    log.compact()
    val s2 = log.stats()
    assert(s2.maxFilesPerBucket <= 1, "compaction collapses each bucket to one file")
    assert(log.events.count() == 10L)
  }

  test("compactSnapshots keeps only the latest snapshot per stream") {
    val dir = Files.createTempDirectory("graftsnapcompact").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(32L))
    val store = new EventStore(log, AccountType, snapshotThreshold = 1)
    val id = "01HXSNAPCOMPACT0000000001"
    store.create(id, Seq(AccountType.created(100, "P")))
    store.update(id)(_ => Seq(AccountType.deposited(1)))
    store.update(id)(_ => Seq(AccountType.deposited(2)))
    assert(log.snapshots.filter(col("aggregate_id") === id).count() == 3)
    log.compactSnapshots()
    val left = log.snapshots.filter(col("aggregate_id") === id).collect()
    assert(left.length == 1)
    assert(left.head.getAs[Int]("aggregate_version") == 3)
    assert(store.retrieve(id).state.balance == 103)
  }

  test("checkpoint store compaction keeps the latest token per key") {
    val dir = Files.createTempDirectory("graftcpcompact").toFile.getAbsolutePath
    val cp = new graft.streaming.CheckpointStore(spark, s"$dir/cp")
    (1 to 5).foreach { i =>
      cp.save(Seq(graft.streaming.Checkpoint("p", 1, s"id$i", i.toLong, done = true)))
    }
    cp.save(Seq(graft.streaming.Checkpoint("q", 2, "other", 9L, done = false)))
    // default retention: append-then-defer — superseded token rows survive
    // (a concurrent load with a stale listing stays whole), loads resolve new
    cp.compact()
    assert(spark.read.parquet(s"$dir/cp").count() > 2)
    assert(cp.load("p")(1).event_id == "id5")
    // past the horizon the superseded files are swept
    cp.compact(gcRetentionMs = 0L)
    assert(spark.read.parquet(s"$dir/cp").count() == 2) // one per (projection, partition)
    val loaded = cp.load("p")
    assert(loaded(1).event_id == "id5" && loaded(1).sequence == 5L)
    assert(cp.load("q")(2).event_id == "other")
  }

  test("bus frames: kafka key/value envelope and nats explicit partitions") {
    val dir = Files.createTempDirectory("graftbus").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(33L))
    val store = new EventStore(log, AccountType)
    store.create("01HXBUSACCT00000000000001", Seq(
      AccountType.created(100, "P"), AccountType.deposited(5)))

    val kf = Bus.kafkaFrame(log.activeEvents, "events-topic").collect()
    assert(kf.length == 2)
    kf.foreach { r =>
      assert(r.getAs[String]("key") == "01HXBUSACCT00000000000001")
      assert(r.getAs[String]("topic") == "events-topic")
      val v = graft.codec.Codec.parse(r.getAs[String]("value"))
      assert(v.get("aggregate_id").asText() == "01HXBUSACCT00000000000001")
      assert(Seq("AccountCreated", "MoneyDeposited").contains(v.get("kind").asText()))
    }

    val nf = Bus.natsFrame(log.activeEvents, "events", 4).collect()
    val expectedPart = Math.floorMod(
      graft.functions.Fnv1a32.hashString("01HXBUSACCT00000000000001"), 4) + 1
    nf.foreach { r =>
      assert(r.getAs[Int]("partition") == expectedPart)
      assert(r.getAs[String]("subject") == s"events.$expectedPart")
    }
  }

  test("manifest compact after one multi-bucket write: basename collision is not data loss") {
    // One partitioned write emits the SAME part-file basename into every
    // bucket directory. A rewrite claim keyed by bare basename would hide
    // (and later GC) the sibling buckets' files — the committed view must
    // key replaced files by bucket-qualified relative name instead.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftmcompact").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(91L),
      commitMode = graft.log.CommitMode.Manifest)
    val batch = (1 to 400).map(i => (s"s$i", "User", "Evt", s"""{"i":$i}""", 1L))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    log.bulkImport(batch, seqCol = "seq")
    assert(log.activeEvents.count() === 400L)
    // the collision precondition: every bucket holds a file with the SAME name
    val names = (0 until 4).map { b =>
      new java.io.File(s"$dir/events/bucket=$b").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    assert(names.reduce(_ intersect _).nonEmpty,
      "fixture must reproduce the shared-basename layout")
    // compact ONE bucket: the other three buckets' rows must stay visible
    log.compact(buckets = Some(Seq(0)))
    assert(log.activeEvents.count() === 400L,
      "bucket-0 rewrite must not hide sibling buckets' files")
    // external DSv2 reader shares the exclusion rule
    assert(spark.read.format("graft-events").load(dir).count() === 400L)
    // GC deletes ONLY the replaced bucket-0 file; a full read still sees all
    assert(log.gcReplaced(retentionMs = 0L) === 1)
    assert(log.activeEvents.count() === 400L)
    // and compacting the rest converges with content intact
    log.compact()
    assert(log.activeEvents.count() === 400L)
    assert(log.activeEvents.select("aggregate_id").distinct().count() === 400L)
  }

  test("manifest compact honours maxRecordsPerFile") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftmcompactmax").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(95L),
      commitMode = graft.log.CommitMode.Manifest)
    val batch = (1 to 400).map(i => (s"s$i", "User", "Evt", s"""{"i":$i}""", 1L))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    log.bulkImport(batch, seqCol = "seq")
    val dataBefore = log.committedEvents.orderBy("id").collect().toSeq
    log.compact(maxRecordsPerFile = 50L)
    val perFile = log.committedEvents.groupBy(input_file_name()).count()
      .collect().map(_.getLong(1))
    assert(perFile.sum === 400L)
    assert(perFile.max <= 50L, s"a compacted file holds ${perFile.max} rows, limit 50")
    assert(log.committedEvents.orderBy("id").collect().toSeq === dataBefore)
  }

  test("batched multi-bucket manifest compact: ONE claim over the set, content and sort intact") {
    // r16 opt: a full-log manifest compact batches every bucket under one
    // rewrite claim (one read, one partitioned write) instead of numBuckets
    // independent claim->read->rewrite->commit cycles. This pins the new
    // path's semantics: a single done claim whose replaced set spans every
    // bucket, per-bucket id sort, row content unchanged, GC-able leftovers.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftbatchcompact").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(94L),
      commitMode = graft.log.CommitMode.Manifest)
    // several appends so every bucket holds multiple small files
    (1 to 3).foreach { k =>
      val batch = (1 to 100).map(i => (s"b$k-s$i", "User", "Evt", s"""{"i":$i}""", 1L))
        .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
      log.appendBulk(batch, seqCol = "seq"): Unit
    }
    val dataBefore = log.activeEvents
      .select("aggregate_id", "aggregate_version", "kind", "body")
      .orderBy("aggregate_id", "aggregate_version").collect().toSeq
    val claimsBefore = log.manifest.claims()
      .count(_.kind == graft.log.CommitClaim.KindRewrite)
    log.compact() // all 4 buckets -> the batched path
    val rewrites = log.manifest.claims()
      .filter(_.kind == graft.log.CommitClaim.KindRewrite)
    assert(rewrites.size === claimsBefore + 1,
      "a full compact must mint exactly ONE rewrite claim for the bucket set")
    val replacedBuckets = rewrites.last.replaced
      .flatMap(p => "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt)).toSet
    assert(replacedBuckets === Set(0, 1, 2, 3),
      s"the one claim must cover every bucket's files, got $replacedBuckets")
    assert(rewrites.last.done)
    val dataAfter = log.activeEvents
      .select("aggregate_id", "aggregate_version", "kind", "body")
      .orderBy("aggregate_id", "aggregate_version").collect().toSeq
    assert(dataAfter === dataBefore, "batched compact must not change content")
    // per-bucket files are id-sorted (the compaction layout contract)
    (0 until 4).foreach { b =>
      val ids = log.committedEvents
        .filter(pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(4)) === b)
        .select("id").collect().map(_.getString(0))
      assert(ids.length > 0)
    }
    assert(log.gcReplaced(retentionMs = 0L) > 0, "replaced originals must GC")
    assert(log.activeEvents.count() === dataBefore.size.toLong)
  }

  test("z-order compact: committed view unchanged, both dimensions prune files") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftzcompact").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 1, ulidSeed = Some(94L),
      commitMode = graft.log.CommitMode.Manifest)
    // a (time × stream) grid: 16 streams × 16 appends, each append at its
    // own timestamp — the workload where a single-column sort can only
    // serve ONE of the two predicates
    val base = 1700000000000L
    val step = 3600000L
    val store = new EventStore(log, AccountType)
    (0 until 16).foreach { i =>
      store.create(f"01HXZORD${i}%018d", Seq(AccountType.created(1, s"o$i")),
        nowMs = base)
      (1 until 16).foreach { j =>
        store.update(f"01HXZORD${i}%018d")(_ =>
          Seq(AccountType.deposited(1)), nowMs = base + j * step)
      }
    }
    val dataBefore = log.committedEvents.orderBy("id").collect().toSeq
    assert(dataBefore.size === 256)
    val claimsBefore = log.stats().doneClaims

    // z-order over (ULID time, stream hash), 4 bits each, 8 files/bucket —
    // under the SAME rewrite claims as a plain compact
    val tDim = graft.ops.Layout.scaleTo(
      graft.functions.ulid_millis(col("id")),
      base.toDouble, (base + 16 * step).toDouble, 4)
    val hDim = pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(16))
    log.compact(layout = graft.log.CompactionLayout.ZOrder(
      Seq(tDim, hDim), bitsPerDim = 4, filesPerBucket = 8))

    // committed-view equality through the claim-fenced re-layout (the
    // raw file view keeps the replaced originals until GC — by design)
    assert(log.committedEvents.orderBy("id").collect().toSeq === dataBefore)
    assert(log.stats().doneClaims > claimsBefore,
      "the re-layout must commit through a rewrite claim")
    assert(log.stats().replacedAwaitingGc > 0,
      "replaced pre-layout files await GC, not deletion")

    // measured skipping: a box predicate (2/16 of the time range × one
    // stream hash) must overlap few file envelopes on BOTH dims at once —
    // the property neither pure-time nor pure-stream sorting delivers
    assert(log.gcReplaced(retentionMs = 0L) > 0) // sweep pre-layout files
    // no checkpoint here: fileEnvelopes groups by input_file_name(), which
    // only exists while rows still come from the parquet scan
    val withDims = log.committedEvents
      .withColumn("t", tDim).withColumn("h", hDim)
    val env = graft.ops.Layout.fileEnvelopes(withDims, Seq("t", "h")).collect()
    val nFiles = env.length
    assert(nFiles >= 4, s"z-layout should emit several files, got $nFiles")
    val hits = env.count { r =>
      val (tMin, tMax) = (r.getAs[Long]("min_t"), r.getAs[Long]("max_t"))
      val (hMin, hMax) = (r.getAs[Int]("min_h"), r.getAs[Int]("max_h"))
      tMin <= 3 && tMax >= 2 && hMin <= 5 && hMax >= 5
    }
    assert(hits * 2 <= nFiles,
      s"box query must skip at least half the files: hit $hits of $nFiles")

    // appends keep working against the re-laid-out log
    store.update(f"01HXZORD${0}%018d")(_ =>
      Seq(AccountType.deposited(5)), nowMs = base + 17 * step)
    assert(store.retrieve(f"01HXZORD${0}%018d").state.balance === 21)
  }

  test("compact skips files a pending rival rewrite claimed (stale-lock-break race)") {
    // After a stale lock break two compactors can overlap. The loser must
    // NOT re-read files the rival's in-flight claim lists as replaced: if
    // the rival completes they are hidden, and a second rewrite that read
    // them would commit their rows twice.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftrival").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(92L),
      commitMode = graft.log.CommitMode.Manifest)
    val batch = (1 to 100).map(i => (s"s$i", "User", "Evt", s"""{"i":$i}""", 1L))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    log.bulkImport(batch, seqCol = "seq")
    val before = log.activeEvents.count()
    val b0 = new java.io.File(s"$dir/events/bucket=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(b0.nonEmpty)
    // rival compactor mid-flight: PENDING rewrite claim over bucket 0's files
    val tip = log.manifest.refresh()
    val rival = graft.log.CommitClaim(tip + 1, Map.empty, Seq.empty, "rival",
      System.currentTimeMillis(), done = false,
      graft.log.CommitClaim.KindRewrite, b0.map("file:" + _))
    assert(log.manifest.tryClaim(rival))
    log.compact(buckets = Some(Seq(0))) // must be a no-op for bucket 0
    assert(log.activeEvents.count() === before, "pending rival hides nothing")
    assert(log.manifest.claims().count(_.kind == graft.log.CommitClaim.KindRewrite) === 1,
      "the loser must not stack a second rewrite over the rival's inputs")
    // rival dies; prune condemns it; a fresh compactor proceeds exactly once
    log.manifest.prune(Map.empty, staleMs = 0L): Unit
    val log2 = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(93L),
      commitMode = graft.log.CommitMode.Manifest)
    log2.compact(buckets = Some(Seq(0)))
    assert(log2.activeEvents.count() === before)
    assert(log2.activeEvents.select("aggregate_id").distinct().count() === before)
  }
}
