package graft

import graft.log.EventLog
import graft.store.EventStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot-covered retention: pruning drops exactly the events a snapshot
  * memoizes (and only past the time horizon), every read path still folds
  * the same states, and un-snapshotted streams are never touched.
  */
class RetentionSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  private val s2 = spark
  import s2.implicits._

  test("pruneSnapshotted drops covered prefixes; retrieve and stitched rehydration agree") {
    val dir = Files.createTempDirectory("graftretain").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(61L))
    val store = new EventStore(log, AccountType, snapshotThreshold = 3)
    // 20 snapshotted streams: 3 events at t0 (snapshot at v3); then a later
    // event per stream. Two passes — the log's monotonic ULID generator
    // never lets a later append mint an earlier time, so interleaving would
    // push every subsequent create past the young horizon.
    (1 to 20).foreach { i =>
      store.create(f"01HXRETAIN${i}%016d", Seq(AccountType.created(100L * i, s"o$i"),
        AccountType.deposited(10), AccountType.deposited(5)), nowMs = 1700000000000L + i)
    }
    // 5 un-snapshotted streams (2 events, below the threshold), old too
    (21 to 25).foreach { i =>
      store.create(f"01HXRETAIN${i}%016d", Seq(
        AccountType.created(7L * i, s"o$i"), AccountType.deposited(2)),
        nowMs = 1700000000000L + i)
    }
    (1 to 20).foreach { i =>
      store.update(f"01HXRETAIN${i}%016d")(_ => Seq(AccountType.deposited(1)),
        nowMs = 1800000000000L + i)
    }
    val beforeStates = store.rehydrateAll().collect().toMap
    val stitchedBefore = store.rehydrateAllStitched().collect().toMap
    assert(stitchedBefore == beforeStates, "stitched == plain on an unpruned log")

    // prune everything older than t=1750…: covered v1..v3 of the 20 streams
    val dropped = log.pruneSnapshotted(1750000000000L)
    assert(dropped == 60L, s"expected 3 covered events x 20 streams, dropped $dropped")
    assert(log.activeEvents.count() == 20L + 10L, "tails + un-snapshotted survive")
    // un-snapshotted streams untouched
    (21 to 25).foreach { i =>
      assert(log.streamEvents(f"01HXRETAIN${i}%016d").count() == 2L)
    }

    // every read path still folds the same states
    val id7 = f"01HXRETAIN${7}%016d"
    assert(store.retrieve(id7).state == beforeStates(id7))
    assert(store.retrieve(id7).version == 4)
    val stitchedAfter = store.rehydrateAllStitched().collect().toMap
    assert(stitchedAfter == beforeStates, "stitched rehydration survives pruning")

    // appends continue at the right version after pruning
    store.update(id7)(_ => Seq(AccountType.deposited(9)))
    assert(store.retrieve(id7).version == 5)

    // idempotent: nothing left to prune at the same horizon
    assert(log.pruneSnapshotted(1750000000000L) == 0L)
  }

  test("a stream its snapshot covers entirely keeps its newest event: update lands at v+1") {
    val dir = Files.createTempDirectory("graftretainhead").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(63L))
    val store = new EventStore(log, AccountType, snapshotThreshold = 1)
    val id = "01HXRETAINHEAD0000000001"
    store.create(id, Seq(AccountType.created(10, "o"), AccountType.deposited(5)),
      nowMs = 1700000000000L)
    store.update(id)(_ => Seq(AccountType.deposited(1)), nowMs = 1700000000001L)
    val horizon = System.currentTimeMillis() + 86400000L

    // the snapshot at v3 covers every event; v1 and v2 go, the head stays
    assert(log.pruneSnapshotted(horizon) == 2L)
    assert(log.streamEvents(id).select("aggregate_version").as[Int].collect().toSeq == Seq(3))
    assert(store.update(id)(_ => Seq(AccountType.deposited(2))) == 4)
    val got = store.retrieve(id)
    assert(got.version == 4 && got.state.balance == 18)
    assert(log.pruneSnapshotted(horizon) == 1L, "v3 goes once v4 is the head")
    assert(log.pruneSnapshotted(horizon) == 0L)
    assert(store.update(id)(_ => Seq(AccountType.deposited(3))) == 5)
  }

  test("property: stitched == raw rehydration on randomized unpruned logs") {
    // random stream shapes: event counts 1..7 across the snapshot threshold,
    // so groups cover every case — no snapshot, snapshot at head (covered
    // entirely), snapshot with tail of 1..n
    val rnd = new scala.util.Random(4242)
    (0 until 3).foreach { trial =>
      val dir = Files.createTempDirectory(s"graftretprop$trial").toFile.getAbsolutePath
      val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(100L + trial))
      val store = new EventStore(log, AccountType, snapshotThreshold = 3)
      (1 to 30).foreach { i =>
        val id = f"01HXRP${trial}%03d${i}%015d"
        val n = 1 + rnd.nextInt(7)
        store.create(id, AccountType.created(rnd.nextInt(1000).toLong, s"o$i") +:
          (2 to n).map(_ => AccountType.deposited(rnd.nextInt(50).toLong)),
          nowMs = 1700000000000L + i)
      }
      val raw = store.rehydrateAll().collect().toMap
      val stitched = store.rehydrateAllStitched().collect().toMap
      assert(stitched == raw, s"trial $trial diverged")
      assert(raw.size == 30)
    }
  }

  test("pruneSnapshotted under Manifest commit mode goes through rewrite claims") {
    val dir = Files.createTempDirectory("graftretainm").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(62L),
      commitMode = graft.log.CommitMode.Manifest)
    val store = new EventStore(log, AccountType, snapshotThreshold = 3)
    (1 to 10).foreach { i =>
      store.create(f"01HXRETAINM${i}%015d", Seq(AccountType.created(10L * i, s"o$i"),
        AccountType.deposited(1), AccountType.deposited(2)), nowMs = 1700000000000L + i)
    }
    val before = store.rehydrateAllStitched().collect().toMap
    val dropped = log.pruneSnapshotted(1750000000000L)
    assert(dropped == 20L, s"dropped $dropped")
    assert(log.activeEvents.count() == 10L, "every stream keeps its snapshot-covered head")
    assert(store.rehydrateAllStitched().collect().toMap == before)
    assert(store.retrieve(f"01HXRETAINM${3}%015d").version == 3)
    // rewrite claims completed; replaced files reclaimable
    assert(log.gcReplaced(retentionMs = 0L) > 0)
    assert(store.rehydrateAllStitched().collect().toMap == before, "reads unchanged after GC")
  }
}
