package graft

import graft.log.{AppendRecord, CommitMode, ConcurrentModificationException, EventDetail, EventLog}
import graft.store.EventStore
import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** The event store's point path — `retrieve`, the optimistic `append` and
  * `update` — on tiny, driver-held batches: deterministic job counts with
  * no shuffle, the one-file-per-bucket layout of a single-task commit, and
  * the optimistic check across several records of one stream.
  */
class PointPathSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def newLog(mode: CommitMode, buckets: Int = 4): EventLog = {
    val dir = Files.createTempDirectory("graftpoint").toFile.getAbsolutePath
    new EventLog(spark, dir, numBuckets = buckets, ulidSeed = Some(31L), commitMode = mode)
  }

  private def rec(id: String, v: Int, n: Int = 1) =
    AppendRecord(id, "Account", v, Map.empty, (1 to n).map(i => AccountType.deposited(i)))

  private val TagProp = "graft.spec.pointpath"
  private val tagSeq = new AtomicInteger(0)

  /** Runs `f` on this thread and returns (jobs it ran, shuffle bytes those
    * jobs wrote). Jobs are matched by a local property, which Spark hands
    * on to the jobs it submits for the call from its own pools.
    */
  private def jobsOf(f: => Any): (Int, Long) = {
    val sc = spark.sparkContext
    val tag = s"t${tagSeq.incrementAndGet()}"
    val jobs = new AtomicInteger(0)
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(TagProp) == tag)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(s => stages.add(s))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stages.contains(s.stageInfo.stageId))
          Option(s.stageInfo.taskMetrics).foreach(m =>
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    Bridge.drainListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagProp, tag)
    try {
      f
      Bridge.drainListenerBus(spark)
      (jobs.get, shuffleBytes.get)
    } finally {
      sc.setLocalProperty(TagProp, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Asserts the point path's job counts on `log`'s streams `a`, `b`, `c`
    * (each at version 1): retrieve one job, a one-record Lock append one,
    * update two, and no shuffle bytes.
    */
  private def assertPointJobs(log: EventLog, store: EventStore[Account],
      a: String, b: String, c: String): Unit = {
    val (retrieveJobs, retrieveShuffle) = jobsOf(assert(store.retrieve(a).version == 1))
    assert(retrieveJobs == 1, "retrieve: one scan of the stream's bucket, sorted on the driver")
    val (appendJobs, appendShuffle) = jobsOf(log.append(Seq(rec(b, 1))))
    assert(appendJobs == 1, "append: one version-check job; the held write runs none")
    val (updateJobs, updateShuffle) =
      jobsOf(store.update(c)(_ => Seq(AccountType.deposited(5))))
    assert(updateJobs == 2, "update: retrieve + append")
    assert(retrieveShuffle == 0L && appendShuffle == 0L && updateShuffle == 0L,
      s"shuffle bytes: retrieve $retrieveShuffle, append $appendShuffle, update $updateShuffle")
  }

  test("retrieve runs one job, a one-record Lock append one, update two; none shuffles") {
    val log = newLog(CommitMode.Lock)
    val store = new EventStore(log, AccountType)
    (1 to 4).foreach(i => store.create(s"pp-$i", Seq(AccountType.created(10, "o"))))

    assertPointJobs(log, store, "pp-1", "pp-2", "pp-3")

    // the driver-side sort still folds in version order
    (1 to 12).foreach(i => log.append(Seq(rec("pp-4", i, 1))))
    val got = store.retrieve("pp-4")
    assert(got.version == 13 && got.state.balance == 10 + 12)
    assert(log.streamEvents("pp-4", 5).collect().map(_.getAs[Int]("aggregate_version")).toSeq ==
      (6 to 13))
  }

  private def partFiles(log: EventLog, bucket: Int): Set[String] =
    Option(new File(s"${log.path}/events/bucket=$bucket").listFiles())
      .fold(Set.empty[String])(_.filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).map(_.getPath).toSet)

  // From 64 buckets up a whole-log listing (more than Spark's 32-path
  // parallel-discovery threshold) is a Spark job of its own; a point op
  // lists only its bucket, so its job counts do not depend on the layout.
  Seq(4, 64, 128).foreach { buckets =>
    test(s"$buckets buckets: point job counts are the 4-bucket ones; a retrieve reads only its bucket") {
      val log = newLog(CommitMode.Lock, buckets)
      val store = new EventStore(log, AccountType)
      // one multi-record append populates most buckets
      val ids = (0 until 3 * buckets).map(i => s"wide-$i")
      log.append(ids.map(id => AppendRecord(id, "Account", 0, Map.empty,
        Seq(AccountType.created(10, "o")))))
      val populated = (0 until buckets).count(b => partFiles(log, b).nonEmpty)
      if (buckets >= 64) assert(populated > 32,
        s"fixture must populate more buckets than the parallel-discovery threshold, got $populated")

      assertPointJobs(log, store, ids(0), ids(1), ids(2))

      // the relation behind a retrieve covers its own bucket's files only
      ids.take(3).foreach { id =>
        val own = partFiles(log, log.bucketOf(id))
        val read = log.streamEvents(id).inputFiles.map(f => new java.net.URI(f).getPath).toSet
        assert(read.nonEmpty && read == own, s"$id reads $read, its bucket holds $own")
      }
    }
  }

  Seq(CommitMode.Lock, CommitMode.Manifest).foreach { mode =>
    test(s"$mode: one append over 3+ buckets adds one id-sorted file per touched bucket") {
      val log = newLog(mode)
      log.append(Seq(rec("seed", 0)))
      // streams interleaved across buckets, several events each
      val ids = (0 until 12).map(i => s"lay-$i")
      val touched = ids.map(log.bucketOf).toSet
      assert(touched.size >= 3, s"fixture must span 3+ buckets, got $touched")
      val before = (0 until 4).map(b => b -> partFiles(log, b)).toMap

      log.append(ids.map(id => rec(id, 0, 3)))

      (0 until 4).foreach { b =>
        val added = partFiles(log, b) -- before(b)
        val want = if (touched(b)) 1 else 0
        assert(added.size == want, s"bucket $b: $want new file(s) expected, got $added")
        added.foreach { f =>
          // the held writer's file, renamed in under the claim token in Manifest mode
          val name = new File(f).getName
          assert(name.matches((if (mode == CommitMode.Manifest) "c\\d+-" else "") +
            "part-.*\\.zstd\\.parquet"), name)
          val fileIds = spark.read.parquet(f).select("id").collect().map(_.getString(0)).toSeq
          assert(fileIds.size == ids.count(log.bucketOf(_) == b) * 3)
          assert(fileIds == fileIds.sorted, s"$f is not id-sorted")
        }
      }
      val staging = Option(new File(s"${log.path}/events/.commit-tmp").listFiles()).toSeq.flatten
      assert(staging.isEmpty, s"staging left behind: $staging")
      assert(log.activeEvents.count() == 1L + 12 * 3)
    }

    test(s"$mode: records of one stream in one append must chain onto each other") {
      val log = newLog(mode)
      log.append(Seq(rec("s1", 0)))
      def versions = log.activeEvents.filter(col("aggregate_id") === "s1")
        .select("aggregate_version").collect().map(_.getInt(0)).sorted.toSeq

      // two records at the same base: the second must not pass the check
      intercept[ConcurrentModificationException] {
        log.append(Seq(rec("s1", 1), rec("s1", 1)))
      }
      assert(versions == Seq(1), "a rejected append writes nothing")

      // a chained pair lands as consecutive versions
      log.append(Seq(rec("s1", 1), rec("s1", 2)))
      assert(versions == Seq(1, 2, 3))
      if (mode == CommitMode.Manifest) // the claim reserves the pair's union range
        assert(log.manifest.claims().exists(_.streams.get("s1").contains((1, 3))))
      // the next append must sit on the pair's head, in both modes
      intercept[ConcurrentModificationException](log.append(Seq(rec("s1", 2))))
      log.append(Seq(rec("s1", 3)))
      assert(versions == Seq(1, 2, 3, 4))
      if (mode == CommitMode.Manifest)
        assert(log.manifest.reservedHead("s1") == 4)
    }
  }

  test("a point read of a bucket directory a Lock rewrite deleted reads empty") {
    val log = newLog(CommitMode.Lock)
    val store = new EventStore(log, AccountType, snapshotThreshold = 1)
    val solo = "solo-0"
    store.create(solo, Seq(AccountType.created(10, "o")))
    val soloDir = new File(s"${log.path}/snapshots/bucket=${log.bucketOf(solo)}")
    assert(soloDir.isDirectory && log.latestSnapshot(solo).nonEmpty)

    // a migration drops the stream's snapshots; the rewrite deletes the
    // snapshot bucket directory it emptied
    log.migrate(1, Set("AccountCreated"), evs => Some(evs.map(e => EventDetail(e.kind, e.body))))
    assert(!soloDir.exists(), "the emptied bucket directory is deleted")
    assert(log.latestSnapshot(solo).isEmpty)
    val got = store.retrieve(solo)
    assert(got.version == 3 && got.state.balance == 10 && got.eventsSinceSnapshot == 1)
  }
}
