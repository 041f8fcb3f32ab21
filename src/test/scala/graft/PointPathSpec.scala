package graft

import graft.log.{AppendRecord, CommitMode, ConcurrentModificationException, EventLog}
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

  private def newLog(mode: CommitMode): EventLog = {
    val dir = Files.createTempDirectory("graftpoint").toFile.getAbsolutePath
    new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(31L), commitMode = mode)
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

  test("retrieve runs one job, a one-record Lock append two, update three; none shuffles") {
    val log = newLog(CommitMode.Lock)
    val store = new EventStore(log, AccountType)
    (1 to 4).foreach(i => store.create(s"pp-$i", Seq(AccountType.created(10, "o"))))

    val (retrieveJobs, retrieveShuffle) = jobsOf(assert(store.retrieve("pp-1").version == 1))
    assert(retrieveJobs == 1, "retrieve: one bucket-pruned scan, sorted on the driver")
    val (appendJobs, appendShuffle) = jobsOf(log.append(Seq(rec("pp-2", 1))))
    assert(appendJobs == 2, "append: one version-check job plus one write job")
    val (updateJobs, updateShuffle) =
      jobsOf(store.update("pp-3")(_ => Seq(AccountType.deposited(5))))
    assert(updateJobs == 3, "update: retrieve + append")
    assert(retrieveShuffle == 0L && appendShuffle == 0L && updateShuffle == 0L,
      s"shuffle bytes: retrieve $retrieveShuffle, append $appendShuffle, update $updateShuffle")

    // the driver-side sort still folds in version order
    (1 to 12).foreach(i => log.append(Seq(rec("pp-4", i, 1))))
    val got = store.retrieve("pp-4")
    assert(got.version == 13 && got.state.balance == 10 + 12)
    assert(log.streamEvents("pp-4", 5).collect().map(_.getAs[Int]("aggregate_version")).toSeq ==
      (6 to 13))
  }

  private def partFiles(log: EventLog, bucket: Int): Set[String] =
    Option(new File(s"${log.path}/events/bucket=$bucket").listFiles())
      .fold(Set.empty[String])(_.filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet)

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
          val fileIds = spark.read.parquet(f).select("id").collect().map(_.getString(0)).toSeq
          assert(fileIds.nonEmpty && fileIds == fileIds.sorted, s"$f is not id-sorted")
        }
      }
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
}
