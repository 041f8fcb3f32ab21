package graft

import graft.core.{SnapshotRow, Ulid}
import graft.log.{AppendRecord, CommitMode, CompactionLayout, EventDetail, EventLog}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every batch rewrite — forget, compaction (all buckets, one bucket,
  * z-order), snapshot compaction, retention and migration — run in turn on
  * one seeded fixture, once per commit mode. The two modes commit through
  * different protocols (dynamic overwrite vs. rewrite claims) but must
  * leave identical committed rows after every step, and every bucket an
  * IdSort rewrite touched must hold exactly one id-sorted file.
  */
class RewriteParitySpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val nb = 4
  private val t0 = 1700000000000L
  private val hour = 3600000L
  private val streams = (1 to 12).map(i => f"parity-$i%02d")
  private val scrub: String => String = _.replace("secret", "[gone]")

  /** 12 streams, three appends each an hour apart (three files per
    * bucket), and two snapshots (v1 and v2) of every even stream.
    */
  private def fixture(mode: CommitMode): EventLog = {
    val dir = Files.createTempDirectory("graftparity").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = nb, ulidSeed = Some(41L),
      commitMode = mode)
    (0 until 3).foreach { k =>
      log.append(streams.map(id => AppendRecord(id, "Account", k, Map.empty,
        Seq(EventDetail(if (k == 0) "Created" else "Deposited",
          s"""{"owner":"secret-$id","k":$k}""")))), nowMs = t0 + k * hour)
    }
    val s = spark
    import s.implicits._
    log.saveSnapshots(streams.zipWithIndex.filter(_._2 % 2 == 1).flatMap { case (id, _) =>
      Seq(1, 2).map(v => SnapshotRow(Ulid.timeOnly(t0 + v * hour - hour / 2), id, v,
        "Account", s"""{"owner":"secret-$id","v":$v}""", new java.sql.Timestamp(t0), Map.empty))
    }.toDS().toDF())
    log
  }

  private def bucketOf(id: String) = Math.floorMod(graft.functions.Fnv1a32.hashString(id), nb)

  private def committed(log: EventLog, table: String) =
    if (table == "events") log.committedEvents else log.snapshots

  private def rows(log: EventLog, table: String) =
    committed(log, table).orderBy("id", "aggregate_id").collect().toSeq

  /** Committed files of `table`, by bucket. */
  private def files(log: EventLog, table: String): Map[Int, Seq[String]] =
    committed(log, table)
      .select(pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(nb)).as("b"),
        input_file_name().as("f"))
      .distinct().collect().toSeq.groupMap(_.getInt(0))(_.getString(1))

  /** One rewrite: what it runs, which (table, buckets) it rewrites with
    * IdSort, and a check of its own effect.
    */
  private case class Step(name: String, run: EventLog => Unit,
      idSorted: Seq[(String, Seq[Int])] = Nil, check: EventLog => Unit = _ => ())

  private val allBuckets = 0 until nb
  private val forgotten = streams(1) // an even stream: it has snapshots too
  private val tDim = graft.ops.Layout.scaleTo(graft.functions.ulid_millis(col("id")),
    t0.toDouble, (t0 + 3 * hour).toDouble, 4)
  private val hDim = pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(16))

  private val steps = Seq(
    Step("forget", _.forget(forgotten, Set("Created"), scrub, scrub),
      Seq("events" -> Seq(bucketOf(forgotten)), "snapshots" -> Seq(bucketOf(forgotten))),
      log => Seq(log.committedEvents.filter(col("kind") === "Created"), log.snapshots)
        .map(_.filter(col("aggregate_id") === forgotten).select("body").collect())
        .foreach(bodies => assert(bodies.nonEmpty &&
          bodies.forall(!_.getString(0).contains("secret")), "forget must scrub"))),
    Step("compact one bucket", _.compact(buckets = Some(Seq(2))), Seq("events" -> Seq(2))),
    Step("compact all buckets", _.compact(), Seq("events" -> allBuckets)),
    Step("z-order compact", _.compact(layout = CompactionLayout.ZOrder(
      Seq(tDim, hDim), bitsPerDim = 4, filesPerBucket = 2)),
      check = log => files(log, "events").foreach { case (b, fs) =>
        assert(fs.size <= 2, s"z-order bucket $b holds ${fs.size} files, at most 2")
      }),
    Step("compactSnapshots", _.compactSnapshots(), Seq("snapshots" -> allBuckets),
      log => assert(log.snapshots.count() === 6L, "one snapshot per even stream")),
    Step("pruneSnapshotted", log => assert(log.pruneSnapshotted(t0 + 90 * 60000L) > 0),
      Seq("events" -> streams.zipWithIndex.filter(_._2 % 2 == 1).map(p => bucketOf(p._1)).distinct)),
    Step("migrate", log => assert(log.migrate(1, Set("Deposited"), evs => Some(evs.map(e =>
      EventDetail(if (e.kind == "Deposited") "DepositedV2" else e.kind, e.body))),
      nowMs = t0 + 4 * hour).nonEmpty)))

  test("every rewrite leaves identical committed rows in Lock and Manifest mode") {
    val lock = fixture(CommitMode.Lock)
    val manifest = fixture(CommitMode.Manifest)
    Seq("events", "snapshots").foreach(t => assert(rows(lock, t) === rows(manifest, t), t))
    steps.foreach { step =>
      Seq(lock, manifest).foreach { log => step.run(log); step.check(log) }
      Seq("events", "snapshots").foreach { t =>
        assert(rows(lock, t) === rows(manifest, t), s"${step.name}: $t rows diverge")
      }
      for ((log, mode) <- Seq(lock -> "Lock", manifest -> "Manifest");
           (table, buckets) <- step.idSorted) {
        val byBucket = files(log, table)
        buckets.filter(byBucket.contains).foreach { b =>
          val fs = byBucket(b)
          assert(fs.size === 1, s"${step.name} ($mode): $table bucket $b holds ${fs.size} files")
          val ids = spark.read.parquet(fs.head).select("id").collect().map(_.getString(0)).toSeq
          assert(ids === ids.sorted, s"${step.name} ($mode): $table bucket $b is not id-sorted")
        }
      }
    }
  }

  private def appendView(log: EventLog) = log.committedEvents
    .select("aggregate_id", "aggregate_version", "kind", "body", "discriminator", "migration")
    .orderBy("aggregate_id", "aggregate_version").collect().toSeq

  test("every append writer leaves identical committed rows in Lock and Manifest mode") {
    val s = spark
    import s.implicits._
    val imported = (1 to 6).flatMap(i => (1 to 3).map(k => (f"new-$i%02d", "User",
        if (k == 1) "Created" else "Renamed", s"""{"i":$i,"k":$k}""", k.toLong,
        Map("tenant" -> s"t${i % 2}"))))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq", "discriminator")
    // continues four fixture streams and one imported stream, opens one more
    val batch = (streams.take(4).map(_ -> "Account") ++ Seq("new-02" -> "User",
        "fresh-01" -> "Account")).zipWithIndex
      .flatMap { case ((id, kind), i) =>
        (1 to 2).map(k => (id, kind, "Deposited", s"""{"i":$i,"k":$k}""", k.toLong))
      }
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    def deliver(log: EventLog, at: Long) =
      log.appendBulk(batch, nowMs = at, ledgerId = Some("parity"), batchId = 1L)
    val appendSteps = Seq[(String, EventLog => Long, Long)](
      ("bulkImport", _.bulkImport(imported, nowMs = t0 + 4 * hour), 18L),
      ("appendBulk", deliver(_, t0 + 5 * hour), 12L),
      ("redelivery", deliver(_, t0 + 6 * hour), 0L),
      ("appendNoOpFences", _.appendNoOpFences("Account", nowMs = t0 + 7 * hour), 13L))
    // the default limit keeps every reservation inline; 0 sends each bulk
    // writer down its sidecar leg
    Seq("default" -> None, "0" -> Some("0")).foreach { case (label, inlineMax) =>
      inlineMax.foreach(sys.props("graft.bulkClaim.inlineMax") = _)
      try {
        val lock = fixture(CommitMode.Lock)
        val manifest = fixture(CommitMode.Manifest)
        appendSteps.foreach { case (name, run, n) =>
          Seq(lock, manifest).foreach(log => assert(run(log) === n, s"$name (inlineMax $label)"))
          assert(appendView(lock) === appendView(manifest),
            s"$name (inlineMax $label): committed rows diverge")
          for ((log, mode) <- Seq(lock -> "Lock", manifest -> "Manifest");
               (id, rs) <- log.committedEvents.select("aggregate_id", "aggregate_version", "id")
                 .collect().groupBy(_.getString(0))) {
            val ids = rs.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
            assert(ids === ids.sorted.distinct,
              s"$name ($mode, inlineMax $label): ids of $id do not ascend with version")
          }
        }
      } finally sys.props.remove("graft.bulkClaim.inlineMax"): Unit
    }
  }
}
