package graft

import graft.streaming.StreamAggs
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamAggsSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  test("windowed aggregation: identical results in batch and streaming modes, late events dropped") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftstream").toFile.getAbsolutePath

    def row(minute: Int, kind: String, v: Double) =
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), kind, v)
    val batch1 = Seq(row(1, "a", 1.0), row(2, "a", 2.0), row(7, "b", 3.0))
    // after batch1 the watermark is max(10:07) − 5min = 10:02, so the 9:58
    // event lands in window [9:55,10:00) whose end ≤ watermark → dropped
    val batch2 = Seq(row(9, "b", 4.0), (java.sql.Timestamp.valueOf("2024-01-01 09:58:00"), "a", 99.0))

    batch1.toDF("ts", "kind", "value").write.parquet(s"$dir/in")

    // batch mode over batch1
    val batchRes = StreamAggs.windowedByKind(
      spark.read.parquet(s"$dir/in"), "ts", "kind", "value", "5 minutes")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(batchRes == Set(
      ("2024-01-01 10:00:00.0", "a", 2L, 3.0),
      ("2024-01-01 10:05:00.0", "b", 1L, 3.0)))

    // streaming mode: same helper, append output with watermark
    val stream = spark.readStream
      .schema("ts timestamp, kind string, value double")
      .parquet(s"$dir/in")
    val agg = StreamAggs.windowedByKind(stream, "ts", "kind", "value",
      "5 minutes", lateness = "5 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("winagg")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // batch2 arrives late: the 10:00 event is behind the watermark
      batch2.toDF("ts", "kind", "value").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      // force watermark advance + window close with a fresh late-window event
      Seq(row(30, "c", 0.0)).toDF("ts", "kind", "value").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val out = spark.sql("select * from winagg")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3), r.getDouble(4))).toSet
      // closed windows: [10:00) a×2, [10:05) b×2 (3.0 + 4.0); the 9:58
      // late event must have been dropped entirely (no [9:55) window)
      assert(out.contains(("2024-01-01 10:00:00.0", "a", 2L, 3.0)))
      assert(out.contains(("2024-01-01 10:05:00.0", "b", 2L, 7.0)))
      assert(!out.exists(_._4 == 99.0), "late event must be dropped")
      assert(!out.exists(_._1.startsWith("2024-01-01 09:55")))
    } finally q.stop()
  }

  test("windowed approx-distinct: batch == streaming, sketch exact at small cardinality") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftstreamhll").toFile.getAbsolutePath
    def row(minute: Int, kind: String, user: Long) =
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), kind, user)
    // window [10:00): kind a sees users {1,2} (2 distinct over 3 events)
    val data = Seq(row(1, "a", 1L), row(2, "a", 2L), row(3, "a", 1L), row(7, "b", 9L))
    data.toDF("ts", "kind", "user_id").write.parquet(s"$dir/in")

    val batchRes = StreamAggs.approxDistinctByWindow(
      spark.read.parquet(s"$dir/in"), "ts", "kind", "user_id", "5 minutes")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(batchRes == Set(
      ("2024-01-01 10:00:00.0", "a", 2L, 3L),
      ("2024-01-01 10:05:00.0", "b", 1L, 1L)))

    val stream = spark.readStream
      .schema("ts timestamp, kind string, user_id long")
      .parquet(s"$dir/in")
    val q = StreamAggs.approxDistinctByWindow(stream, "ts", "kind", "user_id",
        "5 minutes", lateness = "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("hllagg")
      .option("checkpointLocation", s"$dir/chk")
      .start()
    try {
      q.processAllAvailable()
      // advance the watermark far enough to close both windows
      Seq(row(30, "c", 0L)).toDF("ts", "kind", "user_id")
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val out = spark.sql("select * from hllagg")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3), r.getLong(4))).toSet
      assert(out.contains(("2024-01-01 10:00:00.0", "a", 2L, 3L)))
      assert(out.contains(("2024-01-01 10:05:00.0", "b", 1L, 1L)))
    } finally q.stop()
  }

  test("streaming dedup by fingerprint: first doc survives, in-watermark dups dropped") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftsdedup").toFile.getAbsolutePath

    def row(minute: Int, id: Long, text: String) =
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), id, text)
    // batch1: two exact dups of "alpha beta" (different whitespace/case —
    // fingerprint normalizes), one unique
    val batch1 = Seq(row(1, 1L, "alpha beta"), row(2, 2L, "Alpha  beta"),
      row(3, 3L, "gamma delta"))
    batch1.toDF("ts", "doc_id", "text").write.parquet(s"$dir/in")

    // batch mode: one survivor per fingerprint
    val batchRes = StreamAggs.dedupByFingerprint(
      spark.read.parquet(s"$dir/in"), "ts", "text")
    assert(batchRes.count() == 2)

    val stream = spark.readStream
      .schema("ts timestamp, doc_id long, text string")
      .parquet(s"$dir/in")
    val dd = StreamAggs.dedupByFingerprint(stream, "ts", "text", lateness = "5 minutes")
    val q = dd.writeStream.outputMode("append")
      .format("memory").queryName("sdedup")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // a later micro-batch re-sends the same content within the watermark →
      // still dropped (cross-batch state), plus one genuinely new doc
      Seq(row(4, 4L, "ALPHA BETA"), row(5, 5L, "epsilon zeta"))
        .toDF("ts", "doc_id", "text").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val ids = spark.sql("select doc_id from sdedup").collect().map(_.getLong(0)).toSet
      assert(ids.contains(3L) && ids.contains(5L))
      assert((ids & Set(1L, 2L)).size == 1, s"exactly one alpha-beta survivor: $ids")
      assert(!ids.contains(4L), "in-watermark duplicate must be dropped")
    } finally q.stop()
  }

  test("session windows by key (batch)") {
    val s = spark
    import s.implicits._
    def at(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 09:$min%02d:00")
    val df = Seq((1L, at(0)), (1L, at(10)), (1L, at(45)), (2L, at(5)))
      .toDF("user_id", "ts")
    val sessions = StreamAggs.sessionsByKey(df, "ts", "user_id", "30 minutes")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3))).toSet
    assert(sessions == Set(
      (1L, "2024-01-01 09:00:00.0", 2L), // 0 + 10 merge (gap < 30m)
      (1L, "2024-01-01 09:45:00.0", 1L), // 45 is a new session
      (2L, "2024-01-01 09:05:00.0", 1L)))
  }

  test("screen-at-ingest: redacts, scores, and gates identically in batch and streaming") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("screen").toFile.getAbsolutePath
    def row(min: Int, id: Long, text: String) =
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), id, text)
    Seq(
      row(0, 1L, "good varied text with mail to a.b@x.example.org inside"),
      row(1, 2L, "dup dup dup dup dup dup dup dup"), // repetitive → rejected
      row(2, 3L, "clean unique words nothing sensitive here today")) // kept, no pii
      .toDF("ts", "doc_id", "text").write.parquet(s"$dir/in")

    val batch = StreamAggs.screenAtIngest(
      spark.read.parquet(s"$dir/in"), "text", minQuality = 0.3, maxRepetition = 0.5)
      .select("doc_id", "text", "n_pii", "quality", "rep_frac", "keep")
    val b = batch.orderBy("doc_id").collect()
    assert(b(0).getLong(2) === 1L, "one email found")
    assert(b(0).getString(1).contains("[EMAIL]") && !b(0).getString(1).contains("@"),
      "email redacted in the stored text")
    assert(b(0).getBoolean(5), "varied text kept")
    assert(!b(1).getBoolean(5), "repetitive text rejected (quality + repetition)")
    assert(b(2).getBoolean(5) && b(2).getLong(2) === 0L)

    // the SAME call on a readStream produces identical rows (stateless gate)
    val q = StreamAggs.screenAtIngest(
        spark.readStream.schema("ts timestamp, doc_id long, text string")
          .parquet(s"$dir/in"), "text", minQuality = 0.3, maxRepetition = 0.5)
      .select("doc_id", "text", "n_pii", "quality", "rep_frac", "keep")
      .writeStream.outputMode("append").format("memory").queryName("sscreen")
      .option("checkpointLocation", s"$dir/chk").start()
    try {
      q.processAllAvailable()
      val sRows = spark.sql("select * from sscreen").orderBy("doc_id").collect()
      assert(sRows.map(_.toString).toSeq === b.map(_.toString).toSeq,
        "batch and streaming screens must agree row for row")
    } finally q.stop()
  }

  test("route-at-ingest: the streaming router equals the batch router row-for-row") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("routeingest").toFile.getAbsolutePath

    // a mixed intake: real PNG bytes, a hand-built ulaw WAV, plain text
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val ulaw = {
      val body = "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ le16(7) ++ le16(1) ++ le32(8000) ++ le32(8000) ++
        le16(1) ++ le16(8) ++ "data".getBytes("US-ASCII") ++ le32(8) ++
        new Array[Byte](8)
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val png = graft.ops.Multimodal.synthImages(graft.ops.Multimodal.pack(
        Seq((0L, "alpha bravo charlie delta echo " * 40)).toDF("doc_id", "text"),
        "doc_id", "text", "raw"), format = "png")
      .select("img").head.getAs[Array[Byte]](0)
    Seq((1L, png), (2L, ulaw), (3L, "no container".getBytes("UTF-8")))
      .toDF("media_id", "content").write.parquet(s"$dir/in")

    val expected = graft.ops.Multimodal.routeIntake(
        spark.read.parquet(s"$dir/in"), "content")
      .select("media_id", "fmt", "route").collect().map(_.toString).sorted.toSeq

    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = StreamAggs.routeAtIngest(
        spark.readStream.schema("media_id long, content binary")
          .parquet(s"$dir/in"), "content") { (res, _) =>
        got.synchronized {
          got ++= res.select("media_id", "fmt", "route").collect().map(_.toString)
          ()
        }
      }
      .option("checkpointLocation", s"$dir/chk").start()
    try {
      q.processAllAvailable()
      assert(got.sorted.toSeq === expected,
        "the streaming router must issue exactly the batch router's verdicts")
      assert(expected.exists(_.contains("quarantine:wav-ulaw")),
        "the quarantine verdict must flow through the stream")
    } finally q.stop()
  }

  test("streaming near-dup screen equals the batch incremental dedup, batch by batch") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nearscreen").toFile.getAbsolutePath

    // accepted corpus: 30 distinct documents
    def doc(i: Long, extra: String) =
      (i, s"alpha bravo charlie delta echo foxtrot golf hotel token$i $extra")
    val corpus = (0L until 30L).map(i => doc(i, "accepted corpus text body here"))
      .toDF("doc_id", "text")

    // incoming batch: ids 100+; even ids near-duplicate corpus docs (same
    // text, one token changed), odd ids are fresh
    val incoming = (0L until 10L).map { i =>
      if (i % 2 == 0) (100L + i, s"alpha bravo charlie delta echo foxtrot golf hotel token$i CHANGED corpus text body here")
      else (100L + i, s"completely different unrelated novel content number$i with distinct words entirely")
    }
    incoming.toDF("doc_id", "text").write.parquet(s"$dir/in")

    // batch truth: d12 on the same inputs
    val expected = graft.ops.Dedup.incrementalDedup(corpus,
        spark.read.parquet(s"$dir/in"), "doc_id", "text", threshold = 0.5)
      .orderBy("doc_id").collect().map(_.toString).toSeq

    // streaming: same screen through foreachBatch on a readStream
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = StreamAggs.screenNearDupAtIngest(
        spark.readStream.schema("doc_id long, text string").parquet(s"$dir/in"),
        corpus, "doc_id", "text", threshold = 0.5) { (res, _) =>
        got.synchronized { got ++= res.orderBy("doc_id").collect().map(_.toString); () }
      }
      .option("checkpointLocation", s"$dir/chk").start()
    try {
      q.processAllAvailable()
      assert(got.sorted.toSeq === expected.sorted,
        "streaming screen must flag exactly the rows the batch screen flags")
      // and the flags themselves are right: every even id matched, odd ids new
      val matched = got.count(_.contains("false"))
      assert(matched == 5, s"5 planted near-dups must be flagged, got $matched")
    } finally q.stop()
  }

  test("streaming component maintenance: families grow across micro-batches via corpus anchors") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cfold").toFile.getAbsolutePath

    // per-family DISJOINT vocabularies: families must not near-dup each other
    def fam(i: Long, tag: String) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i india$i family$i $tag"
    // accepted corpus: 10 distinct doc families
    val corpus = (0L until 10L).map(i => (i, fam(i, "accepted corpus body")))
      .toDF("doc_id", "text")

    // micro-batch 1: 100/101 near-dup corpus doc 0; 102 novel; 103/104
    // near-dup EACH OTHER only (batch-internal pair, no corpus anchor)
    // one FLAT parquet file per micro-batch (the file stream does not
    // recurse into nested write directories)
    def writeBatch(rows: Seq[(Long, String)], name: String): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/stage/$name")
      val part = new java.io.File(s"$dir/stage/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(s"$dir/in").mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/in/$name.parquet")): Unit
    }
    writeBatch(Seq(
      (100L, fam(0, "accepted corpus CHANGED")),
      (101L, fam(0, "accepted corpus ALTERED")),
      (102L, "entirely novel content one with completely distinct vocabulary here"),
      (103L, "shared private duplicate pair text body not matching corpus xx"),
      (104L, "shared private duplicate pair text body not matching corpus yy")), "b1")
    // micro-batch 2: 200 near-dups corpus doc 0 too — it must land in the
    // SAME component as batch 1's 100/101 through the corpus anchor; 201 novel
    writeBatch(Seq(
      (200L, fam(0, "accepted corpus REVISED")),
      (201L, "another entirely unrelated novel document two distinct words zz")), "b2")

    val finals = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val q = StreamAggs.componentsAtIngest(
        spark.readStream.schema("doc_id long, text string")
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        corpus, "doc_id", "text", threshold = 0.5) { (asg, _) =>
        finals.synchronized {
          finals += asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap; ()
        }
      }
      .option("checkpointLocation", s"$dir/chk").start()
    try {
      q.processAllAvailable()
      assert(finals.size == 2, s"expected 2 micro-batches, saw ${finals.size}")
      val last = finals.last
      assert(last.size == 10 + 5 + 2, "assignment covers corpus + every ingested doc")
      // the doc-0 family spans both batches through the corpus anchor
      assert(Seq(100L, 101L, 200L).forall(last(_) == 0L),
        s"cross-batch family must share component 0: $last")
      // batch-internal pair without an anchor forms its own component
      assert(last(103L) == 103L && last(104L) == 103L)
      // novels and untouched corpus docs stay singletons
      assert(Seq(102L, 201L, 5L).forall(i => last(i) == i))

      // crash-replay idempotence: re-ingesting the SAME batches seeded
      // with the final assignment (what the sink persisted) must be a
      // no-op — the replay guard anti-joins known nodes out of the fold
      val lastDf = finals.synchronized {
        last.toSeq.toDF("node", "label")
      }
      val replayed = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
      val q2 = StreamAggs.componentsAtIngest(
          spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
          corpus, "doc_id", "text", threshold = 0.5,
          initial = Some(lastDf)) { (asg, _) =>
          replayed.synchronized {
            replayed += asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap; ()
          }
        }
        .option("checkpointLocation", s"$dir/chk2").start()
      try {
        q2.processAllAvailable()
        assert(replayed.forall(_ == last),
          "re-folding delivered batches must leave the assignment unchanged")
      } finally q2.stop()
    } finally q.stop()
  }

  test("component maintenance state: persisted versions prune, storage stays flat, cold-start reloads") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cstate").toFile.getAbsolutePath
    val state = s"$dir/state"

    def fam(i: Long, tag: String) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i india$i family$i $tag"
    val corpus = (0L until 2000L).map(i => (i, fam(i, "accepted corpus body")))
      .toDF("doc_id", "text").localCheckpoint()

    def writeBatch(rows: Seq[(Long, String)], name: String): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/stage/$name")
      val part = new java.io.File(s"$dir/stage/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(s"$dir/in").mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/in/$name.parquet")): Unit
    }
    // 6 micro-batches, each near-dupping a different corpus doc
    (0 until 6).foreach { b =>
      writeBatch(Seq((1000L + b, fam(b.toLong, "accepted corpus CHANGED"))), s"b$b")
    }

    def cachedBytes(): Long = s.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum

    val storage = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val q = StreamAggs.componentsAtIngest(
        s.readStream.schema("doc_id long, text string")
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        corpus, "doc_id", "text", threshold = 0.5,
        stateDir = Some(state)) { (asg, batchId) =>
        plans += asg.inputFiles.mkString(",")
        storage.synchronized { storage += batchId -> cachedBytes() }; ()
      }
      .option("checkpointLocation", s"$dir/chk").start()
    try { q.processAllAvailable() } finally q.stop()
    assert(storage.size == 6, s"expected 6 micro-batches, saw ${storage.size}")

    // the sink-received frame roots at the persisted parquet version — the
    // corpus-sized assignment never lives in executor block storage
    assert(plans.forall(_.contains(state)),
      "sink frame must be backed by the persisted state table")
    // superseded versions are pruned: exactly the latest remains on disk
    val versions = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).toSeq
    assert(versions == Seq("v=5"), s"expected only v=5, got $versions")

    // FLAT storage: per-fold cached bytes must not grow with batch count —
    // a leaked 2000-node assignment checkpoint per fold (the round-9 weak
    // shape) adds ~corpus-size per batch; surviving slivers are ≪ that
    val first = storage.head._2
    val last = storage.last._2
    val assignmentBytes = 2000L * 16 // floor estimate of one leaked copy
    assert(last - first < 4 * assignmentBytes,
      s"cached bytes grew ${last - first} over 5 folds (first=$first last=$last)")

    // COLD-START: a fresh query with ONLY stateDir (no initial) must seed
    // from v=5 — replaying the same input is a no-op under the replay
    // guard, and the final assignment matches what the sink last saw
    val expected = s.read.parquet(s"$state/v=5")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val replayed = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val q2 = StreamAggs.componentsAtIngest(
        s.readStream.schema("doc_id long, text string")
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        corpus, "doc_id", "text", threshold = 0.5,
        stateDir = Some(state)) { (asg, _) =>
        replayed.synchronized {
          replayed += asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap; ()
        }
      }
      .option("checkpointLocation", s"$dir/chk2").start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(replayed.nonEmpty && replayed.forall(_ == expected),
      "cold-start + replay must leave the persisted assignment unchanged")
    // each batch of the replay also collapsed its planted near-dup pair
    assert((0 until 6).forall(b => expected(1000L + b) == expected(b.toLong)),
      s"planted pairs must share their corpus anchor's component")
  }

  test("streaming LM screen: batch scores equal the batch lmScore; off-corpus text scores worse") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lmscreen").toFile.getAbsolutePath

    // reference corpus: repetitive in-distribution phrasing
    val corpus = (0L until 20L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val model = graft.ops.TextAnalysis.bigramLm(corpus, "doc_id", "text")

    // incoming: ids < 105 reuse corpus phrasing, the rest are out of
    // distribution (all-unseen bigrams -> the ln(1/V) floor)
    val incoming = (100L until 110L).map { i =>
      if (i < 105) (i, "the quick brown fox jumps over the lazy dog")
      else (i, s"zeta$i omicron$i upsilon$i sigma$i entirely novel vocabulary")
    }
    incoming.toDF("doc_id", "text").write.parquet(s"$dir/in")

    val expected = graft.ops.TextAnalysis.lmScore(
        spark.read.parquet(s"$dir/in"), "doc_id", "text", model = Some(model))
      .orderBy("doc_id").collect().map(_.toString).toSeq

    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = StreamAggs.screenLmAtIngest(
        spark.readStream.schema("doc_id long, text string").parquet(s"$dir/in"),
        model, "doc_id", "text") { (res, _) =>
        got.synchronized { got ++= res.orderBy("doc_id").collect().map(_.toString); () }
      }
      .option("checkpointLocation", s"$dir/chk").start()
    try {
      q.processAllAvailable()
      assert(got.sorted.toSeq === expected.sorted,
        "the streaming screen must score exactly like the batch lmScore")
      // direction check: every off-corpus doc scores strictly worse than
      // every in-corpus doc
      val scores = graft.ops.TextAnalysis.lmScore(
          spark.read.parquet(s"$dir/in"), "doc_id", "text", model = Some(model))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val inMax = (100L until 105L).map(scores).max
      val outMin = (105L until 110L).map(scores).min
      assert(inMax < outMin,
        s"in-distribution max $inMax must beat out-of-distribution min $outMin")
    } finally q.stop()
  }

  test("ANN index at ingest: streamed appends == batch twin, replay is a no-op, compact preserves probes") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftidxing").toFile.getAbsolutePath
    val rnd = new scala.util.Random(23)
    val all = (0L until 300L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val base = all.filter(_._1 % 3 == 0).toDF("vec_id", "embedding")
    val b1 = all.filter(_._1 % 3 == 1)
    val b2 = all.filter(_._1 % 3 == 2)
    val queries = all.take(5).toDF("vec_id", "embedding")

    // twin index: same build, the two batches appended the batch way
    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding",
      s"$dir/twin", nlist = 5, codec = graft.ops.Similarity.IvfCodec.Sq())
    graft.ops.Similarity.appendToIvfIndex(s, s"$dir/twin",
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding")
    graft.ops.Similarity.appendToIvfIndex(s, s"$dir/twin",
      b2.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val want = graft.ops.Similarity.ivfProbe(s, s"$dir/twin",
      queries, "vec_id", "embedding", k = 4, nprobe = 2, rerank = 3)
      .orderBy("qid", "rn").collect().toSeq

    // streamed index: identical build, batches arrive as micro-batches
    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding",
      s"$dir/idx", nlist = 5, codec = graft.ops.Similarity.IvfCodec.Sq())
    b1.toDF("vec_id", "embedding").write.parquet(s"$dir/in")
    val q = StreamAggs.indexAtIngest(
        s.readStream.schema("vec_id long, embedding array<float>")
          .parquet(s"$dir/in"),
        s"$dir/idx", "vec_id", "embedding")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      b2.toDF("vec_id", "embedding").write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
    } finally q.stop()
    def probe() = graft.ops.Similarity.ivfProbe(s, s"$dir/idx",
      queries, "vec_id", "embedding", k = 4, nprobe = 2, rerank = 3)
    assert(probe().orderBy("qid", "rn").collect().toSeq === want,
      "probe over main ∪ ingest must equal the batch-append twin")
    def indexRows() = s.read.parquet(s"$dir/idx/ingest").count() +
      s.read.parquet(s"$dir/idx/cells").count()
    val before = indexRows()
    assert(before === 300L, s"every vector exactly once, got $before")
    // crash-replay: foreachBatch redelivers a batch under its old batchId —
    // the dynamic overwrite of b=<id> must leave the index unchanged
    graft.ops.Similarity.appendBatchToIvfIndex(s, s"$dir/idx",
      b2.toDF("vec_id", "embedding"), "vec_id", "embedding", batchId = 1L)
    assert(indexRows() === before, "replayed batch must not duplicate rows")
    assert(probe().orderBy("qid", "rn").collect().toSeq === want)
    // crashed compact: a previous run died after moving ONE file — replay
    // the exact move compact performs, then run compact; it must resume
    // (every file lives in exactly one location throughout) and converge
    locally {
      val conf = s.sessionState.newHadoopConf()
      val ingRoot = new org.apache.hadoop.fs.Path(s"$dir/idx/ingest")
      val fs = ingRoot.getFileSystem(conf)
      val bdir = fs.listStatus(ingRoot)
        .filter(_.getPath.getName.startsWith("b=")).head.getPath
      val cdir = fs.listStatus(bdir)
        .filter(_.getPath.getName.startsWith("cell=")).head.getPath
      val f = fs.listStatus(cdir)
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      val bTag = bdir.getName.stripPrefix("b=")
      val dest = new org.apache.hadoop.fs.Path(
        s"$dir/idx/cells/${cdir.getName}/ing-b$bTag-${f.getName}")
      fs.mkdirs(dest.getParent)
      assert(fs.rename(f, dest), "simulated partial move must succeed")
    }
    // compaction: pure file moves fold ingest into cells; probes identical
    // and the plan is the single-table DPP shape again
    graft.ops.Similarity.compactIvfIngest(s, s"$dir/idx")
    assert(!new java.io.File(s"$dir/idx/ingest").exists(),
      "compact must remove the ingest side area")
    assert(s.read.parquet(s"$dir/idx/cells").count() === 300L)
    val after = probe()
    assert(after.orderBy("qid", "rn").collect().toSeq === want,
      "compaction must not change any probe result")
    val plan = after.queryExecution.executedPlan.toString
    assert("dynamicpruning".r.findAllIn(plan).size >= 2,
      "post-compact probe must DPP-prune both cell scans:\n" + plan.take(2000))
    // compact crashed after its LAST move but before deleting the side
    // area: the empty directory tree must read as "no ingest" (not a
    // schema-inference failure taking every probe down), and a compact
    // re-run cleans it up
    assert(new java.io.File(s"$dir/idx/ingest/b=9/cell=3").mkdirs())
    assert(probe().orderBy("qid", "rn").collect().toSeq === want,
      "an empty ingest tree must be probe-invisible")
    graft.ops.Similarity.compactIvfIngest(s, s"$dir/idx")
    assert(!new java.io.File(s"$dir/idx/ingest").exists(),
      "compact re-run must clear the leftover empty tree")
  }

  test("ingest compact interleaved with crash-replay: folded batches are never re-folded") {
    // the hazard: a stream crashes with batch N written to ingest/b=N but
    // its streaming checkpoint UNCOMMITTED; an operator compacts (files
    // move into cells/); the stream restarts and foreachBatch redelivers
    // batch N. Without the folded-batch marker the replay's dynamic
    // overwrite rewrites the now-absent b=N partitions (removing nothing)
    // and the next compact folds the same vectors a second time.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftfold").toFile.getAbsolutePath
    val rnd = new scala.util.Random(7)
    val all = (0L until 90L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val base = all.filter(_._1 % 3 == 0).toDF("vec_id", "embedding")
    val b1 = all.filter(_._1 % 3 == 1).toDF("vec_id", "embedding")
    val b2 = all.filter(_._1 % 3 == 2).toDF("vec_id", "embedding")
    val idx = s"$dir/idx"
    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding", idx, nlist = 4,
      codec = graft.ops.Similarity.IvfCodec.Sq())
    graft.ops.Similarity.appendBatchToIvfIndex(s, idx, b1, "vec_id", "embedding", 0L)
    // compact runs while the stream is down, batch 0's checkpoint uncommitted
    graft.ops.Similarity.compactIvfIngest(s, idx)
    assert(s.read.parquet(s"$idx/cells").count() === 60L)
    // restart: foreachBatch redelivers batch 0 — the marker makes it a no-op
    graft.ops.Similarity.appendBatchToIvfIndex(s, idx, b1, "vec_id", "embedding", 0L)
    assert(!new java.io.File(s"$idx/ingest").exists(),
      "a folded batch's replay must not rewrite the ingest area")
    graft.ops.Similarity.compactIvfIngest(s, idx)
    val counts = s.read.parquet(s"$idx/cells").groupBy("vec_id").count()
    assert(counts.filter(col("count") > 1).count() === 0L,
      "no vector may appear twice after compact ∘ replay ∘ compact")
    assert(s.read.parquet(s"$idx/cells").count() === 60L)
    // the NEXT real batch appends normally, and folding it prunes the
    // dead b=0 marker (only the latest batch can ever be replayed)
    graft.ops.Similarity.appendBatchToIvfIndex(s, idx, b2, "vec_id", "embedding", 1L)
    assert(s.read.parquet(s"$idx/ingest").count() === 30L)
    graft.ops.Similarity.compactIvfIngest(s, idx)
    assert(s.read.parquet(s"$idx/cells").count() === 90L)
    val markers = new java.io.File(s"$idx/ingest_folded").listFiles()
      .map(_.getName).filter(_.startsWith("b=")).toSeq
    assert(markers === Seq("b=1"), s"stale markers must prune, got $markers")
    // the PQ twin shares the guard
    val pq = s"$dir/pq"
    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding", pq,
      nlist = 4, codec = graft.ops.Similarity.IvfCodec.Pq(m = 4, kc = 8))
    graft.ops.Similarity.appendBatchToIvfIndex(s, pq, b1, "vec_id", "embedding", 0L)
    graft.ops.Similarity.compactIvfIngest(s, pq)
    graft.ops.Similarity.appendBatchToIvfIndex(s, pq, b1, "vec_id", "embedding", 0L)
    graft.ops.Similarity.compactIvfIngest(s, pq)
    assert(s.read.parquet(s"$pq/cells").count() === 60L,
      "PQ ingest replay after compact must not duplicate vectors")
  }

  test("versioned geometry: readers planned before a recluster survive it; versions retire one cycle later") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftgeom").toFile.getAbsolutePath
    val rnd = new scala.util.Random(41)
    val emb = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val idx = s"$dir/idx"
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nlist = 4)
    val queries = emb.limit(3)
    def probe() = graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 4)
    // plan (and resolve geometry paths for) a reader BEFORE the recluster
    val preProbe = probe()
    val want = preProbe.orderBy("qid", "rn").collect().toSeq
    graft.ops.Similarity.reclusterIvfIndex(s, idx, nlist = 4)
    // the old reader keeps reading its immutable version-0 snapshot — the
    // in-place swap this replaces made these files VANISH mid-query
    assert(preProbe.orderBy("qid", "rn").collect().toSeq === want,
      "a reader planned before the recluster must keep its snapshot")
    assert(new java.io.File(s"$idx/cells").exists(),
      "previous geometry must be retained for one cycle")
    assert(new java.io.File(s"$idx/cells@1").exists() &&
      new java.io.File(s"$idx/_geom.1").exists(), "new geometry published")
    // new readers resolve the retrained geometry; the full probe is the
    // exact ranking under ANY clustering, so results must agree
    assert(probe().orderBy("qid", "rn").collect().toSeq === want)
    // the second recluster retires version 0, keeps version 1 as grace
    graft.ops.Similarity.reclusterIvfIndex(s, idx, nlist = 4)
    assert(!new java.io.File(s"$idx/cells").exists(),
      "legacy geometry retires after one grace cycle")
    assert(new java.io.File(s"$idx/cells@2").exists() &&
      new java.io.File(s"$idx/cells@1").exists())
    assert(probe().orderBy("qid", "rn").collect().toSeq === want)
    // a from-scratch rebuild over the path resets the geometry history
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nlist = 4)
    assert(!new java.io.File(s"$idx/cells@2").exists() &&
      new java.io.File(s"$idx/cells").exists(),
      "a rebuild must clear old versions or it would be invisible")
    assert(probe().orderBy("qid", "rn").collect().toSeq === want)
  }

  test("IVF forget: victims vanish from probes (main + ingest), survivors and codes intact, readers snapshot-safe") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftivfforget").toFile.getAbsolutePath
    val rnd = new scala.util.Random(43)
    val all = (0L until 90L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val emb = all.toDF("vec_id", "embedding").localCheckpoint()
    val idx = s"$dir/idx"
    graft.ops.Similarity.buildIvfIndex(
      emb.filter(col("vec_id") < 70), "vec_id", "embedding", idx, nlist = 4,
      codec = graft.ops.Similarity.IvfCodec.Sq())
    val queries = emb.filter(col("vec_id") < 3)
    // a reader over the VERSIONED geometry planned before the forget keeps
    // its snapshot (same contract as recluster). Planned before the ingest
    // batch lands: a reader whose plan unions the pending ingest side area
    // is outside the snapshot contract — folds MOVE those files (the
    // documented maintenance-cadence rule for compaction).
    val preProbe = graft.ops.Similarity.ivfProbe(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 4, rerank = 100)
    val preWant = preProbe.orderBy("qid", "rn").collect().toSeq
    graft.ops.Similarity.appendBatchToIvfIndex(s, idx,
      emb.filter(col("vec_id") >= 70).toDF(), "vec_id", "embedding", 1L)
    // victims straddle the main table and the ingest side area
    val victims = Seq(5L, 6L, 7L, 80L, 81L)
    val removed = graft.ops.Similarity.forgetFromIvfIndex(s, idx,
      victims.toDF("vec_id"), "vec_id")
    assert(removed == victims.size.toLong, s"removed $removed")
    assert(preProbe.orderBy("qid", "rn").collect().toSeq === preWant,
      "a reader planned before the forget must keep its snapshot")
    // full probe + exhaustive rerank == the exact scan over SURVIVORS:
    // no victim may surface, no survivor may be lost
    val post = graft.ops.Similarity.ivfProbe(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 4, rerank = 1000)
    val exact = graft.ops.Similarity.cosineTopK(
      all.filterNot(v => victims.contains(v._1)).toDF("vec_id", "embedding"),
      queries, "vec_id", "embedding", 4)
    assert(post.orderBy("qid", "rn").collect().toSeq ===
      exact.orderBy("qid", "rn").collect().toSeq)
    // the SQ8 code column survives the copy-on-write (compressed pre-rank
    // still serves) and the rewrite published a new geometry version
    val cells = s.read.parquet(
      graft.ops.Similarity.resolvedTablePath(s, idx, "cells"))
    assert(cells.columns.contains("cq"), "codes must survive the rewrite")
    assert(cells.count() == 85L)
    assert(new java.io.File(s"$idx/_geom.1").exists(), "version published")
  }

  test("index mutation fence: mutators exclude each other; a crashed holder is breakable") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftfence").toFile.getAbsolutePath
    val rnd = new scala.util.Random(13)
    val emb = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val idx = s"$dir/idx"
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nlist = 4,
      codec = graft.ops.Similarity.IvfCodec.Sq())
    val before = s.read.parquet(s"$idx/cells").count()
    // an in-flight (or crashed) mutator holds the fence: every mutating
    // entry point must fail fast instead of interleaving into lost vectors
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$idx/_mutating"),
      "recluster pid=99999 at=test".getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      graft.ops.Similarity.compactIvfIngest(s, idx)
    }
    intercept[java.util.ConcurrentModificationException] {
      graft.ops.Similarity.reclusterIvfIndex(s, idx, nlist = 4)
    }
    intercept[java.util.ConcurrentModificationException] {
      graft.ops.Similarity.appendToIvfIndex(s, idx, emb.limit(1),
        "vec_id", "embedding")
    }
    intercept[java.util.ConcurrentModificationException] {
      graft.ops.Similarity.appendBatchToIvfIndex(s, idx, emb.limit(1),
        "vec_id", "embedding", 7L)
    }
    assert(s.read.parquet(s"$idx/cells").count() === before,
      "a fenced-out mutator must leave the index untouched")
    // the holder crashed: the operator breaks the fence, mutation resumes
    assert(graft.ops.Similarity.breakIndexMutation(s, idx))
    graft.ops.Similarity.appendToIvfIndex(s, idx,
      Seq((100L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(s.read.parquet(s"$idx/cells").count() === before + 1)
    // mutual exclusion under real contention: racers through the fence
    // must never overlap (the atomic-create consensus, CrashInjection's
    // single-winner property applied to the index)
    val active = new java.util.concurrent.atomic.AtomicInteger
    val overlap = new java.util.concurrent.atomic.AtomicBoolean(false)
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val ths = (1 to 8).map(_ => new Thread(() =>
      try graft.ops.Similarity.withIndexMutation(s, idx, "racer") {
        if (active.incrementAndGet() > 1) overlap.set(true)
        Thread.sleep(25)
        active.decrementAndGet()
        wins.incrementAndGet(): Unit
      } catch { case _: java.util.ConcurrentModificationException => () }))
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(!overlap.get, "two mutators held the fence simultaneously")
    assert(wins.get >= 1, "at least one racer must win the fence")
    // the fence is released after each winner: a follow-up mutation runs
    graft.ops.Similarity.compactIvfIngest(s, idx)
    // streaming crash-replay self-heals: a fence left by a CRASHED
    // appendBatch of the same batchId is reclaimed by its replay (the
    // replay IS the dead holder's retry — idempotent content), but a fence
    // from a DIFFERENT op identity still refuses
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$idx/_mutating"),
      "appendBatchToIvfIndex b=9 pid=99999 at=crashed".getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      graft.ops.Similarity.appendBatchToIvfIndex(s, idx, emb.limit(1),
        "vec_id", "embedding", 10L) // different batch — might be alive
    }
    graft.ops.Similarity.appendBatchToIvfIndex(s, idx, emb.limit(1),
      "vec_id", "embedding", 9L) // the replay of the crashed batch
    assert(!new java.io.File(s"$idx/_mutating").exists(),
      "the reclaimed fence must be released after the replay")
  }

  test("runningFold holds per-key state in the state store across batches and restarts") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftrfold").toFile.getAbsolutePath
    def writeBatch(rows: Seq[(String, Long, String, String)], name: String): Unit = {
      rows.toDF("aggregate_id", "seq", "kind", "body")
        .coalesce(1).write.parquet(s"$dir/stage/$name")
      val part = new java.io.File(s"$dir/stage/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(s"$dir/in").mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/in/$name.parquet")): Unit
    }
    // batch semantics first: same fold, state starts empty, one pass
    val batchDf = Seq(
      ("a", 1L, "AccountCreated", """{"money":100,"owner":"P"}"""),
      ("a", 2L, "MoneyDeposited", """{"money":30}"""),
      ("b", 1L, "AccountCreated", """{"money":50,"owner":"A"}"""))
      .toDF("aggregate_id", "seq", "kind", "body")
    val batchOut = StreamAggs.runningFold(batchDf, "aggregate_id", "seq",
        "kind", "body", AccountType.empty, AccountType.fold)
      .collect().map(t => t._1 -> t._2.balance).toMap
    assert(batchOut == Map("a" -> 130L, "b" -> 50L),
      "batch mode folds each key's events in seq order")

    // streaming: state ACCUMULATES across micro-batches with no re-read
    writeBatch(Seq(
      ("a", 1L, "AccountCreated", """{"money":100,"owner":"P"}"""),
      ("b", 1L, "AccountCreated", """{"money":50,"owner":"A"}""")), "b1")
    val seen = scala.collection.mutable.Map[String, Long]()
    def run(): Unit = {
      val q = StreamAggs.runningFold(
          s.readStream.schema("aggregate_id string, seq long, kind string, body string")
            .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
          "aggregate_id", "seq", "kind", "body",
          AccountType.empty, AccountType.fold)
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/chk")
        .foreachBatch { (out: org.apache.spark.sql.Dataset[(String, Account)], _: Long) =>
          out.collect().foreach { case (k, st) =>
            seen.synchronized { seen(k) = st.balance }; ()
          }
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(seen.synchronized(seen.toMap) == Map("a" -> 100L, "b" -> 50L))
    // second batch folds ON TOP of held state
    writeBatch(Seq(("a", 2L, "MoneyDeposited", """{"money":30}""")), "b2")
    run()
    assert(seen.synchronized(seen("a")) == 130L,
      "held state must accumulate across batches")
    // a RESTARTED query (same checkpoint) resumes the state store
    writeBatch(Seq(("a", 3L, "MoneyWithdrawn", """{"money":15}"""),
      ("b", 2L, "MoneyDeposited", """{"money":7}""")), "b3")
    run()
    assert(seen.synchronized(seen.toMap) == Map("a" -> 115L, "b" -> 57L),
      "restart must resume from checkpointed state, not refold from empty")
  }

  test("runningFold refuses a celebrity key past the per-batch bound; the spillable batch fold handles it") {
    val s = spark
    import s.implicits._
    // one key receiving ~a whole batch: the shape runningFold's in-memory
    // per-key buffer cannot hold at backfill scale — must refuse LOUDLY at
    // the bound, naming the spillable path (r13 verdict #4)
    val hot = (1L to 5L).map(i =>
      ("hot", i, "MoneyDeposited", """{"money":1}""")) :+
      (("b", 1L, "AccountCreated", """{"money":50,"owner":"A"}"""))
    val df = hot.toDF("aggregate_id", "seq", "kind", "body")
    val e = intercept[Exception] {
      StreamAggs.runningFold(df, "aggregate_id", "seq", "kind", "body",
        AccountType.empty, AccountType.fold, maxBatchRowsPerKey = 3).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val msg = causes(e).map(String.valueOf(_)).mkString(" | ")
    assert(msg.contains("rehydrateAll") && msg.contains("hot"),
      s"the refusal must name the key and the spillable path: $msg")
    // the named path: a spillable SORTED group fold over the same fixture
    // (flatMapSortedGroups spills through the sort machinery instead of
    // buffering the key's rows on-heap) — same fold, same answer
    val folded = df.select($"aggregate_id", $"seq", $"kind", $"body")
      .as[(String, Long, String, String)]
      .groupByKey(_._1)
      .flatMapSortedGroups(org.apache.spark.sql.functions.col("seq")) { (k, it) =>
        var acc = AccountType.empty
        it.foreach { case (_, _, kind, body) => acc = AccountType.fold(acc, kind, body) }
        Iterator.single((k, acc.balance))
      }.collect().toMap
    assert(folded == Map("hot" -> 5L, "b" -> 50L))
    // under the default bound the same fixture passes
    val ok = StreamAggs.runningFold(df, "aggregate_id", "seq", "kind", "body",
      AccountType.empty, AccountType.fold).collect().map(t => t._1 -> t._2.balance).toMap
    assert(ok == Map("hot" -> 5L, "b" -> 50L))
  }

  test("component state cold-start skips an incomplete (no _SUCCESS) version") {
    // a crash DURING the versioned state write leaves task-committed files
    // without the job-level _SUCCESS marker; cold-start must fall back to
    // the last fully-committed version instead of silently adopting the
    // partial one (older components are not re-derivable from the replay)
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("cincomplete").toFile.getAbsolutePath
    val state = s"$dir/state"
    def fam(i: Long, tag: String) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i india$i family$i $tag"
    val corpus = (0L until 50L).map(i => (i, fam(i, "accepted corpus body")))
      .toDF("doc_id", "text").localCheckpoint()
    new java.io.File(s"$dir/in").mkdirs()
    Seq((100L, fam(3L, "accepted corpus CHANGED")))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
    val q = StreamAggs.componentsAtIngest(
        s.readStream.schema("doc_id long, text string").parquet(s"$dir/in"),
        corpus, "doc_id", "text", threshold = 0.5,
        stateDir = Some(state)) { (_, _) => () }
      .option("checkpointLocation", s"$dir/chk").start()
    try { q.processAllAvailable() } finally q.stop()
    val complete = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).toSeq
    assert(complete.size === 1, s"expected one committed version, got $complete")
    val expected = s.read.parquet(s"$state/${complete.head}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fabricate a NEWER, numerically-latest version that lost its job
    // commit: real part files, no _SUCCESS, content obviously partial
    Seq((0L, 0L)).toDF("node", "label").write.parquet(s"$state/v=99")
    assert(new java.io.File(s"$state/v=99/_SUCCESS").delete(),
      "fixture: _SUCCESS must exist to be removed")
    // cold start with a fresh checkpoint: the replay must seed from the
    // complete version, no-op under the replay guard, and clear the debris
    val seen = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    val q2 = StreamAggs.componentsAtIngest(
        s.readStream.schema("doc_id long, text string").parquet(s"$dir/in"),
        corpus, "doc_id", "text", threshold = 0.5,
        stateDir = Some(state)) { (asg, _) =>
        seen.synchronized {
          seen += asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap; ()
        }
      }
      .option("checkpointLocation", s"$dir/chk2").start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(seen.nonEmpty && seen.forall(_ == expected),
      "cold-start must seed from the last COMPLETE version")
    assert(!new java.io.File(s"$state/v=99").exists(),
      "the incomplete version must be deleted at cold-start")
  }

  test("a corrupt sq_meta fails appends loudly instead of silently writing raw codes") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftmeta").toFile.getAbsolutePath
    val rnd = new scala.util.Random(11)
    val emb = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val idx = s"$dir/idx"
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx,
      nlist = 4, codec = graft.ops.Similarity.IvfCodec.Sq(normalize = true))
    // corrupt the flag file: reads must PROPAGATE (a swallowed error would
    // silently append raw vectors into a normalized index — permanent,
    // unsignalled recall loss)
    val meta = new java.io.File(s"$idx/sq_meta")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(meta)
    java.nio.file.Files.write(meta.toPath, "not parquet".getBytes("UTF-8"))
    intercept[Exception] {
      graft.ops.Similarity.appendToIvfIndex(s, idx, emb.limit(2),
        "vec_id", "embedding")
    }
    // ABSENCE stays benign: an index written before the flag existed is raw
    assert(meta.delete())
    graft.ops.Similarity.appendToIvfIndex(s, idx, emb.limit(2),
      "vec_id", "embedding")
  }

  test("plain IVF index at ingest: indexAtIngest routes to the float append, streamed == batch twin") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftfloating").toFile.getAbsolutePath
    val rnd = new scala.util.Random(31)
    val all = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val base = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val b1 = all.filter(_._1 % 2 == 1)
    val queries = all.take(4).toDF("vec_id", "embedding")

    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding",
      s"$dir/twin", nlist = 5)
    graft.ops.Similarity.appendToIvfIndex(s, s"$dir/twin",
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val want = graft.ops.Similarity.ivfTopKIndexed(s, s"$dir/twin",
      queries, "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("qid", "rn").collect().toSeq

    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding",
      s"$dir/idx", nlist = 5)
    b1.toDF("vec_id", "embedding").write.parquet(s"$dir/in")
    // the SAME indexAtIngest entry as the SQ8/PQ tests: with neither books
    // nor sq_scale on disk it must take the uncompressed append — starting
    // uncompressed and migrating layouts later never changes the topology
    val q = StreamAggs.indexAtIngest(
        s.readStream.schema("vec_id long, embedding array<float>")
          .parquet(s"$dir/in"),
        s"$dir/idx", "vec_id", "embedding")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try q.processAllAvailable() finally q.stop()
    def probe() = graft.ops.Similarity.ivfTopKIndexed(s, s"$dir/idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 2)
    assert(probe().orderBy("qid", "rn").collect().toSeq === want,
      "float probe over main ∪ ingest must equal the batch-append twin")
    // replay is a no-op; compact folds the side area; probes unchanged
    graft.ops.Similarity.appendBatchToIvfIndex(s, s"$dir/idx",
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding", batchId = 0L)
    assert(s.read.parquet(s"$dir/idx/ingest").count() === 100L)
    graft.ops.Similarity.compactIvfIngest(s, s"$dir/idx")
    assert(!new java.io.File(s"$dir/idx/ingest").exists())
    assert(s.read.parquet(s"$dir/idx/cells").count() === 200L)
    assert(probe().orderBy("qid", "rn").collect().toSeq === want)
    // and the folded-batch replay guard holds here too
    graft.ops.Similarity.appendBatchToIvfIndex(s, s"$dir/idx",
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding", batchId = 0L)
    assert(!new java.io.File(s"$dir/idx/ingest").exists(),
      "a folded batch's replay must be a no-op on the plain index")
  }

  test("PQ index at ingest: indexAtIngest routes on the layout, streamed == batch twin") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftpqing").toFile.getAbsolutePath
    val rnd = new scala.util.Random(29)
    val all = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val base = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
    val b1 = all.filter(_._1 % 2 == 1)
    val queries = all.take(4).toDF("vec_id", "embedding")

    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding",
      s"$dir/twin", nlist = 5, codec = graft.ops.Similarity.IvfCodec.Pq(m = 4, kc = 8))
    graft.ops.Similarity.appendToIvfIndex(s, s"$dir/twin",
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val want = graft.ops.Similarity.ivfProbe(s, s"$dir/twin",
      queries, "vec_id", "embedding", k = 3, nprobe = 2, rerank = 4)
      .orderBy("qid", "rn").collect().toSeq

    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding",
      s"$dir/idx", nlist = 5, codec = graft.ops.Similarity.IvfCodec.Pq(m = 4, kc = 8))
    b1.toDF("vec_id", "embedding").write.parquet(s"$dir/in")
    // the SAME indexAtIngest entry as the SQ8 test: it must detect the PQ
    // layout (books present) and encode with the persisted codebooks
    val q = StreamAggs.indexAtIngest(
        s.readStream.schema("vec_id long, embedding array<float>")
          .parquet(s"$dir/in"),
        s"$dir/idx", "vec_id", "embedding")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try q.processAllAvailable() finally q.stop()
    def probe() = graft.ops.Similarity.ivfProbe(s, s"$dir/idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 2, rerank = 4)
    assert(probe().orderBy("qid", "rn").collect().toSeq === want,
      "PQ probe over main ∪ ingest must equal the batch-append twin")
    // replay no-op, then compact (same generic file-move fold as SQ8)
    graft.ops.Similarity.appendBatchToIvfIndex(s, s"$dir/idx",
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding", batchId = 0L)
    assert(s.read.parquet(s"$dir/idx/ingest").count() === 100L)
    graft.ops.Similarity.compactIvfIngest(s, s"$dir/idx")
    assert(!new java.io.File(s"$dir/idx/ingest").exists())
    assert(s.read.parquet(s"$dir/idx/cells").count() === 200L)
    assert(probe().orderBy("qid", "rn").collect().toSeq === want)

    // recluster with a PENDING ingest area: it must fold the side area
    // FIRST (an unfolded area would keep unioning into probes with cell
    // ids from the retired geometry) and PRESERVE the code column through
    // the rewrite (codes depend on the frozen books, not the centroids)
    val extra = (300L until 320L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    graft.ops.Similarity.appendBatchToIvfIndex(s, s"$dir/idx",
      extra.toDF("vec_id", "embedding"), "vec_id", "embedding", batchId = 1L)
    graft.ops.Similarity.reclusterIvfIndex(s, s"$dir/idx", nlist = 5)
    assert(!new java.io.File(s"$dir/idx/ingest").exists(),
      "recluster must fold the ingest side area before the rewrite")
    assert(s.read.parquet(
        graft.ops.Similarity.resolvedTablePath(s, s"$dir/idx", "cells"))
      .count() === 220L,
      "no vector may be lost through fold + recluster")
    // the compressed probe still serves: a full probe (every cell,
    // exhaustive rerank) must equal the exact cosine scan — any dropped
    // code column or stale assignment breaks this identity
    val fullProbe = graft.ops.Similarity.ivfProbe(s, s"$dir/idx",
      queries, "vec_id", "embedding", k = 3, nprobe = 5, rerank = 100)
    val exact = graft.ops.Similarity.cosineTopK(
      (all ++ extra).toDF("vec_id", "embedding"), queries,
      "vec_id", "embedding", 3)
    assert(fullProbe.orderBy("qid", "rn").collect().toSeq ===
      exact.orderBy("qid", "rn").collect().toSeq)
  }

  test("semantic dedup at ingest: accepted vectors screen later batches; replay never matches a ghost") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("semingest")
      .toFile.getAbsolutePath
    // one-hot corpus: pairwise cosine 0 — every verdict margin is wide
    def oneHot(d: Int, scale: Float = 1f) =
      Array.tabulate(8)(j => if (j == d) scale else 0f)
    val corpus = (0 until 8).map(i => (i.toLong, oneHot(i)))
    corpus.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/corpus")
    graft.ops.Similarity.buildIvfIndex(s.read.parquet(s"$dir/corpus"),
      "vec_id", "embedding", s"$dir/idx", nlist = 4,
      codec = graft.ops.Similarity.IvfCodec.Sq())

    val flat = Array.fill(8)(0.3535f)                      // cos ≈ .35 vs any e_i
    val flatTwin = flat.updated(0, 0.36f)                  // cos ≈ 1 vs flat
    val alt = Array.tabulate(8)(j => if (j % 2 == 0) 0.5f else -0.5f)
    def writeBatch(rows: Seq[(Long, Array[Float])], name: String): Unit = {
      rows.toDF("vec_id", "embedding").coalesce(1).write
        .parquet(s"$dir/stage/$name")
      val part = new java.io.File(s"$dir/stage/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(s"$dir/in").mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/in/$name.parquet")): Unit
    }
    // batch 1: 100 near-dups corpus vec 0; 101 (flat) is novel
    writeBatch(Seq(
      (100L, oneHot(0, 0.9f).updated(1, 0.05f)), (101L, flat)), "b1")
    // batch 2: 200 near-dups batch 1's ACCEPTED vector 101 — only the
    // self-grown index can catch it; 201 (alternating) is novel
    writeBatch(Seq((200L, flatTwin), (201L, alt)), "b2")

    val verdicts = scala.collection.mutable.Map[Long, (Boolean, Any)]()
    val q = StreamAggs.semDedupAtIngest(
        s.readStream.schema("vec_id long, embedding array<float>")
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        s"$dir/idx", "vec_id", "embedding", threshold = 0.9,
        nprobe = 4, rerank = 1000) { (res, _) =>
        val rs = res.collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.get(2)))
        verdicts.synchronized { verdicts ++= rs; () }
      }
      .option("checkpointLocation", s"$dir/chk").start()
    try {
      q.processAllAvailable()
      assert(verdicts(100L) == (false, 0L), s"100 near-dups corpus 0: $verdicts")
      assert(verdicts(101L)._1, "flat vector is novel vs the one-hot corpus")
      assert(verdicts(200L) == (false, 101L),
        s"200 must match batch 1's accepted vector through the index: $verdicts")
      assert(verdicts(201L)._1, s"alternating vector is novel: $verdicts")
    } finally q.stop()

    // crash-replay twin of batch 2 (its first-attempt vectors live in
    // ingest/b=1): the screen excludes b=1, so 200 still matches 101
    // (accepted in b=0) and 201 stays novel instead of matching its own
    // ghost — is_new would silently flip on every restart otherwise
    val replay = graft.ops.Similarity.semScreen(s, s"$dir/idx",
        Seq((200L, flatTwin), (201L, alt)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.9, nprobe = 4, rerank = 1000,
        excludeBatch = Some(1L))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.get(2))).toSeq
    assert(replay === Seq((200L, false, 101L), (201L, true, null)),
      s"replay with first-attempt vectors present must not self-match: $replay")
  }
}
