package graft

import graft.ops.{Dedup, IndexLifecycle, LshIndex, Similarity}
import graft.streaming.StreamAggs
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SHARED index-lifecycle protocol (IndexLifecycle) across both
  * persisted-index families: the monotone-batch-id refusal that makes
  * folded-marker pruning safe, the resetIngestFolded repair verb, the
  * one-resolution geometry snapshot probes take, and the state-version
  * commit marker that does not depend on Hadoop's configurable _SUCCESS.
  * Both families must refuse IDENTICALLY on the shared half-done states —
  * the parity fence against the two orchestrations drifting apart.
  */
class IndexLifecycleSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def fam(i: Long, tag: String) =
    s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i india$i family$i $tag"

  private def docs(ids: Seq[Long], tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, fam(i, tag))).toDF("doc_id", "text")
  }

  private def emb(ids: Seq[Long], seed: Int = 7) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("both families refuse an ingest batch id below the highest folded marker, identically") {
    val s = spark
    val dir = Files.createTempDirectory("lcguard").toFile.getAbsolutePath

    // ── LSH family ──
    val lsh = s"$dir/lsh"
    LshIndex.build(docs(0L until 20L, "corpus"), "doc_id", "text", lsh,
      sigBuckets = 8)
    LshIndex.appendBatch(s, lsh, docs(Seq(100L), "b5"), "doc_id", "text", 5L)
    LshIndex.compactIngest(s, lsh)
    LshIndex.appendBatch(s, lsh, docs(Seq(101L), "b7"), "doc_id", "text", 7L)
    LshIndex.compactIngest(s, lsh) // prunes marker 5, retains 7
    assert(!LshIndex.batchFolded(s, lsh, 5L) && LshIndex.batchFolded(s, lsh, 7L),
      "pruning must retain only the max marker")
    val before = LshIndex.signatures(s, lsh).count()
    val eLsh = intercept[IllegalStateException] {
      LshIndex.appendBatch(s, lsh, docs(Seq(102L), "b3"), "doc_id", "text", 3L)
    }
    assert(eLsh.getMessage.contains("resetIngestFolded"),
      s"the refusal must name the repair: ${eLsh.getMessage}")
    assert(LshIndex.signatures(s, lsh).count() === before,
      "a refused append must leave the index untouched")
    assert(!new java.io.File(s"$lsh/_mutating").exists(),
      "the fence must release after a refused append")
    // replay of the RETAINED max marker stays the legitimate idempotent skip
    LshIndex.appendBatch(s, lsh, docs(Seq(101L), "b7"), "doc_id", "text", 7L)
    assert(LshIndex.signatures(s, lsh).count() === before)
    // the sanctioned repair: fresh checkpoint → ids restart at 0
    LshIndex.resetIngestFolded(s, lsh)
    LshIndex.appendBatch(s, lsh, docs(Seq(102L), "b0"), "doc_id", "text", 0L)
    assert(LshIndex.signatures(s, lsh).count() === before + 4,
      "post-reset the restarted id sequence must land (4 bands × 1 doc)")

    // ── IVF family (same protocol, same refusal, same repair) ──
    val ivf = s"$dir/ivf"
    Similarity.buildIvfIndex(emb(0L until 30L), "vec_id", "embedding", ivf,
      nlist = 4, codec = Similarity.IvfCodec.Sq())
    Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(100L), 8), "vec_id",
      "embedding", 5L)
    Similarity.compactIvfIngest(s, ivf)
    Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(101L), 9), "vec_id",
      "embedding", 7L)
    Similarity.compactIvfIngest(s, ivf)
    assert(!Similarity.batchFolded(s, ivf, 5L) && Similarity.batchFolded(s, ivf, 7L))
    def cellCount() = s.read.parquet(
      Similarity.resolvedTablePath(s, ivf, "cells")).count()
    val beforeIvf = cellCount()
    val eIvf = intercept[IllegalStateException] {
      Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(102L), 10), "vec_id",
        "embedding", 3L)
    }
    assert(eIvf.getMessage.contains("resetIngestFolded"))
    assert(cellCount() === beforeIvf)
    assert(!new java.io.File(s"$ivf/_mutating").exists())
    // PARITY: both families raise the same exception class with the same
    // message shape (only the path differs) — one protocol, two tables
    def shape(m: String) = m.replaceAll(s"index at \\S+:", "index at <path>:")
    assert(shape(eLsh.getMessage) === shape(eIvf.getMessage),
      "the two families' refusals must be identical up to the path")
    Similarity.resetIngestFolded(s, ivf)
    Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(102L), 10), "vec_id",
      "embedding", 0L)
    Similarity.compactIvfIngest(s, ivf)
    assert(cellCount() === beforeIvf + 1)
  }

  test("probes resolve the geometry version exactly once per entry point") {
    // a probe is unfenced, so per-leg resolution raced against a concurrent
    // recluster/forget publish: centroids@N with cells@N+1 — silently wrong
    // neighbors (ADVICE r12, medium). The snapshot makes every leg derive
    // from ONE resolution; this pins the count structurally.
    val s = spark
    val dir = Files.createTempDirectory("lcgeom").toFile.getAbsolutePath
    val corpus = emb(0L until 40L)
    val queries = emb(100L until 103L, seed = 13)
    def resolutions(body: => Unit): Long = {
      val b = Similarity.geomResolutions.get()
      body
      Similarity.geomResolutions.get() - b
    }
    val sq = s"$dir/sq"
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", sq, nlist = 4,
      codec = Similarity.IvfCodec.Sq())
    // recluster once so the index is on VERSIONED geometry (the raced state)
    Similarity.reclusterIvfIndex(s, sq, nlist = 4)
    assert(resolutions(Similarity.ivfProbe(s, sq, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, rerank = 4).collect(): Unit) === 1L)
    assert(resolutions(Similarity.ivfIndexHealth(s, sq).collect(): Unit) === 1L)

    val fl = s"$dir/float"
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", fl, nlist = 4)
    assert(resolutions(Similarity.ivfTopKIndexed(s, fl, queries, "vec_id",
      "embedding", k = 3, nprobe = 2).collect(): Unit) === 1L)

    val pq = s"$dir/pq"
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", pq, nlist = 4,
      codec = Similarity.IvfCodec.Pq(m = 4, kc = 8))
    assert(resolutions(Similarity.ivfProbe(s, pq, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, rerank = 4).collect(): Unit) === 1L)

    // the routed probe and both appends resolve once on every layout, the
    // persisted codec read alongside the snapshot
    for ((idx, i) <- Seq(sq, fl, pq).zipWithIndex) {
      assert(resolutions(Similarity.ivfProbe(s, idx, queries, "vec_id",
        "embedding", k = 3, nprobe = 2, rerank = 4).collect(): Unit) === 1L)
      assert(resolutions(Similarity.appendToIvfIndex(s, idx,
        emb(Seq(200L + i), seed = 17), "vec_id", "embedding")) === 1L)
      assert(resolutions(Similarity.appendBatchToIvfIndex(s, idx,
        emb(Seq(300L + i), seed = 19), "vec_id", "embedding", 0L)) === 1L)
    }
  }

  test("state-version completeness survives marksuccessfuljobs=false (own commit marker)") {
    // with Hadoop's job-success marker disabled (object-store committers),
    // a _SUCCESS-only completeness test would treat EVERY persisted version
    // as crash debris on cold-start — deleting all component state and
    // silently reseeding from the corpus (ADVICE r12). The own marker
    // (_graft_committed, written after the parquet write returns) keeps
    // cold-start correct regardless of the committer setting.
    val s = spark
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val old = conf.get(key)
    conf.set(key, "false")
    try {
      val dir = Files.createTempDirectory("lcmark").toFile.getAbsolutePath
      val state = s"$dir/state"
      val corpus = docs(0L until 30L, "accepted corpus body").localCheckpoint()
      new java.io.File(s"$dir/in").mkdirs()
      Seq((100L, fam(3L, "accepted corpus CHANGED"))).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = StreamAggs.componentsAtIngest(
          s.readStream.schema("doc_id long, text string").parquet(s"$dir/in"),
          corpus, "doc_id", "text", threshold = 0.5,
          stateDir = Some(state)) { (_, _) => () }
        .option("checkpointLocation", s"$dir/chk").start()
      try { q.processAllAvailable() } finally q.stop()
      val vdir = new java.io.File(state).listFiles()
        .filter(_.getName.startsWith("v=")).head
      assert(!new java.io.File(vdir, "_SUCCESS").exists(),
        "fixture: the committer must not have written _SUCCESS")
      assert(new java.io.File(vdir, "_graft_committed").exists(),
        "the own commit marker must exist")
      val expected = s.read.parquet(vdir.getAbsolutePath)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(expected.contains(100L), "batch node must be in the persisted state")
      // cold start (fresh checkpoint): must seed from the persisted version
      // — NOT delete it as debris and reseed from the corpus
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
        "cold-start must seed from the version our own marker committed")
    } finally {
      if (old == null) conf.unset(key) else conf.set(key, old)
    }
  }

  test("ingest ownership: a second stream refuses BEFORE any marker exists; rebind hands over; rebuild resets") {
    // guardBatchId catches a rogue stream only once its ids cross a folded
    // marker; two streams interleaving before any compact would silently
    // dynamic-overwrite each other's b= partitions. Ownership (the caller's
    // checkpoint location) closes that window on the FIRST append.
    val s = spark
    val dir = Files.createTempDirectory("lcowner").toFile.getAbsolutePath

    val lsh = s"$dir/lsh"
    LshIndex.build(docs(0L until 20L, "corpus"), "doc_id", "text", lsh,
      sigBuckets = 8)
    LshIndex.appendBatch(s, lsh, docs(Seq(100L), "a0"), "doc_id", "text", 0L,
      owner = Some("chk://stream-a"))
    val before = LshIndex.signatures(s, lsh).count()
    val e1 = intercept[IllegalStateException](
      LshIndex.appendBatch(s, lsh, docs(Seq(200L), "b0"), "doc_id", "text", 0L,
        owner = Some("chk://stream-b")))
    assert(e1.getMessage.contains("rebindIngestOwner"),
      s"the refusal must name the repair: ${e1.getMessage}")
    assert(LshIndex.signatures(s, lsh).count() === before,
      "a refused foreign append must not overwrite the owner's partitions")
    // same-owner replays keep working (idempotent, same b= partitions)
    LshIndex.appendBatch(s, lsh, docs(Seq(100L), "a0"), "doc_id", "text", 0L,
      owner = Some("chk://stream-a"))
    assert(LshIndex.signatures(s, lsh).count() === before)
    // handover: old checkpoint retired → rebind folds + clears + re-registers
    LshIndex.rebindIngestOwner(s, lsh, "chk://stream-b")
    LshIndex.appendBatch(s, lsh, docs(Seq(200L), "b0"), "doc_id", "text", 0L,
      owner = Some("chk://stream-b"))
    assert(LshIndex.signatures(s, lsh).count() === before + 4)

    // IVF twin — identical refusal up to the path
    val ivf = s"$dir/ivf"
    Similarity.buildIvfIndex(emb(0L until 30L), "vec_id", "embedding", ivf,
      nlist = 4, codec = Similarity.IvfCodec.Sq())
    Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(100L), 8), "vec_id",
      "embedding", 0L, owner = Some("chk://stream-a"))
    val e2 = intercept[IllegalStateException](
      Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(200L), 9), "vec_id",
        "embedding", 0L, owner = Some("chk://stream-b")))
    def shape(m: String) = m.replaceAll(s"index at \\S+:", "index at <path>:")
    assert(shape(e1.getMessage) === shape(e2.getMessage))
    Similarity.rebindIngestOwner(s, ivf, "chk://stream-b")
    Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(200L), 9), "vec_id",
      "embedding", 0L, owner = Some("chk://stream-b"))

    // a from-scratch REBUILD restarts the streaming story: stale ingest,
    // fold markers and ownership all cleared (previously the IVF builds
    // left a stale ingest side area unioning into probes — r13 fix)
    Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(300L), 10), "vec_id",
      "embedding", 1L, owner = Some("chk://stream-b"))
    assert(new java.io.File(s"$ivf/ingest").exists())
    Similarity.buildIvfIndex(emb(0L until 30L), "vec_id", "embedding", ivf,
      nlist = 4, codec = Similarity.IvfCodec.Sq())
    assert(!new java.io.File(s"$ivf/ingest").exists() &&
      !new java.io.File(s"$ivf/ingest_owner").exists(),
      "rebuild must clear stale ingest state")
    assert(s.read.parquet(Similarity.resolvedTablePath(s, ivf, "cells"))
      .count() === 30L, "probes after rebuild see exactly the new corpus")
    // the new story accepts a fresh owner from batch 0
    Similarity.appendBatchToIvfIndex(s, ivf, emb(Seq(400L), 11), "vec_id",
      "embedding", 0L, owner = Some("chk://stream-c"))
  }

  test("an UNOWNED append onto an index that HAS a registered owner warns loudly, once per path") {
    // ownership is opt-in, so a direct appendBatch caller with owner=None
    // keeps the unguarded contract — but doing that on an index some stream
    // HAS registered is almost certainly the two-writer mistake; it must at
    // least log loudly (r13 verdict #8). Not a refusal: the owner's own
    // operator may legitimately run a maintenance backfill.
    val s = spark
    val dir = Files.createTempDirectory("lcwarn").toFile.getAbsolutePath
    val lsh = s"$dir/lsh"
    LshIndex.build(docs(0L until 20L, "corpus"), "doc_id", "text", lsh,
      sigBuckets = 8)
    val w0 = IndexLifecycle.unownedAppendWarnings.get()
    // no owner registered yet: unowned appends are the documented contract,
    // nothing to warn about
    LshIndex.appendBatch(s, lsh, docs(Seq(100L), "b0"), "doc_id", "text", 0L)
    assert(IndexLifecycle.unownedAppendWarnings.get() === w0)
    LshIndex.rebindIngestOwner(s, lsh, "chk://stream-a")
    // now the index is OWNED: an unowned append warns (and still lands —
    // warn, not refuse)
    val before = LshIndex.signatures(s, lsh).count()
    LshIndex.appendBatch(s, lsh, docs(Seq(200L), "b1"), "doc_id", "text", 1L)
    assert(IndexLifecycle.unownedAppendWarnings.get() === w0 + 1,
      "unowned append onto an owned index must log loudly")
    assert(LshIndex.signatures(s, lsh).count() === before + 4)
    // warn-ONCE per path: a second unowned append stays quiet
    LshIndex.appendBatch(s, lsh, docs(Seq(201L), "b2"), "doc_id", "text", 2L)
    assert(IndexLifecycle.unownedAppendWarnings.get() === w0 + 1)
    // an owned append never trips the counter
    LshIndex.appendBatch(s, lsh, docs(Seq(202L), "b3"), "doc_id", "text", 3L,
      owner = Some("chk://stream-a"))
    assert(IndexLifecycle.unownedAppendWarnings.get() === w0 + 1)
  }

  test("a half-done build refuses every read and mutation in BOTH families, even after a fence break") {
    // the hazard the fence alone cannot close: a build crashes between its
    // PARAMETER writes and its data write, the operator breaks the fence
    // (by design — that is the crashed-holder recovery), and probes would
    // then quantize/sign against parameters the stored rows never saw —
    // silently wrong neighbors (IVF) / silently lost candidates (LSH).
    // Builds mint _pending_build first and clear it last; everything else
    // refuses while it exists, with the SAME message in both families.
    val s = spark
    val dir = Files.createTempDirectory("lcpending").toFile.getAbsolutePath

    val lsh = s"$dir/lsh"
    LshIndex.build(docs(0L until 20L, "corpus"), "doc_id", "text", lsh,
      sigBuckets = 8)
    val ivf = s"$dir/ivf"
    Similarity.buildIvfIndex(emb(0L until 30L), "vec_id", "embedding", ivf,
      nlist = 4, codec = Similarity.IvfCodec.Sq())
    // completed builds leave no marker: everything works
    assert(LshIndex.screen(s, lsh, docs(0L until 20L, "corpus"),
      docs(Seq(100L), "b"), "doc_id", "text", 0.5).count() === 1)
    assert(Similarity.ivfIndexHealth(s, ivf).count() === 4)

    // simulate the crash: marker present, fence already broken
    Seq(lsh, ivf).foreach(p => IndexLifecycle.beginBuild(s, p))
    val eLsh = intercept[IllegalStateException](
      LshIndex.screen(s, lsh, docs(0L until 20L, "corpus"),
        docs(Seq(100L), "b"), "doc_id", "text", 0.5))
    val eLsh2 = intercept[IllegalStateException](LshIndex.health(s, lsh))
    val eLsh3 = intercept[IllegalStateException](
      LshIndex.reshard(s, lsh, newSigBuckets = 16))
    val eLsh4 = intercept[IllegalStateException](LshIndex.compactIngest(s, lsh))
    val eIvf = intercept[IllegalStateException](
      Similarity.ivfProbe(s, ivf, emb(Seq(100L), 8), "vec_id",
        "embedding", k = 3).collect())
    val eIvf2 = intercept[IllegalStateException](Similarity.ivfIndexHealth(s, ivf))
    val eIvf3 = intercept[IllegalStateException](
      Similarity.appendToIvfIndex(s, ivf, emb(Seq(100L), 8), "vec_id", "embedding"))
    // the fenced COMPACT verbs refuse too (the IVF one via its geometry
    // snapshot, the LSH one explicitly) — but only when there is pending
    // ingest to fold, so plant one batch behind each marker... the marker
    // refuses before the fold looks at anything, so a bare call suffices
    val eIvf4 = intercept[IllegalStateException](Similarity.compactIvfIngest(s, ivf))
    def shape(m: String) = m.replaceAll(s"index at \\S+:", "index at <path>:")
    val msgs = Seq(eLsh, eLsh2, eLsh3, eLsh4, eIvf, eIvf2, eIvf3, eIvf4)
      .map(e => shape(e.getMessage))
    assert(msgs.forall(_ == msgs.head),
      s"both families must refuse a half-done build identically: $msgs")
    assert(msgs.head.contains("re-run the build"), "the refusal names the repair")
    assert(!new java.io.File(s"$lsh/_mutating").exists() &&
      !new java.io.File(s"$ivf/_mutating").exists(),
      "refused mutators must release the fence")

    // the named repair works: re-running the build clears the marker
    LshIndex.build(docs(0L until 20L, "corpus"), "doc_id", "text", lsh,
      sigBuckets = 8)
    Similarity.buildIvfIndex(emb(0L until 30L), "vec_id", "embedding", ivf,
      nlist = 4, codec = Similarity.IvfCodec.Sq())
    assert(LshIndex.screen(s, lsh, docs(0L until 20L, "corpus"),
      docs(Seq(100L), "b"), "doc_id", "text", 0.5).count() === 1)
    assert(Similarity.ivfIndexHealth(s, ivf).count() === 4)
  }

  test("guardBatchId is inert without fold history; fold + prune keep O(1) markers") {
    val s = spark
    val dir = Files.createTempDirectory("lcinert").toFile.getAbsolutePath
    // no folded markers at all: any id passes (bootstrap, pre-first-compact)
    IndexLifecycle.guardBatchId(s, dir, 0L)
    IndexLifecycle.guardBatchId(s, dir, 12L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sessionState.newHadoopConf())
    Seq("1", "2", "9").foreach(IndexLifecycle.mintFoldedMarker(fs, dir, _))
    assert(IndexLifecycle.maxFoldedBatch(s, dir) === Some(9L))
    IndexLifecycle.pruneFoldedMarkers(fs, dir)
    assert(new java.io.File(s"$dir/ingest_folded").listFiles().map(_.getName)
      .filter(_.startsWith("b=")).toSeq === Seq("b=9"),
      "pruning must retain exactly the max marker")
    IndexLifecycle.guardBatchId(s, dir, 9L) // == max: the replay, allowed
    intercept[IllegalStateException](IndexLifecycle.guardBatchId(s, dir, 8L))
  }
}
