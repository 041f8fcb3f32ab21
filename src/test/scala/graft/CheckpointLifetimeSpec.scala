package graft

import graft.log.{AppendRecord, CommitClaim, CommitMode, ConcurrentModificationException, EventDetail, EventLog}
import graft.ops.{Dedup, LshIndex, PhashIndex}
import graft.store.EventStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Explicit checkpoint-block lifetimes (VERDICT r14 #2): every maintenance
  * and lifecycle phase must return executor block storage to its baseline
  * WITHOUT any `System.gc()` — production drivers (streaming projectors,
  * index-maintenance loops, long analytic sessions) have no per-query GC,
  * and `localCheckpoint` blocks otherwise free only when the ContextCleaner
  * notices unreachable frames, which takes a collection. The assertions
  * read `sc.getPersistentRDDs`, whose entries are removed synchronously by
  * `RDD.unpersist` — a pass here means the release was EXPLICIT, not GC
  * luck.
  *
  * Consumer-side discipline proven here too: a frame RETURNED by an
  * operator (screen verdicts, component labels) necessarily keeps its
  * interior checkpoints alive until the caller's last action; after that
  * action `Checkpoints.release(frame)` walks the plan and frees every
  * ENGINE-OWNED scratch checkpoint inside it — while a checkpoint the
  * CALLER minted (their own `localCheckpoint()`ed corpus embedded in the
  * same plan) is not owned and must survive the walk (the ownership test
  * below: freeing it would turn the caller's next use into an
  * unrecoverable missing-block error).
  */
class CheckpointLifetimeSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def liveIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `phase`, then assert no NEW persistent RDDs survive it. */
  private def assertClean[A](what: String)(phase: => A): A = {
    val base = liveIds
    val r = phase
    val residual = liveIds -- base
    assert(residual.isEmpty,
      s"$what left ${residual.size} checkpoint block set(s) behind " +
        s"(rdd ids $residual) — lifetimes must be explicit, not GC-dependent")
    r
  }

  private def fam(i: Long, tag: String) =
    s"kilo$i lima$i mike$i november$i oscar$i papa$i quebec$i romeo$i sierra$i clan$i $tag"

  private def corpusDf(n: Long) = {
    val s = spark
    import s.implicits._
    (0L until n).map(i => (i, fam(i, "baseline corpus body text")))
      .toDF("doc_id", "text")
  }

  test("LshIndex lifecycle phases are block-clean without System.gc()") {
    val s = spark
    import s.implicits._
    val corpus = corpusDf(30)
    val idx = Files.createTempDirectory("cklsh").toFile.getAbsolutePath

    assertClean("build")(LshIndex.build(corpus, "doc_id", "text", idx, sigBuckets = 8))
    val batch = (100L to 109L).map(i => (i, fam(i % 5, "baseline corpus body CHANGED")))
      .toDF("doc_id", "text")
    assertClean("appendBatch")(
      LshIndex.appendBatch(s, idx, batch, "doc_id", "text", batchId = 1L))
    // screen: the verdicts frame pins its interior scratch (batch shingle
    // sets + candidate join) until the consumer's last action; release
    // walks the plan and frees them — zero residual, no GC
    assertClean("screen + consume + release") {
      val v = LshIndex.screen(s, idx, corpus, batch, "doc_id", "text", 0.5)
      assert(v.count() == 10)
      Checkpoints.release(v)
    }
    assertClean("compactIngest")(LshIndex.compactIngest(s, idx))
    assertClean("forget")(
      LshIndex.forget(s, idx, Seq(3L).toDF("doc_id"), "doc_id"))
    assertClean("reshard")(LshIndex.reshard(s, idx, newSigBuckets = 4))
  }

  test("release frees only ENGINE-owned checkpoints — a caller's own survives the walk and stays usable") {
    val s = spark
    import s.implicits._
    val idx = Files.createTempDirectory("ckown").toFile.getAbsolutePath
    LshIndex.build(corpusDf(30), "doc_id", "text", idx, sigBuckets = 8)
    // the caller checkpoints their OWN corpus frame (outside the library)
    val userCorpus = corpusDf(30).localCheckpoint()
    val userIds = liveIds
    val batch = (100L to 104L).map(i => (i, fam(i % 5, "caller batch")))
      .toDF("doc_id", "text")
    // the verdicts plan embeds userCorpus (the verify's semi-join side);
    // releasing the verdicts must free the screen's interior scratch but
    // NOT the caller's blocks
    val v = LshIndex.screen(s, idx, userCorpus, batch, "doc_id", "text", 0.5)
    assert(v.count() == 5)
    Checkpoints.release(v)
    assert((userIds -- liveIds).isEmpty,
      "release(verdicts) must not unpersist a caller-minted checkpoint")
    // and the caller's frame still executes (its blocks are intact)
    assert(userCorpus.count() == 30)
    // second screen over the SAME caller checkpoint still works end to end
    val v2 = LshIndex.screen(s, idx, userCorpus, batch, "doc_id", "text", 0.5)
    assert(v2.count() == 5)
    Checkpoints.release(v2, userCorpus)
    // releasing the user frame directly is also a no-op (not owned): the
    // explicit-lifetime API can never be turned against foreign blocks
    assert(userCorpus.count() == 30)
  }

  test("PhashIndex lifecycle phases are block-clean without System.gc()") {
    val s = spark
    import s.implicits._
    def imgs(ids: Seq[Long]) = graft.ops.Multimodal.synthImages(
        ids.map(i => (i, s"pixel seed content $i".getBytes("UTF-8")))
          .toDF("media_id", "content"), 18, 16, "bmp")
      .select(col("media_id").as("img_id"), col("img"))
    val idx = Files.createTempDirectory("ckphash").toFile.getAbsolutePath
    assertClean("build")(
      PhashIndex.build(imgs(0L to 19L), "img_id", "img", idx, sigBuckets = 8))
    assertClean("appendBatch")(
      PhashIndex.appendBatch(s, idx, imgs(100L to 104L), "img_id", "img",
        batchId = 1L))
    assertClean("screen + consume + release") {
      val v = PhashIndex.screen(s, idx, imgs(200L to 204L), "img_id", "img")
      assert(v.count() == 5)
      Checkpoints.release(v)
    }
    assertClean("compactIngest")(PhashIndex.compactIngest(s, idx))
    assertClean("forget")(
      PhashIndex.forget(s, idx, Seq(2L).toDF("img_id"), "img_id"))
    assertClean("reshard")(PhashIndex.reshard(s, idx, newSigBuckets = 4))
  }

  test("connected components holds one round's blocks, not all rounds'") {
    val s = spark
    import s.implicits._
    // a diameter-9 chain forces several contraction rounds
    val nodes = (0L to 9L).map(Tuple1(_)).toDF("node")
    val pairs = (0L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val base = liveIds
    val res = Dedup.connectedComponents(nodes, pairs)
    // mid-run frames (per-round edge sets) must already be gone: only the
    // converged labels frame — referenced by the returned plan — may live
    val afterBuild = liveIds -- base
    assert(afterBuild.size <= 1,
      s"expected at most the labels checkpoint alive, got ids $afterBuild")
    assert(res.filter(col("label") === 0L).count() == 10)
    Checkpoints.release(res)
    assert((liveIds -- base).isEmpty, "labels must release with the result")
  }

  test("connected components releases its round blocks when it refuses to return unconverged labels") {
    val s = spark
    import s.implicits._
    // the same diameter-9 chain cannot converge in one round
    val nodes = (0L to 9L).map(Tuple1(_)).toDF("node")
    val pairs = (0L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assertClean("non-convergence refusal") {
      intercept[IllegalStateException](
        Dedup.connectedComponents(nodes, pairs, maxRounds = 1))
    }
  }

  test("dedupSurvivors (both engines) releases its shingle scratch") {
    val s = spark
    val docs = corpusDf(40)
    val base = liveIds
    val exact = Dedup.dedupSurvivors(docs, "doc_id", "text", 0.5, exact = true)
    assert((liveIds -- base).size <= 1, "only the labels frame may remain")
    assert(exact.count() == 40)
    Checkpoints.release(exact)
    val lp = Dedup.dedupSurvivors(docs, "doc_id", "text", 0.5, rounds = 6)
    assert((liveIds -- base).size <= 1, "only the labels frame may remain")
    assert(lp.count() == 40)
    Checkpoints.release(lp)
    assert((liveIds -- base).isEmpty)
  }

  test("EventLog maintenance rewrites are block-clean without System.gc()") {
    val dir = Files.createTempDirectory("cklog").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(77L))
    val store = new EventStore(log, AccountType)
    (1 to 8).foreach { i =>
      store.create(f"01HXCKPT${i}%018d", Seq(AccountType.created(i, s"o$i")))
    }
    assertClean("compact")(log.compact())
    (1 to 8).foreach { i =>
      store.update(f"01HXCKPT${i}%018d")(_ => Seq(AccountType.deposited(i)))
    }
    assertClean("pruneSnapshotted")(
      log.pruneSnapshotted(System.currentTimeMillis() + 60000))
  }

  test("the append writers release their minted batch in both commit modes, refusals included") {
    val s = spark
    import s.implicits._
    def rows(prefix: String, n: Int) =
      (1 to n).map(i => (s"$prefix-${i % 4}", "Account", "Deposited", s"""{"i":$i}""", i))
        .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq")
    Seq(CommitMode.Lock, CommitMode.Manifest).foreach { mode =>
      val dir = Files.createTempDirectory("ckappend").toFile.getAbsolutePath
      val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(78L), commitMode = mode)
      log.append(Seq(AppendRecord("seed-0", "Account", 0, Map.empty,
        Seq(EventDetail("Created", "{}")))))
      assertClean(s"bulkImport ($mode)")(assert(log.bulkImport(rows("imp", 8)) === 8L))
      assertClean(s"appendBulk ($mode)")(
        assert(log.appendBulk(rows("imp", 6), ledgerId = Some("ck"), batchId = 1L) === 6L))
      assertClean(s"appendNoOpFences ($mode)")(assert(log.appendNoOpFences("Account") === 5L))
      assertClean(s"refused bulkImport ($mode)")(
        intercept[ConcurrentModificationException](log.bulkImport(rows("imp", 2))))
    }
    // a refusal AFTER minting: another driver's pending reservation on the
    // imported stream (the parquet probe cannot see it, the chain refuses)
    val dir = Files.createTempDirectory("ckrefuse").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 2, ulidSeed = Some(79L),
      commitMode = CommitMode.Manifest)
    log.manifest.refresh(): Unit
    assert(log.manifest.tryClaim(CommitClaim(1L, Map("held-0" -> (0, 3)), Seq.empty,
      "other-driver", System.currentTimeMillis(), done = false)))
    assertClean("bulkImport refused by a chain reservation")(
      intercept[ConcurrentModificationException](log.bulkImport(rows("held", 4))))
  }
}
