package graft

import graft.ops.{LshIndex, Multimodal}
import graft.streaming.StreamAggs
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming ingest paths stay block-clean across many micro-batches,
  * not only once: a projector-style driver runs for weeks with no
  * `System.gc()`, so one leaked block set per batch is invisible at five
  * batches and an OOM at fifty thousand. After EVERY batch of a real
  * `foreachBatch` query, no persistent RDD may survive beyond the set live
  * before the first batch — the check `CheckpointLifetimeSpec.assertClean`
  * makes around one phase.
  */
class IngestSoakSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  private val Batches = 40

  private def liveIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `batch(b)` for every batch number, asserting the baseline after each. */
  private def soak(what: String)(batch: Int => Unit): Unit = {
    val base = liveIds
    (0 until Batches).foreach { b =>
      batch(b)
      val residual = liveIds -- base
      assert(residual.isEmpty, s"$what batch $b left ${residual.size} checkpoint block " +
        s"set(s) behind (rdd ids $residual) — a per-batch leak")
    }
  }

  private def fam(i: Long, tag: String) =
    s"tango$i uniform$i victor$i whiskey$i xray$i yankee$i zulu$i word$i clan$i $tag"

  test(s"dedupAtIngest holds the persistent-RDD set at baseline over $Batches micro-batches and a compactIngest") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = Files.createTempDirectory("graftsoak").toFile.getAbsolutePath
    val idx = s"$root/lsh"
    val corpus = (0L until 20L).map(i => (i, fam(i, "accepted corpus body"))).toDF("doc_id", "text")
    LshIndex.build(corpus, "doc_id", "text", idx, sigBuckets = 4)
    val in = MemoryStream[(Long, String)]
    val verdicts = new AtomicLong
    val q = StreamAggs.dedupAtIngest(in.toDF().toDF("doc_id", "text"), idx, () => corpus,
        "doc_id", "text", threshold = 0.5) { (v, _) => verdicts.addAndGet(v.count()): Unit }
      .option("checkpointLocation", s"$root/chk").start()
    try soak("dedupAtIngest") { b =>
      // two novel docs and one near-dup of the accepted corpus per batch
      val id = 1000L + 3 * b
      in.addData(Seq((id, fam(id, "novel content")), (id + 1, fam(id + 1, "novel content")),
        (id + 2, fam(b % 20L, "accepted corpus body CHANGED"))))
      q.processAllAvailable()
      if (b == Batches / 2) LshIndex.compactIngest(spark, idx)
    } finally q.stop()
    assert(verdicts.get == 3L * Batches)
  }

  test(s"routeAtIngest holds the persistent-RDD set at baseline over $Batches micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = Files.createTempDirectory("graftsoakroute").toFile.getAbsolutePath
    val in = MemoryStream[(Long, Long)]
    val routed = new AtomicLong
    val blobs = Multimodal.pack(in.toDF().toDF("media_id", "seed").withColumn("text",
        concat_ws(" ", (0 until 8).map(j => concat(lit("w"), pmod(col("seed") + j, lit(999)))): _*)),
      "media_id", "text", "raw").select("media_id", "content")
    val q = StreamAggs.routeAtIngest(blobs) { (r, _) => routed.addAndGet(r.count()): Unit }
      .option("checkpointLocation", s"$root/chk").start()
    try soak("routeAtIngest") { b =>
      in.addData((0 until 5).map(j => (b * 5L + j, b * 31L + j)))
      q.processAllAvailable()
    } finally q.stop()
    assert(routed.get == 5L * Batches)
  }
}
