package graft

import graft.ops.Similarity
import graft.ops.Similarity.IvfCodec
import graft.streaming.StreamAggs
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF index's codec is chosen once at build and read back
  * by every append and probe: a rebuild with another codec must read back
  * as the new one, and an append onto a compressed index must write its
  * codes.
  */
class IvfCodecSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def emb(ids: Seq[Long], seed: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame, order: String*): Seq[String] =
    df.orderBy(order.map(col): _*).collect().toSeq.map(_.toString)

  test("a rebuild with another codec reads back as the new codec (SQ→raw, PQ→SQ)") {
    val s = spark
    graft.ops.SqlOps.register(s)
    val dir = Files.createTempDirectory("graftivfrebuild").toFile.getAbsolutePath
    val corpus = emb(0L until 120L, seed = 3)
    val batch = emb(500L until 510L, seed = 5)
    batch.createOrReplaceTempView("ivf_rebuild_batch")
    batch.write.parquet(s"$dir/in")

    def ingestOnce(idx: String, chk: String): Unit = {
      val q = StreamAggs.indexAtIngest(
          s.readStream.schema("vec_id long, embedding array<float>").parquet(s"$dir/in"),
          idx, "vec_id", "embedding")
        .option("checkpointLocation", chk).start()
      try q.processAllAvailable() finally q.stop()
    }
    // every reader sees the rebuilt index exactly as a fresh build of it
    def observed(idx: String, chk: String): Seq[Seq[String]] = {
      val screen = rows(Similarity.semScreen(s, idx, batch, "vec_id", "embedding",
        threshold = 0.2, nprobe = 2, rerank = 4), "vec_id")
      val sql = rows(s.sql(s"""SELECT qid, vec_id, sim, rn FROM ivf_probe('$idx',
        'ivf_rebuild_batch', 'vec_id', 'embedding', 3, 2, 4)"""), "qid", "rn")
      ingestOnce(idx, chk)
      val ingested = rows(s.read.parquet(s"$idx/ingest").drop("b"), "vec_id")
      Seq(screen, sql, ingested)
    }
    for (((first, second), i) <- Seq(
        (IvfCodec.Sq(), IvfCodec.Raw()),
        (IvfCodec.Pq(m = 4, kc = 8), IvfCodec.Sq())).zipWithIndex) {
      val reused = s"$dir/reused$i"
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", reused, nlist = 4,
        codec = first)
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", reused, nlist = 4,
        codec = second)
      val fresh = s"$dir/fresh$i"
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", fresh, nlist = 4,
        codec = second)
      val want = observed(fresh, s"$dir/chk-fresh$i")
      assert(want.forall(_.nonEmpty))
      assert(observed(reused, s"$dir/chk-reused$i") === want,
        s"$first → $second rebuild must read back as a fresh $second build")
    }
  }

  test("appending onto a compressed index writes its codes; exhaustive rerank equals the exact probe") {
    val s = spark
    val dir = Files.createTempDirectory("graftivfappend").toFile.getAbsolutePath
    val corpus = emb(0L until 160L, seed = 11)
    val queries = corpus.filter(col("vec_id") < 5)
    for ((codec, codeCol) <- Seq(IvfCodec.Sq() -> "cq", IvfCodec.Pq(m = 4, kc = 8) -> "code")) {
      val idx = s"$dir/$codeCol"
      Similarity.buildIvfIndex(corpus.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", idx, nlist = 4, codec = codec)
      Similarity.appendToIvfIndex(s, idx, corpus.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
      val cells = s.read.option("mergeSchema", "true").parquet(s"$idx/cells")
      assert(cells.count() === 160L)
      assert(cells.filter(col(codeCol).isNull).count() === 0L,
        s"appended rows must carry the $codeCol column")
      // rerank·k ≥ the corpus: the pre-rank evicts nothing, so the routed
      // probe equals the exact probe over the same cells
      val probed = Similarity.ivfProbe(s, idx, queries, "vec_id", "embedding",
        k = 4, nprobe = 2, rerank = 1000)
      val exact = Similarity.ivfTopKIndexed(s, idx, queries, "vec_id", "embedding",
        k = 4, nprobe = 2)
      assert(rows(probed, "qid", "rn") === rows(exact, "qid", "rn"))
      assert(probed.count() === 5L * 4)
    }
  }
}
