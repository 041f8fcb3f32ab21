package graft

import graft.functions.{cosine_sim, jaccard_sim}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases for the codegen'd similarity expressions. */
class SimExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cosine_sim: known values, null propagation, length mismatch") {
    val df = Seq(
      (1, Some(Seq(1.0, 0.0)), Some(Seq(1.0, 0.0))),   // identical → 1.0
      (2, Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0))),   // orthogonal → 0.0
      (3, Some(Seq(1.0, 0.0)), Some(Seq(-1.0, 0.0))),  // opposite → -1.0
      (4, None, Some(Seq(1.0, 0.0))),                   // null input → null
      (5, Some(Seq(1.0, 0.0, 5.0)), Some(Seq(1.0, 0.0)))) // prefix cosine: extra dims ignored entirely
      .toDF("id", "a", "b")
    val got = df.select($"id", cosine_sim($"a", $"b").as("c")).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1).get == 1.0)
    assert(got(2).get == 0.0)
    assert(got(3).get == -1.0)
    assert(got(4).isEmpty)
    assert(got(5).get == 1.0) // dot, |a|, |b| all over the common prefix
  }

  test("nearest_centroid: winner, rounded ties to lowest index, null propagation") {
    import graft.functions.nearest_centroid
    // centroids: e0, e1, and a DUPLICATE of e0 at index 2 — a rounded-csim
    // tie that must resolve to the lower index (the window form's
    // (csim DESC, cent_id ASC) order with cent_id-sorted rows)
    val mat = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    val df = Seq(
      (1, Some(Seq(0.9, 0.1))),  // → e0 (index 0, not its twin at 2)
      (2, Some(Seq(0.1, 0.9))),  // → e1
      (3, None))                 // null vector → null struct
      .toDF("id", "v")
    val got = df.select($"id",
        nearest_centroid($"v", mat).getField("idx").as("i"),
        nearest_centroid($"v", mat).getField("csim").as("s"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getDouble(2))))).toMap
    assert(got(1).get._1 == 0, "tie with the duplicate centroid keeps index 0")
    assert(got(2).get._1 == 1)
    assert(got(3).isEmpty)
    // csim matches round(cosine_sim, 6) exactly (same arithmetic + rounding)
    val expect = df.filter($"id" === 1)
      .select(round(cosine_sim($"v", lit(Array(1.0, 0.0))), 6)).head().getDouble(0)
    assert(got(1).get._2 == expect)
  }

  test("nearest_centroid elects the same cell as the (csim desc, cent_id) window, every vector") {
    import graft.functions.nearest_centroid
    import graft.ops.Similarity
    import org.apache.spark.sql.expressions.Window
    val emb = spark.range(2000L).select($"id".as("vec_id"),
      array((0 until 16).map(j =>
        (pmod(xxhash64($"id" * 67 + j), lit(1000)) / 500.0 - 1.0)
          .cast("float")): _*).as("embedding"))
    val cents = Similarity.defaultCentroids(emb, "vec_id", "embedding", 8)
    val vecs = emb.select($"vec_id".as("vid"),
      Similarity.asDouble($"embedding").as("ve"))
    // the historical shape: broadcast every centroid, keep row_number 1
    val w = Window.partitionBy($"vid").orderBy($"csim".desc, $"cent_id")
    val windowCells = vecs.join(broadcast(cents), lit(true))
      .withColumn("csim", round(Similarity.cosine($"ve", $"cent"), 6))
      .withColumn("crn", row_number().over(w))
      .filter($"crn" === 1)
      .select($"vid", $"cent_id".as("cw"))
    // the shipped shape: the kernel over the cent_id-sorted matrix
    val rows = cents.orderBy($"cent_id").collect()
    val mat = rows.map(_.getSeq[Double](1).toArray)
    val ids = array(rows.map(r => lit(r.getLong(0))).toIndexedSeq: _*)
    val kernelCells = vecs.select($"vid",
      element_at(ids, nearest_centroid($"ve", mat).getField("idx") + 1).as("ck"))
    val joined = windowCells.join(kernelCells, Seq("vid"))
    assert(joined.count() == 2000)
    assert(joined.filter($"cw" =!= $"ck").count() == 0L)
  }

  test("jaccard_sim: overlap, disjoint, empty") {
    val df = Seq(
      (1, Seq("a", "b", "c"), Seq("b", "c", "d")),  // 2/4
      (2, Seq("a"), Seq("b")),                       // 0/2
      (3, Seq("a", "b"), Seq("a", "b")),             // 1.0
      (4, Seq.empty[String], Seq.empty[String]))     // defined as 0.0
      .toDF("id", "a", "b")
    val got = df.select($"id", jaccard_sim($"a", $"b").as("j")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got == Map(1 -> 0.5, 2 -> 0.0, 3 -> 1.0, 4 -> 0.0))
  }

  test("simhash_packed == the explode/bit-sum aggregate formulation, both widths") {
    // the expression replaced the aggregate form — pin value equivalence
    // against an independent driver-side recomputation from the md5 spec
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a a a b"), (3L, "Zz yY  xX"), (4L, "one"))
      .toDF("doc_id", "text")
    def reference(text: String, width: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sums = new Array[Int](width)
      text.trim.toLowerCase.split("\\s+").foreach { t =>
        val dig = md.digest(t.getBytes("UTF-8"))
        var h = 0L
        (width / 8 - 1) to 0 by -1 foreach { i => h = (h << 8) | (dig(i) & 0xffL) }
        (0 until width).foreach(b =>
          sums(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1))
      }
      (0 until width).map(b => if (sums(b) > 0) 1L << b else 0L).sum
    }
    Seq(32, 64).foreach { w =>
      val got = docs.select($"doc_id", graft.functions.simhash_packed(
          graft.ops.TextAnalysis.tokens($"text"), w).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.collect().foreach { r =>
        assert(got(r.getLong(0)) == reference(r.getString(1), w),
          s"width $w doc ${r.getLong(0)}")
      }
    }
  }

  test("pq_codes == the declarative aggregate/zip_with argmin, ties to lowest, null-safe") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val m = 4
    val sub = 4
    val books = Array.tabulate(m)(_ =>
      Array.tabulate(6)(_ => Array.fill(sub)(rnd.nextGaussian())))
    val vecs = (0L until 200L).map(i => (i, Seq.fill(m * sub)(rnd.nextGaussian())))
    val df = vecs.toDF("vec_id", "v")
    // the declarative twin — EXACTLY the arithmetic the e12/e13 oracles
    // mirror: rounded left-to-right squared-L2 fold per centroid,
    // array_position of array_min (first-wins ties)
    val decl = array(books.indices.map { sIdx =>
      val sl = slice(col("v"), sIdx * sub + 1, sub)
      val dists = array(books(sIdx).map { cent =>
        round(aggregate(zip_with(sl, typedLit(cent.toSeq),
          (a, b) => (a - b) * (a - b)), lit(0d), (acc, x) => acc + x), 6)
      }: _*)
      array_position(dists, array_min(dists)).cast("int")
    }: _*)
    val both = df.select(col("vec_id"),
        graft.functions.pq_codes(col("v"), books).as("kernel"),
        decl.as("decl"))
      .collect()
    both.foreach(r => assert(r.getSeq[Int](1) === r.getSeq[Int](2),
      s"codes diverge for vec ${r.getLong(0)}"))
    // tie to the LOWEST code: duplicate centroid 0 as centroid 3 — a vector
    // equidistant to both must encode to 1, never 4
    val tieBooks = books.map(bs => bs.updated(3, bs(0).clone()))
    val tied = Seq((0L, books.flatMap(_(0)).toSeq)).toDF("vec_id", "v")
      .select(graft.functions.pq_codes(col("v"), tieBooks)).head().getSeq[Int](0)
    assert(tied === Seq.fill(m)(1), s"ties must keep the lowest code: $tied")
    // null vector → null codes
    assert(Seq((0L, Option.empty[Seq[Double]])).toDF("vec_id", "v")
      .select(graft.functions.pq_codes(col("v"), books)).head().isNullAt(0))
  }

  test("expressions evaluate identically with codegen disabled (interpreted path)") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(0.3, -0.7, 2.0), Seq(1.5, 0.2, -0.1),
        Seq("x", "y"), Seq("y", "z"),
        Seq("the", "quick", "brown", "fox", "jumps")))
      .toDF("a", "b", "sa", "sb", "ws")
    val mhA = Seq(1299721L, 50331653L)
    val mhC = Seq(104729L, 15485863L)
    val pqBooks = Array(Array(Array(0.0, 0.0, 0.0), Array(0.3, -0.7, 2.0)))
    def run(): Seq[Any] = {
      val r = df.select(cosine_sim($"a", $"b"), jaccard_sim($"sa", $"sb"),
        graft.functions.simhash_packed($"ws", 64),
        graft.functions.minhash_sigs($"sa", mhA, mhC, 2147483647L),
        graft.functions.minhash_shingle_sigs($"ws", 3, mhA, mhC, 2147483647L),
        graft.functions.pq_codes($"a", pqBooks)).head()
      Seq(r.getDouble(0), r.getDouble(1), r.getLong(2),
        r.getSeq[Long](3), r.getSeq[Long](4), r.getSeq[Int](5))
    }
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      assert(run() == withCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQ8 quantization: exact signed levels, negative values, endpoint clamp") {
    import graft.ops.Similarity
    val corpus = Seq(
      (1L, Seq(0.0f, 7.0f, 10.0f)),
      (2L, Seq(-5.0f, 7.0f, 0.0f)),
      (3L, Seq(10.0f, 7.0f, -5.0f))).toDF("vec_id", "embedding")
    val bounds = Similarity.sqBounds(corpus, "embedding")
    val qv = Similarity.sqQuantize(corpus, "vec_id", "embedding", bounds)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // global scale s = 10: 0→0, ±5→floor(±63.5+0.5)=±63/-63? round-half-up:
    // 5→64, −5→floor(−63.0)=−63; 7→floor(89.4)=89; 10→127 exactly
    assert(qv(1L) === Seq(0L, 89L, 127L))
    assert(qv(2L) === Seq(-63L, 89L, 0L))
    assert(qv(3L) === Seq(127L, 89L, -63L))
    // integer dot ranking for q=vec 1: vec 3 (0·127 + 89·89 + 127·(−63) =
    // −80) beats vec 2 (0·(−63) + 89·89 + 127·0 = 7921)? No — 7921 > −80,
    // so vec 2 ranks first: the signed code preserves true inner-product
    // order (v1·v2 = 49 > v1·v3 = −1)
    val top = Similarity.sqTopK(corpus, corpus.filter($"vec_id" === 1L),
        "vec_id", "embedding", k = 2)
      .orderBy("rn").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(top === Seq((2L, 7921L), (3L, 89L * 89L + 127L * -63L)))
  }

  test("SQ8 top-k: bounds agg is the only corpus shuffle; queries broadcast") {
    import graft.ops.Similarity
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.sqTopK(corpus, corpus.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "quantized queries must broadcast, never shuffle the corpus for the probe")
    // exchanges: bounds agg (corpus + queries quantize against it) and the
    // final per-query top-k window — nothing proportional to corpus² ever
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }
}
