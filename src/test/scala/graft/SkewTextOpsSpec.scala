package graft

import graft.ops.{Dedup, Interval, Sampling, Similarity, Skew, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 operators: salted aggregation, blocklist scrub, bigram stats,
  * generalized label propagation.
  */
class SkewTextOpsSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  // events.parquet carries TIMESTAMP(NANOS) — the w4 query (which reads via
  // SparkEntry's nanos-aware loader) is the integration path; here we only
  // need the numeric columns, so drop ts at scan time via an explicit schema
  private def events0: org.apache.spark.sql.DataFrame =
    spark.read.schema("event_id long, user_id long, event_type string, value double")
      .parquet("/root/testdata/sf0.001/events.parquet")

  test("salted aggregation equals the plain aggregate (algebraic property)") {
    val ev = events0.withColumn("__v", col("value").cast("decimal(18,6)"))
    val salted = Skew.saltedSumCount(ev, "event_type", "__v",
        saltExpr = pmod(col("user_id"), lit(16)), salts = 16)
      .orderBy("event_type").collect().toSeq
    val plain = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_rows"), sum(col("__v")).as("total"))
      .orderBy("event_type").collect().toSeq
    assert(salted === plain)
  }

  test("salted aggregation has exactly two exchanges (salt phase + combine)") {
    val ev = events0
    val p = Skew.saltedSumCount(ev, "event_type", "value",
      pmod(col("user_id"), lit(8)), 8).queryExecution.executedPlan.toString
    assert("Exchange hash".r.findAllIn(p).size === 2)
  }

  test("blocklist scrub redacts word-boundary hits and counts them") {
    val df = spark.createDataFrame(
      Seq((1, "The Spark sparkles near the customer"), (2, "no hits here")))
      .toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.blocklistHits(col("text"), Seq("spark", "customer")).as("hits"),
      TextAnalysis.blocklistScrub(col("text"), Seq("spark", "customer")).as("scrubbed"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) === 2L, "exact-token hits: 'spark' + 'customer', not 'sparkles'")
    assert(out(0).getString(2) === "the [X] sparkles near the [X]",
      "word-boundary match: 'sparkles' must survive, case-normalized text scrubbed")
    assert(out(1).getLong(1) === 0L)
    assert(out(1).getString(2) === "no hits here")
  }

  test("blocklist terms must be plain words") {
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistScrub(lit("x"), Seq("a|b"))
    }
  }

  test("multi-table LSH recall dominates single-table recall (OR-construction)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = graft.ops.Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 3)
      .localCheckpoint() // consumed by both recall computations
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      graft.ops.Similarity.recallAtK(exact, approx, 3)
        .agg(avg(col("recall"))).head().getDouble(0)
    val single = meanRecall(graft.ops.Similarity.signLshTopK(
      emb, queries, "vec_id", "embedding", k = 3, bits = 8))
    val multi = meanRecall(graft.ops.Similarity.signLshTopKMulti(
      emb, queries, "vec_id", "embedding", k = 3, bits = 8, tables = 4))
    assert(multi >= single, s"OR-construction must not lose recall: $multi < $single")
    assert(multi > 0.0, "4 tables over 32 dims must recover something")
  }

  test("kmeans refinement recovers true cluster directions from a degenerate seed") {
    // 4 well-separated direction clusters × 100 points, deterministic jitter.
    // ivfTopK's deterministic seed (first nlist by id) lands ENTIRELY inside
    // cluster 0 — the worst case for IVF cells. Lloyd iterations must escape
    // it; on isotropic data (the e3/e5 corpus) refinement is a measured wash,
    // so the clustered corpus is where this operator earns its keep.
    val pts = for { c <- 0 until 4; j <- 0 until 100 } yield {
      val v = Array.tabulate(8)(d => if (d == c) 1.0f else 0.0f)
      v(4 + j % 3) = 0.05f + 0.01f * (j % 7) // shared-dim jitter, deterministic
      (c * 100 + j, v.toSeq)
    }
    val emb = spark.createDataFrame(pts).toDF("vec_id", "embedding")
    val cents1 = graft.ops.Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      nlist = 4, iters = 3)
    val cents2 = graft.ops.Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      nlist = 4, iters = 3)
    assert(cents1.orderBy("cent_id").collect().toSeq ===
      cents2.orderBy("cent_id").collect().toSeq, "Lloyd refinement must be deterministic")
    // each true direction must have a refined centroid at cosine > 0.9;
    // the unrefined seed (4 near-identical cluster-0 points) covers only c=0
    def coverage(cents: org.apache.spark.sql.DataFrame): Seq[Int] = {
      val cs = cents.collect().map(_.getSeq[Double](1))
      (0 until 4).filter { c =>
        cs.exists { cent =>
          val dot = cent(c)
          val norm = math.sqrt(cent.map(x => x * x).sum)
          dot / norm > 0.9
        }
      }
    }
    val seed = emb.orderBy("vec_id").limit(4)
      .select(col("vec_id").cast("long").as("cent_id"),
        graft.ops.Similarity.asDouble(col("embedding")).as("cent"))
    val seedCov = coverage(seed)
    val refinedCov = coverage(cents1)
    info(s"direction coverage: seed=$seedCov refined=$refinedCov")
    assert(seedCov === Seq(0), "degenerate seed covers only cluster 0")
    assert(refinedCov === Seq(0, 1, 2, 3), "refinement must recover all four directions")
  }

  test("as-of join: latest right row at-or-before each left row, per key") {
    val left = spark.createDataFrame(Seq(
      (1, "k1", 10L), (2, "k1", 20L), (3, "k1", 5L), (4, "k2", 50L)))
      .toDF("lid", "k", "t")
    val right = spark.createDataFrame(Seq(
      (101, "k1", 10L, 1.0), (102, "k1", 15L, 2.0), (103, "k2", 60L, 3.0)))
      .toDF("rid", "k", "t", "v")
    val out = graft.ops.AsOf.asofJoin(left, right, "k", "t", "t",
        valueCols = Seq("rid", "v"), rightOrd = "rid")
      .orderBy("lid").collect()
    // lid=1 t=10: equal-ts right row 101 matches (<= bound)
    assert(out(0).getInt(3) === 101 && out(0).getDouble(4) === 1.0)
    // lid=2 t=20: latest preceding is 102 (t=15)
    assert(out(1).getInt(3) === 102)
    // lid=3 t=5: nothing precedes -> nulls
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
    // lid=4 k2 t=50: right t=60 is in the future -> null
    assert(out(3).isNullAt(3))
  }

  test("as-of join matches the brute-force definition on randomized data") {
    // deterministic pseudo-random corpus; the brute force is the definition:
    // for each left row, the right row maximizing (t, rid) with t <= left.t
    val rnd = new scala.util.Random(4242)
    val leftRows = (1 to 120).map(i => (i, s"k${rnd.nextInt(6)}", rnd.nextInt(40).toLong))
    val rightRows = (1 to 80).map(i => (i + 1000, s"k${rnd.nextInt(6)}", rnd.nextInt(40).toLong, rnd.nextDouble()))
    val left = spark.createDataFrame(leftRows).toDF("lid", "k", "t")
    val right = spark.createDataFrame(rightRows).toDF("rid", "k", "t", "v")
    val out = graft.ops.AsOf.asofJoin(left, right, "k", "t", "t", Seq("rid"), "rid")
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
    val rightByKey = rightRows.groupBy(_._2)
    leftRows.foreach { case (lid, k, t) =>
      val expect = rightByKey.getOrElse(k, Seq.empty)
        .filter(_._3 <= t)
        .sortBy(r => (r._3, r._1.toString)) // same (t, ord-string) order as the operator
        .lastOption.map(_._1)
      assert(out(lid) === expect, s"lid=$lid k=$k t=$t")
    }
  }

  test("as-of join shuffles once (no range-join explosion)") {
    val left = spark.range(100).select(col("id").as("lid"),
      (col("id") % 5).as("k"), col("id").as("t"))
    val right = spark.range(50).select(col("id").as("rid"),
      (col("id") % 5).as("k"), col("id").as("t"), lit(1.0).as("v"))
    val p = graft.ops.AsOf.asofJoin(left, right, "k", "t", "t", Seq("rid"), "rid")
      .queryExecution.executedPlan.toString
    assert("Exchange hash".r.findAllIn(p).size === 1, p.take(1500))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("semdedup pairs only within cells and keeps the least-central copy") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // cell c0, csim 1.0
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // cell c0, near-dup of 1, csim ~.994
      (3L, Array(0.6f, 0.55f, 0.0f, 0.0f)),  // cell c0, below threshold → singleton
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)))   // cell c1, singleton
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (100L, Array(1.0, 0.0, 0.0, 0.0)),
      (101L, Array(0.0, 1.0, 0.0, 0.0))).toDF("cent_id", "cent")
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
        threshold = 0.9, centroids = Some(cents))
      .orderBy("vec_id").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(100L, 100L, 100L, 101L), "cells")
    assert(out.map(_.getLong(3)).toSeq === Seq(1L, 1L, 3L, 4L), "components")
    assert(out.map(_.getBoolean(4)).toSeq === Seq(false, true, true, true),
      "dup group keeps the copy FARTHEST from its centroid; singletons survive")
    // exactly one survivor per component, and the unmaterialized (100 TB)
    // cell path is semantically identical
    val lazyOut = Similarity.semDedup(emb, "vec_id", "embedding",
        threshold = 0.9, centroids = Some(cents), materializeCells = false)
      .orderBy("vec_id").collect()
    assert(lazyOut.map(_.toSeq) === out.map(_.toSeq))
    // the exact (connected-components) path wires the same cells/pairs and
    // must agree with fixed-round propagation on these shallow clusters
    val exactOut = Similarity.semDedup(emb, "vec_id", "embedding",
        threshold = 0.9, centroids = Some(cents), exact = true)
      .orderBy("vec_id").collect()
    assert(exactOut.map(_.toSeq) === out.map(_.toSeq))
  }

  test("label propagation finds min-label components on a hand graph") {
    // components: {1,2,3} (chain), {4,5}, {6} isolated
    val nodes = spark.createDataFrame(Seq(Tuple1(1), Tuple1(2), Tuple1(3),
      Tuple1(4), Tuple1(5), Tuple1(6))).toDF("node")
    val pairs = spark.createDataFrame(Seq((1, 2), (2, 3), (4, 5)))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.labelPropagation(nodes, pairs, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(labels === Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 4, 6 -> 6))
  }

  test("driver-local farthest-first seeding == distributed form, bit for bit") {
    val s = spark
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(150)
    val dist = graft.ops.Similarity.farthestFirstCentroids(emb, "vec_id", "embedding", 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
    val local = graft.ops.Similarity.farthestFirstCentroidsLocal(emb, "vec_id", "embedding", 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
    assert(local.toList == dist.toList)
  }

  test("SRP recall model matches empirical banding collision rates") {
    // srpCandidateRecall is the documented cosinePairs contract — verify it
    // against Monte-Carlo collisions of the REAL seeded hyperplane family
    // at three regimes: near-dup (high recall), mid (falling), low (≈0).
    val bits = 8; val tables = 4; val dims = 64
    val signs = graft.ops.Similarity.srpSigns(123L, tables, bits, dims)
    val rnd = new scala.util.Random(7)
    def randUnit(): Array[Double] = {
      val v = Array.fill(dims)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def rotate(a: Array[Double], theta: Double): Array[Double] = {
      val r = randUnit()
      val proj = a.indices.map(i => a(i) * r(i)).sum
      val o0 = a.indices.map(i => r(i) - proj * a(i)).toArray
      val n = math.sqrt(o0.map(x => x * x).sum); val o = o0.map(_ / n)
      a.indices.map(i => a(i) * math.cos(theta) + o(i) * math.sin(theta)).toArray
    }
    def buckets(v: Array[Double]): Seq[Int] =
      signs.toSeq.map(tbl => tbl.foldLeft(0) { (acc, hyp) =>
        val d = v.indices.map(i => hyp(i) * v(i)).sum
        (acc << 1) | (if (d > 0) 1 else 0)
      })
    Seq(0.99, 0.9, 0.5).foreach { cos =>
      val theta = math.acos(cos)
      val trials = 2000
      val hits = (1 to trials).count { _ =>
        val a = randUnit(); val b = rotate(a, theta)
        buckets(a).zip(buckets(b)).exists { case (x, y) => x == y }
      }
      val model = graft.ops.Similarity.srpCandidateRecall(cos, bits, tables)
      val emp = hits.toDouble / trials
      assert(math.abs(emp - model) < 0.05, s"cos=$cos model=$model empirical=$emp")
    }
    // the sizing helper lands on the d5/d7 production defaults, and refuses
    // the low-threshold regime where banding is the wrong tool
    assert(graft.ops.Similarity.srpTablesFor(0.99, bits = 16) == 8)
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.srpTablesFor(0.15, bits = 16)
    }
  }

  test("simhash banded pairs == brute-force pairs (pigeonhole recall is total)") {
    val s = spark
    import s.implicits._
    // full sf0.001 corpus: 64-bit near-dup pairs are sparser than the old
    // 32-bit ones, and a 200-doc slice can land empty (brute force over 500
    // fingerprints is 125k driver-side pairs — trivial)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the 500 fingerprints (64-bit — the banded width)
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(banded == brute && brute.nonEmpty)
  }

  test("chunking reconstructs the document; packing respects the token budget") {
    val s = spark
    import s.implicits._
    val text = (1 to 47).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text, "s0")).toDF("doc_id", "text", "source")

    val chunks = graft.ops.TextAnalysis.chunk(docs, "doc_id", "text",
      chunkTokens = 20, overlap = 5).orderBy("chunk_no").collect()
    // stride 15 over 47 tokens → starts 0,15,30,45 → 4 chunks
    assert(chunks.length == 4)
    assert(chunks.map(_.getAs[Long]("n_tokens")).toSeq == Seq(20L, 20L, 17L, 2L))
    // consecutive chunks overlap by 5 tokens; stitching strides recovers the doc
    val toks = chunks.map(_.getAs[String]("chunk").split(" ").toSeq)
    assert(toks(0).takeRight(5) == toks(1).take(5))
    assert((toks(0) ++ toks(1).drop(5) ++ toks(2).drop(5) ++ toks(3).drop(5))
      .mkString(" ") == text)

    // packing: bins advance when the running count crosses the budget, and
    // every bin's exclusive-prefix start is inside its own budget window
    val many = (1L to 40L).map(i => (i, (1 to 30).map(j => s"x$j").mkString(" "), "s0"))
      .toDF("doc_id", "text", "source")
    val packed = graft.ops.TextAnalysis.packSequences(many, "doc_id", "text",
      "source", budgetTokens = 100).collect()
    // 30 tokens each, budget 100 → bin = floor(exclusive-prefix / 100) exactly
    packed.foreach { r =>
      val i = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_tokens") == 30L)
      assert(r.getAs[Long]("bin") == (i - 1) * 30 / 100, s"doc $i")
    }
  }

  test("bloom-screened containment is bit-identical to the broadcast screen") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(99)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = (0L until 120L).map(i => (i, doc(6 + rnd.nextInt(20)))).toDF("doc_id", "text")
    val probes = (200L until 215L).map(i => (i, doc(5 + rnd.nextInt(10)))).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val exact = norm(Dedup.containment(corpus, probes, "doc_id", "text",
      threshold = 0.3))
    val bloomed = norm(Dedup.containmentBloom(corpus, probes, "doc_id", "text",
      threshold = 0.3))
    assert(exact.nonEmpty, "fixture must produce real containment hits")
    assert(bloomed === exact, "bloom stage must only prune, never change results")
    // the prefilter is really in the plan: a bloom probe over a scalar
    // subquery guards the corpus shingle rows before any join
    val p = Dedup.containmentBloom(corpus, probes, "doc_id", "text", threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(p.contains("might_contain") && p.contains("Subquery"),
      s"expected a bloom scalar-subquery prefilter in:\n${p.take(1500)}")
  }

  test("containment: probe fully quoted in a larger doc scores 1.0 (asymmetric)") {
    val s = spark
    import s.implicits._
    val probe = "alpha beta gamma delta epsilon"
    val corpus = Seq(
      (1L, s"lots of framing text before the quote $probe and plenty of trailing text after it"),
      (2L, "completely unrelated content with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val probes = Seq((100L, probe)).toDF("doc_id", "text")
    val got = Dedup.containment(corpus, probes, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    // every probe shingle appears in doc 1 → containment 1.0; doc 2 absent
    assert(got == Set((1L, 100L, 1.0)))

    // tfidf: salient term of each doc is its distinctive token, k rows per doc
    val docs = Seq((1L, "zebra zebra common"), (2L, "quill quill common"))
      .toDF("doc_id", "text")
    val top = graft.ops.TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top == Map(1L -> "zebra", 2L -> "quill"))
  }

  test("LSH bucket cap drops only oversized buckets; other-band collisions survive") {
    val s = spark
    import s.implicits._
    // 30 docs sharing one boilerplate text (one giant bucket in every band)
    // plus a genuine near-dup pair of distinct text
    val boiler = (1L to 30L).map(i => (i, "copyright header all rights reserved " +
      "licensed under the apache license version two"))
    val pair = Seq(
      (101L, "the quick brown fox jumps over the lazy dog tonight"),
      (102L, "the quick brown fox jumps over the lazy dog today"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")

    val unCapped = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate expands quadratically: 30*29/2 pairs + the planted pair
    assert(unCapped.size == 30 * 29 / 2 + 1)

    val capped = Dedup.lshCandidatePairs(docs, "doc_id", "text",
      maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 30-doc buckets are dropped in every band; the pair's buckets are
    // size 2 and survive
    assert(capped == Set((101L, 102L)))
  }

  test("hash sampling: deterministic, partition-stable, rate-accurate, split-consistent") {
    val s = spark
    import s.implicits._
    import graft.ops.Sampling
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    // deterministic and stable under repartitioning: identical id sets
    val a = Sampling.hashSample(docs, "doc_id", 0.3, salt = "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs.repartition(13), "doc_id", 0.3, salt = "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
    // rate lands near 30% (hash uniformity; 500 docs → generous bounds)
    assert(a.size > 100 && a.size < 200, s"got ${a.size}")
    // a different salt gives an (almost surely) different sample
    val c = Sampling.hashSample(docs, "doc_id", 0.3, salt = "y")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a != c)

    // stratified: rate-1.0 stratum kept whole, rate-0 stratum dropped
    val strat = Sampling.hashSampleBy(docs, "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.2, salt = "m")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(strat("src0") == 25 && !strat.contains("src1"))

    // split assignment: total partition, weights respected, and the SAME id
    // maps to the same split from a different table carrying the same key
    val split = Sampling.assignSplit(docs, "doc_id", salt = "sp")
    val byId = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.size == 500)
    val n = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 350 && n("val") > 20 && n("test") > 20)
    val other = Sampling.assignSplit(
      docs.select($"doc_id", $"n_chars"), "doc_id", salt = "sp")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(other == byId)
  }

  test("span dedup keeps first global occurrence, rebuilds text in order") {
    val s = spark
    import s.implicits._
    // doc 1: two spans; doc 2 repeats doc 1's first span (must drop) and has
    // one unique span; doc 3 is entirely doc 1 (drops both spans → null)
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", spanTokens = 3)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 2L, 2L), "n_spans")
    assert(out.map(_.getLong(2)).toSeq === Seq(0L, 1L, 2L), "n_dropped")
    assert(out(0).getString(3) === "a b c d e f")
    assert(out(1).getString(3) === "x y z", "repeated leading span removed")
    assert(out(2).isNullAt(3), "fully-duplicated doc ends empty")
    // within-doc repetition: second identical span also drops
    val rep = Dedup.spanDedup(Seq((7L, "p q r p q r")).toDF("doc_id", "text"),
      "doc_id", "text", spanTokens = 3).collect()(0)
    assert(rep.getLong(2) === 1L && rep.getString(3) === "p q r")
  }

  test("substring dedup excises overlapping duplicate windows, keeps canonical") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j"),       // canonical source of "a..h"
      (2L, "x y a b c d e f g h z"),     // dup window at pos 2 → drop 2..9
      (3L, "q a b c d e f g h i j"),     // 3 overlapping dup windows → union 1..10
      (4L, "m n o p q r s t m n o p q r s t"), // within-doc repeat: 2nd half drops
      (5L, "too short"))                 // < k tokens: no windows, fully kept
      .toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", windowTokens = 8)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(10L, 11L, 11L, 16L, 2L), "n_tokens")
    assert(out(0).getLong(2) === 0L && out(0).getString(3) === "a b c d e f g h i j",
      "canonical occurrence survives intact")
    assert(out(1).getLong(2) === 8L && out(1).getString(3) === "x y z",
      "single dup window removes exactly its covered positions")
    assert(out(2).getLong(2) === 10L && out(2).getString(3) === "q",
      "overlapping dup windows merge at position level")
    assert(out(3).getLong(2) === 8L && out(3).getString(3) === "m n o p q r s t",
      "within-doc repetition keeps the first run only")
    assert(out(4).getLong(2) === 0L && out(4).getString(3) === "too short")
  }

  test("substring dedup matches the brute-force definition on randomized corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "b", "c")
    val docs = (0L until 50L).map { id =>
      val n = 1 + rnd.nextInt(14)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val k = 3
    val all = docs.flatMap { case (id, text) =>
      val ws = text.split("\\s+")
      (0 to ws.length - k).map(st => (id, st, ws.slice(st, st + k).mkString(" ")))
    }
    val byWin = all.groupBy(_._3)
    val firstOf = byWin.view.mapValues(_.minBy(x => (x._1, x._2))).toMap
    val expect = docs.map { case (id, text) =>
      val ws = text.split("\\s+")
      val dropped = all.filter { case (i, st, w) =>
        i == id && byWin(w).size > 1 && firstOf(w) != ((i, st, w))
      }.flatMap { case (_, st, _) => st until st + k }.toSet
      val kept = ws.indices.filterNot(dropped).map(ws)
      id -> (ws.length.toLong, dropped.size.toLong,
        if (kept.isEmpty) null else kept.mkString(" "))
    }.toMap
    val got = Dedup.substringDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getString(3)))
      .toMap
    assert(got === expect)
  }

  test("incremental dedup flags batch docs near-duplicating the corpus") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely unrelated corpus text about spark physical plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 10
      (21L, "fresh new content with no counterpart anywhere at all"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        threshold = 0.2).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(20L, 21L))
    assert(!out(0).getBoolean(1) && out(0).getLong(2) === 10L,
      "near-dup batch doc matched to its corpus source")
    assert(out(1).getBoolean(1) && out(1).isNullAt(2), "novel doc is new")
    // corpus docs never pair with each other: output covers the batch only
    assert(out.length === 2)
  }

  test("mixture sampling hits the budget with temperature-flattened weights") {
    val s = spark
    import s.implicits._
    // 3 domains with very skewed token mass: big=40k, mid=4k, rare=400
    // (2000/200/20 docs × 20 tokens each)
    val text = Seq.fill(20)("w").mkString(" ")
    val docs = ((0L until 2000L).map(i => (i, "big", text)) ++
      (0L until 200L).map(i => (3000L + i, "mid", text)) ++
      (0L until 20L).map(i => (4000L + i, "rare", text)))
      .toDF("doc_id", "source", "text")
    val tokc = graft.ops.TextAnalysis.tokenCount(col("text"))
    val out = Sampling.mixtureSample(docs, "doc_id", "source", tokc,
      budgetTokens = 8000, alpha = 0.5, salt = "t")
    val byDom = out.groupBy("source")
      .agg(sum("n_tok").as("tok"), max("rate").as("rate")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // α=0.5 weights ∝ sqrt(T): w=(200,63.2,20)/283.2 → expected token mass
    // ≈ budget·w = (5650, 1786, 565); rare exceeds its proportional share
    // (400/44400·8000 = 72 tokens) by design, capped at rate 1.0
    assert(byDom("rare")._2 == 1.0, "rare domain keeps everything (rate capped)")
    assert(byDom("rare")._1 == 400L)
    assert(byDom("big")._2 < 0.2 && byDom("big")._1 > 4000L && byDom("big")._1 < 7000L,
      s"big domain downsampled toward its smoothed share: $byDom")
    assert(byDom("mid")._2 > byDom("big")._2,
      "smaller domain gets the higher keep-rate under α<1")
    // α=1 is proportional: every domain gets the same rate
    val prop = Sampling.mixtureSample(docs, "doc_id", "source", tokc,
        budgetTokens = 8000, alpha = 1.0, salt = "t")
      .select("rate").distinct().collect().map(_.getDouble(0))
    assert(prop.length == 1 && math.abs(prop(0) - 8000.0 / 44400) < 1e-6)
    // deterministic and repartition-stable
    val a = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.mixtureSample(docs.repartition(13), "doc_id", "source",
      tokc, 8000, 0.5, "t").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("per-key cap keeps a deterministic hash-ranked subset") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val capped = Sampling.capPerKey(docs, "doc_id", "source", cap = 3, salt = "c")
    val perKey = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey.values.forall(_ <= 3) && perKey.size == 20)
    // deterministic and order-independent
    val a = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.capPerKey(docs.repartition(17), "doc_id", "source", 3, "c")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 60)
  }

  test("span dedup matches the brute-force definition on randomized corpora") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random docs over a tiny vocabulary → heavy span
    // collisions both within and across documents
    val rnd = new scala.util.Random(1337)
    val vocab = Vector("a", "b", "c", "d")
    val docs = (0L until 60L).map { id =>
      val n = 3 + rnd.nextInt(12)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val span = 3
    // brute force: global first occurrence by (doc_id, pos) over the same
    // fixed token windows
    val allSpans = docs.flatMap { case (id, text) =>
      text.split("\\s+").grouped(span).zipWithIndex
        .map { case (w, pos) => (id, pos, w.mkString(" ")) }
    }
    val firstOf = allSpans.groupBy(_._3).view
      .mapValues(_.minBy(x => (x._1, x._2))).toMap
    val expect = allSpans.groupBy(_._1).map { case (id, ss) =>
      val kept = ss.sortBy(_._2).filter(x => firstOf(x._3) == x)
      id -> (ss.size.toLong, (ss.size - kept.size).toLong,
        if (kept.isEmpty) null else kept.map(_._3).mkString(" "))
    }
    val got = Dedup.spanDedup(docs.toDF("doc_id", "text"), "doc_id", "text", span)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getString(3)))
      .toMap
    assert(got === expect)
  }

  test("incremental dedup is sound always, complete on near-identical dups") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = (0L until 40L).map(i => (i, doc(8 + rnd.nextInt(8))))
    // batch: 10 exact copies of corpus docs (J = 1 → every band collides,
    // LSH recall deterministic) + 10 fresh random docs
    val batch = (0L until 10L).map(i => (100L + i, corpus(i.toInt * 3)._2)) ++
      (0L until 10L).map(i => (200L + i, doc(8 + rnd.nextInt(8))))
    val out = Dedup.incrementalDedup(corpus.toDF("doc_id", "text"),
        batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) null else r.getLong(2))).toMap
    assert(out.size === batch.size, "one verdict per batch doc")
    def shingleSet(t: String) =
      t.split("\\s+").sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    def jac(a: Set[String], b: Set[String]) =
      if (a.isEmpty && b.isEmpty) 0.0
      else (a & b).size.toDouble / (a | b).size
    val corpusSets = corpus.map { case (id, t) => id -> shingleSet(t) }.toMap
    // soundness: every flagged match is a genuine >=threshold pair
    out.foreach { case (bid, (isNew, matchId)) =>
      if (!isNew) {
        val bt = batch.find(_._1 == bid).get._2
        assert(jac(shingleSet(bt), corpusSets(matchId.asInstanceOf[Long])) >= 0.5 - 1e-9,
          s"batch $bid flagged against $matchId below threshold")
      }
    }
    // completeness on the planted exact copies: all flagged, and the min
    // matching corpus id is the true minimum over >=threshold partners
    (0L until 10L).foreach { i =>
      val (isNew, matchId) = out(100L + i)
      assert(!isNew, s"exact copy ${100 + i} must be flagged")
      val bs = shingleSet(corpus(i.toInt * 3)._2)
      val trueMin = corpus.filter(c => jac(bs, corpusSets(c._1)) >= 0.5)
        .map(_._1).min
      // LSH may miss sub-threshold-band partners, but an exact copy shares
      // EVERY band with its source, so the min over verified candidates can
      // only be <= the source id; assert it equals the brute-force min when
      // that min is the source itself
      if (trueMin == i * 3) assert(matchId === trueMin)
    }
  }

  test("x1 approx-distinct sketches land within the advertised error bound") {
    // x1 is rows-only at the oracle gate (DuckDB's HLL differs bit-wise by
    // design); this pins the ACCURACY contract instead: every per-group
    // estimate within 3× the configured rsd of the exact count.
    val ev = events0
    val got = ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("a_users"), // default rsd 0.05
        approx_count_distinct(col("event_id"), 0.01).as("a_events"),
        countDistinct(col("user_id")).as("x_users"),
        countDistinct(col("event_id")).as("x_events"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (au, ae, xu, xe) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(math.abs(au - xu).toDouble / xu <= 3 * 0.05,
        s"${r.getString(0)}: approx users $au vs exact $xu")
      assert(math.abs(ae - xe).toDouble / xe <= 3 * 0.01,
        s"${r.getString(0)}: approx events $ae vs exact $xe")
    }
  }

  test("pii redaction replaces emails, phones and IPs with typed tags") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "reach me at jane.doe+spam@corp.example.org or 555-867-5309 from 192.168.1.1"),
      (2L, "no pii in this row; version 1.2 is not an ip, 12-34 not a phone"))
      .toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.piiEmailCount(col("text")).as("e"),
      TextAnalysis.piiPhoneCount(col("text")).as("p"),
      TextAnalysis.piiIpCount(col("text")).as("i"),
      TextAnalysis.piiRedact(col("text")).as("red")).orderBy("id").collect()
    assert((out(0).getLong(1), out(0).getLong(2), out(0).getLong(3)) === ((1L, 1L, 1L)))
    assert(out(0).getString(4) ===
      "reach me at [EMAIL] or [PHONE] from [IP]")
    assert((out(1).getLong(1), out(1).getLong(2), out(1).getLong(3)) === ((0L, 0L, 0L)))
    assert(out(1).getString(4) ===
      "no pii in this row; version 1.2 is not an ip, 12-34 not a phone",
      "near-miss patterns must survive untouched")
  }

  test("persisted IVF index: build+append roundtrip equals the one-shot ivfTopK") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graftivf").toFile.getAbsolutePath
    val cents = graft.ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 6)
    // build on one half, append the other: assignments against the SAME
    // persisted centroids must make the roundtrip indistinguishable from a
    // one-shot in-memory IVF over the full corpus
    graft.ops.Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idx, nlist = 6, centroids = Some(cents))
    graft.ops.Similarity.appendToIvfIndex(s, idx,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val indexed = graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 2)
    val oneShot = graft.ops.Similarity.ivfTopK(emb, queries,
      "vec_id", "embedding", k = 4, nlist = 6, nprobe = 2,
      centroids = Some(cents))
    val a = indexed.orderBy("qid", "rn").collect().toSeq
    val b = oneShot.orderBy("qid", "rn").collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
    // the cell table is partitioned on the cell id, and the probe join
    // carries a dynamic-pruning subquery on it: unprobed cells' files are
    // skipped at the parquet level, so query cost scales with nprobe/nlist
    val cellDirs = new java.io.File(s"$idx/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cellDirs.size > 1, s"expected multiple cell partitions, got $cellDirs")
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "the probe must prune cell partitions dynamically:\n" + plan.take(2000))
  }

  test("matryoshka depth feeds the index build: e20's chosen depth holds its recall on the persisted artifact") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    // MRL-style fixture: leading components carry most of the signal
    // (decaying scale), so the decision table picks a real prefix
    val dims = 32
    val emb = (0L until 300L).map { i =>
      (i, Array.tabulate(dims)(j =>
        (rnd.nextGaussian() / math.sqrt(1.0 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
    // the e20 dashboard: recall per candidate depth against full-dim truth
    val table = graft.ops.Similarity.matryoshkaRecall(emb, queries,
        "vec_id", "embedding", k = 5, dims = Seq(4, 8, 16))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    // choose the smallest depth whose dashboard recall clears 0.6 — the
    // decision a release would make from e20's output
    val depth = Seq(4, 8, 16).find(table(_) >= 0.6).get
    val idx = java.nio.file.Files.createTempDirectory("graftmrl")
      .toFile.getAbsolutePath
    graft.ops.Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idx, nlist = 6,
      codec = graft.ops.Similarity.IvfCodec.Raw(depth = Some(depth)))
    // appends AUTO-truncate to the stored dimensionality (the depth rides
    // the centroid geometry — no side metadata)
    graft.ops.Similarity.appendToIvfIndex(s, idx,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    // the storage claim: every persisted row (build AND append) holds
    // exactly the prefix, and so do the centroids
    val storedLens = s.read.parquet(s"$idx/cells")
      .select(size(col("ce"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(storedLens === Seq(depth), s"stored vectors must hold exactly $depth dims")
    assert(s.read.parquet(s"$idx/centroids").select(size(col("cent")))
      .distinct().collect().map(_.getInt(0)).toSeq === Seq(depth))
    // the recall claim, verified on the ARTIFACT: a full-cell probe of the
    // truncated index is exactly the truncated exact top-k, so its recall
    // against full-dim truth must equal the dashboard's number
    val truth = graft.ops.Similarity.cosineTopK(emb, queries,
        "vec_id", "embedding", 5)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    val approx = graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 6)
    val recall = approx.select(col("qid"), col("vec_id"))
      .join(broadcast(truth), Seq("qid", "vec_id"), "left")
      .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r"))
      .head.getDouble(0)
    assert(math.abs(recall - table(depth)) < 1e-9,
      s"persisted-index recall $recall must equal the e20 dashboard's ${table(depth)}")
    // and the dashboard's monotone story holds on this fixture (sanity
    // that the chosen depth was a real decision, not the full dimension)
    assert(depth < dims && table(4) <= table(16) + 1e-9)
  }

  test("IVF auto-nprobe: the occupancy census picks the width; a swallowed-corpus cell refuses") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // DIFFERENTIATED corpus: gaussian vectors spread over 6 cells — the
    // auto gate passes through with a census-chosen width, and the probe
    // at that width equals the explicit-nprobe probe exactly
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graftivfauto")
      .toFile.getAbsolutePath
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nlist = 6)
    val np = graft.ops.Similarity.ivfNprobeAuto(s, idx, maxScannedPerProbe = 100L)
    assert(np.exists(p => p >= 1 && p < 6), s"census width, got $np")
    // the budget rule itself: prefix sums of occupancy descending
    val sizes = s.read.parquet(s"$idx/cells").groupBy("cell").count()
      .collect().map(_.getLong(1)).sortBy(-_)
    val want = sizes.scanLeft(0L)(_ + _).tail.count(_ <= 100L)
    assert(np === Some(want))
    val auto = graft.ops.Similarity.ivfTopKIndexedAuto(s, idx, queries,
      "vec_id", "embedding", k = 4, maxScannedPerProbe = 100L)
    assert(auto.select("nprobe").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(want))
    val explicit = graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = want)
    assert(auto.drop("nprobe").orderBy("qid", "rn").collect().toSeq ===
      explicit.orderBy("qid", "rn").collect().toSeq)
    // DEGENERATE corpus: every vector identical → one cell swallows it →
    // even nprobe = 1 blows the budget → the gate refuses BEFORE the
    // probe, naming the recluster remedy
    val dense = (0L until 200L).map(i =>
      (i, Array.fill(16)(1.0f))).toDF("vec_id", "embedding")
    val idx2 = java.nio.file.Files.createTempDirectory("graftivfdense")
      .toFile.getAbsolutePath
    graft.ops.Similarity.buildIvfIndex(dense, "vec_id", "embedding", idx2, nlist = 6)
    assert(graft.ops.Similarity.ivfNprobeAuto(s, idx2, 100L).isEmpty)
    val e = intercept[IllegalStateException] {
      graft.ops.Similarity.ivfTopKIndexedAuto(s, idx2, dense.filter(col("vec_id") < 2),
        "vec_id", "embedding", k = 2, maxScannedPerProbe = 100L)
    }
    assert(e.getMessage.contains("recluster"), e.getMessage)
  }

  test("IVF-SQ8 index: exhaustive rerank equals the float probe; scans stay pruned") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graftivfsq")
      .toFile.getAbsolutePath
    val cents = graft.ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 6)
    // build on evens, append odds: scale AND centroids freeze at build, so
    // odd vectors quantize (and clamp) against the even-half scale
    graft.ops.Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idx, nlist = 6, centroids = Some(cents),
      codec = graft.ops.Similarity.IvfCodec.Sq())
    graft.ops.Similarity.appendToIvfIndex(s, idx,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    // rerank·k ≥ the full corpus ⇒ every in-cell candidate is exact-rescored
    // and the compressed-domain pre-rank cannot evict anything: the output
    // must be IDENTICAL to the float probe over the same index
    val sq = graft.ops.Similarity.ivfProbe(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 2, rerank = 100)
    val float = graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 2)
    val a = sq.orderBy("qid", "rn").collect().toSeq
    val b = float.orderBy("qid", "rn").collect().toSeq
    assert(a === b)
    assert(a.size === 5 * 4)
    // at a REALISTIC rerank the output is still exact cosines of surviving
    // candidates: every row must appear in the float probe's full ranking
    // with the same similarity (the pre-rank selects, never rescores)
    val tight = graft.ops.Similarity.ivfProbe(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 2, rerank = 3)
    val fullRank = graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
      "vec_id", "embedding", k = 1000, nprobe = 2)
      .select("qid", "vec_id", "sim")
    assert(tight.count() === 5 * 4)
    assert(tight.join(fullRank, Seq("qid", "vec_id", "sim"), "left_anti")
      .count() === 0L, "every rescored sim must be the exact cosine")
    // plan shape: BOTH reads of the cell table (int8 codes for the pre-rank,
    // floats for the rescore) carry a dynamic-pruning subquery on the cell
    // partition column — probe cost scales with nprobe/nlist of the corpus
    val plan = sq.queryExecution.executedPlan.toString
    val pruned = "dynamicpruning".r.findAllIn(plan).size
    assert(pruned >= 2, s"both cell scans must DPP-prune, found $pruned:\n" +
      plan.take(2000))
    // the corpus-side scans are never exchanged: every shuffle in the plan
    // partitions by qid (query- or candidate-sliver-sized frames only)
    val badExchange = "Exchange hashpartitioning\\((?!qid)".r
    assert(badExchange.findFirstIn(plan).isEmpty,
      "no corpus-sized exchange allowed in the probe plan")
  }

  test("IVF-PQ index: exhaustive rerank equals the float probe; scans stay pruned") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graftivfpq")
      .toFile.getAbsolutePath
    val cents = graft.ops.Similarity.defaultCentroids(emb, "vec_id", "embedding", 6)
    graft.ops.Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", idx, nlist = 6,
      centroids = Some(cents), codec = graft.ops.Similarity.IvfCodec.Pq(m = 4, kc = 8))
    graft.ops.Similarity.appendToIvfIndex(s, idx,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    // rerank·k ≥ the corpus ⇒ every in-cell candidate is exact-rescored:
    // the ADC pre-rank cannot evict anything, output == the float probe
    val pq = graft.ops.Similarity.ivfProbe(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 2, rerank = 100)
    val float = graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 2)
    assert(pq.orderBy("qid", "rn").collect().toSeq ===
      float.orderBy("qid", "rn").collect().toSeq)
    // realistic rerank: exact cosines of surviving candidates only
    val tight = graft.ops.Similarity.ivfProbe(s, idx, queries,
      "vec_id", "embedding", k = 4, nprobe = 2, rerank = 3)
    assert(tight.count() === 5 * 4)
    assert(tight.join(
        graft.ops.Similarity.ivfTopKIndexed(s, idx, queries,
          "vec_id", "embedding", k = 1000, nprobe = 2)
          .select("qid", "vec_id", "sim"),
        Seq("qid", "vec_id", "sim"), "left_anti").count() === 0L,
      "every rescored sim must be the exact cosine")
    // both cell-table reads (codes for the pre-rank, floats for the
    // rescore) carry dynamic partition pruning on the cell key
    val plan = pq.queryExecution.executedPlan.toString
    assert("dynamicpruning".r.findAllIn(plan).size >= 2,
      "both cell scans must DPP-prune:\n" + plan.take(2000))
    val badExchange = "Exchange hashpartitioning\\((?!qid)".r
    assert(badExchange.findFirstIn(plan).isEmpty,
      "no corpus-sized exchange allowed in the probe plan")
  }

  test("normalized IVF-SQ8 pre-rank survives norm skew that evicts the raw int-dot") {
    val s = spark
    import s.implicits._
    val dims = 16
    def vec(parts: (Int, Double)*): Array[Float] = {
      val v = Array.fill(dims)(0.0f)
      parts.foreach { case (i, x) => v(i) = x.toFloat }
      v
    }
    // the ADVICE failure mode, constructed: the true cosine neighbour of
    // q = e0 is t (same direction, SMALL norm); decoys have 20× the norm at
    // cosine 0.8, so their RAW int8 dot with q dwarfs t's and the
    // compressed pre-rank evicts t before rescoring ever sees it
    val rows = Seq(
      (0L, vec(0 -> 1.0)),                       // the query
      (1L, vec(0 -> 0.5)),                       // true neighbour, cosine 1.0
      (2L, vec(0 -> 16.0, 1 -> 12.0)),           // decoys: norm 20, cosine 0.8
      (3L, vec(0 -> 16.0, 2 -> 12.0)),
      (4L, vec(0 -> 16.0, 3 -> 12.0)),
      (5L, vec(0 -> 16.0, 4 -> 12.0))).toDF("vec_id", "embedding")
    val q = rows.filter(col("vec_id") === 0)

    def top1(normalize: Boolean): Long = {
      val idx = java.nio.file.Files.createTempDirectory("graftsqnorm")
        .toFile.getAbsolutePath
      graft.ops.Similarity.buildIvfIndex(rows, "vec_id", "embedding", idx,
        nlist = 1, codec = graft.ops.Similarity.IvfCodec.Sq(normalize = normalize))
      graft.ops.Similarity.ivfProbe(s, idx, q, "vec_id", "embedding",
        k = 1, nprobe = 1, rerank = 2).collect()(0).getLong(1)
    }
    // raw inner-product pre-rank: rerank·k = 2 slots fill with decoys
    assert(top1(normalize = false) != 1L,
      "fixture must reproduce the norm-crowding failure the flag fixes")
    // normalized codes approximate cosine: the true neighbour tops the rank
    assert(top1(normalize = true) === 1L)

    // the flag persists: appends and probes against a normalized index
    // normalize THEIR side too (an appended twin of t must rank first for
    // a LARGE-norm query in the same direction)
    val idx2 = java.nio.file.Files.createTempDirectory("graftsqnorm2")
      .toFile.getAbsolutePath
    graft.ops.Similarity.buildIvfIndex(rows, "vec_id", "embedding", idx2,
      nlist = 1, codec = graft.ops.Similarity.IvfCodec.Sq(normalize = true))
    graft.ops.Similarity.appendToIvfIndex(s, idx2,
      Seq((10L, vec(5 -> 0.25))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val bigQ = Seq((20L, vec(5 -> 40.0))).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.ivfProbe(s, idx2, bigQ,
      "vec_id", "embedding", k = 1, nprobe = 1, rerank = 2).collect()
    assert(got.length === 1 && got(0).getLong(1) === 10L,
      s"appended normalized vector must top its direction: ${got.mkString}")
  }

  test("PQ/ADC: seed vectors encode to themselves; an exact twin tops the rank") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val base = (0L until 64L).map(i =>
      (i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    // vec 100 is an EXACT copy of vec 3: identical subvectors → identical
    // codes → identical ADC distance profile from any query
    val emb = (base :+ (100L, base(3)._2)).toDF("vec_id", "embedding")
    val books = graft.ops.Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, kc = 8)
    assert(books.length === 4 && books(0).length === 8 && books(0)(0).length === 8)
    val codes = graft.ops.Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // the whole argmin machinery, exactly: seed vector i's own subvector is
    // at squared-L2 distance 0 in every subspace → code = [i+1, i+1, ...]
    (0 until 8).foreach { i =>
      assert(codes(i.toLong) === Seq.fill(4)(i + 1),
        s"seed $i must encode to itself: ${codes(i.toLong)}")
    }
    // 32×-compression invariant: m codes per vector, values in [1, kc]
    assert(codes.values.forall(c => c.size == 4 && c.forall(x => x >= 1 && x <= 8)))
    assert(codes(100L) === codes(3L), "an exact copy must share its twin's code")
    // ADC ranking: querying vec 3 puts its exact twin first (same code ⇒
    // same table-lookup sum ⇒ minimal distance, ties by vec_id put 100
    // behind any other code-equal vector — here there is none)
    val top = graft.ops.Similarity.pqTopK(emb, emb.filter(col("vec_id") === 3),
        "vec_id", "embedding", k = 1, m = 4, kc = 8)
      .collect()(0)
    assert(top.getLong(1) === 100L, s"twin must top the ADC rank: $top")
    // and the twin's ADC distance equals vec 3's distance to its own
    // centroids — the symmetric-approximation floor, not zero
    val floor = books.indices.map { sIdx =>
      val sub = base(3)._2.slice(sIdx * 8, sIdx * 8 + 8).map(_.toDouble)
      val cent = books(sIdx)(codes(3L)(sIdx) - 1)
      BigDecimal(sub.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    }.sum
    assert(math.abs(top.getDouble(2) - floor) < 1e-5,
      s"ADC distance ${top.getDouble(2)} != symmetric floor $floor")
  }

  test("IVF recluster restores recall after drifted appends") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val dims = 16
    def unitVec(axis: Int, axis2: Int, jitter: Double): Array[Float] = {
      val v = Array.fill(dims)(rnd.nextGaussian() * jitter)
      v(axis) += 1.0
      if (axis2 >= 0) v(axis2) += 1.0
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // base corpus: 4 tight clusters on axes e0..e3 — the build-time world
    val base = (0L until 240L).map(i =>
      (i, unitVec((i % 4).toInt, -1, 0.05))).toDF("vec_id", "embedding")
    // drifted append: a 5th cluster at (e0+e1)/√2, exactly between frozen
    // cells 0 and 1 — per-vector jitter scatters its members across the two
    val drift = (1000L until 1100L).map(i =>
      (i, unitVec(0, 1, 0.05))).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graftivfrec")
      .toFile.getAbsolutePath
    Similarity.buildIvfIndex(base, "vec_id", "embedding", idx, nlist = 4,
      centroids = Some(Similarity.kmeansCentroids(base, "vec_id", "embedding", 4)))
    Similarity.appendToIvfIndex(s, idx, drift, "vec_id", "embedding")
    val queries = drift.filter(col("vec_id") < 1016)
    val exact = Similarity.cosineTopK(base.unionByName(drift), queries,
      "vec_id", "embedding", 5).localCheckpoint()
    def meanRecall(): Double = Similarity.recallAtK(exact,
        Similarity.ivfTopKIndexed(s, idx, queries, "vec_id", "embedding",
          k = 5, nprobe = 1), 5)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)
    // frozen centroids: each drift query probes cell 0 OR cell 1 while its
    // true neighbours (other drift vectors) split across both → recall decays
    val before = meanRecall()
    assert(before < 0.9, f"drifted appends should hurt nprobe=1 recall, got $before%.3f")
    // the health view sees the drift BEFORE recall is measured in anger:
    // cells that swallowed the between-centroids cluster show a depressed
    // mean cosine-to-centroid, and the trigger fires on the caller's fence
    val health = Similarity.ivfIndexHealth(s, idx).collect()
    assert(health.length === 4)
    assert(health.map(_.getAs[Long]("n")).sum === 340L,
      "health must count every vector exactly once")
    assert(health.map(_.getAs[Double]("mean_csim")).min < 0.95,
      "drifted cells must show a depressed mean cosine-to-centroid")
    assert(Similarity.shouldRecluster(s, idx, minMeanCsim = 0.95),
      "the trigger must fire on the drifted index")
    Similarity.reclusterIvfIndex(s, idx, nlist = 5)
    assert(!Similarity.shouldRecluster(s, idx, minMeanCsim = 0.95),
      "after recluster every cell is tight again — the trigger must clear")
    val after = meanRecall()
    assert(after >= 0.95 && after > before,
      f"recluster must restore recall: before=$before%.3f after=$after%.3f")
    // the versioned publish preserved every vector and retrained nlist
    // centroids (post-recluster reads resolve the CURRENT geometry)
    def cells() = s.read.parquet(Similarity.resolvedTablePath(s, idx, "cells"))
    assert(cells().count() === 340L)
    assert(s.read.parquet(Similarity.resolvedTablePath(s, idx, "centroids"))
      .count() === 5L)
    // incremental appends keep working against the retrained centroids
    val more = Seq((2000L, unitVec(2, -1, 0.05))).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(s, idx, more, "vec_id", "embedding")
    assert(cells().count() === 341L)
  }

  test("bigram LM: hand-computed add-k likelihoods on a two-doc corpus") {
    val s = spark
    import s.implicits._
    // bigrams: doc1 = {a b, b a, a b}, doc2 = {a c}
    // counts: C(a b)=2, C(b a)=1, C(a c)=1; contexts: C(a ·)=3, C(b ·)=1
    // V = |{b, a, c}| = 3 distinct continuations; k = 0.1
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val lpAB = math.log(2.1 / 3.3); val lpBA = math.log(1.1 / 1.3)
    val lpAC = math.log(1.1 / 3.3)
    assert(got.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 3L), (2L, 1L)))
    assert(math.abs(got(0).getDouble(1) - -(2 * lpAB + lpBA) / 3) < 1e-6)
    assert(math.abs(got(1).getDouble(1) - -lpAC) < 1e-6)
  }

  test("bigram LM: repetitive text scores as more likely than rare text") {
    val s = spark
    import s.implicits._
    // shared corpus: doc 1 is one bigram repeated, doc 2 is all-unique
    // bigrams — under the corpus-trained model the repetitive doc must get
    // the LOWER (better) mean negative log-likelihood
    val docs = Seq(
      (1L, Seq.fill(30)("the cat").mkString(" ")),
      (2L, (1 to 61).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val sc = TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getDouble(1))
    assert(sc(0) < sc(1),
      s"repeated-bigram doc ${sc(0)} must beat unique-bigram doc ${sc(1)}")
  }

  test("bigram LM: trained model scores a new batch; unseen bigrams hit the 1/V floor") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramLm(corpus, "doc_id", "text")
    // "z z" shares no bigram with the corpus: both bigrams take the
    // ln(1/V) unseen floor, so the score is exactly ln(3)
    val batch = Seq((10L, "z z z")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(batch, "doc_id", "text", model = Some(model))
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(2))).toSeq === Seq((10L, 2L)))
    assert(math.abs(got.head.getDouble(1) - math.log(3.0)) < 1e-6)
    // a seen bigram in the new batch scores with the trained logp, not the
    // floor: "a b" carries ln(2.1/3.3) from the corpus model
    val seen = TextAnalysis.lmScore(Seq((11L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", model = Some(model)).collect()
    assert(math.abs(seen.head.getDouble(1) - -math.log(2.1 / 3.3)) < 1e-6)
  }

  test("interval join == brute-force range join; bin width only affects volume") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val base = 1700000000000L
    val intervals = (1 to 200).map { i =>
      val st = base + rnd.nextInt(1000000)
      (i.toLong, s"k${rnd.nextInt(5)}",
        new java.sql.Timestamp(st), new java.sql.Timestamp(st + 1 + rnd.nextInt(50000)))
    }.toDF("iv_id", "k", "s0", "e0")
    val points = (1 to 500).map { j =>
      (j.toLong, s"k${rnd.nextInt(5)}",
        new java.sql.Timestamp(base + rnd.nextInt(1050000)))
    }.toDF("p_id", "k", "ts")
    val brute = intervals.join(points, Seq("k"))
      .filter($"ts" >= $"s0" && $"ts" <= $"e0")
      .select("iv_id", "p_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "randomized fixture must produce matches")
    for (bin <- Seq(1000L, 7777L, 50000L, 10000000L)) {
      val banded = Interval.intervalJoin(points = points, intervals = intervals,
        keys = Seq("k"), startCol = "s0", endCol = "e0", tsCol = "ts",
        binMillis = bin)
        .select("iv_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(banded.length === banded.toSet.size, s"bin=$bin produced duplicates")
      assert(banded.toSet === brute, s"bin=$bin differs from brute force")
    }
    // boundaries: both interval endpoints are inclusive; a point one bin
    // past the end must not match even when the bin edge aligns exactly
    val iv = Seq((1L, "k", new java.sql.Timestamp(base),
      new java.sql.Timestamp(base + 1000))).toDF("iv_id", "k", "s0", "e0")
    val pts = Seq((1L, "k", new java.sql.Timestamp(base)),
      (2L, "k", new java.sql.Timestamp(base + 1000)),
      (3L, "k", new java.sql.Timestamp(base + 1001)))
      .toDF("p_id", "k", "ts")
    val hits = Interval.intervalJoin(iv, pts, Seq("k"), "s0", "e0", "ts", 1000L)
      .select("p_id").collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L, 2L))
  }

  test("gopher rules match a JVM reference model on randomized adversarial text") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val atoms = Seq("the", "fox", "##", "...", "w1", "- item", "•x", "longishword",
      "…", "42", "a.b", "*", "mixedCASE", "", " ", "\n", "\n- ", "...\n")
    val docs = (1 to 250).map { i =>
      val n = 1 + rnd.nextInt(60)
      (i.toLong, (1 to n).map(_ => atoms(rnd.nextInt(atoms.length)))
        .mkString(rnd.nextInt(3) match { case 0 => " "; case 1 => "  "; case _ => " x " }))
    }
    def model(text: String) = {
      // Spark's trim (like DuckDB's) strips SPACES only, not \n — a doc
      // starting with a newline keeps a leading empty token; the engine and
      // the oracle agree on that, so the model must too
      def sqlTrim(s0: String) = s0.replaceAll("^ +", "").replaceAll(" +$", "")
      val toks = sqlTrim(text).toLowerCase.split("\\s+", -1).toSeq
      val lines = text.split("\n", -1).toSeq
      def nonOverlap(s0: String, sub: String): Long = {
        var i = 0; var c = 0L
        while ({ val j = s0.indexOf(sub, i); if (j >= 0) { c += 1; i = j + sub.length }; j >= 0 }) ()
        c
      }
      val wc = toks.size.toLong
      val ell = nonOverlap(text, "...")
      val nl = lines.size.toLong
      val bl = lines.count(_.matches("^\\s*[-*•‣◦].*")).toLong
      val el = lines.count(l => java.util.regex.Pattern.compile("(\\.\\.\\.|…)\\s*$")
        .matcher(l).find()).toLong
      val aw = toks.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val sh = TextAnalysis.gopherStopwords.count(toks.contains).toLong
      val chars = sqlTrim(text).replaceAll("\\s+", "").length.toLong
      val hash = text.count(_ == '#').toLong
      (wc, chars, hash, ell, nl, bl, el, aw, sh,
        wc >= 50 && wc <= 100000 && chars >= wc * 3 && chars <= wc * 10 &&
        hash * 10 <= wc && ell * 10 <= wc && bl * 10 <= nl * 9 &&
        el * 10 <= nl * 3 && aw * 10 >= wc * 8 && sh >= 2)
    }
    val got = TextAnalysis.gopherRules(docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    docs.zip(got).foreach { case ((id, text), r) =>
      val m = model(text)
      val g = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9), r.getBoolean(10))
      assert(g === m, s"doc $id: ${text.take(80).replace("\n", "\\n")}")
    }
  }

  test("gopher rules: per-rule counts and the composite verdict") {
    val s = spark
    import s.implicits._
    val base = ("the quick brown fox jumps over that lazy dog with vigor " * 6).trim
    val docs = Seq(
      1L -> base,                                   // passes everything
      2L -> "the cat with that hat",                // < 50 words
      3L -> (base + " " + "#" * 20),                // hash ratio > 0.1
      4L -> (base + "\nso...\nwell...\nok\nfine"),  // >30% ellipsis lines
      5L -> (1 to 60).map(_.toString).mkString("the of ", " ", ""), // <80% alpha
      6L -> ((1 to 12).map(i => s"- item $i").mkString("\n")), // all-bullet lines
      7L -> (base + " " + "supercalifragilisticexpialidocious " * 200) // mean len > 10
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // doc 1: 66 words, 3 distinct stopwords (the/that/with), no symbols
    assert(byId(1L).getAs[Long]("word_count") === 66L)
    assert(byId(1L).getAs[Long]("hash_count") === 0L)
    assert(byId(1L).getAs[Long]("alpha_words") === 66L)
    assert(byId(1L).getAs[Long]("stop_hits") === 3L)
    assert(byId(1L).getAs[Boolean]("pass"))
    assert(!byId(2L).getAs[Boolean]("pass"), "under the 50-word floor")
    assert(byId(3L).getAs[Long]("hash_count") === 20L)
    assert(!byId(3L).getAs[Boolean]("pass"), "hash symbol ratio")
    assert(byId(4L).getAs[Long]("n_lines") === 5L)
    assert(byId(4L).getAs[Long]("ellipsis_lines") === 2L)
    assert(!byId(4L).getAs[Boolean]("pass"), "ellipsis-ending lines > 30%")
    assert(!byId(5L).getAs[Boolean]("pass"), "alphabetic-word ratio < 80%")
    assert(byId(6L).getAs[Long]("bullet_lines") === 12L)
    assert(!byId(6L).getAs[Boolean]("pass"), "every line is a bullet (> 90%)")
    assert(!byId(7L).getAs[Boolean]("pass"), "mean word length > 10")
    // '...' counting is non-overlapping left-to-right: 5 dots = one hit
    val dots = TextAnalysis.gopherRules(
      Seq(8L -> "word .....").toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(dots.getAs[Long]("ellipsis_count") === 1L)
    // pure projection: the plan must not shuffle
    val plan = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "gopher rules must be shuffle-free")
  }

  test("stripMarkup: tags are word boundaries, entity order is pinned, whitespace normalizes") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "<html><body><p>alpha</p><p>beta</p></body></html>"),
      // a tag boundary is a WORD boundary: deleting tags outright would
      // weld adjacent cell texts into "alphabeta"
      (2L, "<td>alpha</td><td>beta</td>"),
      // &amp;lt; is the LITERAL text "&lt;" (entity decode order: &amp;
      // last) -- a naive order would emit "<" and re-create markup
      (3L, "a &amp;lt; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"),
      (4L, "  spaced\t\tout\r\nlines  "),
      // unmatched < with no closing > is content, not markup
      (5L, "3 < 5 and x > 2"))
      .toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.stripMarkup(col("text")).as("clean"),
      TextAnalysis.markupDensityPerMille(col("text")).as("pm"))
      .orderBy("id").collect()
    assert(out(0).getString(1) === "alpha beta")
    assert(out(1).getString(1) === "alpha beta")
    // tags strip BEFORE entities decode, so entity-encoded markup
    // (&lt;tag&gt;) is literal TEXT and survives — the HTML semantics
    assert(out(2).getString(1) === "a &lt; b <tag> \"q\" 's' end")
    assert(out(3).getString(1) === "spaced out lines")
    assert(out(4).getString(1) === "3 < 5 and x > 2",
      "an unmatched < must survive as content")
    // density: row 1 is mostly chrome, row 5 has none
    assert(out(0).getLong(2) > 700L && out(4).getLong(2) === 0L)
    // the SQL macro expands to the same expression tree
    graft.functions.registerAll(s)
    assert(s.sql(
      "SELECT strip_markup('<b>x</b> &amp; y') AS c, " +
      "markup_density_pm('<b>x</b>') AS p").head match {
        case r => r.getString(0) == "x & y" && r.getLong(1) > 0L
      })
  }

  test("dataCard: the one-pass census is integer-exact and weighs by token mass") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("web", 1L, "alpha beta beta"),            // 3 tokens, 2 distinct
      ("web", 2L, "alpha alpha alpha alpha"),    // 4 tokens, 1 distinct
      ("book", 3L, "one two three mail a@b.example.org"))
      .toDF("source", "id", "text")
    val out = TextAnalysis.dataCard(df, "text", Seq("source"),
        exactQuantiles = true)
      .orderBy("source").collect()
    // book: 5 tokens (the email is one whitespace token), 5 distinct, pii
    assert(out(0).getString(0) === "book" && out(0).getLong(1) === 1L &&
      out(0).getLong(2) === 5L && out(0).getLong(7) === 1L)
    // web: ratio-of-sums = (2+1)/(3+4) NOT mean-of-ratios (0.667+0.25)/2
    assert(out(1).getString(0) === "web" && out(1).getLong(1) === 2L &&
      out(1).getLong(2) === 7L && out(1).getLong(7) === 0L)
    assert(math.abs(out(1).getDouble(6) - 3.0 / 7.0) < 5e-7,
      "distinct_token_ratio must be the token-mass-weighted ratio of sums")
    // p50 of the two web lengths interpolates between 15 and 23
    assert(out(1).getDouble(4) === 19.0)
    // the 100 TB quantile path — percentile_approx holds a bounded sketch
    // instead of every group value — is the DEFAULT (bounded-by-default,
    // VERDICT r15 #4; exact is the explicit opt-in for oracle gates):
    // same schema, values within the sketch's rank-error bound of exact
    val big = (1 to 100).map(i => ("s", i.toLong, "x" * i)).toDF("source", "id", "text")
    val ex = TextAnalysis.dataCard(big, "text", Seq("source"),
      exactQuantiles = true).head
    val ap = TextAnalysis.dataCard(big, "text", Seq("source")).head
    assert(ap.schema == ex.schema, "both quantile paths share one schema")
    assert(math.abs(ap.getDouble(4) - ex.getDouble(4)) <= 1.0 &&
      math.abs(ap.getDouble(5) - ex.getDouble(5)) <= 1.0,
      "approx quantiles must sit within the rank-error bound of exact")
    // non-quantile columns are identical: one aggregate family, two knobs
    assert((0 to 3).forall(i => ap.get(i) == ex.get(i)) &&
      (6 to 7).forall(i => ap.get(i) == ex.get(i)))
  }
}
