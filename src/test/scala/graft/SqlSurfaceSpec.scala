package graft

import graft.log.EventLog
import graft.store.EventStore
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface: the log is queryable via spark.sql with the engine's custom
  * functions registered (fnv1a32, ulid_millis).
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  test("spark.sql queries the registered views with custom functions") {
    val dir = Files.createTempDirectory("graftsql").toFile.getAbsolutePath
    val log = new EventLog(spark, dir, numBuckets = 4, ulidSeed = Some(51L))
    val store = new EventStore(log, AccountType)
    val id = "01HXSQLSURFACE00000000001"
    store.create(id, Seq(AccountType.created(100, "P"), AccountType.deposited(7)),
      nowMs = 1700000000000L)
    log.registerViews()

    val row = spark.sql(
      """SELECT aggregate_id,
        |       max(aggregate_version) AS v,
        |       fnv1a32(aggregate_id) = any_value(aggregate_id_hash) AS hash_ok,
        |       min(ulid_millis(id)) AS first_ms
        |FROM graft_events_active
        |GROUP BY aggregate_id""".stripMargin).head()
    assert(row.getString(0) == id)
    assert(row.getInt(1) == 2)
    assert(row.getBoolean(2), "stored hash must equal fnv1a32 recomputed in SQL")
    assert(row.getLong(3) == 1700000000000L)

    // per-kind balance in pure SQL over the JSON bodies
    val bal = spark.sql(
      """SELECT sum(CASE WHEN kind IN ('AccountCreated', 'MoneyDeposited')
        |                THEN CAST(get_json_object(body, '$.money') AS DOUBLE)
        |                ELSE 0.0 END) AS balance
        |FROM graft_events_active""".stripMargin).head().getDouble(0)
    assert(bal == 107.0)
  }

  test("text-op SQL macros expand to the Column compositions, not UDFs") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT pii_redact('mail a@b.example.com or 555-123-4567') AS red,
        |       pii_email_count('x a@b.example.org y') AS ne,
        |       pii_ip_count('host 10.1.2.3 up') AS ni,
        |       token_count('one two  three') AS tc,
        |       bpeish_token_count('spark-4.1, yes!') AS bc,
        |       doc_fingerprint('  A  b ') = doc_fingerprint('a b') AS fp_eq,
        |       token_hash32('abc') AS th""".stripMargin).head()
    assert(r.getString(0) == "mail [EMAIL] or [PHONE]")
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 3L)
    assert(r.getLong(4) == 4L, "spark / 4 / 1 / yes")
    assert(r.getBoolean(5), "fingerprint normalizes case + whitespace")
    // same value the Scala API computes — one expression tree, two surfaces
    val scalaTh = spark.range(1)
      .select(graft.ops.TextAnalysis.tokenHash32(
        org.apache.spark.sql.functions.lit("abc")).as("h"))
      .head().getLong(0)
    assert(r.getLong(6) == scalaTh)
    // no UDF node in the plan: the macro is pure built-in expression calls
    val plan = spark.sql("SELECT pii_redact('z') AS x").queryExecution
      .executedPlan.toString
    assert(!plan.contains("UDF"), plan)
    // round-15 macros: markup strip + the intake routing policy
    val r2 = spark.sql(
      """SELECT strip_markup('<p>a</p><p>b</p> &amp;lt;') AS cl,
        |       markup_density_pm('<nav>x</nav>') AS pm,
        |       route_of('wav', 'ulaw', 1) AS q,
        |       route_of('png', 'deflate', CAST(NULL AS INT)) AS img
        |""".stripMargin).head()
    assert(r2.getString(0) == "a b &lt;")
    assert(r2.getLong(1) > 0L)
    assert(r2.getString(2) == "quarantine:wav-ulaw")
    assert(r2.getString(3) == "image")
  }

  test("table-valued SQL surface: LSH screen and layout-routed ANN probe from spark.sql only") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    graft.ops.SqlOps.register(s)
    val dir = Files.createTempDirectory("graftsqlops").toFile.getAbsolutePath

    // ── LSH: build an index, register views, screen from PURE SQL ──
    def fam(i: Long, tag: String) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i india$i family$i $tag"
    val corpus = (0L until 30L).map(i => (i, fam(i, "accepted corpus body")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, fam(3L, "accepted corpus CHANGED")),
      (101L, "entirely novel content with completely distinct vocabulary"))
      .toDF("doc_id", "text")
    graft.ops.LshIndex.build(corpus, "doc_id", "text", s"$dir/lsh", sigBuckets = 8)
    corpus.createOrReplaceTempView("sqlops_corpus")
    batch.createOrReplaceTempView("sqlops_batch")
    val screened = s.sql(
      s"""SELECT doc_id, is_new, match_id
         |FROM lsh_screen('$dir/lsh', 'sqlops_corpus', 'sqlops_batch',
         |                'doc_id', 'text', 0.5)
         |ORDER BY doc_id""".stripMargin).collect()
    val apiScreen = graft.ops.LshIndex.screen(s, s"$dir/lsh", corpus, batch,
      "doc_id", "text", 0.5).orderBy("doc_id").collect()
    assert(screened.toSeq.map(_.toString) === apiScreen.toSeq.map(_.toString),
      "the SQL surface must return exactly the Scala API's result")
    assert(screened(0).getBoolean(1) === false && screened(1).getBoolean(1),
      "planted near-dup flagged, novel doc admitted")
    // the index's reason to exist survives the SQL route: the candidate
    // join still pushes a literal (band, sb) partition filter
    val candPlan = s.sql(
      s"""SELECT * FROM lsh_candidates('$dir/lsh', 'sqlops_batch', 'doc_id', 'text')"""
    ).queryExecution.executedPlan.toString
    assert(candPlan.contains("PartitionFilters") &&
      """\(band#\d+ = \d""".r.findFirstIn(candPlan).isDefined,
      s"SQL-routed candidates must keep the partition pruning:\n${candPlan.take(1500)}")

    // ── IVF-SQ8: build, probe from PURE SQL, compare to the Scala API ──
    val rnd = new scala.util.Random(5)
    val emb = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      s"$dir/ivf", nlist = 4, codec = graft.ops.Similarity.IvfCodec.Sq())
    emb.filter(col("vec_id") < 3).createOrReplaceTempView("sqlops_queries")
    val probed = s.sql(
      s"""SELECT qid, vec_id, sim, rn
         |FROM ivf_probe('$dir/ivf', 'sqlops_queries', 'vec_id', 'embedding', 3, 2, 4)
         |ORDER BY qid, rn""".stripMargin).collect()
    val apiProbe = graft.ops.Similarity.ivfProbe(s, s"$dir/ivf",
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 3,
        nprobe = 2, rerank = 4)
      .orderBy("qid", "rn").collect()
    assert(probed.toSeq.map(_.toString) === apiProbe.toSeq.map(_.toString),
      "ivf_probe must route to the SQ8 layout and match the Scala API")

    // health dashboards compose in larger SQL
    val unhealthy = s.sql(
      s"""SELECT count(*) AS n FROM ivf_index_health('$dir/ivf') WHERE n > 0"""
    ).head().getLong(0)
    assert(unhealthy === 4L, "one health row per cell")
    assert(s.sql(s"SELECT * FROM lsh_index_health('$dir/lsh', 5)").count() === 5L)

    // non-literal args refuse loudly instead of silently mis-binding
    val e = intercept[Exception](s.sql(
      s"SELECT * FROM lsh_screen(text, 'a', 'b', 'c', 'd', 0.5) ").collect())
    assert(e.getMessage != null)
  }

  test("CALL procedures run the SAME fenced maintenance bodies; refusals surface through SQL") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftcall").toFile.getAbsolutePath
    s.conf.set("spark.sql.catalog.graftproc", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftproc.warehouse", s"$dir/wh")
    try {
      def fam(i: Long, tag: String) =
        s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i india$i family$i $tag"
      val corpus = (0L until 30L).map(i => (i, fam(i, "corpus body")))
        .toDF("doc_id", "text")
      val batch = Seq((100L, fam(3L, "corpus CHANGED"))).toDF("doc_id", "text")
      def lsState(p: String) = {
        val sigs = graft.ops.LshIndex.signatures(s, p)
          .collect().map(_.toString).sorted.toSeq
        val dirs = new java.io.File(s"$p/sigs").listFiles()
          .filter(_.isDirectory).map(_.getName).sorted.toSeq
        val folded = Option(new java.io.File(s"$p/ingest_folded").listFiles())
          .fold(Seq.empty[String])(_.map(_.getName).sorted.toSeq)
        (sigs, dirs, folded, new java.io.File(s"$p/ingest").exists())
      }
      // twin LSH indexes, identically built + appended; fold A via the
      // Scala API, B via SQL CALL — the states must CONVERGE identically
      Seq("a", "b").foreach { t =>
        graft.ops.LshIndex.build(corpus, "doc_id", "text", s"$dir/lsh_$t",
          sigBuckets = 8)
        graft.ops.LshIndex.appendBatch(s, s"$dir/lsh_$t", batch,
          "doc_id", "text", 0L)
      }
      graft.ops.LshIndex.compactIngest(s, s"$dir/lsh_a")
      s.sql(s"CALL graftproc.lsh_compact('$dir/lsh_b')").collect()
      val (sa, da, fa, ia) = lsState(s"$dir/lsh_a")
      val (sb, db, fb, ib) = lsState(s"$dir/lsh_b")
      assert(sa.map(_.replace("lsh_a", "lsh_b")) === sb &&
        da === db && fa === fb && !ia && !ib,
        "SQL CALL and Scala API must leave identical index state")

      // IVF twin: same convergence through ivf_compact
      val rnd = new scala.util.Random(5)
      val emb = (0L until 40L).map(i =>
        (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
      val extra = Seq((100L, Array.fill(8)(0.25f))).toDF("vec_id", "embedding")
      Seq("a", "b").foreach { t =>
        graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
          s"$dir/ivf_$t", nlist = 4, codec = graft.ops.Similarity.IvfCodec.Sq())
        graft.ops.Similarity.appendBatchToIvfIndex(s, s"$dir/ivf_$t", extra,
          "vec_id", "embedding", 0L)
      }
      graft.ops.Similarity.compactIvfIngest(s, s"$dir/ivf_a")
      s.sql(s"CALL graftproc.ivf_compact('$dir/ivf_b')").collect()
      def ivState(p: String) = (
        s.read.parquet(graft.ops.Similarity.resolvedTablePath(s, p, "cells"))
          .collect().map(_.toString).sorted.toSeq,
        new java.io.File(s"$p/ingest").exists())
      val (ca, ga) = ivState(s"$dir/ivf_a")
      val (cb, gb) = ivState(s"$dir/ivf_b")
      assert(ca === cb && !ga && !gb,
        "ivf_compact via CALL must converge to the API's cell state")

      // refusals surface through SQL with the SAME message (it IS the same
      // code path): a crashed build's pending marker refuses both ways
      graft.ops.IndexLifecycle.beginBuild(s, s"$dir/lsh_b")
      def rootMsg(t: Throwable): String = {
        var c: Throwable = t
        while (c.getCause != null) c = c.getCause
        String.valueOf(c.getMessage)
      }
      val eApi = intercept[Exception](
        graft.ops.LshIndex.compactIngest(s, s"$dir/lsh_b"))
      val eSql = intercept[Exception](
        s.sql(s"CALL graftproc.lsh_compact('$dir/lsh_b')").collect())
      assert(rootMsg(eSql) === rootMsg(eApi) &&
        rootMsg(eSql).contains("half-written"),
        s"SQL refusal must be the API's refusal: ${rootMsg(eSql)}")
      graft.ops.IndexLifecycle.endBuild(s, s"$dir/lsh_b")

      // unknown procedures name the available surface
      val eNo = intercept[Exception](s.sql(s"CALL graftproc.nope('$dir')"))
      assert(rootMsg(eNo).contains("ivf_compact") ||
        String.valueOf(eNo.getMessage).contains("nope"), String.valueOf(eNo.getMessage))

      // the catalog lists its procedures (SHOW PROCEDURES surface)
      val listed = s.sql("SHOW PROCEDURES IN graftproc").collect()
        .map(_.toString).mkString(" ")
      assert(listed.contains("lsh_compact") && listed.contains("ivf_compact"),
        s"SHOW PROCEDURES must list the surface, got: $listed")
    } finally {
      s.conf.unset("spark.sql.catalog.graftproc")
      s.conf.unset("spark.sql.catalog.graftproc.warehouse")
    }
  }

  test("phash family SQL legs: screen/candidates/health TVFs and the fenced CALL, all API-identical") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    graft.ops.SqlOps.register(s)
    val dir = Files.createTempDirectory("graftsqlph").toFile.getAbsolutePath
    s.conf.set("spark.sql.catalog.graftproc", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftproc.warehouse", s"$dir/wh")
    try {
      def longText(seed: Int): String = {
        val rnd = new scala.util.Random(seed)
        val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
        (0 until 260).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      }
      def imagesOf(rows: Seq[(Long, String)]) =
        graft.ops.Multimodal.synthImages(graft.ops.Multimodal.pack(
            rows.toDF("doc_id", "text"), "doc_id", "text", "raw"))
          .select(col("media_id").as("img_id"), col("img"))
      val corpus = (0L until 12L).map(i => (i, longText(i.toInt)))
      val batch = Seq((100L, longText(3)), (101L, longText(777)))

      // twin indexes: fold A via the API, B via CALL — states converge
      Seq("a", "b").foreach { t =>
        graft.ops.PhashIndex.build(imagesOf(corpus), "img_id", "img",
          s"$dir/ph_$t", sigBuckets = 8)
        graft.ops.PhashIndex.appendBatch(s, s"$dir/ph_$t",
          imagesOf(Seq((200L, longText(200)))), "img_id", "img", 0L)
      }
      graft.ops.PhashIndex.compactIngest(s, s"$dir/ph_a")
      s.sql(s"CALL graftproc.phash_compact('$dir/ph_b')").collect()
      def state(p: String) = (
        graft.ops.PhashIndex.signatures(s, p).collect().map(_.toString).sorted.toSeq,
        new java.io.File(s"$p/sigs").listFiles().filter(_.isDirectory)
          .map(_.getName).sorted.toSeq,
        new java.io.File(s"$p/ingest").exists())
      val (sa, da, ia) = state(s"$dir/ph_a")
      val (sb, db, ib) = state(s"$dir/ph_b")
      assert(sa === sb && da === db && !ia && !ib,
        "phash_compact via CALL must converge to the API's index state")
      assert(s.sql("SHOW PROCEDURES IN graftproc").collect().map(_.toString)
        .mkString(" ").contains("phash_compact"))

      // TVFs: screen/candidates/health from PURE SQL equal the Scala API
      imagesOf(batch).createOrReplaceTempView("sqlops_imgs")
      val screened = s.sql(
        s"""SELECT img_id, is_new, match_id
           |FROM phash_screen('$dir/ph_a', 'sqlops_imgs', 'img_id', 'img', 3)
           |ORDER BY img_id""".stripMargin).collect()
      val apiScreen = graft.ops.PhashIndex.screen(s, s"$dir/ph_a",
          imagesOf(batch), "img_id", "img", 3)
        .orderBy("img_id").collect()
      assert(screened.toSeq.map(_.toString) === apiScreen.toSeq.map(_.toString),
        "the SQL surface must return exactly the Scala API's result")
      assert(!screened(0).getBoolean(1) && screened(1).getBoolean(1),
        "planted dup of corpus image 3 flagged, novel image admitted")
      val candPlan = s.sql(
        s"""SELECT * FROM phash_candidates('$dir/ph_a', 'sqlops_imgs',
           |                               'img_id', 'img', 3)""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(candPlan.contains("PartitionFilters") &&
        """\(band#\d+ = \d""".r.findFirstIn(candPlan).isDefined,
        s"SQL-routed phash candidates must keep the pruning:\n${candPlan.take(1500)}")
      assert(s.sql(s"SELECT * FROM phash_index_health('$dir/ph_a', 5)")
        .count() === 5L)
    } finally {
      s.conf.unset("spark.sql.catalog.graftproc")
      s.conf.unset("spark.sql.catalog.graftproc.warehouse")
    }
  }

  test("zorder_key SQL macro interleaves like the Scala API") {
    graft.functions.registerAll(spark)
    // 2 dims → 16 bits each; bit b of dim 0 lands at position 2b, of dim 1
    // at 2b+1: (x=0b101, y=0b011) → positions 0,4 from x and 1,3 from y
    // = 0b011011 = 27
    val r = spark.sql("SELECT zorder_key(5, 3) AS z2, zorder_key(7) AS z1").head()
    assert(r.getLong(0) == 27L, "interleave(101, 011) = 011011")
    assert(r.getLong(1) == 7L, "one dim = identity on its low bits")
    val scalaZ = spark.range(1)
      .select(graft.ops.Layout.zorderKey(
        Seq(org.apache.spark.sql.functions.lit(5),
          org.apache.spark.sql.functions.lit(3)), 16).as("z"))
      .head().getLong(0)
    assert(r.getLong(0) == scalaZ, "one expression tree, two surfaces")
    val plan = spark.sql("SELECT zorder_key(1, 2) AS z").queryExecution
      .executedPlan.toString
    assert(!plan.contains("UDF"), plan)
  }

  test("learned-filter + tokenizer TVFs: the SQL route equals the Scala API") {
    val s = spark
    import s.implicits._
    graft.ops.SqlOps.register(s)
    val train = Seq(
      (0L, "clean good prose table data", true),
      (1L, "well formed clean text data", true),
      (2L, "spam click buy now spam", false),
      (3L, "buy spam click now buy", false)).toDF("doc_id", "text", "pos")
    val batch = Seq((10L, "clean data table"), (11L, "spam buy click"))
      .toDF("doc_id", "text")
    train.createOrReplaceTempView("sqlq_train")
    batch.createOrReplaceTempView("sqlq_batch")
    train.filter($"pos").createOrReplaceTempView("sqlq_target")
    train.filter(!$"pos").createOrReplaceTempView("sqlq_raw")

    // NB: train in SQL, persist nothing, score in SQL — == the Scala chain
    s.sql("SELECT * FROM nb_train('sqlq_train', 'text', 'pos')")
      .createOrReplaceTempView("sqlq_nb_model")
    val sqlNb = s.sql(
      "SELECT * FROM nb_score('sqlq_nb_model', 'sqlq_batch', 'doc_id', 'text') ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    val apiNb = graft.ops.TextAnalysis.nbScore(batch, "doc_id", "text",
        graft.ops.TextAnalysis.nbTrain(train, "text", "pos"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(sqlNb === apiNb)

    // DSIR model + score TVFs
    s.sql("SELECT * FROM dsir_model('sqlq_raw', 'sqlq_target', 'text', 64)")
      .createOrReplaceTempView("sqlq_ds_model")
    val sqlDs = s.sql(
      "SELECT * FROM dsir_score('sqlq_ds_model', 'sqlq_batch', 'doc_id', 'text') ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    val apiDs = graft.ops.TextAnalysis.dsirScore(batch, "doc_id", "text",
        graft.ops.TextAnalysis.dsirModel(train.filter(!$"pos"),
          train.filter($"pos"), "text", buckets = 64))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(sqlDs === apiDs)

    // BPE: train → vocab → counts → ids, every leg through SQL
    s.sql("SELECT * FROM bpe_train('sqlq_train', 'text', 4)")
      .createOrReplaceTempView("sqlq_merges")
    s.sql("SELECT * FROM bpe_vocab('sqlq_train', 'text', 'sqlq_merges')")
      .createOrReplaceTempView("sqlq_vocab")
    val merges = graft.ops.TextAnalysis.bpeTrain(train, "text", 4)
    assert(s.sql("SELECT * FROM sqlq_merges ORDER BY rank")
        .collect().map(_.toString).toSeq ===
      merges.orderBy("rank").collect().map(_.toString).toSeq)
    val sqlCnt = s.sql(
      "SELECT * FROM bpe_token_count('sqlq_merges', 'sqlq_batch', 'doc_id', 'text') ORDER BY doc_id")
      .collect().map(_.toString).toSeq
    val apiCnt = graft.ops.TextAnalysis.bpeTokenCount(batch, "doc_id", "text",
      merges).orderBy("doc_id").collect().map(_.toString).toSeq
    assert(sqlCnt === apiCnt)
    val sqlIds = s.sql(
      """SELECT * FROM bpe_encode('sqlq_merges', 'sqlq_vocab', 'sqlq_batch',
        |'doc_id', 'text') ORDER BY doc_id, word_no, sub_no""".stripMargin)
      .collect().map(_.toString).toSeq
    val apiIds = graft.ops.TextAnalysis.bpeEncodeIds(batch, "doc_id", "text",
        merges, graft.ops.TextAnalysis.bpeVocab(train, "text", merges))
      .orderBy("doc_id", "word_no", "sub_no").collect().map(_.toString).toSeq
    assert(sqlIds === apiIds)
  }
}
