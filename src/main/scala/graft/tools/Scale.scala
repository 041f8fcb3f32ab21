package graft.tools

import graft.codec.Codec
import graft.log.{CommitClaim, CommitMode, EventDetail, EventLog, ManifestCommitLog}
import graft.ops.{Dedup, Multimodal, PhashIndex, Sampling, Similarity}
import graft.store.{AggregateType, EventStore}
import graft.streaming.{Projector, ReadModel}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

/** Scale evidence, re-runnable: `runMain graft.tools.Scale <scenario> [factor]`.
  *
  * A scenario is a plain `(SparkSession, factor) => Unit`: it builds its
  * fixture at `factor`× full size (default 1, the sizes the docs quote),
  * times each step, asserts the planted structure exactly and prints one
  * `SCALE {...}` JSON line. ScaleSpec runs every scenario at [[Smallest]],
  * where the walls are fixed overhead; the claims are the figures at 1.
  *
  *  - `log`: a 300k-event hot stream; a 10⁶-stream Manifest migrate and fence
  *    pass with flat claim files, then the chain a fresh writer reads with 10⁴
  *    more inline claims; a projector over 2M history and 1M live events,
  *    exactly once; a 10M-key read model through compact and forget.
  *  - `cc`: exact components of a 10⁶-diameter chain plus 300k triangles.
  *  - `linearity`: per-unit cost over a decade for the phash index build
  *    (400k → 4M images), the intake router and its re-route (24k → 240k
  *    blobs) and image decode + hash (50k → 500k).
  *  - `ann`: recall floors over 10⁶ planted-twin documents and vectors.
  */
object Scale {
  type Scenario = (SparkSession, Double) => Unit

  /** The factor ScaleSpec runs every scenario at. */
  val Smallest = 0.001

  /** Per-unit cost may grow at most this much per decade of input. */
  private val MaxRatioPerDecade = 1.5

  lazy val scenarios: Map[String, Scenario] = Map(
    "log" -> log, "cc" -> cc, "linearity" -> linearity, "ann" -> ann)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && scenarios.contains(args(0)),
      s"usage: Scale <${scenarios.keys.toSeq.sorted.mkString("|")}> [factor]")
    val spark = session("graft-scale")
    try scenarios(args(0))(spark, args.lift(1).fold(1.0)(_.toDouble))
    finally spark.stop()
  }

  /** The one `graft.tools` session: `SPARK_GRAFT_CPUS` cores and shuffle partitions (default 32). */
  def session(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]").appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A scenario's timed steps and figures, closed by one JSON line (numbers
    * rounded by hand: `f""` prints comma decimals in some locales). */
  private final class Run(scenario: String, factor: Double) {
    private val steps, figures = ArrayBuffer.empty[(String, Double)]

    def step[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      steps += name -> (System.nanoTime() - t0) / 1e9
      println(f"SCALE $scenario%-9s $name%-56s ${steps.last._2}%9.2f s")
      r
    }

    def wall(name: String)(f: => Any): Double = { step(name)(f); steps.last._2 }

    def figure(name: String, v: Double): Double = {
      println(f"SCALE $scenario%-9s $name = ${r3(v)}%s")
      figures += name -> v
      v
    }

    /** Per-unit cost growth per decade from the first to the last `(n, wall)`
      * tier: 1 is linear, below 1 is fixed overhead amortizing. */
    def perUnitRatio(name: String, tiers: Seq[(Long, Double)]): Unit = {
      val ((n0, w0), (n1, w1)) = (tiers.head, tiers.last)
      val ratio = figure(s"$name per-unit ratio/decade",
        math.pow((w1 / n1) / (w0 / n0), 1 / math.log10(n1.toDouble / n0)))
      require(ratio <= MaxRatioPerDecade, s"$name: per-unit cost grew ${r3(ratio)}x/decade")
    }

    def close(): Unit = {
      def obj(kv: ArrayBuffer[(String, Double)]) =
        kv.map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
      println(s"""SCALE {"scenario":"$scenario","factor":$factor,""" +
        s""""steps":${obj(steps)},"figures":${obj(figures)},"ok":true}""")
    }

    private def r3(v: Double): Double = math.rint(v * 1000) / 1000
  }

  /** `base`× `factor`, at least `min`, rounded to a multiple of `unit`. */
  private def size(base: Long, factor: Double, min: Long, unit: Long = 1): Long =
    math.max(min, math.round(base * factor / unit) * unit)

  /** The corpus fixture: `tokens` words picked from a 5,000-word vocabulary
    * by xxhash64 of (seed, position), cycled to `padTo` chars. Distinct
    * seeds give distinct texts (a linear multiplier would factor through
    * `seed mod 5000`); past 1,152 chars, one 36×32 raster, distinct images.
    */
  private def text(seed: Column, tokens: Int = 40, padTo: Int = 0): Column = {
    val words = concat_ws(" ", (0 until tokens).map(j =>
      concat(lit("w"), pmod(xxhash64(seed * 31 + j), lit(5000)))): _*)
    if (padTo > 0) rpad(words, lit(padTo), words) else words
  }

  /** Planted twins: row `10k + 1` takes row `10k`'s seed. */
  private def twinSeed(id: Column): Column = when(id % 10 === 1, id - 1).otherwise(id)

  private def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit
  }

  private object Balance extends AggregateType[Long] {
    val (kind, empty) = ("Account", 0L)
    def fold(s: Long, k: String, body: String): Long = s + Codec.parse(body).get("money").asLong()
    def encodeState(s: Long): String = s"""{"money":$s}"""
    def decodeState(b: String): Long = fold(0L, kind, b)
  }

  def log(spark: SparkSession, factor: Double): Unit = withTempDir("graftscale-log") { root =>
    import spark.implicits._
    val run = new Run("log", factor)

    // a hot stream lands in one import group and one fold group: both sort
    // spillably instead of buffering the key on-heap
    val hot = size(300000, factor, 1000)
    val events = new EventLog(spark, s"$root/events", numBuckets = 64)
    run.step(s"bulkImport one $hot-event stream") {
      require(events.bulkImport(spark.range(hot).select(lit("01HXSCALEHOT").as("aggregate_id"),
        lit("Account").as("aggregate_kind"), lit("MoneyDeposited").as("kind"),
        lit("""{"money":1}""").as("body"), col("id").as("seq"),
        (lit(1710000000000L) + col("id")).as("ts")), timeCol = Some("ts")) == hot)
    }
    run.step("rehydrateAll over the hot stream") {
      require(new EventStore(events, Balance).rehydrateAll().collect().map(_._2).toSeq == Seq(hot))
    }

    // Manifest migrate + fences at 10⁶ streams: reservations ride sidecars
    // (inline below the claim threshold), so claim files stay flat
    val docs = size(1000000, factor, 1000)
    val mig = new EventLog(spark, s"$root/migrate", numBuckets = 32, ulidSeed = Some(88L),
      commitMode = CommitMode.Manifest)
    def claimFile(log: EventLog, what: String, c: CommitClaim): Unit = {
      require(c.streamsRef.isDefined == ((c.refCount max c.streams.size) > ManifestCommitLog
        .inlineClaimMaxStreams) && c.streams.isEmpty == c.streamsRef.isDefined, s"claim ${c.n}")
      val p = new Path(s"${log.path}/${ManifestCommitLog.CommitDir}/v${c.n}.tsv")
      run.figure(s"$what claim bytes",
        p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen.toDouble): Unit
    }
    run.step(s"bulkImport $docs single-event streams") {
      require(mig.bulkImport(spark.range(1L, docs + 1).select(
          format_string("mig%012d", col("id")).as("aggregate_id"), lit("Doc").as("aggregate_kind"),
          lit("Created").as("kind"), lit("""{"v":1}""").as("body"), lit(1).as("seq")),
        nowMs = 1700000000000L) == docs)
    }
    run.step(s"migrateDistributed over $docs streams") {
      require(mig.migrateDistributed(1, Set("Created"),
        evs => Some(evs.map(e => EventDetail("CreatedV2", e.body))),
        nowMs = 1700000100000L, dense = true).count() == docs)
    }
    claimFile(mig, "migration", mig.manifest.claims().filter(_.kind == CommitClaim.KindRewrite).last)
    run.step(s"appendNoOpFences over $docs streams") {
      require(mig.appendNoOpFences("Doc", nowMs = 1700000200000L) == docs)
    }
    claimFile(mig, "fence", mig.manifest.claims().last)
    run.step("gcReplaced after the migration") {
      require(mig.gcReplaced(retentionMs = 0L) > 0)
      require(mig.activeEvents.count() == 2 * docs) // copy + fence per stream
    }
    // the chain a fresh writer reads: those claims plus 10⁴ inline ones
    val claims = size(10000, factor, 100).toInt
    val tip = mig.manifest.refresh()
    run.step(s"tryClaim $claims inline claims") {
      (1 to claims).foreach { i =>
        val (k, v) = (i % 5000, i / 5000)
        require(mig.manifest.tryClaim(CommitClaim(tip + i, Map(s"st-$k-a" -> (v, v + 1),
          s"st-$k-b" -> (v, v + 1)), Seq.empty, "scale", System.currentTimeMillis(), done = false)))
        if (i % 3 == 0) mig.manifest.markDone(tip + i)
      }
    }
    val cold = new ManifestCommitLog(spark, mig.path)
    run.step(s"cold + warm refresh over ${tip + claims} claims") {
      require(cold.refresh() == tip + claims && cold.refresh() == tip + claims)
    }
    val probe = (1 to 50).map(i => s"st-$i-a") ++ (1 to 50).map(i => f"mig${i * (docs / 50)}%012d")
    run.step("reservedHeads on a 100-stream batch, cold + warm") {
      val heads = cold.reservedHeads(probe)
      require(heads.size == 100 && probe.drop(50).forall(heads(_) == 4) && cold.reservedHeads(probe) == heads)
    }
    run.step(s"new-stream probe vs $docs reservations") {
      val fresh = spark.range(10000).select(concat(lit("new-"), col("id")).as("aggregate_id"))
      require(cold.reservationsDF().map(_.select("aggregate_id")
        .join(fresh, Seq("aggregate_id"), "left_semi").count()).contains(0L))
    }

    // projector: catchup, then live appendBulk waves through the watermark
    // dedup; counts and dense per-partition sequences prove exactly once
    val history = size(2000000, factor, 2000, 20)
    val (waves, wave) = (2, size(500000, factor, 400, 5))
    val proj = new EventLog(spark, s"$root/projector", numBuckets = 32, ulidSeed = Some(11L),
      commitMode = CommitMode.Manifest)
    def docRows(n: Long, streams: Long, kind: String) = spark.range(n).select(
      concat(lit("p-"), pmod(col("id"), lit(streams))).as("aggregate_id"),
      lit("Doc").as("aggregate_kind"), lit(kind).as("kind"),
      concat(lit("""{"i":"""), col("id"), lit("}")).as("body"),
      (col("id") / streams + 1).cast("int").as("seq"))
    run.step(s"bulkImport $history history events") {
      require(proj.bulkImport(docRows(history, history / 20, "EHist"),
        nowMs = System.currentTimeMillis() - 3600 * 1000L) == history)
    }
    val projector = new Projector(proj, "pscale", proj.path)
    val caught, lived = new LongAdder
    run.step(s"catchup over $history events") {
      projector.catchup(ds => caught.add(ds.filter(col("meta_kind") === "catchup").count()))
    }
    require(caught.sum == history, s"catchup delivered ${caught.sum} of $history")
    val q = projector.live(ds => lived.add(ds.count()))
    try run.step(s"live: $waves waves of $wave events") {
      (1 to waves).foreach { k =>
        require(proj.appendBulk(docRows(wave, wave / 5, s"EW$k")) == wave)
        q.processAllAvailable()
      }
    } finally q.stop()
    val seqSum = projector.checkpoints.load("pscale").filterNot(_._1 == 0).values.map(_.sequence).sum
    require(lived.sum == waves * wave && seqSum == waves * wave,
      s"live delivered ${lived.sum}, bus sequences sum to $seqSum, of ${waves * wave}")
    claimFile(proj, "live appendBulk", proj.manifest.claims().last)

    // read model: 10M keys × two versions, compacted, 1% forgotten
    val keys = size(10000000, factor, 1000, 100)
    val rmDir = s"$root/readmodel"
    val rm = new ReadModel(spark, rmDir, "k")
    def model(v: Column) =
      spark.range(keys).select(concat(lit("k"), col("id")).as("k"), v.as("v"), lit("pii").as("who"))
    run.step(s"merge v1 + v2 of $keys keys") {
      rm.merge(model(col("id")), version = Some(1L))
      rm.merge(model(col("id") * 2), version = Some(2L))
    }
    run.step("current + compact") { require(rm.current().count() == keys); rm.compact(gcRetentionMs = 0L) }
    require(spark.read.parquet(rmDir).count() == keys, "compact keeps one row per key")
    require(rm.current().filter(col("k") === "k7").select("v").head().getLong(0) == 14L)
    run.step(s"forget ${keys / 100} keys") {
      require(rm.forget(spark.range(0, keys, 100).select(concat(lit("k"), col("id")).as("k"))) ==
        keys / 100)
    }
    require(spark.read.parquet(rmDir).count() == keys - keys / 100, "victims erased, survivors kept")
    require(rm.current().filter(col("k") === "k100").isEmpty, "victim keys gone")
    run.close()
  }

  def cc(spark: SparkSession, factor: Double): Unit = {
    import spark.implicits._
    val run = new Run("cc", factor)
    // a chain (fixed-round propagation would need chainN rounds) + triN triangles
    val (chainN, triN) = (size(1000000, factor, 1000), size(300000, factor, 300))
    val chain = spark.range(chainN - 1).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val tri = spark.range(triN).flatMap { k =>
      val b = chainN + 3 * k
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    }.toDF("doc_a", "doc_b")
    val labels = run.step(s"components: chain $chainN + $triN triangles") {
      Dedup.connectedComponents(spark.range(chainN + 3 * triN).select(col("id").as("node")),
        chain.union(tri)).localCheckpoint()
    }
    run.step("assert exact labels") {
      require(labels.select("label").distinct().count() == 1 + triN, "1 + triN components")
      require(labels.filter(col("node") < chainN && col("label") =!= 0).isEmpty, "chain label 0")
      require(labels.filter(col("node") >= chainN &&
        col("label") =!= col("node") - pmod(col("node") - chainN, lit(3))).isEmpty, "triangle bases")
    }
    run.close()
  }

  def linearity(spark: SparkSession, factor: Double): Unit = withTempDir("graftscale-lin") { root =>
    import spark.implicits._
    val run = new Run("linearity", factor)
    def tiers(base: Long) = { val n = size(base, factor, 100, 10); Seq(n, 10 * n) }
    def docs(n: Long, seed: Column, tokens: Int, padTo: Int) =
      spark.range(n).select(col("id").as("doc_id"), text(seed, tokens, padTo).as("text"))

    // phash index build over pre-encoded images: scan, decode, dHash, write
    run.perUnitRatio("phash build", tiers(400000).map { n =>
      run.step(s"encode $n images (untimed fixture)") {
        Multimodal.synthImages(Multimodal.pack(docs(n, col("id"), 40, 1400), "doc_id", "text", "raw"),
          format = "bmp").select(col("media_id").as("img_id"), col("img")).write.parquet(s"$root/img$n")
      }
      n -> run.wall(s"phash build over $n images") {
        PhashIndex.build(spark.read.parquet(s"$root/img$n"), "img_id", "img", s"$root/ph$n", sigBuckets = 64)
      }
    })

    // the router over real containers, then the re-route after a policy
    // bump, whose cost and input bytes ride the undecided 3/10 slice
    val routed = tiers(24000).map { n =>
      val (blobs, persisted, unit) = (s"$root/blobs$n", s"$root/routed$n", n / 10)
      run.step(s"encode $n mixed blobs (untimed fixture)") {
        val packed = Multimodal.pack(docs(n, col("id"), 12, 300), "doc_id", "text", "raw")
        def cls(lo: Int, hi: Int) = packed.filter(pmod(col("media_id"), lit(10)).between(lo, hi - 1))
        def blob(df: DataFrame, c: Column) = df.select(col("media_id"), c.as("content"))
        // 4 png/bmp, 1 gif, 2 pcm wav, 1 µ-law wav, 1 truncated header, 1 raw text
        blob(Multimodal.synthImages(cls(0, 4)), col("img"))
          .unionByName(blob(Multimodal.synthImages(cls(4, 5), format = "gif"), col("img")))
          .unionByName(blob(Multimodal.synthAudio(cls(5, 7), nSamples = 512), col("audio")))
          .unionByName(blob(Multimodal.synthAudio(cls(7, 8), nSamples = 512),
            overlay(col("audio"), lit(Array[Byte](7, 0)), lit(21))))
          .unionByName(blob(Multimodal.synthImages(cls(8, 9)), substring(col("img"), 1, 14)))
          .unionByName(blob(cls(9, 10), col("content"))).write.parquet(blobs)
      }
      val route = Multimodal.routeIntake(spark.read.parquet(blobs), "content")
      val wall = run.wall(s"route $n blobs")(route.write.format("noop").mode("overwrite").save())
      val census = route.groupBy("route").count().as[(String, Long)].collect().toMap
      require(census == Map("image" -> 5 * unit, "audio" -> 2 * unit, "quarantine:wav-ulaw" -> unit,
        "corrupt" -> unit, "unknown" -> unit), s"route census at $n: $census")
      run.step(s"persist $n routed blobs (untimed fixture)")(Multimodal.persistRouted(route, persisted))
      val fs = new Path(persisted).getFileSystem(spark.sessionState.newHadoopConf())
      def bytes(dir: String) = fs.getContentSummary(new Path(dir)).getLength
      val decided = Seq("image", "audio", "video").map(r => s"$persisted/route=$r")
        .filter(d => fs.exists(new Path(d))).map(bytes).sum
      val undecided = bytes(persisted) - decided
      val read = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.bytesRead): Unit
      }
      Bridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      var rerouted = 0L
      val reWall = try run.wall(s"re-route $n after a policy bump") {
        rerouted = Multimodal.reRoutePersisted(spark, persisted, "content",
          currentVersion = Multimodal.RoutePolicyVersion + 1)
      } finally {
        Bridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      require(rerouted == 3 * unit, s"re-route touched $rerouted blobs, not the ${3 * unit} undecided")
      // the undecided slice may be read a bounded number of times (scan +
      // staged count), the decided side only for footers and narrow columns
      require(run.figure(s"re-route $n input bytes", read.get.toDouble) <=
        3 * undecided + decided / 10 + (32L << 20), s"re-route read corpus-proportional bytes " +
        s"(undecided $undecided, decided $decided)")
      (n -> wall, rerouted -> reWall)
    }
    run.perUnitRatio("route", routed.map(_._1))
    run.perUnitRatio("re-route", routed.map(_._2))

    // real BMP encode → ImageIO decode → dHash, off a checkpointed corpus
    run.perUnitRatio("decode+hash", tiers(50000).map { n =>
      val corpus = docs(n, twinSeed(col("id")), 40, 1400).localCheckpoint()
      require(corpus.count() == n)
      n -> run.wall(s"encode + decode + phash $n images") { // noop: every hash column computes
        Multimodal.perceptualHash(Multimodal.synthImages(Multimodal.pack(corpus, "doc_id", "text",
          "image/gray"), format = "bmp")).write.format("noop").mode("overwrite").save()
      }
    })
    run.close()
  }

  def ann(spark: SparkSession, factor: Double): Unit = withTempDir("graftscale-ann") { root =>
    val run = new Run("ann", factor)
    val n = size(1000000, factor, 5000, 10)
    val planted = n / 10 // ids ≡ 1 (mod 10) twin their base

    // text twins are exact copies: the presigned screen must flag them all
    val texts = run.step(s"synthesize $n documents") {
      spark.range(n).select(col("id").as("doc_id"), text(twinSeed(col("id"))).as("text"))
        .localCheckpoint().tap(d => require(d.count() == n))
    }
    run.step(s"presigned incremental screen: $planted twins vs the rest") {
      val corpus = texts.filter(col("doc_id") % 10 =!= 1)
      val out = Dedup.incrementalDedupPresigned(corpus,
        Dedup.minhashSignatures(corpus, "doc_id", "text", bands = 4),
        texts.filter(col("doc_id") % 10 === 1), "doc_id", "text", threshold = 0.5).localCheckpoint()
      val recall = out.filter(!col("is_new")).count().toDouble / out.count()
      require(run.figure("presigned screen recall", recall) >= 0.999, s"recall $recall")
    }

    // vector twins copy their base with dim 7 nudged by +0.02 (cosine ≈ 0.99999)
    val emb = run.step(s"synthesize $n 64-dim vectors") {
      spark.range(n).select(col("id").as("vec_id"), array((0 until 64).map { j =>
        val x = pmod(xxhash64(twinSeed(col("id")) * 67 + j), lit(1000)) / 500.0 - 1.0
        (if (j == 7) x + when(col("id") % 10 === 1, 0.02).otherwise(0.0) else x).cast("float")
      }: _*).as("embedding")).localCheckpoint().tap(e => require(e.count() == n))
    }
    run.step(s"SRP cosine pairs over $n vectors") {
      val pairs = Similarity.cosinePairs(emb, "vec_id", "embedding", threshold = 0.9).localCheckpoint()
      require(pairs.filter(col("id_a") % 10 === 0 && col("id_b") === col("id_a") + 1).count() == planted)
      require(pairs.count() <= planted + math.max(1L, planted / 100), "false-positive volume")
    }
    def recall(exact: DataFrame, approx: DataFrame, name: String, floor: Double): Double =
      run.figure(s"$name recall@5", Similarity.recallAtK(exact, approx, 5).agg(avg("recall")).head()
        .getDouble(0)).tap(r => require(r >= floor, s"$name recall@5 $r below $floor"))
    def twinsTop(ranked: DataFrame, what: String): Unit = require(ranked.filter(col("qid") % 10 === 1 &&
      col("rn") === 1 && col("vec_id") === col("qid") - 1).count() == 2, s"twins must top $what")

    // SQ8 full scans against the exact inner-product top-5
    val q16 = emb.filter(col("vec_id") < 16)
    val qk = emb.filter(col("vec_id").between(1000, 1015)) // seed-disjoint
    val exact = run.step("exact float top-5 full scan (16 queries)") {
      emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ce"))
        .join(broadcast(q16.select(col("vec_id").as("qid"),
          Similarity.asDouble(col("embedding")).as("qe"))), col("vec_id") =!= col("qid"))
        .withColumn("score", Similarity.dot(col("qe"), col("ce")))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rn") <= 5).select("qid", "vec_id").localCheckpoint()
    }
    val sq = run.step("SQ8 top-5 full scan (16 queries)") {
      Similarity.sqTopK(emb, q16, "vec_id", "embedding", k = 5).localCheckpoint()
    }
    recall(exact, sq, "SQ8", 0.5); twinsTop(sq, "SQ8")
    val codes = run.step("SQ8 quantize the corpus once") {
      Similarity.sqQuantize(emb, "vec_id", "embedding", Similarity.sqBounds(emb, "embedding"))
        .select(col("vec_id"), col("qv").as("cq")).localCheckpoint()
    }
    run.step("SQ8 probe over the quantized corpus (16 queries)") {
      require(Similarity.sqTopKQuantized(codes, codes.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("cq").as("qq")), 5).count() == 16 * 5)
    }

    // persisted IVF indexes over one 64-cell geometry (build evens, append
    // odds), probed at nprobe 8; recall is against the float probe over the same
    // cells, so it isolates the pre-rank loss
    val cents = Similarity.farthestFirstCentroidsLocal(
      Sampling.hashSample(emb, "vec_id", 0.02, salt = "c"), "vec_id", "embedding", nlist = 64)
    val (evens, odds) = (emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
    def pqIndex(name: String, books: Option[Array[Array[Array[Double]]]]) = s"$root/$name".tap(path =>
      run.step(s"$name build") {
        Similarity.buildIvfIndex(evens, "vec_id", "embedding", path, 64, Some(cents),
          Similarity.IvfCodec.Pq(8, 16, books))
        Similarity.appendToIvfIndex(spark, path, odds, "vec_id", "embedding")
      })
    def probe(idx: String, queries: DataFrame, rerank: Int, which: String = "first 16") =
      run.step(s"${idx.split('/').last} probe top-5 of the $which (nprobe 8, rerank $rerank)") {
        Similarity.ivfProbe(spark, idx, queries, "vec_id", "embedding",
          k = 5, nprobe = 8, rerank = rerank).localCheckpoint()
      }
    def float(idx: String, queries: DataFrame) = Similarity.ivfTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 8).localCheckpoint()
    val sqIdx = s"$root/ivf-sq8"
    run.step("ivf-sq8 build") {
      Similarity.buildIvfIndex(evens, "vec_id", "embedding", sqIdx, 64, Some(cents),
        Similarity.IvfCodec.Sq())
      Similarity.appendToIvfIndex(spark, sqIdx, odds, "vec_id", "embedding")
    }
    val floatQ16 = float(sqIdx, q16) // the PQ indexes share these cells
    val sqp = probe(sqIdx, q16, 4)
    recall(floatQ16, sqp, "IVF-SQ8", 0.8); twinsTop(sqp, "IVF-SQ8")
    val pqIdx = pqIndex("ivf-pq", None)
    val pq = probe(pqIdx, q16, 64)
    recall(floatQ16, pq, "IVF-PQ", 0.4); twinsTop(pq, "IVF-PQ")
    // trained books rank at least as well as the seeded first-kc books at
    // equal rerank, on queries disjoint from the seed block (the seeded
    // books are those vectors, which would favour them)
    val books = run.step("PQ k-means codebooks (2% sample)") {
      Similarity.pqCodebooksKmeans(Sampling.hashSample(emb, "vec_id", 0.02, salt = "pqk"),
        "vec_id", "embedding", m = 8, kc = 16)
    }
    val kIdx = pqIndex("ivf-pq-kmeans", Some(books))
    val floatQk = float(pqIdx, qk)
    Seq(16, 64).foreach { rerank =>
      val seeded = recall(floatQk, probe(pqIdx, qk, rerank, "disjoint 16"), s"IVF-PQ seeded @$rerank", 0.0)
      val trained = probe(kIdx, qk, rerank, "disjoint 16")
      recall(floatQk, trained, s"IVF-PQ k-means @$rerank", seeded)
      twinsTop(trained, s"k-means IVF-PQ @$rerank")
    }
    run.close()
  }
}
