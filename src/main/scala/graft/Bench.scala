package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is forced through the `noop` sink so the
  * whole plan executes (a bare `count()` would let column pruning skip the
  * expensive projections — md5 chains, JSON codecs, dot products).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/session warmup outside the timed region (codegen, parquet footers)
    SparkEntry.queries.get("s4_by_ids").foreach { fn =>
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case _: Throwable => }
    }

    // repeats > 1: report the minimum (steady-state) time per query
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=d4_ngram_jaccard,d6_dedup_survivors → subset run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }

    // The calibration micro-query: a fixed CPU-bound plan independent of
    // the corpus and of SparkEntry — measures the HOST's speed at the
    // moment it runs, so walls can be compared across boots mechanically.
    def calibrationOnce(): Double = {
      import org.apache.spark.sql.functions.{col, lit, sum, xxhash64}
      val t0 = System.nanoTime()
      // mask to 16 bits before summing: 4e8 × 65535 stays far under Long
      // range, so the probe is ANSI-overflow-safe
      spark.range(400000000L)
        .select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFL)))).collect()
      (System.nanoTime() - t0) / 1e9
    }

    // OPENING calibration (VERDICT r15 #1): the run's baseline host speed,
    // measured BEFORE the query loop so a mid-run slowdown has something
    // in-artifact to be compared against.
    val openingCalibration = { calibrationOnce(); Seq(calibrationOnce(), calibrationOnce()).min }

    // Committed per-query reference walls (same box, same sf, builder
    // steady-state) — the trigger for the adjacent throttle re-probe. Two
    // consecutive rounds the driver's artifact read x9 at ~3× the
    // builder's same-boot wall with AGREEING repeats: a sustained host
    // throttle during one query is invisible to the repeat-spread witness,
    // so any query whose min exceeds probeTriggerRatio × its reference
    // gets an IMMEDIATE calibration probe — if the host is still slow, the
    // probe reads ≥2× the opening calibration and the hot wall carries its
    // explanation in the same artifact; if the probe is normal, the
    // slowdown was the query itself (a real regression, also witnessed).
    val probeTriggerRatio =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_RATIO", "2.5").toDouble
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "tools/bench_reference.json")
    // the reference run's host speed — its closing calibration and, when
    // recorded, its opening one — for the calibration-normalized total
    // below (independent of the per-query walls, which are sf-gated)
    val refCalibration: Option[(Double, Option[Double])] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(refPath)), "UTF-8")
      def field(name: String) = s""""$name"\\s*:\\s*([0-9.eE+-]+)""".r
        .findFirstMatchIn(txt).map(_.group(1).toDouble).filter(_ > 0)
      field("calibration_sec").map(_ -> field("opening_calibration_sec"))
    } catch { case _: Throwable => None }
    val reference: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(refPath)), "UTF-8")
      // reference walls are sf-specific: apply only when this run's sf
      // basename matches the reference's recorded sf
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      val refSf = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      if (!refSf.contains(sfName)) Map.empty
      else {
        val qBlock = txt.substring(txt.indexOf("\"queries\""))
        """"([a-z0-9_]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(qBlock)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }
    // A query that throws must surface as an ERROR, not a fast fake timing —
    // a plan-time failure "runs" in 0.1s and silently deflates the round's
    // bench (this poisoned BENCH_r07). Per query: min over successful
    // repeats, or an entry in `errors` when every repeat threw.
    val spreads = scala.collection.mutable.Map.empty[String, Double]
    val walls = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val probes = scala.collection.mutable.Map.empty[String, (Double, Double, Double)]
    val runs = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val attempts = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      }
      val ok = attempts.collect { case Right(t) => t }
      // per-repeat ABSOLUTE walls (VERDICT r15 #1a): the min hides when
      // within the run the host moved; the raw series doesn't
      if (ok.nonEmpty) walls += (name -> ok)
      // Transient witness (VERDICT r14 #1): when repeats disagree by >1.5×
      // the environment moved mid-query (CPU contention, GC storm) — record
      // the spread so a hot reading in the artifact carries its own
      // explanation instead of looking like a plan regression.
      if (ok.size > 1 && ok.max / ok.min > 1.5)
        spreads += (name -> ok.max / ok.min)
      // Adjacent throttle re-probe (VERDICT r15 #1b): min over repeats
      // exceeding the committed reference by probeTriggerRatio fires one
      // calibration run RIGHT HERE — a sustained host throttle that slowed
      // every repeat equally (spread-invisible) is witnessed by the probe
      // reading hot in the same artifact, adjacent in time to the query.
      if (ok.nonEmpty) reference.get(name).foreach { ref =>
        if (ref > 0 && ok.min > probeTriggerRatio * ref) {
          val p = calibrationOnce()
          probes += (name -> ((ok.min, ref, p)))
          System.err.println(f"[bench] $name min ${ok.min}%.2fs > " +
            f"$probeTriggerRatio× ref ${ref}%.2fs — adjacent calibration " +
            f"probe $p%.3fs (opening $openingCalibration%.3fs)")
        }
      }
      // per-query isolation, OUTSIDE the timed region: queries that
      // localCheckpoint (index probes, pair machines) leave RDD blocks
      // that only free when the ContextCleaner notices their frames are
      // unreferenced — which takes a GC. With a large heap GC runs
      // rarely, so block-storage pressure accumulates across the ~130
      // queries and pushes LATER heavy queries into eviction/GC churn
      // (measured at sf1: d7 read 14.9 s mid-run vs 2.2 s in a fresh
      // JVM). One explicit GC per query keeps each timing independent of
      // alphabetical position.
      System.gc()
      if (ok.nonEmpty) (name, Right(ok.min)) else (name, Left(attempts.head.left.getOrElse("?")))
    }
    val results = runs.collect { case (n, Right(t)) => (n, t) }
    val errors = runs.collect { case (n, Left(m)) => (n, m) }

    // Provenance + calibration (VERDICT r8 #4): commit hash and boot id pin
    // WHAT ran WHERE; the calibration micro-query — a fixed CPU-bound plan
    // independent of the corpus and of SparkEntry — measures THIS boot's
    // machine speed so cross-round deltas can be normalized mechanically
    // instead of re-litigating boot-to-boot CPU variance.
    val commit = try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "unknown"
    } catch { case _: Throwable => "unknown" }
    val bootId = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id")), "UTF-8").trim
    } catch { case _: Throwable => "unknown" }
    // CLOSING calibration: already warm, steady-state min — with the
    // opening probe it brackets the run (a boot that was slow the whole
    // time reads hot at both ends; a mid-run throttle shows only in the
    // adjacent probes).
    val calibration = Seq(calibrationOnce(), calibrationOnce()).min

    def jq(s: String): String = JsonEscape.quote(s)
    val qs = results.map { case (k, v) => jq(k) + ":" + v }.mkString("{", ",", "}")
    val es = errors.map { case (k, m) => jq(k) + ":" + jq(m) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // locale-independent formatting (f"" uses the JVM default locale — a
    // comma-decimal LANG would emit invalid JSON) and a finite guard (a
    // 0-ns min repeat would make the ratio Infinity, also invalid JSON)
    val sp = spreads.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val r = if (v.isFinite) math.rint(v * 100) / 100 else 9999.0
        jq(k) + ":" + r
      }.mkString("{", ",", "}")
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val rw = walls.toSeq.sortBy(_._1)
      .map { case (k, vs) => jq(k) + ":" + vs.map(r3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val pr = probes.toSeq.sortBy(_._1)
      .map { case (k, (mn, ref, p)) =>
        jq(k) + s""":{"min_sec":${r3(mn)},"ref_sec":${r3(ref)},"probe_sec":${r3(p)},"probe_vs_opening":${r3(p / openingCalibration)}}"""
      }.mkString("{", ",", "}")
    // Calibration-normalized total (VERDICT r16 #5, additions-only): the
    // raw total times the ratio of the committed reference run's host
    // speed to THIS run's. Both sides use ONE estimator: when the
    // reference records its opening calibration too, each side's speed is
    // the mean of its opening and closing calibrations (a throttle
    // confined to one end normalizes half-way, a boot-long slowdown
    // normalizes fully); otherwise each side's speed is its closing
    // calibration alone. Raw `value` stays untouched — this is a derived
    // field so a throttled run remains mechanically comparable across
    // rounds.
    val calSpeeds: Option[(Double, Double)] = refCalibration.map {
      case (refClosing, Some(refOpening)) =>
        ((refOpening + refClosing) / 2.0, (openingCalibration + calibration) / 2.0)
      case (refClosing, None) => (refClosing, calibration)
    }
    val calNormFields = calSpeeds.fold("") { case (ref, here) =>
      s""","total_cal_normalized_sec":${r3(total * ref / here)},"cal_ref_sec":${r3(ref)}"""
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"repeat_spread_gt1p5":$sp,"repeat_walls":$rw,"throttle_probes":$pr,"n_ok":${results.size},"n_err":${errors.size},"sf":"$sfDir","commit":${jq(commit)},"boot_id":${jq(bootId)},"calibration_sec":$calibration,"opening_calibration_sec":${r3(openingCalibration)}$calNormFields,"probe_trigger_ratio":$probeTriggerRatio,"ref_entries":${reference.size},"cpus":${jq(cpus)},"repeats":$repeats}"""
    println(line)
    // The driver captures only a truncated stdout tail (loses ~15 of 78 queries
    // every round) — also persist the full JSON so the artifact survives.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json"))
    try {
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    spark.stop()
    // A bench where >20% of queries errored is a broken harness, not a
    // measurement — make the round fail loudly instead of recording fiction.
    if (errors.size * 5 > selected.size) {
      System.err.println(s"[bench] ${errors.size}/${selected.size} queries errored — failing run")
      sys.exit(1)
    }
  }
}
