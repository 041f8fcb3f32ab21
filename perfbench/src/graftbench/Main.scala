package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One workload run. `perfbench/run.py` builds the classpath and passes:
  *
  *   --workload serve|batch  --seed N  --seconds S  --trace 0|1
  *   --work DIR     scratch space for logs, Spark local dirs and temp files
  *   --out FILE     the full JSON report (metrics, detail, gates, host witness)
  *   --data DIR     oracle tables for `batch`
  *   --expected F   JSON {query: digest} the batch results must match
  *   --streams N --events N --setups N   serve sizes; set-up repeats
  *   --warmup S     (serve) untimed load seconds before the measured ones
  *   --passes N     (batch) exactly N timed passes instead of --seconds
  *   --capture F    (batch) write the observed digests to F instead of gating
  *   --dump DIR     (batch) also write each result as parquet for tools/check.py
  */
object Main {
  /** Phase marks in the run log: seconds since the JVM started, then the
    * JVM's JIT compile, CPU and GC seconds so far.
    */
  def mark(phase: String): Unit = System.err.println(
    f"[phase] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s $phase " +
      f"(jit ${ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3}%.1f s, " +
      f"cpu ${cpuNs() / 1e9}%.1f s, gc ${gcMs() / 1e3}%.1f s)")

  /** CPU time of the whole JVM (driver and local executors), in ns. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** `local[4]`: the serve workload's 3 clients plus its live projector. */
  val Cores = 4

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // loopback only: the run needs no resolvable host name or outside network
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Host CPU counters (jiffies: total, steal) from /proc/stat, when the
    * platform has it: the share a hypervisor took away during the run.
    */
  private def cpuTicks(): Option[(Long, Long)] = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().find(_.startsWith("cpu ")).map { l =>
      val v = l.trim.split("\\s+").drop(1).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    } finally f.close()
  } catch { case _: Exception => None }

  /** Host witness: `graft.Bench`'s calibration plan (xxhash64 over a range,
    * masked sum) at 1/10 of its rows. Recorded as a diagnostic only — never
    * used to rescale a metric.
    */
  private def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(40000000L).select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFL)))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def readExpected(path: Option[String]): Map[String, Map[String, Double]] =
    path.filter(p => Files.exists(Paths.get(p))).fold(Map.empty[String, Map[String, Double]]) { p =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(Paths.get(p)))
      root.properties().asScala.map { q =>
        q.getKey -> q.getValue.properties().asScala.map(f => f.getKey -> f.getValue.asDouble()).toMap
      }.toMap
    }

  private def metricsJson(ms: Seq[Metric]): String = Stats.obj(ms.map { m =>
    m.name -> Stats.obj(Seq("value" -> Stats.num(m.value), "unit" -> Stats.str(m.unit),
      "samples" -> m.samples.toString))
  })

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "15").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val setups = opt.getOrElse("setups", "3").toInt

    val ticks0 = cpuTicks()
    var calOpen = Double.NaN
    val (spark, result, observed) = workload match {
      case "serve" =>
        val spark = session(work)
        val trace = new Trace(spark.sparkContext, traced)
        // the opening witness runs once the set-ups have warmed the JVM, as
        // the closing one does
        val r = new Serve(spark, work, seed, seconds, opt.getOrElse("warmup", "8").toDouble,
          opt.getOrElse("streams", "2000").toInt,
          opt.getOrElse("events", "10").toInt, setups, trace, () => {
            calOpen = calibration(spark)
            mark("opening calibration done")
          }).run()
        (spark, r, Map.empty[String, Map[String, Double]])
      case "batch" =>
        // set-up: a fresh session plus one warm-up query, repeated; the last
        // session runs the workload
        val data = opt("data")
        val setupS = (1 to setups).map { i =>
          val t0 = System.nanoTime()
          val s = session(work)
          Batch.noop(graft.SparkEntry.queries("s4_by_ids")(s, data))
          val dt = (System.nanoTime() - t0) / 1e9
          mark(s"set-up $i done")
          if (i < setups) s.stop()
          dt
        }
        val spark = session(work)
        val trace = new Trace(spark.sparkContext, traced)
        calOpen = calibration(spark)
        mark("opening calibration done")
        val (r, obs) = new Batch(spark, data, seed, seconds, opt.get("passes").map(_.toInt), trace,
          readExpected(opt.get("expected")), opt.get("dump")).run()
        val withSetup = r.copy(e2e = Metric("setup_s", Stats.median(setupS), "s", setupS.size) +: r.e2e)
        (spark, withSetup, obs)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    mark("workload done")
    val calClose = calibration(spark)

    opt.get("capture").foreach { f =>
      val js = Stats.obj(observed.toSeq.sortBy(_._1).map { case (q, m) =>
        q -> Stats.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Stats.num(v) })
      })
      Files.write(Paths.get(f), (js + "\n").getBytes(UTF_8))
      // tools/check.py reads the oracle SQL of every dumped query from here;
      // earlier captures into the same directory keep their entries
      if (workload != "serve") opt.get("dump").foreach { d =>
        val sqlPath = Paths.get(s"$d/oracle_sql.json")
        val before = if (!Files.exists(sqlPath)) Map.empty[String, String] else
          new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(sqlPath))
            .properties().asScala.map(f => f.getKey -> f.getValue.asText()).toMap
        val sql = before ++ graft.SparkEntry.oracleSql.filter { case (q, _) => observed.contains(q) }
        Files.write(sqlPath,
          Stats.obj(sql.toSeq.sortBy(_._1).map { case (q, s) => q -> Stats.str(s) }).getBytes(UTF_8))
      }
    }

    val gates = if (opt.contains("capture")) result.gates.filterNot(_._1.contains("oracle-checked")) else result.gates
    val correct = gates.forall(_._2)
    (result.e2e ++ result.detail).foreach(m =>
      println(f"[bench] $workload%-9s ${m.name}%-26s ${Stats.num(m.value)}%14s ${m.unit}%-5s n=${m.samples}"))
    val steal = for ((t0, s0) <- ticks0; (t1, s1) <- cpuTicks() if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)
    println(f"[host] calibration open ${calOpen}%.3f s, close ${calClose}%.3f s, cpu steal " +
      steal.fold("n/a")(x => f"${x * 100}%.1f%%") + " (diagnostic only)")
    gates.foreach { case (name, ok, why) => println(s"[gate] ${if (ok) "PASS" else "FAIL"} $name${if (why.isEmpty) "" else s" ($why)"}") }
    val report = Stats.obj(Seq(
      "workload" -> Stats.str(workload), "seed" -> seed.toString, "seconds" -> Stats.num(seconds),
      "trace" -> (if (traced) "1" else "0"), "correct" -> correct.toString,
      "attempted" -> result.attempted.toString, "failed" -> result.failed.toString,
      "e2e" -> metricsJson(result.e2e), "detail" -> metricsJson(result.detail),
      "layer" -> metricsJson(result.layer),
      "gates" -> gates.map { case (n, ok, why) =>
        Stats.obj(Seq("gate" -> Stats.str(n), "ok" -> ok.toString, "detail" -> Stats.str(why)))
      }.mkString("[", ",", "]"),
      "host" -> Stats.obj(Seq("calibration_open_s" -> Stats.num(calOpen),
        "calibration_close_s" -> Stats.num(calClose), "cpu_steal_frac" -> Stats.num(steal.getOrElse(Double.NaN)),
        "cores" -> Cores.toString))))
    Files.write(Paths.get(opt("out")), (report + "\n").getBytes(UTF_8))
    spark.stop()
    mark("stopped")
    // an explicit exit: a thread Spark or the program left behind must not
    // keep the JVM alive
    sys.exit(if (correct) 0 else 1)
  }
}
