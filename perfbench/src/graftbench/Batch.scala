package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

/** `batch`: the `train_ops` and `lifecycle` oracle queries from
  * `SparkEntry.queries`, each forced through the `noop` sink. One untimed
  * warm-up pass (JIT-cold, several times slower than a warm one) comes first;
  * then the run makes whole passes, each in a seed-permuted order, until
  * `seconds` have been measured and at least `MinPasses` are done (`passes`
  * fixes the count instead). A query's wall is its median over the timed
  * passes. Row count and an order-insensitive digest of every result ride a
  * `Dataset.observe` tap on the execution itself, so checking adds no job.
  */
final class Batch(spark: SparkSession, dataDir: String, seed: Long,
    seconds: Double, passes: Option[Int], trace: Trace, expected: Map[String, Map[String, Double]],
    dump: Option[String]) {

  private val names = Batch.TrainOps ++ Batch.Lifecycle

  private def hasFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case ArrayType(et, _) => hasFloat(et)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  /** Digest aggregates: the row count; a 64-bit sum of a hash of the exact
    * (non-float) columns; and per float column the sum and the sum of
    * absolute values, which `matches` compares with the oracle checker's
    * tolerance (rtol = atol = 1e-9 per value).
    */
  private def digest(schema: StructType): Seq[Column] = {
    val (floats, exact) = schema.fields.toSeq.partition(f => hasFloat(f.dataType))
    def c(n: String) = col("`" + n.replace("`", "``") + "`")
    val h = if (exact.isEmpty) Nil else {
      val x = xxhash64(exact.map(f => c(f.name)): _*)
      Seq(sum(x.bitwiseAND(lit(0xffffffffL))).as("h_lo"), sum(shiftrightunsigned(x, 32)).as("h_hi"))
    }
    val fl = floats.flatMap { f =>
      val v: Column = f.dataType match {
        case FloatType | DoubleType => c(f.name).cast("double")
        case ArrayType(FloatType | DoubleType, _) =>
          aggregate(c(f.name), lit(0.0), (acc, e) => acc + e.cast("double"))
        case other => throw new IllegalArgumentException(s"no digest for column ${f.name}: $other")
      }
      Seq(sum(v).as(s"f:${f.name}"), sum(abs(v)).as(s"a:${f.name}"))
    }
    count(lit(1)).as("rows") +: (h ++ fl)
  }

  private def asMap(r: Row): Map[String, Double] =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (if (r.isNullAt(i)) 0.0 else r.get(i) match {
        case l: Long => l.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      })
    }.toMap

  /** Exact on row count and hashes; floats within 1e-9 per value. The hash
    * sums are below 2^53 at these sizes, so Double holds them exactly.
    */
  private def matches(got: Map[String, Double], want: Map[String, Double]): Boolean =
    got.keySet == want.keySet && want.forall { case (k, w) =>
      val g = got(k)
      if (k.startsWith("f:")) {
        val absSum = want.getOrElse("a" + k.drop(1), 0.0)
        math.abs(g - w) <= 2e-9 * (absSum + want("rows"))
      } else if (k.startsWith("a:")) math.abs(g - w) <= 2e-9 * (w + want("rows"))
      else g == w
    }

  private val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val builds = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val cpus = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val observed = mutable.Map.empty[String, Map[String, Double]]
  private val errors = mutable.Map.empty[String, String]
  private var attempted = 0
  private var failed = 0
  private var gcMs = 0.0

  /** One execution of `name` through the `noop` sink, recorded if `timed`;
    * its digest is gated against the expected one and the first execution's.
    */
  private def execute(name: String, pass: Int, timed: Boolean): Unit = {
    System.gc()
    attempted += 1
    val obs = Observation(s"digest-$name-$pass")
    val gc0 = Main.gcMs()
    val cpu0 = Main.cpuNs()
    val t0 = System.nanoTime()
    try {
      var b = 0.0
      var result: DataFrame = null
      trace.span(name) {
        val df = trace.span(s"$name/build") {
          val tb = System.nanoTime()
          val d = SparkEntry.queries(name)(spark, dataDir)
          b = (System.nanoTime() - tb) / 1e9
          d
        }
        val dg = digest(df.schema)
        // the lazy plan runs here: a train_ops query's operators are `ops`
        // code, a lifecycle query's are the query catalogue's
        trace.span(if (Batch.TrainOps.contains(name)) "ops.execute" else "query.execute") {
          Batch.noop(df.observe(obs, dg.head, dg.tail: _*))
        }
        result = df
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Main.cpuNs() - cpu0) / 1e9
      if (timed) {
        cpus.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += cpu
        gcMs += Main.gcMs() - gc0
        walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wall
        builds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += b
      }
      if (!observed.contains(name)) dump.foreach(d => result.write.mode("overwrite").parquet(s"$d/$name"))
      val got = asMap(Await.result(obs.future, 120.seconds))
      if (!observed.contains(name)) observed(name) = got
      else if (observed(name) != got && !matches(got, observed(name)))
        errors(name) = s"pass $pass digest differs from the first execution"
    } catch {
      case e: Exception =>
        failed += 1
        errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[batch] $name failed: ${errors(name)}")
    }
  }

  private def runPass(pass: Int, timed: Boolean): Unit = {
    new scala.util.Random(seed * 1000003L + pass).shuffle(names).foreach(execute(_, pass, timed))
    Main.mark(s"pass $pass done${if (timed) "" else " (warm-up)"}")
  }

  def run(): (Result, Map[String, Map[String, Double]]) = {
    if (passes.isEmpty) runPass(0, timed = false)
    val tStart = trace.nowMs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var timedPasses = 0
    while (passes.fold(timedPasses < Batch.MinPasses || System.nanoTime() < deadline)(timedPasses < _)) {
      runPass(timedPasses + 1, timed = true)
      timedPasses += 1
    }
    val tEnd = trace.nowMs()

    val med = names.flatMap(n => walls.get(n).map(w => n -> Stats.median(w.toSeq))).toMap
    val gates = names.map { n =>
      val ok = observed.get(n).exists(g => expected.get(n).exists(w => matches(g, w))) && !errors.contains(n)
      val why = errors.get(n).orElse(
        if (!expected.contains(n)) Some("no expected digest recorded")
        else observed.get(n).map(g => s"rows ${g.getOrElse("rows", 0.0).toLong}, digest ${if (ok) "matches" else "differs"}"))
      (s"$n result matches the oracle-checked digest", ok, why.getOrElse(""))
    }
    val ws = med.values.toSeq
    val batchS = ws.sum
    val allWalls = walls.values.flatten.size
    val e2e = Seq(
      Metric("ops_per_s", if (batchS > 0) ws.size / batchS else 0.0, "1/s", ws.size),
      Metric("latency_ms", Stats.geomean(ws) * 1e3, "ms", ws.size),
      Metric("cpu_ms_per_op", names.flatMap(n => cpus.get(n).map(c => Stats.median(c.toSeq))).sum * 1e3 / names.size, "ms", ws.size))
    val detail = Seq(
      Metric("batch_s", batchS, "s", allWalls),
      Metric("query_geomean_s", Stats.geomean(ws), "s", ws.size),
      Metric("passes", timedPasses, "count", 1)) ++
      names.sorted.flatMap(n => med.get(n).map(w => Metric(s"$n.wall_s", w, "s", walls(n).size)))
    val layer = if (!trace.enabled) Seq.empty else {
      // every job and task end of the window must reach the listener first
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val spans = trace.spans
      val kids = spans.groupBy(_.parent)
      val jobsBySpan = trace.jobs.values.toArray(new Array[JobRec](0)).toSeq.groupBy(_.span)
      // the driver's own time counts inside the timed query executions
      // only, not in the System.gc() pauses between them
      val executions = spans.filter(s => names.contains(s.name) && s.start >= tStart).map(s => (s.start, s.end))
      Layers.window(trace, tStart, tEnd, gcMs / 1e3, executions) ++ names.sorted.flatMap { n =>
        val top = spans.filter(s => s.name == n && s.start >= tStart)
        val jobs = top.map(s => (s +: kids.getOrElse(s.id, Nil)).map(x => jobsBySpan.getOrElse(x.id, Nil).size).sum)
        Seq(
          Metric(s"$n.jobs", if (jobs.isEmpty) 0.0 else Stats.median(jobs.map(_.toDouble)), "count", jobs.size),
          Metric(s"$n.build_s", builds.get(n).fold(0.0)(b => Stats.median(b.toSeq)), "s", builds.get(n).fold(0)(_.size)))
      }
    }
    (Result(e2e, detail, layer, gates, attempted, failed), observed.toMap)
  }
}

object Batch {
  /** The `train_ops` queries persist nothing: operator compute, `functions`
    * kernels and shuffle. The `lifecycle` one builds a persisted log with a
    * bulk commit and reads it back: many small jobs (ROADMAP B3/B4).
    */
  val TrainOps: Seq[String] = Seq("d4_ngram_jaccard", "d10_simhash_pairs")
  val Lifecycle: Seq[String] = Seq("w7_bulk_roundtrip")

  /** Execute the whole plan: a bare count() would let column pruning skip
    * the expensive projections.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Fewest timed passes behind a query's median wall. */
  val MinPasses = 5
}
