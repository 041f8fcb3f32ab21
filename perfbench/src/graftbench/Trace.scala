package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are epoch milliseconds (fractional),
  * the clock Spark stamps job events with.
  */
final case class Span(id: Long, name: String, parent: Long, start: Double, end: Double)

/** One Spark job as the listener saw it: the span whose thread launched it,
  * the layer of its first `graft.` call-site frame, whether its own call site
  * had no such frame (`anonymous`), and its task totals.
  */
final class JobRec(val id: Int, val start: Double, val span: Long, val layer: String,
    val anonymous: Boolean) {
  var end: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** Spans and job records for the traced run. Spans wrap the benchmark's
  * calls into the program; each span id rides a Spark local property, so a
  * job inherits the span of the thread (or the thread's parent) that
  * submitted it. Everything stays in memory until the run ends. With
  * `enabled` false (the untraced run) a span is a plain call and no listener
  * is installed.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private val done = new ConcurrentLinkedQueue[Span]()
  private[graftbench] val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  // listener thread only
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val execLayer = mutable.Map.empty[Long, String]

  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def span[A](name: String)(f: => A): A = if (!enabled) f else {
    val prev = sc.getLocalProperty(Trace.Prop)
    val id = ids.incrementAndGet()
    val t0 = nowMs()
    sc.setLocalProperty(Trace.Prop, id.toString)
    try f
    finally {
      done.add(Span(id, name, Option(prev).map(_.toLong).getOrElse(0L), t0, nowMs()))
      sc.setLocalProperty(Trace.Prop, prev)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq

  // A job that Spark submits from its own pool (AQE query stages, broadcast
  // and subquery futures) carries no user frame. Its SQL execution's call
  // site, recorded on the submitting thread when the execution started,
  // names the layer instead; a nested execution falls back to its root.
  if (enabled) sc.addSparkListener(new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        val own = Trace.layerOf(s.details)
        execLayer(s.executionId) =
          if (own != Trace.Unattributed) own
          else s.rootExecutionId.flatMap(r => execLayer.get(r.asInstanceOf[Long])).getOrElse(own)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(Trace.Prop).map(_.toLong).getOrElse(0L)
      val site = prop("callSite.long")
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)).getOrElse("")
      val own = Trace.layerOf(site)
      val layer = if (own != Trace.Unattributed) own
        else prop("spark.sql.execution.id").flatMap(x => execLayer.get(x.toLong)).getOrElse(own)
      val rec = new JobRec(e.jobId, e.time.toDouble, span, layer, own == Trace.Unattributed)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        rec.tasks += 1
        rec.cpuNs += m.executorCpuTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.outputBytes += m.outputMetrics.bytesWritten
        rec.spillBytes += m.diskBytesSpilled
      }
  })
}

object Trace {
  val Prop = "graftbench.span"

  /** Marks a job whose action was called by the benchmark itself on a frame
    * a layer returned (e.g. `outboxBatch(...).collect()`); it takes the layer
    * of the span around the call.
    */
  val Bench = "bench"
  val Unattributed = "unattributed"

  /** The layers the per-layer metrics keep. A layer is a module directory
    * under `graft/`; `SparkEntry` (the query catalogue) is `query`.
    */
  val Layers = Seq("log", "store", "streaming", "ops", "query", Unattributed)

  private val Frame = """(?m)^graft(bench)?\.([A-Za-z0-9_]+)[.$]""".r

  /** Layer of a job: the first `graft.` frame of its long call site. */
  def layerOf(callSite: String): String =
    Frame.findFirstMatchIn(callSite).map(m => (Option(m.group(1)), m.group(2))) match {
      case Some((Some(_), _)) => Bench
      case Some((None, "SparkEntry")) => "query"
      case Some((None, p)) if p.head.isLower => p
      case Some(_) => "graft"
      case None => Unattributed
    }

  /** Layer a span calls into: the prefix of `layer.operation` span names;
    * a query's spans (`<query>`, `<query>/build`) call into `query`.
    */
  def spanLayer(name: String): String =
    if (name.contains('.')) name.takeWhile(_ != '.') else "query"

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val sorted = iv.iterator.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
