package graftbench

import scala.jdk.CollectionConverters._

/** What one workload run produced: end-to-end metrics (the untraced
  * contract), workload detail (named e2e views with sample counts), per-layer
  * metrics (traced runs only) and the correctness gates.
  */
final case class Result(e2e: Seq[Metric], detail: Seq[Metric], layer: Seq[Metric],
    gates: Seq[(String, Boolean, String)], attempted: Int, failed: Int)

/** Per-layer metrics derived from a [[Trace]] over a measured window. */
object Layers {
  private def inWindow(t: Trace, lo: Double, hi: Double): Seq[JobRec] =
    t.jobs.values.asScala.filter(j => j.start >= lo && j.start <= hi).toSeq

  private def end(j: JobRec): Double = if (j.end.isNaN) j.start else j.end

  /** Layer totals plus whole-run scheduler, GC and spill figures for the
    * jobs that started inside [lo, hi]. `driver_self_s` is the time inside
    * the `active` intervals (the workload's own calls) that no job covers.
    */
  def window(t: Trace, lo: Double, hi: Double, gcS: Double,
      active: Seq[(Double, Double)]): Seq[Metric] = {
    val js = inWindow(t, lo, hi)
    val spanName = t.spans.map(s => s.id -> s.name).toMap
    val byLayer = js.groupBy { j =>
      if (j.layer != Trace.Bench) j.layer
      else spanName.get(j.span).fold(Trace.Unattributed)(Trace.spanLayer)
    }
    val perLayer = Trace.Layers.flatMap { l =>
      val lj = byLayer.getOrElse(l, Seq.empty)
      Seq(
        Metric(s"$l.jobs", lj.size, "count", 1),
        Metric(s"$l.busy_s", Trace.unionMs(lj.map(j => (j.start, end(j))), lo, hi) / 1e3, "s", lj.size),
        Metric(s"$l.task_cpu_s", lj.map(_.cpuNs).sum / 1e9, "s", lj.size),
        Metric(s"$l.shuffle_bytes", lj.map(_.shuffleBytes).sum.toDouble, "bytes", lj.size))
    }
    val jobIv = js.map(j => (j.start, end(j)))
    val driverSelfMs = active.map { case (a, b) => b - a - Trace.unionMs(jobIv, a, b) }.sum
    perLayer ++ Seq(
      Metric("anonymous.jobs", js.count(_.anonymous), "count", js.size),
      Metric("log.output_bytes", byLayer.getOrElse("log", Seq.empty).map(_.outputBytes).sum.toDouble, "bytes", 1),
      Metric("driver_self_s", driverSelfMs / 1e3, "s", js.size),
      Metric("scheduler.tasks_per_job", if (js.isEmpty) 0.0 else js.map(_.tasks).sum.toDouble / js.size, "count", js.size),
      Metric("jvm.gc_s", gcS, "s", 1),
      Metric("spill.bytes", js.map(_.spillBytes).sum.toDouble, "bytes", js.size))
  }

  /** Spans named `name` inside [lo, hi]: jobs per span (mean) and self time
    * per span (median) — the span's duration minus the part its own jobs
    * cover: planning, listing, lock waits, commit renames.
    */
  def spanStats(t: Trace, name: String, lo: Double, hi: Double,
      inputBytes: Boolean = false): Seq[Metric] = {
    val ss = t.spans.filter(s => s.name == name && s.start >= lo && s.start <= hi)
    val bySpan = t.jobs.values.asScala.groupBy(_.span)
    val own = ss.map(s => bySpan.getOrElse(s.id, Nil).toSeq)
    val self = ss.zip(own).map { case (s, js) =>
      s.end - s.start - Trace.unionMs(js.map(j => (j.start, end(j))), s.start, s.end)
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq(
      Metric(s"$name.jobs", mean(own.map(_.size.toDouble)), "count", ss.size),
      Metric(s"$name.self_ms", if (self.isEmpty) 0.0 else Stats.median(self), "ms", ss.size)) ++
      (if (inputBytes) Seq(Metric(s"$name.input_bytes", mean(own.map(_.map(_.inputBytes).sum.toDouble)), "bytes", ss.size))
       else Nil)
  }
}
