package graft.tools

import graft.SparkEntry
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge
import scala.jdk.CollectionConverters._

/** Deterministic per-query execution census — the one instrument main.
  * Host-noise-immune evidence for plan work: two runs of the same code
  * produce the same counts, so a before/after diff here is a real
  * structural change, not CPU weather.
  *
  * Per query, one line: wall seconds, jobs, stages, tasks and shuffle
  * write/read KB of one `noop`-sink execution, then the plan's shape
  * counts (exchanges, codegen spans, sorts, sortAgg, bcast, smj) read from
  * the pre-execution `executedPlan` string — the measure behind
  * PlanShapeSpec's shuffle budgets. Under it, one indented line per Spark
  * job the query fired: its submit offset from the query's start, its
  * stage count, and its description — the `spark.job.description`
  * property, else the call site of the SQL execution the job belongs to,
  * else the final stage's call site. AQE submits a query stage's job from
  * its own pool, so that job's own call site is Spark's
  * (`withThreadLocalCaptured at CompletableFuture.java`); its execution's
  * call site names the user frame that started the query instead.
  *
  * A query's full formatted plan needs no main: in a shell,
  * `SparkEntry.queries(q)(spark, dir).explain("formatted")`.
  *
  * Usage: runMain graft.tools.QueryStats <sfDir> [q1,q2,...]
  * (`SPARK_GRAFT_CPUS` sets the local core and shuffle-partition count,
  * default 32).
  */
object QueryStats {
  final case class Job(offsetSec: Double, stages: Int, description: String,
      executionId: Option[Long])

  final case class Row(query: String, sec: Double, jobs: Seq[Job], stages: Int,
      tasks: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      shape: Seq[(String, Int)])

  /** Shape counters: label → regex over the executedPlan string. */
  private val ShapeTokens = Seq(
    "exchanges" -> "Exchange (hash|range|single)",
    "codegen" -> "\\*\\(\\d+\\)",
    "sorts" -> "\\bSort\\b",
    "sortAgg" -> "SortAggregate",
    "bcast" -> "BroadcastHashJoin",
    "smj" -> "SortMergeJoin")

  private final case class StageStat(tasks: Int, shuffleWrite: Long, shuffleRead: Long)

  /** Run each named query once (in the given order) through the `noop`
    * sink and return its census row. The listener is installed for the
    * call and removed before returning.
    */
  def census(spark: SparkSession, dir: String, names: Seq[String]): Seq[Row] = {
    val jobs = new ConcurrentLinkedQueue[(Long, Job)]()
    val stages = new ConcurrentLinkedQueue[StageStat]()
    val executionSites = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val execution = prop("spark.sql.execution.id").map(_.toLong)
        val desc = prop("spark.job.description")
          .orElse(execution.flatMap(x => Option(executionSites.get(x))))
          .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
        jobs.add((j.time, Job(0, j.stageInfos.size, desc, execution)))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = Option(s.stageInfo.taskMetrics)
        stages.add(StageStat(s.stageInfo.numTasks,
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(r => r.shuffleReadMetrics.remoteBytesRead +
            r.shuffleReadMetrics.localBytesRead)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try names.map { name =>
      // settle the listener bus so counts attribute to this query
      Bridge.drainListenerBus(spark)
      jobs.clear(); stages.clear(); executionSites.clear()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(spark)
      val js = jobs.asScala.toSeq.map { case (at, j) => j.copy(offsetSec = (at - startMs) / 1e3) }
      val ss = stages.asScala.toSeq
      System.gc()
      Row(name, sec, js, ss.size, ss.map(_.tasks.toLong).sum,
        ss.map(_.shuffleWrite).sum, ss.map(_.shuffleRead).sum,
        ShapeTokens.map { case (label, re) => label -> re.r.findAllIn(plan).size })
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryStats <sfDir> [q1,q2,...]")
    val dir = args(0)
    val only = args.lift(1).map(_.split(",").toSet)
    val spark = Scale.session("graft-querystats")
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    println(f"${"query"}%-28s ${"sec"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"shW(KB)"}%9s ${"shR(KB)"}%9s  plan shape")
    names.foreach { name =>
      // one query at a time, so each line prints as soon as it is measured
      census(spark, dir, Seq(name)).foreach { r =>
        val shape = r.shape.map { case (label, n) => s"$label=$n" }.mkString(" ")
        println(f"${r.query}%-28s ${r.sec}%8.2f ${r.jobs.size}%6d ${r.stages}%7d ${r.tasks}%7d ${r.shuffleWriteBytes / 1024}%9d ${r.shuffleReadBytes / 1024}%9d  $shape")
        r.jobs.foreach(j => println(f"    +${j.offsetSec}%6.2fs stages=${j.stages}%2d ${j.description}"))
      }
    }
    spark.stop()
  }
}
