package graft

import graft.tools.QueryStats
import org.scalatest.funsuite.AnyFunSuite

/** QueryStats' promise: the census is deterministic — two runs of the same
  * code produce the same job, stage and task counts — so a before/after
  * diff of it is a structural change, not host noise.
  */
class QueryStatsSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  // the sf0.001 tier committed with the repo (the benchmark's smoke input)
  private val dir = "perfbench/tables/sf0.001"

  test("two census runs of the same queries count the same jobs, stages and tasks") {
    val names = Seq("q1_pricing_summary", "d15_cc_clusters")
    def counts(rows: Seq[QueryStats.Row]) =
      rows.map(r => (r.query, r.jobs.size, r.stages, r.tasks))
    val first = QueryStats.census(spark, dir, names)
    val second = QueryStats.census(spark, dir, names)
    assert(first.map(_.query) == names)
    assert(first.forall(r => r.jobs.nonEmpty && r.tasks > 0), counts(first))
    assert(counts(first) == counts(second))
    assert(first.map(_.shape) == second.map(_.shape))
  }

  test("jobs AQE submits for a query stage carry their SQL execution's call site") {
    val jobs = QueryStats.census(spark, dir, Seq("q1_pricing_summary", "d15_cc_clusters"))
      .flatMap(_.jobs).filter(_.executionId.nonEmpty)
    assert(jobs.size > 1)
    val anonymous = jobs.filter(_.description.contains("withThreadLocalCaptured"))
    assert(anonymous.isEmpty, anonymous)
  }
}
