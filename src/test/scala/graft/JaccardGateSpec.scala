package graft

import graft.ops.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** `spark.graft.jaccard.broadcastSetsMaxBytes` gates the jaccard verify
  * between broadcasting a checkpointed sets frame and the pinned,
  * semi-pruned sort-merge legs. Join output is strategy-invariant, so both
  * shapes must return the same rows; the plan asserts keep the parity from
  * passing with one shape run twice.
  */
class JaccardGateSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  private val Conf = "spark.graft.jaccard.broadcastSetsMaxBytes"

  test("the broadcast gate at 0 and at Long.MaxValue gives identical rows from the two join shapes") {
    val s = spark
    import s.implicits._
    val docs = (0L until 40L).map(i => (i, s"alpha beta gamma delta w${i % 7} w${i % 5} w${i % 3} tail"))
      .toDF("doc_id", "text")
    val sets = Dedup.shingleSets(docs, "doc_id", "text").localCheckpoint()
    val candidates = (for (a <- 0L until 40L; b <- a + 1 until 40L by 3) yield (a, b))
      .toDF("doc_a", "doc_b")
    def verify(maxBytes: Long): (Seq[String], String) = {
      spark.conf.set(Conf, maxBytes.toString)
      try {
        val out = Dedup.jaccardVerifyFromSets(sets, candidates, threshold = 0.3)
        (out.collect().map(_.toString).sorted.toSeq, out.queryExecution.executedPlan.toString)
      } finally spark.conf.unset(Conf)
    }
    val (merged, mergePlan) = verify(0L)
    val (broadcast, broadcastPlan) = verify(Long.MaxValue)
    assert(mergePlan.contains("SortMergeJoin"), mergePlan)
    assert(broadcastPlan.contains("BroadcastHashJoin") && !broadcastPlan.contains("SortMergeJoin"),
      broadcastPlan)
    assert(merged.nonEmpty && merged.size < candidates.count(), "the threshold must keep some pairs, not all")
    assert(merged == broadcast)
  }
}
