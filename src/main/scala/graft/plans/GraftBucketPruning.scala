package graft.plans

import graft.sources.{GraftBucketDerivation, GraftMeta}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule for the V1 parquet read path (`spark.read.parquet` over a
  * graft log directory): SQL readers and whole-log readers — `EventLog`'s
  * `events`/`activeEvents` views and the SQL views over them. Whenever a
  * filter pins `aggregate_id` over a relation that (a) carries the
  * `_graft_meta.json` layout marker and (b) exposes the physical `bucket`
  * partition column, conjoin the implied `bucket = pmod(fnv1a32(id), n)`
  * predicate. FileSourceStrategy then classifies it as a partition filter and
  * prunes the scan's files to one bucket. The pruning runs after the
  * relation's file index has listed the whole log, so the listing still
  * grows with the log (the frame's `inputFiles` covers every file).
  * `EventLog`'s own point reads (a stream's events, its version check, its
  * latest snapshot) do not rely on this rule: they read only the stream's
  * `bucket=k` directory, so they list nothing else.
  *
  * Idempotent (derived conjuncts already present are never re-added), so it
  * is safe in a fixpoint batch. Register at session build via
  * [[graft.GraftExtensions]] or on a live session via [[graft.Graft.enable]].
  */
case class GraftBucketPruning(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation) =>
      val derived = for {
        fsRel <- Some(rel.relation).collect { case h: HadoopFsRelation => h }
        bucketAttr <- rel.output.collectFirst {
          case a: AttributeReference if a.name == "bucket" && a.dataType == IntegerType => a
        }
        root <- fsRel.location.rootPaths match {
          case Seq(single) => Some(single.toString)
          case _ => None
        }
        n <- GraftMeta.numBuckets(spark, root)
      } yield {
        val conjuncts = splitConjunctivePredicates(cond)
        GraftBucketDerivation.derive(conjuncts, () => bucketAttr, n)
          .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
      }
      derived.filter(_.nonEmpty) match {
        case Some(ds) => Filter(And(cond, ds.reduce(And)), rel)
        case None => f
      }
  }
}
