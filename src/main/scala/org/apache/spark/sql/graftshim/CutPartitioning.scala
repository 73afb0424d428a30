package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}

/** Bridge into the `private[sql]` Dataset constructor so a checkpointed
  * frame keeps the hash partitioning it was written with. Spark records
  * the executed plan's partitioning on the `LogicalRDD` behind a
  * `checkpoint()` / `localCheckpoint()`, but under AQE the plan root
  * (`AdaptiveSparkPlanExec`) reports none, so every later join of the
  * cut re-shuffles data that is already laid out by its key.
  */
object CutPartitioning {

  /** `cut` (the frame `source.localCheckpoint()` or `source.checkpoint()`
    * returned) re-declared with the hash partitioning `source`'s executed
    * plan ended in — only a plain `HashPartitioning` over the cut's own
    * columns with exactly as many partitions as the cut's RDD, and only
    * when no AQE shuffle read (a coalesced, split or local read, whose
    * partitions are not `hash mod n`) feeds the final stage; any other
    * layout is never claimed.
    *
    * The cut's size estimate is `rows` (the rows the cut wrote, counted
    * by the caller) times the row width. Spark would derive it from
    * `source`'s plan instead: in a loop that cuts each round's join of
    * the previous cut, that estimate compounds round over round (a
    * join's estimate is the product of its sides) until computing it
    * alone takes minutes.
    */
  def restore(cut: DataFrame, source: DataFrame, rows: Long): DataFrame = {
    val c = cut.asInstanceOf[classic.Dataset[Row]]
    val executed = finalPlan(source.asInstanceOf[classic.Dataset[Row]]
      .queryExecution.executedPlan)
    c.logicalPlan match {
      case l: LogicalRDD if l.output.size == executed.output.size =>
        // the cut's columns are the executed plan's, position by position,
        // but carry their own expression ids (and may differ in
        // nullability): name the cut's attributes exactly, or
        // `newInstance` cannot carry the layout over to a self-joined copy
        val own = executed.output.map(_.exprId).zip(l.output).toMap
        val layout = firstLeaf(executed.outputPartitioning) match {
          case h: HashPartitioning
              if h.references.forall(a => own.contains(a.exprId)) &&
                h.numPartitions == l.rdd.getNumPartitions &&
                !executed.exists(_.isInstanceOf[AQEShuffleReadExec]) =>
            h.transform { case a: AttributeReference => own(a.exprId) }
              .asInstanceOf[HashPartitioning]
          case _ => l.outputPartitioning
        }
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getSizePerRow(l.output) * rows,
          rowCount = Some(BigInt(rows)))
        classic.Dataset.ofRows(c.sparkSession,
          l.copy(outputPartitioning = layout)(c.sparkSession, Some(stats),
            None))
      case _ => cut
    }
  }

  private def finalPlan(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case q: QueryStageExec => finalPlan(q.plan)
    case p => p
  }

  // the rule `Dataset.checkpoint` applies: a join's collection names each
  // side's layout, the first is the one the rows are in
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}
