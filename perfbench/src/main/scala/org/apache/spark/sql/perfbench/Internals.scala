package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}

/** The Spark internals the traced run reads. They live in a Spark package
  * because the listener bus and the physical join nodes are not public. */
object Internals extends AdaptiveSparkPlanHelper with PredicateHelper {

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  private def nodes(qe: QueryExecution): Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }

  /** Files listed by the file scans of an executed plan. */
  def filesRead(qe: QueryExecution): Long = nodes(qe).collect { case s: FileSourceScanLike =>
    s.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum

  /** Files reported by the write commands of an executed plan. */
  def filesWritten(qe: QueryExecution): Long = nodes(qe).collect { case w: DataWritingCommandExec =>
    w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum

  // The spatial refine is one of the library's own expressions; Catalyst
  // folds it into the condition of the grid join.
  private def isRefine(e: Expression): Boolean = e.exists(_.getClass.getName.startsWith("graft."))

  private def refinedJoins(qe: QueryExecution): Seq[(SparkPlan, Expression)] = nodes(qe).collect {
    case j: BroadcastHashJoinExec if j.condition.exists(isRefine) => (j, j.condition.get)
    case j: ShuffledHashJoinExec if j.condition.exists(isRefine) => (j, j.condition.get)
    case j: SortMergeJoinExec if j.condition.exists(isRefine) => (j, j.condition.get)
    case j: BroadcastNestedLoopJoinExec if j.condition.exists(isRefine) => (j, j.condition.get)
  }

  def hasRefinedJoin(qe: QueryExecution): Boolean = refinedJoins(qe).nonEmpty

  private def withCondition(j: SparkPlan, c: Option[Expression]): SparkPlan = j match {
    case b: BroadcastHashJoinExec => b.copy(joinType = Inner, condition = c, isNullAwareAntiJoin = false)
    case s: ShuffledHashJoinExec => s.copy(joinType = Inner, condition = c)
    case s: SortMergeJoinExec => s.copy(joinType = Inner, condition = c)
    case n: BroadcastNestedLoopJoinExec => n.copy(joinType = Inner, condition = c)
  }

  /** (candidates, matches) of every grid join with a spatial refine in an
    * executed plan: the inner pairs that share a cell and pass the
    * join's other conjuncts, and those of them that also pass the refine.
    * No SQL metric separates the two, so both are counted by re-running
    * the join over its already materialized inputs. */
  def refineCounts(qe: QueryExecution): (Long, Long) = refinedJoins(qe).map { case (j, cond) =>
    val keep = splitConjunctivePredicates(cond).filterNot(isRefine).reduceOption(And)
    (withCondition(j, keep).execute().count(), withCondition(j, Some(cond)).execute().count())
  }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
