package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` helpers so graft's custom Catalyst expressions
  * can be wrapped as user-facing `Column`s (Spark 4 moved the
  * Expression<->Column constructors behind the classic module).
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Whether `df`'s plan is currently registered in the session's
    * CacheManager — lets a memoized handle to a persisted result detect
    * eviction (`unpersist()` / `clearCache()`) and recompute instead of
    * handing out a dead reference (checkpoint-lineage results cannot be
    * lazily rebuilt once evicted).
    */
  def isCached(df: Dataset[_]): Boolean = df match {
    case d: classic.Dataset[_] =>
      d.sparkSession.sharedState.cacheManager.lookupCachedData(d).isDefined
    case _ => false
  }

  /** The id of the RDD pinned by `Dataset.localCheckpoint` — the plan of a
    * checkpointed Dataset is a single [[execution.LogicalRDD]] leaf wrapping
    * exactly the persisted internal RDD. Lets an iterative algorithm free a
    * superseded checkpoint by identity instead of diffing
    * `sc.getPersistentRDDs` around the call, which mis-attributes (and then
    * frees) ANY other persist that first materializes inside the window —
    * e.g. a shared cached subtree filling lazily on first use.
    */
  def checkpointRddId(df: Dataset[_]): Option[Int] =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** Blocks until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`). Events of a finished action are
    * posted before the action returns, so counters read after this call
    * hold all of them — no sleep-and-poll.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Catalyst's internal bloom-filter pair (the machinery behind runtime
    * row-level join filtering, not exposed through `functions._`):
    * `bloomFilterAgg` aggregates LONG hashes into a serialized bloom
    * filter (binary, ~10 bits/item), `bloomMightContain` probes one —
    * codegen'd, usable as a scan-stage filter. The bloom side of the
    * probe must be foldable (a literal of the collected binary) or a
    * scalar subquery, which Catalyst enforces at analysis.
    */
  def bloomFilterAgg(hash: Column, expectedItems: Long): Column =
    column(new catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(hash), expectedItems).toAggregateExpression())

  def bloomMightContain(bloom: Column, hash: Column): Column =
    column(catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(hash)))
}
