package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's private[sql] Column↔Expression conversions, needed
  * to expose custom Catalyst aggregates (e.g. the t-digest
  * TypedImperativeAggregate) through the public Column API. This is the
  * standard extension-library shim — no Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Drop a trailing global Sort from a plan. Presentation ordering belongs
    * to the Verify dump (the correctness compare is order-insensitive); a
    * global range-shuffle sort of a fact table is a scale-killer at 100 TB
    * and must not be part of the measured operator. Sorts under a Limit
    * (TakeOrderedAndProject) or inside windows are semantic and untouched —
    * only a top-level `Sort(global = true)` node is removed.
    */
  def stripTopSort(df: Dataset[Row]): Dataset[Row] =
    df.queryExecution.logical match {
      case s: catalyst.plans.logical.Sort if s.global =>
        classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[classic.SparkSession], s.child)
      case _ => df
    }

  /** Drop a trailing round-robin Repartition (the local-parallelism
    * spread) from a plan — for row-count probes, where the exchange
    * would be paid only to count rows it cannot change.
    */
  def stripTopRepartition(df: Dataset[Row]): Dataset[Row] =
    df.queryExecution.logical match {
      case r: catalyst.plans.logical.Repartition =>
        classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[classic.SparkSession], r.child)
      case _ => df
    }

  /** A DataFrame over a hand-built logical plan (the co-bucketed merge
    * node of [[graft.checks.ZipSortedBuckets]]).
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own parallelism default for scans (`private[sql]`). */
  def leafNodeDefaultParallelism(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].leafNodeDefaultParallelism

  /** Bounded (~100 ms) non-throwing read of an Observation's metrics —
    * `getOrEmpty` is private[sql]; [[observedMetric]] polls this instead
    * of blocking forever on `get` (ADVICE r5).
    */
  def observationOrEmpty(obs: Observation): Map[String, Any] =
    obs.getOrEmpty

  /** Metric `name` of `obs`, read without risking an indefinite block.
    * Observed metrics arrive asynchronously on the listener bus after the
    * action that ran the observed subtree, and only if some action ran
    * it; `Observation.get` would hang silently if a refactor reordered
    * the consumers. This polls [[observationOrEmpty]] until `timeoutMs`
    * has passed, then prints `warning` to stderr and returns `fallback`
    * (recomputing the value), so a violated ordering costs one extra pass
    * and a loud warning instead of a hang.
    */
  def observedMetric[A](obs: Observation, name: String, timeoutMs: Long,
      warning: => String)(fallback: => A): A = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var m = observationOrEmpty(obs)
    while (m.isEmpty && System.nanoTime() < deadline)
      m = observationOrEmpty(obs)
    m.get(name) match {
      case Some(v) => v.asInstanceOf[A]
      case None =>
        System.err.println(warning)
        fallback
    }
  }
}
