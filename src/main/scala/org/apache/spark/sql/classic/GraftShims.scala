package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * Bridge into Spark's classic `Dataset.ofRows` factory (`private[sql]`) —
 * the standard extension-library shim (Delta Lake and Iceberg ship the
 * identical few lines) for turning an ANALYZED `LogicalPlan` back into a
 * `DataFrame` inside a `RunnableCommand`, where a SQL statement hands the
 * command its already-resolved source query as a plan, not a DataFrame.
 *
 * Everything it uses is Spark's own public-jar bytecode; `ofRows` is the
 * inverse of the fully-public `df.queryExecution.logical`. The rest reach
 * `private[sql]`/`private[spark]` members the same way, each documented
 * where it is defined.
 */
object GraftShims {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Catalyst `Expression` → public `Column` (inverse of the public
    * `expr(...)` path) — what the SQL-DML commands use to hand parsed
    * MERGE/UPDATE/DELETE expressions to the DataFrame API. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  /** The running SparkContext, if any (`SparkContext.getActive` is
    * `private[spark]`; the public `getOrCreate` would start one). */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** Blocks until every task of the jobs tagged `tag` has ended, or
    * `timeoutMs` passed: a failed job reports its failure while its other
    * tasks may still run (and write). Reads the status store, after
    * draining the listener bus (`private[spark]`) so every job and task
    * start posted so far is in it. */
  def awaitTasksOf(sc: org.apache.spark.SparkContext, tag: String, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    val st = sc.statusTracker
    def running: Boolean = {
      sc.listenerBus.waitUntilEmpty(math.max(1L, deadline - System.currentTimeMillis()))
      st.getJobIdsForTag(tag).iterator.flatMap(st.getJobInfo(_)).flatMap(_.stageIds)
        .flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0)
    }
    try while (running && System.currentTimeMillis() < deadline) Thread.sleep(10)
    catch { case _: java.util.concurrent.TimeoutException => }
  }

  /** Single-part column name of an identity partition transform
    * (`PARTITIONED BY (col)`), None for anything else — the
    * `IdentityTransform`/`FieldReference` extractors are `private[sql]`
    * in ScalaSig despite public bytecode, so the CTAS rule reads them
    * through this shim. */
  def identityTransformCol(
      t: org.apache.spark.sql.connector.expressions.Transform): Option[String] =
    t match {
      case org.apache.spark.sql.connector.expressions.IdentityTransform(
          org.apache.spark.sql.connector.expressions.FieldReference(parts))
          if parts.size == 1 =>
        Some(parts.head)
      case _ => None
    }
}
