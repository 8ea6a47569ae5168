package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Bridge into the `private[sql]` plan-construction surface.
  *
  * Spark 4.x splits the public `org.apache.spark.sql` API from the
  * `classic` execution implementation; building a `DataFrame` from a
  * hand-constructed `LogicalPlan` (the whole-operator extension path:
  * custom logical node + planner strategy, SURVEY.md §7) requires
  * `Dataset.ofRows`, which is `private[sql]`. Declaring this one-file
  * shim inside the `org.apache.spark.sql` package is the standard
  * open-source extension idiom (used by Delta, Iceberg, Gluten, …) and
  * keeps every other graft source on public APIs only.
  */
object GraftSqlShims {

  /** Analyze + wrap a hand-built logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The session's mutable extension points (extra planner strategies /
    * optimizer rules) — lives on the classic session. */
  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[ClassicSparkSession].experimental

  /** Column → catalyst Expression, EAGERLY converted (Spark 4 Columns
    * wrap ColumnNodes; `ExpressionUtils.expression` only wraps lazily
    * in a non-serializable `ColumnNodeExpression`, so a hand-built
    * plan must run the real converter — `col("x").desc` becomes a
    * catalyst `SortOrder` here, not after analysis). */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** A new session on `spark`'s SparkContext that starts as a copy of
    * its state: every SQL setting, temp view, registered function and
    * `QueryExecutionListener` (`cloneSession` is `private[sql]`;
    * `newSession()` copies none of these). Later changes to either
    * session do not reach the other. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSparkSession].cloneSession()

  /** Frees `rdd`'s cached blocks without blocking and forgets it as
    * persisted, as `RDD.unpersist` does, but without its WARN for a
    * locally checkpointed RDD (`SparkContext.unpersistRDD` is
    * `private[spark]`). */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
