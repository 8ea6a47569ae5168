package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SparkStrategy

/** Test access to the `private[sql]` session surface: what an
  * extensions object would inject at build time, and a session built
  * without graft's extensions, all without tearing down the shared test
  * SparkContext. */
object GraftTestShims {

  /** The planner strategies `ext` injects. */
  def plannerStrategies(ext: SparkSessionExtensions,
      spark: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(spark.asInstanceOf[ClassicSparkSession])

  /** The optimizer rules `ext` injects. */
  def optimizerRules(ext: SparkSessionExtensions,
      spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark.asInstanceOf[ClassicSparkSession])

  /** The names of the functions `ext` injects. */
  def injectedFunctions(ext: SparkSessionExtensions): Set[String] =
    ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName).toSet

  /** A new session on `sc` with no extensions, as a builder that
    * names none gives on a fresh context. */
  def plainSession(sc: SparkContext): SparkSession =
    new ClassicSparkSession(sc)
}
