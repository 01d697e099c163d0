package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** What a `SparkSessionExtensions` would install in a session it builds:
  * its build methods are private to Spark SQL, so specs read them here. */
object ExtensionsProbe {
  def functions(e: SparkSessionExtensions): FunctionRegistry =
    e.registerFunctions(new SimpleFunctionRegistry)

  def strategies(e: SparkSessionExtensions,
      spark: SparkSession): Seq[SparkStrategy] =
    e.buildPlannerStrategies(spark)

  def optimizerRules(e: SparkSessionExtensions,
      spark: SparkSession): Seq[Rule[LogicalPlan]] =
    e.buildOptimizerRules(spark)
}
