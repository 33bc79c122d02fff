package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Test access to what a `spark.sql.extensions` hook injects: the
  * `build*`/`register*` methods of `SparkSessionExtensions` are
  * `private[sql]`, hence this package. */
object ExtensionsProbe {
  /** Applies `hook` to a fresh `SparkSessionExtensions`; returns the
    * optimizer rules it injects (built for `spark`) and the names of the
    * functions it registers. */
  def inject(hook: SparkSessionExtensions => Unit, spark: SparkSession)
      : (Seq[Rule[LogicalPlan]], Set[String]) = {
    val ext = new SparkSessionExtensions
    hook(ext)
    val registry = ext.registerFunctions(new SimpleFunctionRegistry)
    (ext.buildOptimizerRules(spark), registry.listFunction().map(_.funcName).toSet)
  }
}
