package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Test-scope bridge to `private[sql]`/`private[spark]` members:
  * `SparkSessionExtensions.registerFunctions`, to verify that
  * `GraftExtensions` actually lands its function in a registry, and the
  * listener bus, to wait for query-execution listeners to see an action.
  */
object GraftExtensionsTestAccess {
  def buildRegistry(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)

  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
