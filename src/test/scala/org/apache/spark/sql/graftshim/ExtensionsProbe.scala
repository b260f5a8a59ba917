package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Test seam: the functions a `SparkSessionExtensions` would install,
  * registered into a fresh registry (`registerFunctions` is
  * `private[sql]`, the same seam PlanBridge uses in main). */
object ExtensionsProbe {
  def functions(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)
}
