package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Reads what a builder extension injects without building a session:
  * `SparkSessionExtensions.registerFunctions` is private[sql].
  */
object InjectedFunctions {
  /** The SQL function names `install` injects into fresh extensions. */
  def names(install: SparkSessionExtensions => Unit): Set[String] = {
    val extensions = new SparkSessionExtensions
    install(extensions)
    extensions.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName).toSet
  }
}
