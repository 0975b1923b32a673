package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions installer: makes every function in
  * [[GraftFunctions.catalog]] available to pure-SQL users at session build
  * time — `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Library entry
  * points also call [[GraftFunctions.install]], which registers the same
  * values, so sessions built either way resolve the same names.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.catalog.foreach(e.injectFunction)
}
