package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions installer: makes every function in
  * [[GraftFunctions.catalog]] available to pure-SQL users at session build
  * time. [[graft.GraftSession]] builds every graft session with it;
  * deployments set `spark.sql.extensions=graft.functions.GraftExtensions`.
  * Library entry points also call [[GraftFunctions.install]], which
  * registers the same values, so sessions built either way resolve the
  * same names.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.catalog.foreach(e.injectFunction)
}
