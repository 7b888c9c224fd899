package graft

import graft.functions.GraftExpressions
import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: injects every graft_* function of
  * `GraftExpressions.Functions` (the hashing, vector, deterministic-math
  * and bloom kernels) at session build time, so
  *
  * {{{
  *   builder.withExtensions(new GraftExtensions)   // or
  *   builder.config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * makes them available in SQL on every session, including `spark-sql` /
  * Thrift users who never touch the Scala API. `GraftSession.builder`
  * applies it to every engine session; a session built without it gets the
  * same list from `GraftExpressions.register`, which each `QueryDef` calls
  * before it runs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExpressions.Functions.foreach(e.injectFunction)
}
