package graft.plans

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension installer (the `SparkSessionExtensions` path from
  * SURVEY.md §7.3): makes graft's native expressions available in every
  * session created with
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * or programmatically via `.withExtensions(new GraftExtensions)`.
  * Unlike `GraftFunctions.register` (temp functions on one session),
  * extension-injected functions survive session cloning and are
  * available to pure-SQL users from the first query.
  *
  * No custom Rule/Strategy is injected: SURVEY.md §4's conclusion — the
  * reference needs none, and the built-in operators (WindowGroupLimit
  * top-k, AQE skew handling, broadcast selection) already produce the
  * plans a custom strategy would — held up in PLANS.md.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, cls, build) <- GraftFunctions.native)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
  }
}
