package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's optimizer rules and its native
  * expressions with the function registry (usable from SQL and via
  * `call_function`). Activated by
  * `spark.sql.extensions=graft.plans.GraftExtensions` (set in GraftSession).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BandJoinRewrite)
    e.injectOptimizerRule(_ => IntervalOverlapRewrite)
    e.injectOptimizerRule(_ => CaseMapRewrite)
    GraftFunctions.all.foreach { case (name, clazz, arity, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity, s"$name expects $arity arguments")
          builder(children)
        }))
    }
  }
}
