package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SparkSessionExtensions injector — lets any session pick up graft's
  * native functions (every entry of [[GraftFunctions.Table]]) without
  * code changes:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   // or, on a session builder: .withExtensions(new GraftExtensions)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.Table.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), builder))
    }
}
