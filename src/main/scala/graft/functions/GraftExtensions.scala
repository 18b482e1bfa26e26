package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * Injects the native expressions as SQL functions:
  * `cosine_sim(a, b)` ([[CosineSimilarity]]) and
  * `int8_cosine_sim(codes, scale, query)` ([[Int8CosineSimilarity]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("int8_cosine_sim"),
      new ExpressionInfo(classOf[Int8CosineSimilarity].getName, "int8_cosine_sim"),
      (exprs: Seq[Expression]) => Int8CosineSimilarity(exprs(0), exprs(1), exprs(2))))
  }
}
