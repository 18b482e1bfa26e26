package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Expression, If, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.PearsonCorrelation
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DoubleType

/** Spark's `corr` aggregate with one change: a zero-variance side gives
  * NULL instead of aborting. Under ANSI mode the built-in divides the
  * co-moment by `sqrt(xMk · yMk)` with an ANSI `Divide`, which raises
  * DIVIDE_BY_ZERO when either column is constant; here that division is
  * the legacy one, which yields NULL for a zero divisor. Buffers, updates,
  * merges and every non-degenerate result are the built-in's, bit for bit
  * (same co-moment arithmetic, same `ck / sqrt(xMk · yMk)`). NULL also for
  * no rows, and for one row, as the built-in gives.
  */
case class NullSafeCorr(x: Expression, y: Expression)
    extends PearsonCorrelation(x, y, nullOnDivideByZero = true) {

  override val evaluateExpression: Expression =
    If(n === 0.0, Literal.create(null, DoubleType),
      If(n === 1.0, divideByZeroEvalResult,
        Divide(ck, sqrt(xMk * yMk), EvalMode.LEGACY)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NullSafeCorr =
    copy(x = newLeft, y = newRight)
}

object NullSafeCorr {
  def of(x: Column, y: Column): Column =
    ColumnBridge.column(
      NullSafeCorr(ColumnBridge.expression(x), ColumnBridge.expression(y)).toAggregateExpression())
}
