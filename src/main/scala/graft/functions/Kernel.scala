package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A native kernel as a column: `kernel.method(args…)`, where `kernel` is a
  * Scala `object` and `method` one of its static methods, through Spark's
  * `StaticInvoke`. Generated code makes one direct call per row; outside
  * codegen Spark calls the same method by reflection, so both paths run one
  * kernel.
  *
  * Arguments: a [[Column]] passes its value; an Int, Long, Double or Boolean
  * becomes a typed literal (inlined into generated code); anything else —
  * arrays, strings, objects — rides along as ONE referenced object
  * (`Literal.fromObject`), never copied per row.
  *
  * `propagateNull`: a NULL column argument gives NULL without calling the
  * kernel. `returnNullable`: the kernel may itself return null (a boxed
  * `java.lang.Double`/`Integer` for primitive result types).
  */
private[graft] object Kernel {

  def call(kernel: AnyRef, method: String, dataType: DataType,
      propagateNull: Boolean = true, returnNullable: Boolean = false)(args: Any*): Column =
    ColumnBridge.column(StaticInvoke(kernel.getClass, dataType, method, args.map(arg),
      propagateNull = propagateNull, returnNullable = returnNullable))

  private def arg(a: Any): Expression = a match {
    case c: Column => ColumnBridge.expression(c)
    case v @ (_: Int | _: Long | _: Double | _: Boolean) => Literal(v)
    case o => Literal.fromObject(o)
  }
}
