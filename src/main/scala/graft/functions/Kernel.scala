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
  * Arguments: a column is passed as `column -> type`, the Spark type the
  * kernel method reads, which Spark checks at analysis: a column that cannot
  * be cast to it fails there, naming the method; a numeric column is cast
  * implicitly, as Spark's own functions do (`DoubleBits.of` over a long
  * reads it as a double). An array type accepts either `containsNull`. An
  * Int, Long, Double or Boolean becomes a typed literal (inlined into
  * generated code); anything else — arrays, strings, objects — rides along
  * as ONE referenced object (`Literal.fromObject`), never copied per row.
  *
  * `propagateNull`: a NULL column argument gives NULL without calling the
  * kernel. `returnNullable`: the kernel may itself return null (a boxed
  * `java.lang.Double`/`Integer` for primitive result types).
  */
private[graft] object Kernel {

  def call(kernel: AnyRef, method: String, dataType: DataType,
      propagateNull: Boolean = true, returnNullable: Boolean = false)(args: Any*): Column = {
    val (exprs, types) = args.map(arg(method, _)).unzip
    ColumnBridge.column(StaticInvoke(kernel.getClass, dataType, method, exprs, types,
      propagateNull = propagateNull, returnNullable = returnNullable))
  }

  private def arg(method: String, a: Any): (Expression, DataType) = a match {
    case (c: Column, t: DataType) => (ColumnBridge.expression(c), t)
    case _: Column => throw new IllegalArgumentException(s"$method: pass a column as column -> type")
    case v @ (_: Int | _: Long | _: Double | _: Boolean) => val l = Literal(v); (l, l.dataType)
    case o => val l = Literal.fromObject(o); (l, l.dataType)
  }
}
