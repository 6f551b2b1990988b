package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftshim.GraftSqlShim.{column, expression}
import org.apache.spark.sql.types.DataType

/** A native kernel as a Column: Spark's `StaticInvoke` of `method` on the
  * Scala object `kernel`. Whole-stage codegen emits the one static call;
  * an interpreted plan calls the same method by reflection. Each argument
  * carries its expected type, so a wrong-typed column fails at analysis.
  * A null argument yields null without calling the kernel, unless
  * `nullable`: such a kernel takes null arguments itself and may return
  * null (a boxed result); the optimizer then infers no `isnotnull` of
  * its arguments from a predicate over it. */
private[graft] object Kernel {
  def call(kernel: AnyRef, method: String, dataType: DataType,
      nullable: Boolean = false)(args: (Column, DataType)*): Column =
    column(StaticInvoke(kernel.getClass, dataType, method,
      args.map(a => expression(a._1)), args.map(_._2),
      propagateNull = !nullable, returnNullable = nullable))
}
