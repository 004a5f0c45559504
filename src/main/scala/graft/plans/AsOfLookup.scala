package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Backward as-of probe into a broadcast series: the (1-based-later)
  * index of the LAST element of an ascending-sorted long array that is
  * <= t, or -1 when every element is greater (no series row at or
  * before t). Binary search — O(log |series|) per probe row, no
  * per-row allocation — called from generated code on the stream side
  * of a broadcast join, which is what lets the as-of attach run with
  * NO shuffle or sort of the big side (operators/AsOfJoin
  * .probePacked). Null array or null t yields null. The comparison is
  * inclusive (a series point AT t matches), and duplicate times return
  * the LAST duplicate's index. */
case class AsOfIndex(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "asof_index"
  override def inputTypes = Seq(ArrayType(LongType), LongType)

  override def nullSafeEval(arr: Any, t: Any): Any =
    AsOfIndex.compute(arr.asInstanceOf[ArrayData], t.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, t) => s"graft.plans.AsOfIndex.compute($a, $t)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AsOfIndex =
    copy(left = newLeft, right = newRight)
}

object AsOfIndex {
  def apply(arr: Column, t: Column): Column = call_function("asof_index", arr, t)

  /** Called from generated code. `times` must be ascending; a null
    * element is treated as -infinity (sorts first, never the answer
    * unless all are null — callers build the array from non-null
    * series times, so this is belt and braces). */
  def compute(times: ArrayData, t: Long): Int = {
    val n = times.numElements()
    var lo = 0
    var hi = n - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = if (times.isNullAt(mid)) Long.MinValue else times.getLong(mid)
      if (v <= t) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }
}
