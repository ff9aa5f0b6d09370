package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Array of mismatching 0-based indices (usually empty) for the span
  * invariant's detail path — violation structs are then built only for
  * the rare mismatch indices instead of for every span. An index
  * mismatches where the fused kernel's per-index step, run with no rules
  * ([[VerdictCounter.countAt]]), is non-zero, so the detail path and the
  * counts share one compare.
  */
case class SpanMismatchIndices(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = left.nullable || right.nullable

  @transient private lazy val counter = VerdictCounter(left.dataType, Nil)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    var out: java.util.ArrayList[Int] = null
    var i = 0
    while (i < n) {
      if (counter.countAt(a, b, na, nb, i) != 0) {
        if (out == null) out = new java.util.ArrayList[Int](4)
        out.add(i)
      }
      i += 1
    }
    if (out == null) SpanMismatchIndices.emptyResult
    else {
      val arr = new Array[Any](out.size)
      var j = 0
      while (j < out.size) { arr(j) = out.get(j); j += 1 }
      new GenericArrayData(arr)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanMismatchIndices =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "span_mismatch_indices"
}

object SpanMismatchIndices {
  private val emptyResult = new GenericArrayData(Array.empty[Any])

  def spanMismatchIndices(spans: Column, refSpans: Column): Column =
    GraftBridge.column(SpanMismatchIndices(
      GraftBridge.expression(spans), GraftBridge.expression(refSpans)))
}
