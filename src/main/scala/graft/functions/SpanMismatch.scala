package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot path of the span-sequence
  * invariant. Replaces a higher-order `transform(arrays_zip(...))` tree —
  * HOF lambdas are interpreted per-element with boxed closures; these run
  * one tight loop over the two ArrayData buffers.
  *
  * Mismatch := any of (kind, text, media_ref, offset) differing null-safely
  * (the per-row invariant from BASELINE.json input_hint), or an index
  * present on only one side (length mismatch).
  */
/** Reused cursor over an UnsafeArrayData of 4-field structs: `at(i)`
  * points ONE mutable UnsafeRow at element i instead of allocating a
  * fresh wrapper per `getStruct` call (~2 wrappers per span pair on the
  * 10^8-spans/s hot paths). The slot arithmetic is the documented
  * UnsafeArrayData element layout (8-byte offset&length per element
  * after the header) — exactly what `getStruct` computes before
  * allocating. The returned row is INVALIDATED by the next `at`; hot
  * loops must fully decode a span before advancing (they do — every
  * caller copies fields into locals first).
  */
private[functions] final class UnsafeSpanCursor extends Serializable {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeRow}
  private val row = new UnsafeRow(4)
  private var base: AnyRef = _
  private var off = 0L
  private var slots = 0L

  def reset(a: UnsafeArrayData): Unit = {
    base = a.getBaseObject
    off = a.getBaseOffset
    slots = off + UnsafeArrayData.calculateHeaderPortionInBytes(
      a.numElements())
  }

  def at(i: Int): InternalRow = {
    val os = org.apache.spark.unsafe.Platform.getLong(base, slots + 8L * i)
    row.pointTo(base, off + (os >> 32).toInt, os.toInt)
    row
  }
}

private[functions] object SpanCompare {
  def fieldOrdinals(dt: DataType): (Int, Int, Int, Int) = {
    val st = dt.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    (st.fieldIndex("kind"), st.fieldIndex("text"),
      st.fieldIndex("media_ref"), st.fieldIndex("offset"))
  }

  /** Null-safe field compare of two already-decoded span rows. */
  def mismatchRows(sa: InternalRow, sb: InternalRow,
      ords: (Int, Int, Int, Int)): Boolean = {
    val (ki, ti, mi, oi) = ords
    def s(row: InternalRow, ord: Int): UTF8String =
      if (row.isNullAt(ord)) null else row.getUTF8String(ord)
    !strEq(s(sa, ki), s(sb, ki)) ||
      !strEq(s(sa, ti), s(sb, ti)) ||
      !strEq(s(sa, mi), s(sb, mi)) || {
        val na = sa.isNullAt(oi); val nb = sb.isNullAt(oi)
        if (na || nb) na != nb else sa.getInt(oi) != sb.getInt(oi)
      }
  }

  private def strEq(a: UTF8String, b: UTF8String): Boolean =
    if (a == null) b == null else a.equals(b)

  def mismatchAt(a: ArrayData, b: ArrayData, i: Int,
      ords: (Int, Int, Int, Int)): Boolean = {
    if (i >= a.numElements() || i >= b.numElements()) return true
    if (a.isNullAt(i) || b.isNullAt(i))
      return !(a.isNullAt(i) && b.isNullAt(i))
    mismatchRows(a.getStruct(i, 4), b.getStruct(i, 4), ords)
  }
}

/** Array of mismatching 0-based indices (usually empty) — violation
  * structs are then built only for the rare mismatch indices instead of
  * for every span.
  */
case class SpanMismatchIndices(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = left.nullable || right.nullable

  @transient private lazy val ords =
    SpanCompare.fieldOrdinals(left.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.max(a.numElements(), b.numElements())
    var out: java.util.ArrayList[Int] = null
    var i = 0
    while (i < n) {
      if (SpanCompare.mismatchAt(a, b, i, ords)) {
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