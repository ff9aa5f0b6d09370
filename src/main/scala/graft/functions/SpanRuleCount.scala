package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.{EnumRule, MinLengthRule, PatternRule, RangeRule, RequiredRule, SpanRule}

/** Hand-specialized byte/code-point matchers for the pattern keywords
  * the flagship rule set uses. Each is `find()`-equivalent to its
  * java.util.regex source — including `$`'s match-before-the-FINAL-
  * line-terminator rule (\n, \r\n, \r, U+0085, U+2028, U+2029) and the
  * Unicode general categories behind \p{L}\p{N}\p{P} (derived from
  * Character.getType, which is exactly the regex engine's
  * classification) — evaluated straight off the UTF8String bytes with
  * zero allocation. The generic path allocates a String AND a Matcher
  * per span per pattern rule; with 6 pattern rules × 8 spans × 5M docs
  * that churn was the dominant flagship rule-kernel cost.
  * Equivalence with rlike (the HOF compiler's path, same regex engine)
  * is spec-tested over adversarial strings in FunctionsSpec.
  */
private[functions] object FastPatterns {
  val Generic = 0
  val MDigits = 1      // ^m[0-9]+$
  val LowerAlnum = 2   // ^[a-z][a-z0-9]*$
  val StartsM = 3      // ^m
  val EndsDigit = 4    // [0-9]$
  val LnpSpace = 5     // ^[\p{L}\p{N}\p{P} ]*$
  val NonWsOrEmpty = 6 // ^\S|^$

  def kindOf(regex: String): Int = regex match {
    case "^m[0-9]+$" => MDigits
    case "^[a-z][a-z0-9]*$" => LowerAlnum
    case "^m" => StartsM
    case "[0-9]$" => EndsDigit
    case "^[\\p{L}\\p{N}\\p{P} ]*$" => LnpSpace
    case "^\\S|^$" => NonWsOrEmpty
    case _ => Generic
  }

  private def lnpType(t: Int): Boolean = t match {
    case Character.UPPERCASE_LETTER | Character.LOWERCASE_LETTER |
        Character.TITLECASE_LETTER | Character.MODIFIER_LETTER |
        Character.OTHER_LETTER |
        Character.DECIMAL_DIGIT_NUMBER | Character.LETTER_NUMBER |
        Character.OTHER_NUMBER |
        Character.DASH_PUNCTUATION | Character.START_PUNCTUATION |
        Character.END_PUNCTUATION | Character.CONNECTOR_PUNCTUATION |
        Character.OTHER_PUNCTUATION | Character.INITIAL_QUOTE_PUNCTUATION |
        Character.FINAL_QUOTE_PUNCTUATION => true
    case _ => false
  }

  /** ASCII membership of [\p{L}\p{N}\p{P} ]: note $ + < = > ^ ` | ~ are
    * SYMBOL categories, not \p{P} — the table comes from getType, so it
    * cannot drift from the engine.
    */
  private val lnpAscii: Array[Boolean] = Array.tabulate(128)(i =>
    i == ' '.toInt || lnpType(Character.getType(i)))

  import org.apache.spark.unsafe.Platform

  /** Position of `$`'s before-final-terminator match: numBytes minus
    * the final line terminator's byte length (0 if none). `$` also
    * always matches at numBytes itself.
    */
  private def effEnd(base: AnyRef, off: Long, n: Int): Int = {
    if (n == 0) return 0
    @inline def b(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    val last = b(n - 1)
    if (last == '\n') { if (n >= 2 && b(n - 2) == '\r') n - 2 else n - 1 }
    else if (last == '\r') n - 1
    else if (last == 0x85 && n >= 2 && b(n - 2) == 0xC2) n - 2 // U+0085
    else if ((last == 0xA8 || last == 0xA9) && n >= 3 &&
      b(n - 3) == 0xE2 && b(n - 2) == 0x80) n - 3 // U+2028 / U+2029
    else n
  }

  /** `pattern.matcher(s.toString).find()` for the specialized kinds. */
  def find(kind: Int, s: UTF8String): Boolean = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    @inline def b(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    @inline def digit(c: Int): Boolean = c >= '0' && c <= '9'
    kind match {
      case StartsM => n >= 1 && b(0) == 'm'
      case EndsDigit =>
        // $ matches at effEnd AND at the very end; a digit must END at
        // one of those positions
        (n > 0 && digit(b(n - 1))) || {
          val e = effEnd(base, off, n)
          e > 0 && e < n && digit(b(e - 1))
        }
      case MDigits =>
        // ^m then ≥1 digits, ending at a $ position: the greedy run can
        // backtrack to any length, so match iff the digit run from 1
        // reaches n, or covers some $ position ≥ 2
        n >= 2 && b(0) == 'm' && {
          var d = 1
          while (d < n && digit(b(d))) d += 1
          if (d == n) true
          else { val e = effEnd(base, off, n); e >= 2 && e <= d }
        }
      case LowerAlnum =>
        n >= 1 && b(0) >= 'a' && b(0) <= 'z' && {
          var r = 1
          while (r < n && ((b(r) >= 'a' && b(r) <= 'z') || digit(b(r))))
            r += 1
          if (r == n) true
          else { val e = effEnd(base, off, n); e >= 1 && e <= r }
        }
      case LnpSpace =>
        // maximal class run from 0 must reach effEnd (or cover all
        // bytes); decode code points only off the ASCII fast path
        val e = effEnd(base, off, n)
        var q = 0
        var go = true
        while (go && q < n) {
          val c = b(q)
          if (c < 0x80) {
            if (lnpAscii(c)) q += 1 else go = false
          } else {
            var cp = -1
            var len = 0
            if ((c & 0xE0) == 0xC0 && q + 1 < n) {
              cp = ((c & 0x1F) << 6) | (b(q + 1) & 0x3F); len = 2
            } else if ((c & 0xF0) == 0xE0 && q + 2 < n) {
              cp = ((c & 0x0F) << 12) | ((b(q + 1) & 0x3F) << 6) |
                (b(q + 2) & 0x3F); len = 3
            } else if ((c & 0xF8) == 0xF0 && q + 3 < n) {
              cp = ((c & 0x07) << 18) | ((b(q + 1) & 0x3F) << 12) |
                ((b(q + 2) & 0x3F) << 6) | (b(q + 3) & 0x3F); len = 4
            }
            if (cp >= 0 && lnpType(Character.getType(cp))) q += len
            else go = false
          }
        }
        q >= e
      case NonWsOrEmpty =>
        // \S = [^ \t\n\x0B\f\r] (ASCII-only whitespace set); ^$ matches
        // the empty string and a string that is ONLY a line terminator
        if (n == 0) true
        else {
          val c = b(0)
          val ws = c == ' ' || c == '\t' || c == '\n' || c == 0x0B ||
            c == '\f' || c == '\r'
          !ws || effEnd(base, off, n) == 0
        }
    }
  }
}

/** Serializable rule evaluator of the fused kernel [[VerdictCounter]],
  * built straight from the [[SpanRule]] ADT (sealed, so every match here
  * is exhaustive); field ordinals resolved once at construction.
  */
final class RuleCounter(rules: Array[SpanRule],
    ordinals: Map[String, Int], kindOrd: Int,
    stringField: Array[Boolean]) extends Serializable {
  // per-rule dispatch tables resolved once: no Map lookups, no Option
  // boxing, no pattern-match allocation in the 10^8-spans/s hot loop
  private val TEnum = 0; private val TReq = 1
  private val TPat = 2; private val TRange = 3; private val TLen = 4
  private val tags: Array[Int] = rules.map {
    case _: EnumRule => TEnum
    case _: RequiredRule => TReq
    case _: PatternRule => TPat
    case _: RangeRule => TRange
    case _: MinLengthRule => TLen
  }
  private val ords: Array[Int] = rules.map(r => ordinals(r.field))
  // UTF8String sets and compiled Patterns are rebuilt on each executor
  @transient private lazy val enumSets: Array[Set[UTF8String]] =
    rules.map {
      case EnumRule(_, allowed) => allowed.map(UTF8String.fromString).toSet
      case _ => null
    }
  @transient private lazy val reqKinds: Array[UTF8String] =
    rules.map {
      case RequiredRule(_, whenKind) =>
        whenKind.map(UTF8String.fromString).orNull
      case _ => null
    }
  @transient private lazy val patterns: Array[Pattern] =
    rules.map { case PatternRule(_, re) => Pattern.compile(re); case _ => null }
  // specialized matcher id per pattern rule (Generic = fall back to
  // java.util.regex); resolved once from the regex source string
  private val patKinds: Array[Int] = rules.map {
    case PatternRule(_, re) => FastPatterns.kindOf(re)
    case _ => FastPatterns.Generic
  }
  private val hasMin: Array[Boolean] =
    rules.map { case RangeRule(_, min, _) => min.isDefined; case _ => false }
  private val mins: Array[Long] =
    rules.map { case RangeRule(_, min, _) => min.getOrElse(0L); case _ => 0L }
  private val hasMax: Array[Boolean] =
    rules.map { case RangeRule(_, _, max) => max.isDefined; case _ => false }
  private val maxs: Array[Long] =
    rules.map { case RangeRule(_, _, max) => max.getOrElse(0L); case _ => 0L }
  private val minLens: Array[Int] =
    rules.map { case MinLengthRule(_, m) => m; case _ => 0 }

  /** Violations of ONE span row — the inner loop of the fused
    * flagship kernel [[SpanVerdictCount]] for a span with no reference
    * counterpart. The span
    * struct's four fields are decoded ONCE into locals; the rules loop
    * then reads locals — the per-rule `row.getUTF8String(ord)` form
    * allocated a fresh UTF8String wrapper per rule per span (≈25 per
    * span under the 20-keyword flagship set).
    */
  def countSpan(row: InternalRow): Int = {
    // fetch-once locals for the 4-field span struct (null SQL values
    // stay null / flagged)
    var u0: UTF8String = null; var u1: UTF8String = null
    var u2: UTF8String = null; var u3: UTF8String = null
    var v0 = 0L; var v1 = 0L; var v2 = 0L; var v3 = 0L
    var n0 = true; var n1 = true; var n2 = true; var n3 = true
    if (!row.isNullAt(0)) { n0 = false
      if (stringField(0)) u0 = row.getUTF8String(0) else v0 = row.getInt(0) }
    if (!row.isNullAt(1)) { n1 = false
      if (stringField(1)) u1 = row.getUTF8String(1) else v1 = row.getInt(1) }
    if (!row.isNullAt(2)) { n2 = false
      if (stringField(2)) u2 = row.getUTF8String(2) else v2 = row.getInt(2) }
    if (!row.isNullAt(3)) { n3 = false
      if (stringField(3)) u3 = row.getUTF8String(3) else v3 = row.getInt(3) }
    countSpanDecoded(n0, u0, v0, n1, u1, v1, n2, u2, v2, n3, u3, v3)
  }

  /** The rules loop over ALREADY-DECODED field slots — the fused
    * flagship kernel decodes each span once for both the mismatch compare
    * and the rules.
    */
  def countSpanDecoded(
      n0: Boolean, u0: UTF8String, v0: Long,
      n1: Boolean, u1: UTF8String, v1: Long,
      n2: Boolean, u2: UTF8String, v2: Long,
      n3: Boolean, u3: UTF8String, v3: Long): Int = {
    @inline def isNul(o: Int): Boolean =
      if (o == 0) n0 else if (o == 1) n1 else if (o == 2) n2 else n3
    @inline def str(o: Int): UTF8String =
      if (o == 0) u0 else if (o == 1) u1 else if (o == 2) u2 else u3
    @inline def num(o: Int): Long =
      if (o == 0) v0 else if (o == 1) v1 else if (o == 2) v2 else v3
    var count = 0
    var j = 0
    while (j < tags.length) {
          val ord = ords(j)
          tags(j) match {
            case TEnum =>
              if (!isNul(ord) &&
                !enumSets(j).contains(str(ord))) count += 1
            case TReq =>
              val k = reqKinds(j)
              val gate = k == null || (!isNul(kindOrd) &&
                str(kindOrd).equals(k))
              if (gate && isNul(ord)) count += 1
            case TPat =>
              if (!isNul(ord)) {
                val pk = patKinds(j)
                val found =
                  if (pk != FastPatterns.Generic)
                    FastPatterns.find(pk, str(ord))
                  else patterns(j)
                    .matcher(str(ord).toString).find()
                if (!found) count += 1
              }
            case TRange =>
              if (!isNul(ord)) {
                val x = num(ord)
                if ((hasMin(j) && x < mins(j)) ||
                  (hasMax(j) && x > maxs(j))) count += 1
              }
            case TLen =>
              if (!isNul(ord) &&
                str(ord).numChars() < minLens(j)) count += 1
    }
      j += 1
    }
    count
  }
}

/** FUSED verdict kernel: span-sequence mismatches PLUS rule violations
  * in ONE loop over the two span buffers, the only span kernel. It
  * equals `size(SpanInvariant.violationsColumn)` plus
  * `size(RuleCompiler.violations)`, the two HOF spec forms (FunctionsSpec,
  * on the fixture join plus edge rows); with an empty rule set it is the
  * mismatch count alone ([[graft.checks.SpanInvariant.verdicts]]), and
  * [[SpanMismatchIndices]] lists the indices where that count is non-zero.
  *
  * Mismatch := any of (kind, text, media_ref, offset) differing null-safely
  * (the per-row invariant from BASELINE.json input_hint), an index present
  * on only one side (length mismatch), or a null element against a
  * non-null one; two null elements do not mismatch. Rules see docs-side
  * (`a`) spans only, and skip a null element.
  *
  * The walk reads both arrays through `getStruct`, whatever their class:
  * the `UnsafeArrayData` a projection over the join produces, or the
  * `ColumnarArray`s [[graft.checks.ZipSortedBucketsExec]] passes straight
  * off the vectorized scan. FunctionsSpec pins the kernel against the HOF
  * forms over the join, and ValidationSpec pins the merge against the join.
  */
final class VerdictCounter(ki: Int, ti: Int, mi: Int, oi: Int,
    rc: RuleCounter) extends Serializable {
  private def strEq(x: UTF8String, y: UTF8String): Boolean =
    if (x == null) y == null else x.equals(y)

  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    var c = 0
    var i = 0
    while (i < n) {
      c += countAt(a, b, na, nb, i)
      i += 1
    }
    c
  }

  /** Index `i`'s mismatch (0 or 1) plus its docs-side rule violations;
    * `na` and `nb` are the two array lengths.
    */
  def countAt(a: ArrayData, b: ArrayData, na: Int, nb: Int, i: Int): Int =
    if (i >= na || i >= nb) {
      // index present on one side only = mismatch
      if (i < na && !a.isNullAt(i)) 1 + rc.countSpan(a.getStruct(i, 4))
      else 1
    } else {
      val aN = a.isNullAt(i)
      val bN = b.isNullAt(i)
      if (aN || bN) {
        (if (aN && bN) 0 else 1) +
          (if (aN) 0 else rc.countSpan(a.getStruct(i, 4)))
      } else {
        // decode the a-side span ONCE; both the mismatch compare and
        // the rules loop read the same locals
        val sa = a.getStruct(i, 4)
        val sb = b.getStruct(i, 4)
        val ak = if (sa.isNullAt(ki)) null else sa.getUTF8String(ki)
        val at = if (sa.isNullAt(ti)) null else sa.getUTF8String(ti)
        val am = if (sa.isNullAt(mi)) null else sa.getUTF8String(mi)
        val aoN = sa.isNullAt(oi)
        val ao = if (aoN) 0 else sa.getInt(oi)
        val bk = if (sb.isNullAt(ki)) null else sb.getUTF8String(ki)
        val bt = if (sb.isNullAt(ti)) null else sb.getUTF8String(ti)
        val bm = if (sb.isNullAt(mi)) null else sb.getUTF8String(mi)
        val boN = sb.isNullAt(oi)
        val mismatch = !strEq(ak, bk) || !strEq(at, bt) || !strEq(am, bm) ||
          aoN != boN || (!aoN && ao != sb.getInt(oi))
        // route the decoded values into their ordinal slots (ki/ti/
        // mi/oi are a permutation of 0..3, constant per plan — the
        // conditionals fold)
        @inline def u(slot: Int): UTF8String =
          if (slot == ki) ak else if (slot == ti) at
          else if (slot == mi) am else null
        @inline def nul(slot: Int): Boolean =
          if (slot == oi) aoN else u(slot) == null
        @inline def v(slot: Int): Long = if (slot == oi) ao.toLong else 0L
        (if (mismatch) 1 else 0) + rc.countSpanDecoded(
          nul(0), u(0), v(0), nul(1), u(1), v(1),
          nul(2), u(2), v(2), nul(3), u(3), v(3))
      }
    }
}

object VerdictCounter {
  /** The fused kernel for span arrays of type `spansType` (the docs
    * side's; the reference side is read with the same field ordinals).
    */
  def apply(spansType: DataType, rules: Seq[SpanRule]): VerdictCounter = {
    val st = spansType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val ordinals = st.fieldNames.zipWithIndex.toMap
    new VerdictCounter(ordinals("kind"), ordinals("text"),
      ordinals("media_ref"), ordinals("offset"),
      new RuleCounter(rules.toArray, ordinals, ordinals("kind"),
        st.fields.map(_.dataType == StringType)))
  }
}

case class SpanVerdictCount(left: Expression, right: Expression,
    rules: Seq[SpanRule])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  @transient private lazy val counter: VerdictCounter =
    VerdictCounter(left.dataType, rules)

  override def nullSafeEval(l: Any, r: Any): Any =
    Integer.valueOf(counter.count(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val h = ctx.addReferenceObj("verdictCounter", counter,
      classOf[VerdictCounter].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $h.count($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanVerdictCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "span_verdict_count"
}

object SpanVerdictCount {
  def spanVerdictCount(spans: Column, refSpans: Column,
      rules: Seq[SpanRule]): Column = {
    GraftBridge.column(SpanVerdictCount(
      GraftBridge.expression(spans), GraftBridge.expression(refSpans),
      rules))
  }
}
