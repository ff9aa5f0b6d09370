package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** JSON-Schema-style rule ADT over span documents, compiled to pure
  * Catalyst `Column` trees (whole-stage-codegen'd; zero UDFs).
  *
  * The reference delegates keyword evaluation to NetworkNT
  * (`schema.validate(...)`, YamlSchemaValidator.java:138-140); here each
  * span keyword (`enum`, `required`, `pattern`, `minimum`/`maximum`,
  * `minLength`) compiles to a predicate over a span struct, and a failed
  * keyword yields a violation struct `{pointer, keyword, message,
  * schemaLocation}` mirroring the NetworkNT OutputUnit detail shape
  * (testreport/invalidyaml.json:6-14). The CLI's full keyword surface
  * (`type`, `not`, `oneOf`, `contains`, ...) is [[JsonSchemaCompiler]].
  */
sealed trait SpanRule {
  def field: String
  def keyword: String
  def schemaLocation: String =
    s"#/properties/spans/items/properties/$field/$keyword"

  /** Predicate: TRUE means the span VIOLATES this rule. `span` is the span
    * struct Column, `i1` the 1-based span index.
    */
  def violated(span: Column, i1: Column): Column

  /** Failure message; NetworkNT-flavored phrasing. */
  def message(span: Column, i1: Column): Column
}

/** `enum` — value must be one of `allowed` (sample-schema.json:8-26). */
final case class EnumRule(field: String, allowed: Seq[String])
    extends SpanRule {
  val keyword = "enum"
  def violated(span: Column, i1: Column): Column = {
    val v = span.getField(field)
    v.isNotNull && !v.isin(allowed: _*)
  }
  def message(span: Column, i1: Column): Column =
    lit(s"does not have a value in the enumeration " +
      allowed.mkString("[", ", ", "]"))
}

/** `required` — field must be present (non-null), optionally only when
  * `kind` equals `whenKind` (FilesOutputToLlmTest.java:73-76 exercises
  * `required`).
  */
final case class RequiredRule(field: String, whenKind: Option[String] = None)
    extends SpanRule {
  val keyword = "required"
  def violated(span: Column, i1: Column): Column = {
    val missing = span.getField(field).isNull
    whenKind.fold(missing)(k => span.getField("kind") === k && missing)
  }
  def message(span: Column, i1: Column): Column =
    lit(s"required property '$field' not found")
}

/** `pattern` — string must match regex (sample-schema.json:1451-1453). */
final case class PatternRule(field: String, regex: String) extends SpanRule {
  val keyword = "pattern"
  def violated(span: Column, i1: Column): Column = {
    val v = span.getField(field)
    v.isNotNull && !v.rlike(regex)
  }
  def message(span: Column, i1: Column): Column =
    lit(s"does not match the regex pattern $regex")
}

/** `minimum` / `maximum` on a numeric field (sample-schema.json:1421-1437). */
final case class RangeRule(field: String, min: Option[Long], max: Option[Long])
    extends SpanRule {
  val keyword = if (min.isDefined) "minimum" else "maximum"
  def violated(span: Column, i1: Column): Column = {
    val v = span.getField(field)
    val lo = min.map(m => v < lit(m)).getOrElse(lit(false))
    val hi = max.map(m => v > lit(m)).getOrElse(lit(false))
    v.isNotNull && (lo || hi)
  }
  def message(span: Column, i1: Column): Column = (min, max) match {
    case (Some(m), _) => lit(s"must have a minimum value of $m")
    case (_, Some(m)) => lit(s"must have a maximum value of $m")
    case _ => lit("")
  }
}

/** `minLength` on a string field (sample-schema.json:1964-1966). */
final case class MinLengthRule(field: String, minLen: Int) extends SpanRule {
  val keyword = "minLength"
  def violated(span: Column, i1: Column): Column = {
    val v = span.getField(field)
    v.isNotNull && length(v) < minLen
  }
  def message(span: Column, i1: Column): Column =
    lit(s"must be at least $minLen characters long")
}

object RuleCompiler {
  /** Compile a rule set into one Column producing
    * `array<struct<pointer, keyword, message, schemaLocation>>` of all
    * violations in the document's spans. One pass over the array, fully
    * codegen'd — the Spark analogue of NetworkNT's single-walk LIST output.
    */
  def violations(spans: Column, rules: Seq[SpanRule]): Column = {
    val perSpan = transform(spans, (s, i0) => {
      val i1 = i0 + 1
      val checks = rules.map { r =>
        when(r.violated(s, i1), struct(
          concat(lit("/spans/"), i0.cast("string"), lit("/" + r.field))
            .as("pointer"),
          lit(r.keyword).as("keyword"),
          r.message(s, i1).as("message"),
          lit(r.schemaLocation).as("schemaLocation")))
      }
      filter(array(checks: _*), v => v.isNotNull)
    })
    flatten(perSpan)
  }

  /** Default rule set for the interleaved-docs domain. */
  val docRules: Seq[SpanRule] = Seq(
    EnumRule("kind", Seq("text", "image", "audio")),
    RequiredRule("media_ref", whenKind = Some("image")),
    PatternRule("media_ref", "^m[0-9]+$"),
    RangeRule("offset", min = Some(0), max = None),
    RangeRule("offset", min = None, max = Some(togetherMax)))

  private def togetherMax: Long = graft.data.Interleaved.MaxSpans.toLong - 1

  /** Flagship benchmark rule set: sized like a real-world schema (the
    * reference's sample-schema.json carries 682 `type` + 131 `properties`
    * + dozens of enum/pattern/range keywords — SURVEY.md §2.3), so the
    * constraint-eval throughput measurement reflects a production keyword
    * density, not a toy.
    */
  val benchRules: Seq[SpanRule] = docRules ++ Seq(
    EnumRule("kind", Seq("text", "image", "audio", "video", "table")),
    EnumRule("kind", Seq("text", "image", "audio", "caption")),
    PatternRule("media_ref", "^[a-z][a-z0-9]*$"),
    PatternRule("media_ref", "^m"),
    PatternRule("media_ref", "[0-9]$"),
    PatternRule("text", "^[\\p{L}\\p{N}\\p{P} ]*$"),
    PatternRule("text", "^\\S|^$"),
    RangeRule("offset", Some(0), None),
    RangeRule("offset", None, Some(1000)),
    RangeRule("offset", Some(-1000), None),
    RequiredRule("kind", None),
    RequiredRule("offset", None),
    MinLengthRule("text", 1),
    MinLengthRule("media_ref", 2),
    MinLengthRule("kind", 3))
}
