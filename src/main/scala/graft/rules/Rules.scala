package graft.rules

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory.{instance => json}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.rules.JsonSchemaCompiler.View

/** Span rules: plain data naming a JSON-Schema keyword, the span field it
  * constrains and its bound. Their semantics are [[JsonSchemaCompiler]]'s
  * keyword table's: [[RuleCompiler.violations]] lowers each rule to
  * keyword nodes and places them at a path over the span struct, so the
  * failure test, the null handling and the message of each keyword are
  * defined once, in that table. A failed keyword yields a violation struct
  * `{pointer, keyword, message, schemaLocation}` mirroring the NetworkNT
  * OutputUnit detail shape (testreport/invalidyaml.json:6-14). The fused
  * kernel ([[graft.functions.RuleCounter]]) is the compiled form of the
  * same rules, pinned against the lowering by FunctionsSpec.
  */
sealed trait SpanRule { def field: String }

/** `enum` — value must be one of `allowed` (sample-schema.json:8-26). */
final case class EnumRule(field: String, allowed: Seq[String])
    extends SpanRule

/** `required` — field must be present (non-null), optionally only when
  * `kind` equals `whenKind` (FilesOutputToLlmTest.java:73-76 exercises
  * `required`).
  */
final case class RequiredRule(field: String, whenKind: Option[String] = None)
    extends SpanRule

/** `pattern` — string must match regex (sample-schema.json:1451-1453). */
final case class PatternRule(field: String, regex: String) extends SpanRule

/** `minimum` / `maximum` on a numeric field (sample-schema.json:1421-1437).
  * `min <= max` is required, so a value breaks at most one bound, as the
  * kernel counts.
  */
final case class RangeRule(field: String, min: Option[Long], max: Option[Long])
    extends SpanRule {
  require(min.zip(max).forall { case (a, b) => a <= b },
    s"RangeRule on $field: min exceeds max")
}

/** `minLength` on a string field (sample-schema.json:1964-1966). */
final case class MinLengthRule(field: String, minLen: Int) extends SpanRule

object RuleCompiler {
  /** Rule `r` on span `s` as keyword nodes, each with the value it
    * constrains and its gate: `required` constrains the span struct, gated
    * on `kind = whenKind`; every other keyword constrains the span's
    * `r.field`. A [[RangeRule]] lowers to a `minimum` and/or a `maximum`
    * node. Bounds stay integer nodes, so messages read `0`, not `0.0`.
    */
  private def lower(r: SpanRule, s: Column): Seq[(JsonNode, View, Column)] = {
    def on(keyword: String, bound: JsonNode) =
      (json.objectNode().set[JsonNode](keyword, bound),
        View.typed(s.getField(r.field)), lit(true))
    r match {
      case EnumRule(_, allowed) =>
        val members = json.arrayNode()
        allowed.foreach(a => members.add(a))
        Seq(on("enum", members))
      case RequiredRule(field, whenKind) =>
        Seq((json.objectNode().set[JsonNode]("required",
          json.arrayNode().add(field)), View.typed(s),
          whenKind.fold(lit(true))(s.getField("kind") === _)))
      case PatternRule(_, regex) => Seq(on("pattern", json.textNode(regex)))
      case RangeRule(_, min, max) =>
        min.map(m => on("minimum", json.numberNode(m))).toSeq ++
          max.map(m => on("maximum", json.numberNode(m)))
      case MinLengthRule(_, minLen) =>
        Seq(on("minLength", json.numberNode(minLen)))
    }
  }

  /** Compile a rule set into one Column producing
    * `array<struct<pointer, keyword, message, schemaLocation>>` of all
    * violations in the document's spans, span by span and rule by rule:
    * the Spark analogue of NetworkNT's single-walk LIST output.
    */
  def violations(spans: Column, rules: Seq[SpanRule]): Column =
    flatten(transform(spans, (s, i0) => {
      val checks = for {
        r <- rules
        (node, value, gate) <- lower(r, s)
        (keyword, fails, message) <- JsonSchemaCompiler.atPath(node, value)
      } yield when(gate && fails, JsonSchemaCompiler.viol(
        concat(lit("/spans/"), i0.cast("string"), lit("/" + r.field)),
        keyword, message,
        s"#/properties/spans/items/properties/${r.field}/$keyword"))
      filter(array(checks: _*), v => v.isNotNull)
    }))

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
