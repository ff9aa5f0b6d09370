package graft.model

/** Core data model of the validation engine.
  *
  * Mirrors the reference's logical model (SURVEY.md §1): a document is one
  * row of `(doc_id, spans)` per BASELINE.json `input_hint`; the reference's
  * `Map<docKey, OutputUnit>` (YamlSchemaValidatorRunner.java:69) becomes a
  * `Dataset[DocVerdict]`, and each NetworkNT OutputUnit detail
  * (testreport/invalidyaml.json:6-14) becomes a [[Violation]] row.
  */
final case class Span(
    kind: String,
    text: String,
    media_ref: String,
    offset: Int)

final case class Doc(
    doc_id: String,
    spans: Seq[Span],
    part: String)

/** One failed keyword — shape pinned by the reference golden
  * `testreport/invalidyaml.json:6-14` (evaluationPath/schemaLocation/
  * instanceLocation/errors{keyword->message}).
  */
final case class Violation(
    doc_id: String,
    pointer: String,
    keyword: String,
    message: String,
    schemaLocation: String)

final case class DocVerdict(
    doc_id: String,
    valid: Boolean,
    violations: Seq[Violation])
