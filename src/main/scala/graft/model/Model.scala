package graft.model

/** Core data model of the validation engine.
  *
  * Mirrors the reference's logical model (SURVEY.md §1): a document is one
  * row of `(doc_id, spans)` per BASELINE.json `input_hint`. Verdicts and
  * violations are frames, not case classes: the reference's
  * `Map<docKey, OutputUnit>` (YamlSchemaValidatorRunner.java:69) becomes a
  * `(doc_id, part, valid, n_violations)` frame
  * ([[graft.checks.SpanInvariant.verdicts]]), and each NetworkNT
  * OutputUnit detail (testreport/invalidyaml.json:6-14) a
  * `{pointer, keyword, message, schemaLocation}` struct in a doc's
  * violations array.
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
