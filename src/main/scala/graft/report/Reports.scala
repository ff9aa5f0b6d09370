package graft.report

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.dataformat.yaml.{YAMLGenerator, YAMLMapper}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Report renderers over the verdict/violation Datasets — the Spark
  * re-expression of the reference's output formats (SURVEY.md §2.1 K1-K3,
  * §2.5). Shapes are pinned byte-for-byte (TEXT/YAML) or line-for-line
  * (JSON/JUNIT/SARIF, after the reference's own XmlCompareUtil
  * normalization) against copies of the reference's golden files
  * (testreport/{valid,invalid,multi3invalid}yaml.*) in GoldenReportSpec.
  *
  * Aggregation happens distributed; only the (small, ordered) rendered
  * rows are collected. Ordering is always explicit (`doc_id, pointer`)
  * because the reference relies on insertion order (§2.6).
  */
object Reports {

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** One NetworkNT-LIST-style detail (golden invalidyaml.json:6-14):
    * subschema evaluation path, absolute schema location ($id + fragment),
    * failing instance pointer, and the keyword→message error map.
    */
  final case class Detail(evaluationPath: String, schemaLocation: String,
      instanceLocation: String, errors: Seq[(String, String)])

  /** Per-document OutputUnit re-expression: top-level `errors` (schema
    * resolution / parse failures, FilesOutput's `output.getErrors()`) vs
    * per-keyword `details` (FilesOutput's `output.getDetails()`).
    */
  final case class VerdictRow(doc_id: String, valid: Boolean,
      errors: Seq[(String, String)] = Seq.empty,
      details: Seq[Detail] = Seq.empty)

  /** Exact run totals, computed DISTRIBUTED in one aggregation — these
    * are what the renderers use for counts/verdicts, so truncating the
    * enumerated rows never skews a report's numbers.
    */
  final case class RunSummary(docs: Long, validDocs: Long,
      invalidDocs: Long, violations: Long) {
    def allValid: Boolean = invalidDocs == 0
  }

  /** Rebuild a Detail from a flat violation row. The compiler emits
    * schemaLocation as `<$id>#<evaluationPath>/<keyword>`; the keyword
    * moves into the errors map (NetworkNT LIST shape), leaving the
    * subschema path.
    */
  private def toDetail(pointer: String, keyword: String, message: String,
      schemaLocation: String): Detail = {
    val loc = Option(schemaLocation).getOrElse("#")
    val hash = loc.indexOf('#')
    val (base, frag) =
      if (hash >= 0) (loc.substring(0, hash), loc.substring(hash + 1))
      else ("", loc)
    val evalPath = frag.stripSuffix("/" + keyword)
    Detail(evalPath, s"$base#$evalPath", pointer, Seq(keyword -> message))
  }

  /** Collect a BOUNDED slice of verdicts + violations for rendering,
    * plus exact aggregated totals. At most `maxDocs` verdict rows
    * (ordered by doc_id) and `maxDetails` violation rows ever leave the
    * cluster; every count in a rendered report comes from [[RunSummary]],
    * not from the collected slice, so truncation never skews the numbers.
    * Violations with keyword `error` become the doc's top-level errors
    * map (schema-load / parse failures); the rest become details.
    */
  def gather(verdicts: DataFrame, violations: DataFrame,
      maxDocs: Int = 10000, maxDetails: Int = 10000)
      : (Seq[VerdictRow], RunSummary) = {
    val s = verdicts.agg(
      count(lit(1)).as("docs"),
      count_if(col("valid")).as("valid_docs")).collect()(0)
    val nViol = violations.count()
    val summary = RunSummary(s.getLong(0), s.getLong(1),
      s.getLong(0) - s.getLong(1), nViol)
    val v = verdicts.select("doc_id", "valid").orderBy("doc_id")
      .limit(maxDocs)
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    val withLoc =
      if (violations.columns.contains("schemaLocation")) violations
      else violations.withColumn("schemaLocation", lit("#"))
    val details = withLoc
      .select("doc_id", "pointer", "keyword", "message", "schemaLocation")
      .orderBy("doc_id", "pointer", "keyword")
      .limit(maxDetails).collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val rows = v.map { case (id, ok) =>
      val vs = details.getOrElse(id, Seq.empty)
      val (errs, dets) = vs.partition(_._2 == "error")
      VerdictRow(id, ok,
        errs.map { case (_, k, m, _) => (k, m) },
        dets.map { case (p, k, m, l) => toDetail(p, k, m, l) })
    }.toSeq
    (rows, summary)
  }

  /** Flat (pointer, keyword, message) triples — the LLM renderers' view;
    * top-level errors surface at pointer "/".
    */
  private def flatViolations(r: VerdictRow): Seq[(String, String, String)] =
    r.errors.map { case (k, m) => ("/", k, m) } ++
      r.details.flatMap(d =>
        d.errors.map { case (k, m) => (d.instanceLocation, k, m) })

  /** The line saying that [[gather]] cut rows, when it did: fewer rows
    * than the summary's documents, or fewer violations in the rows than
    * the summary counts.
    */
  private def cutNote(rows: Seq[VerdictRow], summary: RunSummary)
      : Option[String] = {
    val shown = rows.map(flatViolations(_).size.toLong).sum
    if (rows.size < summary.docs || shown < summary.violations)
      Some(s"(showing ${rows.size} of ${summary.docs} documents and " +
        s"$shown of ${summary.violations} violations)")
    else None
  }

  // ---------------------------------------------------------------------
  // TEXT — byte-exact vs testreport/*.txt (FilesOutput.toColoredString):
  // "Validation Result:" header, per-doc ok/invalid, top-level errors as
  // " label: message", details as " Details:\n Path:\n Schema:\n kw: msg".
  // `color` wraps verdicts in Spring AnsiColor GREEN/RED..DEFAULT (39).
  // A report of cut rows ends with the cut note.
  // ---------------------------------------------------------------------
  def renderText(rows: Seq[VerdictRow], summary: RunSummary,
      color: Boolean = false): String = {
    def verdict(ok: Boolean): String =
      if (!color) { if (ok) "ok" else "invalid" }
      else if (ok) "\u001b[32mok\u001b[39m"
      else "\u001b[31minvalid\u001b[39m"
    val sb = new StringBuilder
    sb.append("Validation Result: ").append(verdict(summary.allValid))
      .append('\n')
    rows.foreach { r =>
      sb.append(r.doc_id).append(": ").append(verdict(r.valid)).append('\n')
      if (!r.valid) {
        r.errors.foreach { case (label, msg) =>
          sb.append(" " + label + ": ").append(msg).append('\n')
        }
        r.details.foreach { d =>
          sb.append(" Details:\n Path: ").append(d.instanceLocation)
            .append("\n Schema: ").append(d.schemaLocation).append('\n')
          d.errors.foreach { case (label, msg) =>
            sb.append(' ').append(label).append(": ").append(msg)
              .append('\n')
          }
        }
      }
    }
    cutNote(rows, summary).foreach(sb.append(_).append('\n'))
    sb.toString
  }

  private val jsonMapper = new ObjectMapper()
  private val jsonPretty = jsonMapper.writerWithDefaultPrettyPrinter()
  // Jackson folds a string longer than 80 columns onto a second line by
  // default; the reference's YAML reports keep each value on its line
  private val yamlMapper = YAMLMapper.builder()
    .disable(YAMLGenerator.Feature.SPLIT_LINES).build()

  private def putErrors(o: ObjectNode, errors: Seq[(String, String)]): Unit = {
    val e = o.putObject("errors")
    errors.foreach { case (k, m) => e.put(k, m) }
  }

  /** Per-doc OutputUnit: valid, errors?, details? (field order per
    * NetworkNT OutputUnit / golden invalidyaml.json + multi3invalidyaml
    * .json).
    */
  private def docUnit(r: VerdictRow): ObjectNode = {
    val o = jsonMapper.createObjectNode().put("valid", r.valid)
    if (r.errors.nonEmpty) putErrors(o, r.errors)
    if (r.details.nonEmpty) {
      val ds = o.putArray("details")
      r.details.foreach(d => ds.add(detailUnit(d)))
    }
    o
  }

  private def detailUnit(d: Detail): ObjectNode = {
    val o = jsonMapper.createObjectNode().put("valid", false)
      .put("evaluationPath", d.evaluationPath)
      .put("schemaLocation", d.schemaLocation)
      .put("instanceLocation", d.instanceLocation)
    putErrors(o, d.errors)
    o
  }

  /** The reference's FilesOutput document `{valid, files:{...}}`, which
    * the JSON and YAML reports both write. Run verdict comes from the
    * exact summary, not the collected slice.
    */
  private def filesOutput(rows: Seq[VerdictRow], summary: RunSummary)
      : ObjectNode = {
    val root = jsonMapper.createObjectNode().put("valid", summary.allValid)
    val files = root.putObject("files")
    rows.foreach(r => files.set[ObjectNode](r.doc_id, docUnit(r)))
    root
  }

  /** JSON — FilesOutput through Jackson's DefaultPrettyPrinter (golden
    * testreport/invalidyaml.json).
    */
  def renderJson(rows: Seq[VerdictRow], summary: RunSummary): String =
    jsonPretty.writeValueAsString(filesOutput(rows, summary))

  /** YAML — FilesOutput.toYamlString through Jackson's YAMLMapper (golden
    * testreport/invalidyaml.yaml): `---` header, double-quoted string
    * values, keys quoted only where YAML needs it. Byte-exact vs the
    * goldens.
    */
  def renderYaml(rows: Seq[VerdictRow], summary: RunSummary): String =
    yamlMapper.writeValueAsString(filesOutput(rows, summary))

  /** Failure-category message — extractFailureMessage parity
    * (FilesOutputToJunit.java:130-150): "No Schema Error" / "YAML Parse
    * Error" / "Validation Error" for top-level errors, "Type Mismatch at
    * <instanceLocation>" for detail failures, else "Validation Failure".
    */
  private def failureMessage(r: VerdictRow): String =
    r.errors.collectFirst { case ("error", m) => m } match {
      case Some(m) if m.startsWith("No schema") => "No Schema Error"
      case Some(m) if m.contains("MarkedYAMLException") ||
          m.contains("YAMLException") => "YAML Parse Error"
      case Some(_) => "Validation Error"
      case None => r.details.headOption
        .map(d => "Type Mismatch at " + d.instanceLocation)
        .getOrElse("Validation Failure")
    }

  /** Full error text — extractFullErrorMessage parity
    * (FilesOutputToJunit.java:103-124): top-level "error" values, then
    * each detail message on its own line, trimmed.
    */
  private def fullError(r: VerdictRow): String = {
    val sb = new StringBuilder
    r.errors.foreach { case (k, v) => if (k == "error") sb.append(v) }
    r.details.foreach(d =>
      d.errors.foreach { case (_, v) => sb.append(v).append('\n') })
    sb.toString.trim
  }

  /** JUnit XML — the reference's `<testsuites>`-wrapped suite
    * (FilesOutputToJunit; golden testreport/invalidyaml.xml): fixed
    * SchemaValidationSuite name, file="src/test/resources",
    * classname="files", time="0.0", categorized failure message +
    * full-error body. Counts from the exact summary.
    */
  def renderJunit(rows: Seq[VerdictRow], summary: RunSummary): String = {
    val sb = new StringBuilder
    sb.append("<?xml version='1.0' encoding='UTF-8'?>\n")
    sb.append("<testsuites errors=\"0\" failures=\"")
      .append(summary.invalidDocs)
      .append("\" name=\"SchemaValidationSuite\" skipped=\"0\" tests=\"")
      .append(summary.docs).append("\">\n")
    sb.append("  <testsuite errors=\"0\" failures=\"")
      .append(summary.invalidDocs)
      .append("\" file=\"src/test/resources\" name=\"SchemaValidationSuite\"")
      .append(" skipped=\"0\" tests=\"").append(summary.docs)
      .append("\" time=\"0.0\">\n")
    rows.foreach { r =>
      if (r.valid)
        sb.append("    <testcase classname=\"files\" name=\"")
          .append(xmlEscape(r.doc_id)).append("\" time=\"0.0\"/>\n")
      else {
        sb.append("    <testcase classname=\"files\" name=\"")
          .append(xmlEscape(r.doc_id)).append("\" time=\"0.0\">\n")
        sb.append("      <failure message=\"")
          .append(xmlEscape(failureMessage(r))).append("\">")
          .append(xmlEscape(fullError(r))).append("</failure>\n")
        sb.append("    </testcase>\n")
      }
    }
    sb.append("  </testsuite>\n")
    sb.append("</testsuites>\n")
    sb.toString
  }

  private def addSarifResult(results: ArrayNode, filename: String,
      message: String, instanceLocation: Option[String]): Unit = {
    val res = results.addObject().put("level", "error")
    val loc = res.putArray("locations").addObject()
      .putObject("physicalLocation")
    loc.putObject("artifactLocation").put("uri", filename)
    val region = loc.putObject("region")
    instanceLocation.foreach(il =>
      region.putObject("snippet").put("text", "Path: " + il))
    res.putObject("message").put("text", message)
    res.put("ruleId", "schema-validation")
  }

  /** SARIF 2.1.0 — FilesOutputToSarif parity (golden testreport/
    * invalidyaml.sarif): tool.driver rules array, invocations with
    * start/end timestamps + exitCode, one result per top-level error
    * (empty region) and per detail ("At path 'X': msg", snippet
    * "Path: X"). Key order matches the golden's (Jackson 3 alphabetical).
    */
  def renderSarif(rows: Seq[VerdictRow], summary: RunSummary): String = {
    val start = java.time.Instant.now().toString
    // an ObjectNode keeps insertion order, so each key is put in the
    // golden's order; the invocation is filled once the results are built
    val root = jsonMapper.createObjectNode()
      .put("$schema", "https://json.schemastore.org/sarif-2.1.0.json")
    val run = root.putArray("runs").addObject()
    root.put("version", "2.1.0")
    val invocation = run.putArray("invocations").addObject()
    val results = run.putArray("results")
    rows.filterNot(_.valid).foreach { r =>
      if (r.errors.nonEmpty)
        addSarifResult(results, r.doc_id,
          r.errors.collectFirst { case ("error", m) => m }
            .getOrElse("Validation error"), None)
      r.details.foreach { d =>
        val msg = s"At path '${d.instanceLocation}': " +
          d.errors.map(_._2).mkString(" ")
        addSarifResult(results, r.doc_id, msg.trim, Some(d.instanceLocation))
      }
    }
    val driver = run.putObject("tool").putObject("driver")
      .put("informationUri",
        "https://github.com/alexmond/yj-schema-validator")
      .put("name", "YAML Schema Validator")
    val rule = driver.putArray("rules").addObject()
    rule.putObject("defaultConfiguration").put("level", "error")
    rule.putObject("fullDescription").put("text",
      "The file does not conform to the specified JSON/YAML schema")
    rule.putObject("help").put("text",
      "Ensure that the file content matches the schema definition")
    rule.put("id", "schema-validation")
    rule.putObject("shortDescription").put("text", "Schema validation error")
    driver.put("semanticVersion", "1.0.0").put("version", "1.0.0")
    invocation.put("endTimeUtc", java.time.Instant.now().toString)
      .put("executionSuccessful", summary.allValid)
      .put("exitCode", exitCode(summary))
      .put("startTimeUtc", start)
    jsonPretty.writeValueAsString(root)
  }

  /** LLM structured (non-compact) form — FilesOutputToLlm.toJson
    * (FilesOutputToLlm.java:40-68): `{"summary":{files,valid,invalid,
    * errors},"results":[{file,valid,errors?}]}`, written compactly;
    * counts from the exact summary.
    */
  def renderLlmJson(rows: Seq[VerdictRow], summary: RunSummary): String = {
    val root = jsonMapper.createObjectNode()
    root.putObject("summary").put("files", summary.docs)
      .put("valid", summary.validDocs).put("invalid", summary.invalidDocs)
      .put("errors", summary.violations)
    val results = root.putArray("results")
    rows.foreach { r =>
      val res = results.addObject().put("file", r.doc_id)
        .put("valid", r.valid)
      val flat = flatViolations(r)
      if (flat.nonEmpty) {
        val errs = res.putArray("errors")
        flat.foreach { case (ptr, kw, msg) =>
          errs.addObject().put("pointer", ptr).put("keyword", kw)
            .put("message", msg)
        }
      }
    }
    jsonMapper.writeValueAsString(root)
  }

  /** LLM-compact — header + flat error triples like
    * FilesOutputToLlm.java:83-99 (`# v/n files valid, e errors`);
    * header counts from the exact summary, the cut note under it.
    */
  def renderLlm(rows: Seq[VerdictRow], summary: RunSummary): String = {
    val header = s"# ${summary.validDocs}/${summary.docs} files valid, " +
      s"${summary.violations} errors"
    val lines = rows.filterNot(_.valid).flatMap { r =>
      flatViolations(r).map { case (ptr, kw, msg) =>
        s"${r.doc_id} $ptr $kw: $msg"
      }
    }
    (header +: (cutNote(rows, summary).toSeq ++ lines)).mkString("\n")
  }

  /** Exit-code sink (reference K3): 0 iff all valid — from the exact
    * distributed count, never the collected slice.
    */
  def exitCode(summary: RunSummary): Int = if (summary.allValid) 0 else 1
}
