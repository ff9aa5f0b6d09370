package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLMapper

import graft.report.Reports
import graft.report.Reports.{Detail, VerdictRow}

/** Report parity against COPIES of the reference's OWN golden files
  * (src/test/resources/testreport, copied verbatim from the reference's
  * testreport directory): run the real CLI pipeline on copies of the
  * reference's input fixtures and diff every format. Comparison mirrors
  * the reference's XmlCompareUtil: TEXT/YAML byte-exact, JSON/JUNIT/SARIF
  * line-trimmed with XML attributes sorted and SARIF timestamps
  * normalized (XmlCompareUtil.java:23-40,103-137).
  *
  * The reference generated these goldens with auto-detect OFF (its test
  * application.properties:4), so the pipeline runs with autoDetect=false
  * and resolves schemas purely via the embedded `$schema` rung.
  */
class GoldenReportSpec extends SparkSpec {

  private val testdata = "src/test/resources/testdata/"
  private val goldens = "src/test/resources/testreport/"

  // --- XmlCompareUtil re-expression -----------------------------------
  private def normTimestamps(s: String): String = s
    .replaceAll("\"startTimeUtc\"\\s*:\\s*\"[^\"]*\"", "\"startTimeUtc\":\"\"")
    .replaceAll("\"endTimeUtc\"\\s*:\\s*\"[^\"]*\"", "\"endTimeUtc\":\"\"")

  private def normLine(line: String): String = {
    val t = line.trim
    if (!t.startsWith("<") || !t.contains("=")) return t
    val firstSpace = t.indexOf(' ')
    val firstClose = t.indexOf('>')
    if (firstSpace == -1 || firstClose == -1 || firstSpace > firstClose)
      return t
    val attrs = t.substring(firstSpace + 1, firstClose).trim
      .split("\\s+(?=\\w+=)").sorted
    t.substring(0, firstSpace) + " " + attrs.mkString(" ") +
      t.substring(firstClose)
  }

  private def normStructured(s: String): String =
    s.split("\n").map(normLine).mkString("\n")

  private def assertGolden(actual: String, goldenFile: String): Unit = {
    val golden = Files.readString(Paths.get(goldens + goldenFile))
    val (a, g) =
      if (goldenFile.endsWith(".xml") || goldenFile.endsWith(".json") ||
          goldenFile.endsWith(".sarif"))
        (normStructured(normTimestamps(actual)),
          normStructured(normTimestamps(golden)))
      else (actual, golden) // TEXT/YAML: byte-exact, like compareFiles
    assert(a === g, s"\n--- $goldenFile mismatch ---\n$actual\n---")
  }

  private def pipeline(file: String) =
    Validate.runFull(spark, Seq(testdata + file), schema = None,
      autoDetect = false)

  for ((file, base, ok) <- Seq(
      ("valid.yaml", "validyaml", true),
      ("invalid.yaml", "invalidyaml", false),
      ("multi3invalid.yaml", "multi3invalidyaml", false))) {
    test(s"reference-golden parity: $file × TEXT/JSON/YAML/JUNIT/SARIF") {
      val (rows, summary) = pipeline(file)
      assert(summary.allValid === ok)
      assertGolden(Reports.renderText(rows, summary), s"$base.txt")
      assertGolden(Reports.renderJson(rows, summary), s"$base.json")
      assertGolden(Reports.renderYaml(rows, summary), s"$base.yaml")
      assertGolden(Reports.renderJunit(rows, summary), s"$base.xml")
      assertGolden(Reports.renderSarif(rows, summary), s"$base.sarif")
    }
  }

  // the reference's UNIT-level goldens (FilesOutputToJunitTest
  // .testToJunitString_InvalidFilesWithDetails / FilesOutputToSarifTest):
  // a directly-constructed result map keyed by bare filename, with the
  // JSONPath-form instanceLocation ("$.sample.boolean-sample") NetworkNT
  // emits in that configuration — the renderers must reproduce
  // testreport/test1junit.xml and test1sarif.sarif from the same input
  test("reference unit goldens: test1junit.xml and test1sarif.sarif") {
    val rows = Seq(VerdictRow("invalid.yaml", valid = false, details = Seq(
      Detail("/properties/sample/properties/boolean-sample",
        "urn:example:10#/properties/sample/properties/boolean-sample",
        "$.sample.boolean-sample",
        Seq("type" -> "integer found, boolean expected")))))
    val summary = Reports.RunSummary(1, 0, 1, 1)
    assertGolden(Reports.renderJunit(rows, summary), "test1junit.xml")
    // test1sarif.sarif predates Jackson 3: key ORDER differs (and its
    // invocation has no timestamps), so parity is semantic JSON equality
    // — parsed trees compared after dropping the run-specific timestamp
    // fields, the JSON analogue of XmlCompareUtil's timestamp blanking
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def tree(s: String): com.fasterxml.jackson.databind.JsonNode = {
      val n = mapper.readTree(s)
      n.findParents("startTimeUtc").forEach {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          o.remove("startTimeUtc"); o.remove("endTimeUtc")
        case _ =>
      }
      n
    }
    val actual = tree(Reports.renderSarif(rows, summary))
    val golden = tree(
      Files.readString(Paths.get(goldens + "test1sarif.sarif")))
    assert(actual === golden,
      s"\n--- test1sarif semantic mismatch ---\n$actual\n---\n$golden")
  }

  // --- renderer unit shapes (no Spark) ---------------------------------
  private val errRows = Seq(
    VerdictRow("multi3invalid.yaml-1", valid = true),
    VerdictRow("multi3invalid.yaml-2", valid = false,
      errors = Seq("error" ->
        "No schema found in YAML file or provided as parameter")),
    VerdictRow("multi3invalid.yaml-3", valid = true))
  private val errSummary = Reports.RunSummary(3, 2, 1, 1)

  test("JUnit failure categorization (extractFailureMessage parity)") {
    val junit = Reports.renderJunit(errRows, errSummary)
    assert(junit.contains("""<failure message="No Schema Error">""" +
      "No schema found in YAML file or provided as parameter</failure>"))
    val yamlErr = VerdictRow("bad.yaml", valid = false,
      errors = Seq("error" -> "MarkedYAMLException: mapping values"))
    assert(Reports.renderJunit(Seq(yamlErr), Reports.RunSummary(1, 0, 1, 1))
      .contains("""<failure message="YAML Parse Error">"""))
    val other = VerdictRow("odd.yaml", valid = false,
      errors = Seq("error" -> "HTTP request failed with status code 404"))
    assert(Reports.renderJunit(Seq(other), Reports.RunSummary(1, 0, 1, 1))
      .contains("""<failure message="Validation Error">"""))
    val detail = VerdictRow("d.yaml", valid = false, details = Seq(
      Detail("/properties/k", "#/properties/k", "/k",
        Seq("type" -> "integer found, boolean expected"))))
    assert(Reports.renderJunit(Seq(detail), Reports.RunSummary(1, 0, 1, 1))
      .contains("""<failure message="Type Mismatch at /k">"""))
  }

  test("colored TEXT wraps verdicts in Spring ANSI GREEN/RED→DEFAULT") {
    val colored = Reports.renderText(errRows, errSummary, color = true)
    assert(colored.contains("\u001b[32mok\u001b[39m"))
    assert(colored.contains("\u001b[31minvalid\u001b[39m"))
    assert(colored.startsWith("Validation Result: \u001b[31minvalid"))
  }

  test("LLM structured form (compact=false, FilesOutputToLlm.toJson)") {
    val json = Reports.renderLlmJson(errRows, errSummary)
    assert(json.startsWith(
      """{"summary":{"files":3,"valid":2,"invalid":1,"errors":1},"""))
    assert(json.contains(
      """{"file":"multi3invalid.yaml-2","valid":false,"errors":["""))
    assert(json.contains(""""keyword":"error""""))
    // valid docs carry no errors key (reference omits empty lists)
    assert(json.contains("""{"file":"multi3invalid.yaml-1","valid":true}"""))
  }

  test("LLM compact header + flat triples") {
    assert(Reports.renderLlm(errRows, errSummary) ===
      """# 2/3 files valid, 1 errors
        |multi3invalid.yaml-2 / error: No schema found in YAML file or provided as parameter""".stripMargin)
  }

  test("YAML and JSON reports keep doc keys and messages through a parse") {
    val rows = Seq(
      VerdictRow("#config.yaml#", valid = false,
        errors = Seq("error" -> "line one\n\tline two")),
      VerdictRow("a: b.yaml", valid = false, details = Seq(
        Detail("/properties/k", "#/properties/k", "/k",
          Seq("type" -> "integer found, boolean expected")))),
      VerdictRow("true", valid = true))
    val summary = Reports.RunSummary(3, 1, 2, 2)
    def files(tree: JsonNode): Map[String, (Boolean, Seq[String])] =
      tree.get("files").properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("valid").asBoolean(),
          e.getValue.findValues("errors").asScala.toSeq
            .flatMap(_.elements().asScala.map(_.asText())))
      }.toMap
    val expected = Map(
      "#config.yaml#" -> (false, Seq("line one\n\tline two")),
      "a: b.yaml" -> (false, Seq("integer found, boolean expected")),
      "true" -> (true, Seq.empty))
    assert(files(new YAMLMapper().readTree(
      Reports.renderYaml(rows, summary))) === expected)
    assert(files(new ObjectMapper().readTree(
      Reports.renderJson(rows, summary))) === expected)
  }

  test("exit codes: [T,F,T] → 1, [T,T,T] → 0 (reference K3)") {
    assert(Reports.exitCode(errSummary) === 1)
    assert(Reports.exitCode(Reports.RunSummary(3, 3, 0, 0)) === 0)
  }
}
