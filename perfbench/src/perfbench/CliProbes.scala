package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Bench, Validate}
import graft.report.Reports
import graft.rules.{Catalog, JsonSchemaCompiler}
import graft.sources.YamlSource

/** The CLI path, probed layer by layer on a traced run: the calls of one
  * `Validate.runFull` invocation over a few tens of YAML and JSON files,
  * then the JSON and SARIF reports and the exit code.
  *
  * Schemas reach docs by two routes: an in-doc `$schema`, and catalog
  * autodetect against a catalog file (`--catalog-url`) that holds the
  * bundled schemastore snapshot plus two local entries. The third route,
  * `--schema`, is left out: with `--schema` given, graft skips catalog
  * autodetect, so no single invocation can take all three. Three distinct
  * schemas make the multi-schema parse-cache path run.
  *
  * Every file and every fault is planted by the generator: each invalid doc
  * breaks exactly one keyword, so its expected violation count is one.
  */
final class CliProbes(spark: SparkSession, seed: Long) {
  import CliProbes._

  private val rng = new java.util.SplittableRandom(seed)
  private val mapper = new ObjectMapper()

  /** One generated file: its name, text and the expected violation count
    * of each doc it holds, in doc order (0 = valid). */
  final case class GenFile(name: String, text: String, docViolations: Seq[Int])

  private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
  private def word(): String =
    (1 to 3 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString

  // each generator returns (yaml/json fields, violations) for one doc
  private def serviceDoc(): (String, Int) = {
    val name = word() + "-" + word()
    val port = 1024 + rng.nextInt(60000)
    val env = pick(Seq("dev", "staging", "prod"))
    val ok = s"name: $name\nport: $port\nenv: $env\nreplicas: ${1 + rng.nextInt(5)}\n" +
      s"tags: [${word()}, ${word()}]\n"
    rng.nextInt(4) match {
      case 0 => pick(Seq(
        (s"name: $name\nport: \"$port\"\nenv: $env\n", 1), // type
        (s"name: $name\nport: 0\nenv: $env\n", 1), // minimum
        (s"name: $name\nport: $port\nenv: qa\n", 1), // enum
        (s"port: $port\nenv: $env\n", 1))) // required
      case _ => (ok, 0)
    }
  }

  private def jobDoc(): (String, Int) = {
    val head = s"$$schema: ../schemas/$JobSchema\n"
    val job = word() + "-" + word()
    val ok = s"job: $job\nschedule: \"0 ${rng.nextInt(24)} * * *\"\n" +
      s"retries: ${rng.nextInt(10)}\n"
    rng.nextInt(4) match {
      case 0 => pick(Seq(
        (head + s"job: ${job.toUpperCase}\nschedule: daily\n", 1), // pattern
        (head + s"job: $job\nschedule: daily\nretries: 11\n", 1), // maximum
        (head + s"job: $job\n", 1))) // required
      case _ => (head + ok, 0)
    }
  }

  private def metricDoc(): (String, Int) = {
    val metric = word() + "." + word()
    val value = rng.nextInt(100000) / 100.0
    rng.nextInt(4) match {
      case 0 => pick(Seq(
        (s"""{"metric": "$metric", "value": "high", "unit": "ms"}""", 1),
        (s"""{"metric": "$metric", "value": $value, "unit": "minutes"}""", 1),
        (s"""{"value": $value, "unit": "s"}""", 1)))
      case _ => (s"""{"metric": "$metric", "value": $value, "unit": "bytes"}""", 0)
    }
  }

  private def generate(): Seq[GenFile] = {
    def multi(name: String, n: Int, doc: () => (String, Int)) = {
      val docs = Seq.fill(n)(doc())
      GenFile(name, docs.map("---\n" + _._1).mkString, docs.map(_._2))
    }
    def single(name: String, doc: () => (String, Int)) = {
      val (t, v) = doc()
      GenFile(name, t, Seq(v))
    }
    (0 until ServiceFiles).map(k =>
      multi(f"svc-$k%02d.service.yaml", DocsPerServiceFile, () => serviceDoc())) ++
      (0 until JobFiles).map(k => single(f"job-$k%02d.yaml", () => jobDoc())) ++
      (0 until MetricFiles).map(k =>
        single(f"m-$k%02d.metric.json", () => metricDoc())) ++
      // malformed: an unclosed flow sequence fails both JSON and YAML
      (0 until BrokenFiles).map(k => GenFile(f"broken-$k%02d.service.yaml",
        s"name: ${word()}\nport: [1, 2\n", Seq(1))) ++
      // no in-doc $schema and no catalog entry: "No schema found"
      (0 until NoSchemaFiles).map(k => GenFile(f"notes-$k%02d.txt",
        s"title: ${word()}\n", Seq(1)))
  }

  private val planted = generate()
  private var files: Seq[String] = Nil
  private var catalog: String = _
  private var schemas: Seq[String] = Nil

  /** doc key -> expected violation count */
  private var expected: Map[String, Int] = Map.empty

  val inputs: Map[String, Any] = Map("files" -> planted.size,
    "docs" -> planted.map(_.docViolations.size).sum,
    "invalid_docs" -> planted.map(_.docViolations.count(_ > 0)).sum,
    "malformed_files" -> BrokenFiles, "schemas" -> 3)

  def setup(dir: Path): Unit = {
    val fileDir = Files.createDirectories(dir.resolve("files"))
    val schemaDir = Files.createDirectories(dir.resolve("schemas"))
    Seq(ServiceSchema -> ServiceSchemaText, JobSchema -> JobSchemaText,
      MetricSchema -> MetricSchemaText).foreach { case (n, t) =>
      Files.writeString(schemaDir.resolve(n), t, UTF_8)
    }
    schemas = Seq(ServiceSchema, MetricSchema, JobSchema)
      .map(n => schemaDir.resolve(n).toString)
    // the bundled schemastore snapshot plus the two local entries
    val in = getClass.getResourceAsStream("/schema-catalog.json")
    val root = try mapper.readTree(in).asInstanceOf[ObjectNode] finally in.close()
    val list = root.withArray("schemas")
    Seq("Perfbench service" -> ("*.service.yaml", schemas(0)),
      "Perfbench metric" -> ("*.metric.json", schemas(1))).foreach {
      case (name, (glob, url)) =>
        val e = list.addObject()
        e.put("name", name)
        e.putArray("fileMatch").add(glob)
        e.put("url", url)
    }
    catalog = dir.resolve("catalog.json").toString
    Files.write(dir.resolve("catalog.json"), mapper.writeValueAsBytes(root))
    files = planted.map { f =>
      val p = fileDir.resolve(f.name)
      Files.writeString(p, f.text, UTF_8)
      p.toString
    }
    expected = planted.zip(files).flatMap { case (f, path) =>
      if (f.docViolations.size == 1) Seq(path -> f.docViolations.head)
      else f.docViolations.zipWithIndex.map { case (v, i) =>
        s"$path-${i + 1}" -> v }
    }.toMap
  }

  /** The layers of one invocation, each in its own span: what runFull,
    * the renderers and the exit code do, in that order. */
  def probes(t: Tracer): Unit = {
    val parsed = t.span("sources.read_parse")(YamlSource.parseDocs(
      YamlSource.readFiles(spark, files)).collect())
    Check(parsed.length == expected.size, s"parsed ${parsed.length} docs")
    t.count("sources.files", files.size.toDouble)
    t.count("sources.yaml_docs", parsed.length.toDouble)
    t.count("sources.yaml_parse_errors",
      parsed.count(d => d.error != null && d.json == null &&
        !d.error.startsWith("No Nodes")).toDouble)

    val matched = t.span("rules.catalog") {
      val snap = Catalog.loadSnapshot(Some(catalog))
      import spark.implicits._
      Catalog.pathUrls(files.toDF("path"), snap)
        .filter(col("catalog_url").isin(schemas.take(2): _*)).count()
    }
    Check(matched == ServiceFiles + MetricFiles + BrokenFiles,
      s"catalog matched $matched files")

    t.span("rules.compile")(schemas.foreach(s => JsonSchemaCompiler.compile(
      Validate.readSchema(s), baseDir = Option(Paths.get(s)
        .toAbsolutePath.getParent))))
    t.count("rules.schemas", schemas.size.toDouble)

    // the validated frame to the noop sink, then runFull's report gather
    // over the same frame and parsed-docs cache
    val (validated, cached) = t.span("validate.validated_frame") {
      val vc = Validate.validatedFrameWithCache(spark, files, schema = None,
        catalogUrl = Some(catalog))
      Bench.exec(vc._1)
      vc
    }
    val (rows, summary) =
      try t.span("report.gather")(Reports.gather(
        validated.select("doc_id", "valid"),
        validated.select(col("doc_id"), explode(col("violations")).as("x"))
          .select(col("doc_id"), col("x.pointer").as("pointer"),
            col("x.keyword").as("keyword"), col("x.message").as("message"),
            col("x.schemaLocation").as("schemaLocation"))))
      finally cached.foreach(_.unpersist(false))
    val (json, sarif) = t.span("report.render")(
      (Reports.renderJson(rows, summary), Reports.renderSarif(rows, summary)))
    checkReports(rows, summary, json, sarif, Reports.exitCode(summary))
    t.count("report.bytes", (json.length + sarif.length).toDouble)
  }

  private def checkReports(rows: Seq[Reports.VerdictRow],
      summary: Reports.RunSummary, json: String, sarif: String,
      code: Int): Unit = {
    val got = rows.map(r => r.doc_id -> (r.errors.size + r.details.size)).toMap
    Check(got == expected, s"per-doc violations differ: " +
      (got.toSet diff expected.toSet).take(5) + " vs " +
      (expected.toSet diff got.toSet).take(5))
    Check(rows.forall(r => r.valid == (got(r.doc_id) == 0)), "valid flags")
    val nViol = expected.values.sum.toLong
    val nInvalid = expected.values.count(_ > 0).toLong
    Check(summary == Reports.RunSummary(expected.size, expected.size - nInvalid,
      nInvalid, nViol), s"summary $summary")
    Check(code == (if (nInvalid > 0) 1 else 0), s"exit code $code")
    val j = mapper.readTree(json)
    Check(j.get("files").size == expected.size &&
      j.get("valid").asBoolean == (nInvalid == 0), "JSON report")
    val s = mapper.readTree(sarif)
    Check(s.get("runs").get(0).get("results").size == nViol, "SARIF results")
  }
}

object CliProbes {
  val ServiceFiles = 16
  val DocsPerServiceFile = 3
  val JobFiles = 12
  val MetricFiles = 8
  val BrokenFiles = 2
  val NoSchemaFiles = 2

  val ServiceSchema = "service.schema.json"
  val JobSchema = "job.schema.json"
  val MetricSchema = "metric.schema.json"

  val ServiceSchemaText: String =
    """{"$id": "urn:perfbench:service", "type": "object",
      | "required": ["name", "port", "env"],
      | "properties": {
      |  "name": {"type": "string", "minLength": 3},
      |  "port": {"type": "integer", "minimum": 1, "maximum": 65535},
      |  "env": {"enum": ["dev", "staging", "prod"]},
      |  "replicas": {"type": "integer", "minimum": 1},
      |  "tags": {"type": "array", "items": {"type": "string"}}}}""".stripMargin
  val JobSchemaText: String =
    """{"type": "object", "required": ["job", "schedule"],
      | "properties": {
      |  "job": {"type": "string", "pattern": "^[a-z][a-z0-9-]*$"},
      |  "schedule": {"type": "string"},
      |  "retries": {"type": "integer", "minimum": 0, "maximum": 10}}}""".stripMargin
  val MetricSchemaText: String =
    """{"type": "object", "required": ["metric", "value"],
      | "properties": {
      |  "metric": {"type": "string"},
      |  "value": {"type": "number"},
      |  "unit": {"enum": ["ms", "s", "bytes", "count"]}}}""".stripMargin
}
