package graft

import java.nio.file.Files

import graft.sources.YamlSource

/** End-to-end CLI-parity tests: the reference's parameterized pass/fail
  * matrix (YamlSchemaValidatorTest.java:34-93) over real YAML/JSON files
  * on disk, through readFiles → parseDocs → compiled schema → report.
  */
class ValidateCliSpec extends SparkSpec {
  import spark.implicits._

  private def tmpFile(name: String, content: String): String = {
    val d = Files.createTempDirectory("graft-cli")
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private val schemaFile = tmpFile("schema.json",
    """{"type":"object","required":["name"],
      |"properties":{"name":{"type":"string"},
      |"level":{"enum":["info","warn"]},
      |"flag":{"type":"boolean"}}}""".stripMargin.replace("\n", ""))

  test("valid yaml file passes (valid.yaml)") {
    val f = tmpFile("valid.yaml", "name: alice\nlevel: info\nflag: true\n")
    val (rows, exit) = Validate.run(spark, Seq(f), schemaFile)
    assert(rows.size === 1 && rows.head.valid && exit === 0)
  }

  test("type violation fails with NetworkNT message (invalid.yaml)") {
    val f = tmpFile("invalid.yaml", "name: bob\nflag: 123\n")
    val (rows, exit) = Validate.run(spark, Seq(f), schemaFile)
    assert(exit === 1)
    val d = rows.head.details.head
    assert(d.instanceLocation === "/flag")
    assert(d.errors === Seq("type" -> "integer found, boolean expected"))
  }

  test("multi-doc yaml explodes keyed path-1..3 with vector [T,F,T]") {
    val f = tmpFile("multi3.yaml",
      """name: a
        |---
        |level: bad
        |---
        |name: c
        |""".stripMargin)
    val (rows, exit) = Validate.run(spark, Seq(f), schemaFile)
    assert(exit === 1)
    val byKey = rows.map(r => r.doc_id -> r.valid).toMap
    assert(byKey.keySet.map(_.split('/').last) ===
      Set("multi3.yaml-1", "multi3.yaml-2", "multi3.yaml-3"))
    // doc 2: enum violation AND missing required name
    val vec = rows.sortBy(_.doc_id).map(_.valid)
    assert(vec === Seq(true, false, true))
  }

  test("json input parses via the JSON-first path") {
    val f = tmpFile("valid.json", """{"name":"x","level":"warn"}""")
    val (rows, exit) = Validate.run(spark, Seq(f), schemaFile)
    assert(exit === 0 && rows.head.valid)
  }

  test("parse error becomes an invalid row, run continues (badformat)") {
    val good = tmpFile("good.yaml", "name: ok\n")
    val bad = tmpFile("badformat.yaml", "name: \"unclosed\nitem2:abc: x: [\n")
    val (rows, exit) = Validate.run(spark, Seq(good, bad), schemaFile)
    assert(exit === 1 && rows.size === 2)
    val badRow = rows.find(_.doc_id.contains("badformat")).get
    assert(!badRow.valid)
    assert(badRow.errors.head._1 === "error")
    assert(badRow.errors.head._2.contains("Exception") ||
      badRow.errors.head._2.contains("No schema found"))
    assert(rows.find(_.doc_id.contains("good")).get.valid)
  }

  test("yaml schema file compiles like json (sample-schema.yaml parity)") {
    val yamlSchema = tmpFile("schema.yaml",
      """type: object
        |required: [name]
        |properties:
        |  name: {type: string}
        |""".stripMargin)
    val f = tmpFile("doc.yaml", "name: 42\n")
    val (rows, exit) = Validate.run(spark, Seq(f), yamlSchema)
    assert(exit === 1)
    assert(rows.head.details.exists(_.errors ===
      Seq("type" -> "integer found, string expected")))
  }

  test("embedded $schema resolves relative to the doc's directory " +
      "(YamlSchemaValidatorTest $schema-embedded valid case)") {
    val d = Files.createTempDirectory("graft-emb")
    Files.writeString(d.resolve("my-schema.json"),
      """{"type":"object","required":["name"],
        |"properties":{"name":{"type":"string"}}}"""
        .stripMargin.replace("\n", ""))
    Files.writeString(d.resolve("doc.yaml"),
      "$schema: ./my-schema.json\nname: alice\n")
    // no --schema: precedence rung 1 (embedded) must find the schema
    val (rows, summary) = Validate.runFull(spark,
      Seq(d.resolve("doc.yaml").toString), schema = None)
    assert(summary.allValid, rows.toString)
    // and the embedded schema is actually ENFORCED, not just resolved
    Files.writeString(d.resolve("bad.yaml"),
      "$schema: ./my-schema.json\nname: 42\n")
    val (rows2, sum2) = Validate.runFull(spark,
      Seq(d.resolve("bad.yaml").toString), schema = None)
    assert(!sum2.allValid)
    assert(rows2.flatMap(_.details).flatMap(_.errors).exists(e =>
      e._1 == "type" && e._2 == "integer found, string expected"))
  }

  test("embedded $schema beats --schema; --schema-override reverses it") {
    val d = Files.createTempDirectory("graft-prec")
    Files.writeString(d.resolve("strict.json"),
      """{"type":"object","required":["zzz"],"properties":{}}""")
    Files.writeString(d.resolve("lax.json"),
      """{"type":"object","properties":{}}""")
    Files.writeString(d.resolve("doc.yaml"),
      "$schema: ./lax.json\nname: x\n")
    val doc = d.resolve("doc.yaml").toString
    // embedded (lax) wins over --schema (strict): valid
    val (_, s1) = Validate.runFull(spark, Seq(doc),
      schema = Some(d.resolve("strict.json").toString))
    assert(s1.allValid)
    // --schema-override: the CLI schema wins → required 'zzz' fails
    val (r2, s2) = Validate.runFull(spark, Seq(doc),
      schema = Some(d.resolve("strict.json").toString),
      schemaOverride = true)
    assert(!s2.allValid)
    assert(r2.flatMap(_.details).flatMap(_.errors)
      .exists(_._1 == "required"))
  }

  test("multi3invalid through the real precedence: [T,F,T], doc 2 has " +
      "no $schema (YamlSchemaValidatorTest.java:74-93)") {
    val d = Files.createTempDirectory("graft-m3")
    Files.writeString(d.resolve("sample-schema.json"),
      """{"type":"object","properties":{"name":{"type":"string"}}}""")
    Files.writeString(d.resolve("multi3invalid.yaml"),
      """$schema: ./sample-schema.json
        |name: a
        |---
        |name: b
        |---
        |$schema: ./sample-schema.json
        |name: c
        |""".stripMargin)
    // NO --schema: docs 1/3 resolve via embedded $schema; doc 2 has
    // nothing (catalog may or may not match the basename — either way
    // it cannot produce a loadable schema here) → [T, F, T]
    val (rows, summary) = Validate.runFull(spark,
      Seq(d.resolve("multi3invalid.yaml").toString), schema = None)
    assert(summary.docs === 3)
    val vec = rows.sortBy(_.doc_id).map(_.valid)
    assert(vec === Seq(true, false, true))
  }

  test("http $schema yields the 404-parity error (zero-egress stand-in)") {
    val d = Files.createTempDirectory("graft-http")
    Files.writeString(d.resolve("doc.yaml"),
      "$schema: https://www.alexmond.org/missing.json\nname: x\n")
    val (rows, summary) = Validate.runFull(spark,
      Seq(d.resolve("doc.yaml").toString), schema = None)
    assert(!summary.allValid)
    assert(rows.head.errors.head._2 ===
      "HTTP request failed with status code 404")
  }

  test("missing local --schema file yields NoSuchFileException per doc") {
    // error-as-data parity (YamlSchemaValidator.java:78-81): the run
    // completes and every doc carries the missing path in its message
    val f = tmpFile("two.yaml", "name: a\n---\nname: b\n")
    val missing = Files.createTempDirectory("graft-nosuch")
      .resolve("missing.json").toString
    val (rows, summary) = Validate.runFull(spark, Seq(f),
      schema = Some(missing))
    assert(summary.docs === 2 && !summary.allValid)
    assert(rows.map(r => (r.valid, r.errors.map(_._2))) ===
      Seq.fill(2)((false, Seq(s"NoSuchFileException: $missing"))))
  }

  test("stdin entry: no files reads stdin once, keyed 'stdin' " +
      "(YamlSchemaValidatorStdinTest.java:23-36)") {
    val (rows, summary) = Validate.runFull(spark, Seq.empty,
      schema = Some(schemaFile), stdinText = Some("name: stdin-doc\n"))
    assert(summary.docs === 1 && summary.allValid)
    assert(rows.head.doc_id === "stdin")
  }

  test("'-' mixes stdin with files and is removed from the file list") {
    val f = tmpFile("also.yaml", "name: filedoc\n")
    val (rows, summary) = Validate.runFull(spark, Seq("-", f),
      schema = Some(schemaFile), stdinText = Some("name: 7\n"))
    assert(summary.docs === 2)
    val byId = rows.map(r => r.doc_id -> r.valid).toMap
    assert(byId("stdin") === false) // name: 7 → type violation
    assert(byId.find(_._1.contains("also.yaml")).get._2 === true)
  }

  test("doc keys use the user-supplied path, not a file:// URI (ADVICE)") {
    val f = tmpFile("keyed.yaml", "name: x\n")
    val (rows, _) = Validate.run(spark, Seq(f), schemaFile)
    assert(rows.head.doc_id === f) // exact given path, no scheme prefix
  }

  test("empty yaml doc yields 'No Nodes found in YAML file' " +
      "(YamlSchemaValidator.java:106 parity)") {
    val f = tmpFile("empty.yaml", "---\n")
    val parsed = YamlSource.parseDocs(
      YamlSource.readFiles(spark, Seq(f))).collect()
    assert(parsed.length === 1)
    assert(parsed.head.error === "No Nodes found in YAML file")
  }

  test("auto-detect off: a catalog-matching path without $schema gets " +
      "the no-schema error, not a catalog URL (SchemaDetector.java:36)") {
    val d = Files.createTempDirectory("graft-ad")
    val f = d.resolve("package.json") // matches a schemastore glob
    Files.writeString(f, """{"name":"x"}""")
    // autodetect ON: catalog resolves package.json -> https URL -> the
    // zero-egress 404 stand-in error
    val (on, sOn) = Validate.runFull(spark, Seq(f.toString), schema = None)
    assert(!sOn.allValid)
    assert(on.head.errors.head._2 ===
      "HTTP request failed with status code 404")
    // autodetect OFF: detection skipped entirely -> no-schema error
    val (off, sOff) = Validate.runFull(spark, Seq(f.toString),
      schema = None, autoDetect = false)
    assert(!sOff.allValid)
    assert(off.head.errors.head._2 ===
      "No schema found in YAML file or provided as parameter")
  }

  test("--files config list overrides positional args " +
      "(YamlSchemaValidatorRunner.java:70-73)") {
    val opts = Validate.parseArgs(Array(
      "--files", "a.yaml,b.yaml", "positional.yaml"))
    assert(opts.fileArgs === Seq("a.yaml", "b.yaml"))
    val noCfg = Validate.parseArgs(Array("positional.yaml"))
    assert(noCfg.fileArgs === Seq("positional.yaml"))
    assert(Validate.parseArgs(Array("--auto-detect", "false")).autoDetect
      === false)
  }

  test("--config file supplies every reference knob; CLI flags override " +
      "config; config files override positional (YamlSchemaValidatorConfig)") {
    // properties form, kebab-case keys (Spring relaxed binding)
    val props = tmpFile("app.properties",
      """files=c.yaml,d.yaml
        |schema=/tmp/schema-from-config.json
        |report-type=json
        |report-file-name=out.json
        |color=false
        |compact=false
        |auto-detect=false
        |schema-override=true
        |http-timeout=30
        |ignore-ssl-errors=true
        |catalog-url=file:/tmp/cat.json
        |""".stripMargin)
    val o = Validate.parseArgs(Array("--config", props, "positional.yaml"))
    assert(o.fileArgs === Seq("c.yaml", "d.yaml")) // config files win
    assert(o.schema === Some("/tmp/schema-from-config.json"))
    assert(o.format === "JSON" && o.reportFile === Some("out.json"))
    assert(!o.color && !o.compact && !o.autoDetect && o.schemaOverride)
    assert(o.httpTimeout === 30 && o.ignoreSslErrors)
    assert(o.catalogUrl === Some("file:/tmp/cat.json"))
    // explicit flags OVERRIDE config values, in either arg order
    val over = Validate.parseArgs(Array("--report", "sarif",
      "--config", props, "--files", "x.yaml", "--auto-detect", "true"))
    assert(over.format === "SARIF" && over.fileArgs === Seq("x.yaml"))
    assert(over.autoDetect && over.schema
      === Some("/tmp/schema-from-config.json"))
    // camelCase keys bind too (Spring relaxed binding), YAML form,
    // including a YAML list for files
    val yml = tmpFile("app.yml",
      """files: [e.yaml, f.yaml]
        |reportType: junit
        |httpTimeout: 20
        |ignoreSslErrors: true
        |""".stripMargin)
    val y = Validate.parseArgs(Array("--config", yml))
    assert(y.fileArgs === Seq("e.yaml", "f.yaml"))
    assert(y.format === "JUNIT" && y.httpTimeout === 20
      && y.ignoreSslErrors)
    // defaults match the reference (Config.java:42,76)
    val d = Validate.parseArgs(Array("a.yaml"))
    assert(d.httpTimeout === 10 && !d.ignoreSslErrors)
    // the flags parse standalone too (no-ops beyond the file: paths in
    // this zero-egress sandbox, documented in Options' scaladoc)
    val f = Validate.parseArgs(Array("--http-timeout", "5",
      "--ignore-ssl-errors", "true", "a.yaml"))
    assert(f.httpTimeout === 5 && f.ignoreSslErrors
      && f.fileArgs === Seq("a.yaml"))
    // unknown option: loud failure, not a silent file arg
    intercept[IllegalArgumentException] {
      Validate.parseArgs(Array("--no-such-flag", "x"))
    }
    // and a config-driven END-TO-END run: no CLI validation flags at
    // all, schema + files entirely from the config file
    val schema2 = tmpFile("s.json",
      """{"type":"object","required":["name"]}""")
    val good = tmpFile("good.yaml", "name: ok\n")
    val bad = tmpFile("bad.yaml", "nope: 1\n")
    val runCfg = tmpFile("run.properties",
      s"files=$good,$bad\nschema=$schema2\n")
    val ro = Validate.parseArgs(Array("--config", runCfg))
    val (rows, summary) = Validate.runFull(spark, ro.fileArgs, ro.schema,
      ro.schemaOverride, None, ro.autoDetect, ro.catalogUrl)
    assert(summary.docs === 2 && summary.invalidDocs === 1)
    assert(rows.exists(r => r.doc_id.startsWith(good) && r.valid))
    assert(rows.exists(r => r.doc_id.startsWith(bad) && !r.valid))
  }

  test("env/property config layer: GRAFT_* env and -Dgraft.* properties " +
      "bind every knob below files and flags (Spring ordering)") {
    // env-only: knobs arrive with no flags at all
    val envOnly = Validate.parseArgs(Array.empty[String],
      env = Map("GRAFT_REPORT_TYPE" -> "json", "GRAFT_HTTP_TIMEOUT" -> "5",
        "GRAFT_FILES" -> "e1.yaml,e2.yaml", "GRAFT_AUTO_DETECT" -> "false"),
      props = Map.empty)
    assert(envOnly.format === "JSON" && envOnly.httpTimeout === 5)
    assert(envOnly.fileArgs === Seq("e1.yaml", "e2.yaml"))
    assert(!envOnly.autoDetect)
    // -D properties bind too (kebab or camel) and sit ABOVE env
    val propsOver = Validate.parseArgs(Array.empty[String],
      env = Map("GRAFT_HTTP_TIMEOUT" -> "5", "GRAFT_COLOR" -> "false"),
      props = Map("graft.http-timeout" -> "7", "graft.reportType" -> "yaml"))
    assert(propsOver.httpTimeout === 7) // property beats env
    assert(!propsOver.color)           // env alone still binds
    assert(propsOver.format === "YAML")
    // full chain: env < property < config file < flag
    val cfg = tmpFile("prec.properties", "http-timeout=9\n")
    val fileOver = Validate.parseArgs(Array("--config", cfg),
      env = Map("GRAFT_HTTP_TIMEOUT" -> "5"),
      props = Map("graft.http-timeout" -> "7"))
    assert(fileOver.httpTimeout === 9)
    val flagOver = Validate.parseArgs(
      Array("--config", cfg, "--http-timeout", "11"),
      env = Map("GRAFT_HTTP_TIMEOUT" -> "5"),
      props = Map("graft.http-timeout" -> "7"))
    assert(flagOver.httpTimeout === 11)
    // unset layers leave the reference defaults intact
    val none = Validate.parseArgs(Array.empty[String],
      env = Map.empty, props = Map.empty)
    assert(none.httpTimeout === 10 && none.format === "TEXT")
  }

  test("a value-taking or unknown flag as the last token is a usage " +
      "error, not an ArrayIndexOutOfBounds (ADVICE r4)") {
    val e1 = intercept[IllegalArgumentException] {
      Validate.parseArgs(Array("--schema"))
    }
    assert(e1.getMessage.contains("missing value for --schema"))
    val e2 = intercept[IllegalArgumentException] {
      Validate.parseArgs(Array("a.yaml", "--no-such-flag"))
    }
    assert(e2.getMessage.contains("missing value for --no-such-flag"))
    val e3 = intercept[IllegalArgumentException] {
      Validate.parseArgs(Array("--config"))
    }
    assert(e3.getMessage.contains("missing value for --config"))
  }

  test("--catalog-url: custom catalog routes detection; fetch failure " +
      "falls back to the bundled snapshot (SchemaCatalogLoader.java:42-51)") {
    import graft.rules.Catalog
    val d = Files.createTempDirectory("graft-cat")
    // a custom catalog mapping *.conf.yaml to a LOCAL schema file, so the
    // whole detect -> compile -> validate path runs end-to-end offline
    val schemaPath = d.resolve("conf-schema.json")
    Files.writeString(schemaPath,
      """{"type":"object","required":["name"]}""")
    val catPath = d.resolve("catalog.json")
    Files.writeString(catPath,
      s"""{"schemas":[{"name":"conf","fileMatch":["*.conf.yaml"],
         |"url":"${schemaPath.toString}"}]}""".stripMargin.replace("\n", ""))
    val doc = d.resolve("app.conf.yaml")
    Files.writeString(doc, "noname: 1\n")
    val (rows, summary) = Validate.runFull(spark, Seq(doc.toString),
      schema = None, catalogUrl = Some(catPath.toString))
    assert(summary.docs === 1 && !summary.allValid)
    assert(rows.head.details.exists(dd =>
      dd.errors.exists(_._2.contains("required"))), rows.head.toString)
    // the custom catalog REPLACES the bundled one while it loads...
    val custom = Catalog.loadSnapshot(Some(catPath.toString))
    assert(Catalog.detect("app.conf.yaml", custom)
      === Some(schemaPath.toString))
    assert(Catalog.detect(".github/workflows/ci.yml", custom).isEmpty)
    // ...and every failing fetch falls back to the bundled snapshot:
    // http(s) (zero-egress), a missing local file, and an empty catalog
    for (bad <- Seq("https://www.schemastore.org/api/json/catalog.json",
        d.resolve("missing.json").toString)) {
      assert(Catalog.loadSnapshot(Some(bad)) eq Catalog.bundled, bad)
    }
    val empty = d.resolve("empty-catalog.json")
    Files.writeString(empty, """{"schemas":[]}""")
    assert(Catalog.loadSnapshot(Some(empty.toString)) eq Catalog.bundled)
    assert(Catalog.loadSnapshot(None) eq Catalog.bundled)
  }

  test("relative-file $ref resolves against the schema's directory, " +
      "including the referenced doc's own intra-doc refs") {
    val d = Files.createTempDirectory("graft-fileref")
    // b.yaml (YAML schema, chained: pos -> #/defs/base inside b itself)
    Files.writeString(d.resolve("b.yaml"),
      """defs:
        |  base:
        |    type: integer
        |    minimum: 1
        |  pos:
        |    $ref: "#/defs/base"
        |""".stripMargin)
    Files.writeString(d.resolve("a.json"),
      """{"type":"object","required":["k"],
        |"properties":{"k":{"$ref":"b.yaml#/defs/pos"}}}"""
        .stripMargin.replace("\n", ""))
    Files.writeString(d.resolve("bad.yaml"),
      "$schema: ./a.json\nk: 0\n")
    Files.writeString(d.resolve("good.yaml"),
      "$schema: ./a.json\nk: 3\n")
    val (rows, summary) = Validate.runFull(spark,
      Seq(d.resolve("bad.yaml").toString, d.resolve("good.yaml").toString),
      schema = None, autoDetect = false)
    assert(summary.docs === 2 && summary.invalidDocs === 1)
    val bad = rows.find(!_.valid).get
    assert(bad.details.exists(dd => dd.instanceLocation == "/k" &&
      dd.errors.exists(_._2.contains("minimum"))), bad.toString)
    // a cyclic file-ref chain degrades to the empty schema (bounded),
    // never a crash or infinite loop
    Files.writeString(d.resolve("cyc1.json"),
      """{"properties":{"k":{"$ref":"cyc2.json#/properties/k"}}}""")
    Files.writeString(d.resolve("cyc2.json"),
      """{"properties":{"k":{"$ref":"cyc1.json#/properties/k"}}}""")
    Files.writeString(d.resolve("cdoc.yaml"),
      "$schema: ./cyc1.json\nk: anything\n")
    val (_, cs) = Validate.runFull(spark,
      Seq(d.resolve("cdoc.yaml").toString), schema = None,
      autoDetect = false)
    assert(cs.docs === 1 && cs.allValid)
  }

  test("unsupported non-local $ref is error-as-data: invalid row with a " +
      "message, run continues (VERDICT r2 missing #5)") {
    val d = Files.createTempDirectory("graft-ref")
    Files.writeString(d.resolve("remote-ref.json"),
      """{"type":"object","properties":{"k":{"$ref":"https://example.org/other.json#/defs/k"}}}""")
    Files.writeString(d.resolve("doc.yaml"),
      "$schema: ./remote-ref.json\nk: 1\n")
    Files.writeString(d.resolve("ok.yaml"), "$schema: ./remote-ref.json2\n")
    // a `#/` fragment that is not there: the same error row, no NPE
    Files.writeString(d.resolve("missing-frag.json"),
      """{"type":"object","properties":{"p":{"$ref":"#/$defs/nope"}}}""")
    Files.writeString(d.resolve("frag.yaml"),
      "$schema: ./missing-frag.json\np: 1\n")
    val (rows, summary) = Validate.runFull(spark,
      Seq("doc.yaml", "frag.yaml").map(d.resolve(_).toString),
      schema = None, autoDetect = false)
    assert(summary.docs === 2 && summary.invalidDocs === 2)
    assert(rows.size === 2 &&
      rows.forall(_.errors.head._2.contains("cannot be resolved")))
  }

  test("runFull evaluates its compiled schemas once: no report action " +
      "parses JSON outside the cached validated frame") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val d = Files.createTempDirectory("graft-once")
    Files.writeString(d.resolve("named.json"),
      """{"type":"object","required":["name"],""" +
        """"properties":{"name":{"type":"string"}}}""")
    Files.writeString(d.resolve("counted.json"),
      """{"type":"object","properties":{"n":{"type":"integer"}}}""")
    Files.writeString(d.resolve("a.yaml"),
      "$schema: ./named.json\nname: alice\n")
    Files.writeString(d.resolve("b.yaml"), "$schema: ./counted.json\nn: x\n")
    // AdaptiveSparkPlanHelper.collect descends through AQE wrappers and
    // query stages but, like SparkPlan.collect, not into the plan behind
    // an InMemoryTableScan: a parse found here ran in the action itself
    val plans = new AdaptiveSparkPlanHelper {}
    val parseJson = "parseJson|parse_json".r
    val actions = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.synchronized {
          actions += plans.collect(qe.executedPlan) {
            case p if p.expressions.exists(e =>
              parseJson.findFirstIn(e.toString).isDefined) => p.nodeName
          }
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (rows, summary) =
      try {
        val r = Validate.runFull(spark,
          Seq("a.yaml", "b.yaml").map(f => d.resolve(f).toString),
          schema = None, autoDetect = false)
        org.apache.spark.ListenerDrain(spark.sparkContext)
        r
      } finally spark.listenerManager.unregister(listener)
    assert(summary.docs === 2 && summary.invalidDocs === 1)
    assert(rows.sortBy(_.doc_id).map(_.valid) === Seq(true, false))
    // the report gather alone runs four actions
    assert(actions.size >= 4, actions)
    assert(actions.forall(_.isEmpty),
      s"actions with their own parse_json nodes: $actions")
  }
}
