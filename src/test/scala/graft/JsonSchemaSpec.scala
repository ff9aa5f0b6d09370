package graft

import org.apache.spark.sql.functions._

import graft.rules.JsonSchemaCompiler

/** The reference's own schema-validation fixtures, run through the
  * JSON-Schema→Catalyst compiler over VARIANT documents.
  */
class JsonSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def violationsOf(schema: String, docs: (String, String)*)
      : Map[String, Seq[(String, String, String)]] = {
    val compiled = JsonSchemaCompiler.compile(schema)
    val df = docs.toSeq.toDF("doc_id", "json")
      .select(col("doc_id"), compiled.violations(parse_json(col("json")))
        .as("v"))
    df.select(col("doc_id"), explode(col("v")).as("x"))
      .select(col("doc_id"), col("x.pointer"), col("x.keyword"),
        col("x.message"))
      .as[(String, String, String, String)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3, t._4)).toSeq).toMap
  }

  test("invalid.yaml golden: 'integer found, boolean expected'") {
    // invalid.yaml:13 `boolean-sample: 123` vs sample-schema boolean —
    // golden at testreport/invalidyaml.txt:6 / invalidyaml.json:6-14
    val schema =
      """{"type":"object","properties":{"sample":{"type":"object",
        |"properties":{"booleanSample":{"type":"boolean"}}}}}"""
        .stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("invalid", """{"sample":{"booleanSample":123}}"""),
      ("valid", """{"sample":{"booleanSample":true}}"""))
    assert(v("invalid") === Seq(("/sample/booleanSample", "type",
      "integer found, boolean expected")))
    assert(!v.contains("valid"))
  }

  test("LLM-test mini-schema: required + type (FilesOutputToLlmTest)") {
    // FilesOutputToLlmTest.java:73-78: required:["age"], name must be
    // string; doc {"name": 42} → 2 violations
    val schema =
      """{"type":"object","required":["age"],
        |"properties":{"name":{"type":"string"},
        |"age":{"type":"integer"}}}""".stripMargin.replace("\n", "")
    val v = violationsOf(schema, ("d", """{"name": 42}"""))
    assert(v("d").toSet === Set(
      ("/", "required", "required property 'age' not found"),
      ("/name", "type", "integer found, string expected")))
  }

  test("enum, pattern, minimum/maximum, minLength keywords") {
    val schema =
      """{"type":"object","properties":{
        |"level":{"enum":["info","warn","error"]},
        |"id":{"pattern":"^[a-z]+-[0-9]+$"},
        |"count":{"type":"integer","minimum":0,"maximum":100},
        |"name":{"type":"string","minLength":3}}}"""
        .stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("bad", """{"level":"debug","id":"XYZ","count":101,"name":"ab"}"""),
      ("ok", """{"level":"warn","id":"abc-12","count":55,"name":"abc"}"""))
    assert(v("bad").map(t => (t._1, t._2)).toSet === Set(
      ("/level", "enum"), ("/id", "pattern"), ("/count", "maximum"),
      ("/name", "minLength")))
    assert(v("bad").find(_._2 == "enum").get._3 ===
      "does not have a value in the enumeration [info, warn, error]")
    assert(!v.contains("ok"))
  }

  test("$defs/$ref inlining with bounded recursive unrolling") {
    // mirrors sample-schema.json:27-39 loggerLevelProp self-reference
    val schema =
      """{"type":"object",
        |"$defs":{"node":{"type":"object",
        |  "properties":{"level":{"enum":["a","b"]},
        |                "child":{"$ref":"#/$defs/node"}}}},
        |"properties":{"root":{"$ref":"#/$defs/node"}}}"""
        .stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("deep", """{"root":{"level":"a","child":{"level":"zz",
        |"child":{"level":"b"}}}}""".stripMargin.replace("\n", "")),
      ("fine", """{"root":{"level":"b"}}"""))
    assert(v("deep").map(t => (t._1, t._2)) ===
      Seq(("/root/child/level", "enum")))
    assert(!v.contains("fine"))
    // recursion is bounded, not infinite: compile succeeds and checks are
    // finite
    val compiled = JsonSchemaCompiler.compile(schema, maxRefDepth = 3)
    assert(compiled.checks.nonEmpty &&
      compiled.checks.size < 50)
  }

  test("a missing #/ fragment is an UnsupportedRefException at compile " +
      "time, as a property and inside a subschema") {
    for (p <- Seq("""{"$ref":"#/$defs/nope"}""",
        """{"not":{"$ref":"#/$defs/nope"}}""")) {
      val e = intercept[JsonSchemaCompiler.UnsupportedRefException](
        JsonSchemaCompiler.compile(s"""{"properties":{"p":$p}}"""))
      assert(e.getMessage ===
        "Reference #/$defs/nope cannot be resolved: fragment not found")
    }
  }

  test("missing properties are not violations (only required enforces)") {
    val schema =
      """{"type":"object","properties":{"x":{"type":"integer"}}}"""
    val v = violationsOf(schema, ("d", """{"y": 1}"""))
    assert(!v.contains("d"))
  }

  test("the reference's recursive loggerLevelProp slice compiles end-to-end") {
    // sample-schema.json:7-39 verbatim shape: $defs.loggerLevel enum +
    // $defs.loggerLevelProp = object whose additionalProperties is
    // oneOf[$ref loggerLevel | $ref loggerLevelProp] (recursion THROUGH
    // oneOf — the case the r1 compiler could not express)
    val schema =
      """{"type":"object",
        |"$defs":{
        |"loggerLevel":{"type":"string",
        |  "enum":["TRACE","DEBUG","INFO","WARN","ERROR","FATAL","OFF"]},
        |"loggerLevelProp":{"type":"object","additionalProperties":{
        |  "oneOf":[{"$ref":"#/$defs/loggerLevel"},
        |           {"$ref":"#/$defs/loggerLevelProp"}]}}},
        |"properties":{"logging":{"$ref":"#/$defs/loggerLevelProp"}}}"""
        .stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("flat_ok", """{"logging":{"root":"INFO","app":"WARN"}}"""),
      ("nested_ok", """{"logging":{"root":"INFO",
        |"com":{"example":{"db":"DEBUG"}}}}""".stripMargin.replace("\n", "")),
      ("flat_bad", """{"logging":{"root":"LOUD"}}"""),
      ("nested_bad", """{"logging":{"com":{"db":"quiet"}}}"""),
      ("wrong_type", """{"logging":{"root": 42}}"""))
    assert(!v.contains("flat_ok"))
    assert(!v.contains("nested_ok"))
    assert(v("flat_bad").map(t => (t._1, t._2)) ===
      Seq(("/logging/root", "additionalProperties")))
    assert(v("nested_bad").map(t => (t._1, t._2)) ===
      Seq(("/logging/com", "additionalProperties")))
    assert(v("wrong_type").map(t => (t._1, t._2)) ===
      Seq(("/logging/root", "additionalProperties")))
  }

  test("array-valued type accepts any listed type (ADVICE r1)") {
    val schema =
      """{"type":"object","properties":{
        |"x":{"type":["string","null"]}}}""".stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("str", """{"x":"ok"}"""),
      ("nul", """{"x":null}"""),
      ("num", """{"x":5}"""))
    assert(!v.contains("str"))
    assert(!v.contains("nul")) // explicit null IS type "null"
    assert(v("num") === Seq(("/x", "type",
      "integer found, [string, null] expected")))
  }

  test("required: explicit JSON null counts as present (NetworkNT parity)") {
    // Spark 4.1 semantics, pinned by this test's two docs: missing key →
    // SQL NULL from try_variant_get; explicit null → non-null VOID variant
    val schema =
      """{"type":"object","required":["x"],"properties":{}}"""
    val v = violationsOf(schema,
      ("has_null", """{"x":null}"""),
      ("missing", """{"y":1}"""))
    assert(!v.contains("has_null"))
    assert(v("missing") ===
      Seq(("/", "required", "required property 'x' not found")))
  }

  test("format assertions: email, uri, uuid, date-time (ref enables " +
      "assertions at YamlSchemaValidator.java:193)") {
    val schema =
      """{"type":"object","properties":{
        |"e":{"type":"string","format":"email"},
        |"u":{"type":"string","format":"uri"},
        |"id":{"type":"string","format":"uuid"},
        |"ts":{"type":"string","format":"date-time"},
        |"z":{"type":"string","format":"no-such-format"}}}"""
        .stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("ok", """{"e":"a.b@example.co.uk","u":"https://x.org/p?q=1",
        |"id":"123e4567-e89b-12d3-a456-426614174000",
        |"ts":"2024-06-01T12:00:00.5+02:00","z":"anything"}"""
        .stripMargin.replace("\n", "")),
      ("bad", """{"e":"not-an-email","u":"no scheme here",
        |"id":"123e4567","ts":"yesterday"}"""
        .stripMargin.replace("\n", "")))
    assert(!v.contains("ok")) // unknown format = annotation, no assertion
    assert(v("bad").toSet === Set(
      ("/e", "format", "does not match the email pattern"),
      ("/u", "format", "does not match the uri pattern"),
      ("/id", "format", "does not match the uuid pattern"),
      ("/ts", "format", "does not match the date-time pattern")))
  }

  test("items/minItems/uniqueItems/contains over variant arrays") {
    val schema =
      """{"type":"object","properties":{
        |"tags":{"type":"array","minItems":1,"maxItems":4,
        |  "uniqueItems":true,
        |  "items":{"type":"string","minLength":2},
        |  "contains":{"const":"anchor"}}}}""".stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("ok", """{"tags":["anchor","beta"]}"""),
      ("bad", """{"tags":["anchor","anchor",7,"x"]}"""),
      ("empty", """{"tags":[]}"""))
    assert(!v.contains("ok"))
    assert(v("bad").map(t => (t._1, t._2)).toSet === Set(
      ("/tags/2", "type"), ("/tags/3", "minLength"),
      ("/tags", "uniqueItems")))
    assert(v("empty").map(t => (t._1, t._2)).toSet === Set(
      ("/tags", "minItems"), ("/tags", "contains")))
    assert(v("empty").find(_._2 == "contains").get._3 ===
      "does not contain an element that matches the contains schema")
  }

  test("oneOf / anyOf / allOf / not / exclusive bounds / multipleOf") {
    val schema =
      """{"type":"object","properties":{
        |"k":{"oneOf":[{"const":"a"},{"const":"b"}]},
        |"n":{"anyOf":[{"type":"integer"},{"type":"string"}]},
        |"m":{"allOf":[{"minimum":0},{"maximum":10}]},
        |"x":{"not":{"const":"forbidden"}},
        |"e":{"type":"number","exclusiveMinimum":0,"exclusiveMaximum":1,
        |  "multipleOf":0.25},
        |"o":{"type":"object","properties":{"good_key":{}},
        |  "additionalProperties":false}}}""".stripMargin.replace("\n", "")
    val v = violationsOf(schema,
      ("ok", """{"k":"a","n":5,"m":7,"x":"fine","e":0.75}"""),
      ("bad", """{"k":"c","n":true,"m":11,"x":"forbidden","e":0.3,
        |"o":{"good_key":1,"bad key!":2}}""".stripMargin.replace("\n", "")),
      ("edge", """{"e":0}"""))
    assert(!v.contains("ok"))
    assert(v("bad").map(t => (t._1, t._2)).toSet === Set(
      ("/k", "oneOf"), ("/n", "anyOf"), ("/m", "allOf"), ("/x", "not"),
      ("/e", "multipleOf"), ("/o/bad key!", "additionalProperties")))
    assert(v("bad").find(_._2 == "additionalProperties").get._3 ===
      "property 'bad key!' is not allowed")
    assert(v("edge").map(t => (t._1, t._2)) ===
      Seq(("/e", "exclusiveMinimum")))
  }

  test("each keyword gives one verdict as a property, an array item and " +
      "a oneOf branch, and applies only to its instance types") {
    // a keyword schema, a conforming value, a violating value, a value of
    // another type and whether that value is valid: string keywords apply
    // to strings, numeric keywords to numbers, required to objects,
    // array keywords to arrays; type/enum/const to every value
    final case class Case(schema: String, good: String, bad: String,
        other: String, otherValid: Boolean)
    val cases = Seq(
      Case("""{"type":"string"}""", "\"a\"", "5", "null", false),
      Case("""{"enum":["a","b"]}""", "\"a\"", "\"c\"", "7", false),
      Case("""{"const":"a"}""", "\"a\"", "\"b\"", "null", false),
      Case("""{"pattern":"^[a-z]+$"}""", "\"abc\"", "\"ABC\"", "5", true),
      Case("""{"format":"email"}""", "\"a@b.co\"", "\"nope\"", "5", true),
      Case("""{"minimum":10}""", "12", "5", "\"5\"", true),
      Case("""{"maximum":10}""", "5", "12", "\"12\"", true),
      Case("""{"exclusiveMinimum":10}""", "11", "10", "\"10\"", true),
      Case("""{"exclusiveMaximum":10}""", "9", "10", "\"10\"", true),
      Case("""{"multipleOf":3}""", "9", "10", "\"10\"", true),
      Case("""{"minLength":3}""", "\"abcd\"", "\"ab\"", "5", true),
      Case("""{"maxLength":3}""", "\"abc\"", "\"abcdef\"", "123456", true),
      Case("""{"required":["k"]}""", """{"k":1}""", """{"j":1}""", "\"k\"",
        true),
      Case("""{"minItems":2}""", "[1,2]", "[1]", "\"ab\"", true))
    val placements = Seq[(String, String => String, String => String)](
      ("property", s => s, v => v),
      ("array item", s => s"""{"items":$s}""", v => s"[$v]"),
      ("oneOf branch", s => s"""{"oneOf":[$s]}""", v => v))
    val values = Seq[(String, Case => String)]("conforming" -> (_.good),
      "violating" -> (_.bad), "other-type" -> (_.other))
    // one schema per placement, case i under property c<i>; a case's
    // verdict is whether any violation points at /c<i> or below it
    val verdicts = placements.map { case (_, schemaOf, valueOf) =>
      val schema = cases.zipWithIndex.map { case (c, i) =>
        s""""c$i":${schemaOf(c.schema)}"""
      }.mkString("""{"type":"object","properties":{""", ",", "}}")
      val docs = values.map { case (kind, pick) =>
        kind -> cases.zipWithIndex.map { case (c, i) =>
          s""""c$i":${valueOf(pick(c))}"""
        }.mkString("{", ",", "}")
      }
      val v = violationsOf(schema, docs: _*)
      (for ((kind, _) <- values; i <- cases.indices) yield (kind, i) ->
        !v.getOrElse(kind, Nil).exists(x =>
          x._1 == s"/c$i" || x._1.startsWith(s"/c$i/"))).toMap
    }
    val wrong = for {
      (kind, _) <- values
      (c, i) <- cases.zipWithIndex
      expected = kind match {
        case "conforming" => true
        case "violating" => false
        case _ => c.otherValid
      }
      got = placements.map(_._1).zip(verdicts.map(_((kind, i))))
      if !got.forall(_._2 == expected)
    } yield s"${c.schema} on the $kind value: valid=$expected, got $got"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("staged withViolations equals the single-Column path") {
    val schema = graft.data.JsonDocs.schema
    val compiled = JsonSchemaCompiler.compile(schema)
    val df = graft.data.JsonDocs.docsJson(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    val staged = compiled.withViolations(df, parse_json(col("json")))
      .select(col("doc_id"), explode(col("violations")).as("x"))
      .select(col("doc_id"), col("x.pointer"), col("x.keyword"))
      .as[(Long, String, String)].collect().sorted.toSeq
    val direct = df.select(col("doc_id"),
        explode(compiled.violations(parse_json(col("json")))).as("x"))
      .select(col("doc_id"), col("x.pointer"), col("x.keyword"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(staged === direct)
    assert(staged.nonEmpty)
  }
}
