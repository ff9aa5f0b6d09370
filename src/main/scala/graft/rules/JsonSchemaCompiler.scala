package graft.rules

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** JSON-Schema (draft-2020-12 subset) → Catalyst compiler over Spark 4
  * VARIANT documents — the engine-level analogue of the reference's
  * NetworkNT delegation (YamlSchemaValidator.java:138-140), except the
  * schema compiles ONCE on the driver into `Column` trees and executes
  * distributed.
  *
  * Keyword surface (SURVEY.md §2.3 + VERDICT r1 "keyword completion"):
  * type (string or array form), enum, const, pattern, format (assertions
  * ON, like the reference's `formatAssertionsEnabled(true)`,
  * YamlSchemaValidator.java:193), minimum/maximum,
  * exclusiveMinimum/exclusiveMaximum, multipleOf, minLength/maxLength,
  * required, properties (nested), items (per-element),
  * minItems/maxItems/uniqueItems, contains, oneOf/anyOf/allOf, not,
  * additionalProperties (boolean and schema form — the reference's
  * recursive loggerLevelProp, sample-schema.json:27-39, compiles through
  * additionalProperties→oneOf→$ref), plus `$defs`/`$ref` with
  * compile-time inlining and bounded unrolling for recursive refs
  * (SURVEY.md §7.3 — Columns cannot recurse; beyond the depth limit a
  * recursive branch is vacuously valid, documented).
  *
  * Evaluation has two entry points:
  *  - `violations(v)`: a single Column over a variant — convenient, but
  *    each check re-extracts its path (no CSE inside one projection).
  *  - `withViolations(df, variantExpr)`: STAGED evaluation — the JSON is
  *    parsed once, every referenced (path, mode) is extracted once, and
  *    all checks evaluate over the extracted columns. CollapseProject
  *    keeps the multi-referenced non-cheap aliases staged (pinned by
  *    PlanSpec "schema-compiler plan: one parse ..."), so a
  *    schema with N keywords costs one parse + |extractions| per row
  *    instead of ~2N parses (VERDICT r1 wrongness #6). This is the
  *    production path.
  *
  * Semantics note (Spark 4.1; pinned by JsonSchemaSpec "required:
  * explicit JSON null counts as present"): a MISSING key yields
  * SQL NULL from try_variant_get, while an explicit JSON null yields a
  * non-null variant of type VOID — so `required` correctly treats an
  * explicit null as present (NetworkNT semantics), and checks fire only
  * on present values.
  *
  * Failure messages reproduce NetworkNT phrasing — e.g. the invalid.yaml
  * golden "integer found, boolean expected" (testreport/invalidyaml.txt:6).
  */
object JsonSchemaCompiler {

  /** Schema uses a `$ref` form the compiler cannot resolve (remote, or
    * relative-file without a base directory, or a missing fragment).
    * Thrown at compile time; the CLI catches it and emits a per-document
    * error row.
    */
  final class UnsupportedRefException(msg: String)
      extends IllegalArgumentException(msg)

  private val mapper = new ObjectMapper()
  private val yamlMapper = new ObjectMapper(new YAMLFactory())

  private def readSchemaDoc(p: java.nio.file.Path): JsonNode = {
    val text = java.nio.file.Files.readString(p)
    try mapper.readTree(text)
    catch { case _: Exception => yamlMapper.readTree(text) }
  }

  /** Inline relative-FILE `$ref`s (NetworkNT resolves these against the
    * schema's own location) before compilation, so the compiled document
    * is self-contained and the existing intra-document machinery applies
    * unchanged. `external = true` means `node` came from a referenced
    * document, where `#/` fragments must resolve against THAT document's
    * root (`docRoot`) immediately — in the main document they are left
    * for the compiler's bounded lazy resolution. `budget` bounds total
    * expansion depth: a cyclic or over-deep chain degrades to the empty
    * schema (always valid), the same policy as the compiler's bounded
    * `$ref` unrolling. Remote (scheme-carrying) refs throw — the CLI
    * surfaces them as per-doc error rows.
    */
  private def inlineFileRefs(node: JsonNode, docRoot: JsonNode,
      dir: java.nio.file.Path, budget: Int, external: Boolean): JsonNode =
    node match {
      case o: ObjectNode if o.has("$ref") &&
          o.get("$ref").asText().startsWith("#/") =>
        if (!external) node
        else if (budget <= 0) mapper.createObjectNode()
        else {
          val target = o.get("$ref").asText().stripPrefix("#/")
            .split('/').foldLeft(docRoot)((n, seg) =>
              if (n == null) null else n.get(seg))
          if (target == null)
            throw new UnsupportedRefException(
              s"Reference ${o.get("$ref").asText()} cannot be resolved " +
                "in the referenced document")
          inlineFileRefs(target, docRoot, dir, budget - 1, external = true)
        }
      case o: ObjectNode if o.has("$ref") =>
        val ref = o.get("$ref").asText()
        if (ref.contains("://"))
          throw new UnsupportedRefException(
            s"Reference $ref cannot be resolved: only intra-document " +
              "'#/' and relative-file refs are supported")
        if (budget <= 0) mapper.createObjectNode()
        else {
          val (file, frag) = ref.span(_ != '#')
          val p = dir.resolve(file)
          val extRoot =
            try readSchemaDoc(p)
            catch {
              case e: Exception => throw new UnsupportedRefException(
                s"Reference $ref cannot be resolved: ${e.getMessage}")
            }
          val target = frag.stripPrefix("#").stripPrefix("/") match {
            case "" => extRoot
            case path => path.split('/').foldLeft(extRoot)((n, seg) =>
              if (n == null) null else n.get(seg))
          }
          if (target == null)
            throw new UnsupportedRefException(
              s"Reference $ref cannot be resolved: fragment not found")
          inlineFileRefs(target, extRoot, p.getParent, budget - 1,
            external = true)
        }
      case o: ObjectNode =>
        val out = mapper.createObjectNode()
        o.fields().asScala.foreach { e =>
          out.set[JsonNode](e.getKey,
            inlineFileRefs(e.getValue, docRoot, dir, budget, external))
        }
        out
      case a: ArrayNode =>
        val out = mapper.createArrayNode()
        a.elements().asScala.foreach(el =>
          out.add(inlineFileRefs(el, docRoot, dir, budget, external)))
        out
      case other => other
    }

  val ViolationType =
    "array<struct<pointer:string,keyword:string,message:string," +
      "schemaLocation:string>>"

  private def emptyViol: Column = array().cast(ViolationType)

  /** 2020-12 format assertions implemented as anchored regexes. Unknown
    * formats are annotations (no assertion), per the spec.
    */
  val formatRegexes: Map[String, String] = Formats.regexes

  /** One extraction a check needs: a JSON path plus how to read it.
    * mode ∈ {variant, typeof, string, double, array, map}.
    */
  final case class Ext(path: String, mode: String)

  /** Environment a check evaluates in: gives the Column for an Ext. */
  type Env = Ext => Column

  /** One compiled check: emits an ARRAY of violation structs (usually
    * 0-or-1; per-element checks emit one per failing element).
    */
  final case class Check(pointer: String, keyword: String,
      schemaLocation: String, emit: Env => Column)

  /** Map a schema_of_variant type string to the JSON-Schema type name.
    * Call only on non-SQL-null variants (missing keys are handled by the
    * presence guard); an explicit JSON null is VOID → "null".
    */
  def jsonType(sub: Column): Column = {
    val t = schema_of_variant(sub)
    when(sub.isNull || t === "VOID", "null")
      .when(t.isin("BIGINT", "INT", "SMALLINT", "TINYINT"), "integer")
      .when(t.startsWith("DECIMAL") || t.isin("DOUBLE", "FLOAT"), "number")
      .when(t === "STRING", "string")
      .when(t === "BOOLEAN", "boolean")
      .when(t.startsWith("ARRAY"), "array")
      .otherwise("object")
  }

  private def pathSeg(s: String): String =
    if (s.matches("[A-Za-z0-9_]+")) s".$s" else s"['$s']"

  private def path(segments: Seq[String]): String =
    "$" + segments.map(pathSeg).mkString

  private def pointer(segments: Seq[String]): String =
    "/" + segments.mkString("/")

  /** Evaluate one extraction directly over a variant root. */
  private def directExpr(v: Column, e: Ext): Column = e.mode match {
    case "typeof" =>
      jsonType(if (e.path == "$") v else try_variant_get(v, e.path, "variant"))
    case "variant" if e.path == "$" => v
    case "array" => try_variant_get(v, e.path, "array<variant>")
    case "map" => try_variant_get(v, e.path, "map<string,variant>")
    case m => try_variant_get(v, e.path, m)
  }

  final case class CompiledSchema(checks: Seq[Check], exts: Seq[Ext]) {

    private lazy val extIndex: Map[Ext, Int] = exts.zipWithIndex.toMap

    def violationsEnv(env: Env): Column =
      checks.map(c => coalesce(c.emit(env), emptyViol))
        .reduceOption(concat(_, _)).getOrElse(emptyViol)

    /** Violations array for a VARIANT document column (single-Column
      * path; each check extracts its own paths — fine for few checks,
      * use [[withViolations]] for wide schemas).
      */
    def violations(v: Column): Column = violationsEnv(directExpr(v, _))

    def valid(v: Column): Column = size(violations(v)) === 0

    /** Staged CSE evaluation (see object Scaladoc): parse once, extract
      * each referenced (path, mode) once, evaluate checks over the
      * extracted columns. Appends `out` (violations array) to `df`.
      */
    def withViolations(df: DataFrame, variantExpr: Column,
        out: String = "violations"): DataFrame = {
      val keep = df.columns.toSeq
      // stage 1: parse once — `__v` is referenced by every extraction,
      // so CollapseProject cannot inline the parse
      val s1 = df.select(keep.map(col) :+ variantExpr.as("__v"): _*)
      // stage 2: each distinct extraction once (each a staged alias —
      // the typeof extractions alone are 7-way CASE chains over
      // schema_of_variant and would otherwise bloat the fused method)
      val extCols = exts.zipWithIndex.map { case (e, i) =>
        directExpr(col("__v"), e).as(s"__x$i")
      }
      val s2 = s1.select((keep.map(col) :+ col("__v")) ++ extCols: _*)
      val env: Env = e => extIndex.get(e)
        .map(i => col(s"__x$i"))
        .getOrElse(directExpr(col("__v"), e))
      // stage 3: all checks over the extracted columns, in one plain
      // select. The staged aliases keep each extraction evaluated once
      // (CollapseProject does not re-inline multi-referenced non-cheap
      // aliases — PlanSpec "schema-compiler plan: one parse ..."); very
      // wide schemas could still push the fused codegen method past
      // HotSpot's JIT limit (BENCH.md code-cache note) — if that
      // surfaces, split stage 3 into chunked selects.
      s2.select(keep.map(col) :+ violationsEnv(env).as(out): _*)
    }
  }

  /** Compile a schema document. `maxRefDepth` bounds recursive `$ref`
    * unrolling (the reference's one recursive case, loggerLevelProp,
    * nests ≤ 3 in its fixtures); beyond the bound a recursive branch is
    * treated as valid. When `baseDir` is given, relative-FILE `$ref`s
    * are resolved against it ([[inlineFileRefs]] — NetworkNT resolves
    * refs against the schema's own location); without it, only `#/`
    * refs are supported (non-local refs throw, and the CLI turns that
    * into a per-doc error row).
    */
  def compile(schemaJson: String, maxRefDepth: Int = 3,
      baseDir: Option[java.nio.file.Path] = None): CompiledSchema = {
    val root0 = mapper.readTree(schemaJson)
    val root = baseDir match {
      case Some(d) =>
        inlineFileRefs(root0, root0, d, maxRefDepth * 2, external = false)
      case None => root0
    }
    // NetworkNT prefixes schemaLocation with the schema's base URI when
    // an `$id` is declared (golden invalidyaml.json: "urn:example:10#/
    // properties/..."); without one, locations stay bare "#/..." (all
    // engine-internal schemas).
    val idPrefix =
      if (root.has("$id")) root.get("$id").asText() else ""
    val checks = Seq.newBuilder[Check]
    val exts = scala.collection.mutable.LinkedHashSet.empty[Ext]
    def ext(p: String, mode: String): Ext = {
      val e = Ext(p, mode); exts += e; e
    }

    def resolveRef(node: JsonNode): JsonNode = {
      val ref = node.get("$ref").asText()
      // non-local refs surface as a schema-load failure, which the CLI
      // turns into a per-doc error row (error-as-data, like the
      // reference's schema-load catch) rather than a driver crash
      if (!ref.startsWith("#/"))
        throw new UnsupportedRefException(
          s"Reference $ref cannot be resolved: only intra-document " +
            "'#/' refs are supported")
      ref.stripPrefix("#/").split('/')
        .foldLeft(root)((n, seg) => n.get(seg))
    }

    def typeNames(node: JsonNode): Seq[String] =
      if (node.isArray) node.elements().asScala.map(_.asText()).toSeq
      else Seq(node.asText())

    /** JSON-Schema: `number` accepts integers too. */
    def accepted(expected: Seq[String]): Seq[String] =
      if (expected.contains("number") && !expected.contains("integer"))
        expected :+ "integer"
      else expected

    // ---- subschema satisfaction predicate (for oneOf/not/items/
    // additionalProperties — anywhere a whole subschema applies to one
    // variant VALUE rather than a fixed path) -----------------------------
    def validPred(node0: JsonNode, v: Column, refDepth: Int): Column = {
      if (refDepth > maxRefDepth) return lit(true) // bounded unrolling
      val node = if (node0.has("$ref")) resolveRef(node0) else node0
      val rd = if (node0.has("$ref")) refDepth + 1 else refDepth
      val jt = jsonType(v)
      def str = try_variant_get(v, "$", "string")
      def num = try_variant_get(v, "$", "double")
      def elems = try_variant_get(v, "$", "array<variant>")
      val preds = Seq.newBuilder[Column]
      if (node.has("type"))
        preds += jt.isin(accepted(typeNames(node.get("type"))): _*)
      if (node.has("enum"))
        preds += coalesce(str.isin(node.get("enum").elements().asScala
          .map(_.asText()).toSeq: _*), lit(false))
      if (node.has("const"))
        preds += coalesce(str === node.get("const").asText(), lit(false))
      if (node.has("pattern"))
        preds += jt =!= "string" ||
          coalesce(str.rlike(node.get("pattern").asText()), lit(false))
      formatRegexes.get(
          if (node.has("format")) node.get("format").asText() else "")
        .foreach(re => preds += jt =!= "string" ||
          coalesce(str.rlike(re), lit(false)))
      if (node.has("minLength"))
        preds += jt =!= "string" || length(str) >= node.get("minLength").asInt()
      if (node.has("maxLength"))
        preds += jt =!= "string" || length(str) <= node.get("maxLength").asInt()
      val isNum = jt.isin("integer", "number")
      if (node.has("minimum"))
        preds += !isNum || num >= node.get("minimum").asDouble()
      if (node.has("maximum"))
        preds += !isNum || num <= node.get("maximum").asDouble()
      if (node.has("exclusiveMinimum"))
        preds += !isNum || num > node.get("exclusiveMinimum").asDouble()
      if (node.has("exclusiveMaximum"))
        preds += !isNum || num < node.get("exclusiveMaximum").asDouble()
      if (node.has("multipleOf"))
        preds += !isNum || num % node.get("multipleOf").asDouble() === 0.0
      if (node.has("required"))
        preds += jt =!= "object" ||
          node.get("required").elements().asScala.map { r =>
            try_variant_get(v, "$" + pathSeg(r.asText()), "variant").isNotNull
          }.reduce(_ && _)
      if (node.has("properties"))
        node.get("properties").fields().asScala.foreach { e =>
          val child = try_variant_get(v, "$" + pathSeg(e.getKey), "variant")
          preds += child.isNull || validPred(e.getValue, child, rd)
        }
      if (node.has("items"))
        preds += jt =!= "array" || coalesce(
          forall(elems, e => validPred(node.get("items"), e, rd)), lit(true))
      if (node.has("minItems"))
        preds += jt =!= "array" || size(elems) >= node.get("minItems").asInt()
      if (node.has("maxItems"))
        preds += jt =!= "array" || size(elems) <= node.get("maxItems").asInt()
      if (node.has("uniqueItems") && node.get("uniqueItems").asBoolean())
        preds += jt =!= "array" ||
          size(array_distinct(transform(elems, e => to_json(e)))) === size(elems)
      if (node.has("contains"))
        preds += jt =!= "array" || coalesce(
          exists(elems, e => validPred(node.get("contains"), e, rd)),
          lit(false))
      if (node.has("oneOf"))
        preds += node.get("oneOf").elements().asScala.map(b =>
          coalesce(validPred(b, v, rd), lit(false)).cast("int"))
          .reduce(_ + _) === 1
      if (node.has("anyOf"))
        preds += node.get("anyOf").elements().asScala.map(b =>
          coalesce(validPred(b, v, rd), lit(false))).reduce(_ || _)
      if (node.has("allOf"))
        preds += node.get("allOf").elements().asScala.map(b =>
          coalesce(validPred(b, v, rd), lit(false))).reduce(_ && _)
      if (node.has("not"))
        preds += !coalesce(validPred(node.get("not"), v, rd), lit(true))
      if (node.has("additionalProperties")) {
        val ap = node.get("additionalProperties")
        val declared =
          if (node.has("properties"))
            node.get("properties").fieldNames().asScala.toSeq
          else Seq.empty
        val m = try_variant_get(v, "$", "map<string,variant>")
        def isExtra(k: Column) =
          if (declared.isEmpty) lit(true) else !k.isin(declared: _*)
        if (ap.isBoolean && !ap.asBoolean())
          preds += jt =!= "object" ||
            size(filter(map_keys(m), k => isExtra(k))) === 0
        else if (!ap.isBoolean)
          preds += jt =!= "object" || size(map_keys(map_filter(m,
            (k, mv) => isExtra(k) &&
              !coalesce(validPred(ap, mv, rd), lit(false))))) === 0
      }
      preds.result().map(p => coalesce(p, lit(false)))
        .reduceOption(_ && _).getOrElse(lit(true))
    }

    // ---- violation-struct helpers ---------------------------------------
    def viol(ptrCol: Column, keyword: String, msg: Column,
        loc: String): Column =
      struct(ptrCol.as("pointer"), lit(keyword).as("keyword"),
        msg.as("message"), lit(loc).as("schemaLocation"))

    def single(cond: Column, ptr: String, keyword: String, msg: Column,
        loc: String): Column =
      when(coalesce(cond, lit(false)),
        array(viol(lit(ptr), keyword, msg, loc))).otherwise(emptyViol)

    // keywords handled per-element inside `items` with precise messages
    val scalarItemKeywords = Set("type", "enum", "const", "pattern",
      "format", "minimum", "maximum", "exclusiveMinimum",
      "exclusiveMaximum", "multipleOf", "minLength", "maxLength")

    // ---- the walk: path-based checks with registered extractions --------
    def walk(node0: JsonNode, segs: Seq[String], refDepth: Int): Unit = {
      if (refDepth > maxRefDepth) return // bounded unrolling
      val node = if (node0.has("$ref")) resolveRef(node0) else node0
      val nextRefDepth = if (node0.has("$ref")) refDepth + 1 else refDepth
      val p = path(segs)
      val ptr = if (segs.isEmpty) "/" else pointer(segs)
      val loc = idPrefix + "#/" +
        segs.flatMap(s => Seq("properties", s)).mkString("/")
      val vX = ext(p, "variant")
      def present(env: Env): Column = env(vX).isNotNull

      if (node.has("type")) {
        val expected = typeNames(node.get("type"))
        val expectedStr =
          if (expected.size == 1) expected.head
          else expected.mkString("[", ", ", "]")
        val tX = ext(p, "typeof")
        checks += Check(ptr, "type", s"$loc/type",
          env => single(present(env) && !env(tX).isin(accepted(expected): _*),
            ptr, "type", format_string("%s found, " + expectedStr +
              " expected", env(tX)), s"$loc/type"))
      }
      if (node.has("enum")) {
        val vals = node.get("enum").elements().asScala.map(_.asText()).toSeq
        val sX = ext(p, "string")
        checks += Check(ptr, "enum", s"$loc/enum",
          env => single(present(env) && !env(sX).isin(vals: _*),
            ptr, "enum", lit("does not have a value in the enumeration " +
              vals.mkString("[", ", ", "]")), s"$loc/enum"))
      }
      if (node.has("const")) {
        val c = node.get("const").asText()
        val sX = ext(p, "string")
        checks += Check(ptr, "const", s"$loc/const",
          env => single(present(env) && env(sX) =!= c,
            ptr, "const", lit(s"must be the constant value '$c'"),
            s"$loc/const"))
      }
      if (node.has("pattern")) {
        val re = node.get("pattern").asText()
        val sX = ext(p, "string")
        checks += Check(ptr, "pattern", s"$loc/pattern",
          env => single(present(env) && !env(sX).rlike(re),
            ptr, "pattern", lit(s"does not match the regex pattern $re"),
            s"$loc/pattern"))
      }
      if (node.has("format")) {
        val fmt = node.get("format").asText()
        formatRegexes.get(fmt).foreach { re => // unknown → annotation only
          val sX = ext(p, "string")
          val tX = ext(p, "typeof")
          checks += Check(ptr, "format", s"$loc/format",
            env => single(env(tX) === "string" && !env(sX).rlike(re),
              ptr, "format", lit(s"does not match the $fmt pattern"),
              s"$loc/format"))
        }
      }
      def numCheck(kw: String, testOf: (Column, Double) => Column,
          msg: JsonNode => String): Unit = if (node.has(kw)) {
        val m = node.get(kw).asDouble()
        val dX = ext(p, "double")
        checks += Check(ptr, kw, s"$loc/$kw",
          env => single(present(env) && testOf(env(dX), m),
            ptr, kw, lit(msg(node.get(kw))), s"$loc/$kw"))
      }
      numCheck("minimum", (d, m) => d < m,
        n => s"must have a minimum value of ${n.asText()}")
      numCheck("maximum", (d, m) => d > m,
        n => s"must have a maximum value of ${n.asText()}")
      numCheck("exclusiveMinimum", (d, m) => d <= m,
        n => s"must have an exclusive minimum value of ${n.asText()}")
      numCheck("exclusiveMaximum", (d, m) => d >= m,
        n => s"must have an exclusive maximum value of ${n.asText()}")
      numCheck("multipleOf", (d, m) => !(d % m === 0.0),
        n => s"must be multiple of ${n.asText()}")
      if (node.has("minLength")) {
        val m = node.get("minLength").asInt()
        val sX = ext(p, "string")
        checks += Check(ptr, "minLength", s"$loc/minLength",
          env => single(present(env) && length(env(sX)) < m,
            ptr, "minLength", lit(s"must be at least $m characters long"),
            s"$loc/minLength"))
      }
      if (node.has("maxLength")) {
        val m = node.get("maxLength").asInt()
        val sX = ext(p, "string")
        checks += Check(ptr, "maxLength", s"$loc/maxLength",
          env => single(present(env) && length(env(sX)) > m,
            ptr, "maxLength", lit(s"must be at most $m characters long"),
            s"$loc/maxLength"))
      }
      if (node.has("required")) {
        node.get("required").elements().asScala.foreach { r =>
          val name = r.asText()
          val cX = ext(path(segs :+ name), "variant")
          checks += Check(ptr, "required", s"$loc/required",
            env => single(present(env) && env(cX).isNull,
              ptr, "required", lit(s"required property '$name' not found"),
              s"$loc/required"))
        }
      }
      // ---- array keywords ----
      if (node.has("items") || node.has("minItems") || node.has("maxItems")
          || node.has("contains") ||
          (node.has("uniqueItems") && node.get("uniqueItems").asBoolean())) {
        val aX = ext(p, "array")
        if (node.has("items")) {
          val itemNode0 = node.get("items")
          val itemNode =
            if (itemNode0.has("$ref")) resolveRef(itemNode0) else itemNode0
          // precise per-element checks for the scalar keywords
          def elemCheck(kw: String, test: Column => Column,
              msg: Column => Column): Unit =
            checks += Check(ptr, kw, s"$loc/items/$kw",
              env => coalesce(filter(transform(env(aX), (e, i) =>
                when(coalesce(test(e), lit(false)),
                  viol(concat(lit(ptr + "/"), i.cast("string")), kw,
                    msg(e), s"$loc/items/$kw"))),
                x => x.isNotNull), emptyViol))
          if (itemNode.has("type")) {
            val expected = typeNames(itemNode.get("type"))
            val expectedStr =
              if (expected.size == 1) expected.head
              else expected.mkString("[", ", ", "]")
            elemCheck("type", e => !jsonType(e).isin(accepted(expected): _*),
              e => format_string("%s found, " + expectedStr + " expected",
                jsonType(e)))
          }
          if (itemNode.has("enum")) {
            val vals = itemNode.get("enum").elements().asScala
              .map(_.asText()).toSeq
            elemCheck("enum",
              e => !try_variant_get(e, "$", "string").isin(vals: _*),
              _ => lit("does not have a value in the enumeration " +
                vals.mkString("[", ", ", "]")))
          }
          if (itemNode.has("pattern")) {
            val re = itemNode.get("pattern").asText()
            elemCheck("pattern", e => jsonType(e) === "string" &&
              !try_variant_get(e, "$", "string").rlike(re),
              _ => lit(s"does not match the regex pattern $re"))
          }
          if (itemNode.has("minLength")) {
            val m = itemNode.get("minLength").asInt()
            elemCheck("minLength", e => jsonType(e) === "string" &&
              length(try_variant_get(e, "$", "string")) < m,
              _ => lit(s"must be at least $m characters long"))
          }
          if (itemNode.has("minimum")) {
            val m = itemNode.get("minimum").asDouble()
            elemCheck("minimum",
              e => try_variant_get(e, "$", "double") < m,
              _ => lit("must have a minimum value of " +
                itemNode.get("minimum").asText()))
          }
          if (itemNode.has("maximum")) {
            val m = itemNode.get("maximum").asDouble()
            elemCheck("maximum",
              e => try_variant_get(e, "$", "double") > m,
              _ => lit("must have a maximum value of " +
                itemNode.get("maximum").asText()))
          }
          // complex item subschemas (nested properties/oneOf/...) fall
          // back to one whole-subschema violation per failing element
          if (!itemNode.fieldNames().asScala.forall(scalarItemKeywords)) {
            checks += Check(ptr, "items", s"$loc/items",
              env => coalesce(filter(transform(env(aX), (e, i) =>
                when(!coalesce(validPred(itemNode, e, nextRefDepth),
                    lit(false)),
                  viol(concat(lit(ptr + "/"), i.cast("string")), "items",
                    lit("does not match the items schema"),
                    s"$loc/items"))),
                x => x.isNotNull), emptyViol))
          }
        }
        if (node.has("minItems")) {
          val m = node.get("minItems").asInt()
          checks += Check(ptr, "minItems", s"$loc/minItems",
            env => single(env(aX).isNotNull && size(env(aX)) < m,
              ptr, "minItems", lit(s"must have at least $m items"),
              s"$loc/minItems"))
        }
        if (node.has("maxItems")) {
          val m = node.get("maxItems").asInt()
          checks += Check(ptr, "maxItems", s"$loc/maxItems",
            env => single(env(aX).isNotNull && size(env(aX)) > m,
              ptr, "maxItems", lit(s"must have at most $m items"),
              s"$loc/maxItems"))
        }
        if (node.has("uniqueItems") && node.get("uniqueItems").asBoolean()) {
          checks += Check(ptr, "uniqueItems", s"$loc/uniqueItems",
            env => single(env(aX).isNotNull &&
                size(array_distinct(transform(env(aX), e => to_json(e))))
                  =!= size(env(aX)),
              ptr, "uniqueItems",
              lit("must have only unique items in the array"),
              s"$loc/uniqueItems"))
        }
        if (node.has("contains")) {
          val sub = node.get("contains")
          checks += Check(ptr, "contains", s"$loc/contains",
            env => single(env(aX).isNotNull && !coalesce(
                exists(env(aX), e => validPred(sub, e, nextRefDepth)),
                lit(false)),
              ptr, "contains",
              lit("does not contain an element that matches the contains " +
                "schema"), s"$loc/contains"))
        }
      }
      // ---- combinators over the value at this path ----
      if (node.has("oneOf")) {
        val branches = node.get("oneOf").elements().asScala.toSeq
        checks += Check(ptr, "oneOf", s"$loc/oneOf",
          env => single(present(env) && branches.map(b =>
              coalesce(validPred(b, env(vX), nextRefDepth), lit(false))
                .cast("int")).reduce(_ + _) =!= 1,
            ptr, "oneOf", lit("must be valid against exactly one schema"),
            s"$loc/oneOf"))
      }
      if (node.has("anyOf")) {
        val branches = node.get("anyOf").elements().asScala.toSeq
        checks += Check(ptr, "anyOf", s"$loc/anyOf",
          env => single(present(env) && !branches.map(b =>
              coalesce(validPred(b, env(vX), nextRefDepth), lit(false)))
              .reduce(_ || _),
            ptr, "anyOf", lit("must be valid against at least one schema"),
            s"$loc/anyOf"))
      }
      if (node.has("allOf")) {
        val branches = node.get("allOf").elements().asScala.toSeq
        checks += Check(ptr, "allOf", s"$loc/allOf",
          env => single(present(env) && !branches.map(b =>
              coalesce(validPred(b, env(vX), nextRefDepth), lit(false)))
              .reduce(_ && _),
            ptr, "allOf", lit("must be valid against all schemas"),
            s"$loc/allOf"))
      }
      if (node.has("not")) {
        val sub = node.get("not")
        checks += Check(ptr, "not", s"$loc/not",
          env => single(present(env) &&
              coalesce(validPred(sub, env(vX), nextRefDepth), lit(false)),
            ptr, "not", lit("must not be valid against the schema"),
            s"$loc/not"))
      }
      // ---- additionalProperties (boolean and schema form) ----
      if (node.has("additionalProperties")) {
        val ap = node.get("additionalProperties")
        val declared =
          if (node.has("properties"))
            node.get("properties").fieldNames().asScala.toSeq
          else Seq.empty
        val mX = ext(p, "map")
        def isExtra(k: Column) =
          if (declared.isEmpty) lit(true) else !k.isin(declared: _*)
        def keyPtr(k: Column) =
          concat(lit(if (segs.isEmpty) "/" else ptr + "/"), k)
        if (ap.isBoolean && !ap.asBoolean()) {
          checks += Check(ptr, "additionalProperties",
            s"$loc/additionalProperties",
            env => coalesce(transform(filter(map_keys(env(mX)), k => isExtra(k)),
              k => viol(keyPtr(k), "additionalProperties",
                concat(lit("property '"), k, lit("' is not allowed")),
                s"$loc/additionalProperties")), emptyViol))
        } else if (!ap.isBoolean) {
          checks += Check(ptr, "additionalProperties",
            s"$loc/additionalProperties",
            env => coalesce(transform(map_keys(map_filter(env(mX),
                (k, mv) => isExtra(k) && !coalesce(
                  validPred(ap, mv, nextRefDepth), lit(false)))),
              k => viol(keyPtr(k), "additionalProperties",
                concat(lit("property '"), k,
                  lit("' does not match the additional-properties schema")),
                s"$loc/additionalProperties")), emptyViol))
        }
      }
      if (node.has("properties")) {
        node.get("properties").fields().asScala.foreach { e =>
          walk(e.getValue, segs :+ e.getKey, nextRefDepth)
        }
      }
    }

    walk(root, Seq.empty, 0)
    CompiledSchema(checks.result(), exts.toSeq)
  }
}
