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
  * Each assertion keyword is defined once, in `keywords`: the instance
  * types it applies to (JSON Schema 2020-12 — string keywords to
  * strings, numeric keywords to numbers, `required` and
  * `additionalProperties` to objects, array keywords to arrays, `type`,
  * `enum`, `const` and the combinators to every value), its failure test
  * over a [[View]] of the value and its message. The same definition
  * serves a value at a path (`present && applies && fails`), each array
  * element under `items` and a value inside a subschema (`oneOf`, `not`,
  * `contains`, `additionalProperties`), so the three placements agree.
  * The span rules ([[RuleCompiler]]) lower to nodes of the same table,
  * placed at a path over a typed span struct ([[View.typed]]).
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

  /** A schema file, JSON or YAML (reference P5, getSchemaYamlJsonNode
    * YamlSchemaValidator.java:224-240): JSON when it parses as JSON, else
    * YAML.
    */
  def readSchemaDoc(p: java.nio.file.Path): JsonNode = {
    val text = java.nio.file.Files.readString(p)
    try mapper.readTree(text)
    catch { case _: Exception => yamlMapper.readTree(text) }
  }

  /** The node at the fragment path `frag` (`#/` stripped) below `root`;
    * a missing one is an [[UnsupportedRefException]] for `ref`.
    */
  private def fragment(root: JsonNode, frag: String, ref: String): JsonNode =
    Option(frag.split('/').foldLeft(root)((n, seg) =>
      if (n == null) null else n.get(seg))).getOrElse(
      throw new UnsupportedRefException(
        s"Reference $ref cannot be resolved: fragment not found"))

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
          val ref = o.get("$ref").asText()
          inlineFileRefs(fragment(docRoot, ref.stripPrefix("#/"), ref),
            docRoot, dir, budget - 1, external = true)
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
            case path => fragment(extRoot, path, ref)
          }
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

  /** One violation struct, an element of [[ViolationType]]. */
  private[rules] def viol(ptrCol: Column, keyword: String, msg: Column,
      loc: String): Column =
    struct(ptrCol.as("pointer"), lit(keyword).as("keyword"),
      msg.as("message"), lit(loc).as("schemaLocation"))

  /** One extraction a keyword reads: a JSON path plus how to read it.
    * mode ∈ {variant, typeof, string, double, array, map}.
    */
  final case class Ext(path: String, mode: String)

  /** A value under check, read the ways keywords need: `read` gives the
    * Column for an extraction whose path is relative to the value (`$` is
    * the value itself). At a path the reads are `withViolations`' staged
    * extractions; an array element or a subschema's value is read
    * straight from its variant ([[View.of]]); a typed column is read as
    * itself ([[View.typed]]).
    */
  class View(val read: Ext => Column) {
    def value: Column = read(Ext("$", "variant"))
    def jsonType: Column = read(Ext("$", "typeof"))
    def str: Column = read(Ext("$", "string"))
    def num: Column = read(Ext("$", "double"))
    def arr: Column = read(Ext("$", "array"))
    def obj: Column = read(Ext("$", "map"))
    def field(name: String): Column =
      read(Ext("$" + pathSeg(name), "variant"))

    /** The value at `segs` below this one. */
    def at(segs: Seq[String]): View =
      new View(e => read(Ext(path(segs) + e.path.drop(1), e.mode)))
  }

  object View {
    def of(v: Column): View = new View(directExpr(v, _))

    /** A typed (not variant) column `c`: `str` is `c`, `num` its cast to
      * double, `field` its struct field, `jsonType` "null" for NULL, else
      * the JSON type of its Catalyst type (Spark's `typeof` is foldable:
      * a type guard folds to a null test). A NULL struct field is an
      * absent key, so only a `required` of the enclosing struct fires.
      */
    def typed(c: Column): View = new View(e => {
      require(e.path == "$", s"a typed view reads only itself, not ${e.path}")
      e.mode match {
        case "typeof" => jsonType(c.isNull, upper(typeof(c)))
        case "double" => c.cast("double")
        case _ => c
      }
    }) {
      override def field(name: String): Column = c.getField(name)
    }
  }

  /** One compiled check: over a view of the document root, emits an
    * ARRAY of violation structs (usually 0-or-1; per-element and
    * per-key checks emit one per failing element or key).
    */
  final case class Check(emit: View => Column)

  /** The JSON-Schema type name of a value whose upper-case Spark type
    * name is `t`: "null" when `isNull` or for VOID (an explicit JSON null
    * in a variant, whose type string is `schema_of_variant`'s).
    */
  def jsonType(isNull: Column, t: Column): Column =
    when(isNull || t === "VOID", "null")
      .when(t.isin("BIGINT", "INT", "SMALLINT", "TINYINT"), "integer")
      .when(t.startsWith("DECIMAL") || t.isin("DOUBLE", "FLOAT"), "number")
      .when(t === "STRING", "string")
      .when(t === "BOOLEAN", "boolean")
      .when(t.startsWith("ARRAY"), "array")
      .otherwise("object")

  private def pathSeg(s: String): String =
    if (s.matches("[A-Za-z0-9_]+")) s".$s" else s"['$s']"

  private def path(segments: Seq[String]): String =
    "$" + segments.map(pathSeg).mkString

  private def pointer(segments: Seq[String]): String =
    "/" + segments.mkString("/")

  /** Evaluate one extraction directly over a variant root. */
  private def directExpr(v: Column, e: Ext): Column = e.mode match {
    case "typeof" =>
      val sub = if (e.path == "$") v else try_variant_get(v, e.path, "variant")
      jsonType(sub.isNull, schema_of_variant(sub))
    case "variant" if e.path == "$" => v
    case "array" => try_variant_get(v, e.path, "array<variant>")
    case "map" => try_variant_get(v, e.path, "map<string,variant>")
    case m => try_variant_get(v, e.path, m)
  }

  // ---- the keyword table ------------------------------------------------

  /** The subschema-satisfaction predicate handed to the combinators:
    * whether a variant value satisfies a schema node (never NULL).
    */
  private type Sub = (JsonNode, Column) => Column

  /** One failure test of one schema node, over a view of the value. */
  private sealed trait Test { def fails(v: View): Column }

  /** Fails on the value as a whole: one violation. */
  private final case class OnValue(test: View => Column,
      message: View => Column) extends Test {
    def fails(v: View): Column = test(v)
  }

  /** Fails per object key: one violation per key `keys` lists, at the
    * key's pointer, with `message` of the key.
    */
  private final case class OnKeys(keys: View => Column,
      message: Column => Column) extends Test {
    def fails(v: View): Column = size(keys(v)) > 0
  }

  /** One assertion keyword, defined once for its three placements: a
    * value at a path, an array element under `items`, and a value inside
    * a subschema (`oneOf`, `not`, `contains`, `additionalProperties`,
    * ...). `applies` lists the instance types it applies to (empty:
    * every value), per JSON Schema 2020-12. `scalar` keywords are checked
    * element by element under `items`; any other item keyword makes
    * `items` check each element against the whole item schema.
    * `tests(node, sub)` gives a node's failure tests: one per name for
    * `required`, none for an unknown `format` (an annotation).
    */
  private final case class Keyword(name: String, applies: Seq[String],
      scalar: Boolean)(val tests: (JsonNode, Sub) => Seq[Test]) {

    /** Whether the keyword applies to the value `v` reads; None when it
      * applies to every value.
      */
    def appliesTo(v: View): Option[Column] =
      if (applies.isEmpty) None else Some(v.jsonType.isin(applies: _*))
  }

  private val AnyType = Seq.empty[String]
  private val Strings = Seq("string")
  private val Numbers = Seq("integer", "number")
  private val Objects = Seq("object")
  private val Arrays = Seq("array")

  private def typeNames(node: JsonNode): Seq[String] =
    if (node.isArray) node.elements().asScala.map(_.asText()).toSeq
    else Seq(node.asText())

  /** JSON-Schema: `number` accepts integers too. */
  private def accepted(expected: Seq[String]): Seq[String] =
    if (expected.contains("number") && !expected.contains("integer"))
      expected :+ "integer"
    else expected

  private val keywords: Seq[Keyword] = {
    // a keyword with one test, built from its own schema value `m`
    def one(name: String, applies: Seq[String], scalar: Boolean)(
        test: (JsonNode, Sub) => View => Column, message: JsonNode => String) =
      Keyword(name, applies, scalar)((n, sub) =>
        Seq(OnValue(test(n.get(name), sub), _ => lit(message(n.get(name))))))
    def numeric(name: String, fails: (Column, Double) => Column,
        message: String) =
      one(name, Numbers, scalar = true)(
        (m, _) => v => fails(v.num, m.asDouble()),
        m => s"$message ${m.asText()}")
    def sizeBound(name: String, applies: Seq[String], scalar: Boolean,
        of: View => Column, fails: (Column, Int) => Column,
        message: Int => String) =
      one(name, applies, scalar)(
        (m, _) => v => fails(of(v), m.asInt()), m => message(m.asInt()))
    def branches(name: String, fails: Seq[Column] => Column,
        message: String) =
      one(name, AnyType, scalar = false)((bs, sub) => v =>
        fails(bs.elements().asScala.toSeq.map(sub(_, v.value))), _ => message)
    def strings(n: JsonNode) = n.elements().asScala.map(_.asText()).toSeq

    Seq(
      Keyword("type", AnyType, scalar = true) { (n, _) =>
        val expected = typeNames(n.get("type"))
        val shown =
          if (expected.size == 1) expected.head
          else expected.mkString("[", ", ", "]")
        Seq(OnValue(v => !v.jsonType.isin(accepted(expected): _*),
          v => format_string("%s found, " + shown + " expected", v.jsonType)))
      },
      // a JSON null reads as a NULL string: not a member, so it fails
      one("enum", AnyType, scalar = true)((m, _) => v =>
        !coalesce(v.str.isin(strings(m): _*), lit(false)), m =>
        "does not have a value in the enumeration " +
          strings(m).mkString("[", ", ", "]")),
      one("const", AnyType, scalar = true)((m, _) => v =>
        !(v.str <=> m.asText()),
        m => s"must be the constant value '${m.asText()}'"),
      one("pattern", Strings, scalar = true)((m, _) => v =>
        !v.str.rlike(m.asText()),
        m => s"does not match the regex pattern ${m.asText()}"),
      Keyword("format", Strings, scalar = true) { (n, _) =>
        val fmt = n.get("format").asText()
        Formats.regexes.get(fmt).toSeq.map(re =>
          OnValue(v => !v.str.rlike(re),
            _ => lit(s"does not match the $fmt pattern")))
      },
      numeric("minimum", _ < _, "must have a minimum value of"),
      numeric("maximum", _ > _, "must have a maximum value of"),
      numeric("exclusiveMinimum", _ <= _,
        "must have an exclusive minimum value of"),
      numeric("exclusiveMaximum", _ >= _,
        "must have an exclusive maximum value of"),
      numeric("multipleOf", (d, m) => !(d % m === 0.0),
        "must be multiple of"),
      sizeBound("minLength", Strings, scalar = true, v => length(v.str),
        _ < _, m => s"must be at least $m characters long"),
      sizeBound("maxLength", Strings, scalar = true, v => length(v.str),
        _ > _, m => s"must be at most $m characters long"),
      Keyword("required", Objects, scalar = false) { (n, _) =>
        strings(n.get("required")).map(name => OnValue(_.field(name).isNull,
          _ => lit(s"required property '$name' not found")))
      },
      sizeBound("minItems", Arrays, scalar = false, v => size(v.arr), _ < _,
        m => s"must have at least $m items"),
      sizeBound("maxItems", Arrays, scalar = false, v => size(v.arr), _ > _,
        m => s"must have at most $m items"),
      Keyword("uniqueItems", Arrays, scalar = false) { (n, _) =>
        if (!n.get("uniqueItems").asBoolean()) Nil
        else Seq(OnValue(v =>
          size(array_distinct(transform(v.arr, e => to_json(e)))) =!=
            size(v.arr),
          _ => lit("must have only unique items in the array")))
      },
      one("contains", Arrays, scalar = false)((s, sub) => v =>
        !coalesce(exists(v.arr, sub(s, _)), lit(false)), _ =>
        "does not contain an element that matches the contains schema"),
      branches("oneOf", _.map(_.cast("int")).reduce(_ + _) =!= 1,
        "must be valid against exactly one schema"),
      branches("anyOf", bs => !bs.reduce(_ || _),
        "must be valid against at least one schema"),
      branches("allOf", bs => !bs.reduce(_ && _),
        "must be valid against all schemas"),
      one("not", AnyType, scalar = false)((s, sub) => v => sub(s, v.value),
        _ => "must not be valid against the schema"),
      Keyword("additionalProperties", Objects, scalar = false) { (n, sub) =>
        val ap = n.get("additionalProperties")
        val declared =
          if (!n.has("properties")) Seq.empty
          else n.get("properties").fieldNames().asScala.toSeq
        def isExtra(k: Column) =
          if (declared.isEmpty) lit(true) else !k.isin(declared: _*)
        def notAllowed(why: String)(k: Column) =
          concat(lit("property '"), k, lit(s"' $why"))
        if (ap.isBoolean && ap.asBoolean()) Nil
        else if (ap.isBoolean)
          Seq(OnKeys(v => filter(map_keys(v.obj), isExtra(_)),
            notAllowed("is not allowed")))
        else
          Seq(OnKeys(v => map_keys(map_filter(v.obj,
              (k, mv) => isExtra(k) && !sub(ap, mv))),
            notAllowed("does not match the additional-properties schema")))
      })
  }

  private val scalarKeywords: Set[String] =
    keywords.filter(_.scalar).map(_.name).toSet

  /** Whether test `t` of keyword `k` fails on the value `v` reads: the
    * keyword applies to the value's type and its test fails. NULL when
    * the test cannot be evaluated; every placement counts that as not
    * failing.
    */
  private def failing(k: Keyword, t: Test, v: View): Column =
    k.appliesTo(v).fold(t.fails(v))(_ && t.fails(v))

  /** The assertions `node` makes, in table order; `sub` checks its
    * subschemas.
    */
  private def assertions(node: JsonNode, sub: Sub): Seq[(Keyword, Test)] =
    keywords.filter(k => node.has(k.name))
      .flatMap(k => k.tests(node, sub).map(k -> _))

  /** Whether test `t` of keyword `k` fails at a path; never NULL. A NULL
    * value is an absent key: nothing fires on it.
    */
  private def failsAt(k: Keyword, t: Test, v: View): Column =
    coalesce(v.value.isNotNull && failing(k, t, v), lit(false))

  /** The value assertions of `node`, a schema with no subschema, at the
    * path `v` reads, as (keyword, fails, message): the span rules' form
    * ([[RuleCompiler.violations]]).
    */
  private[rules] def atPath(node: JsonNode, v: View) =
    assertions(node, (s, _) => throw new IllegalArgumentException(
      s"a subschema needs a compiled schema: $s"))
      .collect { case (k, t: OnValue) =>
        (k.name, failsAt(k, t, v), t.message(v)) }

  final case class CompiledSchema(checks: Seq[Check]) {

    /** Every (path, mode) a check reads, in first-read order: the
      * extractions `withViolations` stages. Recorded at construction, so
      * an unresolvable `$ref` in a subschema fails the compile.
      */
    val exts: Seq[Ext] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Ext]
      checks.foreach(_.emit(new View(e => { seen += e; lit(null) })))
      seen.toSeq
    }

    private def violationsOf(root: View): Column =
      checks.map(c => coalesce(c.emit(root), emptyViol))
        .reduceOption(concat(_, _)).getOrElse(emptyViol)

    /** Violations array for a VARIANT document column (single-Column
      * path; each check extracts its own paths — fine for few checks,
      * use [[withViolations]] for wide schemas).
      */
    def violations(v: Column): Column = violationsOf(View.of(v))

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
      val extIndex = exts.zipWithIndex.toMap
      // stage 3: all checks over the extracted columns, in one plain
      // select. The staged aliases keep each extraction evaluated once
      // (CollapseProject does not re-inline multi-referenced non-cheap
      // aliases — PlanSpec "schema-compiler plan: one parse ..."); very
      // wide schemas could still push the fused codegen method past
      // HotSpot's JIT limit (BENCH.md code-cache note) — if that
      // surfaces, split stage 3 into chunked selects.
      s2.select(keep.map(col) :+ violationsOf(
        new View(e => col(s"__x${extIndex(e)}"))).as(out): _*)
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

    def resolveRef(node: JsonNode): JsonNode = {
      val ref = node.get("$ref").asText()
      // non-local refs surface as a schema-load failure, which the CLI
      // turns into a per-doc error row (error-as-data, like the
      // reference's schema-load catch) rather than a driver crash
      if (!ref.startsWith("#/"))
        throw new UnsupportedRefException(
          s"Reference $ref cannot be resolved: only intra-document " +
            "'#/' refs are supported")
      fragment(root, ref.stripPrefix("#/"), ref)
    }

    /** `node` with its `$ref` resolved, and the `$ref` depth below it. */
    def deref(node: JsonNode, refDepth: Int): (JsonNode, Int) =
      if (node.has("$ref")) (resolveRef(node), refDepth + 1)
      else (node, refDepth)

    // ---- subschema satisfaction predicate (for oneOf/not/items/
    // additionalProperties — anywhere a whole subschema applies to one
    // variant VALUE rather than a fixed path): the conjunction of the
    // node's assertions plus its recursion into properties and items
    def validPred(node0: JsonNode, v: Column, refDepth: Int): Column = {
      if (refDepth > maxRefDepth) return lit(true) // bounded unrolling
      val (node, rd) = deref(node0, refDepth)
      val value = View.of(v)
      val holds = assertions(node, validPred(_, _, rd)).map { case (k, t) =>
        !coalesce(failing(k, t, value), lit(false))
      } ++ Option(node.get("properties")).toSeq
        .flatMap(_.fields().asScala).map { e =>
          val child = value.field(e.getKey)
          child.isNull || validPred(e.getValue, child, rd)
        } ++ Option(node.get("items")).map(items =>
          value.jsonType =!= "array" ||
            coalesce(forall(value.arr, validPred(items, _, rd)), lit(true)))
      holds.reduceOption(_ && _).getOrElse(lit(true))
    }

    // ---- the walk: each assertion at each path, then per element ------
    def walk(node0: JsonNode, segs: Seq[String], refDepth: Int): Unit = {
      if (refDepth > maxRefDepth) return // bounded unrolling
      val (node, rd) = deref(node0, refDepth)
      val ptr = if (segs.isEmpty) "/" else pointer(segs)
      val loc = idPrefix + "#/" +
        segs.flatMap(s => Seq("properties", s)).mkString("/")
      def keyPtr(k: Column) =
        concat(lit(if (segs.isEmpty) "/" else ptr + "/"), k)

      assertions(node, validPred(_, _, rd)).foreach { case (k, t) =>
        val at = s"$loc/${k.name}"
        checks += Check(root => {
          val v = root.at(segs)
          t match {
            case OnValue(_, message) =>
              when(failsAt(k, t, v),
                array(viol(lit(ptr), k.name, message(v), at)))
                .otherwise(emptyViol)
            case OnKeys(keys, message) =>
              val present = v.value.isNotNull
              when(k.appliesTo(v).fold(present)(present && _),
                transform(keys(v),
                  key => viol(keyPtr(key), k.name, message(key), at)))
          }
        })
      }
      if (node.has("items")) {
        val (item, _) = deref(node.get("items"), rd)
        def perElement(keyword: String, at: String, fails: View => Column,
            message: View => Column): Unit =
          checks += Check(root =>
            coalesce(filter(transform(root.at(segs).arr, (e, i) =>
              when(coalesce(fails(View.of(e)), lit(false)),
                viol(concat(lit(ptr + "/"), i.cast("string")), keyword,
                  message(View.of(e)), at))),
              x => x.isNotNull), emptyViol))
        assertions(item, validPred(_, _, rd)).collect {
          case (k, t: OnValue) if k.scalar =>
            perElement(k.name, s"$loc/items/${k.name}", failing(k, t, _),
              t.message)
        }
        // an item keyword outside the scalar set: one whole-subschema
        // violation per failing element
        if (!item.fieldNames().asScala.forall(scalarKeywords))
          perElement("items", s"$loc/items",
            e => !validPred(item, e.value, rd),
            _ => lit("does not match the items schema"))
      }
      if (node.has("properties")) {
        node.get("properties").fields().asScala.foreach { e =>
          walk(e.getValue, segs :+ e.getKey, rd)
        }
      }
    }

    walk(root, Seq.empty, 0)
    CompiledSchema(checks.result())
  }
}
