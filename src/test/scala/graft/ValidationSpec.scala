package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checks._
import graft.data.Interleaved
import graft.model.{Doc, Span}
import graft.rules._

/** Reference fixtures re-expressed as table rows (FIXTURES.md):
  * each (fixture, expected verdict, expected violation rows) triple from
  * the reference's parameterized matrix
  * (YamlSchemaValidatorTest.java:34-93) becomes a case over a tiny
  * synthesized Dataset.
  */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(docs: Doc*): DataFrame = spark.createDataFrame(docs)

  private val cleanSpans = Seq(
    Span("text", "hello", null, 0),
    Span("image", null, "m1", 1),
    Span("text", "world", null, 2))

  // --- valid.yaml: fully conforming doc passes, zero violations ----------
  test("valid doc yields zero rule violations (valid.yaml)") {
    val df = docsDf(Doc("a", cleanSpans, "p0"))
      .select(explode(RuleCompiler.violations(col("spans"),
        RuleCompiler.docRules)).as("v"))
    assert(df.count() === 0)
  }

  // --- multi3invalid.yaml: per-doc independent verdicts [T,F,T] ----------
  test("multi-doc verdict vector [T,F,T] (multi3invalid.yaml)") {
    val ref = docsDf(
      Doc("f-1", cleanSpans, "p"),
      Doc("f-2", cleanSpans, "p"),
      Doc("f-3", cleanSpans, "p"))
    val bad2 = cleanSpans.updated(1, Span("image", null, "m1", 99))
    val docs = docsDf(
      Doc("f-1", cleanSpans, "p"),
      Doc("f-2", bad2, "p"),
      Doc("f-3", cleanSpans, "p"))
    val v = SpanInvariant.verdicts(docs, ref)
      .orderBy("doc_id").select("doc_id", "valid")
      .as[(String, Boolean)].collect().toSeq
    assert(v === Seq(("f-1", true), ("f-2", false), ("f-3", true)))
    assert(!Verdicts.runValid(SpanInvariant.verdicts(docs, ref)))
    assert(Verdicts.runValid(SpanInvariant.verdicts(ref, ref)))
  }

  // --- span-count mismatch is a violation ---------------------------------
  test("missing trailing span vs reference is a violation") {
    val ref = docsDf(Doc("a", cleanSpans, "p"))
    val docs = docsDf(Doc("a", cleanSpans.take(2), "p"))
    val m = SpanInvariant.mismatches(docs, ref)
      .select(size(col("violations"))).as[Int].head()
    assert(m === 1)
  }

  // --- the shared doc↔reference join ---------------------------------------
  test("mismatches, verdicts and fullVerdicts emit the same doc_ids, " +
      "one row each") {
    val ref = docsDf(
      Doc("a", cleanSpans, "p"), Doc("b", cleanSpans, "p"),
      Doc("ref-only", cleanSpans, "p"))
    val docs = docsDf(
      Doc("a", cleanSpans, "p"), Doc("b", cleanSpans.take(2), "p"),
      Doc("doc-only", cleanSpans, "p"))
    def ids(df: DataFrame): Seq[String] =
      df.select("doc_id").as[String].collect().toSeq.sorted
    val m = ids(SpanInvariant.mismatches(docs, ref))
    assert(m.contains("a") && m.contains("b") && !m.contains("ref-only"), m)
    assert(m.distinct === m)
    assert(ids(SpanInvariant.verdicts(docs, ref)) === m)
    assert(ids(Validation.fullVerdicts(docs, ref)) === m)
  }

  // --- keyword checks ------------------------------------------------------
  test("enum, required, pattern, minimum, maximum keywords") {
    val spans = Seq(
      Span("video", "x", null, 0),      // enum violation on kind
      Span("image", null, null, 1),     // required media_ref missing
      Span("image", null, "zz!", -1),   // pattern + minimum violations
      Span("text", "ok", null, 99))     // maximum violation (offset > 7)
    val out = docsDf(Doc("a", spans, "p"))
      .select(explode(RuleCompiler.violations(col("spans"),
        RuleCompiler.docRules)).as("v"))
      .select(col("v.pointer"), col("v.keyword"))
      .as[(String, String)].collect().toSet
    assert(out === Set(
      ("/spans/0/kind", "enum"),
      ("/spans/1/media_ref", "required"),
      ("/spans/2/media_ref", "pattern"),
      ("/spans/2/offset", "minimum"),
      ("/spans/3/offset", "maximum")))
  }

  // --- uniqueness -----------------------------------------------------------
  test("uniqueness emits duplicated doc_ids with multiplicity") {
    val docs = docsDf(
      Doc("a", cleanSpans, "p"), Doc("b", cleanSpans, "p"),
      Doc("a", cleanSpans, "p"), Doc("a", cleanSpans, "p"))
    val d = Uniqueness.duplicates(docs)
      .as[(String, Long)].collect().toSet
    assert(d === Set(("a", 3L)))
  }

  // --- referential ----------------------------------------------------------
  test("referential check emits dangling media refs") {
    val docs = docsDf(
      Doc("a", Seq(Span("image", null, "m1", 0),
        Span("image", null, "mX", 1), Span("image", null, "mX", 2)), "p"))
    val catalog = Seq("m1", "m2").toDF("media_ref")
    val d = Referential.dangling(docs, catalog)
      .as[(String, String, Long)].collect().toSet
    assert(d === Set(("a", "mX", 2L)))
  }

  // --- per-partition conjunction (FilesOutput.java allMatch) ----------------
  test("per-partition verdict is the AND over doc verdicts") {
    val ref = docsDf(
      Doc("a", cleanSpans, "p1"), Doc("b", cleanSpans, "p1"),
      Doc("c", cleanSpans, "p2"))
    val bad = cleanSpans.updated(0, Span("text", "junk", null, 0))
    val docs = docsDf(
      Doc("a", cleanSpans, "p1"), Doc("b", bad, "p1"),
      Doc("c", cleanSpans, "p2"))
    val v = Verdicts.perPartition(SpanInvariant.verdicts(docs, ref))
      .select("part", "valid", "invalid_docs")
      .as[(String, Boolean, Long)].collect().toSet
    assert(v === Set(("p1", false, 1L), ("p2", true, 0L)))
  }

  // --- synthesized table sanity ---------------------------------------------
  test("interleaved synthesis: injected classes detected end-to-end") {
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = Interleaved.docs(documents)
    val ref = Interleaved.referenceSpans(documents)
    val verdicts = SpanInvariant.verdicts(docs, ref)
      .withColumn("idnum", regexp_replace(col("doc_id"), "^d", "")
        .cast("long"))
    val invalid = verdicts.filter(!col("valid"))
      .select((col("idnum") % 97).cast("int")).as[Int]
      .collect().toSet
    assert(invalid === Set(3, 10, 20, 30))
    val nInvalid = verdicts.filter(!col("valid")).count()
    val expected = documents.filter(
      col("doc_id") % 97 === 3 || col("doc_id") % 97 === 10 ||
      col("doc_id") % 97 === 20 || col("doc_id") % 97 === 30).count()
    assert(nInvalid === expected)
  }

  // --- column stats -----------------------------------------------------------
  test("column stats: count, nulls, null-rate, min/max") {
    val df = Seq(
      (Some(1), Some("a")), (None, Some("b")), (Some(5), None),
      (Some(5), Some("c"))).toDF("x", "y")
    val st = Stats.columnStats(df, Seq("x", "y"), exact = true)
      .orderBy("col_name")
      .select("col_name", "count", "nulls", "null_rate", "min_value",
        "max_value", "distinct_count")
      .as[(String, Long, Long, Double, String, String, Long)]
      .collect().toSeq
    assert(st === Seq(
      ("x", 4L, 1L, 0.25, "1", "5", 2L),
      ("y", 4L, 1L, 0.25, "a", "c", 3L)))
  }
}
