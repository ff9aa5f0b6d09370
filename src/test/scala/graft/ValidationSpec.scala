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
    def invalidDocs(d: DataFrame) =
      Verdicts.summary(d).select("invalid_docs").as[Long].head()
    assert(invalidDocs(SpanInvariant.verdicts(docs, ref)) === 1L)
    assert(invalidDocs(SpanInvariant.verdicts(ref, ref)) === 0L)
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

  // --- the co-bucketed merge (ZipSortedBuckets) ≡ the join ----------------
  private lazy val mergeDir =
    java.nio.file.Files.createTempDirectory("graft-merge")

  private def verdictRows(df: DataFrame): Seq[String] =
    df.select("doc_id", "part", "n_violations").collect()
      .map(_.toString).toSeq.sorted

  test("bucket merge ≡ the join over an edge corpus (fullVerdicts, " +
      "verdicts), NULLs included") {
    val buckets = 8
    val bucketOf = pmod(hash(col("doc_id")), lit(buckets))
    val cols = Seq("doc_id", "spans", "part").map(col)
    val bad = cleanSpans.updated(0, Span("text", "junk", null, 0))
    val edgeDocs = docsDf(Seq(
      Doc("dup", cleanSpans, "e"), Doc("dup", bad, "e2"),
      Doc(null, cleanSpans, "e"),
      Doc("null-doc-spans", null, "e"), Doc("null-ref-spans", cleanSpans, "e"),
      Doc("len", cleanSpans.take(2), "e")) ++
      (0 until 8).map(i => Doc(s"doc-only-$i", cleanSpans, "e")): _*)
    val edgeRef = docsDf(Seq(
      Doc("dup", cleanSpans, "e"), Doc("dup", cleanSpans.take(1), "e"),
      Doc(null, cleanSpans, "e"),
      Doc("null-doc-spans", cleanSpans, "e"), Doc("null-ref-spans", null, "e"),
      Doc("len", cleanSpans, "e")) ++
      (0 until 8).map(i => Doc(s"ref-only-$i", cleanSpans, "e")): _*)
    // a documents table in the fixture layout; ids 1-399 hold every
    // injection class of Interleaved (idnum % 97 in {3, 10, 20, 30})
    val documents = spark.range(1, 400).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta").as("text"),
      concat(lit("s"), (col("id") % 3).cast("string")).as("source"))
    // two buckets that hold none of the paired edge keys: `noRef` keeps
    // docs but loses its reference rows, `noDocs` the reverse
    val paired = Seq(Some("dup"), None, Some("null-doc-spans"),
      Some("null-ref-spans"), Some("len")).toDF("doc_id")
      .select(bucketOf).as[Int].collect().toSet
    val Seq(noRef, noDocs) = (0 until buckets).filterNot(paired).take(2)
    val docs = bucketedTable(edgeDocs.select(cols: _*)
      .unionByName(Interleaved.docs(documents).select(cols: _*))
      .filter(bucketOf =!= noDocs), "vs_merge_docs", buckets, mergeDir)
    val ref = bucketedTable(edgeRef.select(cols: _*)
      .unionByName(Interleaved.referenceSpans(documents).select(cols: _*))
      .filter(bucketOf =!= noRef), "vs_merge_ref", buckets, mergeDir)
    def bucketIds(table: String): Set[Int] =
      java.nio.file.Files.list(mergeDir.resolve(table)).toArray.toSeq
        .flatMap(f => org.apache.spark.sql.execution.datasources
          .BucketingUtils.getBucketId(f.toString.split('/').last)).toSet
    assert(bucketIds("vs_merge_docs").contains(noRef) &&
      !bucketIds("vs_merge_ref").contains(noRef))
    assert(bucketIds("vs_merge_ref").contains(noDocs) &&
      !bucketIds("vs_merge_docs").contains(noDocs))
    // the same files read unbucketed take today's join
    val plainDocs = spark.read.parquet(mergeDir.resolve("vs_merge_docs")
      .toString)
    val plainRef = spark.read.parquet(mergeDir.resolve("vs_merge_ref")
      .toString)
    val checks = Seq[(String, (DataFrame, DataFrame) => DataFrame)](
      "fullVerdicts" -> Validation.fullVerdicts,
      "verdicts" -> SpanInvariant.verdicts)
    for ((name, check) <- checks) {
      val merged = check(docs, ref)
      val joined = check(plainDocs, plainRef)
      val mergedPlan = merged.queryExecution.executedPlan.toString
      assert(mergedPlan.contains("ZipSortedBuckets"), mergedPlan)
      assert(!joined.queryExecution.executedPlan.toString
        .contains("ZipSortedBuckets"))
      val rows = verdictRows(merged)
      assert(rows === verdictRows(joined), name)
      // the corpus reaches every edge: a 2x2 cross product, NULL counts,
      // no null key, a length mismatch, the injected classes
      assert(rows.count(_.startsWith("[dup,")) === 4, name)
      assert(rows.filter(_.startsWith("[null-")).forall(_.endsWith(",null]")))
      assert(rows.count(_.startsWith("[null-")) === 2, name)
      assert(!rows.exists(_.startsWith("[null,")), name)
      assert(!rows.exists(r => r.contains("-only-")), name)
      assert(rows.exists(_.startsWith("[len,e,")) &&
        !rows.contains("[len,e,0]"), name)
      assert(merged.filter(col("doc_id").rlike("^d[0-9]+$") &&
        col("n_violations") > 0).count() > 0, name)
    }
  }

  test("bucket merge fails, naming table and bucket, when SORTED BY " +
      "files are not sorted") {
    val path = mergeDir.resolve("vs_unsorted")
    // written bucketed but NOT sorted, keys descending within each bucket
    docsDf((0 until 40).reverse.map(i => Doc(f"k$i%02d", cleanSpans, "p")): _*)
      .coalesce(1).write.bucketBy(4, "doc_id").option("path", path.toString)
      .saveAsTable("vs_unsorted_w")
    Seq("vs_unsorted_docs", "vs_unsorted_ref").foreach(t => spark.sql(
      s"""CREATE TABLE $t (doc_id STRING,
         |  spans ARRAY<STRUCT<kind: STRING, text: STRING,
         |    media_ref: STRING, offset: INT>>, part STRING)
         |USING PARQUET CLUSTERED BY (doc_id) SORTED BY (doc_id)
         |INTO 4 BUCKETS LOCATION '$path'""".stripMargin))
    val e = intercept[Exception](Validation.fullVerdicts(
      spark.table("vs_unsorted_docs"), spark.table("vs_unsorted_ref"))
      .collect())
    val msg = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("\n")
    assert(msg.contains("IllegalStateException"), msg)
    assert(msg.matches("(?s).*bucket \\d+ is not sorted by doc_id.*"), msg)
    assert(msg.contains(path.toString), msg)
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
