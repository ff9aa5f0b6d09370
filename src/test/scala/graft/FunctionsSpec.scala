package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.checks.SpanInvariant
import graft.functions.{NumStatsAgg, TDigestQuantile}
import graft.operators.Skew
import graft.rules._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("NumStats typed Aggregator: one-pass count/nulls/min/max/mean/var") {
    val data: Seq[java.lang.Double] =
      Seq[java.lang.Double](1.0, 2.0, null, 5.0, 4.0)
    val numStats = udaf(new NumStatsAgg)
    val stats = data.toDS().select(numStats(col("value")).as("s"))
      .select("s.*").as[graft.functions.NumStats].head()
    assert(stats.count === 5)
    assert(stats.nulls === 1)
    assert(stats.nullRate === 0.2)
    assert(stats.min === 1.0 && stats.max === 5.0)
    assert(math.abs(stats.mean - 3.0) < 1e-12)
    assert(math.abs(stats.variance - 10.0 / 3.0) < 1e-12) // sample var
  }

  test("NumStats merge across partitions equals single-partition result") {
    val vals = (1 to 10000).map(i => (i % 997).toDouble)
    val numStats = udaf(new NumStatsAgg)
    val one = vals.toDS().coalesce(1)
      .select(numStats(col("value").cast("double")).as("s"))
      .select("s.*").as[graft.functions.NumStats].head()
    val many = vals.toDS().repartition(13)
      .select(numStats(col("value").cast("double")).as("s"))
      .select("s.*").as[graft.functions.NumStats].head()
    assert(one.count === many.count && one.nulls === many.nulls)
    assert(math.abs(one.mean - many.mean) < 1e-9)
    assert(math.abs(one.variance - many.variance) < 1e-6)
  }

  test("t-digest quantiles within tolerance of exact percentiles") {
    // deterministic skewed-ish distribution
    val vals = (0 until 100000).map(i => (i.toLong * i % 100003).toDouble)
    val df = vals.toDF("v").repartition(16)
    val row = df.agg(
      TDigestQuantile.tdigestQuantile(col("v"), 0.5).as("p50"),
      TDigestQuantile.tdigestQuantile(col("v"), 0.95).as("p95"),
      TDigestQuantile.tdigestQuantile(col("v"), 0.99).as("p99"),
      expr("percentile(v, 0.5)").as("e50"),
      expr("percentile(v, 0.95)").as("e95"),
      expr("percentile(v, 0.99)").as("e99")).head()
    val sorted = vals.sorted
    def rankError(est: Double, q: Double): Double = {
      val rank = sorted.search(est) match {
        case scala.collection.Searching.Found(i) => i
        case scala.collection.Searching.InsertionPoint(i) => i
      }
      math.abs(rank.toDouble / sorted.length - q)
    }
    assert(rankError(row.getDouble(0), 0.5) < 0.02)
    assert(rankError(row.getDouble(1), 0.95) < 0.02)
    assert(rankError(row.getDouble(2), 0.99) < 0.02)
  }

  test("salted aggregation equals plain aggregation on skewed keys") {
    // hot key: 30% of rows share one media_ref
    val rows = (1 to 20000).map { i =>
      if (i % 10 < 3) "mHOT" else s"m${i % 50}"
    }
    val df = rows.toDF("media_ref")
    val plain = df.groupBy("media_ref").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(df, "media_ref", 8)
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("codegen MinHash/SimHash kernels ≡ HOF spec trees on real docs") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.001"
    val sh = Dedup.corpusWords(spark, dir)
      .select(col("doc_id"), Dedup.shinglesOf(col("w")).as("sh"),
        col("w"))
    // Shingles: kernel == array_distinct(transform(...)) including
    // keep-first ordering and the short-doc empty array
    val sg = sh.select(col("sh").as("fast"),
      Dedup.shinglesOfHof(col("w")).as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    assert(sg === 0)
    // MinHash: all 96 minima of the fully fused text→signature kernel
    // (in-place byte split, windows hashed as contiguous text slices)
    // must equal the 96 interpreted array_min(transform(...)) folds over
    // the distinct shingles of split(text, " "), hash for hash; `w` is
    // staged in its own projection so the HOF form splits once per row
    val tw = Dedup.corpus(spark, dir)
      .select(col("text"), split(col("text"), " ").as("w"))
    val mt = tw.select(
      graft.functions.TextHash.minhashText(col("text"), 3,
        Dedup.NumHashes).as("fast"),
      Dedup.minhashSignatureHof(Dedup.shinglesOfHof(col("w"))).as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    assert(mt === 0)
    // split's limit -1 edges: empty text, consecutive and trailing
    // spaces, short docs (null minima, hence <=>), multi-byte words
    val edges = Seq("", " ", "  ", "a", "a b", "a b c", "a  b  c",
      " a b c ", "a b c d e", "ab  cd", "µ héllo wörld µ x")
      .toDF("text")
      .select(col("text"), split(col("text"), " ").as("w"))
    val me = edges.select(
      graft.functions.TextHash.minhashText(col("text"), 3,
        Dedup.NumHashes).as("fast"),
      Dedup.minhashSignatureHof(Dedup.shinglesOfHof(col("w"))).as("spec"))
      .filter(not(col("fast") <=> col("spec"))).count()
    assert(me === 0)
    // SimHash: kernel == fold-then-collapse, including the md5-top-60-bit
    // token hash the DuckDB oracle mirrors
    val sv = sh.select(
      graft.functions.TextHash.simhashValue(col("w"), Dedup.SimHashBits)
        .as("fast"),
      Dedup.simhashFromVotes(Dedup.simhashVotes(col("w"))).as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    assert(sv === 0)
  }

  test("codegen token-count kernels ≡ regex forms on real docs and " +
      "adversarial strings") {
    import graft.operators.TextOps
    // real corpus text (incl. the PII-injected variants with @ / URLs)
    val dir = "/root/testdata/sf0.01"
    val texts = Tables.documents(spark, dir).select(col("text"))
      .unionAll(TextOps.piiCorpus(spark, dir).select(col("text")))
    val corpusMismatch = texts.select(
        graft.functions.TokenCount.subwordCount(col("text")).as("k1"),
        TextOps.subwordCountRegex(col("text")).as("r1"),
        graft.functions.TokenCount.asciiRunCount(col("text")).as("k2"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"),
          lit(0))).as("r2"))
      .filter(col("k1") =!= col("r1") || col("k2") =!= col("r2")).count()
    assert(corpusMismatch === 0)
    // edge cases: overlapping merges, leftmost-first alternation order,
    // digits, uppercase/punctuation ([^ ]), multi-byte code points
    // (2/3/4-byte UTF-8), empty and all-space strings
    val edges = Seq("", " ", "   ", "tionment", "theers", "athe", "ana",
      "este", "inging", "erst", "th", "aand", "xyz123abc",
      "Hello, Wörld! ß€𝄞", "a b  c",
      "atatat", "esters", "the end", "1a2b", "REa").toDF("text")
    val edgeMismatch = edges.select(
        graft.functions.TokenCount.subwordCount(col("text")).as("k1"),
        TextOps.subwordCountRegex(col("text")).as("r1"),
        graft.functions.TokenCount.asciiRunCount(col("text")).as("k2"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"),
          lit(0))).as("r2"))
      .filter(col("k1") =!= col("r1") || col("k2") =!= col("r2")).count()
    assert(edgeMismatch === 0)
  }

  test("codegen cosine kernel ≡ HOF fold tree, bit for bit") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    // float×float (raw embeddings) and double×double (dup corpus) pairs;
    // equality is EXACT (===), not approximate — the kernel's
    // accumulators advance in the same element order as the folds
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val ff = e.as("a").crossJoin(e.as("b").limit(5))
      .select(Similarity.cosine(col("a.embedding"), col("b.embedding"))
        .as("fast"),
        Similarity.cosineHof(col("a.embedding"), col("b.embedding"))
          .as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    assert(ff === 0)
    val d = Similarity.dupCorpus(spark, dir).limit(40)
    val dd = d.as("a").crossJoin(d.as("b").limit(5))
      .select(Similarity.cosine(col("a.e"), col("b.e")).as("fast"),
        Similarity.cosineHof(col("a.e"), col("b.e")).as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    assert(dd === 0)
  }

  test("codegen SignLsh kernel ≡ HOF signature tree on real embeddings") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    // float input (knn tables 0..7) and double input (near-dup tables
    // 100..115, wider 16-bit signatures) both agree bit-for-bit with the
    // per-bit HOF fold the Scaladoc declares as the spec form
    val knn = Tables.embeddings(spark, dir).select(
      Similarity.signatures(col("embedding")).as("fast"),
      array((0 until Similarity.NumTables).map(t =>
        Similarity.signatureHof(col("embedding"), t)): _*).as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    assert(knn === 0)
    val dup = Similarity.dupCorpus(spark, dir).select(
      Similarity.dupSignatures(col("e")).as("fast"),
      array((0 until Similarity.DupTables).map(t =>
        Similarity.signatureHof(col("e"), Similarity.DupTableBase + t,
          Similarity.DupBits)): _*).as("spec"))
      .filter(col("fast") =!= col("spec")).count()
    assert(dup === 0)
  }

  /** One doc whose single span has null text and media_ref, and its
    * reference with one extra trailing span: exactly 1 mismatch.
    */
  private def lengthMismatchPair(): (DataFrame, DataFrame) = {
    val a = Seq(graft.model.Doc("x",
      Seq(graft.model.Span("text", null, null, 0)), "p"))
    val b = Seq(graft.model.Doc("x",
      Seq(graft.model.Span("text", null, null, 0),
        graft.model.Span("image", null, "m1", 1)), "p"))
    (spark.createDataFrame(a), spark.createDataFrame(b))
  }

  /** `(doc_id, spans, ref_spans)` rows of span-pair shapes `Interleaved`
    * never makes, for the kernel-vs-HOF tests: a length mismatch each way
    * (the extra docs-side span breaks benchRules), a null reference-side
    * element, and each of kind, text, media_ref and offset null on one
    * side. `docsNullElement` adds a null docs-side element, which violates
    * no rule in either form: a null span is no object, so not even an
    * unconditional `required` fires on it.
    *
    * Left out, because the HOF mismatch form and the kernel disagree on
    * them today (ROADMAP item 1): a null element on both sides, and a
    * null `spans` array.
    */
  private def spanEdgePairs(docsNullElement: Boolean): DataFrame = {
    val txt = Row("text", "hello", null, 0)
    val img = Row("image", null, "m1", 1)
    val bad = Row("video", " x", "q", 2000) // violates benchRules
    val rows = Seq(
      Row("len_docs", Seq(txt, img, bad), Seq(txt, img)),
      Row("len_ref", Seq(txt), Seq(txt, img)),
      Row("ref_null", Seq(txt, bad), Seq(txt, null)),
      Row("kind_docs", Seq(Row(null, "hello", null, 0)), Seq(txt)),
      Row("kind_ref", Seq(txt), Seq(Row(null, "hello", null, 0))),
      Row("text_docs", Seq(Row("text", null, null, 0)), Seq(txt)),
      Row("text_ref", Seq(txt), Seq(Row("text", null, null, 0))),
      Row("media_docs", Seq(Row("image", null, null, 1)), Seq(img)),
      Row("media_ref", Seq(img), Seq(Row("image", null, null, 1))),
      Row("offset_docs", Seq(Row("text", "hello", null, null)), Seq(txt)),
      Row("offset_ref", Seq(txt), Seq(Row("text", "hello", null, null)))) ++
      (if (docsNullElement) Seq(Row("docs_null", Seq(null, img),
        Seq(txt, img))) else Nil)
    val span = ArrayType(StructType(
      Seq("kind", "text", "media_ref").map(StructField(_, StringType)) :+
        StructField("offset", IntegerType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", StringType), StructField("spans", span),
      StructField("ref_spans", span))))
  }

  test("custom SpanMismatchIndices expression ≡ HOF violations column") {
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = graft.data.Interleaved.docs(documents)
    val ref = graft.data.Interleaved.referenceSpans(documents)
      .select(col("doc_id"), col("spans").as("ref_spans"))
    val joined = docs.join(ref, Seq("doc_id"))
      .select(col("doc_id"), col("spans"), col("ref_spans"))
      .unionByName(spanEdgePairs(docsNullElement = true))
    val both = joined.select(
      col("doc_id"),
      graft.checks.SpanInvariant
        .violationsColumn(col("spans"), col("ref_spans")).as("hof"),
      graft.checks.SpanInvariant
        .violationsColumnFast(col("spans"), col("ref_spans")).as("fast"))
    assert(both.filter(col("hof") =!= col("fast")).count() === 0)
    assert(both.filter(size(col("fast")) > 0).count() > 0)
    // length-mismatch and null-safety edge cases
    val (a, b) = lengthMismatchPair()
    val j2 = a.join(b.select(col("doc_id"), col("spans").as("ref_spans")),
      Seq("doc_id"))
    val r2 = j2.select(
      graft.checks.SpanInvariant
        .violationsColumnFast(col("spans"), col("ref_spans")).as("v"))
      .select(size(col("v"))).head().getInt(0)
    assert(r2 === 1) // only the missing trailing span mismatches
  }

  test("SpanVerdictCount self-join rule count ≡ HOF rule compiler count") {
    // a self-join has no mismatches, so the fused kernel over (spans,
    // spans) counts rule violations only
    def ruleCount(rules: Seq[SpanRule]): Column =
      graft.functions.SpanVerdictCount.spanVerdictCount(col("spans"),
        col("spans"), rules)
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = graft.data.Interleaved.docs(documents)
    for (rules <- Seq(RuleCompiler.docRules, RuleCompiler.benchRules)) {
      val both = docs.select(
        size(RuleCompiler.violations(col("spans"), rules)).as("hof"),
        ruleCount(rules).as("fast"))
      assert(both.filter(col("hof") =!= col("fast")).count() === 0)
      assert(both.filter(col("fast") > 0).count() > 0)
    }
    // adversarial field values for the SPECIALIZED pattern matchers
    // (FastPatterns) vs the HOF path's rlike (the same java.util.regex
    // engine the generic path uses): line terminators exercising $'s
    // before-final-terminator rule, ASCII symbols that are NOT \p{P}
    // ($ + < = > ^ ` | ~), multi-byte letters/punctuation, and the
    // digit/lowercase run boundaries
    val adversarial = Seq(
      "m123", "m", "m1x", "m12\n", "m12\r\n", "m12\n\n", "mm", "M1",
      "abc", "a", "a1b2", "ab-", "ab\n", "A", "1abc", "",
      "x5", "x5\n", "5", "\n", "\r", " ", "  x", "\tx", "x ",
      "word,", "a$b", "a+b", "a~b", "a|b", "a=b", "wörd", "héllo",
      "a ", "a ", "a", " ", "†punct", "€sym",
      "ab\ncd", "m1 ", "m\n1")
    import spark.implicits._
    val spanDocs = adversarial.zipWithIndex.map { case (v, i) =>
      (s"p$i", Seq((Option("text"), Option(v), Option(v), Option(i))))
    }.toDF("doc_id", "raw")
      .select(col("doc_id"), transform(col("raw"), r => struct(
        r.getField("_1").as("kind"), r.getField("_2").as("text"),
        r.getField("_3").as("media_ref"),
        r.getField("_4").as("offset"))).as("spans"))
    val adv = spanDocs.select(
      size(RuleCompiler.violations(col("spans"),
        RuleCompiler.benchRules)).as("hof"),
      ruleCount(RuleCompiler.benchRules).as("fast"))
    assert(adv.filter(col("hof") =!= col("fast")).count() === 0)
    // a RangeRule with both bounds is labelled by the bound it breaks
    val range = Seq(RangeRule("offset", Some(0), Some(7)))
    // min > max would count 2 in the HOF form and 1 in the kernel
    intercept[IllegalArgumentException](RangeRule("offset", Some(7), Some(0)))
    val offsets = Seq(("lo", -1), ("hi", 99)).toDF("doc_id", "o")
      .select(col("doc_id"), array(struct(lit("text").as("kind"),
        lit("x").as("text"), lit(null).cast("string").as("media_ref"),
        col("o").as("offset"))).as("spans"))
    val labels = offsets.select(col("doc_id"),
        explode(RuleCompiler.violations(col("spans"), range)).as("v"))
      .select("doc_id", "v.keyword", "v.message")
      .as[(String, String, String)].collect().toSet
    assert(labels === Set(
      ("lo", "minimum", "must have a minimum value of 0"),
      ("hi", "maximum", "must have a maximum value of 7")))
    val rangeCounts = offsets.select(
      size(RuleCompiler.violations(col("spans"), range)).as("hof"),
      ruleCount(range).as("fast")).as[(Int, Int)].collect().toSeq
    assert(rangeCounts === Seq((1, 1), (1, 1)))
  }

  test("fused SpanVerdictCount ≡ HOF mismatches + HOF rule violations") {
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = graft.data.Interleaved.docs(documents)
    val ref = graft.data.Interleaved.referenceSpans(documents)
    val joined = docs.join(
      ref.select(col("doc_id"), col("spans").as("ref_spans")),
      Seq("doc_id"))
    def fusedVsHof(pairs: DataFrame, rules: Seq[SpanRule]): DataFrame =
      pairs.select(
        graft.functions.SpanVerdictCount.spanVerdictCount(col("spans"),
          col("ref_spans"), rules).as("fused"),
        (size(SpanInvariant.violationsColumn(col("spans"),
          col("ref_spans"))) +
          size(RuleCompiler.violations(col("spans"), rules))).as("hof"))
    val both = fusedVsHof(
      joined.select(col("doc_id"), col("spans"), col("ref_spans"))
        .unionByName(spanEdgePairs(docsNullElement = false)),
      RuleCompiler.benchRules)
    assert(both.filter(col("fused") =!= col("hof")).count() === 0)
    assert(both.filter(col("fused") > 0).count() > 0)
    for (rules <- Seq(Nil, RuleCompiler.docRules, RuleCompiler.benchRules)) {
      val edges = fusedVsHof(spanEdgePairs(docsNullElement = true), rules)
      assert(edges.filter(col("fused") =!= col("hof")).count() === 0)
    }
    // SpanInvariant.verdicts runs the kernel with no rules: its
    // n_violations is the HOF mismatch count, doc for doc
    def verdictCounts(d: DataFrame, r: DataFrame): Seq[(String, Int)] =
      SpanInvariant.verdicts(d, r).select(col("doc_id"), col("n_violations"))
        .as[(String, Int)].collect().toSeq.sorted
    def hofCounts(d: DataFrame, r: DataFrame): Seq[(String, Int)] =
      d.join(r.select(col("doc_id"), col("spans").as("ref_spans")),
          Seq("doc_id"))
        .select(col("doc_id"), size(SpanInvariant.violationsColumn(
          col("spans"), col("ref_spans"))))
        .as[(String, Int)].collect().toSeq.sorted
    val fixture = verdictCounts(docs, ref)
    assert(fixture === hofCounts(docs, ref))
    assert(fixture.count(_._2 > 0) > 0)
    val (a, b) = lengthMismatchPair()
    assert(verdictCounts(a, b) === Seq(("x", 1)))
    assert(hofCounts(a, b) === Seq(("x", 1)))
  }
}
