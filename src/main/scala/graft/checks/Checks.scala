package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table-scale check suites of the validation engine (north rule): span
  * invariant, uniqueness, referential, column stats, per-partition
  * verdicts. All emit Datasets; renderers live in [[graft.report]].
  */
object SpanInvariant {
  /** Per-row invariant: span-sequence equality (kind, text, media_ref,
    * order) against the reference table (BASELINE.json input_hint),
    * evaluated with arrays_zip + higher-order functions — one codegen'd
    * projection after a doc_id-keyed join.
    *
    * Scale: the join shuffles both sides on doc_id ([[withReference]]);
    * with both tables bucketed by doc_id the shuffle is elided. When both
    * are co-bucketed sorted file tables, [[verdicts]] and
    * [[Validation.fullVerdicts]] replace the join with the bucket merge
    * of [[ZipSortedBuckets]]: no hash map, no row copy of the scans, a
    * few tasks of many buckets each. No other shuffle exists in this
    * check.
    */
  /** The violations array for one doc given its spans and the reference
    * spans.
    */
  def violationsColumn(spans: Column, refSpans: Column): Column = {
    val zipped = arrays_zip(spans.as("spans"), refSpans.as("ref_spans"))
    filter(
      transform(zipped, (p, i) => {
        val a = p.getField("spans")
        val b = p.getField("ref_spans")
        val mismatch = !(a.getField("kind") <=> b.getField("kind") &&
          a.getField("text") <=> b.getField("text") &&
          a.getField("media_ref") <=> b.getField("media_ref") &&
          a.getField("offset") <=> b.getField("offset"))
        when(a.isNull || b.isNull || mismatch, spanSequenceViolation(i))
      }),
      v => v.isNotNull)
  }

  /** The `spanSequence` violation struct for span index `i`. */
  private def spanSequenceViolation(i: Column): Column = struct(
    concat(lit("/spans/"), i.cast("string")).as("pointer"),
    lit("spanSequence").as("keyword"),
    lit("span does not equal reference (kind, text, media_ref, order)")
      .as("message"),
    lit("#/properties/spans/spanSequence").as("schemaLocation"))

  /** Fast path: violations via the custom [[graft.functions
    * .SpanMismatchIndices]] expression — the fused kernel's compare over
    * the two span buffers instead of an interpreted HOF tree; violation
    * structs are built only for the (rare) mismatch indices. Equal to
    * [[violationsColumn]] except on a null element on both sides (no
    * violation here; FunctionsSpec pins the rest).
    */
  def violationsColumnFast(spans: Column, refSpans: Column): Column =
    transform(
      graft.functions.SpanMismatchIndices
        .spanMismatchIndices(spans, refSpans),
      i => spanSequenceViolation(i))

  /** The one doc↔reference join of every span check: an inner join on
    * doc_id that adds the reference's spans as `ref_spans`.
    *
    * The reference side is hinted `shuffle_hash`: it is the same
    * cardinality as the fact side, so the optimizer's broadcast choice
    * (driven by pre-explode size estimates) would build a huge broadcast,
    * and sort-merge pays an unneeded sort. With both tables bucketed by
    * doc_id the shuffle is elided (storage-partitioned join). The verdict
    * counts ([[verdictCounts]]) use this join only when the inputs are not
    * co-bucketed sorted file tables; for those the bucket merge of
    * [[ZipSortedBuckets]] replaces it. The `mismatches` detail path
    * always joins.
    */
  private[checks] def withReference(docs: DataFrame, ref: DataFrame)
      : DataFrame =
    docs.join(
        ref.select(col("doc_id"), col("spans").as("ref_spans"))
          .hint("shuffle_hash"),
        Seq("doc_id"), "inner")

  /** Each doc's violations array: the reference join, then one codegen'd
    * projection.
    */
  def mismatches(docs: DataFrame, ref: DataFrame): DataFrame =
    withReference(docs, ref).select(col("doc_id"), col("part"),
      violationsColumnFast(col("spans"), col("ref_spans")).as("violations"))

  /** `(doc_id, part, n_violations)` per doc with a reference row: the
    * fused [[graft.functions.SpanVerdictCount]] kernel's mismatches plus
    * `rules` violations, over the bucket merge when the inputs allow it
    * ([[ZipSortedBuckets]]), else over [[withReference]].
    */
  private[checks] def verdictCounts(docs: DataFrame, ref: DataFrame,
      rules: Seq[graft.rules.SpanRule]): DataFrame =
    ZipSortedBuckets.verdictCounts(docs, ref, rules).getOrElse(
      withReference(docs, ref).select(col("doc_id"), col("part"),
        graft.functions.SpanVerdictCount.spanVerdictCount(
          col("spans"), col("ref_spans"), rules).as("n_violations")))

  /** Per-doc verdicts: valid iff zero span mismatches. Counts via the
    * codegen'd [[graft.functions.SpanVerdictCount]] kernel with an empty
    * rule set — the violation structs the detail path builds (through
    * the interpreted transform over mismatch indices) exist here only to
    * be size()d, so the count kernel is the same number without
    * materializing any struct (FunctionsSpec pins `n_violations` ≡
    * `size(violationsColumn)`, the HOF spec form).
    */
  def verdicts(docs: DataFrame, ref: DataFrame): DataFrame =
    verdictCounts(docs, ref, Nil)
      .select(col("doc_id"), col("part"),
        (col("n_violations") === 0).as("valid"), col("n_violations"))
}

object Uniqueness {
  /** Duplicate doc_id detection — partial (map-side) count then shuffle on
    * doc_id; emits one row per duplicated key with its multiplicity
    * (SURVEY.md §2.6).
    */
  def duplicates(docs: DataFrame): DataFrame =
    docs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
}

object Referential {
  /** Dangling media_ref detection: explode spans, keep media refs, anti-join
    * the media catalog. The catalog is a small dimension → broadcast hash
    * join (no shuffle of the fact side). At 10^12 rows with a huge catalog
    * this degrades gracefully to a shuffled hash join; hot keys are handled
    * by AQE skew splitting (enabled in [[graft.Sessions]]).
    */
  def dangling(docs: DataFrame, catalog: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.media_ref").as("media_ref"))
      .filter(col("media_ref").isNotNull)
      .join(broadcast(catalog.select("media_ref")), Seq("media_ref"),
        "left_anti")
      .groupBy(col("doc_id"), col("media_ref"))
      .agg(count(lit(1)).as("cnt"))
}

object Validation {
  /** The flagship constraint-eval pipeline: span-sequence invariant
    * (custom expression) + the full compiled keyword rule set, folded to
    * per-partition verdicts in one pass — this is the job the headline
    * docs/sec metric times.
    */
  def fullVerdicts(docs: DataFrame, ref: DataFrame): DataFrame =
    // fused kernel: mismatch + rule counts in ONE pass over the span
    // buffers (≡ size(SpanInvariant.violationsColumn) +
    // size(RuleCompiler.violations), FunctionsSpec)
    SpanInvariant.verdictCounts(docs, ref,
        graft.rules.RuleCompiler.benchRules)
      .withColumn("valid", col("n_violations") === 0)

  def perPartition(docs: DataFrame, ref: DataFrame): DataFrame =
    Verdicts.perPartition(fullVerdicts(docs, ref))
}

object Verdicts {
  /** Per-partition conjunction (reference A1, FilesOutput.java:47-50
    * allMatch) plus counts (A2/A3) in one aggregation pass.
    */
  def perPartition(docVerdicts: DataFrame): DataFrame =
    docVerdicts.groupBy(col("part")).agg(
      count(lit(1)).as("docs"),
      count_if(!col("valid")).as("invalid_docs"),
      sum(col("n_violations")).cast("long").as("violations"))
      .withColumn("valid", col("invalid_docs") === 0) // AND-conjunction
      .select("part", "valid", "docs", "invalid_docs", "violations")

  /** Run-level summary counts (reference A3, FilesOutputToLlm.java:41-68):
    * docs / valid / invalid / total violations in one aggregation.
    */
  def summary(docVerdicts: DataFrame): DataFrame =
    docVerdicts.agg(
      count(lit(1)).as("docs"),
      count_if(col("valid")).as("valid_docs"),
      count_if(!col("valid")).as("invalid_docs"),
      sum(col("n_violations")).cast("long").as("violations"))

  /** Run verdict: exit-code semantics (K3) — true iff every doc valid. */
  def runValid(docVerdicts: DataFrame): Boolean =
    docVerdicts.agg(count_if(!col("valid"))).head.getLong(0) == 0L
}

object Stats {
  /** One-pass exact per-column profile (count, nulls, null-rate, min, max,
    * distinct) in long format. Single aggregation → single shuffle of one
    * row per partial; at 10^12 rows this is the cheapest full-scan shape.
    * `approxDistinct` uses HLL++ (`approx_count_distinct`) — swap in
    * `countDistinct` only for oracle-exact comparisons at test scale.
    */
  def columnStats(df: DataFrame, cols: Seq[String], exact: Boolean = false)
      : DataFrame = {
    val n = count(lit(1))
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nonnull"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"${c}__distinct"))
    }
    val row = df.agg(n.as("__n"), aggs: _*)
    // unpivot the single wide row into long format via stack
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__nonnull`, `${c}__min`, `${c}__max`, `${c}__distinct`"
    }.mkString(", ")
    row.selectExpr("__n",
      s"stack(${cols.size}, $stackArgs) as " +
        "(col_name, nonnull_count, min_value, max_value, distinct_count)")
      .select(
        col("col_name"),
        col("__n").as("count"),
        (col("__n") - col("nonnull_count")).as("nulls"),
        round((col("__n") - col("nonnull_count")) / col("__n"), 4)
          .as("null_rate"),
        col("min_value"), col("max_value"), col("distinct_count"))
  }
}
