package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic synthesis of the north-rule input table — interleaved
  * text+media documents `(doc_id: string, spans: array<struct<kind, text,
  * media_ref, offset>>, part: string)` — from the driver-generated
  * `documents.parquet`. Everything here is a pure Catalyst `Column`
  * expression (codegen'd, no UDF) and is mirrored 1:1 by DuckDB SQL in
  * [[graft.Oracles]] so the driver's oracle can verify the whole pipeline.
  *
  * The reference's multi-doc explode (YamlSchemaValidator.java:112-121)
  * keys documents `path-i`; here the span index plays that role.
  *
  * Injected violation classes (only in [[docs]]; [[referenceSpans]] is
  * clean), keyed on `doc_id % 97` so they are deterministic and
  * analytically predictable:
  *   - 3  → span 1 offset corrupted (span-sequence order violation)
  *   - 10 → span 2 kind = "video"   (enum violation)
  *   - 20 → span 1 text = "XXX"     (text mismatch vs reference)
  *   - 30 → image spans lose media_ref (required-property violation)
  */
object Interleaved {
  /** Spans per document; every testdata doc has >= 10 words so this is
    * uniform. 1-based span index i matches the reference's 1-based doc key.
    */
  val MaxSpans = 8

  /** Repartition only when the source scan has fewer splits than cores —
    * the tiny-local-parquet case (a single split would otherwise serialize
    * the projection). At real scale the scan already has many splits and an
    * unconditional repartition would be a full shuffle of the document
    * text for nothing; there this is a no-op. (CSE of the split() behind
    * the aliased projection does NOT need the exchange — CollapseProject
    * keeps multi-referenced non-cheap aliases staged; measured by object
    * Probe6 in `git show 25d1e79:src/main/scala/graft/Probes.scala`.)
    */
  def spread(df: DataFrame, source: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (source.inputFiles.length >= p) df else df.repartition(p)
  }

  private def isImage(idnum: Column, i1: Column): Column =
    (idnum + i1) % 4 === 0

  private def spanStruct(idnum: Column, word: Column, i1: Column,
      injected: Boolean): Column = {
    val img = isImage(idnum, i1)
    val kind0 = when(img, lit("image")).otherwise(lit("text"))
    val text0 = when(img, lit(null).cast("string")).otherwise(word)
    val ref0 = when(img,
      concat(lit("m"), ((idnum * 7 + i1) % 50).cast("string")))
      .otherwise(lit(null).cast("string"))
    val off0 = (i1 - 1).cast("int")
    if (!injected)
      struct(kind0.as("kind"), text0.as("text"), ref0.as("media_ref"),
        off0.as("offset"))
    else {
      val dmod = idnum % 97
      val kind = when(dmod === 10 && i1 === 2, lit("video")).otherwise(kind0)
      val text = when(dmod === 20 && i1 === 1, lit("XXX")).otherwise(text0)
      val ref = when(dmod === 30, lit(null).cast("string")).otherwise(ref0)
      val off = when(dmod === 3 && i1 === 1, lit(99)).otherwise(off0)
        .cast("int")
      struct(kind.as("kind"), text.as("text"), ref.as("media_ref"),
        off.as("offset"))
    }
  }

  private def synth(documents: DataFrame, injected: Boolean): DataFrame = {
    // two-stage select: the span-building lambda must reference the numeric
    // id unambiguously (the output re-uses the name `doc_id` for the string
    // key, and Catalyst's project-collapse would otherwise re-resolve the
    // lambda's `doc_id` against the aliased string column)
    spread(
      documents
        .select(
          col("doc_id").as("idnum"),
          slice(split(col("text"), " "), 1, MaxSpans).as("words"),
          col("source").as("part")),
      documents)
      .select(
        concat(lit("d"), col("idnum").cast("string")).as("doc_id"),
        col("idnum"),
        transform(col("words"),
          (w, i) => spanStruct(col("idnum"), w, i + 1, injected)).as("spans"),
        col("part"))
  }

  /** The table under validation (violations injected). */
  def docs(documents: DataFrame): DataFrame = synth(documents, injected = true)

  /** Bench-scale variant: replicate each source doc `replicas` times
    * (distinct doc_id per replica, same injection pattern → constant
    * violation rate). Replication happens before span-building so the
    * whole synthesis stays one codegen'd projection after the explode.
    */
  def docsScaled(documents: DataFrame, replicas: Int,
      injected: Boolean = true): DataFrame = {
    spread(
      documents
        .select(
          col("doc_id").as("idnum"),
          slice(split(col("text"), " "), 1, MaxSpans).as("words"),
          col("source").as("part")),
      documents)
      .withColumn("rep",
        explode(sequence(lit(0), lit(replicas - 1))))
      .select(
        concat(lit("d"), col("idnum").cast("string"), lit("r"),
          col("rep").cast("string")).as("doc_id"),
        col("idnum"),
        transform(col("words"),
          (w, i) => spanStruct(col("idnum"), w, i + 1, injected)).as("spans"),
        col("part"))
  }

  /** Per-row invariant oracle: the clean span sequences. */
  def referenceSpans(documents: DataFrame): DataFrame =
    synth(documents, injected = false)

  /** docs ∪ duplicated rows (doc_id % 101 == 5) — uniqueness-check fixture. */
  def docsWithDups(documents: DataFrame): DataFrame = {
    val d = docs(documents)
    d.unionAll(d.filter(col("idnum") % 101 === 5))
  }

  /** Referential dimension: catalog holds m0..m39 while spans reference
    * m0..m49 → refs m40..m49 dangle. Small → always broadcast.
    */
  def mediaCatalog(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    spark.range(0, 40).select(
      concat(lit("m"), col("id").cast("string")).as("media_ref"),
      when(col("id") % 3 === 0, lit("image")).otherwise(lit("audio"))
        .as("media_kind"))
  }
}
