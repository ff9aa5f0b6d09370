package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.checkpoint.Checkpoint
import graft.checks.{SpanInvariant, Verdicts}
import graft.data.Interleaved
import graft.model.{Doc, Span}
import graft.report.Reports

class ReportCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private val clean = Seq(Span("text", "hi", null, 0))
  private val rows = Seq(
    Reports.VerdictRow("a.yaml", valid = true),
    Reports.VerdictRow("b.yaml", valid = false, details = Seq(
      Reports.Detail("/properties/spans", "#/properties/spans",
        "/spans/0/kind",
        Seq("type" -> "integer found, boolean expected")))))
  private val summary = Reports.RunSummary(2, 1, 1, 1)
  private val allOk = Reports.RunSummary(1, 1, 0, 0)

  test("text report mirrors the reference per-doc shape") {
    val txt = Reports.renderText(rows, summary)
    assert(txt ===
      """Validation Result: invalid
        |a.yaml: ok
        |b.yaml: invalid
        | Details:
        | Path: /spans/0/kind
        | Schema: #/properties/spans
        | type: integer found, boolean expected
        |""".stripMargin)
    assert(Reports.exitCode(summary) === 1)
    assert(Reports.exitCode(allOk) === 0)
  }

  test("junit report counts tests and failures") {
    val xml = Reports.renderJunit(rows, summary)
    assert(xml.contains("""failures="1""""))
    assert(xml.contains("""tests="2""""))
    assert(xml.contains(
      """<testcase classname="files" name="a.yaml" time="0.0"/>"""))
    assert(xml.contains("integer found, boolean expected"))
    assert(scala.xml.XML.loadString(xml) != null) // well-formed
  }

  test("json / sarif / llm reports carry the run verdict and counts") {
    val json = Reports.renderJson(rows, summary)
    assert(json.contains("\"valid\" : false"))
    val sarif = Reports.renderSarif(rows, summary)
    assert(sarif.contains("\"executionSuccessful\" : false"))
    assert(sarif.contains("\"version\" : \"2.1.0\""))
    val llm = Reports.renderLlm(rows, summary)
    assert(llm.startsWith("# 1/2 files valid, 1 errors"))
  }

  test("report gathered from Datasets matches direct rendering") {
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = Interleaved.docs(documents)
    val ref = Interleaved.referenceSpans(documents)
    val verdicts = SpanInvariant.verdicts(docs, ref)
    val violations = SpanInvariant.mismatches(docs, ref)
      .select(col("doc_id"), explode(col("violations")).as("v"))
      .select(col("doc_id"), col("v.pointer").as("pointer"),
        col("v.keyword").as("keyword"), col("v.message").as("message"))
    val (gathered, gsum) = Reports.gather(verdicts, violations)
    assert(gathered.size === 500)
    assert(gsum.docs === 500 &&
      gsum.validDocs === gathered.count(_.valid))
    val llm = Reports.renderLlm(gathered, gsum)
    assert(llm.startsWith(s"# ${gsum.validDocs}/500 files valid"))
    assert(Reports.exitCode(gsum) === 1)
    // bounded gather: the collected slice is capped but the summary
    // counts stay exact (the r1 full-verdict collect is gone)
    val (capped, csum) = Reports.gather(verdicts, violations, maxDocs = 7)
    assert(capped.size === 7 && csum.docs === 500)
    assert(csum === gsum)
    // the text and LLM-compact reports say that rows were cut
    val shown =
      capped.map(r => r.errors.size + r.details.map(_.errors.size).sum).sum
    assert(shown < csum.violations)
    val note = s"(showing 7 of 500 documents and $shown of " +
      s"${csum.violations} violations)"
    assert(Reports.renderText(capped, csum).endsWith("\n" + note + "\n"))
    assert(Reports.renderLlm(capped, csum).split("\n")(1) === note)
  }

  test("checkpoint: interrupted run resumes and matches the cold run") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = Interleaved.docs(documents)
    val ref = Interleaved.referenceSpans(documents)
    val firstHalf = (0 until 10).map(i => s"src$i")

    // "interrupted" run: only half the partitions arrive
    val r1 = Checkpoint.runIncremental(
      docs.filter(col("part").isin(firstHalf: _*)), ref, dir, "run1")
    assert(r1.count() === 10)
    assert(Checkpoint.processedParts(spark, dir) === firstHalf.toSet)

    // resume with the full table: only the remaining 10 parts process
    val r2 = Checkpoint.runIncremental(docs, ref, dir, "run2")
    assert(r2.count() === 10)
    assert(r2.select("part").as[String].collect()
      .forall(p => !firstHalf.contains(p)))

    // third run: nothing pending
    val r3 = Checkpoint.runIncremental(docs, ref, dir, "run3")
    assert(r3.count() === 0)

    // combined lineage equals the cold run's verdicts
    val cold = Verdicts.perPartition(SpanInvariant.verdicts(docs, ref))
      .select("part", "invalid_docs").as[(String, Long)].collect().toMap
    val lineage = Checkpoint.lineage(spark, dir)
      .select("part", "invalid_docs").as[(String, Long)].collect().toMap
    assert(lineage === cold)
    assert(Checkpoint.lineage(spark, dir).count() === 20)
  }

  test("checkpoint: a failed lineage append commits nothing; resume " +
      "processes every pending partition once") {
    val dir = Files.createTempDirectory("graft-ckpt-fail").toString
    val documents = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = Interleaved.docs(documents)
    val ref = Interleaved.referenceSpans(documents)
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.select("part", "docs", "invalid_docs", "violations")
        .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)

    // a plain file at the lineage path makes the append fail
    val blocker = java.nio.file.Paths.get(dir, "lineage")
    Files.writeString(blocker, "not a lineage table")
    intercept[Exception](Checkpoint.runIncremental(docs, ref, dir, "run1"))
    assert(Checkpoint.processedParts(spark, dir).isEmpty)

    Files.delete(blocker)
    val resumed = Checkpoint.runIncremental(docs, ref, dir, "run2")
    assert(resumed.count() === 20)
    val lineage = counts(Checkpoint.lineage(spark, dir))
    assert(lineage.map(_._1).distinct.size === lineage.size)
    assert(lineage ===
      counts(Verdicts.perPartition(SpanInvariant.verdicts(docs, ref))))
  }
}
