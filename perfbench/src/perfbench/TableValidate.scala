package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, BenchData}
import graft.checks.{SpanInvariant, Validation}
import graft.data.Interleaved
import graft.functions.SpanVerdictCount
import graft.rules.RuleCompiler

/** The flagship job of graft.Bench: `Validation.perPartition` over a
  * `(docs, ref)` pair of tables in the flagship layout (bucketed by
  * `doc_id` into `BenchData.Buckets` buckets, sorted within each).
  *
  * The source documents come from `spark.range` and seeded hashes, are
  * stored as a documents table, and become span docs through graft's
  * `Interleaved.docsScaled`, as `BenchData.ensureBucketed` builds them.
  * Which docs violate is fixed by Interleaved's injection classes
  * (`idnum % 97` in {3, 10, 20, 30}), so the expected verdict of every part
  * follows from the generator alone.
  */
final class TableValidate(spark: SparkSession, seed: Long) extends Workload {
  import TableValidate._

  private val base = (seed & 0xffffL) * 10000000L

  // part index of a document: the same arithmetic here and in Spark
  private def partOf(idnum: Long): Int =
    Math.floorMod(idnum * 40503L + seed * 7919L, Parts.toLong).toInt

  /** part -> (docs, invalid docs, violations) */
  private val expected: Map[String, (Long, Long, Long)] = {
    val docs, invalid, viol = new Array[Long](Parts)
    var id = 0L
    while (id < Docs) {
      val idnum = base + id
      val p = partOf(idnum)
      docs(p) += 1
      ViolationsByClass.get((idnum % 97).toInt).foreach { v =>
        invalid(p) += 1; viol(p) += v
      }
      id += 1
    }
    (0 until Parts).map(p => s"s$p" -> ((docs(p), invalid(p), viol(p))))
      .toMap
  }

  val warmupOps: Int = WarmupOps

  val inputs: Map[String, Any] = Map("docs" -> Docs, "parts" -> Parts,
    "spans_per_doc" -> Interleaved.MaxSpans, "buckets" -> BenchData.Buckets,
    "invalid_docs" -> expected.values.map(_._2).sum)

  private var docs, ref: DataFrame = _
  private var setups = 0
  private var joined: DataFrame = _

  private def documents: DataFrame = {
    val idnum = lit(base) + col("id")
    // eight lowercase hex words: Interleaved keeps the first MaxSpans words
    val words = (0 until Interleaved.MaxSpans).map { j =>
      substring(lower(hex(xxhash64(lit(seed), idnum, lit(j)))), 1, 3 + j % 5)
    }
    spark.range(0, Docs, 1, spark.sparkContext.defaultParallelism)
      .select(idnum.as("doc_id"), concat_ws(" ", words: _*).as("text"),
        concat(lit("s"), pmod(idnum * 40503L + lit(seed * 7919L),
          lit(Parts.toLong)).cast("string")).as("source"))
  }

  def setup(dir: Path): Unit = {
    setups += 1
    // stored as a documents table and read back with graft's loader, as
    // BenchData does; one file per core, so Interleaved's spread adds no
    // exchange
    documents.write.parquet(dir.resolve("documents.parquet").toString)
    val src = graft.Tables.documents(spark, dir.toString)
    val Seq(d, r) = Seq("docs" -> true, "ref" -> false).map {
      case (side, injected) =>
        val tbl = s"pb_${side}_$setups"
        // hash-partitioning on doc_id into a divisor of the bucket count
        // puts each bucket in exactly one task, so the write still leaves
        // one sorted file per bucket (the layout of
        // BenchData.ensureBucketed) from a few tasks instead of one per
        // bucket
        Interleaved.docsScaled(src, 1, injected = injected)
          .repartition(WriteTasks, col("doc_id"))
          .write.mode("overwrite")
          .bucketBy(BenchData.Buckets, "doc_id").sortBy("doc_id")
          .option("path", dir.resolve(side).toString)
          .saveAsTable(tbl)
        spark.table(tbl)
    }
    docs = d
    ref = r
  }

  def op(i: Int, t: Tracer): Long = {
    val rows = t.span("checks.per_partition")(
      Validation.perPartition(docs, ref).collect())
    val got = rows.map(r => r.getAs[String]("part") -> ((
      r.getAs[Long]("docs"), r.getAs[Long]("invalid_docs"),
      r.getAs[Long]("violations")))).toMap
    Check(got == expected, s"per-part verdicts differ: $got vs $expected")
    Check(rows.forall(r => r.getAs[Boolean]("valid") ==
      (r.getAs[Long]("invalid_docs") == 0)), "valid flag")
    t.count("checks.docs", got.values.map(_._1).sum.toDouble)
    t.count("checks.invalid_docs", got.values.map(_._2).sum.toDouble)
    t.count("checks.violations", got.values.map(_._3).sum.toDouble)
    Docs
  }

  /** The kernel probe reads a cached, pre-joined frame, so its time is the
    * fused kernel's projection alone. The frame holds the docs of
    * `ProbeParts` of the parts only, to keep the cache small. */
  override def prepareProbes(): Unit = {
    joined = docs.filter(col("part").isin(probeParts: _*))
      .join(ref.select(col("doc_id"), col("spans").as("ref_spans")),
        Seq("doc_id")).select(col("spans"), col("ref_spans")).cache()
    Check(joined.count() == probeParts.map(expected(_)._1).sum,
      "pre-joined frame size")
  }

  private def probeParts: Seq[String] = (0 until ProbeParts).map(p => s"s$p")

  def probes(i: Int, t: Tracer): Unit = {
    t.span("storage.scan") { Bench.exec(docs); Bench.exec(ref) }
    t.span("checks.full_verdicts")(
      Bench.exec(Validation.fullVerdicts(docs, ref)))
    t.span("checks.span_verdicts")(
      Bench.exec(SpanInvariant.verdicts(docs, ref)))
    val k = t.span("functions.span_verdict_count")(joined.select(
      sum(SpanVerdictCount.spanVerdictCount(col("spans"), col("ref_spans"),
        RuleCompiler.benchRules)), sum(size(col("spans")))).head())
    Check(k.getLong(0) == probeParts.map(expected(_)._3).sum,
      s"kernel violations ${k.getLong(0)}")
    t.count("functions.spans", k.getLong(1).toDouble)
  }
}

object TableValidate {
  /** At the window (ops 3-5) per-task and JIT cost were 82% of an op at
    * 100k docs and are 48% at 500k (see README.md). */
  val Docs = 500000L
  /** Op times fall for about 20 ops while the JIT compiles (medians of ten
    * runs on a 4-core host: 7.7 s at op 0, 4.1 s at op 3, 3.1 s at op 8;
    * 3.2 s from op 17 in a long run); three is as many as the run budget
    * allows. */
  val WarmupOps = 3
  val Parts = 16
  val ProbeParts = 4
  val WriteTasks = 4
  /** Violations per doc of each injection class of Interleaved (idnum % 97)
    * under the flagship's span-sequence check plus RuleCompiler.benchRules:
    *  - 3: span 1 offset 99: one mismatch, offset above docRules' maximum 7;
    *  - 10: span 2 kind "video": one mismatch, outside two of the three
    *    kind enums;
    *  - 20: span 1 text "XXX": one mismatch, every text rule holds;
    *  - 30: the two image spans lose media_ref: two mismatches, two
    *    `required` failures.
    */
  val ViolationsByClass: Map[Int, Long] = Map(3 -> 2L, 10 -> 3L, 20 -> 1L,
    30 -> 4L)
}
