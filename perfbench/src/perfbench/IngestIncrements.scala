package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Bench
import graft.checkpoint.Checkpoint
import graft.checks.SpanInvariant
import graft.data.Interleaved
import graft.operators.{Candidates, Dedup}
import graft.sources.JsonlSource

/** The write path: one JSONL crawl increment per op, deduplicated against a
  * stored near-duplicate index, appended to it, then validated and
  * committed to a checkpoint.
  *
  * Set-up writes a base corpus, its signature index
  * (`Dedup.writeSignatureTable`) and a checkpoint with a short commit
  * history, plus a few increments that the ops take in turn. Each increment
  * plants malformed lines, near-duplicates of base docs (the pairs the
  * dedup must find) and decoys that share a prefix with a base doc but stay
  * below the Jaccard threshold (candidates that yield no pair). After each
  * op the files it appended to the index and the checkpoint are removed
  * again, so every op sees the same corpus and the same history.
  */
final class IngestIncrements(spark: SparkSession, seed: Long)
    extends Workload {
  import IngestIncrements._

  private val rng = new java.util.SplittableRandom(seed)
  private val vocab: Array[String] = Array.fill(Vocab)(
    (1 to 4 + rng.nextInt(5)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString)
  private def words(n: Int): Seq[String] = Seq.fill(n)(vocab(rng.nextInt(Vocab)))

  private val corpus: Array[Seq[String]] = Array.fill(CorpusDocs)(words(Words))

  /** One generated increment: JSONL text and its expected answers. */
  final case class Increment(text: String, docs: Long, parseErrors: Long,
      pairs: Set[(Long, Long, Double)],
      parts: Map[String, (Long, Long, Long)])

  private def shingles(ws: Seq[String]): Set[String] =
    ws.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: Seq[String], b: Seq[String]): Double = {
    val (x, y) = (shingles(a), shingles(b))
    BigDecimal((x intersect y).size.toDouble / (x union y).size)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def jsonLine(id: Long, ws: Seq[String], part: String): String =
    s"""{"doc_id": $id, "text": "${ws.mkString(" ")}", "lang": "en", """ +
      s""""source": "$part"}"""

  /** Increment `k`: doc ids and parts are its own, so a commit of it is
    * never skipped as already processed. */
  private def increment(k: Int): Increment = {
    val lines = Seq.newBuilder[String]
    val pairs = Set.newBuilder[(Long, Long, Double)]
    val parts = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    var docs = 0L
    for (j <- 0 until IncrementDocs) {
      val id = IdBase + k * 100000L + j
      val part = s"inc$k-p${j % PartsPerIncrement}"
      val ws = j % 50 match {
        case 0 | 1 => // near-duplicate: a base doc plus two new words
          val b = rng.nextInt(CorpusDocs)
          val ws = corpus(b) ++ words(2)
          val jac = jaccard(corpus(b), ws)
          require(jac >= Threshold, s"planted pair below threshold: $jac")
          pairs += ((b.toLong, id, jac))
          ws
        case 2 | 3 => // decoy: the first third of a base doc, then new words
          val b = rng.nextInt(CorpusDocs)
          val ws = corpus(b).take(Words / 3) ++ words(Words - Words / 3)
          require(jaccard(corpus(b), ws) < Threshold, "decoy above threshold")
          ws
        case _ => words(Words)
      }
      if (j % 100 == 99) lines += s"""{"doc_id": $id, "text": "${ws.head}"""
      else {
        lines += jsonLine(id, ws, part)
        docs += 1
        val (d, inv, v) = parts.getOrElse(part, (0L, 0L, 0L))
        val mismatches = MismatchesByClass.getOrElse((id % 97).toInt, 0L)
        parts(part) = (d + 1, inv + (if (mismatches > 0) 1 else 0),
          v + mismatches)
      }
    }
    Increment(lines.result().mkString("\n") + "\n", docs,
      IncrementDocs / 100, pairs.result(), parts.toMap)
  }

  private val increments: Seq[Increment] = (0 until Increments).map(increment)
  private val history: Seq[Increment] =
    (0 until HistoryCommits).map(h => increment(Increments + h))

  private val cli = new CliProbes(spark, seed)

  val warmupOps: Int = WarmupOps

  val inputs: Map[String, Any] = Map("corpus_docs" -> CorpusDocs,
    "words_per_doc" -> Words, "increment_lines" -> IncrementDocs,
    "increments" -> Increments, "history_commits" -> HistoryCommits,
    "planted_pairs_per_increment" -> increments.head.pairs.size,
    "malformed_lines_per_increment" -> increments.head.parseErrors,
    "cli_probe" -> cli.inputs)

  private var dir: Path = _
  private var incPaths: Seq[String] = Nil
  private var corpusText: DataFrame = _
  private var baseline: Set[Path] = Set.empty
  private var live: Option[DataFrame] = None

  private def sigPath = dir.resolve("sigs").toString
  private def ckptDir = dir.resolve("checkpoint").toString

  private def stateFiles: Set[Path] =
    Seq(dir.resolve("sigs"), dir.resolve("checkpoint")).filter(Files.exists(_))
      .flatMap { d =>
        val s = Files.walk(d)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
        finally s.close()
      }.toSet

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val rows = corpus.indices.map(i => Row(i.toLong, corpus(i).mkString(" ")))
    spark.createDataFrame(rows.asJava, schema).repartition(4)
      .write.parquet(d.resolve("corpus").toString)
    corpusText = spark.read.parquet(d.resolve("corpus").toString)
    Dedup.writeSignatureTable(corpusText, sigPath)
    incPaths = (increments ++ history).zipWithIndex.map { case (inc, k) =>
      val p = d.resolve(s"increment-$k.jsonl")
      Files.writeString(p, inc.text, UTF_8)
      p.toString
    }
    history.indices.foreach { h =>
      val docs = readGood(incPaths(Increments + h))
      Checkpoint.runIncremental(Interleaved.docs(docs),
        Interleaved.referenceSpans(docs), ckptDir, s"history$h").collect()
    }
    baseline = stateFiles
  }

  private def readGood(path: String): DataFrame =
    JsonlSource.readDocuments(spark, path).filter(col("parse_error").isNull)
      .drop("parse_error")

  def op(i: Int, t: Tracer): Long = {
    val k = i % Increments
    val inc = increments(k)
    val raw = t.span("sources.jsonl_read") {
      val df = JsonlSource.readDocuments(spark, incPaths(k)).cache()
      live = Some(df)
      val c = df.agg(count(lit(1)), count(col("parse_error"))).head()
      Check(c.getLong(0) == IncrementDocs && c.getLong(1) == inc.parseErrors,
        s"read ${c.getLong(0)} lines, ${c.getLong(1)} malformed")
      t.count("sources.docs", (c.getLong(0) - c.getLong(1)).toDouble)
      t.count("sources.parse_errors", c.getLong(1).toDouble)
      df
    }
    val good = raw.filter(col("parse_error").isNull).drop("parse_error")
    val batch = good.select(col("doc_id"), col("text"))
    val (pairs, reshingled) = t.span("operators.incremental_dedup") {
      val (df, obs) = Dedup.incrementalDedup(spark, batch, corpusText, sigPath)
      (df.collect(), obs)
    }
    val got = pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Check(got == inc.pairs, s"dedup pairs differ: missing " +
      (inc.pairs diff got).take(3) + ", extra " + (got diff inc.pairs).take(3))
    t.count("operators.pairs", got.size.toDouble)
    t.count("operators.reshingled_docs",
      reshingled.get("n_reshingled").asInstanceOf[Long].toDouble)

    t.span("operators.append_signatures")(Dedup.appendSignatures(batch, sigPath))

    val committed = t.span("checkpoint.run_incremental")(
      Checkpoint.runIncremental(Interleaved.docs(good),
        Interleaved.referenceSpans(good), ckptDir, s"op$i").collect())
    val parts = committed.map(r => r.getAs[String]("part") -> ((
      r.getAs[Long]("docs"), r.getAs[Long]("invalid_docs"),
      r.getAs[Long]("violations")))).toMap
    Check(parts == inc.parts, s"committed parts differ: $parts vs ${inc.parts}")
    inc.docs
  }

  /** Removes what the op appended to the index and the checkpoint. */
  override def reset(t: Tracer): Unit = {
    live.foreach(_.unpersist(true))
    live = None
    Candidates.releaseAll(blocking = true)
    val added = stateFiles diff baseline
    val ckpt = added.filter(_.startsWith(dir.resolve("checkpoint")))
    t.count("checkpoint.files_written", ckpt.size.toDouble)
    t.count("checkpoint.bytes_written", ckpt.toSeq.map(Files.size).sum.toDouble)
    added.foreach(Files.delete)
  }

  override def prepareProbes(): Unit = cli.setup(dir.resolve("cli"))

  def probes(i: Int, t: Tracer): Unit = {
    val k = i % Increments
    val parts = t.span("checkpoint.processed_parts")(
      Checkpoint.processedParts(spark, ckptDir))
    Check(parts == history.flatMap(_.parts.keys).toSet, s"processed $parts")
    val good = readGood(incPaths(k))
    t.span("checks.span_verdicts")(Bench.exec(SpanInvariant.verdicts(
      Interleaved.docs(good), Interleaved.referenceSpans(good))))
    // candidate pairs the stored index yields for this increment: the
    // attempts behind `operators.pairs`
    val cand = t.span("operators.band_key_join")(spark.read.parquet(sigPath)
      .join(Dedup.bandKeysOf(good.select(col("doc_id"), col("text")))
        .select(col("doc_id").as("new_id"), col("bh")), Seq("bh"))
      .select(col("doc_id"), col("new_id")).distinct().count())
    t.count("operators.candidates", cand.toDouble)
    t.count("operators.pairs_per_candidate",
      increments(k).pairs.size.toDouble / cand)
    // the CLI path shares no state with the write path; it is probed here
    // so that its layers are measured on a traced run
    cli.probes(t)
  }
}

object IngestIncrements {
  val CorpusDocs = 10000
  /** Op times fall steeply over the first three ops, then by a few percent
    * per op (medians of ten runs on a 4-core host: 8.9 s at op 0, 5.1 s at
    * op 2, 4.7 s at op 3, 3.8 s at op 6). */
  val WarmupOps = 3
  val Words = 24
  val Vocab = 20000
  val IncrementDocs = 2000
  val PartsPerIncrement = 4
  val Increments = 4
  val HistoryCommits = 1
  val IdBase = 100000000L
  /** Dedup.incrementalDedup's default Jaccard threshold. */
  val Threshold = 0.6
  /** Span mismatches per doc of each injection class of Interleaved
    * (idnum % 97): one each for 3, 10 and 20; the two image spans for 30. */
  val MismatchesByClass: Map[Int, Long] = Map(3 -> 1L, 10 -> 1L, 20 -> 1L,
    30 -> 2L)
}
