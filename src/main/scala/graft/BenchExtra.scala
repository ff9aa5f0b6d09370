package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1.4): times individual
  * bench queries through the same noop sink as [[Bench]] — NOT part of
  * the frozen driver contract — and dumps `.explain("formatted")` plans
  * for the `plans/` evidence files.
  *
  * Usage:
  *   runMain graft.BenchExtra time <reps> [q1,q2,...]
  *   runMain graft.BenchExtra plan <outDir> [q1,q2,...]
  *
  * Environment mirrors Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object BenchExtra {

  /** A plan dump without the ids that differ between runs — expression,
    * plan and RDD ids, observation uuids, the codegen-stage and query-
    * stage numbers AQE hands out in completion order, and the
    * per-process scratch directory — so the dumps of two builds compare
    * with a plain `diff -r`.
    */
  def stripRunIds(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    .replaceAll("\\[plan_id=\\d+\\]", "[plan_id]")
    .replaceAll("RDD\\[\\d+\\]", "RDD[]")
    .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
    .replaceAll("\\[codegen id : \\d+\\]", "[codegen id]")
    .replaceAll("(QueryStage\\n(Output[^\\n]*\\n)?Arguments: )\\d+", "$1#")
    .replace(Paths.get(graft.operators.Dedup.sigTablePath(""))
      .toAbsolutePath.getParent.toString + "/", "<scratch>/")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val only: Option[Set[String]] =
      if (args.length >= 3) Some(args(2).split(",").toSet) else None
    val qs = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    args(0) match {
      case "time" =>
        val reps = args(1).toInt
        val rows = qs.map { case (name, fn) =>
          spark.sparkContext.setJobDescription(name)
          def rep(): Double = {
            graft.operators.Candidates.releaseAll(blocking = true)
            Bench.time(Bench.exec(fn(spark, sfDir)))
          }
          val ts = (1 to reps).map(_ => rep())
          graft.operators.Candidates.releaseAll(blocking = true)
          (name, ts)
        }
        rows.foreach { case (n, ts) =>
          println(f"[benchextra] $n%-24s min=${ts.min}%8.3f " +
            ts.map(t => f"$t%.3f").mkString("[", ", ", "]"))
        }
        println(f"[benchextra] TOTAL_MIN ${rows.map(_._2.min).sum}%.3f")
      case "minhash" =>
        // apportion d_minhash_pairs: signature projection alone, banding
        // join alone, then the full candidate+verify pipeline
        import org.apache.spark.sql.functions._
        import graft.operators.{Candidates, Dedup}
        val corpusDf = graft.data.Interleaved.spread(
          Dedup.corpus(spark, sfDir), Tables.documents(spark, sfDir))
        (1 to args(1).toInt).foreach { _ =>
          Candidates.releaseAll(blocking = true)
          val t0 = Bench.time(Bench.exec(corpusDf.select(col("doc_id"),
            graft.functions.TextHash.minhashText(col("text"), 3,
              Dedup.NumHashes).as("sig"))))
          val bands = Dedup.bandKeysOf(corpusDf)
          val t1 = Bench.time(Bench.exec(bands))
          val rawCand = bands.as("a")
            .join(bands.as("b").hint("shuffle_hash"),
              col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
            .distinct()
          val t2 = Bench.time(Bench.exec(rawCand))
          Candidates.releaseAll(blocking = true)
          val t3 = Bench.time(Bench.exec(
            Dedup.minhashCandidatesOf(corpusDf)))
          println(f"[benchextra] minhash sig=$t0%.2f bands=$t1%.2f " +
            f"candjoin=$t2%.2f full=$t3%.2f")
        }
      case "incr2" =>
        // apportion d_incr_dedup2's cost across its loop steps
        import org.apache.spark.sql.functions._
        import graft.operators.{Candidates, Dedup}
        val docsT = Tables.documents(spark, sfDir)
        val corpusText = docsT.select(col("doc_id"), col("text"))
        (1 to args(1).toInt).foreach { _ =>
          Candidates.releaseAll(blocking = true)
          val path = Dedup.sigTablePath(sfDir) + "-prof"
          val t1 = Bench.time(Dedup.writeSignatureTable(
            graft.data.Interleaved.spread(corpusText, docsT), path))
          val a = graft.data.Interleaved.spread(
            Dedup.loopBatchA(spark, sfDir), docsT)
          val t2 = Bench.time(Bench.exec(
            Dedup.incrementalDedup(spark, a, corpusText, path)._1))
          val t3 = Bench.time(Dedup.appendSignatures(a, path))
          val unionText = corpusText.unionAll(Dedup.loopBatchA(spark, sfDir))
          val b = graft.data.Interleaved.spread(
            Dedup.loopBatchB(spark, sfDir), docsT)
          val t4 = Bench.time(Bench.exec(
            Dedup.incrementalDedup(spark, b, unionText, path)._1))
          println(f"[benchextra] incr2 write=$t1%.2f dedupA=$t2%.2f " +
            f"append=$t3%.2f dedupB=$t4%.2f")
        }
      case "flagship" =>
        // apportion the flagship's cost: scan / join / mismatch kernel /
        // rule kernel / full pipeline, each via the noop sink
        import org.apache.spark.sql.functions._
        import graft.checks.Validation
        val reps = args(1).toInt
        val (d, r) = BenchData.ensureBucketed(spark, sfDir, Bench.Replicas)
        val docs = spark.table(d)
        val ref = spark.table(r)
        def joined = docs.join(
          ref.select(col("doc_id"), col("spans").as("ref_spans"))
            .hint("shuffle_hash"), Seq("doc_id"))
        val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
          Seq(
            "scan" -> (() => docs
              .select(col("doc_id"), size(col("spans")).as("n"))
              .unionAll(ref.select(col("doc_id"),
                size(col("spans")).as("n")))),
            "join" -> (() => joined.select(col("doc_id"),
              (size(col("spans")) + size(col("ref_spans"))).as("n"))),
            "mismatch" -> (() => joined.select(col("part"),
              graft.functions.SpanMismatchIndices.spanMismatchCount(
                col("spans"), col("ref_spans")).as("n"))
              .groupBy(col("part")).agg(sum(col("n")))),
            "rules" -> (() => joined.select(col("part"),
              graft.functions.SpanRuleViolationCount
                .spanRuleViolationCount(col("spans"),
                  graft.rules.RuleCompiler.benchRules).as("n"))
              .groupBy(col("part")).agg(sum(col("n")))),
            "join_smj" -> (() => docs.join(
              ref.select(col("doc_id"), col("spans").as("ref_spans")),
              Seq("doc_id")).select(col("doc_id"),
              (size(col("spans")) + size(col("ref_spans"))).as("n"))),
            "full_smj" -> (() => graft.checks.Verdicts.perPartition(
              docs.join(ref.select(col("doc_id"),
                  col("spans").as("ref_spans")), Seq("doc_id"))
                .select(col("doc_id"), col("part"),
                  graft.functions.SpanVerdictCount.spanVerdictCount(
                    col("spans"), col("ref_spans"),
                    graft.rules.RuleCompiler.benchRules)
                    .as("n_violations"))
                .withColumn("valid", col("n_violations") === 0))),
            "full" -> (() => Validation.perPartition(docs, ref)))
        variants.foreach { case (name, mk) =>
          spark.sparkContext.setJobDescription(s"flagship:$name")
          Bench.exec(mk()) // warm
          val ts = (1 to reps).map(_ => Bench.time(Bench.exec(mk())))
          println(f"[benchextra] flagship:$name%-10s min=${ts.min}%8.3f " +
            ts.map(t => f"$t%.3f").mkString("[", ", ", "]"))
        }
      case "tailcheck" =>
        // Diagnose the in-bench flagship penalty: run the full query
        // sweep once (the Bench prelude) in THIS JVM, then time the
        // flagship min-of-N exactly like Bench does. If the flagship
        // matches the isolated `flagship` mode, the penalty seen in
        // full Bench runs is host noise; if it reproduces, it is
        // in-JVM history (GC/code-cache/fragmentation).
        import graft.checks.Validation
        SparkEntry.benchQueries.toSeq.sortBy(_._1).foreach {
          case (name, fn) =>
            spark.sparkContext.setJobDescription(name)
            graft.operators.Candidates.releaseAll(blocking = true)
            try Bench.exec(fn(spark, sfDir))
            catch { case _: Throwable => }
        }
        graft.operators.Candidates.releaseAll(blocking = true)
        val (d2, r2) = BenchData.ensureBucketed(spark, sfDir, Bench.Replicas)
        val docs2 = spark.table(d2)
        val ref2 = spark.table(r2)
        spark.sparkContext.setJobDescription("tailcheck:flagship")
        Bench.exec(Validation.perPartition(docs2, ref2))
        System.gc()
        val ts = (1 to args(1).toInt).map(_ =>
          Bench.time(Bench.exec(Validation.perPartition(docs2, ref2))))
        println(f"[benchextra] tailcheck flagship min=${ts.min}%8.3f " +
          ts.map(t => f"$t%.3f").mkString("[", ", ", "]"))
      case "plan" =>
        val outDir = args(1)
        Files.createDirectories(Paths.get(outDir))
        qs.foreach { case (name, fn) =>
          try {
            val df = fn(spark, sfDir)
            val p = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/$name.txt"),
              stripRunIds(p))
            println(s"[benchextra] plan $name -> $outDir/$name.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[benchextra] $name failed: ${e.getMessage}")
          }
          finally graft.operators.Candidates.releaseAll(blocking = true)
        }
    }
    spark.stop()
  }
}
