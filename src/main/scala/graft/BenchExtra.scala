package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1.4): times individual
  * bench queries through the same noop sink as [[Bench]] — NOT part of
  * the frozen driver contract — and dumps `.explain("formatted")` plans
  * for the `plans/` evidence files.
  *
  * Usage (two modes; anything else prints this and exits 2):
  *   runMain graft.BenchExtra time <reps> [q1,q2,...]
  *   runMain graft.BenchExtra plan <outDir> [q1,q2,...]
  *
  * Environment mirrors Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object BenchExtra {

  private val Usage =
    """Usage:
      |  runMain graft.BenchExtra time <reps> [q1,q2,...]
      |  runMain graft.BenchExtra plan <outDir> [q1,q2,...]""".stripMargin

  /** A plan dump without the ids that differ between runs — expression,
    * plan and RDD ids, the lambda-variable counter (global to the JVM, so
    * it depends on the queries dumped before), observation uuids, the
    * codegen-stage and query-stage numbers AQE hands out in completion
    * order, and the per-process scratch directory — so the dumps of two
    * builds compare with a plain `diff -r`.
    */
  def stripRunIds(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    .replaceAll("(lambda \\w+)_\\d+#", "$1#")
    .replaceAll("\\[plan_id=\\d+\\]", "[plan_id]")
    .replaceAll("RDD\\[\\d+\\]", "RDD[]")
    .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
    .replaceAll("\\[codegen id : \\d+\\]", "[codegen id]")
    .replaceAll("(QueryStage\\n(Output[^\\n]*\\n)?Arguments: )\\d+", "$1#")
    .replace(Paths.get(graft.operators.Dedup.sigTablePath(""))
      .toAbsolutePath.getParent.toString + "/", "<scratch>/")

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || !Set("time", "plan").contains(args(0))) {
      System.err.println(Usage)
      sys.exit(2)
    }
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
