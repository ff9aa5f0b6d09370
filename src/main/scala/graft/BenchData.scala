package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.data.Interleaved

/** Materializes the scaled interleaved-docs table (and its clean
  * reference) once, so throughput measurements time the validation job
  * reading from storage — the north-rule metric is constraint-eval
  * throughput, not synthetic-data generation speed.
  *
  * Two layouts:
  *  - plain parquet (generic path), and
  *  - BUCKETED tables (bucketBy(32, doc_id) sorted within buckets) — the
  *    local stand-in for Iceberg bucket partitioning: the doc_id equi-join
  *    between docs and reference then needs NO exchange and NO sort
  *    (storage-partitioned join), which is the shape that scales linearly
  *    on a real cluster.
  */
object BenchData {
  /** Pre-generates the scaled tables for one or more replica levels, so
    * the pinned scaling runs don't pay generation inside an 8-core JVM.
    * Args: plain ints → bucketed doc tables (Jobs A/B, default `8000`);
    * `textN` → the replicated disjoint-shingle text corpus at N replicas
    * (Job C). Reads SPARK_GRAFT_SF_DIR like [[Bench]].
    *
    *   runMain graft.BenchData 8000 text400
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val specs = if (args.isEmpty) Seq("8000") else args.toSeq
    specs.foreach {
      case t if t.startsWith("text") =>
        val p = ensureTextCorpus(spark, sfDir, t.drop(4).toInt)
        println(s"[prep] text corpus $p ${spark.read.parquet(p).count()} docs")
      case n =>
        val (d, r) = ensureBucketed(spark, sfDir, n.toInt)
        println(s"[prep] $d ${spark.table(d).count()} docs; $r ready")
    }
    spark.stop()
  }

  /** 128 buckets: at local[32] each level gets >=4 task waves, so one
    * slow bucket cannot set the wall time (straggler smoothing); still a
    * single wave of fine tasks on a 128-executor cluster.
    */
  val Buckets = 128

  def ensure(spark: SparkSession, sfDir: String, replicas: Int)
      : (String, String) = {
    val base = dir(sfDir, replicas)
    val docsPath = s"$base/docs"
    val refPath = s"$base/ref"
    if (!Files.exists(Paths.get(s"$base/_done"))) {
      val documents = Tables.documents(spark, sfDir)
      Interleaved.docsScaled(documents, replicas)
        .write.mode("overwrite").parquet(docsPath)
      Interleaved.docsScaled(documents, replicas, injected = false)
        .write.mode("overwrite").parquet(refPath)
      Files.createDirectories(Paths.get(base))
      Files.write(Paths.get(s"$base/_done"), Array.emptyByteArray)
    }
    (docsPath, refPath)
  }

  private def dir(sfDir: String, replicas: Int): String = {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    s"/tmp/graft_bench/${tag}_x$replicas"
  }

  /** Scaled TEXT corpus for the MinHash scaling job (north-rule Job C):
    * the [[graft.operators.Dedup.corpus]] duplicate fixture replicated
    * `replicas` times with every WORD suffixed by the replica index —
    * replicas share no shingles, so the duplicate-pair structure (and
    * with it the candidate/verify work) scales LINEARLY with the
    * corpus instead of quadratically (an un-perturbed replication would
    * make every replica of a doc a near-dup of every other replica:
    * R² pairs, a fixture artifact no real corpus has). Written once;
    * the scaling runs time the dedup job reading from storage.
    */
  def ensureTextCorpus(spark: SparkSession, sfDir: String,
      replicas: Int): String = {
    import org.apache.spark.sql.functions._
    val base = dir(sfDir, replicas) + "_text"
    val path = s"$base/corpus"
    if (!Files.exists(Paths.get(s"$base/_done"))) {
      val corpus = graft.operators.Dedup.corpus(spark, sfDir)
      spark.range(replicas).select(col("id").as("rep"))
        .crossJoin(corpus)
        .select(
          (col("doc_id") + col("rep") * 10000000L).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit("_"), col("rep")))).as("text"))
        .repartition(64)
        .write.mode("overwrite").parquet(path)
      Files.createDirectories(Paths.get(base))
      Files.write(Paths.get(s"$base/_done"), Array.emptyByteArray)
    }
    path
  }

  private def tag(sfDir: String, replicas: Int): String =
    (sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_x" + replicas).toLowerCase

  /** Bucketed variant: returns (docsTable, refTable) catalog names.
    * Files are written once via bucketBy().saveAsTable(); later sessions
    * (bucket metadata lives in the session's in-memory catalog) re-attach
    * the existing files with an external CREATE TABLE carrying the same
    * bucket spec.
    */
  def ensureBucketed(spark: SparkSession, sfDir: String, replicas: Int)
      : (String, String) = {
    val base = dir(sfDir, replicas) + s"_bucketed$Buckets"
    val t = tag(sfDir, replicas)
    val names = Seq("docs", "ref").map(side => side -> s"graft_${side}_b${Buckets}_$t")
    names.foreach { case (side, tbl) =>
      if (!spark.catalog.tableExists(tbl)) {
        val path = s"$base/$side"
        if (Files.exists(Paths.get(s"$base/_done_$side"))) {
          spark.sql(
            s"""CREATE TABLE $tbl (
               |  doc_id STRING, idnum BIGINT,
               |  spans ARRAY<STRUCT<kind: STRING, text: STRING,
               |    media_ref: STRING, offset: INT>>,
               |  part STRING)
               |USING PARQUET
               |CLUSTERED BY (doc_id) SORTED BY (doc_id)
               |INTO $Buckets BUCKETS
               |LOCATION '$path'""".stripMargin)
        } else {
          val documents = Tables.documents(spark, sfDir)
          // repartition on the bucket column BEFORE the bucketed write:
          // bucketBy writes one file per (task, bucket) pair, so an
          // un-clustered 32-task write produced 32 × 128 = 4096 ~24 KB
          // files per table and the flagship scan paid 8192 file opens
          // (guide §6 small-files). Hash-repartitioning by doc_id uses
          // the same murmur3 bucket function, so each task holds
          // exactly one bucket → 128 right-sized files, and each
          // sorted bucket is a single file (sort-elidable by readers).
          import org.apache.spark.sql.functions.col
          Interleaved.docsScaled(documents, replicas,
              injected = side == "docs")
            .repartition(Buckets, col("doc_id"))
            .write.mode("overwrite")
            .bucketBy(Buckets, "doc_id").sortBy("doc_id")
            .option("path", path)
            .saveAsTable(tbl)
          Files.createDirectories(Paths.get(base))
          Files.write(Paths.get(s"$base/_done_$side"),
            Array.emptyByteArray)
        }
      }
    }
    (names.head._2, names.last._2)
  }
}
