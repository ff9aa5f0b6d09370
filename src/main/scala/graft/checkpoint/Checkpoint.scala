package graft.checkpoint

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.{SpanInvariant, Verdicts}

/** Resumable validation runs: a checkpoint table records per-partition
  * lineage (partition, run id, counts, wall-clock), and an incremental run
  * validates only partitions without committed lineage — the batch
  * re-expression of the reference's one-shot runs plus the north rule's
  * "resumable from checkpoint with per-partition lineage + metrics".
  *
  * Storage here is a parquet directory. Commit protocol, at BATCH
  * granularity (the file-system stand-in for one Iceberg transaction per
  * batch): one write, the append of one lineage row per partition to
  * `<dir>/lineage`. The lineage row is the partition's result and its
  * commit. A file-system append commits per output file, so a run killed
  * inside the append can mark some partitions done, each with a complete
  * row; the rest stay pending and re-run on resume. A lineage path that
  * is not a directory holds no commit: the run validates every partition
  * and fails at the append. On Iceberg, the append is one atomic commit
  * and snapshot-id watermarks replace the run id.
  */
object Checkpoint {

  final case class Lineage(run_id: String, part: String, docs: Long,
      invalid_docs: Long, violations: Long, completed_at_ms: Long)

  private def lineagePath(dir: String) = s"$dir/lineage"

  /** Partitions with committed lineage. Lineage holds one row per
    * partition per run, so the parts dedup on the driver.
    */
  def processedParts(spark: SparkSession, dir: String): Set[String] = {
    if (!Files.isDirectory(Paths.get(lineagePath(dir)))) return Set.empty
    lineage(spark, dir).select("part").collect().map(_.getString(0)).toSet
  }

  /** The lineage table, read with [[Lineage]]'s schema (no inference). */
  def lineage(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Encoders.product[Lineage].schema)
      .parquet(lineagePath(dir))

  /** Validate only partitions not yet in the checkpoint; commit the
    * batch's lineage rows (see the commit protocol above). Returns this
    * run's per-partition verdicts as the rows it committed, in a local
    * frame — stable under caller reuse (no lazy recompute of the
    * validation after commit); empty when everything is already processed.
    */
  def runIncremental(docs: DataFrame, ref: DataFrame, dir: String,
      runId: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val done = processedParts(spark, dir)
    val pending =
      if (done.isEmpty) docs
      else docs.filter(!col("part").isin(done.toSeq: _*))
    val perPart = Verdicts.perPartition(
      SpanInvariant.verdicts(pending, ref))
    val rows = perPart.collect() // one row per partition — driver-small
    val committed = spark.createDataFrame(rows.toSeq.asJava, perPart.schema)
    if (rows.isEmpty) return committed
    val now = System.currentTimeMillis()
    rows.map { r =>
      Lineage(runId, r.getAs[String]("part"), r.getAs[Long]("docs"),
        r.getAs[Long]("invalid_docs"), r.getAs[Long]("violations"), now)
    }.toSeq.toDF().write.mode(SaveMode.Append).parquet(lineagePath(dir))
    committed
  }
}
