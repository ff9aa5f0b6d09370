package graft

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** `df` saved (or appended) as table `name` at `dir/name`, bucketed and
    * sorted by doc_id. One write task, so one file per bucket per write.
    */
  def bucketedTable(df: DataFrame, name: String, buckets: Int, dir: Path,
      mode: String = "errorifexists"): DataFrame = {
    df.repartition(1).write.mode(mode)
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .option("path", dir.resolve(name).toString).saveAsTable(name)
    spark.table(name)
  }
}
