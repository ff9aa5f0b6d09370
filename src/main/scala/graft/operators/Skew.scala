package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation (north rule: "skew on hot media_ref keys handled with
  * salted repartitioning and AQE skew-join splitting"). AQE handles skew
  * in sort-merge joins automatically (enabled in the session); salting
  * covers the aggregation path, where a single hot key would pin one task.
  */
object Skew {

  /** Two-phase salted aggregation: count per (key, salt) map-side-reduced
    * shuffle, then re-aggregate per key. The first shuffle spreads a hot
    * key over `salts` reducers; the second moves only `keys × salts` rows.
    */
  def saltedCount(df: DataFrame, key: String, salts: Int): DataFrame =
    df
      .withColumn("__salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col(key))
      .agg(sum(col("partial")).as("cnt"))
}
