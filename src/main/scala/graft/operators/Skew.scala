package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resistant aggregation via salting: two-phase aggregate where phase 1
  * fans each hot key across `salts` shuffle partitions and phase 2 merges
  * the partials. Correct for any algebraic aggregate (sum/count/min/max).
  *
  * At 100 TB, AQE's skew-join splitting handles JOIN skew automatically;
  * groupBy skew on a pathological key distribution still needs salting —
  * this is that primitive.
  */
object Skew {

  /** salted sum+count per key: groupBy(key, salt) partial → groupBy(key)
    * merge. The salt mixes ROW CONTENT with `spark_partition_id()` — both
    * retry-stable (a recomputed task re-reads the same partition), unlike
    * monotonically_increasing_id whose row-offset component changes with
    * intra-partition order (the SPARK-23207 class of hazard). The
    * partition id matters for the degenerate hot key whose rows are all
    * IDENTICAL: content alone would hash them into one salt bucket,
    * recreating the hotspot; with the partition id they spread across
    * buckets, and duplicates within one partition are already collapsed by
    * the map-side partial aggregation anyway.
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String, salts: Int = 16): DataFrame =
    df.withColumn("__salt",
      pmod(xxhash64(col(key), col(valueCol), spark_partition_id()), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum("__psum").as("sum_value"), sum("__pcnt").as("n_rows"))
}
