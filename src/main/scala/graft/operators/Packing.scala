package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training: concatenate documents in a
  * deterministic order and cut the stream into fixed-capacity token bins
  * (the "concat then chunk" model — a document belongs to the bin its
  * first token lands in).
  *
  * Scale design: a single global running sum would serialize on one
  * partition, so the corpus is first sharded by content hash (same md5
  * permille family as [[Sampling]] — deterministic, engine-portable),
  * and the running sum is a window per shard: shards pack in parallel,
  * each emitting its own bin sequence. At 100 TB, `shards` scales with
  * the cluster; within a shard the window sort spills like any other.
  */
object Packing {

  /** Assign each document a (shard, bin_id): shard by id hash, then
    * greedy sequential packing in `idCol` order within the shard —
    * `bin_id = tokens_before_this_doc div capacity`.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    capacity: Int, shards: Int = 64, salt: String = ""): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(shards > 0, s"shards must be positive: $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("shard", pmod(Sampling.hashBucket(col(idCol), salt), lit(shards.toLong)))
      .withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"__before div $capacity"))
      .select(col(idCol), col("shard"), col("n_tokens"), col("bin_id"))
  }

  /** Padding-waste accounting for LENGTH-BATCHED training (the pad-to-
    * max-in-batch model, the alternative to concat-packing above): per
    * group, consecutive batches of `batchSize` rows pay `n_b · max_b`
    * padded tokens. Reported BOTH for length-sorted batching (the
    * bucketing data loaders do) and for arrival (id) order — the delta
    * is what length-bucketing actually saves. Output per group:
    * `(group, n_rows, n_batches, tokens, padded_sorted, padded_arrival,
    * saving_frac)`, `saving_frac = 1 − padded_sorted/padded_arrival`
    * ([[graft.functions.Rounding.zround]]-normalized: an already-sorted
    * arrival order makes the delta a float-exact 0).
    *
    * 100 TB shape: two keyed rank windows per group (the q01 flagship
    * shape — groups are sources, partitions balanced), two
    * (group, batch)-sized aggregations, one groups-sized join. All
    * arithmetic is exact integers until the single terminal division.
    */
  def paddingWasteByGroup(df: DataFrame, idCol: String, lenCol: String,
                          groupCol: String, batchSize: Int): DataFrame = {
    require(batchSize >= 1 && batchSize <= 1000000,
      s"batchSize out of [1,1e6]: $batchSize")
    val nn = df.filter(col(lenCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol), col(idCol).as("__id"), col(lenCol).cast("long").as("__len"))
    val wSorted = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__len"), col("__id"))
    val wArrival = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__id"))
    val batched = nn
      .withColumn("__bs", floor((row_number().over(wSorted) - 1) / lit(batchSize)))
      .withColumn("__ba", floor((row_number().over(wArrival) - 1) / lit(batchSize)))
    def padded(batchCol: String, out: String) = batched
      .groupBy(col(groupCol), col(batchCol))
      .agg(count(lit(1)).as("__n"), max(col("__len")).as("__mx"),
        sum(col("__len")).as("__sum"))
      .groupBy(col(groupCol))
      .agg(sum(col("__n")).as(s"${out}_rows"),
        count(lit(1)).as(s"${out}_batches"),
        sum(col("__sum")).as(s"${out}_tokens"),
        sum(col("__n") * col("__mx")).as(out))
    padded("__bs", "padded_sorted")
      .join(padded("__ba", "padded_arrival"), Seq(groupCol))
      .select(col(groupCol),
        col("padded_sorted_rows").as("n_rows"),
        col("padded_sorted_batches").as("n_batches"),
        col("padded_sorted_tokens").as("tokens"),
        col("padded_sorted"), col("padded_arrival"),
        graft.functions.Rounding.zround(
          lit(1.0) - col("padded_sorted").cast("double")
            / col("padded_arrival").cast("double"), 6).as("saving_frac"))
  }
}
