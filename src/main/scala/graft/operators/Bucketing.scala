package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, max, min}

/** Co-located (bucketed) joins — the shuffle-elimination path for repeated
  * fact-fact joins at 100 TB. Writing both sides bucketed+sorted on the join
  * key lets Spark plan a SortMergeJoin with NO exchange on either side: the
  * bucket files ARE the shuffle output, paid once at write time and amortized
  * over every subsequent join.
  */
object Bucketing {

  /** Write a table bucketed+sorted by the join key into the session catalog
    * (requires a warehouse dir; bucket count sized so a bucket ≈ one task's
    * worth of data at the target scale).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Morton (Z-order) key: bit-interleave two pre-normalized non-negative
    * integer columns (`bits` low bits each, a ≤ 2·bits-bit key) — nearby
    * (a, b) points get nearby keys, so sorting by the key clusters BOTH
    * dimensions at once. A codegen'd fold over the bit positions; no UDF.
    */
  def zorderKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                bits: Int = 21): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits out of [1,31]: $bits")
    import org.apache.spark.sql.functions.{aggregate, call_function, lit, sequence}
    def bit(c: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column,
            outPos: org.apache.spark.sql.Column) =
      call_function("shiftleft",
        call_function("shiftright", c, i).bitwiseAND(lit(1L)), outPos)
    aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, i) =>
      acc + bit(a, i, i * 2) + bit(b, i, i * 2 + 1))
  }

  /** Z-ORDER clustered write — the multi-dimensional data-skipping
    * layout: min-max-normalize two columns onto a `bits`-bit grid,
    * interleave ([[zorderKey]]), globally sort by the key, and write
    * parquet capped at `maxRecordsPerFile`. Every file then covers a
    * small RECTANGLE of (c1, c2) space, so parquet footer min/max prune
    * files/row-groups for predicates on EITHER column or both — a
    * single-column sort clusters only its own column and a query on the
    * other one reads everything (BucketingSkewSpec measures the file-
    * count gap on a grid fixture).
    *
    * 100 TB shape: one tiny min/max aggregate (driver scalar, write-time
    * only), one range-partitioned global sort — the layout cost paid
    * ONCE at ingest and amortized over every range query after, exactly
    * the [[writeBucketed]] trade for joins, applied to scans.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                    bits: Int = 16, maxRecordsPerFile: Int = 1000000): Unit = {
    val r = df.agg(
      min(col(c1).cast("double")).as("min1"), max(col(c1).cast("double")).as("max1"),
      min(col(c2).cast("double")).as("min2"), max(col(c2).cast("double")).as("max2"))
      .head()
    val top = (1L << bits) - 1
    def norm(c: String, lo: Double, hi: Double) =
      if (hi == lo) org.apache.spark.sql.functions.lit(0L)
      else ((col(c).cast("double") - lo) / (hi - lo) * top).cast("long")
    df.withColumn("__z", zorderKey(
        norm(c1, r.getDouble(0), r.getDouble(1)),
        norm(c2, r.getDouble(2), r.getDouble(3)), bits))
      .orderBy(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
  }
}
