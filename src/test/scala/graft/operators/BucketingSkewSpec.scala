package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketingSkewSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join on the bucket key plans no shuffle exchange") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    Bucketing.writeBucketed(li, "li_b", "l_orderkey", 4)
    Bucketing.writeBucketed(o, "o_b", "l_orderkey", 4)
    val joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"bucketed join should be exchange-free:\n$plan")
    // and it is still correct
    assert(joined.count() ==
      li.join(o, "l_orderkey").count())
  }

  test("salted aggregation equals plain aggregation") {
    val ev = Seq.tabulate(1000)(i => (i % 3, i.toLong)).toDF("k", "v")
    val plain = ev.groupBy("k").agg(sum("v").as("sum_value"), count(lit(1)).as("n_rows"))
      .orderBy("k").as[(Int, Long, Long)].collect().toSeq
    val salted = Skew.saltedSumCount(ev, "k", "v", salts = 8)
      .orderBy("k").as[(Int, Long, Long)].collect().toSeq
    assert(salted == plain)
  }

  test("zorderKey interleaves bits; nearby points get nearby keys") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (7L, 7L))
      .toDF("a", "b")
    val keys = df.select(Bucketing.zorderKey(col("a"), col("b"), bits = 3))
      .as[Long].collect().toSeq
    // morton(a,b) with a on even bits, b on odd: (0,0)=0, (1,0)=1,
    // (0,1)=2, (3,5)= a bits {0,1}->1+4=5, b bits {0,2}->2+32=34 → 39,
    // (7,7)= 21+42=63
    assert(keys == Seq(0L, 1L, 2L, 39L, 63L))
    intercept[IllegalArgumentException](
      Bucketing.zorderKey(col("a"), col("b"), bits = 0))
  }

  test("writeZOrdered: every file covers a small rectangle — both-column skipping") {
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-zorder-").toString
    // 100×100 grid, row-major generation (worst case for y-locality)
    val grid = spark.range(10000L)
      .select((col("id") % 100).as("x"), (col("id") / 100).as("y"))
    Bucketing.writeZOrdered(grid, s"$tmpDir/z", "x", "y",
      bits = 7, maxRecordsPerFile = 500)
    grid.orderBy("x").write.mode("overwrite")
      .option("maxRecordsPerFile", 500).parquet(s"$tmpDir/linear")
    def filesOverlapping(path: String): Long = {
      // per-file min/max rectangles, exactly what parquet footers expose
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
      // a 10×10 query box in the corner of BOTH dimensions
      boxes.filter(col("x0") <= 9 && col("x1") >= 0 &&
        col("y0") <= 9 && col("y1") >= 0).count()
    }
    val zFiles = filesOverlapping(s"$tmpDir/z")
    val linFiles = filesOverlapping(s"$tmpDir/linear")
    // x-sorted layout: every x-stripe file spans ALL y → the y constraint
    // prunes nothing; z-order confines the box to a few space-filling
    // tiles. 20 files total on each side.
    assert(linFiles >= 2, s"fixture degenerate: linear layout hit $linFiles")
    assert(zFiles * 2 <= linFiles,
      s"z-order must at least halve touched files: z=$zFiles linear=$linFiles")
  }
}
