package graft.sources

import java.nio.file.Files
import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.{Schemas, Score}

/** Store layout, CSV ingest with comment header, filename-date inference. */
class ScoreStoreSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private lazy val tmp = Files.createTempDirectory("graft-store-").toString

  private lazy val threeDays = Seq(
    Score(d("2024-01-01"), "CVE-A", 0.1, 0.5),
    Score(d("2024-01-02"), "CVE-A", 0.2, 0.6),
    Score(d("2024-01-03"), "CVE-A", 0.3, 0.7)
  ).toDF()

  test("write + read round-trips through the date-partitioned layout with pruning") {
    val root = s"$tmp/scores"
    ScoreStore.write(threeDays, root)
    // partition dirs exist (Hive layout => partition pruning for free)
    val dirs = new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("date="))
    assert(dirs.toSet == Set("date=2024-01-01", "date=2024-01-02", "date=2024-01-03"))

    val mid = ScoreStore.read(spark, root,
      LocalDate.parse("2024-01-02"), LocalDate.parse("2024-01-02"))
    assert(mid.columns.toSeq == Schemas.scoreColumns)
    assert(mid.as[Score].collect().toSeq == Seq(Score(d("2024-01-02"), "CVE-A", 0.2, 0.6)))

    // the date filter lands on the partition column — pruned scan
    val planned = mid.queryExecution.executedPlan.toString
    assert(!planned.contains("date=2024-01-01") || planned.contains("PartitionFilters"))
  }

  test("readWithBaseline scans one extra day before min (SURVEY §2.13.1 intent)") {
    val root = s"$tmp/scores2"
    ScoreStore.write(threeDays, root)
    val df = ScoreStore.readWithBaseline(spark, root,
      LocalDate.parse("2024-01-02"), LocalDate.parse("2024-01-03"))
    assert(df.select(min("date")).as[Date].head() == d("2024-01-01"))
  }

  test("ingestCsv skips the post-2022 comment header and stamps the date (S1)") {
    val csv = s"$tmp/epss_scores-2024-01-05.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      "#model_version:v2023.03.01,score_date:2024-01-05\n" +
        "cve,epss,percentile\nCVE-X,0.5,0.9\nCVE-Y,0.25,0.4\n")
    val df = ScoreStore.ingestCsv(spark, csv, LocalDate.parse("2024-01-05"))
    assert(df.columns.toSeq == Schemas.scoreColumns)
    val rows = df.as[Score].collect().sortBy(_.cve)
    assert(rows.toSeq == Seq(
      Score(d("2024-01-05"), "CVE-X", 0.5, 0.9),
      Score(d("2024-01-05"), "CVE-Y", 0.25, 0.4)))
  }

  test("flat layout: date inferred from filename regex (S5, util.py:242-247)") {
    val flat = s"$tmp/flat"
    Files.createDirectories(java.nio.file.Paths.get(flat))
    Seq(Score(d("2024-01-07"), "CVE-Z", 0.7, 0.9)).toDF()
      .drop("date").coalesce(1).write.mode("overwrite").parquet(s"$flat/2024-01-07.parquet")
    val df = ScoreStore.readFlatWithInferredDate(spark, s"$flat/2024-01-07.parquet")
    assert(df.as[Score].collect().toSeq == Seq(Score(d("2024-01-07"), "CVE-Z", 0.7, 0.9)))
  }

  test("bucketed store: quantization window plans NO shuffle of the dense data") {
    spark.sql("DROP TABLE IF EXISTS scores_bucketed")
    ScoreStore.writeBucketedTable(threeDays.union(
      Seq(Score(d("2024-01-01"), "CVE-B", 0.5, 0.5),
        Score(d("2024-01-02"), "CVE-B", 0.6, 0.6)).toDF()), "scores_bucketed", 4)
    val scan = ScoreStore.readBucketedTable(spark, "scores_bucketed",
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-03"))
    val changed = graft.engine.Changes.changedRows(scan, "cve", Seq("date"), "epss")
    val plan = changed.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"expected exchange-free window, got:\n$plan")
    // and values are right: B changed on day 2, A on days 2 and 3
    assert(changed.count() == 3)
  }

  test("maxDate reads the store listing (offline max-date discovery)") {
    val root = s"$tmp/scores3"
    ScoreStore.write(threeDays, root)
    assert(ScoreStore.maxDate(spark, root).contains(LocalDate.parse("2024-01-03")))
  }
}
