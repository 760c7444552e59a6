package graft.sources

import java.nio.file.Files
import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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

  /** A 40-day store: more `date=` dirs than Spark's parallel-listing
    * threshold (32), so a scan of the whole root would run a listing job.
    */
  private lazy val fortyDays = {
    val root = s"$tmp/forty"
    ScoreStore.write((0 until 40).map(i =>
      Score(Date.valueOf(LocalDate.parse("2024-01-01").plusDays(i)), "CVE-A", i / 100.0, 0.5)
    ).toDF(), root)
    root
  }

  private def rootPaths(df: DataFrame): Seq[org.apache.hadoop.fs.Path] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
    }.flatten

  test("maxDate plus building a 31-day read run no Spark job, before any action") {
    val root = fortyDays
    // 31 requested days + the baseline day = 32 dirs, the most Spark's own
    // reader lists on the driver; the full window's 40 dirs it would list
    // in a parallel job
    val windows = Seq("2024-02-01" -> 32L, "2024-02-09" -> 40L)
    for ((max, rows) <- windows) {
      var df: DataFrame = null
      val jobs = jobsRunBy {
        assert(ScoreStore.maxDate(spark, root).contains(LocalDate.parse("2024-02-09")))
        df = ScoreStore.readWithBaseline(spark, root,
          LocalDate.parse("2024-01-02"), LocalDate.parse(max))
        df.queryExecution.optimizedPlan
      }
      assert(jobs.isEmpty, s"up to $max: expected no Spark job, got: ${jobs.mkString("; ")}")
      assert(df.count() == rows)
    }
  }

  test("the scan's root paths are exactly the in-window date= dirs") {
    val df = ScoreStore.read(spark, fortyDays,
      LocalDate.parse("2024-01-05"), LocalDate.parse("2024-01-07"))
    val roots = rootPaths(df)
    assert(roots.map(_.getName).sorted ==
      Seq("date=2024-01-05", "date=2024-01-06", "date=2024-01-07"))
    assert(roots.map(_.getParent.getName).distinct == Seq("forty"))
    assert(df.select("date").as[Date].collect().map(_.toString).sorted.toSeq ==
      Seq("2024-01-05", "2024-01-06", "2024-01-07"))
  }

  test("a window with no partitions reads an empty frame with the canonical columns and types") {
    for (root <- Seq(fortyDays, s"$tmp/no-such-store")) {
      val df = ScoreStore.read(spark, root,
        LocalDate.parse("2023-01-01"), LocalDate.parse("2023-01-31"))
      assert(df.columns.toSeq == Schemas.scoreColumns)
      assert(df.schema.map(_.dataType) == Schemas.scoreSchema.map(_.dataType))
      assert(rootPaths(df).isEmpty)
      assert(df.count() == 0)
    }
  }

  test("hidden files in a date= dir are not read: .crc side files and a leftover _temporary part") {
    val root = s"$tmp/hidden"
    ScoreStore.write(threeDays, root)
    val day = new java.io.File(s"$root/date=2024-01-02")
    val names = day.listFiles().map(_.getName)
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")), s"no .crc side file: ${names.toSeq}")
    // a failed task's output, and a hidden copy, of a valid parquet part
    val part = day.listFiles().find(f => f.getName.startsWith("part-")).get.toPath
    val tmpDir = java.nio.file.Paths.get(day.getPath, "_temporary", "0")
    Files.createDirectories(tmpDir)
    Files.copy(part, tmpDir.resolve(part.getFileName))
    Files.copy(part, day.toPath.resolve(s".${part.getFileName}"))
    val df = ScoreStore.read(spark, root, LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-03"))
    assert(df.as[Score].collect().sortBy(_.date.getTime).toSeq == threeDays.as[Score].collect().toSeq)
  }

  test("a visible subdirectory of a date= dir fails naming it and the store") {
    val root = s"$tmp/nested"
    ScoreStore.write(threeDays, root)
    Files.createDirectories(java.nio.file.Paths.get(s"$root/date=2024-01-02/extra"))
    val e = intercept[IllegalArgumentException](ScoreStore.read(spark, root,
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-03")))
    assert(e.getMessage.contains("date=2024-01-02") && e.getMessage.contains("extra") &&
      e.getMessage.contains(root), e.getMessage)
  }

  test("a date= dir that is not an ISO date fails naming the dir and the store") {
    val root = s"$tmp/malformed"
    ScoreStore.write(threeDays, root)
    Files.createDirectories(java.nio.file.Paths.get(s"$root/date=latest"))
    val reads = Seq[() => Any](
      () => ScoreStore.maxDate(spark, root),
      () => ScoreStore.read(spark, root, LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-03")),
      () => ScoreStore.ingestMany(spark, root, Nil))
    for (r <- reads) {
      val e = intercept[IllegalArgumentException](r())
      assert(e.getMessage.contains("date=latest") && e.getMessage.contains(root), e.getMessage)
    }
  }
}
