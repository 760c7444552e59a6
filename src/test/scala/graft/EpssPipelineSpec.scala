package graft

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.engine.{Changes, EpssQuery, Outputs, Score}
import graft.sources.{IO, ScoreStore}

/** End-to-end EPSS parity: gzipped feed CSVs with post-2022 comment headers
  * → partitioned store → predicate query → quantization → golden per-CVE
  * change log (the README.md:184-194 CVE-change-history shape) → file sinks.
  */
class EpssPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-e2e-").toString

  // four daily snapshots; CVE-2016-0060 mirrors the README's shape: changes
  // on days 2 and 4, flat on day 3. CVE-2024-9999 never changes.
  private val feed = Map(
    "2024-01-01" -> Seq(("CVE-2016-0060", 0.9, 0.99), ("CVE-2024-9999", 0.1, 0.5)),
    "2024-01-02" -> Seq(("CVE-2016-0060", 0.92, 0.99), ("CVE-2024-9999", 0.1, 0.5)),
    "2024-01-03" -> Seq(("CVE-2016-0060", 0.92, 0.99), ("CVE-2024-9999", 0.1, 0.5)),
    "2024-01-04" -> Seq(("CVE-2016-0060", 0.95, 0.99), ("CVE-2024-9999", 0.1, 0.5)))

  private def writeGzCsv(date: String): String = {
    val p = s"$tmp/epss_scores-$date.csv.gz"
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(Paths.get(p))), "UTF-8"))
    try {
      w.write(s"#model_version:v2023.03.01,score_date:${date}T00:00:00+0000\n")
      w.write("cve,epss,percentile\n")
      feed(date).foreach { case (c, e, pc) => w.write(s"$c,$e,$pc\n") }
    } finally w.close()
    p
  }

  private lazy val storeRoot: String = {
    val root = s"$tmp/store"
    feed.keys.toSeq.sorted.foreach { d =>
      ScoreStore.write(ScoreStore.ingestCsv(spark, writeGzCsv(d), LocalDate.parse(d)), root)
    }
    root
  }

  test("gz CSV ingest with comment header lands in the partitioned store") {
    assert(ScoreStore.read(spark, storeRoot,
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-04")).count() == 8)
    assert(ScoreStore.maxDate(spark, storeRoot).contains(LocalDate.parse("2024-01-04")))
  }

  test("flagship range query: scan baseline day, diff, clip — golden change log") {
    val min = LocalDate.parse("2024-01-02")
    val max = LocalDate.parse("2024-01-04")
    val changed = Changes.changedScores(
      ScoreStore.readWithBaseline(spark, storeRoot, min, max), minDate = Some(min))
      .as[Score].collect()
    // golden: exactly the two change rows of CVE-2016-0060, in O1 order
    assert(changed.map(r => (r.date.toString, r.cve, r.epss)).toSeq == Seq(
      ("2024-01-02", "CVE-2016-0060", 0.92),
      ("2024-01-04", "CVE-2016-0060", 0.95)))
  }

  test("predicate query composes with the store scan (F1-F4)") {
    val q = EpssQuery(minEpss = Some(0.5),
      minDate = Some(LocalDate.parse("2024-01-01")),
      maxDate = Some(LocalDate.parse("2024-01-02")))
    val rows = ScoreStore.read(spark, storeRoot,
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-04"))
      .transform(q.filter).as[Score].collect()
    assert(rows.forall(_.epss >= 0.5))
    assert(rows.map(_.cve).distinct.toSeq == Seq("CVE-2016-0060"))
    assert(rows.length == 2)
  }

  test("sinks: csv and jsonl round-trip the change log (S4/S7)") {
    val changed = Changes.changedScores(
      ScoreStore.read(spark, storeRoot, LocalDate.parse("2024-01-01"), LocalDate.parse("2024-01-04")))
    Outputs.write(changed, s"$tmp/out.csv", "csv", EpssCli.DisplayOrder)
    Outputs.write(changed, s"$tmp/out.jsonl", "jsonl", EpssCli.DisplayOrder)
    val back = IO.read(spark, s"$tmp/out.csv", Some("csv"),
      Some(graft.engine.Schemas.scoreSchema))
    assert(back.count() == changed.count())
    // Spark renders DateType as ISO-8601 in JSON (subsumes json_encoder.py)
    val line = IO.read(spark, s"$tmp/out.jsonl", Some("jsonl")).select(col("date").cast("string"))
      .as[String].collect().head
    assert(line.matches("\\d{4}-\\d{2}-\\d{2}"))
  }
}
