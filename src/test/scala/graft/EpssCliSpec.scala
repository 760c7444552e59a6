package graft

import java.nio.file.Files
import java.sql.Date

import graft.engine.{Outputs, Score}
import graft.sources.{ChangeLog, IO, ScoreStore, SpecFs}

/** CLI surface (cli.py:27-163 twin): scores / urls / date-range. */
class EpssCliSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private lazy val store = {
    val root = s"${Files.createTempDirectory("graft-cli-")}/store"
    ScoreStore.write(Seq(
      Score(d("2024-01-01"), "CVE-A", 0.10, 0.5),
      Score(d("2024-01-02"), "CVE-A", 0.20, 0.6),
      Score(d("2024-01-02"), "CVE-B", 0.30, 0.7)
    ).toDF(), root)
    root
  }

  private def captureOut(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(body)
    bos.toString("UTF-8")
  }

  test("scores --no-drop-unchanged writes dense rows, format inferred from extension") {
    val out = s"${Files.createTempDirectory("graft-cli-out-")}/scores.csv"
    EpssCli.run(spark, Seq("scores", "--store", store,
      "-a", "2024-01-01", "-b", "2024-01-02", "--no-drop-unchanged",
      "--min-epss", "0.15", "--output", out))   // no --output-format: inferred csv
    val back = IO.read(spark, out, Some("csv"), Some(graft.engine.Schemas.scoreSchema))
    assert(back.count() == 2) // 0.20 and 0.30 rows
  }

  test("scores --date collapses to min=max; quantization is the default") {
    val out = s"${Files.createTempDirectory("graft-cli-out-")}/changes.parquet"
    EpssCli.run(spark, Seq("scores", "--store", store,
      "--date", "2024-01-02",
      "--output", out, "--output-format", "parquet"))
    val rows = spark.read.parquet(out).as[Score].collect()
    // CVE-A changed on 01-02; CVE-B first sighting dropped (F5)
    assert(rows.map(_.cve).toSeq == Seq("CVE-A"))
  }

  test("scores --cve-file reads id lists (F7) and merges with inline --cve") {
    val idFile = s"${Files.createTempDirectory("graft-cli-ids-")}/ids.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(idFile),
      "CVE-B\n\n  \n".getBytes("UTF-8"))
    val out = s"${Files.createTempDirectory("graft-cli-out-")}/filtered.parquet"
    EpssCli.run(spark, Seq("scores", "--store", store,
      "-a", "2024-01-01", "-b", "2024-01-02", "--no-drop-unchanged",
      "--cve-file", idFile, "--output", out, "--output-format", "parquet"))
    val rows = spark.read.parquet(out).as[Score].collect()
    assert(rows.map(_.cve).distinct.toSeq == Seq("CVE-B"))
  }

  test("scores file sinks: one part file in O2 order, sorted in one partition, no range sort") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // 12 CVEs over 3 days; the odd ones move between three values every
    // day, so each (date, epss) holds two CVEs and only `cve desc` orders them
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03").map(d)
    val dense = for ((day, k) <- days.zipWithIndex; i <- 0 until 12) yield {
      val e = ((i + k * (i % 2)) % 3) * 0.25
      Score(day, f"CVE-2024-$i%02d", e, e)
    }
    val root = s"${Files.createTempDirectory("graft-cli-o2-")}/store"
    ScoreStore.write(dense.toDF(), root)
    def o2(rows: Seq[Score]): Seq[Score] = rows.sortWith { (x, y) =>
      if (x.date != y.date) x.date.before(y.date)
      else if (x.epss != y.epss) x.epss > y.epss
      else x.cve > y.cve
    }
    val changes = dense.groupBy(_.cve).values.flatMap { rows =>
      rows.sortBy(_.date.getTime).sliding(2).collect { case Seq(p, c) if c.epss != p.epss => c }
    }.toSeq
    assert(changes.groupBy(r => (r.date, r.epss)).values.exists(_.size > 1), "no epss ties")
    for ((flags, expected) <- Seq(Nil -> o2(changes),
           Seq("--no-drop-unchanged") -> o2(dense.filter(_.date != days.head)));
         fmt <- Seq("csv", "parquet")) {
      val out = s"${Files.createTempDirectory("graft-cli-o2-out-")}/scores.$fmt"
      val nodes = plansRunBy {
        EpssCli.run(spark, Seq("scores", "--store", root, "-a", "2024-03-02",
          "-b", "2024-03-03", "--output", out) ++ flags)
      }.flatMap(planNodes)
      val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(parts.length == 1, s"$fmt $flags: one part file, got ${parts.toSeq}")
      val back = IO.read(spark, s"$out/${parts.head}", Some(fmt),
        Some(graft.engine.Schemas.scoreSchema)).as[Score].collect().toSeq
      assert(back == expected, s"$fmt $flags: rows not in O2 order")
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(!exchanges.exists(_.isInstanceOf[RangePartitioning]),
        s"$fmt $flags: the written plan range-partitions: $exchanges")
      assert(exchanges.exists(_.numPartitions == 1), s"$fmt $flags: no single-partition exchange")
    }
  }

  test("scores over a 40-day full window: one scan of the listed files, 2 exchanges, 2 sorts") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // more date= dirs than the 32 Spark's own reader lists without a job
    val dense = for (k <- 0 until 40; i <- 0 until 6) yield {
      val e = ((i + k * (i % 2)) % 3) * 0.25
      Score(Date.valueOf(java.time.LocalDate.parse("2024-01-01").plusDays(k)), s"CVE-$i", e, e)
    }
    val root = s"${Files.createTempDirectory("graft-cli-full-")}/store"
    ScoreStore.write(dense.toDF(), root)
    val dataFiles = new java.io.File(root).listFiles().filter(_.getName.startsWith("date="))
      .flatMap(_.listFiles()).count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val out = s"${Files.createTempDirectory("graft-cli-full-out-")}/scores.parquet"
    // the window path: a store its change log cannot be written to
    // (ChangeLogSpec and PlanSpec pin the log-served plan)
    SpecFs.register(spark)
    SpecFs.readOnly(root)
    val nodes = plansRunBy {
      val served = EpssCli.scores(spark, EpssCli.parseArgs(Seq("scores", "--store", SpecFs.uri(root),
        "-a", "2024-01-02", "-b", "2024-02-09", "--output", out))._2, Outputs.DriverMaxRows)
      assert(served == ChangeLog.Served.Window)
    }.flatMap(planNodes)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"one parquet scan, got ${scans.size}")
    assert(scans.head.relation.fileFormat.toString == "Parquet")
    assert(scans.head.metrics("numFiles").value == dataFiles,
      s"scanned ${scans.head.metrics("numFiles").value} of $dataFiles listed files")
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.size == 2, s"exchanges: $exchanges")
    assert(exchanges.exists {
      case h: HashPartitioning => h.expressions.map(_.toString).exists(_.startsWith("cve#"))
      case _ => false
    }, s"no hashpartitioning(cve) exchange: $exchanges")
    assert(exchanges.exists(_.numPartitions == 1), s"no single-partition exchange: $exchanges")
    assert(nodes.count(_.isInstanceOf[SortExec]) == 2, "sorts: " + nodes.collect { case s: SortExec => s.sortOrder })
    assert(spark.read.parquet(out).count() > 0)
  }

  test("model-epoch flags clamp the requested range (include_v1/2/3 twins)") {
    // store dates are 2024 (v3 era); with v3 excluded and v2 included, the
    // window clamps to the v2 epoch and the 2024 request collapses onto
    // V2MaxDate, where the store has no rows -> empty result, no error
    val out = s"${Files.createTempDirectory("graft-cli-out-")}/v2only.parquet"
    EpssCli.run(spark, Seq("scores", "--store", store,
      "-a", "2024-01-01", "-b", "2024-01-02", "--no-drop-unchanged",
      "--include-v2-scores", "--no-include-v3-scores",
      "--output", out, "--output-format", "parquet"))
    assert(spark.read.parquet(out).isEmpty)
    // and parse-level: the flags are booleans, not value-takers
    val (_, a) = EpssCli.parseArgs(Seq("scores", "--store", "S",
      "--include-v1-scores", "--no-include-v3-scores", "-a", "2021-05-01"))
    assert(a.flag("include-v1-scores") && a.flag("no-include-v3-scores"))
    assert(a.one("a").contains("2021-05-01"))
  }

  test("missing option value fails loudly instead of dropping the filter") {
    val e = intercept[IllegalArgumentException] {
      EpssCli.parseArgs(Seq("scores", "--store", "S", "--min-epss"))
    }
    assert(e.getMessage.contains("requires a value"))
    val usage = intercept[IllegalArgumentException](EpssCli.parseArgs(Nil))
    assert(usage.getMessage.contains("usage: scores|urls|date-range|download [options]"))
  }

  test("single-dash flags parse like the reference CLI (-a/-b)") {
    val (_, a) = EpssCli.parseArgs(Seq("scores", "--store", "S",
      "--no-drop-unchanged", "-a", "2024-01-01", "-b", "2024-01-05"))
    assert(a.one("a").contains("2024-01-01"))
    assert(a.one("b").contains("2024-01-05"))
    assert(a.flag("no-drop-unchanged"))
  }

  test("urls --date collapses to a single day") {
    val out = captureOut {
      EpssCli.run(spark, Seq("urls", "--date", "2024-06-01"))
    }
    assert(out.trim == "https://epss.cyentia.com/epss_scores-2024-06-01.csv.gz")
  }

  test("urls prints one feed url per day") {
    val out = captureOut {
      EpssCli.run(spark, Seq("urls", "--a", "2024-01-01", "--b", "2024-01-03"))
    }
    val lines = out.trim.split("\n")
    assert(lines.length == 3)
    assert(lines.head == "https://epss.cyentia.com/epss_scores-2024-01-01.csv.gz")
  }

  test("date-range reports the offline store max date") {
    val out = captureOut {
      EpssCli.run(spark, Seq("date-range", "--store", store))
    }
    assert(out.contains("\"max_date\": \"2024-01-02\""))
  }

  test("date-range on a missing or empty store prints an empty max_date") {
    val tmp = Files.createTempDirectory("graft-cli-empty-")
    Files.createDirectory(tmp.resolve("empty"))
    for (root <- Seq(s"$tmp/missing", s"$tmp/empty")) {
      val out = captureOut {
        EpssCli.run(spark, Seq("date-range", "--store", root))
      }
      assert(out.contains("\"max_date\": \"\""), s"$root: $out")
    }
  }

  test("scores on a missing or empty store fails with 'empty store: <root>'") {
    val tmp = Files.createTempDirectory("graft-cli-empty-")
    Files.createDirectory(tmp.resolve("empty"))
    for (root <- Seq(s"$tmp/missing", s"$tmp/empty")) {
      val e = intercept[RuntimeException] {
        EpssCli.run(spark, Seq("scores", "--store", root, "--date", "2024-01-02"))
      }
      assert(e.getMessage == s"empty store: $root")
    }
  }

  test("writeJsonArray emits one JSON array with ISO dates (S4 row-oriented)") {
    val p = s"${Files.createTempDirectory("graft-json-")}/out.json"
    graft.engine.Outputs.writeJsonArray(
      ScoreStore.read(spark, store, java.time.LocalDate.parse("2024-01-02"),
        java.time.LocalDate.parse("2024-01-02")).orderBy("cve"), p)
    val txt = Files.readString(java.nio.file.Paths.get(p))
    assert(txt.startsWith("[{") && txt.endsWith("}]"))
    assert(txt.contains("\"date\":\"2024-01-02\""))
    // and it parses back as a 2-element array via the multiLine reader
    assert(IO.read(spark, p, Some("json")).count() == 2)
  }

  test("scores --output-format json writes through the Hadoop FileSystem: a file: URI works") {
    val dir = Files.createTempDirectory("graft-json-uri-")
    EpssCli.run(spark, Seq("scores", "--store", store, "-a", "2024-01-01", "-b", "2024-01-02",
      "--no-drop-unchanged", "--output", s"file://$dir/out.json"))
    val txt = Files.readString(dir.resolve("out.json"))
    assert(txt.startsWith("[{") && txt.endsWith("}]"), txt)
    assert(IO.read(spark, s"$dir/out.json", Some("json")).count() == 3)
    assert(dir.toFile.list().toSeq == Seq("out.json"), "no checksum sidecar")
  }

  test("scores lists the store root once per request") {
    SpecFs.register(spark)
    val dense = for (k <- 0 until 5; i <- 0 until 4)
      yield Score(d(s"2024-05-0${k + 1}"), s"CVE-$i", ((i + k) % 3) * 0.25, 0.5)
    val local = s"${Files.createTempDirectory("graft-cli-list-")}/store"
    ScoreStore.write(dense.toDF(), local)
    val out = Files.createTempDirectory("graft-cli-list-out-")
    val full = Seq("scores", "--store", SpecFs.uri(local), "-a", "2024-05-02", "-b", "2024-05-05")
    for ((extra, i) <- Seq(Nil, Nil, Seq("--min-epss", "0.2"), Seq("--no-drop-unchanged"),
           Seq("--cve", "CVE-1"), Seq("--output-format", "json")).zipWithIndex) {
      val before = SpecFs.listed(local)
      val fmt = if (extra.contains("json")) "json" else "parquet"
      EpssCli.run(spark, full ++ extra ++ Seq("--output", s"$out/r$i.$fmt"))
      assert(SpecFs.listed(local) - before == 1, s"request $extra listed the root " +
        s"${SpecFs.listed(local) - before} times")
    }
  }

  private def zipPart(path: String, part: String): String = {
    val zf = new java.util.zip.ZipFile(path)
    try {
      val e = zf.getEntry(part)
      assert(e != null, s"missing workbook part $part")
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    } finally zf.close()
  }

  test("--output-format excel writes a real xlsx workbook end-to-end (S8)") {
    val out = s"${Files.createTempDirectory("graft-xlsx-")}/changes.xlsx"
    EpssCli.run(spark, Seq("scores", "--store", store,
      "--date", "2024-01-02", "--output", out, "--output-format", "excel"))
    // all five OOXML parts present; sheet carries header + the quantized row
    for (part <- Seq("[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
        "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml"))
      zipPart(out, part)
    val sheet = zipPart(out, "xl/worksheets/sheet1.xml")
    assert(sheet.contains("<is><t>cve</t></is>"))      // header row
    assert(sheet.contains("<is><t>CVE-A</t></is>"))    // quantized change row
    assert(sheet.contains("<v>0.2</v>"))               // numeric cell, native type
    assert(!sheet.contains("CVE-B"), "first sighting must stay quantized out")
  }

  test("xlsx cells: native numerics, XML escaping, nulls as empty cells") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft-xlsx2-").toString
    val df = Seq((1L, "a<b&c>d\"e", Some(2.5)), (2L, "plain", None))
      .toDF("id", "s", "x").withColumn("flag", lit(true))
    graft.engine.Outputs.writeExcel(df.orderBy("id"), s"$dir/t.xlsx")
    val sheet = zipPart(s"$dir/t.xlsx", "xl/worksheets/sheet1.xml")
    assert(sheet.contains("<is><t>a&lt;b&amp;c&gt;d&quot;e</t></is>"))
    assert(sheet.contains("""<c r="A2"><v>1</v></c>"""))
    assert(sheet.contains("""<c r="D2" t="b"><v>1</v></c>"""))
    // null double -> no C3 cell at all in row 3
    assert(!sheet.contains("""<c r="C3"""))
    // column-letter arithmetic covers the AA rollover
    assert(graft.engine.Xlsx.colLetters(0) == "A" && graft.engine.Xlsx.colLetters(25) == "Z"
      && graft.engine.Xlsx.colLetters(26) == "AA" && graft.engine.Xlsx.colLetters(51) == "AZ"
      && graft.engine.Xlsx.colLetters(52) == "BA")
  }

  test("xlsx non-finite doubles become inline strings, not corrupt numeric cells") {
    val dir = Files.createTempDirectory("graft-xlsx3-").toString
    val df = Seq((1L, Double.NaN), (2L, Double.PositiveInfinity), (3L, 1.5))
      .toDF("id", "x")
    graft.engine.Outputs.writeExcel(df.orderBy("id"), s"$dir/nf.xlsx")
    val sheet = zipPart(s"$dir/nf.xlsx", "xl/worksheets/sheet1.xml")
    // <v>NaN</v> / <v>Infinity</v> are invalid OOXML numerics — must not appear
    assert(!sheet.contains("<v>NaN</v>") && !sheet.contains("<v>Infinity</v>"))
    assert(sheet.contains("<is><t>NaN</t></is>"))
    assert(sheet.contains("<is><t>Infinity</t></is>"))
    assert(sheet.contains("<v>1.5</v>")) // finite stays native numeric
  }

  test("console sinks print every row up to the cap and fail loudly past it") {
    val req = Seq("scores", "--store", store, "-a", "2024-01-01", "-b", "2024-01-02",
      "--no-drop-unchanged")
    for ((fmt, kind) <- Seq(Nil -> "table", Seq("--output-format", "json") -> "json",
        Seq("--output-format", "jsonl") -> "jsonl")) {
      val out = captureOut(EpssCli.run(spark, req ++ fmt, consoleCapRows = 3))
      assert("CVE-".r.findAllMatchIn(out).size == 3, s"$kind prints all 3 rows: $out")
      val e = intercept[IllegalArgumentException] {
        EpssCli.run(spark, req ++ fmt, consoleCapRows = 2)
      }
      assert(e.getMessage == s"requirement failed: console $kind output is a " +
        "driver-side sink for small results (> 2 rows); use --output for large outputs")
    }
  }

  test("excel to console fails loudly (workbook needs --output)") {
    val e = intercept[RuntimeException] {
      EpssCli.run(spark, Seq("scores", "--store", store,
        "--date", "2024-01-02", "--output-format", "excel"))
    }
    assert(e.getMessage.contains("requires --output"))
  }

  test("download ingests a local feed dir idempotently, no query output (cli.py:98-103 twin)") {
    val tmp = Files.createTempDirectory("graft-dl-").toString
    val feed = s"$tmp/feed"
    Files.createDirectory(java.nio.file.Paths.get(feed))
    for (d <- Seq("2024-03-01", "2024-03-02", "2024-03-03"))
      Files.writeString(java.nio.file.Paths.get(s"$feed/epss_scores-$d.csv"),
        s"cve,epss,percentile\nCVE-D,0.4,0.8\n")
    Files.writeString(java.nio.file.Paths.get(s"$feed/README.txt"), "not a feed")
    val root = s"$tmp/store"
    // range-clamped: only 03-01 and 03-02 requested
    val out1 = captureOut {
      EpssCli.run(spark, Seq("download", "--store", root, "--feed-dir", feed,
        "-a", "2024-03-01", "-b", "2024-03-02"))
    }
    assert(out1.trim == """{"feed_files": 2, "ingested": 2, "skipped": 0}""")
    // re-run over the full range: the two present dates skip, 03-03 ingests
    val out2 = captureOut {
      EpssCli.run(spark, Seq("download", "--store", root, "--feed-dir", feed))
    }
    assert(out2.trim == """{"feed_files": 3, "ingested": 1, "skipped": 2}""")
    val stored = ScoreStore.read(spark, root,
      java.time.LocalDate.parse("2024-03-01"), java.time.LocalDate.parse("2024-03-03"))
    assert(stored.count() == 3)
  }

  test("ingestMany skips already-present dates (S2 idempotence)") {
    val tmp = Files.createTempDirectory("graft-bulk-").toString
    val csv = s"$tmp/feed.csv"
    Files.writeString(java.nio.file.Paths.get(csv), "cve,epss,percentile\nCVE-X,0.5,0.9\n")
    val root = s"$tmp/store"
    val first = ScoreStore.ingestMany(spark, root, Seq(
      (java.time.LocalDate.parse("2024-02-01"), csv),
      (java.time.LocalDate.parse("2024-02-02"), csv)))
    assert(first.map(_.toString) == Seq("2024-02-01", "2024-02-02"))
    val second = ScoreStore.ingestMany(spark, root, Seq(
      (java.time.LocalDate.parse("2024-02-01"), csv),
      (java.time.LocalDate.parse("2024-02-03"), csv)))
    assert(second.map(_.toString) == Seq("2024-02-03"))
  }

  test("readLines filters blank lines (F7)") {
    val p = s"${Files.createTempDirectory("graft-lines-")}/ids.txt"
    Files.writeString(java.nio.file.Paths.get(p), "CVE-1\n\n  \nCVE-2\n")
    assert(IO.readLines(p) == Seq("CVE-1", "CVE-2"))
  }
}
