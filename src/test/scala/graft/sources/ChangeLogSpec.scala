package graft.sources

import java.io.File
import java.nio.file.Files
import java.sql.Date
import java.time.LocalDate

import graft.{EpssCli, SparkSpec}
import graft.engine.{Changes, Outputs, Score}
import graft.sources.ChangeLog.Served

/** The change log answers an unfiltered quantize exactly as the window path
  * does (rows and order), and says how: log used, extended, rebuilt, or the
  * window path. Stores are generated: CVEs appear part-way through, some
  * stop being scored, epss may move every third day.
  */
class ChangeLogSpec extends SparkSpec {
  import spark.implicits._

  private val start = LocalDate.parse("2023-12-20")
  private def day(i: Int): LocalDate = start.plusDays(i)

  /** Rows of 24 CVEs on days `from until to`; CVE k is scored from day
    * 2k/3 on, and every fifth one stops after day 20.
    */
  private def rows(from: Int, to: Int, seed: Long = 7L): Seq[Score] =
    for (i <- from until to; k <- 0 until 24 if i >= 2 * k / 3 && !(k % 5 == 4 && i > 20)) yield {
      val h = scala.util.hashing.MurmurHash3.productHash((seed, k, i / 3))
      val e = (Math.floorMod(h, 4) + k % 3) / 8.0
      Score(Date.valueOf(day(i)), f"CVE-2024-$k%03d", e, (i % 7) / 7.0)
    }

  private def newStore(rs: Seq[Score]): String = {
    val root = s"${Files.createTempDirectory("graft-log-")}/store"
    ScoreStore.write(rs.toDF(), root)
    root
  }

  /** `scores -a a -b b` through the CLI's parquet sink: its rows, in file
    * order, and how it was served.
    */
  private def quantize(root: String, a: LocalDate, b: LocalDate): (Seq[Score], Served) = {
    val out = s"${Files.createTempDirectory("graft-log-out-")}/q.parquet"
    val (_, args) = EpssCli.parseArgs(Seq("scores", "--store", root, "-a", a.toString,
      "-b", b.toString, "--output", out))
    val how = EpssCli.scores(spark, args, Outputs.DriverMaxRows)
    (spark.read.parquet(out).as[Score].collect().toSeq, how)
  }

  /** The window path's answer, in display order. */
  private def windowPath(root: String, a: LocalDate, b: LocalDate): Seq[Score] =
    Changes.changedScores(ScoreStore.readWithBaseline(spark, root, a, b), Some(a))
      .orderBy(EpssCli.DisplayOrder: _*).as[Score].collect().toSeq

  private def check(root: String, a: LocalDate, b: LocalDate, expected: Served): Seq[Score] = {
    val (got, how) = quantize(root, a, b)
    assert(how == expected, s"[$a, $b]: served by ${how.name}, expected ${expected.name}")
    val want = windowPath(root, a, b)
    assert(got == want, s"[$a, $b] (${how.name}): log rows differ from the window path")
    got
  }

  private def changes(root: String): File = new File(new File(root.stripPrefix("specfs://")), ChangeLog.Dir)
  private def gens(root: String): Set[String] =
    changes(root).listFiles().map(_.getName).filter(_.matches("g\\d+")).toSet

  test("the log answers like the window path: a gap day, first sightings, mid-history windows") {
    val gap = 7
    val root = newStore(rows(0, 30).filterNot(_.date == Date.valueOf(day(gap))))
    assert(check(root, day(1), day(29), Served.Rebuilt).nonEmpty)
    // first sightings inside the window (CVE k starts on day 2k/3), a
    // window starting the day after the gap (its baseline day is missing),
    // one starting on the gap, one-day windows and one before the store
    for ((a, b) <- Seq(day(2) -> day(12), day(gap + 1) -> day(20), day(gap) -> day(gap + 3),
           day(gap + 2) -> day(gap + 2), day(15) -> day(15), day(-5) -> day(3), day(0) -> day(29),
           day(10) -> day(40))) {
      check(root, a, b, Served.Log)
    }
    assert(windowPath(root, day(gap + 1), day(20)).exists(_.date == Date.valueOf(day(gap + 2))),
      "no change the day after the gap: the case is vacuous")
  }

  test("a window past the log's coverage extends it; days after b leave the log valid") {
    val root = newStore(rows(0, 20))                 // 2023-12-20 .. 2024-01-08
    check(root, day(1), day(19), Served.Rebuilt)
    ScoreStore.write(rows(20, 30).toDF(), root)       // 2024-01-09 .. 2024-01-18
    check(root, day(5), day(24), Served.Extended)
    // the extension rewrote January and the state; December stayed put
    assert(new File(changes(root), "g1/part=2023-12").isDirectory)
    assert(!new File(changes(root), "g2/part=2023-12").exists)
    assert(new File(changes(root), "g2/part=2024-01").isDirectory)
    assert(new File(changes(root), "g2/part=state").isDirectory)
    check(root, day(1), day(29), Served.Log)
    ScoreStore.write(rows(30, 31).toDF(), root)
    check(root, day(3), day(29), Served.Log)
    check(root, day(25), day(30), Served.Extended)
    check(root, day(0), day(30), Served.Log)
  }

  test("a day changed at or before the covered range rebuilds the log: out-of-order ingest, rewritten day") {
    val gap = 9
    val all = rows(0, 25)
    val root = newStore(all.filterNot(_.date == Date.valueOf(day(gap))))
    check(root, day(1), day(24), Served.Rebuilt)
    // the missing day arrives late
    ScoreStore.write(all.filter(_.date == Date.valueOf(day(gap))).toDF(), root)
    check(root, day(1), day(24), Served.Rebuilt)
    check(root, day(gap), day(gap + 2), Served.Log)
    // a covered day is rewritten with new content
    ScoreStore.write(rows(12, 13, seed = 99L).toDF(), root)
    assert(rows(12, 13, seed = 99L) != rows(12, 13))
    check(root, day(11), day(14), Served.Rebuilt)
    check(root, day(1), day(24), Served.Log)
  }

  test("a torn or foreign log is rebuilt, never used: no manifest, a missing month file, a foreign schema") {
    val root = newStore(rows(0, 22))
    def manifest: File = changes(root).listFiles().filter(_.getName.matches("manifest-\\d+")).maxBy(_.getName)
    def monthFile: File = changes(root).listFiles().filter(_.getName.matches("g\\d+"))
      .flatMap(_.listFiles()).filter(_.getName.matches("part=\\d{4}-\\d{2}"))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).head
    val tears: Seq[(String, () => Unit)] = Seq(
      "no manifest" -> (() => assert(manifest.delete())),
      "a manifest cut short" -> { () =>
        val m = manifest
        Files.writeString(m.toPath, Files.readString(m.toPath).stripSuffix("end\n"))
      },
      "a foreign manifest" -> (() => Files.writeString(manifest.toPath, "{\"version\": 2}\n")),
      "a missing month file" -> (() => assert(monthFile.delete())),
      "a month file of a foreign schema" -> { () =>
        val f = monthFile
        val dir = Files.createTempDirectory("graft-foreign-").toString
        Seq(("x", 1L)).toDF("a", "b").coalesce(1).write.parquet(s"$dir/f")
        val part = new File(s"$dir/f").listFiles().filter(_.getName.endsWith(".parquet")).head
        assert(f.delete())
        Files.copy(part.toPath, f.toPath)
      })
    check(root, day(1), day(21), Served.Rebuilt)
    for ((name, tear) <- tears) {
      tear()
      withClue(s"$name: ") {
        check(root, day(2), day(21), Served.Rebuilt)
        check(root, day(4), day(18), Served.Log)
      }
    }
    // every superseded generation but the last one is gone
    assert(gens(root).size <= 2, gens(root))
  }

  test("a read-only store is answered from the window path and left as it was") {
    SpecFs.register(spark)
    val local = newStore(rows(0, 20))
    val root = SpecFs.uri(local)
    check(root, day(1), day(19), Served.Rebuilt)
    SpecFs.readOnly(local)
    check(root, day(2), day(19), Served.Log)              // reading needs no write
    ScoreStore.write(rows(20, 22).toDF(), local)          // a new day, by another writer
    val before = changes(local).list().toSet
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
      check(root, day(1), day(21), Served.Window)
    }
    assert(err.toString("UTF-8").linesIterator.count(_.contains("could not be written")) == 1,
      err.toString("UTF-8"))
    assert(changes(local).list().toSet == before)
    check(root, day(2), day(19), Served.Log)
  }

  test("the store's visible layout is unchanged: */*.parquet holds only date= data files") {
    val all = rows(0, 26)
    val root = newStore(all.filter(_.date.before(Date.valueOf(day(20)))))
    check(root, day(1), day(19), Served.Rebuilt)
    ScoreStore.write(all.filterNot(_.date.before(Date.valueOf(day(20)))).toDF(), root)
    check(root, day(1), day(25), Served.Extended)
    // DuckDB's and perfbench's glob: <root>/*/*.parquet
    val matched = new File(root).listFiles().filter(_.isDirectory)
      .flatMap(d => d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).map(d.getName -> _))
    assert(matched.nonEmpty && matched.forall(_._1.startsWith("date=")), matched.map(_._1).distinct.toSeq)
    assert(changes(root).isDirectory)
    val back = spark.read.parquet(root)
    assert(back.columns.toSet == Set("date", "cve", "epss", "percentile"))
    assert(back.select("date", "cve", "epss", "percentile").as[Score].collect().toSet == all.toSet)
    assert(back.count() == all.size)
  }
}
