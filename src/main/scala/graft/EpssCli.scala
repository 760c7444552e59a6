package graft

import java.time.LocalDate

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine._
import graft.sources.{ChangeLog, ScoreStore}

/** The reference's CLI surface (cli.py:27-163) re-expressed over the engine:
  *
  *   scores --store DIR [-a MIN] [-b MAX] [--date D] [--no-drop-unchanged]
  *          [--min-epss X] [--max-epss X] [--min-percentile X] [--max-percentile X]
  *          [--cve ID]... [--output-format table|csv|json|jsonl|parquet] [--output PATH]
  *   urls [-a MIN] [-b MAX | --date D]
  *   date-range --store DIR
  *   download --store DIR --feed-dir DIR [-a MIN] [-b MAX | --date D]
  *
  * Quantization (drop-unchanged) is the DEFAULT, matching the reference
  * (cli.py `--drop-unchanged/--no-drop-unchanged`, default=True). `--date D`
  * collapses to min=max (cli.py:93-95, 132-134). Max-date discovery is
  * offline from the store listing (SURVEY.md §7.6.4). Output default is the
  * console table with no row cap (cli.py:15-16); file output format is
  * inferred from the path extension when not given.
  */
object EpssCli {

  /** O2 display order of `scores` output (cli.py:111-113 intent): date
    * asc, epss desc, cve desc. The file sinks write it as one sorted part
    * file ([[Outputs.write]]); the console, json and xlsx sinks fetch a
    * bounded `orderBy` of it, which Spark plans as one TakeOrdered job.
    */
  private[graft] val DisplayOrder: Seq[Column] =
    Seq(col("date").asc, col("epss").desc, col("cve").desc)

  final case class Args(m: Map[String, List[String]]) {
    def one(k: String): Option[String] = m.get(k).flatMap(_.headOption)
    def all(k: String): List[String] = m.getOrElse(k, Nil)
    def flag(k: String): Boolean = m.contains(k)
  }

  /** Canonical names + reference short/long spellings (cli.py:27-95). */
  private val Aliases = Map(
    "d" -> "date", "o" -> "output", "f" -> "output-format",
    "min-date" -> "a", "max-date" -> "b")

  private val KnownKeys: Map[String, Set[String]] = Map(
    "scores" -> Set("store", "a", "b", "date", "no-drop-unchanged", "drop-unchanged",
      "min-epss", "max-epss", "min-percentile", "max-percentile", "cve", "cve-file",
      "include-v1-scores", "include-v2-scores", "no-include-v3-scores",
      "output", "output-format"),
    "urls" -> Set("a", "b", "date"),
    "date-range" -> Set("store"),
    "download" -> Set("store", "feed-dir", "a", "b", "date"))

  /** Options that take NO value; every other known option requires one.
    * (cli.py's boolean switches: --drop-unchanged/--no-drop-unchanged.)
    */
  private val BooleanFlags = Set("no-drop-unchanged", "drop-unchanged",
    "include-v1-scores", "include-v2-scores", "no-include-v3-scores")

  def parseArgs(argv: Seq[String]): (String, Args) = {
    require(argv.nonEmpty, "usage: scores|urls|date-range|download [options]")
    val cmd = argv.head
    val m = scala.collection.mutable.Map.empty[String, List[String]]
    var i = 1
    while (i < argv.length) {
      val tok = argv(i)
      require(tok.startsWith("-"), s"unexpected positional argument '$tok' for command $cmd")
      val k0 = tok.dropWhile(_ == '-')
      val k = Aliases.getOrElse(k0, k0)
      // unknown flags fail loudly instead of silently changing the query
      require(KnownKeys.get(cmd).forall(_.contains(k)),
        s"unknown option --$k0 for command $cmd")
      if (BooleanFlags.contains(k)) {
        m(k) = m.getOrElse(k, Nil); i += 1
      } else {
        // value-taking option: the NEXT token is its value — '-'-prefixed
        // values are fine (negative numbers) UNLESS the token is itself a
        // known option, which means the value is missing; either way a
        // missing value is an error, never a silently-dropped filter
        require(i + 1 < argv.length, s"option --$k0 requires a value")
        val next = argv(i + 1)
        val nextKey = Aliases.getOrElse(next.dropWhile(_ == '-'), next.dropWhile(_ == '-'))
        require(!(next.startsWith("-") &&
          KnownKeys.get(cmd).exists(_.contains(nextKey))),
          s"option --$k0 requires a value but was followed by option $next")
        m(k) = m.getOrElse(k, Nil) :+ next; i += 2
      }
    }
    (cmd, Args(m.toMap))
  }

  def run(spark: SparkSession, argv: Seq[String]): Unit =
    run(spark, argv, Outputs.DriverMaxRows)

  /** [[run]] with an explicit cap on the rows `scores` prints to the
    * console; more fails loudly.
    */
  private[graft] def run(spark: SparkSession, argv: Seq[String],
                         consoleCapRows: Int): Unit = {
    val (cmd, a) = parseArgs(argv)
    cmd match {
      case "scores" => scores(spark, a, consoleCapRows)
      case "urls" =>
        // --date collapses to min=max (cli.py:132-134); without a store
        // there is no offline "latest" date, so max defaults to min
        val date = a.one("date").map(LocalDate.parse)
        val min = date.orElse(a.one("a").map(LocalDate.parse)).getOrElse(DateRanges.V3MinDate)
        val max = date.orElse(a.one("b").map(LocalDate.parse)).getOrElse(min)
        DateRanges.urlsInRange(min, max).foreach(println)
      case "date-range" =>
        val store = a.one("store").getOrElse(sys.error("--store required"))
        val maxD = ScoreStore.maxDate(spark, store)
        println(s"""{"min_date": "${DateRanges.V3MinDate}", "max_date": "${maxD.getOrElse("")}"}""")
      case "download" => download(spark, a)
      case other => sys.error(s"unknown command: $other")
    }
  }

  /** Feed-file naming from the published feed (client.py:292-330 iter_urls):
    * `epss_scores-YYYY-MM-DD.csv[.gz]`.
    */
  private val FeedName = """epss_scores-(\d{4}-\d{2}-\d{2})\.csv(\.gz)?""".r

  /** `download` — the fetch-only CLI mode (cli.py:98-103): acquire scores
    * into the store WITHOUT producing query output. The sandbox has no
    * network, so "fetch" is ingest from a local feed directory of
    * already-downloaded daily files; the skip-if-present idempotence is
    * ingestMany's (the client.py:126-161 exists-check twin). Prints one
    * JSON summary line instead of rows.
    */
  private def download(spark: SparkSession, a: Args): Unit = {
    val store = a.one("store").getOrElse(sys.error("--store required"))
    val feedDir = a.one("feed-dir").getOrElse(sys.error("--feed-dir required"))
    val date = a.one("date").map(LocalDate.parse)
    val min = date.orElse(a.one("a").map(LocalDate.parse))
    val max = date.orElse(a.one("b").map(LocalDate.parse))
    // list feed files through the Hadoop FS (same rationale as ingestMany:
    // java.io sees nothing on hdfs:// or s3a:// feed mirrors)
    val p = new org.apache.hadoop.fs.Path(feedDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"feed dir not found: $feedDir")
    val feeds = fs.listStatus(p).toSeq.map(_.getPath).flatMap { fp =>
      fp.getName match {
        case FeedName(d, _) => Some(LocalDate.parse(d) -> fp.toString)
        case _ => None // non-feed files in the dir are not an error
      }
    }.filter { case (d, _) =>
      min.forall(!d.isBefore(_)) && max.forall(!d.isAfter(_))
    }.sortBy(_._1.toString)
    val ingested = ScoreStore.ingestMany(spark, store, feeds)
    println(s"""{"feed_files": ${feeds.size}, "ingested": ${ingested.size}, """ +
      s""""skipped": ${feeds.size - ingested.size}}""")
  }

  /** `scores`, answered and written to its sink; returns how it was
    * answered. An unfiltered quantize (no `--cve`, epss or percentile
    * bound, no `--no-drop-unchanged`) is served from the store's
    * [[ChangeLog]]; every other request, and a quantize over a store the
    * log cannot be written to, from the store's dense rows.
    */
  private[graft] def scores(spark: SparkSession, a: Args, consoleCapRows: Int): ChangeLog.Served = {
    val store = a.one("store").getOrElse(sys.error("--store required"))
    val listing = ScoreStore.list(spark, store)
    val latest = ScoreStore.maxDate(listing).getOrElse(sys.error(s"empty store: $store"))
    val date = a.one("date").map(LocalDate.parse)
    // model-epoch inclusion flags (cli.py include_v{1,2,3}_scores):
    // requested ranges clamp to the selected epoch window
    val window = DateRanges.VersionWindow(
      v1 = a.flag("include-v1-scores"),
      v2 = a.flag("include-v2-scores"),
      v3 = !a.flag("no-include-v3-scores"))
    val (min, max) = DateRanges.resolve(
      date.orElse(a.one("a").map(LocalDate.parse)),
      date.orElse(a.one("b").map(LocalDate.parse)),
      latest, window)
    // --cve-file: non-blank lines of an id-list file (F7, util.py:377-382),
    // merged with any inline --cve flags
    val fileIds = a.all("cve-file").flatMap(graft.sources.IO.readLines)
    val q = EpssQuery(
      cveIds = Option(a.all("cve") ++ fileIds).filter(_.nonEmpty),
      minEpss = a.one("min-epss").map(_.toDouble),
      maxEpss = a.one("max-epss").map(_.toDouble),
      minPercentile = a.one("min-percentile").map(_.toDouble),
      maxPercentile = a.one("max-percentile").map(_.toDouble))
    // quantization is the DEFAULT, like the reference
    // (cli.py: --drop-unchanged/--no-drop-unchanged, default=True);
    // changedScores' own O1 sort is dropped by the optimizer under either
    // sink's sort, so every sink sorts once, in DisplayOrder
    def windowed = Changes.changedScores(
      ScoreStore.readWithBaseline(spark, listing, min, max).transform(q.filter),
      minDate = Some(min)) -> ChangeLog.Served.Window
    val (unordered, served) =
      if (a.flag("no-drop-unchanged"))
        ScoreStore.read(spark, listing, min, max).transform(q.filter) -> ChangeLog.Served.Window
      else if (q == EpssQuery()) ChangeLog.quantize(spark, listing, min, max).getOrElse(windowed)
      else windowed
    def ordered = unordered.orderBy(DisplayOrder: _*)
    val fmt = a.one("output").map(p => graft.sources.IO.formatOf(p, a.one("output-format")))
      .orElse(a.one("output-format"))
    (a.one("output"), fmt) match {
      // reference json = ONE array file (util.py:44 row_oriented)
      case (Some(path), Some("json")) => Outputs.writeJsonArray(ordered, path)
      // S8: real xlsx workbook (driver-side, like the reference's write_excel)
      case (Some(path), Some("excel" | "xlsx")) => Outputs.writeExcel(ordered, path)
      case (None, Some("excel" | "xlsx")) =>
        sys.error("excel output requires --output PATH (a workbook cannot go to the console)")
      case (Some(path), f) => Outputs.write(unordered, path, f.getOrElse("parquet"), DisplayOrder)
      case (None, f) => Outputs.printConsole(ordered, f, consoleCapRows)
    }
    served
  }

  def main(argv: Array[String]): Unit = {
    val spark = Session(4, sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)
    try run(spark, argv.toSeq) finally spark.stop()
  }
}
