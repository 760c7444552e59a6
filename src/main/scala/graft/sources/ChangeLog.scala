package graft.sources

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListedParquet
import org.apache.spark.sql.types.{DateType, DoubleType, StringType, StructField, StructType}

import graft.engine.{Changes, Schemas}

/** The change log a [[ScoreStore]] keeps beside its data: every store row
  * whose epss differs from its CVE's previous row, with that row's date as
  * `prev_date` ([[Changes.changeLogPass]]). A full-window quantize reads
  * these ~1–2% of the rows instead of shuffling, sorting and windowing all
  * of them: quantizing `[a, b]` is the log rows with `date ∈ [a, b]` and
  * `prev_date ≥ a − 1`, exactly the window path's answer over `[a − 1, b]`.
  *
  * Layout, under `<root>/_changes/` (the `_` prefix hides it from the
  * store's listing and from `spark.read.parquet(root)`, and no file in it
  * is a `.parquet` file one directory below the root, the glob that other
  * readers of the store, such as DuckDB, use):
  *   - `g<N>/part=YYYY-MM/part-*.parquet`: one file of log rows per
  *     calendar month (the per-file open cost makes one file per day twice
  *     as slow to read);
  *   - `g<N>/part=state/part-*.parquet`: each CVE's last row at the last
  *     covered day, the baseline an extension diffs against;
  *   - `manifest-<N>`: generation `N`, and for every covered day that day's
  *     data files (name, length, modification time) as the build's listing
  *     saw them, then every log and state file the same way. It is written
  *     last and published by renaming it into place, so a reader sees a
  *     whole generation or none. Month files an extension did not touch
  *     stay in the generation that wrote them.
  *
  * Validity: a request over `[a, b]` uses the log only if every `date=`
  * directory at or before `b` matches the manifest; days after `b` cannot
  * change its answer. A missing, torn or foreign manifest, or a log file
  * that is not as the manifest recorded it, is never used to answer.
  *
  * Maintenance, done by the request that finds the log out of date: days
  * after the covered range are added by one window over the state plus the
  * new days, rewriting the touched month files and the state; any other
  * difference rebuilds the log with one window over the whole store.
  * Ingest and [[ScoreStore.write]] do not touch the log.
  */
object ChangeLog {

  val Dir = "_changes"

  /** How a `scores` request was answered. */
  sealed abstract class Served(val name: String)
  object Served {
    case object Log extends Served("log used")
    case object Extended extends Served("log extended")
    case object Rebuilt extends Served("log rebuilt")
    /** From the store's dense rows: a filtered or unquantized request, or
      * a store the log could not be written to.
      */
    case object Window extends Served("window path")
  }

  private val Magic = "graft-changelog\t1"
  private val ManifestName = "manifest-(\\d+)".r
  private val GenName = "g(\\d+)".r
  private val Part = "part"
  private val State = "state"

  private val logSchema = StructType(Seq(
    StructField(Schemas.Date, DateType), StructField(Schemas.Cve, StringType),
    StructField(Schemas.Epss, DoubleType), StructField(Schemas.Percentile, DoubleType),
    StructField(Changes.PrevDate, DateType)))

  /** A file as a listing saw it; a log file's `name` is its path under
    * `_changes/`, a data file's its name in its `date=` directory.
    */
  private final case class Seen(name: String, length: Long, mtime: Long) {
    def line: String = s"$name\t$length\t$mtime"
  }
  private def seen(s: FileStatus, name: String): Seen = Seen(name, s.getLen, s.getModificationTime)

  private final case class Manifest(gen: Long, days: Map[LocalDate, Set[Seen]],
                                    months: Map[String, Seq[Seen]], state: Seq[Seen]) {
    def last: LocalDate = days.keys.maxBy(_.toEpochDay)
    def logFiles: Seq[Seen] = months.values.flatten.toSeq ++ state
    def text: String = (Seq(s"$Magic\t$gen") ++
      days.toSeq.sortBy(_._1.toEpochDay).map { case (d, fs) =>
        (s"day\t$d" +: fs.toSeq.sortBy(_.name).map(_.line)).mkString("\t") } ++
      months.toSeq.sortBy(_._1).flatMap { case (m, fs) => fs.map(f => s"log\t$m\t${f.line}") } ++
      state.map(f => s"state\t${f.line}") :+ "end").mkString("", "\n", "\n")
  }

  private def parse(text: String, gen: Long): Manifest = {
    val lines = text.split("\n").toSeq
    require(lines.headOption.contains(s"$Magic\t$gen") && lines.lastOption.contains("end"),
      "not a whole manifest of this format")
    def seenAt(f: Array[String], i: Int) = Seen(f(i), f(i + 1).toLong, f(i + 2).toLong)
    val fields = lines.slice(1, lines.size - 1).map(_.split("\t", -1))
    val days = fields.collect { case f if f(0) == "day" =>
      require((f.length - 2) % 3 == 0, s"bad day line ${f.mkString(" ")}")
      LocalDate.parse(f(1)) -> (2 until f.length by 3).map(seenAt(f, _)).toSet
    }
    val months = fields.collect { case f if f(0) == "log" && f.length == 5 => f(1) -> seenAt(f, 2) }
    val state = fields.collect { case f if f(0) == "state" && f.length == 4 => seenAt(f, 1) }
    require(days.nonEmpty && days.size + months.size + state.size == fields.size,
      "unknown manifest lines")
    Manifest(gen, days.toMap, months.groupMap(_._1)(_._2), state)
  }

  /** A day of the store: its date, its `date=` directory and its data files. */
  private type Day = (LocalDate, Path, Seq[FileStatus])

  private def seenDays(days: Seq[Day]): Map[LocalDate, Set[Seen]] =
    days.map { case (d, _, fs) => d -> fs.map(s => seen(s, s.getPath.getName)).toSet }.toMap

  /** A published generation: its manifest and the status of each log file. */
  private final case class Log(m: Manifest, files: Map[String, FileStatus]) {
    def statuses(fs: Seq[Seen]): Seq[FileStatus] = fs.map(f => files(f.name))
  }

  /** The quantized change log over `[min, max]`, served from the log of
    * `listing`'s store, and how: used as it stands, extended by new days,
    * or rebuilt. None when the log cannot be written; the request is then
    * for the window path, and one line on stderr says why.
    */
  def quantize(spark: SparkSession, listing: ScoreStore.Listing,
               min: LocalDate, max: LocalDate): Option[(DataFrame, Served)] = {
    val fs = listing.fs
    val dir = new Path(listing.root, Dir)
    val entries = if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath.getName) else Nil
    val gen = entries.collect { case ManifestName(n) => n.toLong; case GenName(n) => n.toLong }
      .maxOption.getOrElse(0L) + 1
    // the newest manifest, if it is whole and every log file is as it recorded
    val current = entries.collect { case ManifestName(n) => n.toLong }.maxOption.flatMap { g =>
      Try {
        val in = fs.open(new Path(dir, s"manifest-$g"))
        val m = try parse(new String(in.readAllBytes(), StandardCharsets.UTF_8), g) finally in.close()
        Log(m, m.logFiles.map { f =>
          val s = fs.getFileStatus(new Path(dir, f.name))
          require(seen(s, f.name) == f, s"${f.name} is not as recorded")
          f.name -> s
        }.toMap)
      }.toOption
    }
    val listed: Seq[Day] = listing.days.filter(!_._1.isAfter(max))
      .map { case (d, p) => (d, p, ScoreStore.dataFiles(listing, p)) }
    val listedOn = listed.map(d => d._1 -> d).toMap
    def withFiles(days: Seq[(LocalDate, Path)]): Seq[Day] = days.map { case (d, p) =>
      listedOn.getOrElse(d, (d, p, ScoreStore.dataFiles(listing, p)))
    }
    val valid = current.filter { log =>
      val end = if (log.m.last.isBefore(max)) log.m.last else max
      seenDays(listed).filter(!_._1.isAfter(end)) == log.m.days.filter(!_._1.isAfter(end))
    }
    val served = valid match {
      case Some(log) if !listed.exists(_._1.isAfter(log.m.last)) => Some((log, Served.Log))
      case _ =>
        try valid match {
          case Some(log) =>
            val fresh = withFiles(listing.days.filter(_._1.isAfter(log.m.last)))
            Some((extend(spark, listing, dir, gen, log, fresh), Served.Extended))
          case None =>
            val days = withFiles(listing.days)
            val pass = Changes.changeLogPass(ScoreStore.scan(spark, listing, days.map(d => d._2 -> d._3)))
            Some((publish(listing, dir, gen, write(listing, dir, gen, pass, None),
              seenDays(days), current), Served.Rebuilt))
        } catch {
          case NonFatal(e) =>
            Try(fs.delete(new Path(dir, s"g$gen"), true))
            Try(fs.delete(new Path(dir, s"_manifest-$gen"), false))
            Console.err.println(s"scores: answered from the store; its change log under $dir " +
              s"could not be written: ${e.getMessage}")
            None
        }
    }
    served.map { case (log, how) =>
      val months = log.m.months.filter { case (mo, _) => mo >= month(min) && mo <= month(max) }
      val rows = read(spark, log.statuses(months.values.flatten.toSeq), logSchema)
        .filter(col(Schemas.Date).between(lit(sqlDate(min)), lit(sqlDate(max))) &&
          col(Changes.PrevDate) >= lit(sqlDate(min.minusDays(1))))
        .select(Schemas.scoreColumns.map(col): _*)
      (rows, how)
    }
  }

  private def sqlDate(d: LocalDate) = java.sql.Date.valueOf(d)
  private def month(d: LocalDate): String = d.toString.take(7)

  private def read(spark: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame =
    if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else ListedParquet.files(spark, files, schema)

  /** `log` extended by the `fresh` days after its last one: one window over
    * the state plus those days. The months of the fresh days are rewritten
    * with their old rows plus the new ones; the other months stay where
    * they are.
    */
  private def extend(spark: SparkSession, listing: ScoreStore.Listing, dir: Path, gen: Long,
                     log: Log, fresh: Seq[Day]): Log = {
    val state = read(spark, log.statuses(log.m.state), logSchema).drop(Changes.PrevDate)
    val rows = state.unionByName(ScoreStore.scan(spark, listing, fresh.map(d => d._2 -> d._3)))
    val touched = fresh.map(d => month(d._1)).toSet
    val kept = read(spark, log.statuses(log.m.months.filter(e => touched(e._1)).values.flatten.toSeq),
      logSchema)
    val written = write(listing, dir, gen, Changes.changeLogPass(rows), Some(kept))
    publish(listing, dir, gen, written.copy(months = log.m.months -- touched ++ written.months),
      log.m.days ++ seenDays(fresh), Some(log))
  }

  /** The files of one generation: each month's log files and the state. */
  private final case class Written(months: Map[String, Seq[Seen]], state: Seq[Seen],
                                   files: Map[String, FileStatus])

  /** Write generation `gen` in one job from a [[Changes.changeLogPass]]
    * result plus the `kept` log rows of the months it rewrites: one file
    * per month of changed rows, and the state, one file of each CVE's last
    * row.
    */
  private def write(listing: ScoreStore.Listing, dir: Path, gen: Long,
                    pass: DataFrame, kept: Option[DataFrame]): Written = {
    val fs = listing.fs
    val genDir = new Path(dir, s"g$gen")
    // fail before any job on a store that cannot be written: Spark runs a
    // write's shuffles before its committer makes the output directory
    if (!fs.mkdirs(genDir)) throw new java.io.IOException(s"cannot create $genDir")
    def monthOf(c: Column) = date_format(c, "yyyy-MM")
    // a row that is both a change and its CVE's last row goes to both files
    val part = explode(filter(array(
      when(col("changed"), monthOf(col(Schemas.Date))), when(col("last"), lit(State))), _.isNotNull))
    val rows = pass.select(logSchema.fieldNames.map(col) :+ part.as(Part): _*)
    kept.fold(rows)(k => rows.unionByName(k.withColumn(Part, monthOf(col(Schemas.Date)))))
      .repartition(col(Part))
      .write.mode("append").partitionBy(Part).parquet(genDir.toString)  // into the fresh, empty genDir
    val parts = fs.listStatus(genDir).toSeq.filter(_.isDirectory).map { d =>
      d.getPath.getName.stripPrefix(s"$Part=") -> fs.listStatus(d.getPath).toSeq
        .filterNot(s => s.isDirectory || s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .map(s => seen(s, s"g$gen/${d.getPath.getName}/${s.getPath.getName}") -> s)
    }.toMap
    Written((parts - State).map { case (m, files) => m -> files.map(_._1) },
      parts.getOrElse(State, Nil).map(_._1), parts.values.flatten.map { case (f, s) => f.name -> s }.toMap)
  }

  /** Publish generation `gen`: write its manifest beside the log and rename
    * it into place, then delete every older generation except the one it
    * replaces, which a reader may still be reading.
    */
  private def publish(listing: ScoreStore.Listing, dir: Path, gen: Long, written: Written,
                      days: Map[LocalDate, Set[Seen]], previous: Option[Log]): Log = {
    val fs = listing.fs
    val m = Manifest(gen, days, written.months, written.state)
    val tmp = new Path(dir, s"_manifest-$gen")
    val out = fs.create(tmp, false)
    try out.write(m.text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, new Path(dir, s"manifest-$gen")))
      throw new java.io.IOException(s"could not rename $tmp to manifest-$gen")
    val keep = (m +: previous.map(_.m).toSeq).flatMap { x =>
      s"manifest-${x.gen}" +: x.logFiles.map(_.name.takeWhile(_ != '/'))
    }.toSet
    Try(fs.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case ManifestName(_) | GenName(_) if !keep(p.getName) => fs.delete(p, true)
        case _ =>
      }
    })
    val names = m.logFiles.map(_.name).toSet
    Log(m, (previous.map(_.files).getOrElse(Map.empty) ++ written.files).filter(e => names(e._1)))
  }
}
