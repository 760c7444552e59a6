package graft.sources

import java.time.LocalDate

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListedParquet
import org.apache.spark.sql.types.DateType

import graft.engine.Schemas

/** Columnar snapshot store (SURVEY.md §1.4).
  *
  * Layout: Hive-partitioned parquet `root/date=YYYY-MM-DD/part-*.parquet`,
  * the idiomatic twin of the reference's one-file-per-date naming
  * `{workdir}/{YYYY-MM-DD}.parquet` (client.py:302-314). A flat-file layout
  * reader is kept for compatibility (S5: date inferred from the filename,
  * util.py:242-247).
  *
  * Listing contract: the days a store holds are the `date=` directory names
  * of ONE Hadoop-FS `listStatus` of `root` on the driver ([[list]]). That
  * listing alone answers [[maxDate]], picks the directories [[read]] scans
  * and is [[ingestMany]]'s skip-if-present set, so the three cannot
  * disagree. A missing root holds no days; a `date=` name that is not an
  * ISO date fails naming the directory and the store. [[read]] then lists
  * each in-window directory for its data files, also on the driver, and
  * hands Spark that file list, so Spark itself lists nothing.
  */
object ScoreStore {

  private val DatePattern = "(\\d{4}-\\d{2}-\\d{2})"

  /** One driver-side listing of a store root: its days with their partition
    * directories, ascending, and the root's Hadoop FileSystem. [[maxDate]],
    * [[read]] and the [[ChangeLog]]'s validation all take this value, so a
    * `scores` request lists the root once.
    */
  final case class Listing(root: String, fs: FileSystem, days: Seq[(LocalDate, Path)])

  /** List the store root once. Runs no Spark job. Uses the store path's
    * Hadoop FileSystem, not java.io, which sees nothing on hdfs:// or s3a://.
    */
  def list(spark: SparkSession, root: String): Listing = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days =
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
        .map { s =>
          val name = s.getPath.getName
          val day = Try(LocalDate.parse(name.stripPrefix("date="))).getOrElse(
            throw new IllegalArgumentException(
              s"store $root: partition dir $name is not date=YYYY-MM-DD"))
          day -> s.getPath
        }
        .sortBy(_._1.toEpochDay)
    Listing(root, fs, days)
  }

  /** Read the store over [min, max]. The scan is built from the driver's
    * listing alone: [[list]] picks the in-window `date=` directories, each
    * is listed once more on the driver for its data files, and the frame is
    * a parquet scan over exactly those files with the fixed
    * [[Schemas.storeSchema]], so building it infers no schema and runs no
    * Spark job, however long the window. A file or directory whose name
    * starts with `_` or `.` is not data (Spark's hidden-file rule: it keeps
    * out the `.crc` side files, `_SUCCESS` and a failed write's
    * `_temporary`); any other subdirectory of a `date=` directory fails
    * naming it. The directories are listed one after another: on a local
    * or HDFS store that is a few ms for a year of days, but on an object
    * store each listing is a round trip (tens of ms), so a full-window read
    * of a long history pays them in series, where Spark's own reader would
    * list more than 32 directories in a parallel job. A window with no
    * partitions yields an empty frame with the canonical columns and types.
    */
  def read(spark: SparkSession, listing: Listing, min: LocalDate, max: LocalDate): DataFrame = {
    val dirs = listing.days.collect {
      case (d, p) if !d.isBefore(min) && !d.isAfter(max) => p -> dataFiles(listing, p)
    }
    scan(spark, listing, dirs)
      .filter(col(Schemas.Date).between(
        lit(java.sql.Date.valueOf(min)), lit(java.sql.Date.valueOf(max))))
      .select(Schemas.scoreColumns.map(col): _*)
  }

  def read(spark: SparkSession, root: String, min: LocalDate, max: LocalDate): DataFrame =
    read(spark, list(spark, root), min, max)

  /** A parquet scan of `files` (`date=` directory → its data files) with
    * [[Schemas.storeSchema]]; an empty frame with those columns for none.
    */
  private[sources] def scan(spark: SparkSession, listing: Listing,
                            files: Seq[(Path, Seq[FileStatus])]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), Schemas.storeSchema)
    else ListedParquet(spark, new Path(listing.root), files, Schemas.storeSchema)

  /** The data files of one `date=` directory; see [[read]] for the rule. */
  private[sources] def dataFiles(listing: Listing, dir: Path): Seq[FileStatus] = {
    val (subdirs, files) = listing.fs.listStatus(dir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .partition(_.isDirectory)
    require(subdirs.isEmpty,
      s"store ${listing.root}: ${dir.getName} holds directory ${subdirs.head.getPath.getName}; " +
        "a date= dir holds only data files")
    files
  }

  /** Read with the quantization baseline: one extra day before `min` so the
    * first requested day has a diff baseline (intent of client.py:213-214,
    * SURVEY.md §2.13.1).
    */
  def readWithBaseline(spark: SparkSession, listing: Listing, min: LocalDate, max: LocalDate): DataFrame =
    read(spark, listing, min.minusDays(1), max)

  def readWithBaseline(spark: SparkSession, root: String, min: LocalDate, max: LocalDate): DataFrame =
    readWithBaseline(spark, list(spark, root), min, max)

  /** Write snapshots into the partitioned layout. Dynamic overwrite keeps
    * re-ingest of one day idempotent without clobbering other partitions —
    * the store-level twin of the reference's exists-check skip
    * (client.py:142, 173-175).
    */
  def write(df: DataFrame, root: String): Unit =
    df.write
      .partitionBy(Schemas.Date)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(root)

  /** S1: ingest one upstream snapshot CSV (optionally gzipped — Spark's CSV
    * reader decompresses by extension). Post-2022 feed files carry a one-line
    * `#model_version:...` comment header (client.py:185-188); Spark's
    * `comment` option subsumes the reference's skip_rows logic. The date is
    * stamped from the argument (client.py:478-496).
    */
  def ingestCsv(spark: SparkSession, path: String, date: LocalDate): DataFrame =
    spark.read
      .schema(Schemas.csvSchema)
      .option("header", "true")
      .option("comment", "#")
      .csv(path)
      .withColumn(Schemas.Date, lit(java.sql.Date.valueOf(date)))
      .select(Schemas.scoreColumns.map(col): _*)

  /** S5: flat-file layout — derive `date` from the filename
    * (`epss_scores-YYYY-MM-DD.csv.gz` / `YYYY-MM-DD.parquet`), the Spark twin
    * of util.py:242-247's regex inference.
    */
  def readFlatWithInferredDate(spark: SparkSession, glob: String, format: String = "parquet"): DataFrame = {
    val base = format match {
      case "csv" => spark.read.schema(Schemas.csvSchema)
        .option("header", "true").option("comment", "#").csv(glob)
      case "parquet" => spark.read.parquet(glob)
      case "json" | "jsonl" => spark.read.schema(Schemas.csvSchema).json(glob)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    val withDate =
      if (base.columns.contains(Schemas.Date)) base
      else base.withColumn(Schemas.Date,
        to_date(regexp_extract(input_file_name(), DatePattern, 1)))
    withDate.select(Schemas.scoreColumns.map(col): _*)
  }

  /** 100 TB store layout: date-PARTITIONED and cve-BUCKETED. Date-range
    * predicates prune partitions at the scan; the quantization window's
    * hash-distribution requirement on `cve` is satisfied by the bucketing,
    * so the flagship runs with NO shuffle of the dense data — the exchange
    * is paid once at ingest and amortized over every subsequent query.
    * Bucket count ≈ cluster cores at target scale (power of two).
    */
  def writeBucketedTable(df: DataFrame, table: String, buckets: Int): Unit =
    df.write
      .partitionBy(Schemas.Date)
      .bucketBy(buckets, Schemas.Cve)
      .sortBy(Schemas.Cve)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Pruned scan of the bucketed store (same contract as [[read]]). */
  def readBucketedTable(spark: SparkSession, table: String,
                        min: LocalDate, max: LocalDate): DataFrame =
    spark.table(table)
      .withColumn(Schemas.Date, col(Schemas.Date).cast(DateType))
      .filter(col(Schemas.Date).between(
        lit(java.sql.Date.valueOf(min)), lit(java.sql.Date.valueOf(max))))
      .select(Schemas.scoreColumns.map(col): _*)

  /** S2: bulk idempotent ingest — fan one-day CSV ingests across a date
    * range, skipping dates whose partition already exists in [[list]] (the
    * store-level twin of the reference's exists-check skip,
    * client.py:126-161). The per-file work is Spark-parallel; the loop is
    * driver-side control only.
    */
  def ingestMany(spark: SparkSession, root: String,
                 files: Seq[(LocalDate, String)]): Seq[LocalDate] = {
    val done = list(spark, root).days.map(_._1).toSet
    files.filterNot { case (d, _) => done.contains(d) }.map { case (d, path) =>
      write(ingestCsv(spark, path, d), root)
      d
    }
  }

  /** Max date present in the store — the offline twin of the reference's
    * network max-date discovery (client.py:386-402; SURVEY.md §7.6.4): the
    * last day of the [[list]] listing, with no Spark job. None for a missing
    * or empty store.
    */
  def maxDate(listing: Listing): Option[LocalDate] = listing.days.lastOption.map(_._1)

  def maxDate(spark: SparkSession, root: String): Option[LocalDate] = maxDate(list(spark, root))
}
