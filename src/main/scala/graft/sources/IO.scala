package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Multi-format readers/writers (S3/S4/S9/S10 — util.py:15-52, 69-119).
  *
  * Formats: csv, json (array), jsonl (ndjson), parquet, orc (beyond the
  * reference's four — the other columnar format large pipelines exchange).
  * JSONL is Spark's native json source; JSON-array reads via `multiLine`.
  * Spark renders DateType as ISO-8601 in json/csv sinks, subsuming the
  * reference's custom encoder (json_encoder.py:5-9).
  */
object IO {

  val Formats: Set[String] = Set("csv", "json", "jsonl", "parquet", "orc")

  /** Format from explicit arg or the file BASENAME's extension (dots in
    * directory names must not leak into inference).
    */
  def formatOf(path: String, format: Option[String]): String =
    format.getOrElse {
      val base = path.split('/').last.replaceAll("\\.gz$", "")
      val ext = base.split('.')
      require(ext.length > 1, s"cannot infer format from extension-less path: $path")
      ext.last.toLowerCase
    }

  /** S3: dispatch on extension (or explicit format) → DataFrame. */
  def read(spark: SparkSession, path: String, format: Option[String] = None,
           schema: Option[StructType] = None): DataFrame = {
    val r0 = spark.read
    val r = schema.fold(r0.option("inferSchema", "true"))(r0.schema)
    formatOf(path, format) match {
      case "csv" => r.option("header", "true").option("comment", "#").csv(path)
      case "jsonl" | "ndjson" => r.json(path)
      case "json" => r.option("multiLine", "true").json(path)
      case "parquet" => spark.read.parquet(path)
      case "orc" => spark.read.orc(path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** S4: write in the requested format, one part file per partition of
    * `df`. A caller that wants one file makes `df` one partition first
    * ([[mergeCsvDir]]'s `coalesce(1)`); one file in a given order is
    * `df.repartition(1).sortWithinPartitions(order)`
    * ([[graft.engine.Outputs.write]]), not a global `orderBy`, whose
    * range sampling runs the plan upstream of it twice.
    */
  def write(df: DataFrame, path: String, format: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    formatOf(path, format) match {
      case "csv" => w.option("header", "true").csv(path)
      case "json" | "jsonl" | "ndjson" => w.json(path)
      case "parquet" => w.parquet(path)
      case "orc" => w.orc(path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** S9: directory-level re-encode (util.py:69-119) — one declarative
    * read→write; Spark parallelizes per file split, replacing the
    * reference's thread pool.
    */
  def convert(spark: SparkSession, inPath: String, outPath: String,
              inFormat: String, outFormat: String, schema: Option[StructType] = None): Unit =
    write(read(spark, inPath, Some(inFormat), schema), outPath, Some(outFormat))

  /** S10: merge many csv(.gz) shards into one (scripts/merge-dir.sh). */
  def mergeCsvDir(spark: SparkSession, inGlob: String, outPath: String): Unit =
    write(read(spark, inGlob, Some("csv")).coalesce(1), outPath, Some("csv"))

  /** F7: non-blank lines of a driver-side text file (util.py:377-382 —
    * CVE-id list files for the `--cve-file` style inputs).
    */
  def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList
    finally src.close()
  }
}
