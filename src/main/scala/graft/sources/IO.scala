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

  /** S4: write in the requested format. Distributed multi-part output by
    * default; `singleFile` coalesces to one part for small results (the
    * reference always writes one file — a driver-side pattern that does not
    * scale; keep it opt-in).
    */
  def write(df: DataFrame, path: String, format: Option[String] = None,
            singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val w = out.write.mode(SaveMode.Overwrite)
    formatOf(path, format) match {
      case "csv" => w.option("header", "true").csv(path)
      case "json" | "jsonl" | "ndjson" => w.json(path)
      case "parquet" => w.parquet(path)
      case "orc" => w.orc(path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** Lenient line-format ingest with corrupt-record ACCOUNTING: parse
    * `path` as jsonl/csv in PERMISSIVE mode with an explicit schema,
    * routing unparsable lines into `_corrupt_record` instead of failing
    * the job (a 100 TB feed always contains garbage rows; FAILFAST turns
    * one of them into a dead pipeline, silent DROPMALFORMED turns them
    * into unexplained row-count drift). Returns `(good, bad)` — the
    * clean typed rows, and the corrupt raw lines for quarantine — split
    * from ONE read.
    *
    * The caller must pass the schema: PERMISSIVE corrupt-record routing
    * is only defined against a declared shape (with inference there is
    * nothing to be corrupt AGAINST), and schema-on-read is the scalable
    * contract anyway (inference is an extra full pass over the feed).
    */
  def readLenient(spark: SparkSession, path: String, schema: StructType,
                  format: String = "jsonl"): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, from_csv, from_json, lit}
    require(format == "jsonl" || format == "csv",
      s"lenient mode covers line formats (jsonl/csv — headerless), got: $format")
    // read as TEXT and parse per line with from_json/from_csv: the raw
    // file reader forbids corrupt-column-only queries (SPARK-21610 —
    // the pruned scan would have nothing to be corrupt against), while
    // the per-line parser is an ordinary codegen'd expression with the
    // same PERMISSIVE routing and no such restriction
    val withCorrupt = schema.add("_corrupt_record", "string")
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    val parsedCol =
      if (format == "csv") from_csv(col("value"), withCorrupt, opts)
      else from_json(col("value"), withCorrupt,
        new java.util.HashMap[String, String](scala.jdk.CollectionConverters
          .MapHasAsJava(opts).asJava))
    val parsed = spark.read.text(path)
      .filter(org.apache.spark.sql.functions.length(col("value")) > 0)
      .select(col("value"), parsedCol.as("__p"))
    val good = parsed
      .filter(col("__p._corrupt_record").isNull && col("__p").isNotNull)
      .select(schema.fieldNames.map(f => col(s"__p.$f").as(f)).toSeq: _*)
    val bad = parsed
      .filter(col("__p._corrupt_record").isNotNull || col("__p").isNull)
      .select(col("value").as("raw_line"))
    (good, bad)
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
    write(read(spark, inGlob, Some("csv")), outPath, Some("csv"), singleFile = true)

  /** F7: non-blank lines of a driver-side text file (util.py:377-382 —
    * CVE-id list files for the `--cve-file` style inputs).
    */
  def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList
    finally src.close()
  }
}
