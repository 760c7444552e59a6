package graft.engine

import org.apache.spark.sql.{Column, DataFrame}

import graft.sources.IO

/** Result sinks (S4/S6/S7 — cli.py:166-182, util.py:33-52).
  *
  * `table` = console pretty-print (`pl.Config.set_tbl_rows(-1)` means the
  * reference prints ALL rows, cli.py:15-16 — [[printConsole]] prints every
  * row too, and fails loudly past a driver-side row cap). `json` console sink
  * relies on Spark rendering DateType as ISO-8601, which subsumes the
  * reference's custom encoder (json_encoder.py:5-9).
  */
object Outputs {

  /** The default row cap of every driver-side sink. */
  val DriverMaxRows = 1000000

  /** The driver-side fetch every collecting sink shares: `fetch` runs on
    * at most `maxRows + 1` rows of `df`, and more than `maxRows` fails
    * loudly naming the `sink` and the `alternative` for large outputs,
    * rather than silently truncating.
    */
  private def fetchBounded[T](df: DataFrame, maxRows: Int, sink: String,
                              alternative: String)(fetch: DataFrame => Array[T]): Array[T] = {
    val rows = fetch(df.limit(maxRows + 1))
    require(rows.length <= maxRows,
      s"$sink is a driver-side sink for small results (> $maxRows rows); " +
        s"use $alternative for large outputs")
    rows
  }

  /** The console sinks of `EpssCli scores` — every row or a loud failure
    * past `maxRows` ([[fetchBounded]]): `json` prints one array, `jsonl`
    * one object per line (S7), anything else a table with nothing
    * truncated.
    */
  def printConsole(df: DataFrame, format: Option[String], maxRows: Int): Unit = {
    val kind = format.filter(Set("json", "jsonl")).getOrElse("table")
    def fetch[T](f: DataFrame => Array[T]): Array[T] =
      fetchBounded(df, maxRows, s"console $kind output", "--output")(f)
    kind match {
      case "json" => println(fetch(_.toJSON.collect()).mkString("[", ",", "]"))
      case "jsonl" => fetch(_.toJSON.collect()).foreach(println)
      case _ =>
        val rows = fetch(_.collect())
        df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .show(rows.length, truncate = false)
    }
  }

  /** File sinks: csv / json(l) / parquet / orc via the shared IO layer, as
    * ONE part file whose rows are in `order`. One single-partition
    * exchange carries `df`'s rows, and the task that writes them sorts
    * them. A global `orderBy` would range-partition instead: sampling its
    * bounds runs the plan upstream of that exchange a second time, and a
    * `coalesce(1)` after it sorts every range in one task anyway.
    */
  def write(df: DataFrame, path: String, format: String, order: Seq[Column]): Unit =
    IO.write(df.repartition(1).sortWithinPartitions(order: _*), path, Some(format))

  /** S4 row-oriented JSON: the reference's `json` format writes one JSON
    * ARRAY (util.py:41-44), not JSONL. Spark writes JSONL per partition, so
    * exact array parity is assembled driver-side (SURVEY §7.6.3) — confined
    * to small results by `maxRows` (fails loudly rather than silently
    * truncating).
    */
  def writeJsonArray(df: DataFrame, path: String, maxRows: Int = DriverMaxRows): Unit = {
    val rows = fetchBounded(df, maxRows, "writeJsonArray", "format=jsonl")(
      _.toJSON.collect())
    writeDriverFile(df, path)(_.write(rows.mkString("[", ",", "]").getBytes("UTF-8")))
  }

  /** Write `path` from the driver through its Hadoop FileSystem, as every
    * other sink does, so `file:`, hdfs:// and s3a:// paths work the same as
    * plain ones. Checksum sidecars are disabled so a local write yields
    * report.xlsx, not a stray .report.xlsx.crc next to it (LocalFileSystem
    * is a ChecksumFileSystem). A PRIVATE FileSystem instance takes the
    * setting: FileSystem.get returns the JVM-wide cached instance, and
    * flipping writeChecksum on it would silently disable checksums for
    * every later write through that FileSystem.
    */
  private def writeDriverFile(df: DataFrame, path: String)(body: java.io.OutputStream => Unit): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(hp.toUri,
      df.sparkSession.sparkContext.hadoopConfiguration)
    try {
      fs.setWriteChecksum(false)
      val out = fs.create(hp, true)
      try body(out) finally out.close()
    } finally fs.close()
  }

  /** S8 Excel sink — a REAL driver-side xlsx writer, twin of the
    * reference's `df.write_excel` (README.md:285-289;
    * examples/get-excel-workbook-of-changed-epss-scores.py:44-49, which
    * likewise writes a collected small result from the driver). The
    * workbook is authored directly as the minimal OOXML package (zip of
    * five XML parts, inline strings — no shared-string table), so no
    * external spreadsheet library is needed. Numeric/boolean columns
    * become native cell types; everything else (strings, dates,
    * timestamps) is an inline string in its Spark `toString` rendering
    * (dates are ISO-8601, matching the JSON sink). Driver-side by design —
    * like the reference — so `maxRows` bounds it loudly.
    */
  def writeExcel(df: DataFrame, path: String, maxRows: Int = DriverMaxRows): Unit = {
    require(path.endsWith(".xlsx"), s"excel sink expects an .xlsx path, got $path")
    val rows = fetchBounded(df, maxRows, "writeExcel", "parquet/csv")(_.collect())
    writeDriverFile(df, path)(Xlsx.write(_, df.schema, rows))
  }
}
