package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.engine.Schemas

/** Multi-format round-trips (S3/S4/S9/S10). */
class IOSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-io-").toString
  private lazy val df = Seq(("CVE-A", 0.1, 0.5), ("CVE-B", 0.2, 0.6))
    .toDF("cve", "epss", "percentile")

  for (fmt <- Seq("csv", "jsonl", "parquet", "orc")) {
    test(s"$fmt round-trip preserves rows") {
      val path = s"$tmp/rt.$fmt"
      IO.write(df, path, Some(fmt))
      val back = IO.read(spark, path, Some(fmt),
        schema = if (fmt == "parquet" || fmt == "orc") None else Some(Schemas.csvSchema))
      assert(back.select("cve", "epss", "percentile").as[(String, Double, Double)]
        .collect().toSet == df.as[(String, Double, Double)].collect().toSet)
    }
  }

  test("convert re-encodes a directory (S9)") {
    val in = s"$tmp/in.csv"
    val out = s"$tmp/out.parquet"
    IO.write(df, in, Some("csv"))
    IO.convert(spark, in, out, "csv", "parquet", Some(Schemas.csvSchema))
    assert(IO.read(spark, out, Some("parquet")).count() == 2)
  }

  test("mergeCsvDir merges csv and csv.gz shards into one part file (S10)") {
    val shards = java.nio.file.Paths.get(s"$tmp/shards")
    Files.createDirectories(shards)
    val header = "cve,epss,percentile\n"
    Files.writeString(shards.resolve("a.csv"), header + "CVE-A,0.1,0.5\nCVE-B,0.2,0.6\n")
    Files.writeString(shards.resolve("b.csv"), header + "CVE-C,0.3,0.7\n")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(shards.resolve("c.csv.gz")))
    try gz.write((header + "CVE-D,0.4,0.8\nCVE-E,0.5,0.9\n").getBytes("UTF-8")) finally gz.close()
    val out = s"$tmp/merged.csv"
    IO.mergeCsvDir(spark, s"$shards/*", out)
    val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(", "))
    val back = IO.read(spark, s"$out/${parts.head}", Some("csv"), Some(Schemas.csvSchema))
    assert(back.select("cve", "epss", "percentile").as[(String, Double, Double)]
      .collect().sortBy(_._1).toSeq == Seq(("CVE-A", 0.1, 0.5), ("CVE-B", 0.2, 0.6),
      ("CVE-C", 0.3, 0.7), ("CVE-D", 0.4, 0.8), ("CVE-E", 0.5, 0.9)))
  }
}
