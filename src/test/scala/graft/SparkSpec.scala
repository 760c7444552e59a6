package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = Session(4, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"
}
