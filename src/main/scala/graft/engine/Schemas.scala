package graft.engine

import org.apache.spark.sql.types._

/** Fixed schemas for the EPSS score relations.
  *
  * The canonical snapshot relation is row-per-(date, cve) with exactly the
  * columns `date, cve, epss, percentile`, in that order (reference:
  * client.py:264 canonical projection; README.md:95-103 dtypes;
  * constants.py:33-36 column-name constants). Schemas are fixed by
  * construction — never inferred in production paths (SURVEY.md §1.4).
  */
object Schemas {

  val Date = "date"
  val Cve = "cve"
  val Epss = "epss"
  val Percentile = "percentile"

  /** Canonical column order, enforced by projection (client.py:264). */
  val scoreColumns: Seq[String] = Seq(Date, Cve, Epss, Percentile)

  /** Snapshot relation schema (SURVEY.md §1.1). */
  val scoreSchema: StructType = StructType(Seq(
    StructField(Date, DateType, nullable = false),
    StructField(Cve, StringType, nullable = false),
    StructField(Epss, DoubleType, nullable = false),
    StructField(Percentile, DoubleType, nullable = false)))

  /** Upstream CSV schema: the `date` column is NOT stored in the feed files;
    * it is derived from the filename or an explicit argument
    * (client.py:478-496, util.py:242-247).
    */
  val csvSchema: StructType = StructType(Seq(
    StructField(Cve, StringType, nullable = false),
    StructField(Epss, DoubleType, nullable = false),
    StructField(Percentile, DoubleType, nullable = false)))

  /** On-disk store schema: the feed columns in each file plus the `date`
    * partition column taken from the `date=YYYY-MM-DD` directory name.
    * Store scans pass it to the reader, so no scan infers a schema.
    */
  val storeSchema: StructType = csvSchema.add(StructField(Date, DateType, nullable = false))

  /** Default decimal precision for published scores (constants.py:48). */
  val ScorePrecision = 5
}

/** Typed row for the public API boundary (DataFrame is used internally). */
case class Score(date: java.sql.Date, cve: String, epss: Double, percentile: Double)
