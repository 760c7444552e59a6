package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the driver checks a query's rows. */
sealed trait Oracle

object Oracle {
  /** DuckDB SQL over the same parquet tables, with the query's column
    * names and a total deterministic ORDER BY. */
  final case class Sql(text: String) extends Oracle

  /** No DuckDB twin: the rows are gated by a committed sha256 per scale
    * factor, `tools/goldens/<sf>/<name>.sha256`. */
  case object Golden extends Oracle
}

/** One driver-contract query: its name, its Spark plan over a harness
  * table dir, and the oracle its rows are checked against. */
final case class Query(name: String, spark: (SparkSession, String) => DataFrame,
                       oracle: Oracle)
