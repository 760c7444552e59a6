package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract (SURVEY.md §7): the named queries and their oracles.
  *
  * Every query exercises one operator family from SURVEY.md §2 on the
  * harness tables. It lives in one family file under `graft.queries` as a
  * [[graft.queries.Query]] value that carries its oracle: DuckDB SQL with
  * identical column names and a total deterministic ORDER BY, or a golden
  * hash under `tools/goldens/`.
  *
  * Cross-engine determinism rules used throughout (so value hashes match):
  *   - money/price aggregates go through DECIMAL(18,2) (exact) and cast back
  *     to DOUBLE — double-sum ordering differences can never show up;
  *   - raw double columns pass through untouched (bit-exact from parquet);
  *   - derived doubles use the same IEEE expression shape on both sides;
  *   - integer outputs are BIGINT on both sides;
  *   - every query ends in a total ORDER BY over a unique key.
  */
object SparkEntry {

  /** Every query of the contract, each name once. */
  val registry: Seq[Query] = {
    val all = Seq(EngineQueries.all, SummariesQueries.all, TextQueries.all,
      DedupQueries.all, SimilarityQueries.all, AnnQueries.all,
      SelectionQueries.all, OperatorQueries.all).flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_changed_values")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.spark).toMap

  /** The DuckDB twin of every query whose oracle is SQL. */
  val oracleSql: Map[String, String] =
    registry.collect { case Query(n, _, Oracle.Sql(text)) => n -> text }.toMap

  /** `queries` sorted by name; when env var `onlyVar` is set, only the
    * names starting with one of its comma-separated prefixes. */
  private[graft] def selected(onlyVar: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get(onlyVar).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    queries.toSeq.sortBy(_._1).filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
  }
}
