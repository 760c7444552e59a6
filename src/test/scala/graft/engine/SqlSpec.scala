package graft.engine

import graft.SparkSpec

/** SQL over registered frames (Q1/Q2 — util.py:55-66). */
class SqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val scores = Seq(("CVE-A", 0.1), ("CVE-B", 0.7), ("CVE-C", 0.9))
    .toDF("cve", "epss")

  test("queryOne runs SQL over one frame under the given view name") {
    val got = Sql.queryOne(scores, "sql_spec_scores",
      "SELECT cve FROM sql_spec_scores WHERE epss > 0.5 ORDER BY cve")
    assert(got.as[String].collect().toSeq == Seq("CVE-B", "CVE-C"))
  }

  test("queryMany registers every frame under its key and joins them") {
    val kev = Seq("CVE-B", "CVE-Z").toDF("cve")
    val got = Sql.queryMany(spark, Map("sql_spec_scores" -> scores, "sql_spec_kev" -> kev),
      "SELECT s.cve, s.epss FROM sql_spec_scores s JOIN sql_spec_kev k ON s.cve = k.cve")
    assert(got.as[(String, Double)].collect().toSeq == Seq(("CVE-B", 0.7)))
  }
}
