package graft

import graft.queries.{Oracle, Query}

/** Driver-contract smoke: every query runs at sf0.001 and returns rows;
  * the registry names each query once and gives it exactly one oracle.
  */
class SparkEntrySpec extends SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: names unique, oracleSql = the SQL oracles, goldens hashed per sf") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    val sqlNames = SparkEntry.registry.collect { case Query(n, _, Oracle.Sql(_)) => n }
    assert(SparkEntry.oracleSql.keySet == sqlNames.toSet)
    val golden = SparkEntry.registry.collect { case Query(n, _, Oracle.Golden) => n }
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- golden) {
      val hash = java.nio.file.Paths.get("tools/goldens", sf, s"$n.sha256")
      assert(java.nio.file.Files.isRegularFile(hash), s"golden query $n has no $hash")
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and is non-empty") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned zero rows at sf0.001")
    }
  }
}
