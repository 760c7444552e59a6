package graft

import org.apache.spark.sql.types._

/** Schema-drift canary (VERDICT r7 #6).
  *
  * Round 7 was lost to a harness-side regeneration of events.parquet that
  * silently flipped `ts` from TIMESTAMP(NANOS) to TIMESTAMP_NTZ(µs) and
  * surfaced only as 18 opaque red tests. This suite opens every testdata
  * parquet footer, pins the column names and logical type families, and
  * PRINTS the exact decoded types — so the next regeneration is a named
  * one-line failure (or a visible printed diff) instead.
  *
  * Timestamp columns accept the three encodings the harness has actually
  * shipped (LongType via nanosAsLong, TimestampType, TimestampNTZType);
  * `graft.queries.Shared.events()` dispatches on whichever arrives.
  * Anything else — renamed column, dropped column, new type family —
  * fails by name here.
  */
class SchemaCanarySpec extends SparkSpec {

  private val TS: Set[DataType] = Set(LongType, TimestampType, TimestampNTZType)
  private def exact(t: DataType): Set[DataType] = Set(t)

  // table -> ordered (column, acceptable decoded types)
  private val expected: Seq[(String, Seq[(String, Set[DataType])])] = Seq(
    "region" -> Seq("r_regionkey" -> exact(IntegerType), "r_name" -> exact(StringType)),
    "nation" -> Seq("n_nationkey" -> exact(IntegerType), "n_name" -> exact(StringType),
      "n_regionkey" -> exact(IntegerType)),
    "customer" -> Seq("c_custkey" -> exact(LongType), "c_name" -> exact(StringType),
      "c_nationkey" -> exact(IntegerType), "c_acctbal" -> exact(DoubleType),
      "c_mktsegment" -> exact(StringType)),
    "supplier" -> Seq("s_suppkey" -> exact(LongType), "s_name" -> exact(StringType),
      "s_nationkey" -> exact(IntegerType), "s_acctbal" -> exact(DoubleType)),
    "part" -> Seq("p_partkey" -> exact(LongType), "p_name" -> exact(StringType),
      "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
      "p_size" -> exact(IntegerType), "p_retailprice" -> exact(DoubleType)),
    "orders" -> Seq("o_orderkey" -> exact(LongType), "o_custkey" -> exact(LongType),
      "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
      "o_orderdate" -> TS, "o_orderpriority" -> exact(StringType)),
    "lineitem" -> Seq("l_orderkey" -> exact(LongType), "l_partkey" -> exact(LongType),
      "l_suppkey" -> exact(LongType), "l_linenumber" -> exact(IntegerType),
      "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
      "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
      "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
      "l_shipdate" -> TS),
    "events" -> Seq("event_id" -> exact(LongType), "ts" -> TS,
      "user_id" -> exact(LongType), "event_type" -> exact(StringType),
      "value" -> exact(DoubleType), "props" -> exact(StringType)),
    "documents" -> Seq("doc_id" -> exact(LongType), "text" -> exact(StringType),
      "lang" -> exact(StringType), "source" -> exact(StringType),
      "n_chars" -> exact(LongType)),
    "embeddings" -> Seq("vec_id" -> exact(LongType),
      "embedding" -> Set(ArrayType(FloatType, containsNull = true),
        ArrayType(FloatType, containsNull = false)),
      "label" -> exact(IntegerType)))

  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                  "/root/testdata/sf0.1");
       (table, cols) <- expected) {
    test(s"canary: $dir/$table.parquet matches the pinned schema") {
      val schema = spark.read.parquet(s"$dir/$table.parquet").schema
      info(s"$table decoded: " +
        schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
      assert(schema.fieldNames.toSeq === cols.map(_._1),
        s"$table column names/order drifted")
      for ((name, ok) <- cols) {
        val actual = schema(name).dataType
        assert(ok.contains(actual),
          s"$table.$name decoded as ${actual.simpleString}; accepted: " +
            ok.map(_.simpleString).mkString("{", ", ", "}") +
            " — harness testdata regenerated with a new encoding? " +
            "(see graft.queries.Shared.events() dispatch before widening this set)")
      }
    }
  }

  // VALUE-domain canaries: oracle SQL that hardcodes fixture facts must
  // fail HERE by name when a regeneration moves them, not as an opaque
  // hash mismatch. q162 pins the 64-dim embedding (its DuckDB twin
  // iterates range(64)); q161's pivot domain and q167's lang rule pin
  // the five-language set.
  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                  "/root/testdata/sf0.1")) {
    test(s"canary: $dir embeddings are 64-dim (q162 oracle contract)") {
      import org.apache.spark.sql.functions.{min, max, size, col}
      val dims = spark.read.parquet(s"$dir/embeddings.parquet")
        .agg(min(size(col("embedding"))), max(size(col("embedding"))))
        .head()
      assert((dims.getInt(0), dims.getInt(1)) == ((64, 64)),
        s"embedding dims drifted to $dims — update q162's range(64) twin")
    }
    test(s"canary: $dir documents.lang domain is {de,en,es,fr,zh} (q161/q167 oracles)") {
      val langs = spark.read.parquet(s"$dir/documents.parquet")
        .select("lang").distinct().collect().map(_.getString(0)).toSet
      assert(langs == Set("de", "en", "es", "fr", "zh"),
        s"lang domain drifted to $langs — update the q161 pivot values " +
          "and q167 lang_ok rule")
    }
  }
}
