package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Changes, Sql}
import graft.queries.Shared._

/** Plain Spark SQL and DataFrame surface: scans, joins, windows, set
  * operations, SQL texts run verbatim by both engines, and the EPSS
  * change-detection flagship ([[graft.engine.Changes]]).
  */
private[graft] object EngineQueries {

  val all: Seq[Query] = Seq(

    // ── W1/W2/F5: the flagship — partitioned-lag change detection
    // (quantization). Reference client.py:453-475 re-expressed as one window
    // over the full scan (SURVEY.md §3.1).
    Query("q01_changed_values", (s, dir) => {
      Changes.changedRows(events(s, dir), "user_id", Seq("ts", "event_id"), "value")
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }, Oracle.Sql(
      """SELECT event_id, user_id, value FROM (
        | SELECT event_id, user_id, value,
        |  value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        | FROM events) WHERE d <> 0 ORDER BY event_id""".stripMargin)),

    // ── §2.5 aggregation: TPC-H Q1-shaped pricing summary.
    Query("q02_pricing_summary", (s, dir) => {
      val one = lit(1).cast("decimal(18,2)")
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (one - col("l_discount").cast("decimal(18,2)"))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Oracle.Sql(
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ── F1/F3/F4 + P1 + O1: range predicates pushed to the scan, canonical
    // projection, compound deterministic order.
    Query("q03_filter_range", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_quantity").between(10, 40) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.08)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }, Oracle.Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        | AND l_quantity BETWEEN 10 AND 40 AND l_discount >= 0.02 AND l_discount <= 0.08
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ── F2/C8: regex membership semantics (reference's rlike CVE filter,
    // client.py:276).
    Query("q04_rlike_filter", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_type").rlike("ECONOMY|LARGE"))
        .select("p_partkey", "p_type", "p_brand")
        .orderBy("p_partkey")
    }, Oracle.Sql(
      """SELECT p_partkey, p_type, p_brand FROM part
        |WHERE regexp_matches(p_type, 'ECONOMY|LARGE') ORDER BY p_partkey""".stripMargin)),

    // ── §2.6 ranking window: top-3 orders per customer.
    Query("q05_topk_per_group", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }, Oracle.Sql(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ── §2.4 join: broadcast dim join + aggregation.
    Query("q06_join_broadcast", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }, Oracle.Sql(
      """SELECT p_brand,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ── Q1/Q2 SQL surface: 3-way join through the full Catalyst SQL
    // lifecycle (identical SQL text runs on the DuckDB side).
    Query("q07_sql_3way_join", (s, dir) => {
      Sql.registerDir(s, dir, Seq("customer", "orders", "lineitem"))
      s.sql(threeWayJoinSql)
    }, Oracle.Sql(threeWayJoinSql)),

    // ── U1 union-all of date slices + aggregation.
    Query("q08_union_slices", (s, dir) => {
      val o = t(s, dir, "orders")
      val early = o.filter(year(col("o_orderdate")) <= 1996)
      val late = o.filter(year(col("o_orderdate")) >= 1999)
      early.unionByName(late)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Oracle.Sql(
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT * FROM orders WHERE year(o_orderdate) <= 1996
        |      UNION ALL
        |      SELECT * FROM orders WHERE year(o_orderdate) >= 1999)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── C5 date sequence + explode (util.py:256-262 iter_dates_in_range).
    Query("q12_date_spine", (s, dir) => {
      t(s, dir, "orders")
        .agg(min(to_date(col("o_orderdate"))).as("a"), max(to_date(col("o_orderdate"))).as("b"))
        .select(explode(sequence(col("a"), col("b"), expr("interval 1 day"))).as("d"))
        .orderBy("d")
    }, Oracle.Sql(
      """SELECT CAST(unnest(generate_series(a, b, INTERVAL 1 DAY)) AS DATE) AS d
        |FROM (SELECT CAST(min(o_orderdate) AS DATE) AS a, CAST(max(o_orderdate) AS DATE) AS b
        |      FROM orders) ORDER BY d""".stripMargin)),

    // ── C1/P7 rounding — on integer-valued targets, so round-half behavior
    // can never diverge across engines.
    Query("q13_round", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_discount") * 100, 0).cast("long").as("disc_pct"),
          round(col("l_tax") * 100, 0).cast("long").as("tax_pct"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Oracle.Sql(
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct,
        | CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_pct
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ── C2/C4/C6 date coercion + arithmetic.
    Query("q14_date_arith", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_order"),
          max(to_date(col("o_orderdate"))).as("last_order"))
        .withColumn("day_after_last", date_add(col("last_order"), 1))
        .orderBy("o_custkey")
    }, Oracle.Sql(
      """SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS first_order,
        | CAST(max(o_orderdate) AS DATE) AS last_order,
        | CAST(CAST(max(o_orderdate) AS DATE) + INTERVAL 1 DAY AS DATE) AS day_after_last
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── set ops: distinct.
    Query("q15_distinct", (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderpriority", "o_orderstatus")
        .dropDuplicates()
        .orderBy("o_orderpriority", "o_orderstatus"),
      Oracle.Sql(
      """SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
        |ORDER BY 1, 2""".stripMargin)),

    // ── C7 regex extract (filename-date inference twin, util.py:242-247).
    Query("q16_regex_extract", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .orderBy("event_id"),
      Oracle.Sql(
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),

    // ── SimHash (60-bit md5 formulation — the engine-portable oracle twin
    // of the codegen'd SimHash64 expression, cross-checked in tests).
    Query("q24_simhash_md5", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      toks.select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(59))).as("j"))
        .withColumn("contrib", when(expr("((h >> j) & 1) = 1"), lit(1)).otherwise(lit(-1)))
        .groupBy("doc_id", "j").agg(sum("contrib").as("s"))
        .withColumn("bit", when(col("s") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))")).otherwise(lit(0L)))
        .groupBy("doc_id").agg(sum("bit").as("simhash60"))
        .orderBy("doc_id")
    }, Oracle.Sql(
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, (SELECT unnest(range(0,60)) AS j) GROUP BY 1,2)
        |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash60
        |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── as-of join: last preceding click value per user at each purchase.
    Query("q30_asof_join", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("last_click_value",
          last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value", "last_click_value")
        .orderBy("event_id")
    }, Oracle.Sql(
      """SELECT event_id, user_id, value, last_click_value FROM (
        | SELECT event_id, user_id, value, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_value
        | FROM events) WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    // ── S11 URL generator as a relation (client.py:292-330 iter_urls).
    Query("q32_urls", (s, dir) =>
      t(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("b"))
        .select(explode(sequence(date_sub(col("b"), 30), col("b"), expr("interval 1 day"))).as("d"))
        .select(col("d"), concat(lit("https://epss.cyentia.com/epss_scores-"),
          date_format(col("d"), "yyyy-MM-dd"), lit(".csv.gz")).as("url"))
        .orderBy("d"),
      Oracle.Sql(
      """SELECT d, 'https://epss.cyentia.com/epss_scores-' || strftime(d, '%Y-%m-%d') || '.csv.gz' AS url
        |FROM (SELECT CAST(unnest(generate_series(b - INTERVAL 30 DAY, b, INTERVAL 1 DAY)) AS DATE) AS d
        |      FROM (SELECT CAST(max(o_orderdate) AS DATE) AS b FROM orders))
        |ORDER BY d""".stripMargin)),

    // ── O6 head/limit: deterministic top-k (TakeOrderedAndProject).
    Query("q33_limit", (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100),
      Oracle.Sql(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // ── set op: intersect (customers ordering in both years).
    Query("q34_intersect", (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        .intersect(o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
        .orderBy("o_custkey")
    }, Oracle.Sql(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin)),

    // ── anti join: customers with no recent orders (NOT EXISTS).
    Query("q35_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val recent = t(s, dir, "orders").filter(year(col("o_orderdate")) >= 1999)
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    }, Oracle.Sql(
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND year(o_orderdate) >= 1999)
        |ORDER BY c_custkey""".stripMargin)),

    // ── multi-level aggregation: ROLLUP with grouping_id (subtotal rows
    // ordered deterministically via the gid + NULLS FIRST keys).
    Query("q38_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Oracle.Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ── ranking window family: rank / dense_rank / percent_rank / ntile
    // (window order made total with the unique o_orderkey tiebreak so
    // ntile assignment is engine-independent).
    Query("q39_rank_funcs", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("prnk"),
        ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    }, Oracle.Sql(
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        | CAST(rank() OVER w AS BIGINT) AS rnk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        | percent_rank() OVER w AS prnk,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // ── pivot (conditional aggregation twin on the DuckDB side); absent
    // combinations coalesce to 0 to match COUNT FILTER semantics.
    Query("q40_pivot", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_filled"),
          coalesce(col("P"), lit(0L)).as("n_partial"))
        .orderBy("o_orderpriority"),
      Oracle.Sql(
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── string function battery (upper/lower/substr/length/reverse/
    // regexp_replace/lpad/concat_ws/instr).
    Query("q41_string_funcs", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        upper(col("c_name")).as("uname"),
        lower(col("c_mktsegment")).as("lseg"),
        substring(col("c_name"), 1, 8).as("prefix"),
        length(col("c_name")).cast("long").as("nlen"),
        reverse(col("c_name")).as("rname"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        instr(col("c_name"), "Customer").cast("long").as("ppos"))
        .orderBy("c_custkey"),
      Oracle.Sql(
      """SELECT c_custkey, upper(c_name) AS uname, lower(c_mktsegment) AS lseg,
        | substr(c_name, 1, 8) AS prefix, CAST(length(c_name) AS BIGINT) AS nlen,
        | reverse(c_name) AS rname, regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        | lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        | concat_ws('|', c_mktsegment, c_name) AS joined,
        | CAST(strpos(c_name, 'Customer') AS BIGINT) AS ppos
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ── exact interpolated percentiles (l_quantity is integer-valued, so
    // the quartile interpolation is exact binary arithmetic in any engine).
    Query("q42_percentile", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          min("l_quantity").as("qmin"), max("l_quantity").as("qmax"))
        .orderBy("l_returnflag"),
      Oracle.Sql(
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q25,
        | quantile_cont(l_quantity, 0.5) AS median, quantile_cont(l_quantity, 0.75) AS q75,
        | min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── conditional scalar functions: CASE chains, nullif/coalesce,
    // greatest/least.
    Query("q43_conditional", (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status2"),
        greatest(col("o_custkey"), col("o_orderkey")).as("gk"),
        least(col("o_custkey"), col("o_orderkey")).as("lk"))
        .orderBy("o_orderkey"),
      Oracle.Sql(
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 200000 THEN 'high'
        |      WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
        | coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status2,
        | greatest(o_custkey, o_orderkey) AS gk,
        | least(o_custkey, o_orderkey) AS lk
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ── semi join (EXISTS): customers with 1995 orders.
    Query("q44_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o95 = t(s, dir, "orders").filter(year(col("o_orderdate")) === 1995)
      c.join(o95, c("c_custkey") === o95("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    }, Oracle.Sql(
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin)),

    // ── explicit window frame: 3-row sliding sum/count per order.
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    // so the frame order adds l_quantity — ties then carry equal summands,
    // making every frame sum order-invariant across engines.
    Query("q45_window_frame", (s, dir) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").as("qty_3row"),
        count(lit(1)).over(w).as("n_3row"))
        .orderBy("l_orderkey", "l_linenumber", "qty_3row")
    }, Oracle.Sql(
      """SELECT l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE) AS qty_3row,
        | count(*) OVER w AS n_3row
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber, qty_3row""".stripMargin)),

    // ── generator / table function: posexplode of the token array.
    Query("q46_posexplode", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
        .orderBy("doc_id", "pos"),
      Oracle.Sql(
      """SELECT doc_id, CAST(i AS BIGINT) AS pos, string_split(text, ' ')[i+1] AS tok
        |FROM documents, unnest(range(len(string_split(text,' ')))) AS t(i)
        |ORDER BY doc_id, pos""".stripMargin)),

    // ── semi-structured extraction: JSON path over the props column.
    Query("q47_json", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      Oracle.Sql(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),

    // ── exact-accumulation variance: decimal sums of x and x², stddev
    // derived in double with an identical expression shape on both
    // engines — order-independent where a naive stddev over doubles is
    // partitioning-dependent.
    Query("q50_variance_exact", (s, dir) => {
      val q = col("l_quantity").cast("decimal(18,2)")
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(q).cast("double").as("sx"),
          sum(q * q).cast("double").as("sx2"))
        .withColumn("stddev_exact",
          sqrt((col("sx2") * col("n") - col("sx") * col("sx")) /
            (col("n").cast("double") * (col("n") - lit(1)))))
        .orderBy("l_returnflag")
    }, Oracle.Sql(
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, sx, sx2,
        | sqrt((sx2 * n - sx * sx) / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_exact
        |FROM s ORDER BY 1""".stripMargin)),

    // ── dense reconstruction from the change log: forward-fill (inverse
    // of the flagship quantization, SURVEY §5.2.3) — sparse changes onto
    // the full (user, event) spine, last seen value carried forward.
    Query("q59_forward_fill", (s, dir) => {
      val ev = events(s, dir)
      val sparse = Changes.changedRows(ev, "user_id", Seq("event_id"), "value")
        .select("user_id", "event_id", "value")
      val spine = ev.select("user_id", "event_id")
      Changes.forwardFillBy(sparse, spine, "user_id", "event_id", Seq("value"))
        .select("user_id", "event_id", "value")
        .orderBy("event_id")
    }, Oracle.Sql(
      """WITH sp AS (
        | SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |   value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS d
        |  FROM events) WHERE d <> 0),
        |filled AS (
        | SELECT e.user_id, e.event_id,
        |  last_value(sp.value IGNORE NULLS) OVER (
        |   PARTITION BY e.user_id ORDER BY e.event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        | FROM events e LEFT JOIN sp USING (user_id, event_id))
        |SELECT user_id, event_id, value FROM filled
        |WHERE value IS NOT NULL ORDER BY event_id""".stripMargin)),

    // ── distinct aggregation (Expand-based partial distinct): per-group
    // exact distinct counts alongside plain aggregates.
    Query("q61_distinct_agg", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Oracle.Sql(
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── TPC-H Q5-shaped regional revenue: six-table join (two broadcast
    // dim chains + fact-fact), decimal-exact discounted revenue. The
    // only query deep enough to exercise Catalyst's join reordering.
    Query("q63_regional_revenue", (s, dir) => {
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(4,2)")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, Oracle.Sql(
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // ── CUBE with grouping_id over orders: all four grouping-set
    // combinations of (status, priority) in one pass through Expand.
    Query("q90_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          grouping_id().cast("long").as("gid"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n_rows", "total")
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Oracle.Sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // ── corpus snapshot diff: added/removed/changed between two dataset
    // versions — one full-outer join co-shuffled on the id, compared
    // columns riding as a struct (exchange-free on id-bucketed stores).
    Query("q101_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val before = docs.filter(col("doc_id") % 7 =!= 0)
      val after = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")))
      graft.engine.Changes.snapshotDiff(before, after, "doc_id", Seq("text", "lang"))
        .orderBy("doc_id")
    }, Oracle.Sql(
      """WITH b AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 7 <> 0),
        |a AS (SELECT doc_id,
        |       CASE WHEN doc_id % 11 = 0 THEN text || ' EDITED' ELSE text END AS text,
        |       lang FROM documents WHERE doc_id % 5 <> 0),
        |j AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |       CASE WHEN b.doc_id IS NULL THEN 'added'
        |            WHEN a.doc_id IS NULL THEN 'removed'
        |            WHEN (b.text IS DISTINCT FROM a.text)
        |              OR (b.lang IS DISTINCT FROM a.lang) THEN 'changed' END AS status
        |      FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL
        |ORDER BY doc_id""".stripMargin)),

    // ── SCD2 validity intervals from the event log: per-user value
    // changes stamped [valid_from, valid_to) — one hash exchange shared
    // by the change-filter lag and the validity lead.
    Query("q118_scd2", (s, dir) =>
      Changes.scd2(events(s, dir), "user_id", "event_id", "value")
        .orderBy("user_id", "valid_from"),
      Oracle.Sql(
      """WITH ch AS (
        | SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |   lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events) WHERE value IS DISTINCT FROM prev)
        |SELECT user_id, value, event_id AS valid_from,
        | lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
        |FROM ch ORDER BY user_id, valid_from""".stripMargin)),

    // ── SQL-surface breadth, verbatim twins (the q07 pattern): arbitrary
    // GROUPING SETS margins, rank-distribution windows, EXCEPT/INTERSECT.
    Query("q163_grouping_sets", (s, dir) => {
      Sql.registerDir(s, dir, Seq("documents"))
      s.sql(groupingSetsSql)
    }, Oracle.Sql(groupingSetsSql)),
    Query("q164_rank_distribution", (s, dir) => {
      Sql.registerDir(s, dir, Seq("documents"))
      s.sql(rankDistSql)
    }, Oracle.Sql(rankDistSql)),
    Query("q165_set_ops", (s, dir) => {
      Sql.registerDir(s, dir, Seq("documents"))
      s.sql(setOpsSql)
    }, Oracle.Sql(setOpsSql)),

    // ── semi-structured surface: a deterministic JSON payload column
    // (byte-identical concat in both engines) parsed back with the JSON
    // path functions — extraction must round-trip the typed columns
    // exactly, including the quote-escaping of free text. Spark:
    // get_json_object (+ from_json typed parse in the spec); DuckDB twin:
    // json_extract_string — same paths, same values.
    Query("q166_json_extract", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(
          lit("""{"lang":""""), col("lang"),
          lit("""","n_chars":"""), col("n_chars").cast("string"),
          lit(""","source":""""), col("source"), lit("\"}")).as("payload"))
        .select(col("doc_id"),
          get_json_object(col("payload"), "$.lang").as("lang"),
          get_json_object(col("payload"), "$.n_chars").cast("long").as("n_chars"),
          get_json_object(col("payload"), "$.source").as("source"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "source"),
      Oracle.Sql(
      """WITH payloads AS (
        | SELECT doc_id,
        |  '{"lang":"' || lang || '","n_chars":' || CAST(n_chars AS VARCHAR)
        |    || ',"source":"' || source || '"}' AS payload
        | FROM documents)
        |SELECT json_extract_string(payload, '$.lang') AS lang,
        | json_extract_string(payload, '$.source') AS source,
        | count(*) AS n_docs,
        | CAST(sum(CAST(json_extract_string(payload, '$.n_chars') AS BIGINT))
        |      AS BIGINT) AS sum_chars
        |FROM payloads
        |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin)),

    // ── 2-D equal-width histogram (heatmap): width_bucket on both axes,
    // one hash aggregation — the value-vs-length profiling grid.
    Query("q169_heatmap", (s, dir) =>
      events(s, dir)
        .select(expr("width_bucket(value, 0.0, 100.0, 10)").as("vx"),
          expr("width_bucket(CAST(user_id % 1000 AS DOUBLE), 0.0, 1000.0, 10)").as("ux"))
        .groupBy("vx", "ux").agg(count(lit(1)).as("n"))
        .orderBy("vx", "ux"),
      Oracle.Sql(
      // DuckDB has no width_bucket — its exact arithmetic is restated
      // (floor((v − lo) / ((hi − lo)/n)) + 1, with the two out-of-range
      // sentinels), same doubles on both engines.
      """SELECT
        | CASE WHEN value < 0.0 THEN 0 WHEN value >= 100.0 THEN 11
        |  ELSE CAST(floor((value - 0.0) / ((100.0 - 0.0) / 10)) AS BIGINT) + 1
        | END AS vx,
        | CAST(floor((CAST(user_id % 1000 AS DOUBLE) - 0.0)
        |            / ((1000.0 - 0.0) / 10)) AS BIGINT) + 1 AS ux,
        | count(*) AS n
        |FROM events GROUP BY vx, ux ORDER BY vx, ux""".stripMargin)),

    // ── temporal activity matrix: events per (day-of-week, hour) — the
    // load-shape profile behind ingestion scheduling; one aggregation.
    Query("q170_time_matrix", (s, dir) =>
      events(s, dir)
        .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hh"))
        .groupBy("dow", "hh").agg(count(lit(1)).as("n"))
        .orderBy("dow", "hh"),
      Oracle.Sql(
      // Spark dayofweek is 1-based Sunday=1; DuckDB's is 0-based Sunday=0.
      """SELECT dayofweek(ts) + 1 AS dow, extract(hour FROM ts) AS hh,
        | count(*) AS n
        |FROM events GROUP BY dow, hh ORDER BY dow, hh""".stripMargin)),

    // ── top user journey prefixes: each user's first-5 event types in
    // (ts, event_id) order as one path string, top-50 by frequency —
    // the product-analytics "common paths" report; one user window +
    // two aggregations, path assembly via array_sort on the unique rn.
    Query("q180_top_paths", (s, dir) => {
      val rn = row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")))
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", rn).filter(col("rn") <= 5)
        .groupBy("user_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(50)
    }, Oracle.Sql(
      // Identical (ts, event_id) ordering; string_agg with ORDER BY rn is
      // the array_sort twin; the (n_users DESC, path) order is total so
      // LIMIT 50 cuts deterministically.
      """WITH e AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events),
        |p AS (
        | SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        | FROM e WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p
        |GROUP BY path ORDER BY n_users DESC, path LIMIT 50""".stripMargin))
  )
}
