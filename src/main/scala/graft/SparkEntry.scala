package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Changes, Sql, Summaries}
import graft.functions.SimHash64Expr
import graft.operators.{Dedup, Multimodal, Par, Regression, Sampling, Similarity, TextAnalysis}
import graft.streaming.EventStreams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry exercises one operator family from SURVEY.md §2 on the harness
  * tables; each has a DuckDB oracle twin in [[oracleSql]] with identical
  * column names and a total deterministic ORDER BY.
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

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** THE bounded-eval-sample convention (every graded eval operator —
    * recall reports, kNN consistency, TwoNN, the operating-point
    * planner — states its query set this way): a deterministic
    * md5-permille hash sample of the id space
    * ([[graft.operators.Sampling.hashBucket]]), NOT `id % N` — a modulo
    * stride is coupled to id assignment order and its absolute size
    * grows with the corpus by construction, while a hash-permille
    * sample is order-free and lets a production caller hold the sample
    * ABSOLUTE (divide the permille as the corpus grows: the bucket of a
    * given id never changes, so a tighter permille is always a subset
    * of the looser sample — eval continuity for free). DuckDB twin:
    * `('0x' || substr(md5(CAST(id AS VARCHAR)),1,15))::BIGINT % 1000 <
    * permille`.
    */
  private def evalSample(df: DataFrame, idCol: String, permille: Int): DataFrame =
    graft.operators.Sampling.hashSample(df, idCol, permille)

  /** The ABSOLUTE-size eval-sample convention (round 14): exactly
    * `min(n, target)` rows — the `target` smallest md5-ticket ids
    * ([[graft.operators.Sampling.hashSampleN]], salt "us", tickets mod
    * 2⁵⁰, ties by id). Queries built on it keep their O(m²) pair joins
    * and broadcast query sides PINNED at the target no matter the
    * corpus size, where the permille convention grew them linearly.
    * DuckDB twin: [[evalSampleNCte]] — `ORDER BY ticket, id LIMIT
    * target` over the identical integer tickets.
    *
    * The sample MATERIALIZES once (localCheckpoint): eval queries read
    * their query side on several consumers (both ANN ranking roles; the
    * q242 grid reads it once per arm), and an unmaterialized lottery
    * would re-run its corpus pass per consumer.
    */
  private def evalSampleN(df: DataFrame, idCol: String, target: Int): DataFrame =
    graft.operators.Sampling.hashSampleN(df, idCol, target).localCheckpoint()

  /** [[evalSampleN]]'s SQL twin: a winners CTE of the `target`
    * smallest-ticket ids of `table.idCol`, stated with the identical
    * integer tickets (md5 hash60 mod 2⁵⁰, salt "us") and (ticket, id)
    * order, so engine and oracle pick the same rows by construction.
    */
  private def evalSampleNCte(name: String, table: String, idCol: String,
                             target: Int): String =
    s"""$name AS (SELECT $idCol FROM (
       |  SELECT $idCol,
       |   ('0x' || substr(md5('us' || CAST($idCol AS VARCHAR)),1,15))::BIGINT
       |    % 1125899906842624 AS tk
       |  FROM $table) ORDER BY tk, $idCol LIMIT $target)""".stripMargin

  /** The q252 hybrid fusion, shared with its q257 ranked-list grade:
    * dense brute-force top-5 + sparse TF-IDF top-5 over 16-winner
    * absolute hash samples ([[evalSampleN]] — same ticket function on
    * both tables, so at matching id domains the arms query the same
    * ids), RRF-fused (dense term first, k0=60). Returns
    * (fused `(query_id, doc_id, rank_1, rank_2, rrf)`, dense top-5
    * `(query_id, doc_id, rn)`) — q257 grades the fusion against the
    * SAME dense relation (one subtree, so the corpus-by-sample cosine
    * pass is shared, mirroring the oracle's single `dn` CTE).
    */
  private def hybridArms(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val post = TextAnalysis.tfidfPostings(docs, "doc_id", "text", minDf = 2)
      .localCheckpoint()
    val qp = post
      .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
      .withColumnRenamed("doc_id", "query_id")
    val sparse = TextAnalysis.sparseTopK(post, "doc_id", qp, "query_id",
      "token", "weight", k = 5)
      .select(col("query_id"), col("doc_id"), col("rn"))
    val dense = Similarity.bruteForceTopK(emb,
      evalSampleN(emb, "vec_id", 16), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn"))
    (dense, sparse)
  }

  private def hybridParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (dense, sparse) = hybridArms(s, dir)
    (graft.operators.Selection.rrfFuseRanks(Seq(dense, sparse),
      "query_id", "doc_id", "rn", k0 = 60), dense)
  }

  private def hybridFused(s: SparkSession, dir: String): DataFrame =
    hybridParts(s, dir)._1

  /** [[evalSample]]'s SQL twin over a column reference. */
  private def evalSampleSql(colRef: String, permille: Int): String =
    s"('0x' || substr(md5(CAST($colRef AS VARCHAR)),1,15))::BIGINT % 1000 < $permille"

  /** events.parquet's `ts` column has shipped as either TIMESTAMP(NANOS)
    * (which Spark's parquet reader rejects without `nanosAsLong`) or plain
    * TIMESTAMP_NTZ(MICROS), depending on harness generation. Dispatch on the
    * actual decoded type and normalize everything to TimestampType: a long
    * means nanos → floor-convert to microsecond timestamp (matching DuckDB's
    * ns→us handling); TIMESTAMP_NTZ casts to TIMESTAMP, which under the
    * session's pinned UTC timezone preserves wall-clock and epoch values
    * bit-for-bit vs DuckDB's naive read of the same file.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TIMESTAMP cast below is wall-clock-preserving only under
    // UTC; pin it here so a caller session that didn't set it (all OUR
    // mains do, an external harness session might not) can't shift every
    // epoch by its local offset.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_changed_values")(spark, "/root/testdata/sf0.001")

  // money-exact sum: DECIMAL(18,2) accumulate, DOUBLE out
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── W1/W2/F5: the flagship — partitioned-lag change detection
    // (quantization). Reference client.py:453-475 re-expressed as one window
    // over the full scan (SURVEY.md §3.1).
    "q01_changed_values" -> ((s, dir) => {
      Changes.changedRows(events(s, dir), "user_id", Seq("ts", "event_id"), "value")
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // ── §2.5 aggregation: TPC-H Q1-shaped pricing summary.
    "q02_pricing_summary" -> ((s, dir) => {
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
    }),

    // ── F1/F3/F4 + P1 + O1: range predicates pushed to the scan, canonical
    // projection, compound deterministic order.
    "q03_filter_range" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_quantity").between(10, 40) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.08)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ── F2/C8: regex membership semantics (reference's rlike CVE filter,
    // client.py:276).
    "q04_rlike_filter" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_type").rlike("ECONOMY|LARGE"))
        .select("p_partkey", "p_type", "p_brand")
        .orderBy("p_partkey")
    }),

    // ── §2.6 ranking window: top-3 orders per customer.
    "q05_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // ── §2.4 join: broadcast dim join + aggregation.
    "q06_join_broadcast" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    // ── Q1/Q2 SQL surface: 3-way join through the full Catalyst SQL
    // lifecycle (identical SQL text runs on the DuckDB side).
    "q07_sql_3way_join" -> ((s, dir) => {
      Sql.registerDir(s, dir, Seq("customer", "orders", "lineitem"))
      s.sql(threeWayJoinSql)
    }),

    // ── U1 union-all of date slices + aggregation.
    "q08_union_slices" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val early = o.filter(year(col("o_orderdate")) <= 1996)
      val late = o.filter(year(col("o_orderdate")) >= 1999)
      early.unionByName(late)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    // ── §2.5 per-key summary (TODO.md:6-19 surface): min/max/first/last.
    "q09_per_key_summary" -> ((s, dir) =>
      Summaries.perKey(events(s, dir), "user_id", "event_id", "value")
        .orderBy("user_id")),

    // ── §2.5 lookback lags (TODO.md:10-19): k observations back, one window.
    "q10_lookbacks" -> ((s, dir) => {
      Summaries.lookbacks(events(s, dir), "user_id", "event_id", "value", Seq(1, 3, 7))
        .select("event_id", "user_id", "value", "value_lag_1", "value_lag_3", "value_lag_7")
        .orderBy("event_id")
    }),

    // ── NOTES.md:15-31 growth stats: per-date cardinality + growth %.
    "q11_growth" -> ((s, dir) =>
      Summaries.growth(events(s, dir).withColumn("d", to_date(col("ts"))), "d")
        .orderBy("d")),

    // ── C5 date sequence + explode (util.py:256-262 iter_dates_in_range).
    "q12_date_spine" -> ((s, dir) => {
      t(s, dir, "orders")
        .agg(min(to_date(col("o_orderdate"))).as("a"), max(to_date(col("o_orderdate"))).as("b"))
        .select(explode(sequence(col("a"), col("b"), expr("interval 1 day"))).as("d"))
        .orderBy("d")
    }),

    // ── C1/P7 rounding — on integer-valued targets, so round-half behavior
    // can never diverge across engines.
    "q13_round" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_discount") * 100, 0).cast("long").as("disc_pct"),
          round(col("l_tax") * 100, 0).cast("long").as("tax_pct"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ── C2/C4/C6 date coercion + arithmetic.
    "q14_date_arith" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_order"),
          max(to_date(col("o_orderdate"))).as("last_order"))
        .withColumn("day_after_last", date_add(col("last_order"), 1))
        .orderBy("o_custkey")
    }),

    // ── set ops: distinct.
    "q15_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderpriority", "o_orderstatus")
        .dropDuplicates()
        .orderBy("o_orderpriority", "o_orderstatus")),

    // ── C7 regex extract (filename-date inference twin, util.py:242-247).
    "q16_regex_extract" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .orderBy("event_id")),

    // ══ Extended training-data-pipeline operators (SURVEY.md §7.5) ══

    // ── text analysis: token counting + quality signals.
    "q17_text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── language-ID heuristic (marker-word scoring, deterministic argmax).
    "q18_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── document fingerprint (winnowing-min over rolling n-gram hashes).
    "q19_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── exact dedup via content digest.
    "q20_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("text_hash")),

    // ── MinHash signatures (8 permutations over word-bigram shingles).
    "q21_minhash_sigs" -> ((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── LSH banding: candidate near-dup pairs without the O(n²) pair space.
    "q22_lsh_candidates" -> ((s, dir) =>
      Dedup.lshCandidates(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    // ── exact n-gram Jaccard, verified only on LSH candidates.
    "q23_jaccard_pairs" -> ((s, dir) =>
      Dedup.nearDups(t(s, dir, "documents"), "doc_id", "text", 0.1)
        .orderBy("doc_a", "doc_b")),

    // ── SimHash (60-bit md5 formulation — the engine-portable oracle twin
    // of the codegen'd SimHash64 expression, cross-checked in tests).
    "q24_simhash_md5" -> ((s, dir) => {
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
    }),

    // ── embedding near-dup: cosine-threshold pairs, LSH-BUCKETED (the
    // scale plan — candidates are same-or-1-bit-adjacent hyperplane
    // buckets, never an all-pairs cross join; the oracle restates the
    // identical bucketed pipeline).
    "q25_embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b")),

    // ── brute-force cosine top-k ANN (queries broadcast, corpus partitioned).
    "q26_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rn")
    }),

    // ── random-hyperplane LSH bucket assignment (the ANN scale path).
    "q27_ann_lsh_bucket" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.lshBucket(col("embedding")).as("bucket"))
        .orderBy("vec_id")),

    // ── multimodal: opaque binary payload + typed metadata projection.
    "q28_multimodal_meta" -> ((s, dir) =>
      Multimodal.fakeMediaTable(t(s, dir, "documents")).toDF()
        .select(col("doc_id"), col("media_type"),
          length(col("blob")).cast("long").as("n_bytes"),
          expr("CAST(length(blob) DIV 256 AS BIGINT)").as("n_chunks"))
        .orderBy("doc_id")),

    // ── tumbling-window aggregation (batch twin of the streaming path).
    "q29_windowed_agg" -> ((s, dir) =>
      EventStreams.windowedAgg(events(s, dir)).orderBy("ws", "event_type")),

    // ── sliding windows: 2h windows every 1h — each event in two
    // overlapping windows via one Expand pass (no self-union).
    "q68_sliding_agg" -> ((s, dir) =>
      EventStreams.slidingAgg(events(s, dir)).orderBy("ws", "event_type")),

    // ── as-of join: last preceding click value per user at each purchase.
    "q30_asof_join" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("last_click_value",
          last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value", "last_click_value")
        .orderBy("event_id")
    }),

    // ── codegen'd SimHash64 Catalyst expression (rows-only check: XxHash64
    // is not reproducible in DuckDB; validated by ScalaTest golden +
    // interpreted-vs-codegen cross-check).
    "q31_simhash64" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), SimHash64Expr.simhash64(split(col("text"), " ")).as("simhash"))
        .orderBy("doc_id")),

    // ── S11 URL generator as a relation (client.py:292-330 iter_urls).
    "q32_urls" -> ((s, dir) =>
      t(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("b"))
        .select(explode(sequence(date_sub(col("b"), 30), col("b"), expr("interval 1 day"))).as("d"))
        .select(col("d"), concat(lit("https://epss.cyentia.com/epss_scores-"),
          date_format(col("d"), "yyyy-MM-dd"), lit(".csv.gz")).as("url"))
        .orderBy("d")),

    // ── O6 head/limit: deterministic top-k (TakeOrderedAndProject).
    "q33_limit" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100)),

    // ── set op: intersect (customers ordering in both years).
    "q34_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        .intersect(o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // ── anti join: customers with no recent orders (NOT EXISTS).
    "q35_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val recent = t(s, dir, "orders").filter(year(col("o_orderdate")) >= 1999)
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    }),

    // ── sessionization (gaps-and-islands twin of session_window; the two
    // formulations are cross-checked in EventStreamsSpec).
    "q36_sessionize" -> ((s, dir) =>
      EventStreams.sessionizeGapsAndIslands(events(s, dir), gapSeconds = 1800L)
        .orderBy("user_id", "session_start")),

    // ── IVF-style ANN: the full deterministic pipeline (first-16 centroid
    // codebook, cosine cell assignment, 4-probe search) is restated as the
    // DuckDB oracle, so partial-probe results are hash-checked too.
    "q37_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rn")
    }),

    // ── multi-level aggregation: ROLLUP with grouping_id (subtotal rows
    // ordered deterministically via the gid + NULLS FIRST keys).
    "q38_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ── ranking window family: rank / dense_rank / percent_rank / ntile
    // (window order made total with the unique o_orderkey tiebreak so
    // ntile assignment is engine-independent).
    "q39_rank_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("prnk"),
        ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    }),

    // ── pivot (conditional aggregation twin on the DuckDB side); absent
    // combinations coalesce to 0 to match COUNT FILTER semantics.
    "q40_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_filled"),
          coalesce(col("P"), lit(0L)).as("n_partial"))
        .orderBy("o_orderpriority")),

    // ── string function battery (upper/lower/substr/length/reverse/
    // regexp_replace/lpad/concat_ws/instr).
    "q41_string_funcs" -> ((s, dir) =>
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
        .orderBy("c_custkey")),

    // ── exact interpolated percentiles (l_quantity is integer-valued, so
    // the quartile interpolation is exact binary arithmetic in any engine).
    "q42_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          min("l_quantity").as("qmin"), max("l_quantity").as("qmax"))
        .orderBy("l_returnflag")),

    // ── conditional scalar functions: CASE chains, nullif/coalesce,
    // greatest/least.
    "q43_conditional" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status2"),
        greatest(col("o_custkey"), col("o_orderkey")).as("gk"),
        least(col("o_custkey"), col("o_orderkey")).as("lk"))
        .orderBy("o_orderkey")),

    // ── semi join (EXISTS): customers with 1995 orders.
    "q44_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o95 = t(s, dir, "orders").filter(year(col("o_orderdate")) === 1995)
      c.join(o95, c("c_custkey") === o95("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    }),

    // ── explicit window frame: 3-row sliding sum/count per order.
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    // so the frame order adds l_quantity — ties then carry equal summands,
    // making every frame sum order-invariant across engines.
    "q45_window_frame" -> ((s, dir) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").as("qty_3row"),
        count(lit(1)).over(w).as("n_3row"))
        .orderBy("l_orderkey", "l_linenumber", "qty_3row")
    }),

    // ── generator / table function: posexplode of the token array.
    "q46_posexplode" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
        .orderBy("doc_id", "pos")),

    // ── semi-structured extraction: JSON path over the props column.
    "q47_json" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // ── text normalization (lowercase / strip punctuation / collapse
    // whitespace) — the first pass of every cleaning pipeline.
    "q49_text_normalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm"))
        .orderBy("doc_id")),

    // ── exact-accumulation variance: decimal sums of x and x², stddev
    // derived in double with an identical expression shape on both
    // engines — order-independent where a naive stddev over doubles is
    // partitioning-dependent.
    "q50_variance_exact" -> ((s, dir) => {
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
    }),

    // ── Gopher-style quality signals: word stats as per-row array
    // expressions (shuffle-free at any scale).
    "q51_quality_signals" -> ((s, dir) =>
      TextAnalysis.qualitySignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── dedup cluster canonicalization: connected components over the LSH
    // candidate graph (min-label propagation; recursive-CTE oracle).
    "q52_dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.lshCandidates(t(s, dir, "documents"), "doc_id", "text"))
        .orderBy("node")),

    // ── end-to-end corpus dedup: surviving doc ids after exact + verified
    // near-dup cluster canonicalization.
    "q58_dedup_corpus" -> ((s, dir) =>
      Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text", minJaccard = 0.1)
        .select("doc_id")
        .orderBy("doc_id")),

    // ── SEMANTIC dedup: the two operator families composed — embedding
    // near-dup edges (LSH-bucketed cosine pairs, the q25 pipeline) fed
    // through connected components; survivors = min vec_id per cluster.
    // The "dedup by meaning, not text" production shape.
    "q73_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      emb.select(col("vec_id"))
        .join(Dedup.connectedComponents(edges)
          .filter(col("node") =!= col("component"))
          .select(col("node").as("vec_id")), Seq("vec_id"), "left_anti")
        .orderBy("vec_id")
    }),

    // ── keep-strategy corpus dedup: the survivor of each duplicate cluster
    // is the LONGEST variant (char count, highest-id tiebreak) instead of
    // the min id — the "keep the best copy" production shape.
    "q70_dedup_keep_longest" -> ((s, dir) =>
      Dedup.dedupCorpusKeeping(
        t(s, dir, "documents").withColumn("n_chars", length(col("text")).cast("long")),
        "doc_id", "text", minJaccard = 0.1, keepBy = Some("n_chars"))
        .select("doc_id")
        .orderBy("doc_id")),

    // ── dense reconstruction from the change log: forward-fill (inverse
    // of the flagship quantization, SURVEY §5.2.3) — sparse changes onto
    // the full (user, event) spine, last seen value carried forward.
    "q59_forward_fill" -> ((s, dir) => {
      val ev = events(s, dir)
      val sparse = Changes.changedRows(ev, "user_id", Seq("event_id"), "value")
        .select("user_id", "event_id", "value")
      val spine = ev.select("user_id", "event_id")
      Changes.forwardFillBy(sparse, spine, "user_id", "event_id", Seq("value"))
        .select("user_id", "event_id", "value")
        .orderBy("event_id")
    }),

    // ── deterministic content-hash sampling: row fate is a pure function
    // of the row id (stable under partitioning/retries/re-runs, unlike
    // sample()); split labels for one-pass train/test writing.
    "q60_hash_sample" -> ((s, dir) =>
      graft.operators.Sampling.withSplitLabel(
        graft.operators.Sampling.hashSample(t(s, dir, "documents"), "doc_id", 500),
        "doc_id", 200)
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // ── distinct aggregation (Expand-based partial distinct): per-group
    // exact distinct counts alongside plain aggregates.
    "q61_distinct_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // ── corpus vocabulary stats: token frequency + document frequency
    // (the TF-IDF/vocab-building primitive), top-100 deterministic.
    "q62_token_freq" -> ((s, dir) =>
      TextAnalysis.tokenCorpusStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("tf").desc, col("token").asc)
        .limit(100)),

    // ── per-document top-5 TF-IDF keywords (corpus-relative term
    // importance; min df 2 prunes hapax noise). Score rounded to 6 dp —
    // ln is last-ulp engine-unstable, rounding makes rank + value
    // engine-identical (TextAnalysis.tfidfKeywords scaladoc).
    "q71_tfidf_keywords" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDf = 2)
        .orderBy("doc_id", "rn")),

    // ── BM25 retrieval: top-20 docs for a fixed 3-term query (per-term
    // contributions decimal-summed for order-independent exactness).
    "q72_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Rank(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("hash", "join", "filter"), k = 20)
        .orderBy(col("score").desc, col("doc_id").asc)),

    // ── TPC-H Q5-shaped regional revenue: six-table join (two broadcast
    // dim chains + fact-fact), decimal-exact discounted revenue. The
    // only query deep enough to exercise Catalyst's join reordering.
    "q63_regional_revenue" -> ((s, dir) => {
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
    }),

    // ── stratified deterministic sampling: per-language keep rates
    // (corpus rebalancing), content-hash row fate.
    "q64_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 800, "de" -> 200), 500)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ── sequence packing (concat-then-chunk): shard by content hash,
    // greedy running-sum bin assignment per shard — parallel packing.
    "q65_seq_packing" -> ((s, dir) =>
      graft.operators.Packing.packSequences(t(s, dir, "documents"),
        "doc_id", "text", capacity = 256, shards = 8)
        .orderBy("doc_id")),

    // ── text scrubbing (PII-style redaction): ordered regexp_replace
    // battery, per-row, RE2-compatible patterns for engine parity.
    "q66_scrub" -> ((s, dir) =>
      TextAnalysis.scrub(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── incremental dedup (daily-ingest shape): drop incoming docs that
    // exact/near-duplicate the existing corpus; cross-side LSH only.
    "q67_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dropDuplicatesAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", minJaccard = 0.1)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // ── deterministic shuffle: reproducible salted-hash training order
    // (the row-order-sensitive gate proves ordering parity).
    "q69_det_shuffle" -> ((s, dir) =>
      graft.operators.Sampling.deterministicShuffle(
        t(s, dir, "documents"), "doc_id", salt = "epoch1")
        .select("doc_id")),

    // ── TODO.md:27 trending detection: first→last delta per key.
    "q56_trending" -> ((s, dir) =>
      Summaries.trending(events(s, dir), "user_id", "event_id", "value", 10.0)
        .orderBy("user_id")),

    // ── TODO.md:28 last-change-of-≥x per key.
    "q57_last_big_change" -> ((s, dir) =>
      Summaries.lastBigChange(events(s, dir), "user_id", "event_id", "value", 50.0)
        .orderBy("user_id")),

    // ── repetition signals: most-frequent-bigram share, per-row (sorted-
    // array longest run == max frequency), Gopher's repetition filter.
    "q55_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── SimHash near-dup pairs: pigeonhole chunk blocking (lossless for
    // the Hamming threshold), verified against a DuckDB cross join.
    "q53_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b")),

    // ── two-stage ANN: int8-quantized candidate scan, exact float rerank
    // (the production retrieval pattern; both stages rank-deterministic).
    "q54_ann_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedRerankTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── embedding int8 quantization (training-data prep): per-vector
    // scale + quantized summary stats (scalar outputs keep the oracle
    // hash-comparable).
    "q48_embed_quantize" -> ((s, dir) => {
      val q = Similarity.quantizeInt8(col("embedding"))
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.quantizeScale(col("embedding")).as("scale"),
          aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(q).as("q_min"), array_max(q).as("q_max"))
        .orderBy("vec_id")
    }),

    // ── §2.5b calendar-day lookbacks (TODO.md:10-19's N-DAY variants):
    // value as-of k days ago via rangeBetween(-k,-k) frames — NULL where
    // that day's snapshot is missing, unlike row-lag lookbacks (q10).
    // Daily spine first (last value per user-day by event_id) to satisfy
    // the one-row-per-(key, day) contract.
    "q74_lookback_days" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      Summaries.lookbackByDays(daily, "user_id", "d", "value", Seq(1, 7))
        .select("user_id", "d", "value", "value_1d_ago", "value_7d_ago")
        .orderBy("user_id", "d")
    }),

    // ── HLL vocabulary size: approx_count_distinct (HyperLogLog++) beside
    // the exact count. Sketch estimates are engine-specific, so this is a
    // rows-only query gated by committed golden hashes (tools/goldens/),
    // like q31 — the spec additionally pins the ≤5% relative error.
    "q75_vocab_hll" -> ((s, dir) =>
      TextAnalysis.vocabSize(t(s, dir, "documents"), "text")),

    // ── benchmark decontamination (the eval-leakage guard): drop corpus
    // docs sharing any trigram shingle with the benchmark slice. The
    // benchmark's shingle set broadcasts; the corpus text never shuffles.
    "q76_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // ── budgeted selection (data mixing): keep documents in greedy
    // quality order (lexical diversity desc, id asc) until a global
    // token budget is spent — two-pass bucketed prefix, NOT a global
    // cumulative window (one task sorting the corpus).
    "q77_budget_select" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(col("doc_id"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"),
        size(toks).cast("long").as("n_tokens"))
      graft.operators.Selection.selectUnderBudget(
        scored, "doc_id", "score", "n_tokens", budget = 10000L)
        .select("doc_id", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // ── domain mixing: per-domain token budgets (the mixing-weights
    // production shape) — same bucketed two-pass prefix as q77; the
    // boundary windows partition by domain.
    "q78_domain_mixing" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(col("doc_id"),
        element_at(array(lit("web"), lit("books"), lit("code")),
          (col("doc_id") % 3 + 1).cast("int")).as("domain"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"),
        size(toks).cast("long").as("n_tokens"))
      graft.operators.Selection.selectUnderBudgetByGroup(
        scored, "domain", "doc_id", "score", "n_tokens",
        Map("web" -> 4000L, "books" -> 2500L, "code" -> 1000L))
        .select("doc_id", "domain", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // ── unigram LM quality scoring (the CCNet/KenLM perplexity filter's
    // Spark-expressible reduction): corpus-trained token frequencies →
    // per-doc average log-likelihood; 6-dp + decimal-sum determinism.
    "q79_unigram_lm" -> ((s, dir) =>
      TextAnalysis.unigramLogLikelihood(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── sliding-window chunking (RAG/embedding prep): 16-token windows,
    // stride 8, ragged tail — a pure narrow plan, zero shuffles.
    "q80_chunking" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 16, strideTokens = 8)
        .orderBy("doc_id", "chunk_idx")),

    // ── embedding near-dup, BANDED generator (the past-5M scale plan):
    // 3 independent 4-plane hyperplane tables, candidates = same bucket
    // in ANY table, one distinct, exact cosine verify — the oracle
    // restates the identical banded pipeline.
    "q81_neardup_banded" -> ((s, dir) =>
      Similarity.nearDupPairsBanded(t(s, dir, "embeddings"), "vec_id", "embedding",
        0.4, planes = 4, tables = 3)
        .orderBy("id_a", "id_b")),

    // ── paragraph-level dedup (Lee et al.-style passage dedup at
    // paragraph granularity): multi-paragraph docs are derived from the
    // fixture by pairing each doc's text with its successor's (the
    // fixture's docs are single-paragraph), so every interior paragraph
    // occurs twice corpus-wide; first occurrence by (doc, pos) survives.
    "q82_paragraph_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
      Dedup.dedupParagraphs(twos, "doc_id", "text").orderBy("doc_id")
    }),

    // ── bigram LM scoring with stupid backoff (CCNet-shape: frequency
    // tables trained on a reference half, scoring the full corpus, so
    // unseen bigrams/OOV tokens exercise the backoff branches).
    "q83_bigram_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bigramLogLikelihood(docs,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ── quality-classifier gate (fastText/CCNet reduction): logistic
    // score over five deterministic text features, keep iff > 0.5;
    // per-row narrow plan, zero shuffles.
    "q84_quality_classifier" -> ((s, dir) =>
      TextAnalysis.qualityClassify(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── cross-side embedding near-dup drop (semantic decontamination /
    // vector daily-ingest): every third vector is the "incoming" batch,
    // the rest the corpus; candidates via banded LSH BETWEEN sides only.
    "q85_embed_drop_against" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.dropNearDupsAgainst(
        emb.filter(col("vec_id") % 3 === 0), emb.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", 0.4, planes = 4, tables = 3)
        .select("vec_id").orderBy("vec_id")
    }),

    // ── within-document repeated-line removal (C4 boilerplate cut):
    // multi-line docs derived by sandwiching a successor's text between
    // two copies of the doc's own line; the repeat is dropped per doc.
    "q86_dedup_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val three = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"),
          concat(col("text"), lit("\n"), col("__t2"), lit("\n"), col("text")).as("text"))
      TextAnalysis.dedupLines(three, "doc_id", "text").orderBy("doc_id")
    }),

    // ── bloom-prefiltered decontamination: same RESULT as q76 (exact
    // verify absorbs bloom false positives), but the benchmark side ships
    // as a BloomFilterAggregate sketch over xxhash64(shingle) — megabytes
    // of bits instead of a broadcast hash table of shingle strings.
    "q87_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // ── fuzzy contamination fraction (PaLM/Llama-style): per-doc share of
    // distinct trigrams also present in the benchmark slice; the drop
    // decision thresholds this instead of q76's drop-on-any-hit.
    "q88_contamination_frac" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationFraction(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .select("doc_id", "n_shingles", "n_contaminated", "frac")
        .orderBy("doc_id")
    }),

    // ── cross-document duplicated span mining (boilerplate detector):
    // 5-grams occurring in ≥2 distinct docs, with doc frequency and total
    // occurrence count; multiplicity within a doc counts toward
    // n_occurrences only.
    "q89_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2)
        .select("shingle", "n_docs", "n_occurrences")
        .orderBy("shingle")),

    // ── CUBE with grouping_id over orders: all four grouping-set
    // combinations of (status, priority) in one pass through Expand.
    "q90_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          grouping_id().cast("long").as("gid"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n_rows", "total")
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // ── salted skew-resistant aggregation: two-phase groupBy through a
    // content+partition-id salt; result identical to the plain groupBy the
    // oracle runs (salting is purely physical).
    "q91_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedSumCount(
        t(s, dir, "lineitem").select(col("l_suppkey"),
          col("l_quantity").cast("decimal(18,2)").as("qty")),
        "l_suppkey", "qty", salts = 16)
        .select(col("l_suppkey"), col("sum_value").cast("double").as("sum_qty"),
          col("n_rows"))
        .orderBy("l_suppkey")),

    // ── substring-level dedup (Lee et al. passage removal): tokens covered
    // by a cross-document duplicated 5-gram are cut everywhere except the
    // gram's canonical (min-id) document; docs come back rebuilt, exact
    // duplicates fully emptied.
    "q92_remove_dup_spans" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2)
        .select("doc_id", "text", "n_removed")
        .orderBy("doc_id")),

    // ── paragraph-level NEAR-dup dedup: q82's corpus-wide first-occurrence
    // cut, with exact ∪ Jaccard-verified near-dup paragraph clusters (the
    // full dedupCorpus machinery at paragraph granularity).
    "q93_paragraph_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
      Dedup.dedupParagraphsNear(twos, "doc_id", "text", minJaccard = 0.1)
        .orderBy("doc_id")
    }),

    // ── multi-benchmark decontamination REPORT: screen the corpus against
    // two labeled eval suites in ONE corpus pass; per-(doc, suite) distinct
    // contaminated-shingle counts, suites' shingles broadcast together.
    "q94_decontam_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val benches = docs.filter(col("doc_id") % 97 === 0)
        .select(lit("suiteA").as("bench_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 89 === 0)
          .select(lit("suiteB").as("bench_id"), col("text")))
      Dedup.decontaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0),
        benches, "doc_id", "text", "bench_id", n = 3)
        .orderBy("doc_id", "bench_id")
    }),

    // ── corpus composition profile: per (lang, length-bucket) doc count,
    // token mass, doc share — the corpus-QA / mixing-weights table. The
    // share window runs over the aggregated (tiny) table only.
    "q95_corpus_profile" -> ((s, dir) =>
      TextAnalysis.corpusProfile(t(s, dir, "documents"), "text", "lang")
        .orderBy("lang", "len_bucket")),

    // ── per-source duplication report: doc counts, distinct-text counts,
    // exact-dup rate, char mass per feed — digest-sized distinct flow.
    "q96_source_report" -> ((s, dir) =>
      TextAnalysis.sourceReport(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source")),

    // ── deterministic training-shard assignment: salted-hash shard + 0-based
    // position within shard (hash order) — the reproducible global-shuffle-
    // then-shard layout; one hash exchange, in-partition sort, no global sort.
    "q97_shard_assign" -> ((s, dir) =>
      Sampling.assignShards(
        t(s, dir, "documents").select("doc_id"), "doc_id", nShards = 8, salt = "epoch1")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")),

    // ── content-defined chunking: Rabin-style rolling-hash boundaries
    // (portable 60-bit md5 bucket = 0 mod 8) — edit-stable chunk edges,
    // the chunk-level-dedup precursor. Pure narrow plan, zero exchanges.
    "q98_cdc_chunks" -> ((s, dir) =>
      TextAnalysis.contentDefinedChunks(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx")),

    // ── per-group top-k selection: the 5 best docs per language by lexical
    // diversity, ranked by the bounded-heap partial aggregate (no per-group
    // window, no full-group sort — the q26 ANN ranking machinery reused).
    "q99_topk_per_lang" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
      graft.operators.Selection.topKPerGroup(scored, "lang", "score", "doc_id", 5)
        .orderBy("lang", "rn")
    }),

    // ── chunk-level dedup over CDC boundaries: each doc carries its own
    // text plus its successor's (the q82 overlap construction), so the
    // shared region chunks identically in both docs and collapses by
    // digest — the edit-resilient chunk dedup production pipelines run.
    "q100_dedup_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit(" "), col("__t2")).as("text"))
      Dedup.dedupChunks(twos, "doc_id", "text").orderBy("doc_id")
    }),

    // ── corpus snapshot diff: added/removed/changed between two dataset
    // versions — one full-outer join co-shuffled on the id, compared
    // columns riding as a struct (exchange-free on id-bucketed stores).
    "q101_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val before = docs.filter(col("doc_id") % 7 =!= 0)
      val after = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")))
      graft.engine.Changes.snapshotDiff(before, after, "doc_id", Seq("text", "lang"))
        .orderBy("doc_id")
    }),

    // ── per-stratum quantile gate: keep docs at/above their language's
    // p40 lexical-diversity threshold — tiny threshold table broadcast
    // back, no window (exact percentile ≡ DuckDB quantile_cont, the q42
    // precedent).
    "q102_quantile_gate" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
      graft.operators.Selection.keepAboveQuantile(scored, "lang", "score", 0.4)
        .select("doc_id", "lang", "score")
        .orderBy("doc_id")
    }),

    // ── retention cohorts: first-seen-date cohorts × day-offset activity
    // counts — two same-key aggregations + one co-shuffled join, no window.
    "q103_retention" -> ((s, dir) =>
      Summaries.retentionCohorts(events(s, dir), "user_id", "ts")
        .orderBy("cohort", "day_offset")),

    // ── ordered funnel: earliest view → click → purchase completion per
    // user (strictly increasing event_id) — one same-key join + cond-min
    // aggregation per step, no window, nulls cascade on break.
    "q104_funnel" -> ((s, dir) =>
      Summaries.funnel(events(s, dir), "user_id", "event_type", "event_id",
        Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // ── audio decode ROUND-TRIP: synthesize a WAV per doc (square wave
    // whose amplitude and frame count are closed-form in doc_id, chosen
    // dyadic-exact), decode through the REAL javax.sound.sampled kernel,
    // and let the oracle state the decoded facts analytically — an
    // end-to-end correctness gate on the WAV decoder itself. Narrow plan:
    // synth + decode are one typed map pass, payloads never shuffle.
    "q105_audio_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.operators.Multimodal.MediaRow(id, "audio",
          graft.operators.Multimodal.syntheticWav(
            amplitude = (256 * (1 + id % 31)).toInt,
            nFrames = (800 + (id % 7) * 80).toInt)))
      graft.operators.Multimodal.audioMeta(media).toDF()
        .orderBy("doc_id")
    }),

    // ── weighted sampling without replacement (Efraimidis–Spirakis):
    // k docs drawn ∝ n_chars, deterministically (md5-uniform priorities) —
    // TakeOrderedAndProject plan, no global sort. The oracle states the
    // identical priority arithmetic.
    "q106_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
        .orderBy("doc_id")),

    // ── containment near-dup (asymmetric): corpus ∪ synthetic extensions
    // (every even doc also appears concatenated with its successor), so
    // genuine short-in-long containments exist; banded LSH candidates,
    // containment = |A∩B| / min(|A|,|B|), the smaller side flagged as
    // `contained`. Oracle restates the identical banded pipeline.
    "q107_containment_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ext = docs.filter(col("doc_id") % 2 === 0)
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" "), col("__t2")).as("text"))
      val corpus = docs.select("doc_id", "text").unionByName(ext)
      Dedup.containmentPairs(corpus, "doc_id", "text", minContainment = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // ── PII report: deterministic synthetic PII (emails / phones / IPv4s
    // in closed form from doc_id) appended to the text, then the detector
    // counts per category — the oracle runs the SAME regexes in its own
    // engine on the identically-built text, a true cross-engine gate on
    // the detector. Pure narrow projection (zero exchanges).
    "q108_pii_report" -> ((s, dir) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id") % 97, lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 256, lit("."),
            col("doc_id") % 250 + 1))
          .otherwise(lit("")))
      TextAnalysis.piiSignals(
        t(s, dir, "documents").select(col("doc_id"), aug.as("text")),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ── URL host/domain extraction + broadcast-anti-join blocklist:
    // urls built in closed form from (source, doc_id), host parsed with
    // the RE2-portable scheme regex, registered domain = last two labels,
    // blocked domains dropped via a broadcast LEFT ANTI join.
    "q109_url_host_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          concat(lit("https://cdn."), col("source"), lit(".net/a/"), col("doc_id"))
            .as("url"))
      val blocked = Seq("src3.net", "src7.net", "src11.net", "src19.net")
        .toDF("domain")
      TextAnalysis.dropBlockedDomains(docs, "url", blocked)
        .select("doc_id", "url", "host", "domain")
        .orderBy("doc_id")
    }),

    // ── Zipf's-law fit over the top-200 token frequencies: one-row
    // corpus-QA gate (ln-ln least squares, 6-dp rounded — the q71 ln
    // portability rule); vocab agg is map-side combinable, the top-N cut
    // is TakeOrderedAndProject, regression runs over 200 rows.
    "q110_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topN = 200)),

    // ── collocation mining: top adjacent word pairs by PMI with a count
    // floor — bigram/unigram aggs are token-sized, N broadcasts, the cut
    // is TakeOrdered on the 6-dp-rounded score (all-integer ratio inside
    // ln, so both engines round the same real number).
    "q111_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minCount = 20, topK = 40)),

    // ── per-label embedding centroids: labels × dims mean-coordinate
    // table (map-side-combined partial sums; 6-dp rounding absorbs float
    // sum order).
    "q112_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"), "embedding", "label")
        .orderBy("label", "dim")),

    // ── per-label medoid: the member vector most cosine-similar to its
    // label centroid — argmax via labels-sized agg + equi-join back, ties
    // on the rounded sim break to the smallest id. No member window.
    "q113_label_medoids" -> ((s, dir) =>
      Similarity.labelMedoids(t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("label")),

    // ── first-order Markov transitions over per-user event sequences:
    // one keyed lag window, types²-sized matrix agg, broadcast row
    // totals; prob is exact BIGINT/BIGINT division.
    "q114_event_transitions" -> ((s, dir) =>
      Summaries.transitionMatrix(events(s, dir), "user_id", "event_type",
        Seq("ts", "event_id"))
        .orderBy("prev_type", "next_type")),

    // ── equi-depth histogram over prices: exact decile boundaries (one
    // broadcast row), per-row fold for bucket assignment, 10-row rollup.
    // Bucket membership is ulp-robust across engines: an interpolated
    // boundary lies strictly between two consecutive sorted data values,
    // so no data value can sit between the engines' boundary doubles.
    "q115_equidepth_hist" -> ((s, dir) =>
      Summaries.equiDepthHistogram(t(s, dir, "lineitem"), "l_extendedprice",
        nBuckets = 10)
        .orderBy("bucket")),

    // ── per-source token-distribution drift (coverage KL vs the corpus):
    // one (source, token) agg reused via ReuseExchange, vocabulary-keyed
    // corpus join, broadcast totals, 6-dp rounded.
    "q116_slice_divergence" -> ((s, dir) =>
      TextAnalysis.sliceDivergence(t(s, dir, "documents"), "text", "source")
        .orderBy("source")),

    // ── BUCKETIZED point-in-interval join: clicks landing inside the
    // 2-hour window after each same-user error. The naive non-equi
    // join plans a nested loop; bucketizing time turns it into a hash
    // equi-join on (user, bucket) + exact re-check — PlanSpec pins the
    // absence of nested-loop/cartesian nodes.
    "q117_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      val points = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      graft.operators.Intervals.pointInInterval(points, intervals, "user_id",
        "ts", "start_ts", "end_ts", bucketSeconds = 3600L)
        .select("user_id", "error_id", "click_id")
        .orderBy("error_id", "click_id")
    }),

    // ── SCD2 validity intervals from the event log: per-user value
    // changes stamped [valid_from, valid_to) — one hash exchange shared
    // by the change-filter lag and the validity lead.
    "q118_scd2" -> ((s, dir) =>
      Changes.scd2(events(s, dir), "user_id", "event_id", "value")
        .orderBy("user_id", "valid_from")),

    // ── per-language weighted sample: 20 docs per lang ∝ n_chars via
    // Efraimidis–Spirakis priorities ranked by the BoundedTopK bounded-
    // heap aggregate (groups × partitions × k exchange, no window).
    "q119_weighted_per_group" -> ((s, dir) =>
      Sampling.weightedSamplePerGroup(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", "lang", k = 20, salt = "g")
        .orderBy("lang", "rn")),

    // ── robust MAD outlier report per event type: |v − median| >
    // 3 × 1.4826 × MAD — three group-sized aggregation passes, both
    // small tables broadcast back, 6-dp score.
    "q120_mad_outliers" -> ((s, dir) =>
      Summaries.madOutliers(
        events(s, dir).select("event_type", "event_id", "value"),
        "event_type", "value", z = 3.0)
        .select("event_type", "event_id", "value", "score")
        .orderBy("event_id"))
        ,

    // ── per-doc boilerplate fraction: the q82 two-paragraph corpus, but
    // as a READ-ONLY report — paragraph digests aggregate to occurrence
    // counts, count joins back, per-doc rollup; paragraph text never
    // shuffles.
    "q121_boilerplate_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
      Dedup.boilerplateReport(twos, "doc_id", "text").orderBy("doc_id")
    }),

    // ── bucketed quantile transform: every lineitem price mapped to its
    // centile (qrank = bucket/100) — one exact-boundary row broadcast +
    // a per-row fold; the batch-effect normalizer at corpus scale.
    "q122_quantile_transform" -> ((s, dir) =>
      Summaries.quantileTransform(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice", nBuckets = 100)
        .orderBy("l_orderkey", "l_linenumber")),

    // ── gap-based sessionization: per-user sessions split at 4 h of
    // inactivity — one key exchange feeds the boundary lag, the running
    // session index AND the session rollup (partitioning on the key
    // satisfies the (key, session) aggregation: no second shuffle).
    "q123_sessionize" -> ((s, dir) =>
      Summaries.sessionize(events(s, dir), "user_id", "ts", "event_id",
        gapSeconds = 4 * 3600L)
        .orderBy("user_id", "session_idx")),

    // ── temperature resampling (the XLM-R/mT5 multilingual rebalancer):
    // α = 0.5 flattens the en-heavy corpus toward uniform at expected
    // half size; per-lang keep rates broadcast back over a narrow filter.
    "q124_temperature_resample" -> ((s, dir) =>
      Sampling.temperatureResample(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", alpha = 0.5, frac = 0.5, salt = "tmp")
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ── blocked fuzzy record linkage: customers vs a noisy twin (one
    // char deleted at custkey mod length) — trigram blocking with a
    // df-50 stop-gram cap, Levenshtein verify on candidates only.
    "q125_fuzzy_link" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val noisy = cust.select(
        (col("c_custkey") + 1000000L).as("n_key"),
        concat(
          expr("substring(c_name, 1, CAST(c_custkey % length(c_name) AS INT))"),
          expr("substring(c_name, CAST(c_custkey % length(c_name) AS INT) + 2, 1000)"))
          .as("n_name"))
      graft.operators.Linkage.fuzzyJoin(cust, noisy,
        "c_custkey", "c_name", "n_key", "n_name",
        maxDist = 1, q = 3, maxGramDf = 50)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("c_custkey", "n_key")
    }),

    // ── leakage-safe split: corpus ∪ copies of every 5th doc — copies
    // must follow their original's split (digest-group representative
    // keys the hash), pinning the no-train/eval-leak contract.
    "q126_leak_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Sampling.leakSafeSplit(corpus, "doc_id", "text", testPermille = 200,
        salt = "lk")
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    // ── PageRank over a closed-form doc link graph (doc i → (7i+k) mod N,
    // k = 1..3): 5 damped iterations, 12-dp per-iteration re-quantization
    // so any engine stating the recurrence reproduces ranks bit-for-bit.
    "q127_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % n).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst",
        damping = 0.85, iters = 5)
        .orderBy("node")
    }),

    // ── c-TF-IDF: top-10 characteristic terms per source slice —
    // tf_{t,c} · ln(1 + avgClassTokens / f_t), vocab-sized joins, the
    // rank window over the classes × vocab matrix only.
    "q128_class_terms" -> ((s, dir) =>
      TextAnalysis.classTerms(
        t(s, dir, "documents").select("source", "text"),
        "source", "text", k = 10)
        .orderBy("source", "rn")),

    // ── per-doc character entropy (gibberish signal) via the codegen'd
    // CharEntropyExpr kernel — one histogram pass per row, no per-char
    // explode; the oracle states the exploded entropy() formulation.
    "q129_char_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          round(graft.functions.CharEntropyExpr.charEntropy(col("text")), 6)
            .as("char_entropy"))
        .withColumn("is_low", (col("char_entropy") < 3.0).cast("int"))
        .orderBy("doc_id")),

    // ── recency-decayed user activity: Σ value · 0.5^⌊days/7⌋ from the
    // corpus max date — exact dyadic weights, scalar max broadcast back.
    "q130_decayed_activity" -> ((s, dir) =>
      Summaries.decayedScore(events(s, dir).select("user_id", "ts", "value"),
        "user_id", "ts", "value", halfLifeDays = 7)
        .orderBy("user_id")),

    // ── one BPE training round: top-50 adjacent char pairs inside words
    // — two narrow explodes + an alphabet²-sized count + TakeOrdered.
    "q131_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.charPairStats(t(s, dir, "documents"), "text", k = 50)),

    // ── per-user sequence anomaly: avg −ln P(next|prev) under the
    // corpus's own transition matrix; the pair subtree's key exchange is
    // physically reused between the matrix and the per-user pass.
    "q132_sequence_anomaly" -> ((s, dir) =>
      Summaries.sequenceAnomaly(events(s, dir), "user_id", "event_type",
        Seq("ts", "event_id"))
        .orderBy("user_id")),

    // ── EXACT prefix-filtered Jaccard self-join at 0.600 over corpus ∪
    // one-token-prepended copies of every 4th doc (guaranteed
    // high-Jaccard pairs) — all-integer thresholds, no LSH recall loss.
    // 3-gram shingles: the gram-space sizing rule again — this corpus's
    // tiny vocabulary makes every BIGRAM high-df (prefixes stop
    // discriminating and the candidate join quadratics), while the
    // trigram space (vocab³) keeps prefix grams rare.
    "q133_jaccard_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("xqzw "), col("text")).as("text")))
      Dedup.jaccardJoinExact(corpus, "doc_id", "text", minJaccardPermille = 600,
        n = 3)
        .orderBy("doc_a", "doc_b")
    }),

    // ── rolling z-score spike detection per event type (7 observed-day
    // lookback, z = 2): the corpus collapses to the daily table first,
    // the window runs over that — integer rolling sums, 6-dp z.
    "q134_daily_spikes" -> ((s, dir) =>
      Summaries.dailySpikes(events(s, dir), "event_type", "ts",
        lookback = 7, z = 2.0)
        .orderBy("event_type", "day")),

    // ── per-type activity trend: OLS slope + r² of daily counts over the
    // day offset — exact integer moment sums, two groups-sized aggs,
    // window-free.
    "q135_trend_slopes" -> ((s, dir) =>
      Summaries.trendSlopes(events(s, dir), "event_type", "ts")
        .orderBy("event_type")),

    // ── per-source duplication profile over corpus ∪ same-source copies
    // of every 5th doc: digests aggregate, text never shuffles.
    "q136_dup_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("source"), col("text")))
      Dedup.duplicationProfile(corpus, "source", "text")
        .orderBy("source")
    }),

    // ── cross-source exact-overlap matrix: every 3rd doc mirrored into a
    // synthetic 'mirror' source — digest-keyed self-join, strata²-bounded.
    "q137_source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("source", "text")
      val corpus = docs.unionByName(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
          .select(lit("mirror").as("source"), col("text")))
      Dedup.strataOverlap(corpus, "source", "text")
        .orderBy("stratum_a", "stratum_b")
    }),

    // ── per-doc novelty: fraction of trigram shingles unique to the doc
    // corpus-wide — gram df joined back, exact BIGINT division.
    "q138_novelty" -> ((s, dir) =>
      Dedup.noveltyReport(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")),

    // ── per-label embedding dispersion E||x−c||² via the centroid trick
    // — no pairwise distances; decimal-summed row norms, 6-dp out.
    "q139_label_dispersion" -> ((s, dir) =>
      graft.operators.Similarity.labelDispersion(
        t(s, dir, "embeddings"), "embedding", "label")
        .orderBy("label")),

    // ── duplicate-family size histogram over corpus ∪ copies of every
    // 5th doc ∪ second copies of every 10th: families of size 1/2/3.
    "q140_dup_histogram" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"), col("text")))
      Dedup.dupFamilyHistogram(corpus, "text")
        .orderBy("family_size")
    }),

    // ── REAL spectral round-trip: square waves at period 5+id%6 frames
    // (fundamental 8000/(2·period) Hz, 5040 frames = integer cycles for
    // every period, so no leakage) must Goertzel-argmax back to their own
    // fundamental among all six candidates (square waves have no even
    // harmonics, so the 2× candidate can never win).
    "q141_audio_dominant" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.operators.Multimodal.MediaRow(id, "audio",
          graft.operators.Multimodal.syntheticWav(
            amplitude = (256 * (1 + id % 31)).toInt,
            nFrames = 5040,
            period = (5 + id % 6).toInt)))
      val cands = (5 to 10).map(p => 8000.0 / (2 * p))
      graft.operators.Multimodal.audioDominantFrequency(media, cands)
        .toDF().orderBy("doc_id")
    }),

    // ── reciprocal rank fusion of a char-length ranking and a token-count
    // ranking, top-50 per source: both lists come from the bounded-heap
    // aggregate, fixed-order two-term double sum, 6-dp.
    "q142_rank_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("double").as("len_score"),
          when(col("text").isNotNull,
            size(split(col("text"), " "))).cast("double").as("tok_score"))
      graft.operators.Selection.rankFusion(docs, "source", "doc_id",
        Seq("len_score", "tok_score"), topK = 50)
        .orderBy("source", "doc_id")
    }),

    // ── per-node triangles / degree / clustering coefficient over the
    // rare-shingle similarity graph (docs sharing a trigram with
    // corpus df in [2,4] — ≤6 pairs per gram, never all-pairs).
    "q143_triangles" -> ((s, dir) => {
      val edges = trigramEdges(s, dir)
      graft.operators.Graph.triangleStats(edges, "a", "b")
        .orderBy("node")
    }),

    // ── HITS hubs/authorities over the q127 closed-form link graph:
    // 5 iterations, 12-dp half-step re-quantization, decimal-exact
    // global mass — bit-reproducible in any engine stating the recurrence.
    "q144_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % n).as("dst"))
      graft.operators.Graph.hits(edges, "src", "dst", iters = 5)
        .orderBy("node")
    }),

    // ── per-doc OOV rate against the corpus's own top-500 tokens
    // (freq desc, token asc cut via TakeOrdered): exact BIGINT counts,
    // tokens weighted by multiplicity.
    "q145_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 500)
        .orderBy("doc_id")),

    // ── Flesch-style reading ease with the vowel-run syllable proxy —
    // narrow per-row HOF pass, integer counts, fixed-order double score.
    "q146_readability" -> ((s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── DEFLATE compression-ratio quality signals (engine-specific
    // kernel values → rows-only at the gate, like q31/q75; the
    // mapPartitions plumbing is spec-pinned against a driver-side
    // single-string reference in CompressionSpec).
    "q147_compress_ratio" -> ((s, dir) =>
      graft.operators.Compression.compressionSignals(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ── χ² class-term association, top-10 per source: exact BIGINT
    // contingency counts, the χ² statistic in one pinned double shape
    // (BIGINT products would overflow at corpus scale).
    "q148_chi2_terms" -> ((s, dir) =>
      TextAnalysis.chiSquareTerms(
        t(s, dir, "documents").select("source", "text"),
        "source", "text", k = 10)
        .orderBy("source", "rn")),

    // ── per-source Pearson r + covariance between char length and token
    // count: exact BIGINT moment sums, trendSlopes' determinism contract.
    "q149_corr_report" -> ((s, dir) =>
      Summaries.pearsonByGroup(
        t(s, dir, "documents").select(col("source"), col("n_chars"),
          when(col("text").isNotNull,
            size(split(col("text"), " "))).cast("long").as("tok_n")),
        "source", "n_chars", "tok_n")
        .orderBy("source")),

    // ── Cohen's κ between the annotated `lang` column and the langId
    // heuristic's prediction: one corpus pass to the confusion matrix,
    // decimal-exact chance term.
    "q150_lang_kappa" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("predicted_lang"))
      Summaries.cohenKappa(
        docs.select("doc_id", "lang").join(pred, Seq("doc_id")),
        "lang", "predicted_lang")
        .orderBy("n")
    }),

    // ── target-share data mixing: explicit per-source corpus shares,
    // content-hash row fate, groups-sized rate table broadcast back.
    "q151_target_mix" -> ((s, dir) =>
      Sampling.targetShareResample(
        t(s, dir, "documents").select("doc_id", "source", "lang"),
        "doc_id", "source",
        shares = Map("src0" -> 0.40, "src1" -> 0.35, "src2" -> 0.05),
        budgetFrac = 0.5)
        .orderBy("doc_id")),

    // ── per-flag 5-95% trimmed price statistics: exact quantile_cont
    // thresholds broadcast back, DECIMAL(28,12) order-free trimmed mean.
    "q152_trimmed_stats" -> ((s, dir) =>
      Summaries.trimmedStats(
        t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", lo = 0.05, hi = 0.95)
        .orderBy("l_returnflag")),

    // ── ANN recall@5 evaluation: LSH-bucketed top-k graded against the
    // exact cosine top-k on a 1-in-50 query sample.
    "q153_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annRecallReport(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id")
    }),

    // ── personalized PageRank over the q127 link graph, teleport
    // concentrated on the doc_id % 100 = 0 seed set: 5 iterations,
    // 12-dp per-iteration re-quantization, seeds broadcast.
    "q154_personalized_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % n).as("dst"))
      graft.operators.Graph.personalizedPageRank(edges, "src", "dst",
        docs.filter(col("doc_id") % 100 === 0), "doc_id",
        damping = 0.85, iters = 5)
        .orderBy("node")
    }),

    // ── REAL multi-frame decode round-trip: animated GIFs with
    // 2 + id%4 solid frames, gray (10 + 7·(id%20) + 13·i) % 256 — every
    // stride-2 sampled frame must decode back to its own closed-form
    // dimensions and mean luminance v/255 (GIF palettes store ≤256
    // distinct colors losslessly; JDK reader/writer, codec-free).
    "q155_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          graft.operators.Multimodal.MediaRow(id, "video",
            graft.operators.Multimodal.syntheticGif(
              nFrames = (2 + id % 4).toInt, width = 8, height = 6,
              grayOf = i => ((10 + 7 * (id % 20) + 13 * i) % 256).toInt))
        }
      graft.operators.Multimodal.gifFrameMeta(media, stride = 2)
        .toDF().orderBy("doc_id", "frame_idx")
    }),

    // ── dedup audit over corpus ∪ exact copies of every 5th doc: one row
    // per doc with kept / dropped_exact / dropped_near and the cluster
    // survivor — every removal attributable; kept set ≡ dedupCorpus.
    "q156_dedup_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.dedupAudit(corpus, "doc_id", "text", minJaccard = 0.1)
        .orderBy("doc_id")
    }),

    // ── image perceptual near-dup: REAL PNG encode/decode → 8×8 aHash →
    // pigeonhole Hamming join. Fixture: every doc gets a unique two-level
    // block image (SplitMix64 bijection → no pattern collisions); every
    // 4th doc also gets a one-block-flipped copy at +300000, which lands
    // at aHash Hamming EXACTLY 1 (blocks sit far from the two-level
    // mean — Multimodal.syntheticBlockImage scaladoc), so the pair set
    // and distances are closed-form and the oracle is a plain SQL twin.
    "q157_image_near_dup" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val p0 = graft.operators.Multimodal.mix64(id)
          // exclude the degenerate patterns whose base or flipped copy
          // would not land at Hamming 1: all-dark (hash collides with
          // all-bright) and popcount >= 63 (a flip on the single dark
          // block yields an all-bright copy at Hamming 63, not 1 — the
          // q217 audio gate's rule). mix64 is a bijection so no in-range
          // id realistically maps there, but the popcount gate makes the
          // fixture TOTAL rather than probabilistic
          val pattern =
            if (p0 == 0L || java.lang.Long.bitCount(p0) >= 63) 1L else p0
          val base = graft.operators.Multimodal.MediaRow(id, "image",
            graft.operators.Multimodal.syntheticBlockImage(pattern))
          if (id % 4 == 0)
            Seq(base, graft.operators.Multimodal.MediaRow(id + 300000L, "image",
              graft.operators.Multimodal.syntheticBlockImage(pattern,
                flipBlock = (id % 64).toInt)))
          else Seq(base)
        }
      graft.operators.Multimodal.imageNearDups(media, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),

    // ── end-to-end image dedup: the q157 hash→pair machinery composed
    // with connected components and min-id survivors — every 3rd doc
    // gains a one-block-flipped re-encode at +400000, each perceptual
    // cluster is exactly {original, copy}, so the audit is closed-form.
    "q158_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val p0 = graft.operators.Multimodal.mix64(id)
          // same total popcount gate as q157 (see comment there)
          val pattern =
            if (p0 == 0L || java.lang.Long.bitCount(p0) >= 63) 1L else p0
          val base = graft.operators.Multimodal.MediaRow(id, "image",
            graft.operators.Multimodal.syntheticBlockImage(pattern))
          if (id % 3 == 0)
            Seq(base, graft.operators.Multimodal.MediaRow(id + 400000L, "image",
              graft.operators.Multimodal.syntheticBlockImage(pattern,
                flipBlock = ((id / 3) % 64).toInt)))
          else Seq(base)
        }
      graft.operators.Multimodal.imageDedup(media, maxHamming = 3)
        .orderBy("doc_id")
    }),

    // ── one-pass column profile of the documents table (exact arm —
    // count(DISTINCT) via Expand; the approx arm is the 100 TB path,
    // spec-pinned): string/integer columns only, whose min/max string
    // forms are engine-portable.
    "q159_column_profile" -> ((s, dir) =>
      graft.operators.Profiling.profileColumns(
        t(s, dir, "documents"), Seq("doc_id", "lang", "source"))
        .orderBy("column")),

    // ── ROLLUP mixing dashboard: docs + chars per (source, lang), per
    // source, and overall in ONE Expand + hash-agg pass; rolled-up keys
    // labeled '(all)' for total-order parity with the DuckDB twin.
    "q160_rollup_report" -> ((s, dir) =>
      Summaries.rollupReport(t(s, dir, "documents"),
        Seq("source", "lang"), "n_chars")
        .orderBy("source", "lang")),

    // ── source × lang cross-tab (explicit pivot domain — the output
    // schema of a distributed query must never depend on a runtime
    // distinct scan): one exchange, conditional counts fused into one
    // hash aggregate.
    "q161_lang_pivot" -> ((s, dir) =>
      Summaries.pivotCounts(t(s, dir, "documents"), "source", "lang",
        Seq("de", "en", "es", "fr", "zh"))
        .orderBy("source")),

    // ── embedding covariance matrix: raw-moment single-pass d² table,
    // decimal-exact sums (the PCA/whitening/drift input).
    "q162_embedding_cov" -> ((s, dir) =>
      graft.operators.Similarity.covarianceMatrix(
        t(s, dir, "embeddings"), "embedding")
        .orderBy("i", "j")),

    // ── SQL-surface breadth, verbatim twins (the q07 pattern): arbitrary
    // GROUPING SETS margins, rank-distribution windows, EXCEPT/INTERSECT.
    "q163_grouping_sets" -> ((s, dir) => {
      Sql.registerDir(s, dir, Seq("documents"))
      s.sql(groupingSetsSql)
    }),
    "q164_rank_distribution" -> ((s, dir) => {
      Sql.registerDir(s, dir, Seq("documents"))
      s.sql(rankDistSql)
    }),
    "q165_set_ops" -> ((s, dir) => {
      Sql.registerDir(s, dir, Seq("documents"))
      s.sql(setOpsSql)
    }),

    // ── semi-structured surface: a deterministic JSON payload column
    // (byte-identical concat in both engines) parsed back with the JSON
    // path functions — extraction must round-trip the typed columns
    // exactly, including the quote-escaping of free text. Spark:
    // get_json_object (+ from_json typed parse in the spec); DuckDB twin:
    // json_extract_string — same paths, same values.
    "q166_json_extract" -> ((s, dir) =>
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
        .orderBy("lang", "source")),

    // ── filter-attribution report: a 4-rule Gopher-ish keep battery in
    // ONE conditional-sum pass — per-rule independent failure counts
    // plus the '(any)' corpus-shrink row.
    "q167_filter_report" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      TextAnalysis.filterAttribution(t(s, dir, "documents"), Seq(
        "len_ok" -> col("n_chars").between(200, 20000),
        "tokens_ok" -> (size(toks) >= 30),
        "lang_ok" -> col("lang").isin("en", "de", "es", "fr"),
        "unique_ok" ->
          (size(array_distinct(toks)).cast("double") / size(toks) >= 0.3)))
        .orderBy("rule")
    }),

    // ── per-group quantile calibration: each doc's char length ranked
    // against ITS language's quartile grid (groups-sized boundary table
    // broadcast back; codegen'd fold; no window).
    "q168_group_qrank" -> ((s, dir) =>
      Summaries.quantileTransformByGroup(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", nBuckets = 4)
        .orderBy("doc_id")),

    // ── 2-D equal-width histogram (heatmap): width_bucket on both axes,
    // one hash aggregation — the value-vs-length profiling grid.
    "q169_heatmap" -> ((s, dir) =>
      events(s, dir)
        .select(expr("width_bucket(value, 0.0, 100.0, 10)").as("vx"),
          expr("width_bucket(CAST(user_id % 1000 AS DOUBLE), 0.0, 1000.0, 10)").as("ux"))
        .groupBy("vx", "ux").agg(count(lit(1)).as("n"))
        .orderBy("vx", "ux")),

    // ── temporal activity matrix: events per (day-of-week, hour) — the
    // load-shape profile behind ingestion scheduling; one aggregation.
    "q170_time_matrix" -> ((s, dir) =>
      events(s, dir)
        .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hh"))
        .groupBy("dow", "hh").agg(count(lit(1)).as("n"))
        .orderBy("dow", "hh")),

    // ── cluster-aware leakage-safe split: q126 extended to NEAR dups —
    // every doc in a verified duplicate cluster (the q58 graph) follows
    // its cluster representative's hash into train/test, closing the
    // near-copy contamination path exact-only splitting leaves open.
    "q171_cluster_split" -> ((s, dir) =>
      Dedup.clusterSafeSplit(t(s, dir, "documents"), "doc_id", "text",
        minJaccard = 0.1, testPermille = 200, salt = "cs")
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // ── dedup threshold sweep: verified pairs per Jaccard band among
    // LSH-surfaced candidates + the descending-cumulative merge count —
    // the one-run tuning artifact for picking minJaccard. Integer-exact
    // band assignment (bins·n_inter div union).
    "q172_threshold_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(t(s, dir, "documents"), "doc_id", "text",
        floor = 0.05, bins = 20)
        .orderBy("bin")),

    // ── exact two-sample KS drift, each lang vs the rest of the corpus
    // on doc length: rank-based (no binning choice), integer-exact sup,
    // one terminal IEEE division — the unbinned complement of q116.
    "q173_ks_drift" -> ((s, dir) =>
      Summaries.ksDrift(t(s, dir, "documents"), "n_chars", "lang")
        .orderBy("lang")),

    // ── cross-source duplication matrix: verified near-dup pair counts
    // per unordered source pair — the mirror-detection diagnostic behind
    // drop-the-feed (vs per-doc dedup) mixing decisions.
    "q174_source_overlap" -> ((s, dir) =>
      Dedup.crossSourceOverlap(t(s, dir, "documents"), "doc_id", "text",
        "source", minJaccard = 0.3)
        .orderBy("source_a", "source_b")),

    // ── Gini concentration of doc length per source: integer moment
    // sums over a rank window, one terminal division — the
    // stubs-vs-whales mixing diagnostic.
    "q175_gini" -> ((s, dir) =>
      Summaries.giniByGroup(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source")),

    // ── Mann–Whitney rank-biserial effect size, each lang vs the rest on
    // doc length: tie-correct integer midranks from per-distinct-value
    // counts (ONE rank table serves every group) — the magnitude
    // complement of q173's KS max-deviation.
    "q176_rank_biserial" -> ((s, dir) =>
      Summaries.rankBiserial(t(s, dir, "documents"), "n_chars", "lang")
        .orderBy("lang")),

    // ── Benford first-digit profile of extended price — the
    // fabricated-data / unit-mixup canary; digit via integer string
    // (floor then cast — a direct double→int cast diverges cross-engine).
    "q177_benford" -> ((s, dir) =>
      graft.operators.Profiling.benfordProfile(
        t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("digit")),

    // ── referential-integrity fanout audit orders → lineitem: per-k
    // parent counts incl. childless (k=0), orphan children as k=-1 —
    // the broken-FK canary after every ingest.
    "q178_fanout_audit" -> ((s, dir) =>
      graft.operators.Profiling.fanoutAudit(
        t(s, dir, "orders"), t(s, dir, "lineitem"),
        "o_orderkey", "l_orderkey")
        .orderBy("k")),

    // ── duplicate-cluster size histogram over the q58 graph: the dedup
    // budgeting diagnostic (pair-noise tail vs boilerplate giants);
    // unclustered docs are the sz=1 row.
    "q179_cluster_sizes" -> ((s, dir) =>
      Dedup.clusterSizeHistogram(t(s, dir, "documents"), "doc_id", "text",
        minJaccard = 0.1)
        .orderBy("sz")),

    // ── top user journey prefixes: each user's first-5 event types in
    // (ts, event_id) order as one path string, top-50 by frequency —
    // the product-analytics "common paths" report; one user window +
    // two aggregations, path assembly via array_sort on the unique rn.
    "q180_top_paths" -> ((s, dir) => {
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
    }),

    // ── Welch's t-test, each lang vs the rest on doc length: decimal
    // moment sums, rest derived by exact subtraction from grand totals,
    // fixed-shape IEEE t / Welch–Satterthwaite df — the "did the mean
    // move?" parametric complement of q173's KS and q176's effect size.
    "q181_welch_ttest" -> ((s, dir) =>
      Summaries.welchTTest(t(s, dir, "documents"), "n_chars", "lang")
        .orderBy("lang")),

    // ── categorical association source × lang in one row: full-grid χ²
    // (common-denominator integer form), Cramér's V, mutual information —
    // per-cell terms rounded then decimal-summed (the q72/q111 rule), so
    // cell order can never change the answer.
    "q182_cat_assoc" -> ((s, dir) =>
      Summaries.categoricalAssociation(t(s, dir, "documents"), "source", "lang")),

    // ── distributed Lloyd k-means over the full embedding corpus
    // (k=4, 2 full assign→update steps, deterministic min-id init):
    // per-row argmin over the literal codebook, decimal-exact centroid
    // updates, 6-dp distance rounding + id tiebreak so assignments are
    // engine-identical — the mixture-profiling clustering.
    "q183_kmeans" -> ((s, dir) =>
      Similarity.kmeansLloyd(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2)
        .orderBy("vec_id")),

    // ── Misra–Gries heavy hitters over the token stream: top-50 by
    // sketch estimate. Capacity 100k ≥ the fixture vocab → the exact
    // regime, so the DuckDB exact-count twin hash-matches; under
    // capacity pressure (the 100 TB URL/n-gram regime) the partials
    // stay capacity-bounded and the spec pins the n/(cap+1) guarantee.
    "q184_heavy_hitters" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens("text")).as("token"))
        .agg(graft.functions.HeavyHittersOps
          .heavyHitters(100000, 50, col("token")).as("hh"))
        .select(posexplode(col("hh")).as(Seq("rn", "e")))
        .select(col("rn"), col("e.item").as("token"), col("e.est").as("est"))),

    // ── embedding-table quality audit per label: null / bad-element
    // (NaN or null dim) / zero-vector counters, dim range, 6-dp norm
    // stats — the post-re-embed canary
    // that catches a poisoned feed before ANN/centroid operators do.
    "q185_embedding_audit" -> ((s, dir) =>
      graft.operators.Profiling.embeddingAudit(
        t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label")),

    // ── split drift audit: deterministic 80/10/10 hash split, then
    // exact KS of doc length for each split vs the rest — "did the split
    // skew lengths?" (it must not: hash fate is length-blind, so ks ≈ 0
    // is the healthy reading); q173's machinery over the split label.
    "q186_split_drift" -> ((s, dir) => {
      val b = Sampling.hashBucket(col("doc_id"))
      val withSplit = t(s, dir, "documents").withColumn("split",
        when(b < 800, lit("train")).when(b < 900, lit("valid"))
          .otherwise(lit("test")))
      Summaries.ksDrift(withSplit, "n_chars", "split").orderBy("split")
    }),

    // ── synchronous label propagation over the q143 rare-shingle
    // similarity graph, 5 iterations: communities finer than connected
    // components (a bridge edge can't outvote a family's own labels).
    // Deterministic by the smallest-label tie rule — oracle unrolls it.
    "q187_label_prop" -> ((s, dir) => {
      val edges = trigramEdges(s, dir)
      graft.operators.Graph.labelPropagation(edges, "a", "b", iters = 5)
        .orderBy("node")
    }),

    // ── multi-source BFS: exact hop distance from the doc_id%50=0 seed
    // docs over the same similarity graph, ≤4 hops — the hard-radius
    // curation query (personalized PageRank is the soft version).
    "q188_bfs_hops" -> ((s, dir) => {
      val edges = trigramEdges(s, dir)
      val seeds = t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
        .select("doc_id")
      graft.operators.Graph.bfsHops(edges, "a", "b", seeds, "doc_id", maxHops = 4)
        .orderBy("node")
    }),

    // ── Kaplan–Meier survival over per-user activity lifetimes:
    // censor = last event ON the corpus-edge day (the synthetic users
    // are near-uniformly active, so wider censor windows mark everyone
    // alive and the curve degenerates to 1.0); factors 12-dp,
    // ascending-order product, 6-dp survival.
    "q189_kaplan_meier" -> ((s, dir) =>
      Summaries.kaplanMeier(events(s, dir), "user_id", "ts", censorDays = 1)
        .orderBy("duration_days")),

    // ── sorted-neighborhood near-dup pairs: rank by text within 8-char
    // prefix blocks, compare each row to its 10 successors, Levenshtein
    // ≤ 30 — the sort-order blocking twin of q125's q-gram blocking.
    "q190_snm_pairs" -> ((s, dir) =>
      graft.operators.Linkage.sortedNeighborhood(
        t(s, dir, "documents"), "doc_id", "text",
        window = 10, prefixLen = 8, maxDist = 30)
        .orderBy("idA", "idB")),

    // ── functional-dependency discovery over four customer columns:
    // which column determines which (the join-key / denormalization
    // census a profiler runs on a new feed).
    "q191_fd_discovery" -> ((s, dir) =>
      graft.operators.Profiling.functionalDeps(
        t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy("determinant", "dependent")),

    // ── count-min sketch (depth 4 × width 16, md5 buckets) over the
    // token stream, point-estimates for a ~30% hash-chosen probe vocab
    // vs exact counts: est ≥ exact always, overcount = collision mass
    // (width < the fixture vocab ON PURPOSE — the sf0.01 sketch is under
    // collision pressure, so nonzero overcounts are part of the pin).
    "q192_countmin" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens("text")).as("token"))
      val sk = graft.operators.Profiling.countMinSketch(toks, "token", 4, 16)
      val probes = toks
        .filter(Sampling.hashBucket(col("token"), "cms") < 300)
      val est = graft.operators.Profiling.countMinEstimate(sk, probes, "token", 4, 16)
      val exact = toks.groupBy("token").agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("token"))
        .select(col("token"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy("token")
    }),

    // ── BPE tokenizer training, 3 merge rounds: the q131 pair
    // statistics turned into the actual Sennrich loop — one corpus pass
    // to word frequencies, then vocab-sized iterations. The merge table
    // is the shipped artifact.
    "q193_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrainMerges(t(s, dir, "documents"), "text", merges = 3)
        .orderBy("step")),

    // ── word2vec-style negative sampling: 3 integer-exact draws per doc
    // from the corpus unigram distribution via the bucketized interval
    // join — the embedding-training data generator.
    "q194_neg_samples" -> ((s, dir) =>
      Sampling.negativeSamples(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "j")),

    // ── corpus similarity structure: cosine histogram (0.05 bins) over
    // the deterministic (i, i+137) pair sample — the "is my embedding
    // space collapsing" diagnostic, linear in rows via an equi-join
    // (never all-pairs; the offset is coprime-ish to the id space).
    "q195_cos_histogram" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id"), col("embedding").as("va"))
      val b = e.select((col("vec_id") - 137L).as("id"), col("embedding").as("vb"))
      a.join(b, Seq("id"))
        .select(round(Similarity.cosine(col("va"), col("vb")), 6).as("cos"))
        .select(floor(col("cos") * 20).cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // ── degree assortativity of the q143 similarity graph: Pearson r of
    // endpoint degrees over both edge orientations, integer-exact moment
    // sums — positive r = hubs link hubs (one dup family's shingles
    // dominating), the one-number graph health reading next to q143's
    // per-node clustering.
    "q196_assortativity" -> ((s, dir) => {
      val edges = trigramEdges(s, dir)
      graft.operators.Graph.degreeAssortativity(edges, "a", "b")
    }),

    // ── entity resolution: SNM near-dup pairs (q190) welded into
    // entities by connected components, canonical id = smallest member
    // — the linkage pipeline's final step.
    "q197_entity_resolution" -> ((s, dir) => {
      val pairs = graft.operators.Linkage.sortedNeighborhood(
        t(s, dir, "documents"), "doc_id", "text",
        window = 10, prefixLen = 8, maxDist = 30)
        .select(col("idA").as("doc_a"), col("idB").as("doc_b"))
      val cc = Dedup.connectedComponents(pairs)
      val sizes = cc.groupBy(col("component"))
        .agg(count(lit(1)).as("entity_size"))
      cc.join(sizes, Seq("component"))
        .select(col("node").as("doc_id"), col("component").as("entity"),
          col("entity_size"))
        .orderBy("doc_id")
    }),

    // ── per-day top-3 event types via the streaming operator's batch
    // twin (graft.streaming.EventStreams.heavyHittersPerWindow): MG in
    // the exact regime (capacity ≫ the event-type domain), tumbling
    // 1-day windows — the oracle anchor for the streaming family.
    "q198_hh_per_window" -> ((s, dir) =>
      graft.streaming.EventStreams.heavyHittersPerWindow(
        events(s, dir), "event_type", "1 day", capacity = 1024, emit = 3)
        .orderBy("ws", "rn")),

    // ── Johnson–Lindenstrauss random projection to 8 dims: the
    // dimensionality-reduction front of ANN/clustering, a pure narrow
    // kernel over the lshBucket plane-weight generator (full dot values
    // instead of sign bits). Served by the literal-weight form
    // (signProject — 7× the declarative randomProjection's throughput
    // at 500k in the pipe_jl guard pair; value parity spec-pinned),
    // reshaped to the q199 wide-column contract.
    "q199_jl_projection" -> ((s, dir) => {
      val proj = Similarity.signProject(t(s, dir, "embeddings"), "vec_id",
        "embedding", outDim = 8, dim = 64)
      proj.select(col("vec_id") +:
        (0 until 8).map(p => element_at(col("proj"), p + 1).as(s"proj_$p")): _*)
        .orderBy("vec_id")
    }),

    // ── calibration report for a [0,1] scorer (unique-token ratio)
    // against the lang='en' label, 10 bins: mean score vs observed
    // positive fraction per bin — the reliability audit before using
    // scores as sampling weights.
    "q200_calibration" -> ((s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.calibrationReport(scored, "score", "label", bins = 10)
        .orderBy("bin")
    }),

    // ── CUSUM changepoint per event type: the date where cumulative
    // deviation from the mean daily count peaks — level-shift detection
    // (q134's z-scores see local windows; CUSUM integrates drift).
    "q201_cusum" -> ((s, dir) =>
      Summaries.cusumChangepoint(events(s, dir), "event_type", "ts")
        .orderBy("event_type")),

    // ── HyperLogLog as a RELATION over the token vocabulary (m=64):
    // register table → integer-exact harmonic sum → estimate, with the
    // exact distinct count as the audit column — the third classic
    // sketch (after MG q184 and CMS q192), here fully oracle-checked
    // unlike approx_count_distinct's opaque engine sketch.
    "q202_hll_relation" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens("text")).as("token"))
      val est = graft.operators.Profiling.hllEstimate(
        graft.operators.Profiling.hllSketch(toks, "token", m = 64), m = 64)
      val exact = toks.agg(count_distinct(col("token")).as("exact"))
      est.crossJoin(broadcast(exact))
    }),

    // ── day-of-week seasonal profile per event type + the date that
    // broke the pattern hardest — periodic-component decomposition next
    // to q170's raw dow×hour matrix.
    "q203_seasonal" -> ((s, dir) =>
      Summaries.seasonalProfile(events(s, dir), "event_type", "ts")
        .orderBy("event_type", "dow")),

    // ── Bloom filter as a RELATION (512 bits × 3 hashes, 32-bit word
    // packing) over the token
    // vocabulary, probed with every token AND a '-zz' mutation of each:
    // no false negatives by construction, false positives counted
    // against the actual-membership audit column — the oracle-checkable
    // twin of q87's engine-opaque bloom_filter_agg, completing the
    // sketch tetralogy (MG q184, CMS q192, HLL q202).
    "q204_bloom_relation" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens("text")).as("token"))
      val vocab = toks.distinct()
      val sk = graft.operators.Profiling.bloomSketch(toks, "token", bits = 512, hashes = 3)
      val probes = vocab.unionByName(
        vocab.select(concat(col("token"), lit("-zz")).as("token")))
      val mc = graft.operators.Profiling.bloomMaybeContains(
        sk, probes, "token", bits = 512, hashes = 3)
      mc.join(vocab.withColumn("__in", lit(true)), Seq("token"), "left")
        .select(col("token"), col("maybe_present"),
          coalesce(col("__in"), lit(false)).as("actual_present"))
        .orderBy("token")
    }),

    // ── uniform 20-per-language sample without replacement: content-
    // hash lottery tickets, k smallest per group via the BoundedTopK
    // partial aggregate — deterministic eval-set cuts, no RNG, no
    // per-group window.
    "q205_uniform_per_group" -> ((s, dir) =>
      Sampling.uniformKPerGroup(t(s, dir, "documents"), "doc_id", "lang", k = 20)
        .orderBy("lang", "rn")),

    // ── rolling 7-day active users per date (exact WAU): entity-days →
    // ×7 support explode → distinct → per-date count; no sketch, no
    // window function.
    "q206_rolling_wau" -> ((s, dir) =>
      Summaries.rollingActive(events(s, dir), "user_id", "ts", windowDays = 7)
        .orderBy("report_date")),

    // ── product quantization: 4 subspaces × 16 dims, k=4 codes each (8
    // bits per vector) — four independent Lloyd chains on slices, the
    // ANN compression standard; oracle = four suffixed q183 CTE chains.
    "q207_pq_codes" -> ((s, dir) =>
      Similarity.pqCodes(t(s, dir, "embeddings"), "vec_id", "embedding",
        subspaces = 4, subDim = 16, k = 4, iters = 2)
        .orderBy("vec_id")),

    // ── closed-form OLS: predict distinct-token count from (n_chars,
    // n_tokens) — ONE map-side-combinable pass to integer-exact
    // DECIMAL(38,0) moments, then the 3×3 Cramer solve as scalar math
    // on the single moment row. The whole "training run" is one scan.
    "q208_linear_fit" -> ((s, dir) => {
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val feats = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("n_chars"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
      Regression.linearFit2(feats, "n_chars", "n_tokens", "n_distinct")
    }),

    // ── Poisson-bootstrap CI for the corpus mean: 100 deterministic
    // hash-weighted resamples in one narrow explode (partial aggregation
    // fires before the exchange — the shuffle carries partitions×B
    // partial rows, never corpus×B), quantiles on the B-row table.
    "q209_bootstrap_ci" -> ((s, dir) =>
      Sampling.bootstrapMeanCI(t(s, dir, "documents"), "doc_id", "n_chars",
        replicates = 100)),

    // ── binned mutual information n_chars × n_tokens: the dependence
    // audit Pearson (q149) is blind to; explicit bin domains (the q161
    // pivot-domain contract), cells-bounded margins and entropy sums.
    "q210_binned_mi" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("n_chars"),
          size(filter(split(col("text"), " "), t => t =!= ""))
            .cast("long").as("n_tokens"))
      Summaries.binnedMutualInformation(docs, "n_chars", "n_tokens",
        xBins = 10, yBins = 10, xLo = 0, xHi = 600, yLo = 0, yHi = 100)
    }),

    // ── hard-negative mining: per sampled query vector, top-5 corpus
    // neighbors with cosine in [0.05, 0.6) — similar enough to be hard,
    // capped below the near-positive band so positives never leak into
    // the negative set. Bounded-query eval contract (q153); ranking via
    // the q26 bounded-heap aggregate.
    "q211_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, minCos = 0.05, maxCos = 0.6)
        .orderBy("query_id", "rn")
    }),

    // ── BPE encoding: train 3 merges (the q193 loop) and apply the
    // final vocab segmentation back to every document — per-doc token
    // budget for packing. The corpus is scanned twice; every merge
    // round runs on the Heaps'-bounded vocab table.
    "q212_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeTokenCounts(t(s, dir, "documents"), "doc_id", "text",
        merges = 3)
        .orderBy("doc_id")),

    // ── vocabulary growth (Heaps'-law) curve over nested hash
    // subsamples: is the corpus still discovering new tokens at the
    // margin — all fractions from TWO corpus passes (doc-level
    // conditional sums + per-token min bucket).
    "q213_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowthCurve(t(s, dir, "documents"), "doc_id", "text",
        permilles = Seq(100, 250, 500, 1000))
        .orderBy("permille")),

    // ── per-source bootstrap CI: is source A's mean really above source
    // B's — the q209 machinery per slice; the exchange carries
    // groups × B partial rows.
    "q214_bootstrap_by_group" -> ((s, dir) =>
      Sampling.bootstrapMeanCIByGroup(t(s, dir, "documents"), "doc_id",
        "n_chars", "source", replicates = 100)
        .orderBy("group")),

    // ── conformal threshold audit: fit the top-20% score cutoff
    // (keepQuantile 0.8) on a 300‰ calibration slice, report the
    // OUT-OF-SAMPLE keep fraction — the honesty check before enabling a
    // q102-style quantile gate.
    "q215_conformal_coverage" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          (size(array_distinct(toks)).cast("double")
            / size(toks).cast("double")).as("score"))
      graft.operators.Selection.conformalCoverageReport(scored, "doc_id",
        "score", calibPermille = 300, keepQuantile = 0.8)
    }),

    // ── streaming DAU sketch, batch twin: per-day distinct-user HLL
    // (the q202 hash/estimate per tumbling window; register maxes ride
    // ONE aggregate as m conditional max columns — state is m ints per
    // window on an unbounded stream), joined against the exact per-day
    // count(DISTINCT) the stream could never afford.
    "q216_stream_cardinality" -> ((s, dir) => {
      val ev = events(s, dir)
      val est = graft.streaming.EventStreams.cardinalityPerWindow(
        ev, "user_id", "1 day", m = 64)
      val exact = ev.filter(col("user_id").isNotNull)
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count_distinct(col("user_id")).as("exact"))
        .select(col("w.start").as("ws"), col("exact"))
      est.join(exact, Seq("ws")).orderBy("ws")
    }),

    // ── audio perceptual near-dup: REAL WAV encode/decode → 64-segment
    // energy fingerprint → the q157 pigeonhole Hamming join. Fixture:
    // unique tone-burst pattern per doc (SplitMix64 bijection); every
    // 4th doc also gets a one-segment-flipped copy at +500000, landing
    // at fingerprint Hamming EXACTLY 1 (loud-segment energies sit far
    // from the mean — Multimodal.audioFingerprint64's closed form), so
    // the pair set is closed-form. The gate excludes patterns whose flip
    // could reach the degenerate ALL-LOUD regime (popcount ≥ 63).
    "q217_audio_near_dup" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val p0 = graft.operators.Multimodal.mix64(id)
          val pattern =
            if (p0 == -1L || java.lang.Long.bitCount(p0) >= 63) 1L else p0
          val base = graft.operators.Multimodal.MediaRow(id, "audio",
            graft.operators.Multimodal.syntheticToneBurstWav(pattern))
          if (id % 4 == 0)
            Seq(base, graft.operators.Multimodal.MediaRow(id + 500000L, "audio",
              graft.operators.Multimodal.syntheticToneBurstWav(pattern,
                flipSegment = (id % 64).toInt)))
          else Seq(base)
        }
      graft.operators.Multimodal.audioNearDups(media, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),

    // ── bottom-k rank-sample quantile sketch: the FIFTH classic
    // mergeable sketch as a relation (MG/CMS/HLL/Bloom done) — k
    // smallest md5 tickets through the bounded heap, quantiles off the
    // sample vs the exact corpus quantiles. Every sampled row is
    // oracle-checkable, unlike approx_percentile's opaque digest.
    "q218_rank_sample_quantiles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ps = Seq(0.25, 0.5, 0.75)
      val sk = graft.operators.Profiling.rankSampleSketch(
        docs, "doc_id", "n_chars", k = 200)
      val est = graft.operators.Profiling.rankSampleQuantiles(sk, ps)
      val exact = docs.filter(col("n_chars").isNotNull)
        .agg(percentile(col("n_chars"), array(ps.map(lit): _*)).as("__q"))
        .select(posexplode(col("__q")))
        .select(element_at(array(ps.map(lit): _*), col("pos") + 1).as("p"),
          round(col("col"), 6).as("exact_q"))
      est.join(exact, Seq("p")).orderBy("p")
    }),

    // ── IVF-PQ ANN search — the production retrieval composition: IVF
    // coarse cells (q37's quantizer) prune, PQ codes (q207's fused
    // training) rank candidates by a per-query asymmetric-distance
    // lookup table, exact cosine reranks only the top-20 survivors.
    // Corpus never shuffles: cells + codes are per-row expressions over
    // literal codebooks; both rankings are bounded heaps.
    "q219_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
        subspaces = 4, subDim = 16, pqK = 4, pqIters = 2, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── residual IVF-PQ: the full FAISS recipe — PQ trains on
    // v − centroid(cell), stage 1 scores base + residual-ADC over the
    // candidate norm; same bounded-heap/broadcast shape as q219.
    "q231_ivf_pq_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqResidualTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
        subspaces = 4, subDim = 16, pqK = 4, pqIters = 2, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── IVF-PQ index LIFECYCLE: build once (codes + codebooks as
    // persistable relations — the FAISS train→add→search split), then
    // search retrain-free: the search's only driver work is two bounded
    // collects of the codebook relations, amortizing the pqIters
    // training barriers across every query batch. Same parameters as
    // q219 ⇒ bit-identical results, graded against the same oracle.
    "q232_ivf_pq_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqSearch(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── banded SemDeDup: q220's clustering/verify/audit with the
    // candidate stage BOUNDED by in-cluster LSH banding — candidates
    // must share a k-means cluster AND a band bucket in >= 1 of 3
    // tables, so per-cluster pair budgets cap at tables·|cluster|/2^planes
    // (the scale path that retires the flat Σ|cluster|² contract).
    "q233_semantic_dedup_banded" -> ((s, dir) =>
      Similarity.semanticDedupBanded(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, k = 4, iters = 2, planes = 4,
        tables = 3)
        .orderBy("vec_id")),

    // ── recall of the composed IVF-PQ stack vs exact brute force — the
    // index-quality gate as a GRADED relation (annRecallReportFor), not
    // a spec-only check: (query_id, n_hit, recall) per query.
    "q234_ivf_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val ann = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
        pqIters = 2, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }),

    // ── the residual stack's index lifecycle: build with residual
    // encoding, search retrain-free — bit-identical to q231 (the shared
    // ivfPqRank composition), graded against the same oracle.
    "q236_ivf_pq_residual_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        residual = true)
      Similarity.ivfPqSearch(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── k-NN label consistency: per label, the fraction of query
    // vectors whose 5 nearest neighbors majority-vote the query's own
    // label — the supervised embedding-quality gate (count ties break
    // to the lexicographically smallest label).
    "q237_knn_label_consistency" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnLabelConsistency(emb, evalSampleN(emb, "vec_id", 64),
        "vec_id", "embedding", "label", k = 5)
        .orderBy("label")
    }),

    // ── two-NN intrinsic dimension (Facco et al. MLE): one row —
    // n / Σ ln(d2/d1) over the query sample, 6-dp distances, 9-dp
    // decimal log sums; duplicate-neighbor queries (d1 = 0) drop.
    "q238_intrinsic_dimension" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.intrinsicDimensionTwoNN(emb,
        evalSampleN(emb, "vec_id", 64), "vec_id", "embedding")
    }),

    // ── MinHash-LSH banding planner: the datasketch optimal-(b, r)
    // search as a relation over the engine's own 8-hash signature —
    // fp/fn Riemann masses per split, minimum-score split flagged.
    "q239_banding_plan" -> ((s, dir) =>
      graft.operators.Dedup.bandingPlan(s, threshold = 0.5, k = 8,
        grid = 100, fpWeight = 0.5, fnWeight = 0.5)
        .orderBy("rows_per_band")),

    // ── banded near-dup recall gate: exhaustive vs banded pair counts
    // on the 256-winner absolute sample — "is my planes/tables sizing
    // safe on MY data", one row; the O(m²) arm is pinned at 256²/2
    // pairs at any corpus size.
    "q240_neardup_recall" -> ((s, dir) =>
      Similarity.nearDupRecallReport(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, planes = 4, tables = 3,
        sampleRows = 256)),

    // ── the residual stack's recall twin: q231's ANN relation through
    // the same graded recall report.
    "q235_ivf_pq_residual_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val ann = Similarity.ivfPqResidualTopK(emb, qs, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16,
        pqK = 4, pqIters = 2, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }),

    // ── incremental index ADD (FAISS's add verb): build on the ~half
    // hash-split base, encode the delta against the FROZEN codebooks
    // (no retrain — zero training aggregations in the add path,
    // PlanSpec-pinned), union the codes relation, search the grown
    // index over the full corpus. The oracle states the equivalent
    // rebuild from scratch: train on the base, code EVERYTHING against
    // the final codebooks — bit-identical by the ivfPqEncode contract.
    "q241_ivf_pq_index_add" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = evalSample(emb, "vec_id", 500)
      val delta = emb.filter(
        graft.operators.Sampling.hashBucket(col("vec_id")) >= 500)
      val idx = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqSearch(
        Similarity.ivfPqIndexAdd(idx, delta, "vec_id", "embedding"),
        emb, evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── (nProbe, rerank) operating-point planner — bandingPlan's ANN
    // twin: each grid point searches the SAME built index retrain-free,
    // recall grades against one shared brute-force arm, est_cost is the
    // uniform-occupancy work model, chosen = cheapest point meeting the
    // 0.9 recall target (max recall if none does).
    "q242_ivf_pq_operating_plan" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqOperatingPointPlan(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbes = Seq(2, 4),
        reranks = Seq(10, 20), targetRecall = 0.9)
        .orderBy("n_probe", "rerank")
    }),

    // ── index REMOVE (FAISS's remove_ids, the last lifecycle verb):
    // anti-join the top hash decile out of the codes relation — no
    // retrain, codebooks untouched — and search what remains; the
    // oracle states the never-held-those-rows index as a stage-1
    // candidate filter on the from-scratch chain.
    "q245_ivf_pq_index_remove" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      val gone = emb.filter(
        graft.operators.Sampling.hashBucket(col("vec_id")) >= 900)
      Similarity.ivfPqSearch(
        Similarity.ivfPqIndexRemove(idx, gone, "vec_id"),
        emb, evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── PQ reconstruction-error report: per subspace, the MSE between
    // each coded row's 9-dp slice and its code's centroid — the
    // quantizer-quality diagnostic; rising MSE after adds is the
    // measured retrain trigger, no brute-force recall run needed.
    "q246_ivf_pq_recon_error" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqReconError(idx, emb, "vec_id", "embedding")
        .orderBy("subspace")
    }),

    // ── IVF cell-occupancy health report: one row per coarse cell with
    // count/fraction/load_factor (1 = uniform), DEAD cells included as
    // zero rows — the after-every-add quantizer-balance gate. pqIters=0:
    // occupancy depends only on the coarse assignment, so the stage
    // skips the Lloyd barriers entirely.
    "q243_ivf_cell_occupancy" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
      Similarity.ivfCellOccupancy(idx).orderBy("cell")
    }),

    // ── Matryoshka (prefix-dimension) two-stage ANN: stage 1 ranks by
    // the cosine of the first 16 of 64 dims (the MRL truncation), the
    // top-20 survivors get the exact full-dim cosine — q54's skeleton
    // with dimensions, not precision, as the cheap axis. The fixture
    // embeddings are not MRL-trained, so prefix recall is low HERE by
    // construction — the graded contract is the two-stage composition's
    // determinism; recall on real MRL vectors is annRecallReportFor's
    // job (q234's convention).
    "q250_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, prefixDim = 16, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── quantization-drift gate: build on the 90% hash slice, encode the
    // 10% complement against the FROZEN codebooks, compare per-cell
    // occupancy shares — tv = total-variation distance, retrain = the
    // gate bit. pqIters=0: drift reads only the coarse assignment.
    "q249_ivf_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = evalSample(emb, "vec_id", 900)
      val delta = emb.filter(
        graft.operators.Sampling.hashBucket(col("vec_id")) >= 900)
      val idx = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
      Similarity.ivfDriftReport(idx, delta, "vec_id", "embedding",
        tvThreshold = 0.1)
        .orderBy("cell")
    }),

    // ── batch sparse-vector retrieval: TF-IDF postings as the inverted
    // index (minDf=2 prunes hapax; the maxDfFrac skew bound stays at its
    // keep-all default — the fixture's 31-token vocabulary is stopword-
    // dense by construction), a 1% hash sample of documents as sparse
    // queries, exact decimal dot-product top-5 per query.
    "q247_sparse_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the posting relation is the INDEX — materialized once and
      // served to both consumers (query-side derivation + the dot
      // join), the ivfPqIndexBuild build-once precedent; rebuilding
      // the chain per consumer measured 1.3x this plan at sf0.1
      val post = TextAnalysis.tfidfPostings(docs, "doc_id", "text",
        minDf = 2).localCheckpoint()
      val qp = post
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      TextAnalysis.sparseTopK(post, "doc_id", qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }),

    // ── capped-posting recall gate: the same retrieval with every
    // posting list statically pruned to its 25 highest-weight docs
    // (quantized-WAND preprocessing), graded per query against the
    // exact arm — the "is my cap safe on MY corpus" pre-run.
    "q248_sparse_capped_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // three consumers here (query derivation, exact arm, capped
      // arm) — same build-once materialization as q247
      val post = TextAnalysis.tfidfPostings(docs, "doc_id", "text",
        minDf = 2).localCheckpoint()
      val qp = post
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      TextAnalysis.sparseRecallReport(post, "doc_id", qp, "query_id",
        "token", "weight", k = 5, cap = 25)
        .orderBy("query_id")
    }),

    // ── the lexical index LIFECYCLE: build the q247 index through the
    // SparseIndex verb set and serve the identical retrieval from it —
    // graded against q247's oracle verbatim (results identical by
    // construction, the q232-vs-q219 convention); the parquet
    // save/load round-trip and its fail-fast refusals are spec-pinned.
    "q258_sparse_index_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
        weighting = "tfidf", minDf = 2)
      val qp = idx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      TextAnalysis.sparseIndexSearch(idx, qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }),

    // ── batch BM25 retrieval: the Okapi scorer baked into the posting
    // weights (q247's index reshaped to BM25), unit DECIMAL weights on
    // the distinct query terms, so the sparse dot product IS the classic
    // BM25 sum. Same 1% hash-sample query side as q247.
    "q251_bm25_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = TextAnalysis.bm25Postings(docs, "doc_id", "text", minDf = 2)
        .localCheckpoint()
      val qp = evalSampleN(docs, "doc_id", 16)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(TextAnalysis.tokens("text"))).as("token"))
        .withColumn("weight", lit(1).cast("decimal(18,6)"))
      TextAnalysis.sparseTopK(post, "doc_id", qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }),

    // ── hybrid dense+sparse retrieval: brute-force cosine top-5 over the
    // embeddings and TF-IDF sparse top-5 over the texts of the SAME 1%
    // hash-sampled ids, fused with reciprocal-rank fusion (dense term
    // first, k0=60) — the production hybrid-search serving pattern as
    // one graded relation.
    "q252_hybrid_rrf" -> ((s, dir) =>
      hybridFused(s, dir)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))),

    // ── ranked-list evaluation of the hybrid run: re-rank the q252
    // fusion by rrf, grade its top-5 against the dense brute-force gold
    // with MRR + binary-relevance nDCG — "did fusing the sparse arm
    // move the right docs UP", per query, as a relation.
    "q257_hybrid_ranked_eval" -> ((s, dir) => {
      val (fused, dense) = hybridParts(s, dir)
      val run = graft.operators.Selection.topKPerGroup(
        fused.select("query_id", "doc_id", "rrf"),
        "query_id", "rrf", "doc_id", 5)
      graft.operators.Selection.rankedEvalReport(
        dense, "query_id", "doc_id", "rn",
        run, "query_id", "doc_id", "rn", k = 5)
        .orderBy("query_id")
    }),

    // ── embedding anisotropy: mean (and mean-absolute) 6-dp pairwise
    // cosine over a 5% hash sample — one row; near-zero mean = healthy
    // isotropic geometry, high mean = a shared dominant direction
    // compressing every cosine score into a narrow band.
    "q253_anisotropy" -> ((s, dir) =>
      Similarity.anisotropyReport(
        evalSampleN(t(s, dir, "embeddings"), "vec_id", 64),
        "vec_id", "embedding", dim = 64)),

    // ── per-label anisotropy: q253's slice view — within-group pair
    // cosines only, one row per label, single-member groups kept with
    // zero pairs and null means; "which slice's embedding region
    // collapsed" as a relation.
    "q259_anisotropy_by_label" -> ((s, dir) =>
      Similarity.anisotropyReportByGroup(
        evalSampleN(t(s, dir, "embeddings"), "vec_id", 64),
        "vec_id", "embedding", "label", dim = 64)
        .orderBy("label")),

    // ── the composed hybrid-SERVING verb over BOTH index lifecycles:
    // IVF-PQ search (retrain-free, q232's parameters) + sparse search
    // over the index's build-time capped prune (cap=25, the q248-priced
    // knob), RRF-fused — the production retrieval shape q252 rebuilds
    // inline. Query postings derive from the UNCAPPED postings (the
    // query's full weight profile); both arms on 16-winner samples.
    "q260_hybrid_index_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
          weighting = "tfidf", minDf = 2, cap = Some(25)))
      val qp = sIdx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      graft.operators.Retrieval.hybridSearch(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }),

    // ── vocabulary-drift gate for the frozen lexical index — the
    // measured "when must I rebuild" answer the honest no-add design
    // owes its users: OOV df-mass + df-share TV distance of a batch
    // against the index's posting relation, priced without a corpus
    // rescan. The 256-winner batch drifts from the minDf=2 index by
    // exactly the pruned-hapax mass (oov_mass > 0 by construction).
    "q261_sparse_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
        weighting = "tfidf", minDf = 2)
      TextAnalysis.sparseDriftReport(idx,
        evalSampleN(docs, "doc_id", 256), "doc_id", "text")
    }),

    // ── the cap operating-point planner: sweep the static-pruning knob
    // against exact-arm recall and the EXACT capped-index size
    // (Σ min(len_t, cap)) on the 16-winner query sample — the q242
    // grid-search convention for the lexical index; chosen = smallest
    // index meeting 0.8 mean recall.
    "q262_sparse_cap_plan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = TextAnalysis.tfidfPostings(docs, "doc_id", "text",
        minDf = 2).localCheckpoint()
      val qp = post
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      TextAnalysis.sparseCapPlan(post, "doc_id", "token", "weight",
        qp, "query_id", k = 5, caps = Seq(5, 10, 25, 50),
        targetRecall = 0.8)
        .orderBy("cap")
    }),

    // ── query-profile RECONSTRUCTION serving: the q247 retrieval with
    // the query side derived from RAW TEXT against the frozen index
    // (queryPostings: tokenize + vocab-df join + the index's own weight
    // formula) — the out-of-corpus-queries verb; for in-corpus query
    // docs the reconstruction is bit-exact (spec-pinned), so this
    // grades against q247's oracle verbatim.
    "q264_sparse_query_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
        weighting = "tfidf", minDf = 2)
      val qp = TextAnalysis.queryPostings(idx,
        evalSampleN(docs, "doc_id", 16), "doc_id", "text")
      TextAnalysis.sparseIndexSearch(idx, qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }),

    // ── the absolute-size hash sample graded DIRECTLY (q60's twin for
    // the round-14 convention): exactly 32 winners of the md5-ticket
    // lottery — the primitive every eval query's bounded query side and
    // pair sample now rides.
    "q263_hash_sample_n" -> ((s, dir) =>
      graft.operators.Sampling.hashSampleN(t(s, dir, "documents"),
        "doc_id", 32)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")),

    // ── OUT-OF-CORPUS hybrid serving — the full "new query arrives as
    // text + vector" production shape: q260's two persisted-index arms
    // with the sparse query side RECONSTRUCTED from raw text against
    // the frozen index (queryPostings, the q264 verb) instead of read
    // out of the posting relation. For in-corpus query docs the
    // reconstruction is bit-exact, so this grades against q260's
    // oracle with the query CTEs restated through the reconstruction
    // formula — the parity is the graded contract.
    "q265_hybrid_query_serving" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
          weighting = "tfidf", minDf = 2, cap = Some(25)))
      val qp = TextAnalysis.queryPostings(sIdx,
        evalSampleN(docs, "doc_id", 16), "doc_id", "text")
      graft.operators.Retrieval.hybridSearch(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }),

    // ── BM25 query-profile reconstruction: q251's Okapi retrieval with
    // the unit-weight query side derived from RAW TEXT by queryPostings'
    // bm25 arm (distinct in-vocabulary terms at weight 1 — the Okapi
    // convention: the document-side weights already carry the tf/length
    // saturation), served through the index lifecycle. Grades against
    // q251's oracle restated over the reconstructed query side.
    "q266_bm25_query_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
        weighting = "bm25", minDf = 2)
      val qp = TextAnalysis.queryPostings(idx,
        evalSampleN(docs, "doc_id", 16), "doc_id", "text")
      TextAnalysis.sparseIndexSearch(idx, qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }),

    // ── the hybrid serving stack's HEALTH GATE: both arms' drift
    // monitors over a shared incoming batch as one relation — the
    // dense arm's coarse-cell occupancy drift (q249's recipe: index
    // built on the 90% hash slice, the 10% complement as the batch)
    // and the sparse arm's vocabulary drift (q261's recipe: minDf=2
    // index, 256-winner batch), each `(arm, oov_mass, tv, gate)`, plus
    // rebuild_any = either gate, repeated on both rows.
    "q267_hybrid_health" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val base = evalSample(emb, "vec_id", 900)
      val delta = emb.filter(
        graft.operators.Sampling.hashBucket(col("vec_id")) >= 900)
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
          weighting = "tfidf", minDf = 2))
      graft.operators.Retrieval.hybridHealthReport(
        dIdx, delta, "vec_id", "embedding",
        sIdx, evalSampleN(docs, "doc_id", 256), "doc_id", "text",
        denseTvThreshold = 0.1)
        .orderBy("arm")
    }),

    // ── SCORE-based fusion (CombMNZ) of the two LEXICAL arms: the
    // TF-IDF top-5 and the BM25 top-5 over the same 16-winner query
    // sample, each arm's exact-decimal scores min-max normalized per
    // query, summed and multiplied by the agreement count — the
    // classic Fox & Shaw ensemble the rank-based q252 RRF flattens
    // away (both arms' score VALUES are oracle-green precedents, so
    // the normalization itself is what this grades).
    "q268_score_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qsamp = evalSampleN(docs, "doc_id", 16)
      val (tpost, bpost) = Par.par2(
        TextAnalysis.tfidfPostings(docs, "doc_id", "text",
          minDf = 2).localCheckpoint(),
        TextAnalysis.bm25Postings(docs, "doc_id", "text",
          minDf = 2).localCheckpoint())
      val tq = tpost.join(qsamp.select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      val tfidf = TextAnalysis.sparseTopK(tpost, "doc_id", tq, "query_id",
        "token", "weight", k = 5)
        .select("query_id", "doc_id", "score")
      val bq = qsamp
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(TextAnalysis.tokens("text"))).as("token"))
        .withColumn("weight", lit(1).cast("decimal(18,6)"))
      val bm25 = TextAnalysis.sparseTopK(bpost, "doc_id", bq, "query_id",
        "token", "weight", k = 5)
        .select("query_id", "doc_id", "score")
      graft.operators.Selection.fuseScoresMinMax(Seq(tfidf, bm25),
        "query_id", "doc_id", "score", mnz = true)
        .orderBy(col("query_id"), col("fused").desc, col("doc_id"))
    }),

    // ── WEIGHTED RRF: q252's dense+sparse arms fused at dense 0.7 /
    // sparse 0.3 — the alpha knob every hybrid deployment tunes when
    // one arm is known stronger; rrfFuseRanks is this at all-ones
    // weights (one fusion tail, spec-pinned).
    "q269_weighted_rrf" -> ((s, dir) => {
      val (dense, sparse) = hybridArms(s, dir)
      graft.operators.Selection.rrfFuseRanksWeighted(Seq(dense, sparse),
        "query_id", "doc_id", "rn", weights = Seq(0.7, 0.3), k0 = 60)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }),

    // ── binary (sign-bit) quantized two-stage ANN: stage 1 ranks every
    // pair by sign-AGREEMENT over packed 32-bit words (bit_count(xor) —
    // 8 bytes per 64-dim vector instead of 256), exact cosine reranks
    // the top-20 survivors. q54's two-stage axis pushed from int8 to
    // 1-bit — the stage-1 scan floor.
    "q270_binary_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.binaryRerankTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", dim = 64, k = 5, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── binary-quantization recall gate: the q270 relation graded
    // against exact brute force on the same 16-winner sample (the q234
    // convention for the 1-bit stage) — "is 1-bit stage-1 safe on MY
    // data at THIS rerank", measured before a deployment trusts it.
    "q271_binary_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val ann = Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
        dim = 64, k = 5, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }),

    // ── scan-pruned IVF-PQ serving: the batch's distinct probed cells
    // pushed into the codes scan as a static cell-IN predicate —
    // result-identical to q232 by construction (stage 1 equi-joins on
    // cell), graded against the SAME SQL; over the cell-clustered
    // persisted layout (ivfPqIndexSaveClustered) the predicate is a
    // PARTITION filter and the scan reads ~nProbe/nCentroids of the
    // index (spec-pinned physically; guarded at 500k/5M).
    "q272_ivf_pq_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqSearchPruned(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── stored-vector IVF-PQ serving: the index carries the rerank
    // vectors (storeVectors=true — FAISS's IVF-with-stored-vectors), so
    // the serve reads NO external table: probed cells prune stage 1 and
    // stage 2 reranks from the same pruned codes relation. Bit-identical
    // to q232 at the same parameters — graded against its oracle
    // VERBATIM (the parity convention).
    "q277_ivf_pq_stored" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true)
      Similarity.ivfPqSearchStored(idx, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── binary index lifecycle: pack once (binaryIndexBuild), serve via
    // binarySearch — one shared two-stage tail with q270, so the
    // lifecycle query grades against the SAME SQL (the q232/q272 parity
    // convention). The persisted words relation is the 1/32-bytes
    // stage-1 scan; the float corpus appears only for the exact rerank.
    "q275_binary_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.binaryIndexBuild(emb, "vec_id", "embedding",
        dim = 64)
      Similarity.binarySearch(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── the end-to-end TRAINING EXPORT composition: quality gate (q84's
    // classifier) → exact content dedup (q20's digest canonical pick) →
    // token accounting → deterministic shard layout (q97's deal) — the
    // "corpus in, training shards out" shape, stage order pinned. The
    // graded corpus PLANTS work for every stage (the q156 convention):
    // exact copies of every 5th doc (the dedup stage must keep the
    // lower-id original) and digit-junk rows for every 7th (no letters,
    // 1/40 unique words — the gate must drop them).
    "q273_training_export" -> ((s, dir) =>
      graft.operators.Export.trainingExport(exportCorpus(s, dir),
        "doc_id", "text", nShards = 8, salt = "epoch1")
        .orderBy("shard", "pos")),

    // ── the export with the PRODUCTION dedup stage: q58's full near-dup
    // machinery (exact digest edges ∪ Jaccard-verified LSH near edges →
    // components → min-id survivors) between the q84 gate and the q97
    // deal — the complete "corpus in, training shards out" shape.
    "q276_training_export_near" -> ((s, dir) =>
      graft.operators.Export.trainingExportNearDup(exportCorpus(s, dir),
        "doc_id", "text", minJaccard = 0.1, nShards = 8, salt = "epoch1")
        .orderBy("shard", "pos")),

    // ── the export's per-shard QA table: (shard, n_docs, n_tokens) —
    // what a data-loader owner reads before a run.
    "q274_export_shard_report" -> ((s, dir) =>
      graft.operators.Export.exportShardReport(
        graft.operators.Export.trainingExport(exportCorpus(s, dir),
          "doc_id", "text", nShards = 8, salt = "epoch1"))
        .orderBy("shard")),

    // ── the FULL production hybrid deployment, graded end-to-end:
    // q265's out-of-corpus shape with the dense index built
    // storeVectors=true, BOTH indexes SAVED (dense cell-clustered) and
    // RELOADED, and the dense arm served corpus-free (denseStored —
    // both stages partition-pruned, the corpus argument unread). Every
    // step is bit-identity-contracted (q277's stored rerank, q272's
    // pruned scan, q258's sparse round-trip, q264's reconstruction), so
    // this grades against q265's oracle VERBATIM.
    "q278_hybrid_stored_clustered" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft-q278-").toString
      // the two index LIFECYCLES (build → save → reload) are independent
      // end to end — overlap them (guide §2.6)
      val (dIdx, sIdx) = Par.par2(
        {
          Similarity.ivfPqIndexSaveClustered(
            Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
              nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4,
              pqIters = 2, storeVectors = true),
            s"$base/dense")
          Similarity.ivfPqIndexLoad(s, s"$base/dense")
        },
        {
          TextAnalysis.sparseIndexSave(
            TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
              weighting = "tfidf", minDf = 2, cap = Some(25)),
            s"$base/sparse")
          TextAnalysis.sparseIndexLoad(s, s"$base/sparse")
        })
      val qp = TextAnalysis.queryPostings(sIdx,
        evalSampleN(docs, "doc_id", 16), "doc_id", "text")
      graft.operators.Retrieval.hybridSearch(dIdx, emb /* unread */,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20, denseStored = true)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }),

    // ── the tuned-alpha hybrid: q260's persisted-index arms fused at
    // dense 0.7 / sparse 0.3 through the composed verb's weights knob
    // (rrfFuseRanksWeighted's one fusion tail — q269's coefficients
    // inside the serving verb instead of hand-wired around it).
    "q279_hybrid_weighted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
          weighting = "tfidf", minDf = 2, cap = Some(25)))
      val qp = sIdx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      graft.operators.Retrieval.hybridSearch(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20, weights = Seq(0.7, 0.3))
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }),

    // ── CELL-PRUNED binary serving (FAISS's IVF-with-binary-refine):
    // the index carries packed sign words AND the vec payload, so
    // stage 1 hamming-ranks only each query's 4 probed cells and
    // stage 2 reranks from the index's own vectors — NO external table
    // read (the corpus argument is unread), and over the clustered
    // layout both stages are partition-pruned. IVF semantics by
    // construction: candidates come from the query's probed cells.
    "q280_binary_cell_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true, storeSignWords = true)
      Similarity.binarySearchCells(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }),

    // ── the cell-pruned binary RECALL gate (the q271 convention for
    // the IVF axis): q280's relation graded against exact brute force
    // on the same 16-winner sample — "is 1-bit stage-1 at nProbe=4 safe
    // on MY data", measured before a deployment trusts the composed
    // scan discount.
    "q284_binary_cells_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true, storeSignWords = true)
      val ann = Similarity.binarySearchCells(idx, emb, qs,
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }),

    // ── the binary-cells OPERATING-POINT planner (the q242/q262
    // convention for the new axis): sweep the (nProbe, rerank) grid
    // against measured recall and the EXACT stage-1 row count (probe
    // ranks × cell occupancy), chosen = fewest stage-1 rows then
    // smallest rerank among points meeting 0.8 — the measured answer to
    // q284's "0.43 at nProbe 4 is too low: what DO I need" (on this
    // fixture the rerank-20 arm never meets — heap displacement — and
    // the rerank-100 arm does: the grid prices the fix).
    "q285_binary_cells_plan" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true, storeSignWords = true)
      Similarity.binaryCellsOperatingPlan(idx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        k = 5, nProbes = Seq(2, 4, 8, 16), reranks = Seq(20, 100),
        targetRecall = 0.8)
        .orderBy("n_probe", "rerank")
    }),

    // ── the physical shard layout graded end-to-end: writeShards
    // materializes q273's export as one shard=<k>/ directory per shard,
    // and the query READS THE LAYOUT BACK (shard requested as LONG —
    // the partition-column convention) — the loader-facing artifact
    // oracle-checked against q273's statement (the store round-trip
    // convention the EPSS side established).
    "q281_export_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-q281-")
        .toString + "/shards"
      graft.operators.Export.writeShards(
        graft.operators.Export.trainingExport(exportCorpus(s, dir),
          "doc_id", "text", nShards = 8, salt = "epoch1"), out)
      val raw = s.read.parquet(out)
      val schema = org.apache.spark.sql.types.StructType(raw.schema.map(f =>
        if (f.name == "shard")
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
      s.read.schema(schema).parquet(out)
        .select("doc_id", "shard", "pos", "n_tokens")
        .orderBy("shard", "pos")
    }),

    // ── SCORE-fused hybrid serving: q260's persisted-index arms fused
    // by CombMNZ over their exact scores (the dense arm's 6-dp rerank
    // cosine via withScore, the sparse arm's exact-decimal dot) — the
    // q268 normalization inside the composed serving verb, for
    // deployments where score VALUES carry signal the ranks flatten.
    "q282_hybrid_score_serving" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
          weighting = "tfidf", minDf = 2, cap = Some(25)))
      val qp = sIdx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      graft.operators.Retrieval.hybridSearchScores(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20, mnz = true)
        .orderBy(col("query_id"), col("fused").desc, col("doc_id"))
    }),

    // ── the SCORE verb over the full stored+clustered deployment
    // (q278's lifecycle × q282's fusion): dense index storeVectors=true,
    // saved clustered, both indexes reloaded, dense arm corpus-free with
    // the 6-dp rerank cosine read from the vec payload — bit-identical
    // scores by the q277 contract, so this grades against q282's oracle
    // verbatim. Closes the verb×deployment matrix: every fusion strategy
    // is graded over the production index layout, not only inline builds.
    "q283_hybrid_score_stored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft-q283-").toString
      // independent lifecycles overlapped, exactly as q278 (guide §2.6)
      val (dIdx, sIdx) = Par.par2(
        {
          Similarity.ivfPqIndexSaveClustered(
            Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
              nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4,
              pqIters = 2, storeVectors = true),
            s"$base/dense")
          Similarity.ivfPqIndexLoad(s, s"$base/dense")
        },
        {
          TextAnalysis.sparseIndexSave(
            TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
              weighting = "tfidf", minDf = 2, cap = Some(25)),
            s"$base/sparse")
          TextAnalysis.sparseIndexLoad(s, s"$base/sparse")
        })
      val qp = sIdx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      graft.operators.Retrieval.hybridSearchScores(dIdx, emb /* unread */,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20, mnz = true, denseStored = true)
        .orderBy(col("query_id"), col("fused").desc, col("doc_id"))
    }),

    // ── cluster-balanced (diversity) selection: k-means assignment
    // bounds the strata, then a uniform content-hash lottery keeps 5 per
    // cluster — the coreset/SemDeDup-adjacent "cover the space, not the
    // density" curation pick.
    "q254_cluster_balanced" -> ((s, dir) => {
      val assigned = Similarity.kmeansLloyd(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2)
      Sampling.uniformKPerGroup(assigned, "vec_id", "cluster", k = 5)
        .orderBy("cluster", "rn")
    }),

    // ── deterministic random projection 64 → 16 dims: the LSH
    // hyperplane mixer's value-preserving twin (Achlioptas/JL-class),
    // exploded to (vec_id, p, value) so every projected coordinate is
    // hash-graded.
    "q255_jl_project" -> ((s, dir) =>
      Similarity.signProject(t(s, dir, "embeddings"), "vec_id", "embedding",
        outDim = 16, dim = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("p", "value")))
        .withColumn("p", col("p").cast("long"))
        .orderBy("vec_id", "p")),

    // ── JL-projection recall gate: brute-force top-5 in the PROJECTED
    // 16-dim space graded against exact full-dim top-5 on a 2% hash
    // sample — the "is this width safe on MY data" pre-run (the q240
    // convention for the projection).
    "q256_jl_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val proj = Similarity.signProject(emb, "vec_id", "embedding",
        outDim = 16, dim = 64)
      val projQ = proj.join(qs.select("vec_id"), "vec_id")
      val ann = Similarity.bruteForceTopK(proj, projQ, "vec_id", "proj", 5)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }),

    // ── hyperplane-banding recall planner: bandingPlan's embedding twin
    // — fp/fn Riemann masses of the any-of-3-tables collision curve in
    // angle space per candidate planes value; 0.369 ≈ acos(0.4)/π, the
    // q240 family's cosine threshold restated as an angle fraction.
    "q244_banded_recall_plan" -> ((s, dir) =>
      Similarity.bandedRecallPlan(s, angleThreshold = 0.369,
        planesGrid = Seq(2, 4, 6, 8), tables = 3, grid = 100,
        fpWeight = 0.5, fnWeight = 0.5)
        .orderBy("planes")),

    // ── SemDeDup: k-means clusters bound the candidate set, exact cosine
    // welds within-cluster pairs, components keep their smallest id —
    // the embedding-space dedup production recipe (q58's audit shape).
    "q220_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, k = 4, iters = 2)
        .orderBy("vec_id")),

    // ── per-source ROC AUC of the q200 quality score against the
    // is-English label — integer-exact Mann–Whitney midranks, one
    // terminal division (NULL on degenerate sides).
    "q221_group_auc" -> ((s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.aucByGroup(scored, "source", "score", "label")
        .orderBy("source")
    }),

    // ── one-row score evaluation: Brier + ECE + worst-bin gap over the
    // q200 score/label/bins — 9-dp decimal term sums, all metrics ≥ 0.
    "q222_score_eval" -> ((s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.scoreEvalReport(scored, "score", "label", bins = 10)
    }),

    // ── isotonic calibration of the q200 score: weighted PAV through the
    // exact minimax identity over the bins table — the monotone
    // recalibration map; all levels are single divisions of integer
    // range sums.
    "q225_isotonic" -> ((s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.isotonicCalibration(scored, "score", "label", bins = 10)
        .orderBy("bin")
    }),

    // ── contrastive training triples from ONE LSH candidate pass:
    // cos > 0.4 pairs anchor↔positive (both orientations), bucket
    // cohabitants in [0.05, 0.35) are the hard negatives (top-2 per
    // anchor via the bounded heap).
    "q226_contrastive_triples" -> ((s, dir) =>
      Similarity.contrastiveTriples(t(s, dir, "embeddings"), "vec_id",
        "embedding", posThreshold = 0.4, negMin = 0.05, negMax = 0.35,
        negPerAnchor = 2)
        .orderBy("anchor_id", "positive_id", "rn")),

    // ── curriculum ordering: easiest-first within each source (length
    // as the difficulty proxy), sources interleaved ARITHMETICALLY —
    // position = (rank−1)·|groups| + group_index, no global window.
    "q227_curriculum" -> ((s, dir) =>
      graft.operators.Selection.curriculumOrder(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", "source")
        .orderBy("position")),

    // ── water-filling mixture plan: per-source supply vs synthetic
    // weights under a 300-row budget — undersupplied sources saturate,
    // the shortfall redistributes; all saturation decisions are
    // DECIMAL(38,0) cross-products.
    "q228_mixture_plan" -> ((s, dir) => {
      val sup = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("supply"))
        .withColumn("weight",
          when(expr("CAST(substring(source, 4) AS INT)") % 2 === 0,
            lit(50000L)).otherwise(lit(100000L)))
      Sampling.mixtureAllocation(sup, "source", "supply", "weight",
        budget = 300L)
        .orderBy("source")
    }),

    // ── padding-waste accounting: pad-to-max batches of 8 per source,
    // length-sorted vs arrival order — the delta is what length
    // bucketing saves; exact integers until one terminal division.
    "q229_padding_waste" -> ((s, dir) =>
      graft.operators.Packing.paddingWasteByGroup(
        t(s, dir, "documents"), "doc_id", "n_chars", "source", batchSize = 8)
        .orderBy("source")),

    // ── dedup ROI: the q58 duplicate graph's per-doc verdicts rolled up
    // into the "what did dedup actually buy" report — docs and tokens
    // kept vs dropped, per source.
    "q230_dedup_roi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val audit = Dedup.dedupAudit(docs.select("doc_id", "text"),
        "doc_id", "text", minJaccard = 0.1)
      val toks = docs.select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("__toks"))
      audit.join(toks, "doc_id")
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("n_tokens"))
        .orderBy("source", "status")
    }),

    // ── declarative data-quality gate: five typed expectations over the
    // documents feed in ONE aggregation pass (unique via the exact
    // Expand-planned distinct count; in_range planted to violate — the
    // 400-char cap catches the long tail).
    "q223_expectations" -> ((s, dir) =>
      graft.operators.Profiling.expectationReport(t(s, dir, "documents"), Seq(
        graft.operators.Profiling.ExpectNotNull("text"),
        graft.operators.Profiling.ExpectUnique("doc_id"),
        graft.operators.Profiling.ExpectInRange("n_chars", 1, 400),
        graft.operators.Profiling.ExpectInSet("lang", Seq("de", "en", "es", "fr", "zh")),
        graft.operators.Profiling.ExpectMatches("source", "src[0-9]+")))
        .orderBy("rule")),

    // ── quantile normalization: per-source n_chars mapped onto the
    // GLOBAL length distribution at its own source's rank — the
    // batch-effect harmonizer (per-group boundary fold + sort-assisted
    // global inverse CDF as a literal).
    "q224_quantile_normalize" -> ((s, dir) =>
      Summaries.quantileNormalize(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", nBuckets = 10)
        .orderBy("doc_id"))
  )

  // ── shared SQL texts run VERBATIM by both engines (the q07 pattern:
  // the strongest oracle is the same ANSI SQL through two optimizers) ──
  /** Arbitrary GROUPING SETS — the margins-only cousin of q160's ROLLUP
    * (per-source and per-lang margins plus the grand total, no
    * (source, lang) cells); one Expand + one hash aggregation in Spark.
    */
  private val groupingSetsSql: String =
    """SELECT
      | CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
      | CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
      | count(*) AS n_rows
      |FROM documents
      |GROUP BY GROUPING SETS ((source), (lang), ())
      |ORDER BY source, lang""".stripMargin

  /** Rank-distribution window functions (percent_rank / cume_dist /
    * ntile) over a TOTAL per-partition order (ties broken by doc_id, the
    * oracle-determinism contract). The ratios are single IEEE divisions
    * of exact integer ranks — bit-identical across engines unrounded.
    */
  private val rankDistSql: String =
    """SELECT doc_id, lang,
      | percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr,
      | cume_dist()    OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cd,
      | ntile(4)       OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS quartile
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** EXCEPT / INTERSECT (distinct set semantics in both engines). */
  private val setOpsSql: String =
    """SELECT 'except' AS op, doc_id FROM (
      | SELECT doc_id FROM documents WHERE lang = 'en'
      | EXCEPT
      | SELECT doc_id FROM documents WHERE source = 'src0')
      |UNION ALL
      |SELECT 'intersect', doc_id FROM (
      | SELECT doc_id FROM documents WHERE lang = 'en'
      | INTERSECT
      | SELECT doc_id FROM documents WHERE source = 'src0')
      |ORDER BY op, doc_id""".stripMargin

  private val threeWayJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_rows,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_changed_values" ->
      """SELECT event_id, user_id, value FROM (
        | SELECT event_id, user_id, value,
        |  value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        | FROM events) WHERE d <> 0 ORDER BY event_id""".stripMargin,
    "q59_forward_fill" ->
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
        |WHERE value IS NOT NULL ORDER BY event_id""".stripMargin,
    "q60_hash_sample" ->
      """SELECT doc_id,
        | CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 < 200
        |  THEN 'test' ELSE 'train' END AS split
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 < 500
        |ORDER BY doc_id""".stripMargin,
    "q61_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q62_token_freq" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin,
    "q73_semantic_dedup" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM v),
         |pairs AS (
         | SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
         | FROM b a JOIN b c ON a.vec_id < c.vec_id
         | WHERE bit_count(xor(a.bucket, c.bucket)) <= 1
         |   AND list_cosine_similarity(a.v, c.v) > 0.4),
         |nodes(n) AS (SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs),
         |und(ua, ub) AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         |cc(node, label) AS (
         | SELECT n, n FROM nodes
         | UNION
         | SELECT u.ub, cc.label FROM cc JOIN und u ON u.ua = cc.node WHERE cc.label < u.ub),
         |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label))
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT node FROM losers) ORDER BY vec_id""".stripMargin,
    "q72_bm25" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS l FROM base),
         |stats AS (SELECT count(*)::DOUBLE AS n, SUM(l)::DOUBLE / count(*) AS avgdl FROM lens),
         |dt AS (SELECT b.doc_id, l.l, unnest(b.toks) AS token
         |       FROM base b JOIN lens l USING (doc_id)),
         |tfd AS (SELECT doc_id, l, token, count(*)::DOUBLE AS tf FROM dt
         |        WHERE token IN ('hash', 'join', 'filter') GROUP BY 1, 2, 3),
         |dfq AS (SELECT token, count(*)::DOUBLE AS df FROM tfd GROUP BY 1),
         |c AS (SELECT t.doc_id,
         |       CAST(round(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * ${1.2 + 1.0} /
         |            (t.tf + ${1.2} * (${1.0 - 0.75} + ${0.75} * t.l / s.avgdl)), 6)
         |        AS DECIMAL(18,6)) AS cr
         |      FROM tfd t JOIN dfq d USING (token), stats s)
        |SELECT doc_id, count(*)::BIGINT AS n_terms, CAST(SUM(cr) AS DOUBLE) AS score
        |FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q71_tfidf_keywords" ->
      """WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfd AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1 HAVING count(*) >= 2),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT t.doc_id, t.token, t.tf, d.df,
        |       round(t.tf * ln(n.n::DOUBLE / d.df), 6) AS score
        |      FROM tfd t JOIN dfq d USING (token), n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |       ORDER BY score DESC, token) AS BIGINT) AS rn FROM s)
        |SELECT doc_id, rn, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        |FROM r WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,
    "q69_det_shuffle" ->
      """SELECT doc_id FROM documents
        |ORDER BY md5('epoch1' || CAST(doc_id AS VARCHAR)), doc_id""".stripMargin,
    "q67_dedup_incremental" ->
      (s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_in, b.doc_id AS doc_ex
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey
         | WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |inter AS (
         | SELECT c.doc_in, c.doc_ex, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_in
         |  JOIN sh sb ON sb.doc_id = c.doc_ex AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near_losers AS (
         | SELECT DISTINCT i.doc_in FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_in JOIN sz zb ON zb.doc_id = i.doc_ex
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exact_losers AS (
         | SELECT DISTINCT doc_id FROM documents
         | WHERE doc_id % 2 = 1 AND sha256(text) IN
         |  (SELECT sha256(text) FROM documents WHERE doc_id % 2 = 0))
        |SELECT doc_id FROM documents WHERE doc_id % 2 = 1
        | AND doc_id NOT IN (SELECT doc_id FROM exact_losers)
        | AND doc_id NOT IN (SELECT doc_in FROM near_losers)
        |ORDER BY doc_id""".stripMargin),
    "q66_scrub" ->
      """WITH s AS (SELECT doc_id, text,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^\s]+', '<URL>', 'g'),
        |  '\b\d{3}[- .]\d{3}[- .]\d{4}\b', '<PHONE>', 'g') AS scrubbed
        | FROM documents)
        |SELECT doc_id, scrubbed,
        | CAST(length(text) - length(scrubbed) AS BIGINT) AS n_chars_removed
        |FROM s ORDER BY doc_id""".stripMargin,
    "q64_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 <
        | CASE WHEN lang = 'de' THEN 200 WHEN lang = 'en' THEN 800 ELSE 500 END
        |ORDER BY doc_id""".stripMargin,
    "q65_seq_packing" ->
      """WITH sharded AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |b AS (
        | SELECT doc_id, shard, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        | FROM sharded)
        |SELECT doc_id, shard, n_tokens, CAST(bef // 256 AS BIGINT) AS bin_id
        |FROM b ORDER BY doc_id""".stripMargin,
    "q63_regional_revenue" ->
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
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q02_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q03_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        | AND l_quantity BETWEEN 10 AND 40 AND l_discount >= 0.02 AND l_discount <= 0.08
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_rlike_filter" ->
      """SELECT p_partkey, p_type, p_brand FROM part
        |WHERE regexp_matches(p_type, 'ECONOMY|LARGE') ORDER BY p_partkey""".stripMargin,
    "q05_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q06_join_broadcast" ->
      """SELECT p_brand,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q07_sql_3way_join" -> threeWayJoinSql,
    "q08_union_slices" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT * FROM orders WHERE year(o_orderdate) <= 1996
        |      UNION ALL
        |      SELECT * FROM orders WHERE year(o_orderdate) >= 1999)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_per_key_summary" ->
      """SELECT user_id, min(value) AS min_value, max(value) AS max_value,
        | arg_min(value, event_id) AS first_value, arg_max(value, event_id) AS last_value,
        | count(*) AS n_rows
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q10_lookbacks" ->
      """SELECT event_id, user_id, value,
        | lag(value, 1) OVER w AS value_lag_1,
        | lag(value, 3) OVER w AS value_lag_3,
        | lag(value, 7) OVER w AS value_lag_7
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,
    "q74_lookback_days" ->
      """WITH daily AS (
        | SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, event_id) AS value
        | FROM events GROUP BY 1, 2)
        |SELECT user_id, d, value,
        | last_value(value) OVER (PARTITION BY user_id
        |   ORDER BY datediff('day', DATE '1970-01-01', d)
        |   RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS value_1d_ago,
        | last_value(value) OVER (PARTITION BY user_id
        |   ORDER BY datediff('day', DATE '1970-01-01', d)
        |   RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS value_7d_ago
        |FROM daily ORDER BY user_id, d""".stripMargin,
    "q76_decontaminate" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT c.doc_id FROM tri c JOIN bench b USING (shingle)
        |        WHERE c.doc_id % 97 <> 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "q77_budget_select" ->
      """WITH scored AS (SELECT doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS score,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |run AS (SELECT doc_id, score, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS run FROM scored)
        |SELECT doc_id, score, n_tokens FROM run WHERE run <= 10000
        |ORDER BY doc_id""".stripMargin,
    "q78_domain_mixing" ->
      """WITH scored AS (SELECT doc_id,
        |  (['web','books','code'])[CAST(doc_id % 3 + 1 AS INT)] AS domain,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS score,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |run AS (SELECT doc_id, domain, score, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY domain ORDER BY score DESC, doc_id) AS run
        |  FROM scored)
        |SELECT doc_id, domain, score, n_tokens FROM run
        |WHERE run <= CASE domain WHEN 'web' THEN 4000 WHEN 'books' THEN 2500 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,
    "q79_unigram_lm" ->
      """WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM dt GROUP BY 1),
        |t AS (SELECT sum(cnt) AS total FROM v),
        |s AS (SELECT dt.doc_id,
        |       CAST(round(ln(CAST(v.cnt AS DOUBLE) / t.total), 6) AS DECIMAL(18,6)) AS lp
        |      FROM dt JOIN v USING (tok), t),
        |a AS (SELECT doc_id, count(*) AS n_tokens,
        |             CAST(sum(lp) * 1000000 AS BIGINT) AS sm FROM s GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(sign(sm) AS DOUBLE) *
        |   ((2 * abs(sm) + n_tokens) // (2 * n_tokens)) / 1000000 AS avg_logprob
        |FROM a ORDER BY doc_id""".stripMargin,
    "q80_chunking" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, t,
        |  greatest(0, CAST(ceil(CAST(len(t) - 16 AS DOUBLE) / 8) AS INT) * 8) AS ls FROM sp),
        |ch AS (SELECT doc_id, t, unnest(range(0, ls + 1, 8)) AS s FROM st)
        |SELECT doc_id, CAST(s / 8 AS BIGINT) AS chunk_idx,
        | array_to_string(t[s+1 : s+16], ' ') AS chunk_text,
        | CAST(len(t[s+1 : s+16]) AS BIGINT) AS n_tokens
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "q11_growth" ->
      """SELECT d, n, prev_n, (n - prev_n) * CAST(100 AS DOUBLE) / prev_n AS growth_pct
        |FROM (SELECT d, n, lag(n, 1) OVER (ORDER BY d) AS prev_n
        |      FROM (SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1))
        |ORDER BY d""".stripMargin,
    "q12_date_spine" ->
      """SELECT CAST(unnest(generate_series(a, b, INTERVAL 1 DAY)) AS DATE) AS d
        |FROM (SELECT CAST(min(o_orderdate) AS DATE) AS a, CAST(max(o_orderdate) AS DATE) AS b
        |      FROM orders) ORDER BY d""".stripMargin,
    "q13_round" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct,
        | CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_pct
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q14_date_arith" ->
      """SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS first_order,
        | CAST(max(o_orderdate) AS DATE) AS last_order,
        | CAST(CAST(max(o_orderdate) AS DATE) + INTERVAL 1 DAY AS DATE) AS day_after_last
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_distinct" ->
      """SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
        |ORDER BY 1, 2""".stripMargin,
    "q16_regex_extract" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q17_text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        | CAST(len(list_filter(string_split(text,' '), t -> t IN ('a','the','and','of','to','in'))) AS BIGINT) AS n_stopwords,
        | len(list_filter(string_split(text,' '), t -> t IN ('a','the','and','of','to','in')))
        |   / CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q18_lang_id" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','and','of'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','los','las','que'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','la','les','et'))) AS BIGINT) AS score_fr,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('的','是','了','在'))) AS BIGINT) AS score_zh
        | FROM documents)
        |SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
        | CASE
        |  WHEN score_en > 0 AND score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
        |  WHEN score_de > 0 AND score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |  WHEN score_es > 0 AND score_es >= score_en AND score_es >= score_de AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |  WHEN score_fr > 0 AND score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
        |  WHEN score_zh > 0 AND score_zh >= score_en AND score_zh >= score_de AND score_zh >= score_es AND score_zh >= score_fr THEN 'zh'
        |  ELSE 'und' END AS predicted_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q19_fingerprint" ->
      """SELECT doc_id, list_min(list_transform(
        |  range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
        |  i -> md5(array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT sha256(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_minhash_sigs" -> (minhashSigSql + " ORDER BY doc_id"),
    "q22_lsh_candidates" ->
      (s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),
    "q23_jaccard_pairs" ->
      (s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        | i.n_inter / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
        |WHERE i.n_inter / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q24_simhash_md5" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, (SELECT unnest(range(0,60)) AS j) GROUP BY 1,2)
        |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash60
        |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_embedding_neardup" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM v)
        |SELECT a.vec_id AS id_a, c.vec_id AS id_b
        |FROM b a JOIN b c ON a.vec_id < c.vec_id
        |WHERE bit_count(xor(a.bucket, c.bucket)) <= 1
        |  AND list_cosine_similarity(a.v, c.v) > 0.4
        |ORDER BY 1, 2""".stripMargin,
    "q86_dedup_lines" ->
      """WITH three AS (SELECT a.doc_id, a.text || chr(10) || b.text || chr(10) || a.text AS text
        |               FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ls[i+1] AS line
        |      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM three),
        |           unnest(range(len(ls))) AS t(i)),
        |w AS (SELECT doc_id, pos, line,
        |             row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |      FROM l)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // identical semantics to q76 — the bloom sketch is a pure prefilter
    "q87_bloom_decontaminate" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT c.doc_id FROM tri c JOIN bench b USING (shingle)
        |        WHERE c.doc_id % 97 <> 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "q88_contamination_frac" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |tri AS (SELECT DISTINCT doc_id, shingle FROM tri0),
        |bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % 97 = 0),
        |c AS (SELECT t.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_contaminated
        |      FROM tri t LEFT JOIN bench b ON t.shingle = b.shingle
        |      WHERE t.doc_id % 97 <> 0 GROUP BY 1)
        |SELECT doc_id, n_shingles, n_contaminated,
        |  CAST(n_contaminated AS DOUBLE) / n_shingles AS frac
        |FROM c ORDER BY doc_id""".stripMargin,
    "q89_dup_spans" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingle
        |      FROM sp)
        |SELECT shingle, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        |FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY shingle""".stripMargin,
    "q90_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q91_salted_agg" ->
      """SELECT l_suppkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q93_paragraph_neardup" ->
      (s"""WITH RECURSIVE
         |two AS (SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
         |        FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
         |sp AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM two),
         |paras AS (SELECT sp.doc_id AS odoc, CAST(i AS BIGINT) AS pos,
         |                 sp.doc_id * 1048576 + CAST(i AS BIGINT) AS doc_id,
         |                 parts[i+1] AS text
         |          FROM sp, unnest(range(len(parts))) AS t(i)
         |          WHERE regexp_matches(parts[i+1], '\\S')),
         |sig AS (${minhashSigSqlOver("paras")}), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (${shingleSqlOver("paras")}),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM paras GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, p.doc_id AS doc_b
         |           FROM paras p JOIN exactg g ON sha256(p.text) = g.h
         |           WHERE p.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label)),
         |kept AS (SELECT odoc, pos, text FROM paras
         |         WHERE doc_id NOT IN (SELECT node FROM losers))
        |SELECT odoc AS doc_id, string_agg(text, chr(10) || chr(10) ORDER BY pos) AS text,
        |       count(*) AS n_kept
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin),
    "q92_remove_dup_spans" ->
      """WITH sp AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
        |            WHERE text IS NOT NULL),
        |g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |         i -> {'pos': i, 'gram': t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]})) AS s
        |       FROM sp),
        |pg AS (SELECT doc_id, struct_extract(s, 'pos') AS pos,
        |              struct_extract(s, 'gram') AS gram FROM g0),
        |dup AS (SELECT gram, min(doc_id) AS canon
        |        FROM (SELECT DISTINCT gram, doc_id FROM pg)
        |        GROUP BY 1 HAVING count(*) >= 2),
        |cov0 AS (SELECT pg.doc_id, unnest(range(pg.pos, pg.pos + 5)) AS tp
        |         FROM pg JOIN dup USING (gram) WHERE pg.doc_id <> dup.canon),
        |cov AS (SELECT DISTINCT doc_id, tp FROM cov0),
        |tok AS (SELECT doc_id, generate_subscripts(t,1) AS tp, unnest(t) AS tok FROM sp),
        |keep AS (SELECT tok.doc_id, tok.tp, tok.tok FROM tok ANTI JOIN cov USING (doc_id, tp)),
        |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text,
        |               count(*) AS kept FROM keep GROUP BY 1)
        |SELECT sp.doc_id, coalesce(reb.text, '') AS text,
        |  CAST(len(sp.t) - coalesce(reb.kept, 0) AS BIGINT) AS n_removed
        |FROM sp LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q84_quality_classifier" ->
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |z AS (SELECT doc_id,
        |  -2.2 + 0.8 * least(len(t) / 100.0, 1.0)
        |       + 0.15 * (CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t))
        |       + 2.0 * (CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(t))
        |       + 1.5 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
        |       - 0.3 * least(CAST(list_max(list_transform(t, x -> length(x))) AS DOUBLE) / 20.0, 1.0)
        |  AS z FROM f)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality_score,
        |       round(1.0 / (1.0 + exp(-z)), 6) > 0.5 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,
    "q83_bigram_lm" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |r AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i+1] AS tok,
        |             CASE WHEN i = 0 THEN NULL ELSE t[i] END AS prev
        |      FROM sp, unnest(range(len(t))) AS u(i)),
        |ref AS (SELECT * FROM r WHERE doc_id % 2 = 0),
        |v AS (SELECT tok, count(*) AS cnt FROM ref GROUP BY 1),
        |tt AS (SELECT sum(cnt) AS total FROM v),
        |b AS (SELECT prev, tok, count(*) AS bcnt FROM ref WHERE prev IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT r.doc_id,
        |        CAST(round(CASE
        |          WHEN r.prev IS NULL THEN ln(coalesce(CAST(v.cnt AS DOUBLE), 0.4) / tt.total)
        |          WHEN b.bcnt IS NOT NULL THEN ln(CAST(b.bcnt AS DOUBLE) / pv.cnt)
        |          ELSE ln(0.4 * coalesce(CAST(v.cnt AS DOUBLE), 0.4) / tt.total)
        |        END, 6) AS DECIMAL(18,6)) AS lp
        |      FROM r LEFT JOIN v USING (tok)
        |             LEFT JOIN v pv ON pv.tok = r.prev
        |             LEFT JOIN b ON b.prev = r.prev AND b.tok = r.tok, tt),
        |a AS (SELECT doc_id, count(*) AS n_tokens,
        |             CAST(sum(lp) * 1000000 AS BIGINT) AS sm FROM s GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(sign(sm) AS DOUBLE) *
        |         ((2 * abs(sm) + n_tokens) // (2 * n_tokens)) / 1000000 AS avg_logprob
        |FROM a ORDER BY doc_id""".stripMargin,
    "q82_paragraph_dedup" ->
      """WITH two AS (SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
        |             FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |sp AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM two),
        |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, parts[i+1] AS para
        |      FROM sp, unnest(range(len(parts))) AS t(i)
        |      WHERE regexp_matches(parts[i+1], '\S')),
        |w AS (SELECT doc_id, pos, para,
        |             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |      FROM p)
        |SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
        |       count(*) AS n_kept
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q81_neardup_banded" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v", 4, 0)} AS b0,
         |             ${lshBucketSql("v", 4, 4)} AS b1,
         |             ${lshBucketSql("v", 4, 8)} AS b2 FROM v)
        |SELECT a.vec_id AS id_a, c.vec_id AS id_b
        |FROM b a JOIN b c ON a.vec_id < c.vec_id
        |WHERE (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2)
        |  AND list_cosine_similarity(a.v, c.v) > 0.4
        |ORDER BY 1, 2""".stripMargin,
    "q85_embed_drop_against" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v", 4, 0)} AS b0,
         |             ${lshBucketSql("v", 4, 4)} AS b1,
         |             ${lshBucketSql("v", 4, 8)} AS b2 FROM v),
        |inc AS (SELECT * FROM b WHERE vec_id % 3 = 0),
        |ex AS (SELECT * FROM b WHERE vec_id % 3 <> 0),
        |losers AS (SELECT DISTINCT i.vec_id FROM inc i JOIN ex e
        |  ON (i.b0 = e.b0 OR i.b1 = e.b1 OR i.b2 = e.b2)
        | WHERE list_cosine_similarity(i.v, e.v) > 0.4)
        |SELECT vec_id FROM inc WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id""".stripMargin,
    "q26_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS cos
        |      FROM c, q WHERE neighbor_id <> query_id),
        |r AS (SELECT query_id, neighbor_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
        |      FROM s)
        |SELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    "q27_ann_lsh_bucket" ->
      ("""SELECT vec_id, (""" +
        (0 until 4).map { p =>
          s"""CASE WHEN list_reduce(list_transform(range(1, 65),
             | j -> CAST(embedding[j] AS DOUBLE) * CAST(${planeWeightSql(p)} AS DOUBLE)),
             | (a, b) -> a + b) > 0 THEN ${1L << p} ELSE 0 END""".stripMargin
        }.mkString(" + ") +
        """)::BIGINT AS bucket FROM embeddings ORDER BY vec_id"""),
    "q28_multimodal_meta" ->
      """SELECT doc_id, (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(CAST(text AS BLOB)) // 256 AS BIGINT) AS n_chunks
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_windowed_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q68_sliding_agg" ->
      """WITH e AS (
        | SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type, value FROM events),
        |x AS (SELECT h AS ws, event_type, value FROM e
        |      UNION ALL
        |      SELECT h - INTERVAL 1 HOUR AS ws, event_type, value FROM e)
        |SELECT ws, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q30_asof_join" ->
      """SELECT event_id, user_id, value, last_click_value FROM (
        | SELECT event_id, user_id, value, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_value
        | FROM events) WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q32_urls" ->
      """SELECT d, 'https://epss.cyentia.com/epss_scores-' || strftime(d, '%Y-%m-%d') || '.csv.gz' AS url
        |FROM (SELECT CAST(unnest(generate_series(b - INTERVAL 30 DAY, b, INTERVAL 1 DAY)) AS DATE) AS d
        |      FROM (SELECT CAST(max(o_orderdate) AS DATE) AS b FROM orders))
        |ORDER BY d""".stripMargin,
    "q33_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q34_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,
    "q35_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND year(o_orderdate) >= 1999)
        |ORDER BY c_custkey""".stripMargin,
    "q37_ann_ivf" ->
      """WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS cv FROM c ORDER BY vec_id LIMIT 16),
        |assign AS (
        | SELECT vec_id, v, cell FROM (
        |  SELECT c.vec_id, c.v, ct.cell,
        |   row_number() OVER (PARTITION BY c.vec_id
        |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
        |  FROM c, cents ct) WHERE arn = 1),
        |probes AS (
        | SELECT query_id, qv, cell FROM (
        |  SELECT q.vec_id AS query_id, q.v AS qv, ct.cell,
        |   row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY 1.0 - list_cosine_similarity(q.v, ct.cv) ASC, ct.cell ASC) AS prn
        |  FROM (SELECT vec_id, v FROM c WHERE vec_id % 50 = 0) q, cents ct) WHERE prn <= 4),
        |s AS (
        | SELECT p.query_id, a.vec_id AS neighbor_id, list_cosine_similarity(a.v, p.qv) AS cos
        | FROM assign a JOIN probes p ON a.cell = p.cell
        | WHERE a.vec_id <> p.query_id),
        |r AS (SELECT query_id, neighbor_id,
        | CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn FROM s)
        |SELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q39_rank_funcs" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        | CAST(rank() OVER w AS BIGINT) AS rnk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        | percent_rank() OVER w AS prnk,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q40_pivot" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname, lower(c_mktsegment) AS lseg,
        | substr(c_name, 1, 8) AS prefix, CAST(length(c_name) AS BIGINT) AS nlen,
        | reverse(c_name) AS rname, regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        | lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        | concat_ws('|', c_mktsegment, c_name) AS joined,
        | CAST(strpos(c_name, 'Customer') AS BIGINT) AS ppos
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q42_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q25,
        | quantile_cont(l_quantity, 0.5) AS median, quantile_cont(l_quantity, 0.75) AS q75,
        | min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_conditional" ->
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 200000 THEN 'high'
        |      WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
        | coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status2,
        | greatest(o_custkey, o_orderkey) AS gk,
        | least(o_custkey, o_orderkey) AS lk
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q44_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin,
    "q45_window_frame" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE) AS qty_3row,
        | count(*) OVER w AS n_3row
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber, qty_3row""".stripMargin,
    "q46_posexplode" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS pos, string_split(text, ' ')[i+1] AS tok
        |FROM documents, unnest(range(len(string_split(text,' ')))) AS t(i)
        |ORDER BY doc_id, pos""".stripMargin,
    "q47_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q58_dedup_corpus" ->
      (s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM losers) ORDER BY doc_id""".stripMargin),
    "q70_dedup_keep_longest" ->
      (s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         |keep AS (SELECT node FROM (
         | SELECT c.node, row_number() OVER (PARTITION BY c.comp
         |   ORDER BY length(d.text) DESC, c.node DESC) AS krn
         | FROM comp c JOIN documents d ON d.doc_id = c.node) WHERE krn = 1),
         |losers AS (SELECT node FROM comp WHERE node NOT IN (SELECT node FROM keep))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM losers) ORDER BY doc_id""".stripMargin),
    "q56_trending" ->
      """SELECT user_id, first_value, last_value, n_obs, last_value - first_value AS delta
        |FROM (SELECT user_id, arg_min(value, event_id) AS first_value,
        |       arg_max(value, event_id) AS last_value, count(*) AS n_obs
        |      FROM events GROUP BY 1)
        |WHERE last_value - first_value >= 10 ORDER BY user_id""".stripMargin,
    "q57_last_big_change" ->
      """SELECT user_id, max(event_id) AS last_change_at,
        | arg_max(chg, event_id) AS last_change
        |FROM (SELECT user_id, event_id,
        |       value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS chg
        |      FROM events)
        |WHERE abs(chg) >= 50 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q55_repetition" ->
      """WITH g AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' '))),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS gram
        | FROM documents WHERE len(string_split(text,' ')) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1,2),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |      CAST(max(cnt) AS BIGINT) AS max_gram_count FROM c GROUP BY 1)
        |SELECT doc_id, n_grams, max_gram_count,
        | CAST(max_gram_count AS DOUBLE) / n_grams AS top_gram_ratio
        |FROM a ORDER BY doc_id""".stripMargin,
    "q54_ann_rerank" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
        |  THEN 127.0 / list_max(list_transform(v, x -> abs(x))) ELSE 0.0 END AS scale FROM v),
        |q8 AS (SELECT vec_id, v, list_transform(v, x -> CAST(CAST(floor(x * scale + 0.5) AS BIGINT) AS DOUBLE)) AS qv FROM s),
        |qs AS (SELECT vec_id AS query_id, v AS qv_f, qv AS qv_q FROM q8 WHERE vec_id % 50 = 0),
        |pairs AS (
        | SELECT q.query_id, c.vec_id AS neighbor_id, c.v AS cv_f, q.qv_f,
        |  list_inner_product(c.qv, q.qv_q) AS approx
        | FROM q8 c, qs q WHERE c.vec_id <> q.query_id),
        |stage1 AS (SELECT query_id, neighbor_id, cv_f, qv_f FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS arn
        |  FROM pairs) WHERE arn <= 20),
        |stage2 AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity(cv_f, qv_f) DESC, neighbor_id) AS BIGINT) AS rn
        | FROM stage1)
        |SELECT query_id, neighbor_id, rn FROM stage2 WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    "q53_simhash_neardup" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, (SELECT unnest(range(0,60)) AS j) GROUP BY 1,2),
        |sim AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh
        |        FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q51_quality_signals" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        | CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS mean_word_len,
        | CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
        | CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS frac_unique,
        | CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_word_len
        |FROM sp ORDER BY doc_id""".stripMargin,
    "q52_dedup_components" ->
      (s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |nodes(n) AS (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand),
         |und(a, b) AS (SELECT doc_a, doc_b FROM cand UNION SELECT doc_b, doc_a FROM cand),
         |cc(node, label) AS (
         | SELECT n, n FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b)
        |SELECT node, min(label) AS component FROM cc GROUP BY node ORDER BY node""".stripMargin),
    "q49_text_normalize" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        | '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q50_variance_exact" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, sx, sx2,
        | sqrt((sx2 * n - sx * sx) / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_exact
        |FROM s ORDER BY 1""".stripMargin,
    "q48_embed_quantize" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
        |  THEN 127.0 / list_max(list_transform(v, x -> abs(x))) ELSE 0.0 END AS scale FROM v),
        |q AS (SELECT vec_id, scale, list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv FROM s)
        |SELECT vec_id, scale, CAST(list_sum(qv) AS BIGINT) AS q_sum,
        | CAST(list_min(qv) AS BIGINT) AS q_min, CAST(list_max(qv) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,
    "q36_sessionize" ->
      """SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        | SELECT user_id, ts, value,
        |  sum(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM (SELECT user_id, event_id, ts, value,
        |        lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |       FROM events))
        |GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q94_decontam_report" ->
      """WITH sp AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |tri AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |bench AS (
        | SELECT DISTINCT 'suiteA' AS bench_id, shingle FROM tri WHERE doc_id % 97 = 0
        | UNION
        | SELECT DISTINCT 'suiteB' AS bench_id, shingle FROM tri WHERE doc_id % 89 = 0)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_hits
        |FROM tri c JOIN bench b USING (shingle)
        |WHERE c.doc_id % 97 <> 0 AND c.doc_id % 89 <> 0
        |GROUP BY 1, 2 ORDER BY doc_id, bench_id""".stripMargin,
    "q95_corpus_profile" ->
      """WITH b AS (SELECT lang,
        |  least(CAST(floor(length(text) / 50.0) AS BIGINT), 9) AS len_bucket,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents
        |  WHERE text IS NOT NULL),
        |agg AS (SELECT lang, len_bucket, count(*) AS n_docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM b GROUP BY 1, 2)
        |SELECT lang, len_bucket, n_docs, n_tokens,
        | CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS frac_docs
        |FROM agg ORDER BY lang, len_bucket""".stripMargin,
    "q96_source_report" ->
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT sha256(text)) AS n_unique,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars,
        | CAST(count(*) - count(DISTINCT sha256(text)) AS DOUBLE) / count(*) AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q97_shard_assign" ->
      """WITH h AS (SELECT doc_id,
        |  md5('epoch1' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard, h FROM h)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "q98_cdc_chunks" ->
      """WITH sp AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
        |            WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, t, len(t) AS m,
        |       list_filter(range(3, len(t)),
        |        i -> ('0x' || substr(md5(t[i-2] || ' ' || t[i-1] || ' ' || t[i]), 1, 15))::BIGINT % 8 = 0) AS cuts
        |      FROM sp),
        |x AS (SELECT doc_id, t, m, cuts, unnest(range(0, len(cuts) + 1)) AS j FROM c),
        |y AS (SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
        |       CASE WHEN j = 0 THEN 0 ELSE cuts[j] END AS s,
        |       CASE WHEN j = len(cuts) THEN m ELSE cuts[j + 1] END AS e, t FROM x)
        |SELECT doc_id, chunk_idx, array_to_string(t[s+1:e], ' ') AS chunk_text,
        |       CAST(e - s AS BIGINT) AS n_tokens
        |FROM y ORDER BY doc_id, chunk_idx""".stripMargin,
    "q99_topk_per_lang" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS score FROM documents),
        |r AS (SELECT lang, doc_id, score,
        |       CAST(row_number() OVER (PARTITION BY lang
        |        ORDER BY score DESC, doc_id) AS BIGINT) AS rn FROM s)
        |SELECT lang, doc_id, score, rn FROM r WHERE rn <= 5
        |ORDER BY lang, rn""".stripMargin,
    "q100_dedup_chunks" ->
      """WITH two AS (SELECT a.doc_id, a.text || ' ' || b.text AS text
        |             FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |sp AS (SELECT doc_id, string_split(text,' ') AS t FROM two),
        |c AS (SELECT doc_id, t, len(t) AS m,
        |       list_filter(range(3, len(t)),
        |        i -> ('0x' || substr(md5(t[i-2] || ' ' || t[i-1] || ' ' || t[i]), 1, 15))::BIGINT % 8 = 0) AS cuts
        |      FROM sp),
        |x AS (SELECT doc_id, t, m, cuts, unnest(range(0, len(cuts) + 1)) AS j FROM c),
        |y AS (SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
        |       CASE WHEN j = 0 THEN 0 ELSE cuts[j] END AS s,
        |       CASE WHEN j = len(cuts) THEN m ELSE cuts[j + 1] END AS e, t FROM x),
        |ch AS (SELECT doc_id, chunk_idx, array_to_string(t[s+1:e], ' ') AS ctext FROM y),
        |w AS (SELECT doc_id, chunk_idx, ctext,
        |       row_number() OVER (PARTITION BY ctext ORDER BY doc_id, chunk_idx) AS rn
        |      FROM ch)
        |SELECT doc_id, string_agg(ctext, ' ' ORDER BY chunk_idx) AS text,
        |       count(*) AS n_kept
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q101_snapshot_diff" ->
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
        |ORDER BY doc_id""".stripMargin,
    "q102_quantile_gate" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS score FROM documents),
        |t AS (SELECT lang, quantile_cont(score, 0.4) AS thr FROM s GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.score FROM s JOIN t USING (lang)
        |WHERE s.score >= t.thr ORDER BY doc_id""".stripMargin,
    "q103_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |fs AS (SELECT user_id, min(d) AS cohort FROM act GROUP BY 1)
        |SELECT fs.cohort, CAST(a.d - fs.cohort AS BIGINT) AS day_offset,
        |       count(*) AS n_active
        |FROM act a JOIN fs ON a.user_id = fs.user_id
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    "q104_funnel" ->
      """WITH s1 AS (SELECT user_id, min(event_id) AS step_1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.event_id) AS step_2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.event_id > s1.step_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.event_id) AS step_3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.event_id > s2.step_2 GROUP BY 1)
        |SELECT s1.user_id, s1.step_1, s2.step_2, s3.step_3,
        | CAST(CASE WHEN s3.step_3 IS NOT NULL THEN 3
        |           WHEN s2.step_2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS n_steps
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,

    // The decoded facts of q105's synthesized square-wave WAVs, stated in
    // closed form: rate/channels are the container's; n_frames and
    // amplitude are the synthesis parameters; duration = frames/rate and
    // rms = amplitude/32768 are IEEE-exact (dyadic amplitude, equal +/-
    // halves), so no rounding is needed for cross-engine equality.
    "q105_audio_roundtrip" ->
      """SELECT doc_id,
        | CAST(8000 AS DOUBLE) AS sample_rate,
        | CAST(1 AS INTEGER) AS channels,
        | CAST(800 + (doc_id % 7) * 80 AS BIGINT) AS n_frames,
        | CAST(800 + (doc_id % 7) * 80 AS DOUBLE) / CAST(8000 AS DOUBLE) AS duration_sec,
        | CAST(256 * (1 + doc_id % 31) AS DOUBLE) / CAST(32768 AS DOUBLE) AS rms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Identical Efraimidis–Spirakis priority arithmetic: 60-bit md5
    // uniform, u = (x + 0.5) / 2^60 (the long→double rounding happens
    // before the add in BOTH engines), priority = ln(u) / w, top-100.
    "q106_weighted_sample" ->
      """WITH w AS (SELECT doc_id, n_chars,
        |  ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT + 0.5)
        |     / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
        | FROM documents),
        |s AS (SELECT doc_id, n_chars FROM w ORDER BY k DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_chars FROM s ORDER BY doc_id""".stripMargin,
    "q107_containment_pairs" ->
      (s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT a.doc_id + 100000 AS doc_id, a.text || ' ' || b.text AS text
         | FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         | WHERE a.doc_id % 2 = 0),
         |sig AS (${minhashSigSqlOver("corpus")}), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (${shingleSqlOver("corpus")}),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        | i.n_inter / CAST(least(za.sz, zb.sz) AS DOUBLE) AS containment,
        | CASE WHEN za.sz <= zb.sz THEN i.doc_a ELSE i.doc_b END AS contained
        |FROM inter i JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
        |WHERE i.n_inter / CAST(least(za.sz, zb.sz) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    // The SAME detector regexes (RE2-compatible by construction) run by
    // DuckDB's own engine on the identically-synthesized text — a true
    // cross-engine gate on the PII detector, not a restatement of counts.
    "q108_pii_report" ->
      """WITH aug AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id % 97 AS VARCHAR) || '@example.com now' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 250 + 1 AS VARCHAR) ELSE '' END
        |  AS text FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4
        | FROM aug)
        |SELECT doc_id, n_email, n_phone, n_ipv4,
        | n_email + n_phone + n_ipv4 AS n_pii,
        | CAST((n_email + n_phone + n_ipv4) > 0 AS INT) AS has_pii
        |FROM c ORDER BY doc_id""".stripMargin,
    "q109_url_host_filter" ->
      """WITH u AS (SELECT doc_id,
        |  'https://cdn.' || source || '.net/a/' || CAST(doc_id AS VARCHAR) AS url
        | FROM documents),
        |h AS (SELECT doc_id, url,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS host FROM u),
        |d AS (SELECT doc_id, url, host,
        |  CASE WHEN len(string_split(host, '.')) >= 2
        |   THEN string_split(host, '.')[len(string_split(host, '.')) - 1]
        |        || '.' || string_split(host, '.')[len(string_split(host, '.'))]
        |   ELSE host END AS domain FROM h)
        |SELECT doc_id, url, host, domain FROM d
        |WHERE domain NOT IN ('src3.net', 'src7.net', 'src11.net', 'src19.net')
        |ORDER BY doc_id""".stripMargin,
    "q110_zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |t AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 200),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM t)
        |SELECT round(regr_slope(ln(cnt), ln(rank)), 6) + 0.0 AS slope,
        | round(regr_intercept(ln(cnt), ln(rank)), 6) + 0.0 AS intercept,
        | round(regr_r2(ln(cnt), ln(rank)), 6) AS r2,
        | count(*) AS n_points FROM r""".stripMargin,
    "q111_collocations" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM uni),
        |bg AS (SELECT t[i] AS a, t[i+1] AS b
        |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
        |bc AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY 1, 2 HAVING count(*) >= 20)
        |SELECT bc.a || ' ' || bc.b AS bigram, bc.n_ab, ca.c AS n_a, cb.c AS n_b,
        | round(ln(CAST(bc.n_ab * tot.n AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE)), 6) + 0.0 AS pmi
        |FROM bc JOIN uc ca ON ca.w = bc.a JOIN uc cb ON cb.w = bc.b, tot
        |ORDER BY pmi DESC, bigram LIMIT 40""".stripMargin,
    "q112_label_centroids" ->
      """SELECT label, CAST(j - 1 AS BIGINT) AS dim,
        | round(avg(CAST(embedding[j] AS DOUBLE)), 6) + 0.0 AS centroid,
        | count(*) AS n_vecs
        |FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    "q113_label_medoids" ->
      """WITH cen AS (
        | SELECT label, CAST(j - 1 AS BIGINT) AS dim,
        |  round(avg(CAST(embedding[j] AS DOUBLE)), 6) + 0.0 AS centroid
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g GROUP BY 1, 2),
        |ex AS (
        | SELECT label, vec_id, CAST(j - 1 AS BIGINT) AS dim,
        |  CAST(embedding[j] AS DOUBLE) AS v
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g),
        |sims AS (
        | SELECT e.label, e.vec_id,
        |  round(sum(e.v * c.centroid)
        |        / (sqrt(sum(e.v * e.v)) * sqrt(sum(c.centroid * c.centroid))), 6) + 0.0 AS sim
        | FROM ex e JOIN cen c ON c.label = e.label AND c.dim = e.dim
        | GROUP BY 1, 2),
        |best AS (SELECT label, max(sim) AS sim FROM sims GROUP BY 1)
        |SELECT s.label, min(s.vec_id) AS medoid_id, s.sim
        |FROM sims s JOIN best USING (label, sim)
        |GROUP BY s.label, s.sim ORDER BY label""".stripMargin,
    "q114_event_transitions" ->
      """WITH p AS (
        | SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |        event_type AS next_type
        | FROM events),
        |c AS (SELECT prev_type, next_type, count(*) AS n FROM p
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n, c.n / CAST(t.tot AS DOUBLE) AS prob
        |FROM c JOIN t USING (prev_type) ORDER BY prev_type, next_type""".stripMargin,
    "q115_equidepth_hist" ->
      """WITH b AS (SELECT quantile_cont(l_extendedprice,
        |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM lineitem),
        |a AS (SELECT l_extendedprice AS v,
        |  CAST(len(list_filter(b.qs, q -> l_extendedprice > q)) AS BIGINT) AS bucket
        | FROM lineitem, b)
        |SELECT bucket, count(*) AS n, min(v) AS lo, max(v) AS hi
        |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q116_slice_divergence" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sc AS (SELECT source, w, count(*) AS cs FROM tok GROUP BY 1, 2),
        |cc AS (SELECT w, sum(cs) AS ca FROM sc GROUP BY 1),
        |g AS (SELECT sum(ca) AS n_all, count(*) AS vocab FROM cc),
        |st AS (SELECT source, w, cs, sum(cs) OVER (PARTITION BY source) AS ns FROM sc)
        |SELECT st.source, CAST(max(st.ns) AS BIGINT) AS n_tokens,
        | round(sum(CAST(st.cs AS DOUBLE) *
        |   ln((CAST(st.cs AS DOUBLE) * CAST(g.n_all + g.vocab AS DOUBLE))
        |      / (CAST(st.ns AS DOUBLE) * CAST(cc.ca + 1 AS DOUBLE))))
        |  / CAST(max(st.ns) AS DOUBLE), 6) AS kl
        |FROM st JOIN cc USING (w), g
        |GROUP BY 1 ORDER BY source""".stripMargin,
    "q117_interval_join" ->
      """SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id
        |FROM events e JOIN events c ON c.user_id = e.user_id
        |WHERE e.event_type = 'error' AND c.event_type = 'click'
        |  AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 2 HOUR
        |ORDER BY error_id, click_id""".stripMargin,
    "q118_scd2" ->
      """WITH ch AS (
        | SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |   lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events) WHERE value IS DISTINCT FROM prev)
        |SELECT user_id, value, event_id AS valid_from,
        | lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
        |FROM ch ORDER BY user_id, valid_from""".stripMargin,
    "q119_weighted_per_group" ->
      """WITH w AS (SELECT lang, doc_id,
        |  ln((('0x' || substr(md5('g' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT + 0.5)
        |     / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS key
        | FROM documents),
        |r AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rn FROM w)
        |SELECT lang, doc_id, rn FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    "q120_mad_outliers" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, e.event_id, e.value, abs(e.value - m.med) AS ad
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, d.event_id, d.value,
        | CASE WHEN md.mad > 0 THEN round(d.ad / (1.4826 * md.mad), 6) END AS score
        |FROM d JOIN md USING (event_type)
        |WHERE (md.mad > 0 AND round(d.ad / (1.4826 * md.mad), 6) > 3.0)
        |   OR (md.mad = 0 AND d.ad > 0)
        |ORDER BY event_id""".stripMargin,
    "q121_boilerplate_report" ->
      """WITH two AS (SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
        |             FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |p AS (SELECT doc_id, sha256(u) AS h
        |      FROM (SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS u
        |            FROM two)
        |      WHERE regexp_matches(u, '\S')),
        |occ AS (SELECT h, count(*) AS n FROM p GROUP BY 1)
        |SELECT p.doc_id, count(*) AS n_paras,
        | CAST(sum(CASE WHEN occ.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
        | sum(CASE WHEN occ.n > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM p JOIN occ USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q122_quantile_transform" ->
      (s"""WITH b AS (SELECT quantile_cont(l_extendedprice,
         |  [${(1 until 100).map(i => i.toDouble / 100).mkString(", ")}]) AS qs FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        | CAST(len(list_filter(b.qs, q -> l_extendedprice > q)) AS DOUBLE) / 100 AS qrank
        |FROM lineitem, b
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Exact-microsecond session boundaries: epoch_us integer arithmetic,
    // 4 h gap, running-sum session index — identical window shape.
    "q123_sessionize" ->
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 14400000000
        |       THEN 1 ELSE 0 END AS brk
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, event_id, us,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM b)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | min(event_id) AS first_event,
        | max(us) - min(us) AS duration_us
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // Identical temperature arithmetic: 6-dp decimal-summed group weights,
    // 12-dp keep rates, the q106 60-bit md5 uniform.
    "q124_temperature_resample" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT lang, n,
        |  CAST(round(power(CAST(n AS DOUBLE), 0.5), 6) AS DECIMAL(28,6)) AS w FROM n),
        |t AS (SELECT CAST(sum(w) AS DOUBLE) AS wsum, sum(n) AS ntot FROM w),
        |r AS (SELECT lang,
        |  round(least(1.0, CAST(ntot AS DOUBLE) * 0.5 / wsum
        |    * CAST(w AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS q FROM w, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE ((('0x' || substr(md5('tmp' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |        + 0.5) / 1152921504606846976.0) < q
        |ORDER BY doc_id""".stripMargin,

    // Identical blocked semantics: per-side distinct trigrams, df ≤ 50
    // stop-gram cap on BOTH sides, candidates from the gram equi-join,
    // Levenshtein ≤ 1 verify on candidates only.
    "q125_fuzzy_link" ->
      """WITH cust AS (SELECT c_custkey, c_name FROM customer),
        |noisy AS (SELECT c_custkey + 1000000 AS n_key,
        |  substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) ||
        |  substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2, 1000) AS n_name
        |  FROM customer),
        |lg AS (SELECT DISTINCT c_custkey AS idl, substr(c_name, i, 3) AS g
        |       FROM cust, UNNEST(generate_series(1, length(c_name) - 2)) AS u(i)),
        |lgf AS (SELECT idl, g FROM lg
        |        WHERE g IN (SELECT g FROM lg GROUP BY g HAVING count(*) <= 50)),
        |rg AS (SELECT DISTINCT n_key AS idr, substr(n_name, i, 3) AS g
        |       FROM noisy, UNNEST(generate_series(1, length(n_name) - 2)) AS u(i)),
        |rgf AS (SELECT idr, g FROM rg
        |        WHERE g IN (SELECT g FROM rg GROUP BY g HAVING count(*) <= 50)),
        |cand AS (SELECT DISTINCT idl, idr FROM lgf JOIN rgf USING (g))
        |SELECT c.idl AS c_custkey, c.idr AS n_key,
        | CAST(levenshtein(l.c_name, r.n_name) AS BIGINT) AS dist
        |FROM cand c JOIN cust l ON l.c_custkey = c.idl
        |            JOIN noisy r ON r.n_key = c.idr
        |WHERE levenshtein(l.c_name, r.n_name) <= 1
        |ORDER BY c_custkey, n_key""".stripMargin,

    // Identical group-representative split: md5 digest groups, min-id
    // representative, the q60 permille hash on the REPRESENTATIVE.
    "q126_leak_safe_split" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |d AS (SELECT doc_id, md5(text) AS dig FROM corpus),
        |r AS (SELECT dig, min(doc_id) AS rep FROM d GROUP BY 1)
        |SELECT d.doc_id,
        | CASE WHEN ('0x' || substr(md5('lk' || CAST(r.rep AS VARCHAR)),1,15))::BIGINT % 1000 < 200
        |      THEN 'test' ELSE 'train' END AS split
        |FROM d JOIN r USING (dig)
        |ORDER BY doc_id""".stripMargin,

    // The identical recurrence, 5 unrolled iterations (aggregates are
    // not allowed in a recursive CTE term): teleport stated as
    // (1 - 0.85) in DOUBLE so the IEEE subtraction matches the Spark
    // driver's, 12-dp re-quantization per iteration.
    "q127_pagerank" -> {
      def iter(i: Int): String =
        s"""p$i AS (SELECT n.v AS node,
           | round((1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           |   + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE), 12) AS rank
           | FROM nodes n LEFT JOIN (
           |   SELECT w.dst, sum(p.rank * w.w) AS s
           |   FROM p${i - 1} p JOIN w ON w.src = p.node GROUP BY 1) c
           | ON c.dst = n.v)""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k) % (SELECT n FROM nn) AS dst
         |      FROM documents, UNNEST([1, 2, 3]) AS t(k)),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         |w AS (SELECT e.src, e.dst, 1.0::DOUBLE / d AS w FROM e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
         |p0 AS (SELECT v AS node, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank FROM p5 ORDER BY node""".stripMargin
    },

    // Identical c-TF-IDF arithmetic: BIGINT counts, the scalar
    // avg-class-tokens in DOUBLE, ln damp, 6-dp score, token-asc ties.
    "q128_class_terms" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tfc AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |ft AS (SELECT token, count(*) AS f FROM tok GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS DOUBLE)
        |        / CAST((SELECT count(DISTINCT source) FROM documents) AS DOUBLE) AS avg
        |      FROM tok),
        |sc AS (SELECT tfc.source, tfc.token, tfc.tf,
        |  round(CAST(tf AS DOUBLE) * ln(1.0::DOUBLE + a.avg / CAST(f AS DOUBLE)), 6) AS score
        |  FROM tfc JOIN ft USING (token), a),
        |r AS (SELECT source, token, tf, score,
        |  row_number() OVER (PARTITION BY source ORDER BY score DESC, token) AS rn
        |  FROM sc)
        |SELECT source, token, tf, score, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 10 ORDER BY source, rn""".stripMargin,

    // The exploded formulation of the same entropy: one row per char,
    // DuckDB's entropy() aggregate (log2-based), 6-dp round.
    "q129_char_entropy" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |           FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |e AS (SELECT doc_id, round(entropy(ch), 6) AS char_entropy
        |      FROM c GROUP BY 1)
        |SELECT doc_id, char_entropy,
        | CAST(char_entropy < 3.0 AS INT) AS is_low
        |FROM e ORDER BY doc_id""".stripMargin,

    // Identical decay arithmetic: integer day diffs from the scalar max
    // date, 0.5^floor(days/7) exact dyadic weights, 6-dp sum.
    "q130_decayed_activity" ->
      """WITH m AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
        |d AS (SELECT user_id, value,
        |  date_diff('day', CAST(ts AS DATE), m.maxd) AS days FROM events, m)
        |SELECT user_id,
        | round(sum(value * power(0.5::DOUBLE, floor(days / 7))), 6) AS decayed_score,
        | count(*) AS n_events,
        | CAST(min(days) AS BIGINT) AS days_since_last
        |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin,

    // Identical pair extraction: whitespace words, adjacent 2-char
    // substrings, count desc / pair asc top-50.
    "q131_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT substr(w.w, i, 2) AS pair
        |      FROM w, UNNEST(generate_series(1, length(w.w) - 1)) AS u(i)
        |      WHERE length(w.w) >= 2),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1)
        |SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    // Identical model: lag pairs per user (us, event_id order), row-
    // normalized probabilities (exact BIGINT division), 6-dp avg NLL.
    "q132_sequence_anomaly" ->
      """WITH o AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |           FROM events),
        |p AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM o),
        |pp AS (SELECT user_id, prev, event_type FROM p WHERE prev IS NOT NULL),
        |m AS (SELECT prev, event_type, count(*) AS cnt FROM pp GROUP BY 1, 2),
        |mt AS (SELECT prev, event_type,
        |  CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY prev) AS DOUBLE) AS prob
        |  FROM m),
        |j AS (SELECT pp.user_id, mt.prob FROM pp JOIN mt USING (prev, event_type))
        |SELECT user_id, count(*) AS n_trans,
        | round(sum(-ln(prob)) / count(*), 6) AS avg_nll
        |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin,

    // Identical prefix-filter semantics: rarest-first (df asc, token asc)
    // order, integer prefix length |s| - (|s|*600+999)//1000 + 1,
    // integer final gate n*1000 >= 600*(union).
    "q133_jaccard_exact" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'xqzw ' || text AS text
        |  FROM documents WHERE doc_id % 4 = 0),
        |toks AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |         || ' ' || string_split(text, ' ')[i+2])) AS t
        |  FROM corpus WHERE len(string_split(text, ' ')) >= 3),
        |sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
        |f AS (SELECT t, count(*) AS df FROM toks GROUP BY 1),
        |pos AS (SELECT doc_id, t,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY df, t) AS pos
        |  FROM toks JOIN f USING (t)),
        |pref AS (SELECT p.doc_id, p.t FROM pos p JOIN sz USING (doc_id)
        |         WHERE p.pos <= sz - ((sz * 600 + 999) // 1000) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id),
        |i AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |      FROM cand c JOIN toks ta ON ta.doc_id = c.doc_a
        |                  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.t = ta.t
        |      GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        | i.n_inter / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) AS jaccard
        |FROM i JOIN sz za ON za.doc_id = i.doc_a
        |       JOIN sz zb ON zb.doc_id = i.doc_b
        |WHERE i.n_inter * 1000 >= 600 * (za.sz + zb.sz - i.n_inter)
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Identical rolling stats: BIGINT window sums (exact under any
    // windowed-sum algorithm), IEEE mean/variance from those integers,
    // variance clamped at 0, 6-dp z, MAD-style zero-variance handling.
    "q134_daily_spikes" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day, n,
        |  count(n) OVER w AS k, sum(n) OVER w AS sm, sum(n * n) OVER w AS ss
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
        |                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT event_type, day, n,
        |  CAST(sm AS DOUBLE) / 7 AS mean,
        |  sqrt(greatest((CAST(ss AS DOUBLE)
        |    - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / 7) / 6, 0.0)) AS std
        |  FROM s WHERE k = 7)
        |SELECT event_type, day, n,
        | CASE WHEN std > 0
        |      THEN round((CAST(n AS DOUBLE) - mean) / std, 6) + 0.0 END AS zscore,
        | CAST(((std > 0 AND round((CAST(n AS DOUBLE) - mean) / std, 6) > 2.0)
        |    OR (std = 0 AND CAST(n AS DOUBLE) > mean)) AS INT) AS is_spike
        |FROM f ORDER BY event_type, day""".stripMargin,

    // Identical OLS moments: BIGINT x/y sums, the same IEEE determinant
    // shapes, 6-dp slope/r², NULL on degenerate groups.
    "q135_trend_slopes" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        |               FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
        |xy AS (SELECT d.event_type,
        |  CAST(date_diff('day', f.d0, d.day) AS BIGINT) AS x, y
        |  FROM daily d JOIN f USING (event_type)),
        |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM xy GROUP BY 1),
        |mm AS (SELECT event_type, n,
        |  CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dxx,
        |  CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dyy,
        |  CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS dxy
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        | CASE WHEN dxx > 0 THEN round(dxy / dxx, 6) + 0.0 END AS slope,
        | CASE WHEN dxx > 0 AND dyy > 0 THEN round(dxy * dxy / (dxx * dyy), 6) END AS r2
        |FROM mm ORDER BY event_type""".stripMargin,

    // Identical digest profile: md5 groups, BIGINT counts, exact division.
    "q136_dup_profile" ->
      """WITH corpus AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, source, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |g AS (SELECT source, md5(text) AS dig, count(*) AS n
        |      FROM corpus GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        | count(*) AS n_unique,
        | CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_frac
        |FROM g GROUP BY 1 ORDER BY source""".stripMargin,

    // Identical overlap matrix: distinct (stratum, digest), digest-keyed
    // self-join, unordered pairs once.
    "q137_source_overlap" ->
      """WITH corpus AS (SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 3 = 0),
        |sd AS (SELECT DISTINCT source AS s, md5(text) AS dig FROM corpus)
        |SELECT a.s AS stratum_a, b.s AS stratum_b, count(*) AS n_shared
        |FROM sd a JOIN sd b ON a.dig = b.dig AND a.s < b.s
        |GROUP BY 1, 2 ORDER BY stratum_a, stratum_b""".stripMargin,

    // Identical trigram novelty: distinct per-doc shingles, corpus df,
    // exact BIGINT division.
    "q138_novelty" ->
      """WITH sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |         || ' ' || string_split(text, ' ')[i+2])) AS shingle
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |f AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        | CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS novelty
        |FROM sh JOIN f USING (shingle)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Identical centroid-trick dispersion: ordered-fold row norms
    // quantized to DECIMAL(28,12) (exact mean), 6-dp centroids, 6-dp out.
    "q139_label_dispersion" ->
      """WITH cen AS (SELECT label, j AS dim,
        |  round(avg(CAST(embedding[j] AS DOUBLE)), 6) AS c, count(*) AS n
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g
        |  GROUP BY 1, 2),
        |cn AS (SELECT label, sum(c * c) AS c2, max(n) AS n_vecs FROM cen GROUP BY 1),
        |nr AS (SELECT label,
        |  CAST(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |    (a, b) -> a + b) AS DECIMAL(28,12)) AS n2
        |  FROM embeddings),
        |av AS (SELECT label, CAST(sum(n2) AS DOUBLE) / count(*) AS avg2
        |       FROM nr GROUP BY 1)
        |SELECT av.label, cn.n_vecs, round(av.avg2 - cn.c2, 6) + 0.0 AS dispersion
        |FROM av JOIN cn USING (label)
        |ORDER BY label""".stripMargin,

    // Identical digest histogram over the same synthetic family sizes.
    "q140_dup_histogram" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 10 = 0),
        |fam AS (SELECT md5(text) AS dig, count(*) AS family_size
        |        FROM corpus GROUP BY 1)
        |SELECT family_size, count(*) AS n_families
        |FROM fam GROUP BY 1 ORDER BY family_size""".stripMargin,

    // Closed-form spectral truth: the detected dominant frequency must
    // equal each wave's own fundamental, stated directly.
    "q141_audio_dominant" ->
      """SELECT doc_id, CAST(5040 AS BIGINT) AS n_frames,
        | 8000.0::DOUBLE / (2 * (5 + doc_id % 6)) AS dominant_hz
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Identical RRF: row_number lists cut at 50 per source (score desc,
    // doc_id asc — the bounded-heap's pinned tie order), full outer join,
    // fixed-order two-term sum, 6-dp.
    "q142_rank_fusion" ->
      """WITH d AS (SELECT source, doc_id, n_chars::DOUBLE AS len_score,
        |  len(string_split(text, ' '))::DOUBLE AS tok_score FROM documents),
        |r1 AS (SELECT source, doc_id, rank_1 FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source ORDER BY len_score DESC, doc_id) AS rank_1
        |  FROM d) WHERE rank_1 <= 50),
        |r2 AS (SELECT source, doc_id, rank_2 FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source ORDER BY tok_score DESC, doc_id) AS rank_2
        |  FROM d) WHERE rank_2 <= 50)
        |SELECT source, doc_id, rank_1, rank_2,
        | round(CASE WHEN rank_1 IS NOT NULL
        |        THEN 1.0::DOUBLE / (60.0::DOUBLE + rank_1) ELSE 0.0::DOUBLE END
        |     + CASE WHEN rank_2 IS NOT NULL
        |        THEN 1.0::DOUBLE / (60.0::DOUBLE + rank_2) ELSE 0.0::DOUBLE END, 6)
        |   AS rrf
        |FROM r1 FULL JOIN r2 USING (source, doc_id)
        |ORDER BY source, doc_id""".stripMargin,

    // Identical degree-oriented triangle enumeration over the same
    // rare-trigram edge list: wedges from the (deg, id)-oriented edges,
    // closed by the canonical edge, credited to all three vertices.
    "q143_triangles" ->
      """WITH sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |         || ' ' || string_split(text, ' ')[i+2])) AS shingle
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |f AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |      WHERE df BETWEEN 2 AND 4),
        |r AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN f USING (shingle)),
        |e AS (SELECT DISTINCT a.doc_id AS lo, b.doc_id AS hi
        |      FROM r a JOIN r b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |deg AS (SELECT node, count(*) AS degree FROM
        |  (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e) GROUP BY 1),
        |o AS (SELECT
        |  CASE WHEN dl.degree < dh.degree
        |        OR (dl.degree = dh.degree AND e.lo < e.hi) THEN e.lo ELSE e.hi END AS u,
        |  CASE WHEN dl.degree < dh.degree
        |        OR (dl.degree = dh.degree AND e.lo < e.hi) THEN e.hi ELSE e.lo END AS v
        |  FROM e JOIN deg dl ON dl.node = e.lo JOIN deg dh ON dh.node = e.hi),
        |wg AS (SELECT e1.u, e1.v AS v, e2.v AS w
        |       FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v),
        |tri AS (SELECT wg.u, wg.v, wg.w FROM wg
        |        JOIN e ON e.lo = wg.v AND e.hi = wg.w),
        |pn AS (SELECT node, count(*) AS triangles FROM
        |  (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
        |   UNION ALL SELECT w FROM tri) GROUP BY 1)
        |SELECT deg.node, deg.degree,
        | CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
        | CASE WHEN deg.degree >= 2
        |  THEN round(2.0::DOUBLE * coalesce(pn.triangles, 0) / (deg.degree * (deg.degree - 1)), 6)
        |  ELSE 0.0::DOUBLE END AS coeff
        |FROM deg LEFT JOIN pn USING (node) ORDER BY node""".stripMargin,

    // HITS unrolled 5 iterations: every sum (link sums AND the global
    // mass) aggregates DECIMAL(38,12)-quantized scores — exact and
    // order-independent — then one decimal→double cast feeds the
    // division and the score re-quantizes to 12 dp, exactly the Spark
    // recurrence. Multiply-referenced CTEs are MATERIALIZED — DuckDB
    // inlines by default, and the iteration chain's repeated references
    // would otherwise expand exponentially (the same blow-up the Spark
    // side avoids by re-rooting each half-step as a LogicalRDD).
    "q144_hits" -> {
      def iter(i: Int): String =
        s"""ar$i AS MATERIALIZED (SELECT n.v AS node, coalesce(c.s, 0.0::DOUBLE) AS auth
           | FROM nodes n LEFT JOIN (
           |   SELECT e.dst, CAST(sum(CAST(p.hub AS DECIMAL(38,12))) AS DOUBLE) AS s
           |   FROM h${i - 1} p JOIN e ON e.src = p.node GROUP BY 1) c ON c.dst = n.v),
           |am$i AS MATERIALIZED (SELECT CAST(sum(CAST(auth AS DECIMAL(38,12))) AS DOUBLE) AS m FROM ar$i),
           |a$i AS MATERIALIZED (SELECT node, round(auth / (SELECT m FROM am$i), 12) AS auth FROM ar$i),
           |hr$i AS MATERIALIZED (SELECT n.v AS node, coalesce(c.s, 0.0::DOUBLE) AS hub
           | FROM nodes n LEFT JOIN (
           |   SELECT e.src, CAST(sum(CAST(p.auth AS DECIMAL(38,12))) AS DOUBLE) AS s
           |   FROM a$i p JOIN e ON e.dst = p.node GROUP BY 1) c ON c.src = n.v),
           |hm$i AS MATERIALIZED (SELECT CAST(sum(CAST(hub AS DECIMAL(38,12))) AS DOUBLE) AS m FROM hr$i),
           |h$i AS MATERIALIZED (SELECT node, round(hub / (SELECT m FROM hm$i), 12) AS hub FROM hr$i)""".stripMargin
      s"""WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
         |e AS MATERIALIZED (SELECT DISTINCT doc_id AS src, (doc_id * 7 + k) % (SELECT n FROM nn) AS dst
         |      FROM documents, UNNEST([1, 2, 3]) AS t(k)),
         |nodes AS MATERIALIZED (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
         |h0 AS MATERIALIZED (SELECT v AS node,
         |  round(1.0::DOUBLE / (SELECT count(*) FROM nodes), 12) AS hub FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT h5.node, h5.hub, a5.auth FROM h5 JOIN a5 USING (node)
         |ORDER BY node""".stripMargin
    },

    // Identical top-500 vocabulary (freq desc, token asc) and
    // multiplicity-weighted OOV rollup, exact BIGINT counts.
    "q145_oov_rate" ->
      """WITH tk AS (SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL) WHERE token <> ''),
        |f AS (SELECT token, count(*) AS f FROM tk GROUP BY 1),
        |v AS (SELECT token FROM f ORDER BY f DESC, token LIMIT 500)
        |SELECT tk.doc_id, count(*) AS n_tokens,
        | CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |   / count(*)::DOUBLE, 6) AS oov_rate
        |FROM tk LEFT JOIN v USING (token)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Identical vowel-run readability arithmetic over the exploded token
    // stream: BIGINT counts, the three-term score in fixed double order.
    "q146_readability" ->
      """WITH tk AS (SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL) WHERE token <> ''),
        |s AS (SELECT doc_id, count(*) AS n_words,
        |  greatest(1::BIGINT, CAST(sum(CASE WHEN token LIKE '%.' THEN 1 ELSE 0 END) AS BIGINT))
        |    AS n_sentences,
        |  CAST(sum(greatest(1::BIGINT, len(regexp_extract_all(token, '[aeiou]+'))::BIGINT))
        |    AS BIGINT) AS n_syllables
        |  FROM tk GROUP BY 1)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | round(206.835::DOUBLE
        |   - 1.015::DOUBLE * (n_words::DOUBLE / n_sentences::DOUBLE)
        |   - 84.6::DOUBLE * (n_syllables::DOUBLE / n_words::DOUBLE), 6) + 0.0 AS flesch
        |FROM s ORDER BY doc_id""".stripMargin,

    // Identical χ² arithmetic: every factor cast to double first, one
    // pinned multiplication order, 6-dp; (chi2 desc, token asc) rank.
    "q148_chi2_terms" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |a AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |f AS (SELECT token, count(*) AS f FROM tok GROUP BY 1),
        |ct AS (SELECT source, count(*) AS ct FROM tok GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM tok),
        |sc AS (SELECT a.source, a.token, CAST(a.tf AS BIGINT) AS tf,
        |  CASE WHEN f.f < nn.n AND ct.ct < nn.n THEN
        |   round(nn.n::DOUBLE *
        |     (((a.tf::DOUBLE * (nn.n::DOUBLE - f.f::DOUBLE - ct.ct::DOUBLE + a.tf::DOUBLE))
        |       - ((f.f::DOUBLE - a.tf::DOUBLE) * (ct.ct::DOUBLE - a.tf::DOUBLE)))
        |      * ((a.tf::DOUBLE * (nn.n::DOUBLE - f.f::DOUBLE - ct.ct::DOUBLE + a.tf::DOUBLE))
        |       - ((f.f::DOUBLE - a.tf::DOUBLE) * (ct.ct::DOUBLE - a.tf::DOUBLE))))
        |    / (f.f::DOUBLE * (nn.n::DOUBLE - f.f::DOUBLE) * ct.ct::DOUBLE
        |       * (nn.n::DOUBLE - ct.ct::DOUBLE)), 6)
        |  ELSE 0.0::DOUBLE END AS chi2
        |  FROM a JOIN f USING (token) JOIN ct USING (source), nn),
        |r AS (SELECT source, token, tf, chi2,
        |  row_number() OVER (PARTITION BY source ORDER BY chi2 DESC, token) AS rn
        |  FROM sc)
        |SELECT source, token, tf, chi2, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 10 ORDER BY source, rn""".stripMargin,

    // Identical moment-sum Pearson/covariance shapes, 6-dp, NULL on
    // degenerate groups.
    "q149_corr_report" ->
      """WITH d AS (SELECT source, n_chars AS x,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS y FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |m AS (SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM d GROUP BY 1),
        |e AS (SELECT source, CAST(n AS BIGINT) AS n,
        |  n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS dxx,
        |  n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS dyy,
        |  n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS dxy
        |  FROM m)
        |SELECT source, n,
        | CASE WHEN n >= 2 AND dxx > 0 AND dyy > 0
        |  THEN round(dxy / (sqrt(dxx) * sqrt(dyy)), 6) + 0.0 END AS r,
        | CASE WHEN n >= 2
        |  THEN round(dxy / (n::DOUBLE * (n::DOUBLE - 1.0)), 6) + 0.0 END AS cov
        |FROM e ORDER BY source""".stripMargin,

    // Identical confusion-matrix κ: q18's prediction CASE chain, exact
    // BIGINT matrix, DECIMAL(38,0) chance term, κ from unrounded rates.
    "q150_lang_kappa" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','and','of'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','los','las','que'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','la','les','et'))) AS BIGINT) AS score_fr,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('的','是','了','在'))) AS BIGINT) AS score_zh
        | FROM documents),
        |p AS (SELECT doc_id, CASE
        |  WHEN score_en > 0 AND score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
        |  WHEN score_de > 0 AND score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |  WHEN score_es > 0 AND score_es >= score_en AND score_es >= score_de AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |  WHEN score_fr > 0 AND score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
        |  WHEN score_zh > 0 AND score_zh >= score_en AND score_zh >= score_de AND score_zh >= score_es AND score_zh >= score_fr THEN 'zh'
        |  ELSE 'und' END AS predicted_lang FROM s),
        |j AS (SELECT d.lang AS a, p.predicted_lang AS b
        |      FROM documents d JOIN p USING (doc_id)),
        |mx AS (SELECT a, b, count(*) AS k FROM j GROUP BY 1, 2),
        |m1 AS (SELECT a, sum(k) AS m1 FROM mx GROUP BY 1),
        |m2 AS (SELECT b, sum(k) AS m2 FROM mx GROUP BY 1),
        |t AS (SELECT CAST(sum(k) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN a = b THEN k ELSE 0 END) AS BIGINT) AS n_agree FROM mx),
        |c AS (SELECT CAST(sum(m1::DECIMAL(19,0) * m2::DECIMAL(19,0)) AS DECIMAL(38,0)) AS sp
        |      FROM m1 JOIN m2 ON m1.a = m2.b)
        |SELECT n, n_agree,
        | round(n_agree::DOUBLE / n::DOUBLE, 6) AS po,
        | round(coalesce(sp::DOUBLE, 0.0) / (n::DOUBLE * n::DOUBLE), 6) AS pe,
        | CASE WHEN coalesce(sp::DOUBLE, 0.0) / (n::DOUBLE * n::DOUBLE) < 1.0
        |  THEN round((n_agree::DOUBLE / n::DOUBLE
        |    - coalesce(sp::DOUBLE, 0.0) / (n::DOUBLE * n::DOUBLE))
        |   / (1.0 - coalesce(sp::DOUBLE, 0.0) / (n::DOUBLE * n::DOUBLE)), 6) + 0.0
        |  END AS kappa
        |FROM t, c ORDER BY n""".stripMargin,

    // Identical keep-rate shape (budgetFrac·share·ntot/n, 12-dp, clipped)
    // and the shared md5 60-bit row-fate uniform; unlisted sources drop.
    "q151_target_mix" ->
      """WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT sum(n) AS ntot FROM n),
        |r AS (SELECT source,
        |  round(least(1.0, 0.5 * (CASE source WHEN 'src0' THEN 0.40
        |     WHEN 'src1' THEN 0.35 WHEN 'src2' THEN 0.05 END)
        |    * CAST(ntot AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS q
        |  FROM n, t WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT d.doc_id, d.source, d.lang FROM documents d JOIN r USING (source)
        |WHERE ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        + 0.5) / 1152921504606846976.0) < q
        |ORDER BY doc_id""".stripMargin,

    // Identical quantile_cont thresholds and DECIMAL(28,12) trimmed mean.
    "q152_trimmed_stats" ->
      """WITH t AS (SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.05) AS lo,
        |  quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1),
        |k AS (SELECT l.l_returnflag, l.l_extendedprice
        |      FROM lineitem l JOIN t USING (l_returnflag)
        |      WHERE l.l_extendedprice >= t.lo AND l.l_extendedprice <= t.hi)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,12))) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS trimmed_mean,
        | min(l_extendedprice) AS trimmed_min,
        | max(l_extendedprice) AS trimmed_max
        |FROM k GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    // Both ANN arms restated: the q26 exact top-5 and the q27 bucket
    // pipeline ranked the same way; recall = overlap/5.
    "q153_ann_recall" -> {
      s"""WITH q AS (SELECT vec_id AS query_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |c AS (SELECT vec_id AS neighbor_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS cos
         |      FROM c, q WHERE neighbor_id <> query_id),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM s)
         |  WHERE rn <= 5),
         |cb AS (SELECT vec_id, ${lshBucketSql("embedding")} AS bucket FROM embeddings),
         |qb AS (SELECT q.query_id, q.qv, cb.bucket FROM q JOIN cb ON cb.vec_id = q.query_id),
         |nb AS (SELECT c.neighbor_id, c.cv, cb.bucket FROM c JOIN cb ON cb.vec_id = c.neighbor_id),
         |ls AS (SELECT qb.query_id, nb.neighbor_id,
         |  list_cosine_similarity(nb.cv, qb.qv) AS cos
         |  FROM nb JOIN qb ON nb.bucket = qb.bucket AND nb.neighbor_id <> qb.query_id),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM ls)
         |  WHERE rn <= 5)
         |SELECT bf.query_id,
         | CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | round(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |   / 5.0, 6) AS recall
         |FROM bf LEFT JOIN ap USING (query_id, neighbor_id)
         |GROUP BY 1 ORDER BY query_id""".stripMargin
    },

    // q127's unrolled recurrence with the teleport term swapped for the
    // seed indicator: (1−d)·e(v) + d·Σ, e(v) = 1/|S| on doc_id%100=0.
    "q154_personalized_pagerank" -> {
      def iter(i: Int): String =
        s"""p$i AS (SELECT n.node,
           | round((1::DOUBLE - 0.85::DOUBLE) * n.e
           |   + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE), 12) AS rank
           | FROM base n LEFT JOIN (
           |   SELECT w.dst, sum(p.rank * w.w) AS s
           |   FROM p${i - 1} p JOIN w ON w.src = p.node GROUP BY 1) c
           | ON c.dst = n.node)""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |ns AS (SELECT count(*) AS n FROM documents WHERE doc_id % 100 = 0),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k) % (SELECT n FROM nn) AS dst
         |      FROM documents, UNNEST([1, 2, 3]) AS t(k)),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         |w AS (SELECT e.src, e.dst, 1.0::DOUBLE / d AS w FROM e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
         |base AS (SELECT v AS node,
         |  CASE WHEN v % 100 = 0 THEN 1.0::DOUBLE / (SELECT n FROM ns)
         |   ELSE 0.0::DOUBLE END AS e FROM nodes),
         |p0 AS (SELECT node, round(e, 12) AS rank FROM base),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank FROM p5 ORDER BY node""".stripMargin
    },

    // Closed-form GIF truth: each sampled frame's decoded mean luminance
    // must equal its own generator gray / 255.
    "q155_gif_frames" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        | CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        | round(CAST((10 + 7 * (doc_id % 20) + 13 * f) % 256 AS DOUBLE) / 255.0, 6)
        |   AS mean_lum
        |FROM documents, UNNEST(range(0, 2 + doc_id % 4, 2)) AS t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // The q58 duplicate-graph chain over the copy-seeded corpus, with the
    // per-doc status/winner projection instead of the survivor filter.
    "q156_dedup_audit" ->
      (s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 5 = 0),
         |sig AS (${minhashSigSqlOver("corpus")}), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (${shingleSqlOver("corpus")}),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM corpus GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM corpus d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node)
        |SELECT d.doc_id,
        | CASE WHEN d.doc_id IN (SELECT doc_b FROM exacte) THEN 'dropped_exact'
        |      WHEN c.comp IS NOT NULL AND c.comp <> d.doc_id THEN 'dropped_near'
        |      ELSE 'kept' END AS status,
        | coalesce(c.comp, d.doc_id) AS winner_id
        |FROM corpus d LEFT JOIN comp c ON c.node = d.doc_id
        |ORDER BY doc_id""".stripMargin),

    // The q157 fixture's pair set in closed form: ONLY the planted
    // one-block-flipped copies pair up (SplitMix64 patterns are a
    // bijection of doc_id — unique — and unrelated well-mixed 64-bit
    // patterns sit ~32 bits apart in expectation, never within the
    // Hamming-3 gate), and each flip lands at aHash distance EXACTLY 1
    // (two-level blocks sit far from the grid mean; see
    // Multimodal.syntheticBlockImage). DuckDB cannot decode PNGs — it
    // does not need to: the decode→hash→join pipeline must REPRODUCE
    // this closed form from real pixels, which is a stronger check than
    // re-stating the hash arithmetic.
    "q157_image_near_dup" ->
      """SELECT doc_id AS doc_a, doc_id + 300000 AS doc_b,
        | CAST(1 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q158's clusters in closed form (the q157 argument, composed
    // through connected components): each planted copy pairs with its
    // original and nothing else, so originals are all kept and each
    // copy is dropped_near onto its source.
    "q158_image_dedup" ->
      """SELECT doc_id, 'kept' AS status, doc_id AS winner_id
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 400000, 'dropped_near', doc_id
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin,

    "q159_column_profile" ->
      """SELECT * FROM (
        | SELECT 'doc_id' AS "column", count(*) AS n_rows,
        |  count(*) - count(doc_id) AS n_null,
        |  round((count(*) - count(doc_id)) / CAST(count(*) AS DOUBLE), 6) AS null_frac,
        |  count(DISTINCT doc_id) AS n_distinct,
        |  min(CAST(doc_id AS VARCHAR)) AS min_value,
        |  max(CAST(doc_id AS VARCHAR)) AS max_value FROM documents
        | UNION ALL
        | SELECT 'lang', count(*), count(*) - count(lang),
        |  round((count(*) - count(lang)) / CAST(count(*) AS DOUBLE), 6),
        |  count(DISTINCT lang), min(lang), max(lang) FROM documents
        | UNION ALL
        | SELECT 'source', count(*), count(*) - count(source),
        |  round((count(*) - count(source)) / CAST(count(*) AS DOUBLE), 6),
        |  count(DISTINCT source), min(source), max(source) FROM documents
        |) ORDER BY "column"""".stripMargin,

    "q160_rollup_report" ->
      """SELECT
        | CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
        | CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
        | count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents
        |GROUP BY ROLLUP (source, lang)
        |ORDER BY source, lang""".stripMargin,

    "q161_lang_pivot" ->
      """SELECT source,
        | count(*) FILTER (WHERE lang = 'de') AS de,
        | count(*) FILTER (WHERE lang = 'en') AS en,
        | count(*) FILTER (WHERE lang = 'es') AS es,
        | count(*) FILTER (WHERE lang = 'fr') AS fr,
        | count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Same raw-moment formulation, same DECIMAL(38,12) order-independent
    // sums, same one-shot double arithmetic — DuckDB's 1-based list
    // indexing offset by the range() zero base. The trailing `+ 0.0`
    // matches the Spark arm's zround: DuckDB's round keeps IEEE -0.0 for
    // tiny-negative cells, Spark's BigDecimal round has no signed zero —
    // both arms canonicalize to +0.0 (the round-10 q162 hash defect).
    "q162_embedding_cov" ->
      """SELECT r1.i AS i, r2.j AS j,
        | round((CAST(sum(CAST(CAST(embedding[CAST(r1.i AS INT) + 1] AS DOUBLE)
        |                   * CAST(embedding[CAST(r2.j AS INT) + 1] AS DOUBLE)
        |                   AS DECIMAL(38,12))) AS DOUBLE)
        |        - CAST(sum(CAST(CAST(embedding[CAST(r1.i AS INT) + 1] AS DOUBLE)
        |                        AS DECIMAL(38,12))) AS DOUBLE)
        |          * CAST(sum(CAST(CAST(embedding[CAST(r2.j AS INT) + 1] AS DOUBLE)
        |                          AS DECIMAL(38,12))) AS DOUBLE)
        |          / count(*)) / count(*),
        |       6) + 0.0 AS cov
        |FROM embeddings, range(64) r1(i), range(64) r2(j)
        |GROUP BY r1.i, r2.j
        |ORDER BY i, j""".stripMargin,

    "q163_grouping_sets" -> groupingSetsSql,
    "q164_rank_distribution" -> rankDistSql,
    "q165_set_ops" -> setOpsSql,

    "q166_json_extract" ->
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
        |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,

    "q167_filter_report" ->
      """WITH base AS (
        | SELECT n_chars BETWEEN 200 AND 20000 AS r1,
        |  len(string_split(text, ' ')) >= 30 AS r2,
        |  lang IN ('en', 'de', 'es', 'fr') AS r3,
        |  len(list_distinct(string_split(text, ' ')))
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.3 AS r4
        | FROM documents)
        |SELECT rule, n_fail,
        | round(n_fail / CAST(n AS DOUBLE), 6) AS fail_frac
        |FROM (
        | SELECT 'len_ok' AS rule,
        |  count(*) FILTER (WHERE NOT coalesce(r1, false)) AS n_fail,
        |  count(*) AS n FROM base
        | UNION ALL SELECT 'tokens_ok',
        |  count(*) FILTER (WHERE NOT coalesce(r2, false)), count(*) FROM base
        | UNION ALL SELECT 'lang_ok',
        |  count(*) FILTER (WHERE NOT coalesce(r3, false)), count(*) FROM base
        | UNION ALL SELECT 'unique_ok',
        |  count(*) FILTER (WHERE NOT coalesce(r4, false)), count(*) FROM base
        | UNION ALL SELECT '(any)',
        |  count(*) FILTER (WHERE NOT (coalesce(r1, false) AND coalesce(r2, false)
        |                          AND coalesce(r3, false) AND coalesce(r4, false))),
        |  count(*) FROM base)
        |ORDER BY rule""".stripMargin,

    // Same per-group grid (quantile_cont ≡ Spark's exact percentile),
    // same strictly-greater fold, stated with DuckDB list lambdas.
    "q168_group_qrank" ->
      """WITH b AS (
        | SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qs
        | FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        | len(list_filter(b.qs, q -> d.n_chars > q)) / 4.0 AS qrank
        |FROM documents d JOIN b USING (lang)
        |ORDER BY doc_id""".stripMargin,

    // DuckDB has no width_bucket — its exact arithmetic is restated
    // (floor((v − lo) / ((hi − lo)/n)) + 1, with the two out-of-range
    // sentinels), same doubles on both engines.
    "q169_heatmap" ->
      """SELECT
        | CASE WHEN value < 0.0 THEN 0 WHEN value >= 100.0 THEN 11
        |  ELSE CAST(floor((value - 0.0) / ((100.0 - 0.0) / 10)) AS BIGINT) + 1
        | END AS vx,
        | CAST(floor((CAST(user_id % 1000 AS DOUBLE) - 0.0)
        |            / ((1000.0 - 0.0) / 10)) AS BIGINT) + 1 AS ux,
        | count(*) AS n
        |FROM events GROUP BY vx, ux ORDER BY vx, ux""".stripMargin,

    // Spark dayofweek is 1-based Sunday=1; DuckDB's is 0-based Sunday=0.
    "q170_time_matrix" ->
      """SELECT dayofweek(ts) + 1 AS dow, extract(hour FROM ts) AS hh,
        | count(*) AS n
        |FROM events GROUP BY dow, hh ORDER BY dow, hh""".stripMargin,

    // The q58 duplicate-graph chain, then the q126 permille hash on the
    // CLUSTER representative (coalesce(component, doc_id)) instead of
    // the exact-digest group representative.
    "q171_cluster_split" ->
      (s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node)
        |SELECT d.doc_id,
        | CASE WHEN ('0x' || substr(md5('cs' || CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)),1,15))::BIGINT % 1000 < 200
        |      THEN 'test' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |ORDER BY doc_id""".stripMargin),

    // The q58 candidate/intersect chain at floor 0.05, then the
    // integer-exact band assignment and a bins-sized cumulative window.
    "q172_threshold_sweep" ->
      (s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |pairs AS (
         | SELECT i.n_inter, za.szz AS sz_a, zb.szz AS sz_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.05),
         |b AS (
         | SELECT CAST(least((20 * n_inter) // (sz_a + sz_b - n_inter), 19) AS INT) AS bin,
         |        count(*) AS n_pairs
         | FROM pairs GROUP BY 1)
        |SELECT bin, round(CAST(bin AS DOUBLE) / 20, 4) AS bin_lo, n_pairs,
        | CAST(sum(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pairs
        |FROM b ORDER BY bin""".stripMargin),

    // The same RANGE-frame running counts; the maximized quantity is the
    // integer |ct*n_rest - (ca-ct)*n_target|, divided once at the end.
    "q173_ks_drift" ->
      """WITH dd AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT DISTINCT lang AS grp FROM dd),
        |n AS (SELECT lang, count(*) AS nt FROM dd GROUP BY 1),
        |tot AS (SELECT count(*) AS nn FROM dd),
        |c AS (
        | SELECT g.grp,
        |  sum(CASE WHEN d.lang = g.grp THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY g.grp ORDER BY d.n_chars
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
        |  count(*)
        |    OVER (PARTITION BY g.grp ORDER BY d.n_chars
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
        | FROM dd d CROSS JOIN g)
        |SELECT c.grp AS lang,
        | CAST(n.nt AS BIGINT) AS n_target,
        | CAST(tot.nn - n.nt AS BIGINT) AS n_rest,
        | CAST(max(abs(ct * (tot.nn - n.nt) - (ca - ct) * n.nt)) AS DOUBLE)
        |   / (n.nt * (tot.nn - n.nt)) AS ks
        |FROM c JOIN n ON n.lang = c.grp CROSS JOIN tot
        |GROUP BY c.grp, n.nt, tot.nn
        |ORDER BY lang""".stripMargin,

    // The q58 candidate/intersect chain at 0.3, sources joined on both
    // pair sides, least/greatest canonical cell order.
    "q174_source_overlap" ->
      (s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.3)
        |SELECT least(da.source, db.source) AS source_a,
        | greatest(da.source, db.source) AS source_b,
        | count(*) AS n_pairs
        |FROM near p
        |JOIN documents da ON da.doc_id = p.doc_a
        |JOIN documents db ON db.doc_id = p.doc_b
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),

    // The identical rank form: row_number over (value, id), integer
    // moment sums (HUGEINT in DuckDB), one terminal double division.
    "q175_gini" ->
      """WITH r AS (
        | SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i
        | FROM documents)
        |SELECT source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS total,
        | CASE WHEN sum(n_chars) = 0 THEN NULL
        |      ELSE CAST(2 * sum(i * n_chars) - (count(*) + 1) * sum(n_chars) AS DOUBLE)
        |           / CAST(count(*) * sum(n_chars) AS DOUBLE) END AS gini
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // The identical midrank table from per-distinct-value counts:
    // doubled midrank 2*cum_below + cnt + 1 stays integer; U2 and the
    // terminal division restated verbatim.
    "q176_rank_biserial" ->
      """WITH dd AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
        |pv AS (SELECT n_chars AS v, count(*) AS cnt FROM dd GROUP BY 1),
        |rk AS (SELECT v,
        |  2 * coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS dblmid
        | FROM pv),
        |tot AS (SELECT count(*) AS nn FROM dd)
        |SELECT d.lang, count(*) AS n_target,
        | CAST(tot.nn - count(*) AS BIGINT) AS n_rest,
        | CAST(sum(r.dblmid) - count(*) * (count(*) + 1) AS DOUBLE)
        |   / CAST(count(*) * (tot.nn - count(*)) AS DOUBLE) - 1.0 AS rank_biserial
        |FROM dd d JOIN rk r ON r.v = d.n_chars CROSS JOIN tot
        |GROUP BY d.lang, tot.nn ORDER BY lang""".stripMargin,

    // Identical digit extraction (floor → BIGINT → string → first char)
    // and the same rounded expectation formula.
    "q177_benford" ->
      """WITH pos AS (
        | SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        | FROM lineitem WHERE l_extendedprice >= 1),
        |tot AS (SELECT count(*) AS nn FROM pos)
        |SELECT digit, count(*) AS n,
        | CAST(count(*) AS DOUBLE) / tot.nn AS share,
        | round(log10(1.0 + 1.0 / digit), 6) AS expected,
        | round(CAST(count(*) AS DOUBLE) / tot.nn - round(log10(1.0 + 1.0 / digit), 6), 6) + 0.0 AS deviation
        |FROM pos CROSS JOIN tot
        |GROUP BY digit, tot.nn ORDER BY digit""".stripMargin,

    // Identical two-level aggregation; orphan sentinel always present.
    "q178_fanout_audit" ->
      """WITH perkey AS (SELECT l_orderkey AS kk, count(*) AS c FROM lineitem GROUP BY 1),
        |fan AS (
        | SELECT coalesce(p.c, 0) AS k, count(*) AS n_parents
        | FROM orders o LEFT JOIN perkey p ON p.kk = o.o_orderkey
        | GROUP BY 1),
        |orph AS (
        | -- anti-join form, NOT `NOT IN`: a NULL key row must count as an
        | -- orphan (Spark's left_anti semantics), and a NULL parent key
        | -- must not poison the whole predicate
        | SELECT CAST(-1 AS BIGINT) AS k,
        |  coalesce(sum(p.c), 0) AS n_parents
        | FROM perkey p LEFT JOIN orders o ON o.o_orderkey = p.kk
        | WHERE o.o_orderkey IS NULL)
        |SELECT k, CAST(n_parents AS BIGINT) AS n_parents FROM fan
        |UNION ALL SELECT k, CAST(n_parents AS BIGINT) FROM orph
        |ORDER BY k""".stripMargin,

    // The q58 duplicate-graph chain, then component-size counts; the
    // singleton row is total docs minus clustered nodes.
    "q179_cluster_sizes" ->
      (s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         |csize AS (SELECT comp, count(*) AS sz FROM comp GROUP BY 1),
         |hist AS (SELECT sz, count(*) AS n_clusters FROM csize GROUP BY 1),
         |singles AS (
         | SELECT CAST(1 AS BIGINT) AS sz,
         |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_clusters)
        |SELECT sz, CAST(n_clusters AS BIGINT) AS n_clusters FROM hist
        |UNION ALL SELECT sz, CAST(n_clusters AS BIGINT) FROM singles
        |ORDER BY sz""".stripMargin),

    // Identical (ts, event_id) ordering; string_agg with ORDER BY rn is
    // the array_sort twin; the (n_users DESC, path) order is total so
    // LIMIT 50 cuts deterministically.
    "q180_top_paths" ->
      """WITH e AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events),
        |p AS (
        | SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        | FROM e WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p
        |GROUP BY path ORDER BY n_users DESC, path LIMIT 50""".stripMargin,

    // The identical decimal moment sums (Σx DECIMAL(38,0), Σx² from a
    // 19,0×19,0 product), rest by exact decimal subtraction from grand
    // totals, then the same fixed-shape double expressions staged
    // through CTEs so both engines evaluate t and the Welch df verbatim.
    "q181_welch_ttest" ->
      """WITH g AS (
        | SELECT lang, count(*) AS nt,
        |  sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
        |  sum(CAST(CAST(n_chars AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx
        | FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(nt) AS nn, sum(sx) AS tsx, sum(sxx) AS tsxx FROM g),
        |w AS (
        | SELECT g.lang, g.nt, tot.nn - g.nt AS nr,
        |  CAST(g.nt AS DOUBLE) AS ntd, CAST(tot.nn - g.nt AS DOUBLE) AS nrd,
        |  CAST(g.sx AS DOUBLE) AS sxd, CAST(g.sxx AS DOUBLE) AS sxxd,
        |  CAST(tot.tsx - g.sx AS DOUBLE) AS rsxd,
        |  CAST(tot.tsxx - g.sxx AS DOUBLE) AS rsxxd
        | FROM g CROSS JOIN tot),
        |v AS (
        | SELECT lang, nt, nr, ntd, nrd,
        |  sxd / ntd AS mt, rsxd / nrd AS mr,
        |  (sxxd - sxd * sxd / ntd) / (ntd - 1.0) AS vt,
        |  (rsxxd - rsxd * rsxd / nrd) / (nrd - 1.0) AS vr
        | FROM w),
        |u AS (SELECT lang, nt, nr, ntd, nrd, mt, mr,
        |  vt / ntd AS st, vr / nrd AS sr FROM v)
        |SELECT lang, CAST(nt AS BIGINT) AS n_target, CAST(nr AS BIGINT) AS n_rest,
        | CASE WHEN nt >= 2 AND nr >= 2 AND st + sr > 0
        |      THEN round((mt - mr) / sqrt(st + sr), 6) + 0.0 END AS t_stat,
        | CASE WHEN nt >= 2 AND nr >= 2 AND st + sr > 0
        |      THEN round((st + sr) * (st + sr)
        |           / (st * st / (ntd - 1.0) + sr * sr / (nrd - 1.0)), 6) END AS deg_f
        |FROM u ORDER BY lang""".stripMargin,

    // OBSERVED cells only (χ² = N + Σ_obs[(o−e)²/e − e]; the absent
    // cells' Σe is the +N), margins as windows over the cell table, the
    // common-denominator χ² term and the all-integer-ratio ln MI term —
    // each rounded to 9 dp, decimal-summed, terminal 6 dp.
    "q182_cat_assoc" ->
      """WITH cells AS (
        | SELECT source AS a, lang AS b, count(*) AS o FROM documents
        | WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |m AS (
        | SELECT a, b, o, CAST(o AS DOUBLE) AS od,
        |  CAST(sum(o) OVER (PARTITION BY a) AS DOUBLE) AS rd,
        |  CAST(sum(o) OVER (PARTITION BY b) AS DOUBLE) AS cd,
        |  sum(o) OVER () AS nn,
        |  CAST(sum(o) OVER () AS DOUBLE) AS nd
        | FROM cells),
        |terms AS (
        | SELECT nn,
        |  CAST(round((od * nd - rd * cd) * (od * nd - rd * cd) / (nd * rd * cd)
        |             - rd * cd / nd, 9) AS DECIMAL(28,12)) AS chit,
        |  CAST(round((od / nd) * ln(od * nd / (rd * cd)), 9) AS DECIMAL(28,12)) AS mit,
        |  a, b
        | FROM m),
        |agg AS (SELECT CAST(max(nn) AS BIGINT) AS n,
        |  count(DISTINCT a) AS r_levels, count(DISTINCT b) AS c_levels,
        |  sum(chit) AS chi, sum(mit) AS mi FROM terms)
        |SELECT n, r_levels, c_levels,
        | round(CAST(chi AS DOUBLE) + CAST(n AS DOUBLE), 6) + 0.0 AS chi2,
        | CASE WHEN least(r_levels, c_levels) >= 2
        |      THEN round(sqrt((CAST(chi AS DOUBLE) + CAST(n AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * CAST(least(r_levels, c_levels) - 1 AS DOUBLE))), 6)
        | END AS cramers_v,
        | round(CAST(mi AS DOUBLE), 6) + 0.0 AS mi_nats
        |FROM agg""".stripMargin,

    // The identical Lloyd chain unrolled as CTEs: 9-dp component entry,
    // decimal-exact per-(cluster, pos) centroid sums, 6-dp distance +
    // cluster-id tiebreak argmin — iter CTEs generated to match the
    // operator's iters exactly.
    "q183_kmeans" -> kmeansOracleSql(k = 4, iters = 2, dim = 64),

    // Capacity ≥ vocab → MG is exact, so the twin is the plain exact
    // count with the sketch's (est desc, item asc) rank order; rn is the
    // 0-based posexplode ordinal.
    "q184_heavy_hitters" ->
      """WITH toks AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT token, count(*) AS est FROM toks GROUP BY 1),
        |r AS (SELECT token, CAST(est AS BIGINT) AS est,
        |  CAST(row_number() OVER (ORDER BY est DESC, token) - 1 AS INT) AS rn
        | FROM cnt)
        |SELECT rn, token, est FROM r WHERE rn < 50 ORDER BY rn""".stripMargin,

    // Identical clean gate (non-null, NaN-free), 6-dp per-row norms
    // (fold of double squares), decimal-summed mean — counters over
    // everything, norm stats over clean rows only.
    "q185_embedding_audit" ->
      """WITH e AS (
        | SELECT label, embedding,
        |  embedding IS NOT NULL
        |   AND len(list_filter(embedding,
        |        x -> x IS NULL OR isnan(CAST(x AS DOUBLE)))) = 0 AS clean
        | FROM embeddings),
        |m AS (
        | SELECT label, embedding, clean,
        |  CASE WHEN clean THEN round(sqrt(list_sum(
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
        |  END AS nrm
        | FROM e)
        |SELECT label, count(*) AS n,
        | CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        | CAST(sum(CASE WHEN embedding IS NOT NULL AND NOT clean THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        | CAST(sum(CASE WHEN clean
        |   AND len(list_filter(embedding, x -> CAST(x AS DOUBLE) <> 0.0)) = 0
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        | CAST(min(CASE WHEN clean THEN len(embedding) END) AS INT) AS dim_min,
        | CAST(max(CASE WHEN clean THEN len(embedding) END) AS INT) AS dim_max,
        | min(CASE WHEN clean THEN nrm END) AS min_norm,
        | max(CASE WHEN clean THEN nrm END) AS max_norm,
        | round(CAST(sum(CASE WHEN clean THEN CAST(nrm AS DECIMAL(28,12)) END) AS DOUBLE)
        |       / CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS DOUBLE), 6) AS mean_norm
        |FROM m GROUP BY label ORDER BY label""".stripMargin,

    // The q60 md5 permille split (80/10/10) feeding the q173 KS chain —
    // the same integer-exact sup over the split-vs-rest CDFs.
    "q186_split_drift" ->
      """WITH d AS (
        | SELECT n_chars,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 < 800
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 < 900
        |       THEN 'valid'
        |       ELSE 'test' END AS split
        | FROM documents),
        |g AS (SELECT DISTINCT split AS grp FROM d),
        |n AS (SELECT split, count(*) AS nt FROM d GROUP BY 1),
        |tot AS (SELECT count(*) AS nn FROM d),
        |c AS (
        | SELECT g.grp,
        |  sum(CASE WHEN dd.split = g.grp THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY g.grp ORDER BY dd.n_chars
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
        |  count(*)
        |    OVER (PARTITION BY g.grp ORDER BY dd.n_chars
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
        | FROM d dd CROSS JOIN g)
        |SELECT c.grp AS split,
        | CAST(n.nt AS BIGINT) AS n_target,
        | CAST(tot.nn - n.nt AS BIGINT) AS n_rest,
        | CAST(max(abs(ct * (tot.nn - n.nt) - (ca - ct) * n.nt)) AS DOUBLE)
        |   / (n.nt * (tot.nn - n.nt)) AS ks
        |FROM c JOIN n ON n.split = c.grp CROSS JOIN tot
        |GROUP BY c.grp, n.nt, tot.nn
        |ORDER BY split""".stripMargin,

    // Synchronous LPA unrolled 5 iterations over the q143 trigram edge
    // graph: per-iteration argmax = most-frequent neighbor label, ties
    // to the SMALLEST label — row_number states the same tiebreak the
    // Spark max(struct(cnt, -label)) computes.
    "q187_label_prop" -> {
      // NB: trigramEdgeSql and the step CTEs are concatenated OUTSIDE
      // any stripMargin — interpolating multi-line SQL into a
      // stripMargin template would eat the first pipe of every `||`
      def step(i: Int): String =
        s"""l$i AS (
           | SELECT v AS node, label FROM (
           |  SELECT nb.v, l.label, count(*) AS cnt,
           |   row_number() OVER (PARTITION BY nb.v
           |     ORDER BY count(*) DESC, l.label) AS rn
           |  FROM nb JOIN l${i - 1} l ON l.node = nb.u
           |  GROUP BY nb.v, l.label)
           | WHERE rn = 1)""".stripMargin
      "WITH " + trigramEdgeSql + ",\n" +
        "nb AS (SELECT lo AS v, hi AS u FROM e UNION ALL SELECT hi, lo FROM e),\n" +
        "l0 AS (SELECT DISTINCT v AS node, CAST(v AS BIGINT) AS label FROM nb),\n" +
        (1 to 5).map(step).mkString(",\n") + "\n" +
        "SELECT node, label FROM l5 ORDER BY node"
    },

    // Multi-source BFS unrolled 4 hops: d_{t+1} = min(d_t, 1 + min over
    // neighbors' d_t), seeds at 0 (including seeds absent from the graph).
    "q188_bfs_hops" -> {
      // same concatenation rule as q187 (stripMargin vs interpolated `||`)
      def hop(i: Int): String =
        s"""d$i AS (
           | SELECT node, CAST(min(hops) AS INT) AS hops FROM (
           |  SELECT node, hops FROM d${i - 1}
           |  UNION ALL
           |  SELECT nb.v AS node, d.hops + 1 AS hops
           |  FROM nb JOIN d${i - 1} d ON d.node = nb.u)
           | GROUP BY node)""".stripMargin
      "WITH " + trigramEdgeSql + ",\n" +
        "nb AS (SELECT lo AS v, hi AS u FROM e UNION ALL SELECT hi, lo FROM e),\n" +
        "d0 AS (SELECT DISTINCT doc_id AS node, CAST(0 AS INT) AS hops\n" +
        "       FROM documents WHERE doc_id % 50 = 0),\n" +
        (1 to 4).map(hop).mkString(",\n") + "\n" +
        "SELECT node, hops FROM d4 ORDER BY node"
    },

    // Kaplan–Meier: identical lifetimes (event DATEs), 1-day censor
    // edge, suffix-sum at-risk, 12-dp factors, ASCENDING-order product
    // fold (list_reduce left-folds exactly like the Spark aggregate with
    // unit init — 1.0·f ≡ f in IEEE), 6-dp survival.
    "q189_kaplan_meier" ->
      """WITH pu AS (
        | SELECT user_id, CAST(min(ts) AS DATE) AS f, CAST(max(ts) AS DATE) AS l
        | FROM events GROUP BY 1),
        |mx AS (SELECT max(l) AS edge FROM pu),
        |life AS (
        | SELECT CAST(date_diff('day', f, l) AS INT) AS duration_days,
        |  date_diff('day', l, edge) < 1 AS cens
        | FROM pu CROSS JOIN mx),
        |pd AS (
        | SELECT duration_days,
        |  CAST(sum(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        | FROM life GROUP BY 1),
        |r AS (
        | SELECT duration_days, n_events, n_censored,
        |  CAST(sum(n_events + n_censored) OVER (ORDER BY duration_days DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        | FROM pd),
        |f AS (
        | SELECT *, round(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE), 12) AS fac
        | FROM r)
        |SELECT a.duration_days, a.n_risk, a.n_events, a.n_censored,
        | round(list_reduce(list(b.fac ORDER BY b.duration_days), (x, y) -> x * y), 6) AS survival
        |FROM f a JOIN f b ON b.duration_days <= a.duration_days
        |GROUP BY a.duration_days, a.n_risk, a.n_events, a.n_censored
        |ORDER BY a.duration_days""".stripMargin,

    // Sorted-neighborhood: identical (key, id) rank within 8-char prefix
    // blocks, ≤10-rank candidates, Levenshtein ≤ 30 on candidates only.
    "q190_snm_pairs" ->
      """WITH r AS (
        | SELECT doc_id AS id, text AS k, substr(text, 1, 8) AS blk,
        |  row_number() OVER (PARTITION BY substr(text, 1, 8)
        |    ORDER BY text, doc_id) AS rn
        | FROM documents WHERE text IS NOT NULL)
        |SELECT a.id AS idA, b.id AS idB, CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn - a.rn <= 10
        |WHERE levenshtein(a.k, b.k) <= 30
        |ORDER BY idA, idB""".stripMargin,

    // FD discovery: per ordered pair, distinct-(a,b) reduction then
    // violations = Σ (distinct b per a − 1); NULL groups as a value
    // (GROUP BY semantics) on both engines.
    "q191_fd_discovery" -> {
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      val pairs = for (a <- cols; b <- cols if a != b) yield
        s"""SELECT '$a' AS determinant, '$b' AS dependent,
           | CAST(count(*) AS BIGINT) AS n_groups,
           | CAST(sum(nb - 1) AS BIGINT) AS violations,
           | sum(nb - 1) = 0 AS holds
           |FROM (SELECT __a, count(*) AS nb
           |      FROM (SELECT DISTINCT $a AS __a, $b AS __b FROM customer)
           |      GROUP BY 1)""".stripMargin
      pairs.mkString("", "\nUNION ALL\n", "\nORDER BY determinant, dependent")
    },

    // Count-min: identical md5 bucket hash (seed:token, 60-bit prefix,
    // mod 16), cell-count sketch, min-over-depth estimates for the
    // md5-chosen ~30% probe vocab, exact-count audit join.
    "q192_countmin" ->
      """WITH toks AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |sk AS (
        | SELECT s.seed,
        |  ('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 16 AS bucket,
        |  count(*) AS cnt
        | FROM toks CROSS JOIN range(4) s(seed) GROUP BY 1, 2),
        |probes AS (
        | SELECT DISTINCT token FROM toks
        | WHERE ('0x' || substr(md5('cms' || token), 1, 15))::BIGINT % 1000 < 300),
        |pe AS (
        | SELECT p.token, min(coalesce(sk.cnt, 0)) AS est
        | FROM probes p CROSS JOIN range(4) s(seed)
        | LEFT JOIN sk ON sk.seed = s.seed AND sk.bucket =
        |  ('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || p.token), 1, 15))::BIGINT % 16
        | GROUP BY 1),
        |ex AS (SELECT token, count(*) AS c FROM toks GROUP BY 1)
        |SELECT pe.token, CAST(pe.est AS BIGINT) AS est, CAST(ex.c AS BIGINT) AS exact,
        | CAST(pe.est - ex.c AS BIGINT) AS overcount
        |FROM pe JOIN ex USING (token) ORDER BY token""".stripMargin,

    // BPE unrolled 3 merges: char-split word-frequency table, adjacent-
    // overlapping pair counts with word multiplicity, (count desc,
    // l, r) argmax, pipe-wrapped replace() merge — replace's left-to-
    // right non-overlapping scan IS the BPE rewrite (the Spark side
    // states the identical string kernel).
    "q193_bpe_train" -> bpeOracleSql(merges = 3),

    // Negative sampling: identical md5 hash-bucket vocab layout on
    // [0, W), integer draw u = md5(doc:j:ns) mod W, covering-interval
    // membership (the Spark side buckets the same range join).
    "q194_neg_samples" ->
      """WITH toks AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |v AS (
        | SELECT token, count(*) AS cnt,
        |  ('0x' || substr(md5('ns' || token), 1, 15))::BIGINT % 1000 AS b
        | FROM toks WHERE token <> '' GROUP BY 1),
        |cdf AS (
        | SELECT token, cnt,
        |  coalesce(sum(cnt) OVER (ORDER BY b, token
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
        | FROM v),
        |tot AS (SELECT sum(cnt) AS w FROM v),
        |d AS (
        | SELECT doc_id, CAST(j.j AS INT) AS j,
        |  ('0x' || substr(md5(doc_id || ':' || j.j || ':ns'), 1, 15))::BIGINT % w AS u
        | FROM documents CROSS JOIN range(3) j(j) CROSS JOIN tot)
        |SELECT d.doc_id, d.j, c.token
        |FROM d JOIN cdf c ON d.u >= c.lo AND d.u < c.lo + c.cnt
        |ORDER BY doc_id, j""".stripMargin,

    // Deterministic (i, i+137) pair sample, 6-dp cosine, 0.05-wide bins.
    "q195_cos_histogram" ->
      """WITH v AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |p AS (SELECT a.v AS va, b.v AS vb
        |      FROM v a JOIN v b ON b.vec_id = a.vec_id + 137),
        |c AS (SELECT round(list_cosine_similarity(va, vb), 6) AS cos FROM p)
        |SELECT CAST(floor(cos * 20) AS INT) AS bin, count(*) AS n
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // Assortativity over the q143 graph: both-orientation DECIMAL(38,0)
    // moment sums, the symmetric closed form, 6 dp.
    "q196_assortativity" ->
      ("WITH " + trigramEdgeSql + ",\n" +
        """deg AS (SELECT node, count(*) AS degree FROM
          |  (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e) GROUP BY 1),
          |o AS (SELECT dl.degree AS x, dh.degree AS y
          |      FROM e JOIN deg dl ON dl.node = e.lo JOIN deg dh ON dh.node = e.hi),
          |b AS (SELECT x, y FROM o UNION ALL SELECT y, x FROM o),
          |m AS (SELECT count(*) AS n,
          |  sum(CAST(x AS DECIMAL(38,0))) AS sx,
          |  sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sx2,
          |  sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
          | FROM b)
          |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
          | CASE WHEN n * sx2 - sx * sx > 0
          |  THEN round(CAST(n * sxy - sx * sx AS DOUBLE)
          |             / CAST(n * sx2 - sx * sx AS DOUBLE), 6) + 0.0
          | END AS assortativity
          |FROM m""".stripMargin),

    // SNM pairs (q190 verbatim) welded by the q52 recursive min-label
    // closure; entity = smallest member, plus its size.
    "q197_entity_resolution" ->
      """WITH RECURSIVE r AS (
        | SELECT doc_id AS id, text AS k, substr(text, 1, 8) AS blk,
        |  row_number() OVER (PARTITION BY substr(text, 1, 8)
        |    ORDER BY text, doc_id) AS rn
        | FROM documents WHERE text IS NOT NULL),
        |cand AS (
        | SELECT a.id AS doc_a, b.id AS doc_b
        | FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn - a.rn <= 10
        | WHERE levenshtein(a.k, b.k) <= 30),
        |nodes(n) AS (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand),
        |und(a, b) AS (SELECT doc_a, doc_b FROM cand UNION SELECT doc_b, doc_a FROM cand),
        |cc(node, label) AS (
        | SELECT n, n FROM nodes
        | UNION
        | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
        |m AS (SELECT node, min(label) AS entity FROM cc GROUP BY node),
        |sz AS (SELECT entity, count(*) AS entity_size FROM m GROUP BY 1)
        |SELECT m.node AS doc_id, m.entity, CAST(sz.entity_size AS BIGINT) AS entity_size
        |FROM m JOIN sz USING (entity) ORDER BY doc_id""".stripMargin,

    // Exact-regime MG per 1-day tumbling window = plain per-window
    // counts with the sketch's (est desc, item asc) rank, top 3; rn is
    // the 0-based posexplode ordinal.
    "q198_hh_per_window" ->
      """WITH c AS (
        | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
        |  event_type AS item, count(*) AS est
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT ws, item, CAST(est AS BIGINT) AS est,
        |  CAST(row_number() OVER (PARTITION BY ws ORDER BY est DESC, item) - 1 AS INT) AS rn
        | FROM c)
        |SELECT ws, rn, item, est FROM r WHERE rn < 3 ORDER BY ws, rn""".stripMargin,

    // JL projection: the lshBucketSql plane-weight arithmetic with the
    // full dot value kept (same left-to-right fold as the native
    // kernel), 6 dp.
    "q199_jl_projection" -> {
      val projs = (0 until 8).map { p =>
        s"""round(list_reduce(list_transform(range(1, 65),
           | j -> CAST(embedding[j] AS DOUBLE) * CAST(${planeWeightSql(p)} AS DOUBLE)),
           | (a, b) -> a + b), 6) + 0.0 AS proj_$p""".stripMargin
      }
      s"""SELECT vec_id,\n${projs.mkString(",\n")}\nFROM embeddings\n${jlWidthGuardSql()}\nORDER BY vec_id"""
    },

    // Calibration: identical IEEE score division (so identical bin
    // floors), 9-dp decimal score sums, exact count divisions, 6 dp.
    "q200_calibration" ->
      """WITH s AS (
        | SELECT CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |  lang = 'en' AS label
        | FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, score, label FROM s)
        |SELECT bin, count(*) AS n,
        | round(CAST(sum(CAST(round(score, 9) AS DECIMAL(28,12))) AS DOUBLE)
        |       / CAST(count(*) AS DOUBLE), 6) AS mean_score,
        | round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
        |       / CAST(count(*) AS DOUBLE), 6) AS frac_positive,
        | round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
        |       / CAST(count(*) AS DOUBLE)
        |     - CAST(sum(CAST(round(score, 9) AS DECIMAL(28,12))) AS DOUBLE)
        |       / CAST(count(*) AS DOUBLE), 6) + 0.0 AS gap
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,

    // CUSUM: zero-filled grid, integer-scaled deviation
    // D·cum − idx·total, |…| argmax with earliest-date ties.
    "q201_cusum" ->
      """WITH daily AS (
        | SELECT event_type AS k, CAST(ts AS DATE) AS d, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |dates AS (SELECT DISTINCT d FROM daily),
        |keys AS (SELECT k, sum(n) AS total FROM daily GROUP BY 1),
        |grid AS (
        | SELECT keys.k, dates.d, keys.total, coalesce(daily.n, 0) AS n
        | FROM dates CROSS JOIN keys
        | LEFT JOIN daily ON daily.k = keys.k AND daily.d = dates.d),
        |dev AS (
        | SELECT k, d, total,
        |  sum(n) OVER (PARTITION BY k ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  row_number() OVER (PARTITION BY k ORDER BY d) AS idx,
        |  count(*) OVER (PARTITION BY k) AS days
        | FROM grid),
        |x AS (SELECT k, d, days, days * cum - idx * total AS sd FROM dev),
        |r AS (SELECT k, d, sd, days,
        |  row_number() OVER (PARTITION BY k ORDER BY abs(sd) DESC, d) AS rn
        | FROM x)
        |SELECT k AS event_type, d AS change_date,
        | round(CAST(abs(sd) AS DOUBLE) / CAST(days AS DOUBLE), 6) AS cusum,
        | CASE WHEN sd >= 0 THEN 1 ELSE -1 END AS direction
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // HLL: identical md5 60-bit hash, reg = h mod 64, rho from bin()
    // length on the 54-bit tail, DECIMAL-exact harmonic sum, one IEEE
    // division; small-range ln correction quantized at 4 dp.
    "q202_hll_relation" ->
      """WITH t AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |h AS (
        | SELECT ('0x' || substr(md5('hll' || token), 1, 15))::BIGINT AS h
        | FROM t WHERE token IS NOT NULL),
        |rr AS (
        | SELECT h % 64 AS reg,
        |  CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
        | FROM h),
        |sk AS (SELECT reg, max(rho) AS max_rho FROM rr GROUP BY 1),
        |f AS (
        | SELECT r.reg, coalesce(sk.max_rho, 0) AS rho
        | FROM range(64) r(reg) LEFT JOIN sk ON sk.reg = r.reg),
        |agg AS (
        | SELECT sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS zeros,
        |  sum(CAST((1::BIGINT << (60 - rho)) AS DECIMAL(38,0))) AS s
        | FROM f),
        |e AS (
        | SELECT CAST(64 AS INT) AS m, CAST(zeros AS BIGINT) AS n_zero_regs,
        |  round(0.709 * 64 * 64 * 1152921504606846976.0 / CAST(s AS DOUBLE), 4) AS est_raw
        | FROM agg),
        |ex AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS exact
        |       FROM t WHERE token IS NOT NULL)
        |SELECT e.m, e.n_zero_regs, e.est_raw,
        | CASE WHEN e.n_zero_regs > 0 AND e.est_raw <= 160.0
        |  THEN round(64.0 * ln(64.0 / CAST(e.n_zero_regs AS DOUBLE)), 4)
        |  ELSE e.est_raw END AS est,
        | ex.exact
        |FROM e CROSS JOIN ex""".stripMargin,

    // Seasonal: zero-filled grid, dow 0 = Sunday both engines
    // (DuckDB dayofweek == Spark dayofweek − 1), integer-scaled
    // residual argmax with earliest-date ties.
    "q203_seasonal" ->
      """WITH daily AS (
        | SELECT event_type AS k, CAST(ts AS DATE) AS d, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |dates AS (SELECT DISTINCT d FROM daily),
        |ks AS (SELECT DISTINCT k FROM daily),
        |grid AS (
        | SELECT ks.k, dates.d, dayofweek(dates.d) AS dow, coalesce(daily.n, 0) AS n
        | FROM dates CROSS JOIN ks
        | LEFT JOIN daily ON daily.k = ks.k AND daily.d = dates.d),
        |prof AS (SELECT k, dow, count(*) AS n_days, sum(n) AS tot
        |         FROM grid GROUP BY 1, 2),
        |res AS (
        | SELECT g.k, g.dow, g.d, p.n_days, p.tot, g.n * p.n_days - p.tot AS r
        | FROM grid g JOIN prof p ON p.k = g.k AND p.dow = g.dow),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY k, dow
        |         ORDER BY abs(r) DESC, d) AS rn FROM res)
        |SELECT k AS event_type, CAST(dow AS INT) AS dow,
        | CAST(n_days AS BIGINT) AS n_days,
        | round(CAST(tot AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS dow_mean,
        | d AS worst_date,
        | round(CAST(r AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS worst_residual
        |FROM rk WHERE rn = 1 ORDER BY event_type, dow""".stripMargin,

    // Bloom: identical md5 positions (seed:token mod 512), 32-bit word
    // packing via bit_or (checked engines reject 1 << 63 on a signed
    // 64-bit lane), AND-of-bits membership, actual-presence audit.
    "q204_bloom_relation" ->
      """WITH toks AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (SELECT DISTINCT token FROM toks),
        |pos AS (
        | SELECT ('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 512 AS p
        | FROM toks CROSS JOIN range(3) s(seed)),
        |sk AS (
        | SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        | FROM pos GROUP BY 1),
        |probes AS (
        | SELECT token FROM vocab
        | UNION ALL SELECT token || '-zz' FROM vocab),
        |pp AS (
        | SELECT pr.token,
        |  ('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || pr.token), 1, 15))::BIGINT % 512 AS p
        | FROM probes pr CROSS JOIN range(3) s(seed)),
        |mc AS (
        | SELECT pp.token,
        |  min(CASE WHEN sk.bits IS NOT NULL
        |       AND (sk.bits & (1::BIGINT << CAST(pp.p % 32 AS INT))) <> 0
        |      THEN 1 ELSE 0 END) = 1 AS maybe_present
        | FROM pp LEFT JOIN sk ON sk.word = pp.p // 32
        | GROUP BY 1)
        |SELECT mc.token, mc.maybe_present,
        | v.token IS NOT NULL AS actual_present
        |FROM mc LEFT JOIN vocab v ON v.token = mc.token
        |ORDER BY mc.token""".stripMargin,

    // Uniform per-group sample: identical md5 lottery tickets, k
    // smallest per group, (hash asc, id asc) rank.
    "q205_uniform_per_group" ->
      """WITH h AS (
        | SELECT lang, doc_id,
        |  ('0x' || substr(md5('us' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
    % 1125899906842624 AS hv
        | FROM documents),
        |r AS (SELECT lang, doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS BIGINT) AS rn
        | FROM h)
        |SELECT lang, doc_id, rn FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,

    // Rolling WAU: identical entity-day dedup, 7-day support explode
    // clamped to the span edge, distinct, per-date count.
    "q206_rolling_wau" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id AS id, CAST(ts AS DATE) AS d FROM events),
        |mx AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
        |ex AS (
        | SELECT DISTINCT id,
        |  CAST(unnest(generate_series(d,
        |    least(d + INTERVAL 6 DAY, CAST(maxd AS TIMESTAMP)),
        |    INTERVAL 1 DAY)) AS DATE) AS report_date
        | FROM ud CROSS JOIN mx)
        |SELECT report_date, count(*) AS n_active
        |FROM ex GROUP BY 1 ORDER BY report_date""".stripMargin,

    // PQ: four suffixed kmeans chains over 16-dim slices (offsets
    // 0/16/32/48), codes joined on vec_id.
    "q207_pq_codes" -> {
      val chains = (0 until 4).map(sp => kmeansCtes(4, 2, 16, sp * 16, s"_s$sp"))
      val codeCols = (0 until 4)
        .map(sp => s"CAST(s$sp.cluster AS INT) AS code_$sp").mkString(", ")
      val joins = (1 until 4)
        .map(sp => s"JOIN a3_s$sp s$sp ON s$sp.vec_id = s0.vec_id").mkString(" ")
      "WITH " + chains.mkString(",\n") + "\n" +
        s"SELECT s0.vec_id, $codeCols FROM a3_s0 s0 $joins ORDER BY s0.vec_id"
    },

    // OLS: integer-exact DECIMAL(38,0) moments, the same canonical
    // cofactor expansion (det3Sql mirrors Regression.det3 verbatim —
    // identical IEEE evaluation), SSE via Σy² − βᵀXᵀy, 6-dp outputs.
    "q208_linear_fit" -> {
      val det = det3Sql("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
      val det0 = det3Sql("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
      val det1 = det3Sql("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
      val det2 = det3Sql("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
      s"""WITH f AS (
         | SELECT n_chars AS x1,
         |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS x2,
         |  CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS y
         | FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |mm AS (
         | SELECT count(*) AS nn,
         |  sum(CAST(x1 AS DECIMAL(38,0))) AS ds1, sum(CAST(x2 AS DECIMAL(38,0))) AS ds2,
         |  sum(CAST(y AS DECIMAL(38,0))) AS dsy,
         |  sum(CAST(x1 * x1 AS DECIMAL(38,0))) AS ds11, sum(CAST(x2 * x2 AS DECIMAL(38,0))) AS ds22,
         |  sum(CAST(x1 * x2 AS DECIMAL(38,0))) AS ds12, sum(CAST(x1 * y AS DECIMAL(38,0))) AS ds1y,
         |  sum(CAST(x2 * y AS DECIMAL(38,0))) AS ds2y, sum(CAST(y * y AS DECIMAL(38,0))) AS dsyy
         | FROM f),
         |m AS (
         | SELECT nn, CAST(nn AS DOUBLE) AS n, CAST(ds1 AS DOUBLE) AS s1,
         |  CAST(ds2 AS DOUBLE) AS s2, CAST(dsy AS DOUBLE) AS sy,
         |  CAST(ds11 AS DOUBLE) AS s11, CAST(ds22 AS DOUBLE) AS s22,
         |  CAST(ds12 AS DOUBLE) AS s12, CAST(ds1y AS DOUBLE) AS s1y,
         |  CAST(ds2y AS DOUBLE) AS s2y, CAST(dsyy AS DOUBLE) AS syy
         | FROM mm),
         |dets AS (SELECT *, $det AS det, $det0 AS det0, $det1 AS det1, $det2 AS det2 FROM m),
         |bs AS (SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM dets),
         |e AS (SELECT *, syy - (b0 * sy + b1 * s1y + b2 * s2y) AS sse,
         |             syy - sy * sy / n AS sst FROM bs)
         |SELECT CAST(nn AS BIGINT) AS n,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(b0, 6) + 0.0 END AS b0,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(b1, 6) + 0.0 END AS b1,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(b2, 6) + 0.0 END AS b2,
         | CASE WHEN nn > 0 AND det <> 0 AND sst <> 0 THEN round(1.0 - sse / sst, 6) + 0.0 END AS r2,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(sqrt(greatest(sse, 0.0) / n), 6) END AS rmse
         |FROM e""".stripMargin
    },

    // Poisson bootstrap: identical md5 ticket ('boot' ∥ b ∥ ':' ∥ id →
    // micro-grid uniform) through the same literal Poisson(1) CDF CASE;
    // replicate means quantize at 9 dp into decimal sums; quantile_cont
    // over the B-row means table = Spark percentile (linear interp).
    "q209_bootstrap_ci" ->
      """WITH rws AS (
        | SELECT doc_id AS id, CAST(round(n_chars, 9) AS DECIMAL(28,12)) AS v
        | FROM documents WHERE n_chars IS NOT NULL),
        |fl AS (SELECT count(*) AS n, sum(v) AS sv FROM rws),
        |x AS (
        | SELECT b,
        |  CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
        |       WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
        |       ELSE 6 END AS w, v
        | FROM (
        |  SELECT r.b,
        |   ('0x' || substr(md5('boot' || CAST(r.b AS VARCHAR) || ':' || CAST(rws.id AS VARCHAR)), 1, 15))::BIGINT
        |     % 1000000 AS u, rws.v
        |  FROM rws CROSS JOIN range(100) r(b))),
        |reps AS (SELECT b, sum(w * v) AS ws, sum(w) AS wn FROM x GROUP BY 1),
        |means AS (SELECT CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) AS m FROM reps WHERE wn > 0),
        |ci AS (
        | SELECT count(*) AS n_replicates,
        |  round(CAST(sum(CAST(round(m, 9) AS DECIMAL(28,12))) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE), 6) AS boot_mean,
        |  round(quantile_cont(m, 0.025), 6) AS boot_lo,
        |  round(quantile_cont(m, 0.975), 6) AS boot_hi
        | FROM means)
        |SELECT CAST(fl.n AS BIGINT) AS n,
        | round(CAST(fl.sv AS DOUBLE) / CAST(fl.n AS DOUBLE), 6) AS mean_full,
        | ci.n_replicates, ci.boot_mean, ci.boot_lo, ci.boot_hi
        |FROM fl CROSS JOIN ci""".stripMargin,

    // Binned MI: identical bin formula (the (x−lo)·bins/(hi−lo) floor
    // clamp), integer-exact cells/margins, 9-dp decimal term sums (the
    // q182 rule), entropies from distinct margin rows.
    "q210_binned_mi" ->
      """WITH d AS (
        | SELECT n_chars,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
        | FROM documents WHERE text IS NOT NULL),
        |cells AS (
        | SELECT least(greatest(CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) * 10 / (600.0 - 0.0)) AS INT), 0), 9) AS bx,
        |  least(greatest(CAST(floor((CAST(n_tokens AS DOUBLE) - 0.0) * 10 / (100.0 - 0.0)) AS INT), 0), 9) AS by,
        |  count(*) AS o
        | FROM d WHERE n_chars IS NOT NULL AND n_tokens IS NOT NULL GROUP BY 1, 2),
        |m AS (
        | SELECT *, sum(o) OVER (PARTITION BY bx) AS rx,
        |  sum(o) OVER (PARTITION BY by) AS ry, sum(o) OVER () AS nn
        | FROM cells),
        |joint AS (
        | SELECT max(nn) AS n, count(DISTINCT bx) AS x_cells, count(DISTINCT by) AS y_cells,
        |  sum(CAST(round((CAST(o AS DOUBLE) / CAST(nn AS DOUBLE))
        |    * ln(CAST(o AS DOUBLE) * CAST(nn AS DOUBLE) / (CAST(rx AS DOUBLE) * CAST(ry AS DOUBLE))), 9)
        |    AS DECIMAL(28,12))) AS mi
        | FROM m),
        |hx AS (
        | SELECT sum(CAST(round(-(CAST(rx AS DOUBLE) / CAST(nn AS DOUBLE))
        |    * ln(CAST(rx AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,12))) AS h
        | FROM (SELECT DISTINCT bx, rx, nn FROM m)),
        |hy AS (
        | SELECT sum(CAST(round(-(CAST(ry AS DOUBLE) / CAST(nn AS DOUBLE))
        |    * ln(CAST(ry AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,12))) AS h
        | FROM (SELECT DISTINCT by, ry, nn FROM m))
        |SELECT CAST(joint.n AS BIGINT) AS n, joint.x_cells, joint.y_cells,
        | round(CAST(joint.mi AS DOUBLE), 6) + 0.0 AS mi_nats,
        | round(CAST(hx.h AS DOUBLE), 6) AS h_x, round(CAST(hy.h AS DOUBLE), 6) AS h_y,
        | CASE WHEN CAST(hx.h AS DOUBLE) > 0 AND CAST(hy.h AS DOUBLE) > 0
        |  THEN round(CAST(joint.mi AS DOUBLE) / sqrt(CAST(hx.h AS DOUBLE) * CAST(hy.h AS DOUBLE)), 6) + 0.0 END AS nmi
        |FROM joint CROSS JOIN hx CROSS JOIN hy""".stripMargin,

    // Hard negatives: the q26 exact-cosine chain with the dot/norm
    // fold stated in Spark's exact shape (in-order list_reduce sums,
    // √·√ per side) so the band filter sees identical doubles; per-query
    // rank over the banded pairs only.
    "q211_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |       list_reduce(list_transform(range(1, 65), j -> cv[j] * qv[j]), (a, b) -> a + b)
        |        / (sqrt(list_reduce(list_transform(range(1, 65), j -> cv[j] * cv[j]), (a, b) -> a + b))
        |           * sqrt(list_reduce(list_transform(range(1, 65), j -> qv[j] * qv[j]), (a, b) -> a + b))) AS cos
        |      FROM c, q WHERE neighbor_id <> query_id),
        |b AS (SELECT * FROM s WHERE cos >= 0.05 AND cos < 0.6),
        |r AS (SELECT query_id, neighbor_id, cos,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
        |      FROM b)
        |SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cos, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    "q212_bpe_encode" -> bpeEncodeOracleSql(merges = 3),

    // Vocab growth: the same '' ∥ id md5 permille bucket; per-token MIN
    // bucket on the vocab table; per-fraction conditional sums.
    "q213_vocab_growth" ->
      """WITH docs AS (
        | SELECT ('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS bk,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt
        | FROM documents WHERE text IS NOT NULL),
        |da AS (
        | SELECT sum(CASE WHEN bk < 100 THEN 1 ELSE 0 END) AS d100,
        |  sum(CASE WHEN bk < 100 THEN nt ELSE 0 END) AS t100,
        |  sum(CASE WHEN bk < 250 THEN 1 ELSE 0 END) AS d250,
        |  sum(CASE WHEN bk < 250 THEN nt ELSE 0 END) AS t250,
        |  sum(CASE WHEN bk < 500 THEN 1 ELSE 0 END) AS d500,
        |  sum(CASE WHEN bk < 500 THEN nt ELSE 0 END) AS t500,
        |  sum(CASE WHEN bk < 1000 THEN 1 ELSE 0 END) AS d1000,
        |  sum(CASE WHEN bk < 1000 THEN nt ELSE 0 END) AS t1000
        | FROM docs),
        |toks AS (
        | SELECT w, min(bk) AS mb FROM (
        |  SELECT ('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS bk,
        |   unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL)
        | WHERE w <> '' GROUP BY 1),
        |va AS (
        | SELECT sum(CASE WHEN mb < 100 THEN 1 ELSE 0 END) AS v100,
        |  sum(CASE WHEN mb < 250 THEN 1 ELSE 0 END) AS v250,
        |  sum(CASE WHEN mb < 500 THEN 1 ELSE 0 END) AS v500,
        |  sum(CASE WHEN mb < 1000 THEN 1 ELSE 0 END) AS v1000
        | FROM toks)
        |SELECT * FROM (
        | SELECT 100 AS permille, CAST(d100 AS BIGINT) AS n_docs, CAST(t100 AS BIGINT) AS n_tokens,
        |  CAST(v100 AS BIGINT) AS vocab FROM da CROSS JOIN va
        | UNION ALL SELECT 250, CAST(d250 AS BIGINT), CAST(t250 AS BIGINT), CAST(v250 AS BIGINT)
        |  FROM da CROSS JOIN va
        | UNION ALL SELECT 500, CAST(d500 AS BIGINT), CAST(t500 AS BIGINT), CAST(v500 AS BIGINT)
        |  FROM da CROSS JOIN va
        | UNION ALL SELECT 1000, CAST(d1000 AS BIGINT), CAST(t1000 AS BIGINT), CAST(v1000 AS BIGINT)
        |  FROM da CROSS JOIN va
        |) ORDER BY permille""".stripMargin,

    // Per-group bootstrap: the q209 chain with the group key carried
    // through — same tickets (weight ignores the group), same decimal
    // quantization, quantile_cont per group.
    "q214_bootstrap_by_group" ->
      """WITH rws AS (
        | SELECT source AS g, doc_id AS id, CAST(round(n_chars, 9) AS DECIMAL(28,12)) AS v
        | FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |fl AS (SELECT g, count(*) AS n, sum(v) AS sv FROM rws GROUP BY 1),
        |x AS (
        | SELECT g, b,
        |  CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
        |       WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
        |       ELSE 6 END AS w, v
        | FROM (
        |  SELECT rws.g, r.b,
        |   ('0x' || substr(md5('boot' || CAST(r.b AS VARCHAR) || ':' || CAST(rws.id AS VARCHAR)), 1, 15))::BIGINT
        |     % 1000000 AS u, rws.v
        |  FROM rws CROSS JOIN range(100) r(b))),
        |reps AS (SELECT g, b, sum(w * v) AS ws, sum(w) AS wn FROM x GROUP BY 1, 2),
        |means AS (SELECT g, CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) AS m FROM reps WHERE wn > 0),
        |ci AS (
        | SELECT g, count(*) AS n_replicates,
        |  round(CAST(sum(CAST(round(m, 9) AS DECIMAL(28,12))) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE), 6) AS boot_mean,
        |  round(quantile_cont(m, 0.025), 6) AS boot_lo,
        |  round(quantile_cont(m, 0.975), 6) AS boot_hi
        | FROM means GROUP BY 1)
        |SELECT fl.g AS "group", CAST(fl.n AS BIGINT) AS n,
        | round(CAST(fl.sv AS DOUBLE) / CAST(fl.n AS DOUBLE), 6) AS mean_full,
        | ci.n_replicates, ci.boot_mean, ci.boot_lo, ci.boot_hi
        |FROM fl LEFT JOIN ci USING (g) ORDER BY "group"""".stripMargin,

    // Conformal coverage: identical 'conf' ∥ id permille split, the
    // calibration quantile via the null-skipping CASE, eval comparison
    // against the 9-dp-quantized threshold (cross-engine-stable under
    // split-straddling score ties).
    "q215_conformal_coverage" ->
      """WITH s AS (
        | SELECT doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
        | FROM documents WHERE text IS NOT NULL),
        |b AS (
        | SELECT score,
        |  ('0x' || substr(md5('conf' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 300 AS calib
        | FROM s WHERE score IS NOT NULL),
        |cal AS (
        | SELECT sum(CASE WHEN calib THEN 1 ELSE 0 END) AS n_calib,
        |  sum(CASE WHEN calib THEN 0 ELSE 1 END) AS n_eval,
        |  quantile_cont(CASE WHEN calib THEN score END, 0.8) AS thr
        | FROM b),
        |k AS (
        | SELECT sum(CASE WHEN b.score >= round(cal.thr, 9) THEN 1 ELSE 0 END) AS kept
        | FROM b CROSS JOIN cal WHERE NOT b.calib)
        |SELECT CAST(cal.n_calib AS BIGINT) AS n_calib, CAST(cal.n_eval AS BIGINT) AS n_eval,
        | round(cal.thr, 6) AS threshold, round(1.0 - 0.8, 6) AS target_keep_frac,
        | round(CAST(k.kept AS DOUBLE) / CAST(cal.n_eval AS DOUBLE), 6) AS eval_keep_frac,
        | round(CAST(k.kept AS DOUBLE) / CAST(cal.n_eval AS DOUBLE) - (1.0 - 0.8), 6) + 0.0 AS gap
        |FROM cal CROSS JOIN k""".stripMargin,

    // Streaming-DAU batch twin: the q202 HLL chain PER day window
    // (same md5/reg/rho, same decimal harmonic sum, same 4-dp ln
    // correction), plus the exact per-window distinct.
    "q216_stream_cardinality" ->
      """WITH h AS (
        | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
        |  ('0x' || substr(md5('hll' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM events WHERE user_id IS NOT NULL),
        |rr AS (
        | SELECT ws, h % 64 AS reg,
        |  CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
        | FROM h),
        |sk AS (SELECT ws, reg, max(rho) AS max_rho FROM rr GROUP BY 1, 2),
        |wins AS (SELECT DISTINCT ws FROM h),
        |f AS (
        | SELECT w.ws, r.reg, coalesce(sk.max_rho, 0) AS rho
        | FROM wins w CROSS JOIN range(64) r(reg)
        | LEFT JOIN sk ON sk.ws = w.ws AND sk.reg = r.reg),
        |agg AS (
        | SELECT ws, sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS zeros,
        |  sum(CAST((1::BIGINT << (60 - rho)) AS DECIMAL(38,0))) AS s
        | FROM f GROUP BY 1),
        |e AS (
        | SELECT ws, CAST(64 AS INT) AS m, CAST(zeros AS BIGINT) AS n_zero_regs,
        |  round(0.709 * 64 * 64 * 1152921504606846976.0 / CAST(s AS DOUBLE), 4) AS est_raw
        | FROM agg),
        |ex AS (
        | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT e.ws, e.m, e.n_zero_regs, e.est_raw,
        | CASE WHEN e.n_zero_regs > 0 AND e.est_raw <= 160.0
        |  THEN round(64.0 * ln(64.0 / CAST(e.n_zero_regs AS DOUBLE)), 4)
        |  ELSE e.est_raw END AS est,
        | ex.exact
        |FROM e JOIN ex ON ex.ws = e.ws ORDER BY e.ws""".stripMargin,

    // The q217 fixture's pair set in closed form — the q157 argument for
    // waveforms: SplitMix64 tone-burst patterns are unique per doc and
    // well-mixed unrelated fingerprints sit ~32 bits apart (never within
    // the Hamming-3 gate); each planted one-segment flip lands at
    // fingerprint distance EXACTLY 1. DuckDB cannot decode WAVs — it
    // does not need to: the encode→decode→fingerprint→join pipeline must
    // REPRODUCE this closed form from real samples.
    "q217_audio_near_dup" ->
      """SELECT doc_id AS doc_a, doc_id + 500000 AS doc_b,
        | CAST(1 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Rank sample: identical 'rs' ∥ id ticket mod 2^50, bottom-200 by
    // (ticket, value) — the heap's (−ticket desc, value asc) order
    // stated as ORDER BY/LIMIT; quantile_cont on the sample and corpus.
    "q218_rank_sample_quantiles" ->
      """WITH t AS (
        | SELECT ('0x' || substr(md5('rs' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |   % 1125899906842624 AS ticket,
        |  CAST(n_chars AS BIGINT) AS value
        | FROM documents WHERE n_chars IS NOT NULL),
        |sk AS (SELECT value FROM t ORDER BY ticket, value LIMIT 200),
        |est AS (
        | SELECT CAST(0.25 AS DOUBLE) AS p, round(quantile_cont(value, 0.25), 6) AS est FROM sk
        | UNION ALL SELECT CAST(0.5 AS DOUBLE), round(quantile_cont(value, 0.5), 6) FROM sk
        | UNION ALL SELECT CAST(0.75 AS DOUBLE), round(quantile_cont(value, 0.75), 6) FROM sk),
        |ex AS (
        | SELECT CAST(0.25 AS DOUBLE) AS p, round(quantile_cont(n_chars, 0.25), 6) AS exact_q
        | FROM documents WHERE n_chars IS NOT NULL
        | UNION ALL SELECT CAST(0.5 AS DOUBLE), round(quantile_cont(n_chars, 0.5), 6)
        | FROM documents WHERE n_chars IS NOT NULL
        | UNION ALL SELECT CAST(0.75 AS DOUBLE), round(quantile_cont(n_chars, 0.75), 6)
        | FROM documents WHERE n_chars IS NOT NULL)
        |SELECT est.p, est.est, ex.exact_q FROM est JOIN ex USING (p) ORDER BY p""".stripMargin,

    // IVF-PQ: the q37 cell/probe CTEs + four suffixed q183 chains (the
    // q207 composition) + per-query ADC tables (query 9-dp slice ·
    // final centroid, the chains' own v/c relations), stage-1 rank on
    // the 6-dp ADC sum over the candidate norm (id ties), exact-cosine
    // rerank of the top 20. Every CTE is MATERIALIZED: the chains are
    // referenced by training, ADC, AND the code pivot, and DuckDB's
    // default inlining re-evaluates multiply-referenced CTEs — measured
    // >25 min at sf0.1 inlined vs 0.9 s materialized, same result.
    "q219_ivf_pq" -> ivfPqRawOracleSql,

    // Persisted-index IVF-PQ search: ivfPqSearch over ivfPqIndexBuild is
    // bit-identical to the inline ivfPqTopK at the same parameters (the
    // shared ivfPqRank composition; spec-pinned), so the lifecycle query
    // grades against the SAME SQL.
    "q232_ivf_pq_index" -> ivfPqRawOracleSql,

    // IVF-PQ recall vs brute force: the shared CTE chain + an exact
    // brute-force top-5 CTE + the left-join recall rollup.
    "q234_ivf_pq_recall" -> ivfPqRecallOracleSql,

    // Residual IVF-PQ: the q219 skeleton with a residual relation
    // (v − centroid(assigned cell)) feeding the suffixed chains, a raw
    // 9-dp query-slice relation for the ADC, and the per-probe base
    // dot added before the norm division. Every CTE MATERIALIZED.
    "q231_ivf_pq_residual" -> ivfPqResidualOracleSql,

    // Residual IVF-PQ recall vs brute force: the residual CTE chain +
    // the same brute-force top-5 / recall rollup tail as q234.
    "q235_ivf_pq_residual_recall" -> ivfPqResidualRecallOracleSql,

    // Persisted-index residual search: bit-identical to the inline q231
    // (the shared ivfPqRank composition), so it grades against the same
    // SQL — the q232/q219 relationship for the residual stack.
    "q236_ivf_pq_residual_index" -> ivfPqResidualOracleSql,

    // Incremental index add: the engine encodes the delta against the
    // FROZEN base-trained codebooks and unions the codes; the oracle is
    // the from-scratch rebuild over the same codebooks (train on base,
    // code everything, q219's search tail).
    "q241_ivf_pq_index_add" -> ivfPqAddOracleSql,

    // Operating-point planner: one shared training chain + per-grid-
    // point search tails + the shared brute-force top-5, then recall/
    // cost arithmetic and the deterministic chosen window.
    "q242_ivf_pq_operating_plan" -> ivfPqPlanOracleSql,

    // Index remove: q219's chain with the kept-rows predicate as a
    // stage-1 candidate filter — codebooks still train on EVERYTHING
    // (removal does not retrain), only candidacy shrinks.
    "q245_ivf_pq_index_remove" ->
      ("WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "", candPred = evalSampleSql("a.vec_id", 900)) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // PQ reconstruction error: the shared training chains' final
    // assignments joined back to their own centroids — 6-dp per-row
    // squared-error sums over each subspace's slices (the kmeans
    // distance recipe), decimal-summed, one terminal division.
    "q246_ivf_pq_recon_error" -> ivfPqReconOracleSql,

    // IVF cell occupancy: the q37 first-16 centroid pick + argmin
    // assignment, zero-norm rows excluded from the counts (the codes
    // relation's drop policy), dead cells preserved by the left join.
    "q243_ivf_cell_occupancy" ->
      """WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |nrm AS (SELECT vec_id,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n FROM c),
        |cents AS (SELECT vec_id AS cell, v AS cv FROM c ORDER BY vec_id LIMIT 16),
        |assign AS (
        | SELECT vec_id, cell FROM (
        |  SELECT c.vec_id, ct.cell,
        |   row_number() OVER (PARTITION BY c.vec_id
        |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
        |  FROM c, cents ct) WHERE arn = 1),
        |occ AS (SELECT a.cell, count(*) AS n FROM assign a
        |        JOIN nrm nn ON nn.vec_id = a.vec_id AND nn.n > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM occ),
        |kc AS (SELECT count(*) AS k FROM cents)
        |SELECT ct.cell, CAST(coalesce(o.n, 0) AS BIGINT) AS n_vectors,
        | round(CAST(coalesce(o.n, 0) AS DOUBLE) / t.t, 6) AS frac,
        | round(CAST(coalesce(o.n, 0) AS DOUBLE) * kc.k / t.t, 6) AS load_factor
        |FROM cents ct LEFT JOIN occ o ON o.cell = ct.cell, tot t, kc
        |ORDER BY ct.cell""".stripMargin,

    // Matryoshka two-stage: q54's oracle skeleton with list slicing as
    // the cheap stage — prefix cosine (zero-prefix rows dropped on both
    // sides) ranks the top-20 window, full cosine ranks the survivors.
    "q250_matryoshka" ->
      s"""WITH ${evalSampleNCte("qse", "embeddings", "vec_id", 16)},
        |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |p AS (SELECT vec_id, v, v[1:16] AS pv FROM c),
        |pn AS (SELECT vec_id, v, pv,
        |  sqrt(list_reduce(list_transform(pv, x -> x * x), (a, b) -> a + b)) AS pnm
        | FROM p),
        |cc AS (SELECT * FROM pn WHERE pnm > 0),
        |qs AS (SELECT vec_id AS query_id, v AS qv, pv AS qpv FROM cc
        |       WHERE vec_id IN (SELECT vec_id FROM qse)),
        |pairs AS (
        | SELECT q.query_id, c.vec_id AS neighbor_id, c.v AS cv, q.qv,
        |  list_cosine_similarity(c.pv, q.qpv) AS approx
        | FROM cc c, qs q WHERE c.vec_id <> q.query_id),
        |stage1 AS (SELECT query_id, neighbor_id, cv, qv FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY approx DESC, neighbor_id) AS arn FROM pairs) WHERE arn <= 20),
        |stage2 AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity(cv, qv) DESC, neighbor_id) AS BIGINT) AS rn
        | FROM stage1)
        |SELECT query_id, neighbor_id, rn FROM stage2 WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin,

    // Quantization drift: q243's assignment skeleton with centroids from
    // the 90% BASE slice, every norm-positive vector assigned and split
    // base/batch by the same hash predicate, per-cell share deltas at
    // 9 dp, the DECIMAL total-variation sum, and the gate bit.
    "q249_ivf_drift" ->
      s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |nrm AS (SELECT vec_id,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n FROM c),
        |cents AS (SELECT vec_id AS cell, v AS cv FROM c
        |          WHERE ${evalSampleSql("vec_id", 900)} ORDER BY vec_id LIMIT 16),
        |assign AS (
        | SELECT vec_id, cell, is_base FROM (
        |  SELECT c.vec_id, ct.cell,
        |   ${evalSampleSql("c.vec_id", 900)} AS is_base,
        |   row_number() OVER (PARTITION BY c.vec_id
        |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
        |  FROM c JOIN nrm nn ON nn.vec_id = c.vec_id AND nn.n > 0, cents ct)
        | WHERE arn = 1),
        |occ AS (SELECT cell,
        |  SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS nb,
        |  SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS nd
        | FROM assign GROUP BY 1),
        |per AS (SELECT ct.cell, coalesce(o.nb, 0) AS n_index,
        |         coalesce(o.nd, 0) AS n_batch
        |        FROM cents ct LEFT JOIN occ o ON o.cell = ct.cell),
        |tots AS (SELECT SUM(n_index) AS tb, SUM(n_batch) AS td FROM per),
        |wf AS (SELECT p.cell, p.n_index, p.n_batch,
        |  CASE WHEN t.tb > 0 THEN round(CAST(p.n_index AS DOUBLE) / t.tb, 6) END AS frac_index,
        |  CASE WHEN t.td > 0 THEN round(CAST(p.n_batch AS DOUBLE) / t.td, 6) END AS frac_batch,
        |  CASE WHEN t.tb > 0 AND t.td > 0 THEN
        |   round(abs(CAST(p.n_index AS DOUBLE) / t.tb - CAST(p.n_batch AS DOUBLE) / t.td), 9)
        |  END AS drift
        | FROM per p, tots t),
        |tv AS (SELECT round(CAST(SUM(CAST(drift AS DECIMAL(28,12))) AS DOUBLE) * 0.5, 6) AS tv
        |       FROM wf)
        |SELECT w.cell, CAST(w.n_index AS BIGINT) AS n_index,
        | CAST(w.n_batch AS BIGINT) AS n_batch,
        | w.frac_index, w.frac_batch, w.drift, t.tv, t.tv > 0.1 AS retrain
        |FROM wf w, tv t ORDER BY w.cell""".stripMargin,

    // Batch sparse retrieval: the shared posting/query chain + one
    // scoring tail, exact decimal dot products, top-5 per query.
    "q247_sparse_retrieval" ->
      ("WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // Capped-posting recall: the same chain with a second, statically
    // pruned posting relation (top-25 by weight per token), both arms'
    // top-5 tails, and the q234-style left-join recall rollup.
    "q248_sparse_capped_recall" ->
      ("WITH " + sparsePostingCtes + ",\n" +
        """cpost AS (SELECT doc_id, token, w FROM (
          |  SELECT doc_id, token, w,
          |   row_number() OVER (PARTITION BY token ORDER BY w DESC, doc_id) AS prn
          |  FROM post) WHERE prn <= 25),""".stripMargin + "\n" +
        sparseTopKTail("post", "_ex") + ",\n" + sparseTopKTail("cpost", "_ap") +
        """
          |SELECT e.query_id,
          | CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          | round(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5, 6) AS recall
          |FROM (SELECT query_id, doc_id FROM r_ex WHERE rn <= 5) e
          |LEFT JOIN (SELECT query_id, doc_id FROM r_ap WHERE rn <= 5) a
          | USING (query_id, doc_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Lifecycle search: the loaded-index retrieval is q247's chain by
    // construction — same oracle verbatim.
    "q258_sparse_index_search" ->
      ("WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // Batch BM25: the Okapi-weighted posting chain (constants are the
    // Scala-computed doubles, round-tripped) + unit-weight distinct
    // query terms + the shared sparse scoring tail.
    "q251_bm25_retrieval" ->
      ("WITH " + bm25PostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // Hybrid RRF: the q247 sparse chain's top-5 full-joined with a
    // dense brute-force top-5 over the same hash-sampled ids, then the
    // fixed-order 1/(60+rank) sum (dense term first) at 6 dp.
    "q252_hybrid_rrf" ->
      ("WITH " + hybridFusionCtes +
        "\nSELECT query_id, doc_id, rank_1, rank_2, rrf FROM fz" +
        "\nORDER BY query_id, rrf DESC, doc_id"),

    // Hybrid ranked eval: the shared fusion chain re-ranked by
    // (rrf DESC, doc_id), graded against the dense top-5 (`dn`) as
    // gold — MRR + binary nDCG with 6-dp DECIMAL(9,6) log2 terms.
    "q257_hybrid_ranked_eval" ->
      ("WITH " + hybridFusionCtes + ",\n" +
        """rk AS (SELECT query_id, doc_id,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |   ORDER BY rrf DESC, doc_id) AS BIGINT) AS rn
          | FROM fz),
          |run AS (SELECT query_id, doc_id, rn FROM rk WHERE rn <= 5),
          |ev AS (SELECT g.query_id, g.rn AS grn, r.rn
          |       FROM dn g LEFT JOIN run r
          |        ON r.query_id = g.query_id AND r.doc_id = g.doc_id)
          |SELECT query_id,
          | CAST(count(rn) AS BIGINT) AS n_hit,
          | coalesce(round(1.0 / min(rn), 6), 0.0) AS mrr,
          | round(CAST(sum(CASE WHEN rn IS NOT NULL
          |    THEN CAST(round(1.0 / log2(rn + 1.0), 6) AS DECIMAL(9,6))
          |    ELSE CAST(0 AS DECIMAL(9,6)) END) AS DOUBLE)
          |  / CAST(sum(CAST(round(1.0 / log2(grn + 1.0), 6) AS DECIMAL(9,6)))
          |     AS DOUBLE), 6) AS ndcg
          |FROM ev GROUP BY 1 ORDER BY query_id""".stripMargin),

    // Anisotropy: all pairs of the 64-winner absolute hash sample, the
    // Spark-shaped explicit cosine fold (products fold / norm-fold
    // product) rounded onto DECIMAL(9,6), exact decimal sums, one
    // terminal division each. The 64-wide width guard states the
    // operator's dim rule (the jlWidthGuardSql precedent) — the
    // range(1, 65) fold below assumes it.
    "q253_anisotropy" ->
      s"""WITH ${evalSampleNCte("qse", "embeddings", "vec_id", 64)},
         |v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |            FROM embeddings JOIN qse USING (vec_id)
         |            ${jlWidthGuardSql()}),
         |n AS (SELECT vec_id, v,
         |       sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nn
         |      FROM v0),
         |p AS (SELECT CAST(round(
         |        list_reduce(list_transform(range(1, 65), j -> a.v[j] * b.v[j]), (x, y) -> x + y)
         |         / (a.nn * b.nn), 6) AS DECIMAL(9,6)) AS c
         |      FROM n a JOIN n b ON a.vec_id < b.vec_id
         |      WHERE a.nn > 0 AND b.nn > 0)
         |SELECT (SELECT count(*) FROM n WHERE nn > 0) AS n_vectors,
         | count(*) AS n_pairs,
         | round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_cos,
         | round(CAST(sum(abs(c)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_abs_cos
         |FROM p""".stripMargin,

    // Per-label anisotropy: the q253 fold chain (same 64-winner sample
    // and width guard) with the pair join keyed on label, per-group
    // rollup, and the left join that keeps single-member labels as
    // zero-pair rows.
    "q259_anisotropy_by_label" ->
      s"""WITH ${evalSampleNCte("qse", "embeddings", "vec_id", 64)},
         |v0 AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |            FROM embeddings JOIN qse USING (vec_id)
         |            ${jlWidthGuardSql()}),
         |g AS (SELECT label, vec_id, v,
         |       sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nn
         |      FROM v0
         |      WHERE sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) > 0),
         |p AS (SELECT a.label, CAST(round(
         |        list_reduce(list_transform(range(1, 65), j -> a.v[j] * b.v[j]), (x, y) -> x + y)
         |         / (a.nn * b.nn), 6) AS DECIMAL(9,6)) AS c
         |      FROM g a JOIN g b ON a.label = b.label AND a.vec_id < b.vec_id),
         |pr AS (SELECT label, count(*) AS n_pairs,
         |        round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_cos,
         |        round(CAST(sum(abs(c)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_abs_cos
         |       FROM p GROUP BY 1),
         |nv AS (SELECT label, count(*) AS n_vectors FROM g GROUP BY 1)
         |SELECT nv.label, nv.n_vectors, coalesce(pr.n_pairs, 0) AS n_pairs,
         | pr.mean_cos, pr.mean_abs_cos
         |FROM nv LEFT JOIN pr USING (label) ORDER BY nv.label""".stripMargin,

    // Hybrid index serving: the q219 IVF-PQ chain with the 16-winner
    // query sample + the q247 sparse chain scored over the cap-25
    // pruned postings (q248's cpost recipe) + the q252 fusion tail —
    // the engine serves both arms from persisted index relations,
    // bit-identical to these inline chains by construction (the
    // q232-vs-q219 / q258-vs-q247 convention, composed).
    "q260_hybrid_index_search" ->
      ("WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparsePostingCtes + ",\n" + hybridIndexFusionTail),

    // Out-of-corpus hybrid SERVING: q260's exact oracle with the sparse
    // query side restated through the queryPostings reconstruction
    // formula (the q264 convention) — in-corpus reconstruction is
    // bit-exact, so the two statements must agree row-for-row.
    "q265_hybrid_query_serving" ->
      ("WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparseReconstructionCtes + ",\n" + hybridIndexFusionTail),

    // Sparse vocabulary drift: index-side df = the posting-list length
    // (the minDf=2 dfq filter), batch-side df over the 256-winner
    // sample, full-joined df shares (missing side 0), 9-dp share
    // deltas into a DECIMAL(28,12) sum, one terminal 0.5 multiply —
    // the ivfDriftReport recipe on the union vocabulary.
    "q261_sparse_drift" ->
      s"""WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |tfd AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
         |idxdf AS (SELECT token, df AS di FROM dfq WHERE df >= 2),
         |${evalSampleNCte("qsb", "documents", "doc_id", 256)},
         |bt AS (SELECT DISTINCT d.doc_id, d.token FROM dt d JOIN qsb USING (doc_id)),
         |bdf AS (SELECT token, count(*) AS db FROM bt GROUP BY 1),
         |per AS (SELECT token, coalesce(i.di, 0) AS di, coalesce(b.db, 0) AS db
         |        FROM idxdf i FULL JOIN bdf b USING (token)),
         |tots AS (SELECT sum(di) AS ti, sum(db) AS tb FROM per),
         |tv AS (SELECT round(CAST(sum(CAST(
         |         CASE WHEN t.ti > 0 AND t.tb > 0
         |          THEN round(abs(di::DOUBLE / t.ti - db::DOUBLE / t.tb), 9)
         |         END AS DECIMAL(28,12))) AS DOUBLE) * 0.5, 6) AS tv
         |       FROM per, tots t)
         |SELECT
         | CAST(sum(CASE WHEN di > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_index_terms,
         | CAST(sum(CASE WHEN db > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_terms,
         | CAST(sum(CASE WHEN di = 0 AND db > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_terms,
         | CASE WHEN t.tb > 0
         |  THEN round(sum(CASE WHEN di = 0 THEN db ELSE 0 END)::DOUBLE / t.tb, 6)
         | END AS oov_mass,
         | tv.tv AS tv,
         | (CASE WHEN t.tb > 0
         |   THEN round(sum(CASE WHEN di = 0 THEN db ELSE 0 END)::DOUBLE / t.tb, 6)
         |  END > 0.2 OR tv.tv > 0.25) AS rebuild
         |FROM per, tots t, tv GROUP BY t.tb, tv.tv""".stripMargin,

    // Query-profile reconstruction: bit-exact to the q247 chain for
    // in-corpus query docs, by the queryPostings parity contract.
    "q264_sparse_query_profile" ->
      ("WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // BM25 reconstruction serving: q251's Okapi chain with the query
    // side restated through queryPostings' bm25 arm — unit weights on
    // distinct IN-VOCABULARY query terms (the reconstruction's actual
    // output; the vocabulary restriction is dot-product-neutral).
    "q266_bm25_query_profile" ->
      ("WITH " + bm25ReconstructionCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // Hybrid health gate: the q249 per-cell drift chain rolled to its
    // one-row dense summary (suffixed _d) + the q261 vocabulary-drift
    // chain's sparse summary, unioned with bool_or(gate) repeated on
    // both rows — both algebras stated exactly as their graded
    // precedents.
    "q267_hybrid_health" ->
      s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |nrm AS (SELECT vec_id,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n FROM c),
        |cents AS (SELECT vec_id AS cell, v AS cv FROM c
        |          WHERE ${evalSampleSql("vec_id", 900)} ORDER BY vec_id LIMIT 16),
        |assign AS (
        | SELECT vec_id, cell, is_base FROM (
        |  SELECT c.vec_id, ct.cell,
        |   ${evalSampleSql("c.vec_id", 900)} AS is_base,
        |   row_number() OVER (PARTITION BY c.vec_id
        |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
        |  FROM c JOIN nrm nn ON nn.vec_id = c.vec_id AND nn.n > 0, cents ct)
        | WHERE arn = 1),
        |occ AS (SELECT cell,
        |  SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS nb,
        |  SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS nd
        | FROM assign GROUP BY 1),
        |per_d AS (SELECT ct.cell, coalesce(o.nb, 0) AS n_index,
        |           coalesce(o.nd, 0) AS n_batch
        |          FROM cents ct LEFT JOIN occ o ON o.cell = ct.cell),
        |tots_d AS (SELECT SUM(n_index) AS tb, SUM(n_batch) AS td FROM per_d),
        |wfd AS (SELECT CASE WHEN t.tb > 0 AND t.td > 0 THEN
        |   round(abs(CAST(p.n_index AS DOUBLE) / t.tb - CAST(p.n_batch AS DOUBLE) / t.td), 9)
        |  END AS drift
        | FROM per_d p, tots_d t),
        |tvd AS (SELECT round(CAST(SUM(CAST(drift AS DECIMAL(28,12))) AS DOUBLE) * 0.5, 6) AS tv
        |        FROM wfd),
        |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfd AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
        |idxdf AS (SELECT token, df AS di FROM dfq WHERE df >= 2),
        |${evalSampleNCte("qsb", "documents", "doc_id", 256)},
        |bt AS (SELECT DISTINCT d.doc_id, d.token FROM dt d JOIN qsb USING (doc_id)),
        |bdf AS (SELECT token, count(*) AS db FROM bt GROUP BY 1),
        |per AS (SELECT token, coalesce(i.di, 0) AS di, coalesce(b.db, 0) AS db
        |        FROM idxdf i FULL JOIN bdf b USING (token)),
        |tots AS (SELECT sum(di) AS ti, sum(db) AS tb FROM per),
        |tv AS (SELECT round(CAST(sum(CAST(
        |         CASE WHEN t.ti > 0 AND t.tb > 0
        |          THEN round(abs(di::DOUBLE / t.ti - db::DOUBLE / t.tb), 9)
        |         END AS DECIMAL(28,12))) AS DOUBLE) * 0.5, 6) AS tv
        |       FROM per, tots t),
        |sagg AS (SELECT sum(CASE WHEN di = 0 THEN db ELSE 0 END) AS oovdf FROM per),
        |drow AS (SELECT 'dense' AS arm, CAST(NULL AS DOUBLE) AS oov_mass,
        |          v.tv AS tv, v.tv > 0.1 AS gate FROM tvd v),
        |srow AS (SELECT 'sparse' AS arm,
        |          CASE WHEN t.tb > 0 THEN round(a.oovdf::DOUBLE / t.tb, 6) END AS oov_mass,
        |          v.tv AS tv,
        |          ((CASE WHEN t.tb > 0 THEN round(a.oovdf::DOUBLE / t.tb, 6) END) > 0.2
        |            OR v.tv > 0.25) AS gate
        |         FROM sagg a, tots t, tv v),
        |rws AS (SELECT * FROM drow UNION ALL SELECT * FROM srow),
        |anyg AS (SELECT bool_or(gate) AS rebuild_any FROM rws)
        |SELECT r.arm, r.oov_mass, r.tv, r.gate, a.rebuild_any
        |FROM rws r, anyg a ORDER BY r.arm""".stripMargin,

    // CombMNZ score fusion of the lexical ensemble: the q247 TF-IDF
    // scoring chain + the q251 Okapi chain (reusing the shared
    // dt/tfd/ndocs/dfq/qsd CTEs, _b-suffixed additions), each arm's
    // top-5 min-max normalized per query (constant/single-row list →
    // 1.0), fixed-order sum × agreement count at 6 dp.
    "q268_score_fusion" ->
      ("WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") + ",\n" +
        """dlen AS (SELECT doc_id, sum(tf) AS len FROM tfd GROUP BY 1),
          |avgl AS (SELECT CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          |         FROM dlen),
          |post_b AS (SELECT t.doc_id, t.token,
          |          CAST(round(ln((n.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * 2.2 /
          |           (t.tf + 1.2 * (0.25 + 0.75 * CAST(l.len AS DOUBLE) / a.avgdl)), 6)
          |           AS DECIMAL(18,6)) AS w
          |         FROM tfd t JOIN dfq d USING (token) JOIN dlen l USING (doc_id),
          |              ndocs n, avgl a
          |         WHERE d.df >= 2),
          |qp_b AS (SELECT DISTINCT doc_id AS query_id, token, CAST(1 AS DECIMAL(18,6)) AS w
          |         FROM dt JOIN qsd USING (doc_id)),
          |sc_b AS (SELECT q.query_id, p.doc_id,
          |      CAST(SUM(CAST(p.w * q.w AS DECIMAL(38,12))) AS DOUBLE) AS score
          |     FROM post_b p JOIN qp_b q USING (token)
          |     WHERE p.doc_id <> q.query_id GROUP BY 1, 2),
          |r_b AS (SELECT query_id, doc_id, score,
          |      CAST(row_number() OVER (PARTITION BY query_id
          |       ORDER BY score DESC, doc_id) AS BIGINT) AS rn
          |     FROM sc_b),
          |lt AS (SELECT query_id, doc_id, score FROM r WHERE rn <= 5),
          |lb AS (SELECT query_id, doc_id, score FROM r_b WHERE rn <= 5),
          |et AS (SELECT query_id, min(score) AS mn, max(score) AS mx FROM lt GROUP BY 1),
          |eb AS (SELECT query_id, min(score) AS mn, max(score) AS mx FROM lb GROUP BY 1),
          |nt AS (SELECT l.query_id, l.doc_id,
          |        CASE WHEN e.mx > e.mn THEN (l.score - e.mn) / (e.mx - e.mn)
          |             ELSE 1.0 END AS nrm
          |       FROM lt l JOIN et e USING (query_id)),
          |nb AS (SELECT l.query_id, l.doc_id,
          |        CASE WHEN e.mx > e.mn THEN (l.score - e.mn) / (e.mx - e.mn)
          |             ELSE 1.0 END AS nrm
          |       FROM lb l JOIN eb e USING (query_id)),
          |fj AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
          |        coalesce(a.doc_id, b.doc_id) AS doc_id,
          |        a.nrm AS n1, b.nrm AS n2
          |       FROM nt a FULL JOIN nb b
          |        ON b.query_id = a.query_id AND b.doc_id = a.doc_id),
          |fzz AS (SELECT query_id, doc_id,
          |        CAST((CASE WHEN n1 IS NOT NULL THEN 1 ELSE 0 END)
          |           + (CASE WHEN n2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lists,
          |        round((coalesce(n1, 0.0) + coalesce(n2, 0.0)) *
          |              ((CASE WHEN n1 IS NOT NULL THEN 1 ELSE 0 END)
          |             + (CASE WHEN n2 IS NOT NULL THEN 1 ELSE 0 END)), 6) AS fused
          |        FROM fj)
          |SELECT query_id, doc_id, n_lists, fused FROM fzz
          |ORDER BY query_id, fused DESC, doc_id""".stripMargin),

    // Weighted RRF: the shared q252 arms with the 0.7/0.3 coefficients
    // (dense term first; weights cast to DOUBLE so both engines divide
    // the identical IEEE values).
    "q269_weighted_rrf" ->
      ("WITH " + hybridArmsCtes + ",\n" +
        """fz AS (SELECT query_id, doc_id, rank_1, rank_2,
          | round((CASE WHEN rank_1 IS NOT NULL
          |         THEN CAST(0.7 AS DOUBLE) / (60.0 + rank_1) ELSE 0.0 END)
          |     + (CASE WHEN rank_2 IS NOT NULL
          |         THEN CAST(0.3 AS DOUBLE) / (60.0 + rank_2) ELSE 0.0 END), 6) AS rrf
          |       FROM f)
          |SELECT query_id, doc_id, rank_1, rank_2, rrf FROM fz
          |ORDER BY query_id, rrf DESC, doc_id""".stripMargin),

    // Binary (sign-bit) two-stage ANN: 32-bit sign-word packing
    // (1::BIGINT << j sums — the engine's reversed acc·2 fold states the
    // same Σ bit_j·2^j), hamming-ASC stage-1 rank (≡ agreement DESC),
    // exact cosine rerank — q54's two-stage statement at the 1-bit axis.
    "q270_binary_rerank" ->
      ("WITH " + binaryRerankCtes(rerank = 20) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // Binary-quantization recall gate: the q270 chain + the q256-style
    // exact brute-force top-5 over the same winners + the left-join
    // recall rollup.
    "q271_binary_recall" ->
      ("WITH " + binaryRerankCtes(rerank = 20) + ",\n" +
        """bf AS (SELECT query_id, neighbor_id FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |   row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id) AS brn
          |  FROM v q JOIN qs s ON s.vec_id = q.vec_id
          |  JOIN fn qn ON qn.vec_id = q.vec_id AND qn.n > 0
          |  JOIN v c ON c.vec_id <> q.vec_id
          |  JOIN fn cn ON cn.vec_id = c.vec_id AND cn.n > 0)
          | WHERE brn <= 5),
          |ann AS (SELECT query_id, neighbor_id, 1 AS hit FROM r WHERE rn <= 5)
          |SELECT bf.query_id,
          | CAST(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          | round(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6) AS recall
          |FROM bf LEFT JOIN ann
          | ON ann.query_id = bf.query_id AND ann.neighbor_id = bf.neighbor_id
          |GROUP BY 1 ORDER BY bf.query_id""".stripMargin),

    // Scan-pruned IVF-PQ serving: the probed-cell scan predicate is
    // result-invariant (stage 1 equi-joins on cell), so the query grades
    // against q232's oracle VERBATIM — the parity contract.
    "q272_ivf_pq_pruned" -> ivfPqRawOracleSql,

    // Stored-vector IVF-PQ serving: the rerank reads the same vector
    // values from the index's vec payload — bit-identical to q232, so
    // it grades against the same SQL (the parity convention).
    "q277_ivf_pq_stored" -> ivfPqRawOracleSql,

    // Binary index lifecycle: one shared two-stage tail with the inline
    // q270 (spec-pinned), so it grades against the same SQL.
    "q275_binary_index" ->
      ("WITH " + binaryRerankCtes(rerank = 20) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // Training export: q84's z formula gates, q20's sha-256 min-id
    // canonical pick dedups, q97's md5 hash60 deal shards — the three
    // graded conventions composed in one statement.
    "q273_training_export" ->
      ("WITH " + exportCtes +
        """SELECT doc_id, shard,
          | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
          |   AS BIGINT) AS pos,
          | n_tokens
          |FROM sh ORDER BY shard, pos""".stripMargin),

    // Near-dup training export: the gate CTEs + q58's dedup chain
    // restated over the gated relation g (sig/bands/verify/exact edges/
    // recursive components/min-label survivors) + the q97 deal tail.
    "q276_training_export_near" ->
      ("WITH RECURSIVE " + exportGateCtes + ",\n" +
        s"sig AS (${minhashSigSqlOver("g")}), bands AS ($bandsSql),\n" +
        s"""cand AS (
           | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |shv AS (${shingleSqlOver("g")}),
           |sz AS (SELECT doc_id, count(*) AS szz FROM shv GROUP BY 1),
           |inter AS (
           | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
           | FROM cand c JOIN shv sa ON sa.doc_id = c.doc_a JOIN shv sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
           | GROUP BY 1, 2),
           |near AS (
           | SELECT i.doc_a, i.doc_b FROM inter i
           | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
           | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
           |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM g GROUP BY 1),
           |exacte AS (SELECT gg.canon AS doc_a, d.doc_id AS doc_b
           |           FROM g d JOIN exactg gg ON sha256(d.text) IS NOT DISTINCT FROM gg.h
           |           WHERE d.doc_id <> gg.canon),
           |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
           |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
           |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
           |cc(node, label) AS (
           | SELECT nn, nn FROM nodes
           | UNION
           | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
           |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label)),
           |surv AS (SELECT doc_id, text FROM g
           |         WHERE doc_id NOT IN (SELECT node FROM losers)),
           |s2 AS (SELECT doc_id,
           |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |        md5('epoch1' || CAST(doc_id AS VARCHAR)) AS h
           |       FROM surv),
           |deal AS (SELECT doc_id, n_tokens,
           |          ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard, h
           |         FROM s2)
           |SELECT doc_id, shard,
           | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
           |   AS BIGINT) AS pos,
           | n_tokens
           |FROM deal ORDER BY shard, pos""".stripMargin),

    // Export shard report: the same chain rolled to per-shard counts.
    "q274_export_shard_report" ->
      ("WITH " + exportCtes +
        """SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin),

    // The full stored+clustered hybrid deployment: every lifecycle step
    // is bit-identity-contracted (stored rerank ≡ corpus rerank ≡ q232,
    // clustered save/load ≡ flat, sparse round-trip ≡ build, in-corpus
    // reconstruction ≡ postings), so the end-to-end serve grades against
    // q265's oracle VERBATIM — the parity chain IS the graded claim.
    "q278_hybrid_stored_clustered" ->
      ("WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparseReconstructionCtes + ",\n" + hybridIndexFusionTail),

    // Weighted hybrid serving: q260's exact oracle with the q269
    // coefficients in the fusion tail (dense 0.7, sparse 0.3, both CAST
    // to DOUBLE so the engines divide identical IEEE values).
    "q279_hybrid_weighted" ->
      ("WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparsePostingCtes + ",\n" +
        hybridIndexFusionTailWeighted("0.7", "0.3")),

    // Cell-pruned binary serving: the q219 coarse-quantizer statement
    // (first-16 centroids, cosine-distance assignment, per-query top-4
    // probes) composed with the q270 sign-word hamming rank — stage-1
    // candidates are the query's probed cells' rows (IVF semantics),
    // stage 2 the exact-cosine rerank.
    "q280_binary_cell_pruned" ->
      ("WITH " + binaryCellCtes(nProbe = 4, rerank = 20) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn"),

    // Binary-cells operating-point plan: ONE shared coarse/words chain,
    // ranked probes at the widest grid point, one suffixed two-stage
    // tail per nProbe, the shared brute-force arm, EXACT per-point
    // stage-1 rows from probe-rank × occupancy, and the deterministic
    // (meets, rows, recall desc, rows, probe) chosen window — the q242
    // statement shape on the binary axis.
    "q285_binary_cells_plan" -> binaryCellsPlanOracleSql,

    // Cell-pruned binary recall gate: the q280 chain + the q271-style
    // exact brute-force top-5 over the same winners + the left-join
    // recall rollup.
    "q284_binary_cells_recall" ->
      ("WITH " + binaryCellCtes(nProbe = 4, rerank = 20) + ",\n" +
        """qs AS (SELECT vec_id FROM qse),
          |bf AS (SELECT query_id, neighbor_id FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |   row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id) AS brn
          |  FROM v q JOIN qs s ON s.vec_id = q.vec_id
          |  JOIN fn qn ON qn.vec_id = q.vec_id AND qn.n > 0
          |  JOIN v c ON c.vec_id <> q.vec_id
          |  JOIN fn cn ON cn.vec_id = c.vec_id AND cn.n > 0)
          | WHERE brn <= 5),
          |ann AS (SELECT query_id, neighbor_id, 1 AS hit FROM r WHERE rn <= 5)
          |SELECT bf.query_id,
          | CAST(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          | round(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6) AS recall
          |FROM bf LEFT JOIN ann
          | ON ann.query_id = bf.query_id AND ann.neighbor_id = bf.neighbor_id
          |GROUP BY 1 ORDER BY bf.query_id""".stripMargin),

    // Export round-trip: reading the written shard=<k>/ layout back
    // reproduces the export relation row-for-row — graded against
    // q273's statement verbatim (the store round-trip convention).
    "q281_export_roundtrip" ->
      ("WITH " + exportCtes +
        """SELECT doc_id, shard,
          | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
          |   AS BIGINT) AS pos,
          | n_tokens
          |FROM sh ORDER BY shard, pos""".stripMargin),

    // Score-fused hybrid serving: the q232 dense chain with the rerank
    // cosine VALUES restated through the exact dot/norm fold (the q211
    // convention), the q248 capped sparse scoring chain, and the q268
    // min-max CombMNZ tail over the two top-5 lists.
    "q282_hybrid_score_serving" -> hybridScoreOracleSql,

    // The score verb over the stored+clustered deployment: rerank
    // cosine VALUES bit-identical by the q277 stored-rerank contract,
    // the rest of the parity chain as q278 — q282's oracle verbatim.
    "q283_hybrid_score_stored" -> hybridScoreOracleSql,


    // Absolute-size hash sample: the 32 smallest-ticket ids (md5 hash60
    // mod 2^50, salt "us", ties by id) — the winners CTE every round-14
    // eval oracle states, graded directly.
    "q263_hash_sample_n" ->
      s"""WITH ${evalSampleNCte("w", "documents", "doc_id", 32)}
         |SELECT doc_id, source, lang FROM documents JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Cap operating-point plan: one suffixed scoring tail per grid cap
    // over its pruned posting relation (the q242 parameterized-arms
    // convention), the exact arm stated once, EXACT capped sizes
    // Σ min(len_t, cap) from one length table, and the deterministic
    // (meets, size, recall desc, cap) chosen window.
    "q262_sparse_cap_plan" -> {
      val caps = Seq(5, 10, 25, 50)
      val arms = caps.map { c =>
        s"""cp$c AS (SELECT doc_id, token, w FROM (
           |  SELECT doc_id, token, w,
           |   row_number() OVER (PARTITION BY token ORDER BY w DESC, doc_id) AS prn
           |  FROM post) WHERE prn <= $c),""".stripMargin + "\n" +
          sparseTopKTail(s"cp$c", s"_c$c")
      }.mkString(",\n")
      val hitsUnion = caps.map(c =>
        s"""SELECT $c AS cap, e.query_id, count(*) AS h
           |FROM ex5 e JOIN (SELECT query_id, doc_id FROM r_c$c WHERE rn <= 5) a
           | USING (query_id, doc_id) GROUP BY 1, 2""".stripMargin)
        .mkString("\nUNION ALL\n")
      val sizesUnion = caps.map(c =>
        s"SELECT $c AS cap, CAST(sum(least(len, $c)) AS BIGINT) AS n_postings FROM lens")
        .mkString("\nUNION ALL\n")
      // mean_recall = the per-query recalls' mean, each normalized by
      // the query's ACTUAL exact-row count (9-dp ratios into an exact
      // DECIMAL(28,12) sum, one terminal divide by the query count) —
      // the operator's per-query normalization, stated identically
      "WITH " + sparsePostingCtes + ",\n" +
        sparseTopKTail("post", "_ex") + ",\n" + arms + ",\n" +
        s"""ex5 AS (SELECT query_id, doc_id FROM r_ex WHERE rn <= 5),
           |lens AS (SELECT token, count(*) AS len FROM post GROUP BY 1),
           |exq AS (SELECT query_id, count(*) AS ex FROM ex5 GROUP BY 1),
           |nq AS (SELECT count(*) AS nq FROM exq),
           |hitsq AS ($hitsUnion),
           |sizes AS ($sizesUnion),
           |grid AS (SELECT unnest([${caps.mkString(", ")}]) AS cap),
           |pq AS (SELECT g.cap, CAST(round(coalesce(h.h, 0)::DOUBLE / x.ex, 9)
           |         AS DECIMAL(28,12)) AS r
           |       FROM grid g CROSS JOIN exq x
           |       LEFT JOIN hitsq h ON h.cap = g.cap AND h.query_id = x.query_id),
           |rec AS (SELECT cap, round(CAST(sum(r) AS DOUBLE) / q.nq, 6) AS mean_recall
           |        FROM pq, nq q GROUP BY cap, q.nq),
           |pl AS (SELECT g.cap, rc.mean_recall, s.n_postings
           |       FROM grid g JOIN rec rc USING (cap) JOIN sizes s USING (cap))
           |SELECT cap, mean_recall, n_postings,
           | (row_number() OVER (ORDER BY (mean_recall >= 0.8) DESC,
           |    CASE WHEN mean_recall >= 0.8 THEN n_postings END ASC NULLS LAST,
           |    mean_recall DESC, n_postings ASC, cap ASC) = 1) AS chosen
           |FROM pl ORDER BY cap""".stripMargin
    },

    // Cluster-balanced selection: the q183 k-means chain (k=8, 2
    // iterations, 64 dims) + the q205 content-hash lottery per cluster.
    "q254_cluster_balanced" ->
      ("WITH " + kmeansCtes(8, 2, 64, off = 0, sfx = "") + ",\n" +
        """h AS (SELECT cluster, vec_id,
          |  ('0x' || substr(md5('us' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
          |   % 1125899906842624 AS hv
          | FROM a3),
          |rk AS (SELECT cluster, vec_id,
          |  CAST(row_number() OVER (PARTITION BY cluster ORDER BY hv, vec_id) AS BIGINT) AS rn
          | FROM h)
          |SELECT CAST(cluster AS INT) AS cluster, vec_id, rn
          |FROM rk WHERE rn <= 5 ORDER BY cluster, rn""".stripMargin),

    // JL projection: the 16 plane-weight folds as a zipped unnest —
    // identical left-to-right product folds, round 6 + 0.0 (zround).
    "q255_jl_project" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings ${jlWidthGuardSql()}),
         |pr AS (SELECT vec_id, unnest(range(0, 16)) AS p,
         |        unnest(${jlProjListSql(16, 64)}) AS value FROM v)
         |SELECT vec_id, CAST(p AS BIGINT) AS p, value FROM pr
         |ORDER BY vec_id, p""".stripMargin,

    // JL recall gate: projected-space brute-force top-5 (the rounded
    // 16-dim lists) vs exact full-dim top-5 on the 2% hash sample, the
    // q234 left-join recall rollup.
    "q256_jl_recall" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |pj AS (SELECT vec_id, ${jlProjListSql(16, 64)} AS pv FROM v
         |       ${jlWidthGuardSql("v")}),
         |${evalSampleNCte("qse", "embeddings", "vec_id", 16)},
         |qs AS (SELECT vec_id FROM qse),
         |pn AS (SELECT vec_id,
         |        sqrt(list_reduce(list_transform(pv, x -> x * x), (x, y) -> x + y)) AS n
         |       FROM pj),
         |fn AS (SELECT vec_id,
         |        sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS n
         |       FROM v),
         |r AS (SELECT query_id, neighbor_id,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |   list_cosine_similarity(c.pv, q.pv) AS cos
         |  FROM pj q JOIN qs s ON s.vec_id = q.vec_id
         |  JOIN pn qn ON qn.vec_id = q.vec_id AND qn.n > 0
         |  JOIN pj c ON c.vec_id <> q.vec_id
         |  JOIN pn cn ON cn.vec_id = c.vec_id AND cn.n > 0)),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id) AS brn
         |  FROM v q JOIN qs s ON s.vec_id = q.vec_id
         |  JOIN fn qn ON qn.vec_id = q.vec_id AND qn.n > 0
         |  JOIN v c ON c.vec_id <> q.vec_id
         |  JOIN fn cn ON cn.vec_id = c.vec_id AND cn.n > 0)
         | WHERE brn <= 5),
         |ann AS (SELECT query_id, neighbor_id, 1 AS hit FROM r WHERE rn <= 5)
         |SELECT bf.query_id,
         | CAST(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | round(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6) AS recall
         |FROM bf LEFT JOIN ann
         | ON ann.query_id = bf.query_id AND ann.neighbor_id = bf.neighbor_id
         |GROUP BY 1 ORDER BY bf.query_id""".stripMargin,

    // Banded recall planner: identical angle grid, 9-dp collision curve
    // points, decimal Riemann masses, 6-dp score, (score, planes DESC)
    // chosen window — the q239 recipe in angle space.
    "q244_banded_recall_plan" ->
      """WITH sp AS (SELECT * FROM (VALUES (2), (4), (6), (8)) t(planes)),
        |g AS (SELECT (CAST(i AS DOUBLE) + 0.5) / 100 AS t FROM range(100) r(i)),
        |p AS (SELECT planes, t,
        |  round(1.0 - pow(1.0 - pow(1.0 - t, planes), 3), 9) AS p
        | FROM sp, g),
        |agg AS (SELECT planes,
        |  round(CAST(sum(CASE WHEN t > 0.369 THEN CAST(p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fp,
        |  round(CAST(sum(CASE WHEN t <= 0.369 THEN CAST(1.0 - p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fn
        | FROM p GROUP BY 1),
        |sc AS (SELECT planes, 3 AS tables, fp, fn,
        |  round(0.5 * fp + 0.5 * fn, 6) AS score FROM agg)
        |SELECT planes, tables, fp, fn, score,
        | row_number() OVER (ORDER BY score, planes DESC) = 1 AS chosen
        |FROM sc ORDER BY planes""".stripMargin,

    // k-NN label consistency: the q26 brute-force ranking (cos desc, id
    // ties, zero-norm drops on both sides) + per-query vote counts +
    // the (count DESC, label ASC) majority window + per-label rollup.
    "q237_knn_label_consistency" ->
      s"""WITH ${evalSampleNCte("qse64", "embeddings", "vec_id", 64)},
        |c AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nm
        | FROM c),
        |q AS (SELECT c.vec_id, c.label, c.v FROM c
        |      JOIN n ON n.vec_id = c.vec_id
        |      WHERE c.vec_id IN (SELECT vec_id FROM qse64) AND n.nm > 0),
        |nn AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, cn.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(cn.v, q.v) DESC, cn.vec_id) AS rn
        |  FROM q JOIN c cn ON cn.vec_id <> q.vec_id
        |  JOIN n nc ON nc.vec_id = cn.vec_id AND nc.nm > 0) WHERE rn <= 5),
        |votes AS (SELECT nn.query_id, cl.label AS nl, count(*) AS c
        |          FROM nn JOIN c cl ON cl.vec_id = nn.neighbor_id
        |          WHERE cl.label IS NOT NULL GROUP BY 1, 2),
        |maj AS (SELECT query_id, nl AS knn_label FROM (
        |  SELECT query_id, nl,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nl ASC) AS vr
        |  FROM votes) WHERE vr = 1)
        |SELECT q.label, count(*) AS n_queries,
        | CAST(sum(CASE WHEN m.knn_label = q.label THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        | round(CAST(sum(CASE WHEN m.knn_label = q.label THEN 1 ELSE 0 END) AS DOUBLE)
        |       / count(*), 6) AS consistency
        |FROM q JOIN maj m ON m.query_id = q.vec_id
        |GROUP BY 1 ORDER BY q.label""".stripMargin,

    // Two-NN intrinsic dimension: squared distances via the SAME
    // |a|^2 - 2ab + |b|^2 fold order at 6 dp, (d2 asc, id asc) ranks,
    // 9-dp decimal log-mu sums (the q79 recipe), one terminal division.
    "q238_intrinsic_dimension" ->
      s"""WITH c AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |${evalSampleNCte("qse64", "embeddings", "vec_id", 64)},
        |q AS (SELECT vec_id, v FROM c JOIN qse64 USING (vec_id)),
        |d AS (SELECT q.vec_id AS query_id, cn.vec_id AS neighbor_id,
        |  round(list_reduce(list_transform(range(1, 65), j -> cn.v[j] * cn.v[j]), (a, b) -> a + b)
        |   - 2.0 * list_reduce(list_transform(range(1, 65), j -> cn.v[j] * q.v[j]), (a, b) -> a + b)
        |   + list_reduce(list_transform(range(1, 65), j -> q.v[j] * q.v[j]), (a, b) -> a + b), 6) AS d2
        | FROM q JOIN c cn ON cn.vec_id <> q.vec_id),
        |r AS (SELECT query_id, d2,
        |  row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rn
        | FROM d),
        |tw AS (SELECT a.query_id, a.d2 AS d1, b.d2 AS dd2
        |       FROM r a JOIN r b ON a.query_id = b.query_id AND a.rn = 1 AND b.rn = 2
        |       WHERE a.d2 > 0),
        |lm AS (SELECT query_id, round(0.5 * ln(dd2 / d1), 9) AS logmu FROM tw)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | round(CAST(sum(CAST(logmu AS DECIMAL(28,12))) AS DOUBLE), 6) AS sum_log_mu,
        | round(CAST(count(*) AS DOUBLE) /
        |  (CASE WHEN sum(CAST(logmu AS DECIMAL(28,12))) > 0
        |        THEN CAST(sum(CAST(logmu AS DECIMAL(28,12))) AS DOUBLE) END), 6)
        |  AS id_estimate
        |FROM lm""".stripMargin,

    // Near-dup recall gate: the q60 md5-permille sample + the q25-style
    // division-free exact pairs + the q81 three-table bucket collision
    // (banded pairs = exact pairs that collide in >= 1 table).
    "q240_neardup_recall" ->
      s"""WITH ${evalSampleNCte("qse", "embeddings", "vec_id", 256)},
         |s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings JOIN qse USING (vec_id)),
         |n AS (SELECT vec_id,
         |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nm FROM s),
         |ex AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         | FROM s a JOIN s b ON a.vec_id < b.vec_id
         | JOIN n na ON na.vec_id = a.vec_id
         | JOIN n nb ON nb.vec_id = b.vec_id
         | WHERE list_reduce(list_transform(range(1, 65), j -> a.v[j] * b.v[j]),
         |        (x, y) -> x + y) > 0.4 * na.nm * nb.nm),
         |bk AS (SELECT vec_id, ${lshBucketSql("v", 4, 0)} AS b0,
         |       ${lshBucketSql("v", 4, 4)} AS b1,
         |       ${lshBucketSql("v", 4, 8)} AS b2 FROM s),
         |bd AS (SELECT e.id_a, e.id_b FROM ex e
         | JOIN bk x ON x.vec_id = e.id_a
         | JOIN bk y ON y.vec_id = e.id_b
         | WHERE x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2)
         |SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         | CAST((SELECT count(*) FROM bd) AS BIGINT) AS n_banded,
         | round(CAST((SELECT count(*) FROM bd) AS DOUBLE) /
         |  (CASE WHEN (SELECT count(*) FROM ex) > 0
         |        THEN CAST((SELECT count(*) FROM ex) AS DOUBLE) END), 6) AS recall""".stripMargin,

    // Banding planner: identical splits, midpoint grid, 9-dp curve
    // points, decimal Riemann masses, 6-dp score, (score, bands DESC)
    // chosen window.
    "q239_banding_plan" ->
      """WITH sp AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8))
        |            AS t(bands, rows_per_band)),
        |g AS (SELECT (CAST(i AS DOUBLE) + 0.5) / 100 AS s FROM range(100) r(i)),
        |p AS (SELECT bands, rows_per_band, s,
        |  round(1.0 - pow(1.0 - pow(s, rows_per_band), bands), 9) AS p
        | FROM sp, g),
        |agg AS (SELECT bands, rows_per_band,
        |  round(CAST(sum(CASE WHEN s < 0.5 THEN CAST(p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fp,
        |  round(CAST(sum(CASE WHEN s >= 0.5 THEN CAST(1.0 - p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fn
        | FROM p GROUP BY 1, 2),
        |sc AS (SELECT bands, rows_per_band, fp, fn,
        |  round(0.5 * fp + 0.5 * fn, 6) AS score FROM agg)
        |SELECT bands, rows_per_band, fp, fn, score,
        | row_number() OVER (ORDER BY score, bands DESC) = 1 AS chosen
        |FROM sc ORDER BY rows_per_band""".stripMargin,

    // SemDeDup: the q183 kmeans chain (MATERIALIZED — multiply
    // referenced) + within-cluster pairs through the q211 exact cosine
    // fold + the q197 recursive min-label closure (recursive members
    // stay plain — DuckDB cannot materialize them).
    "q220_semantic_dedup" -> {
      val chain = kmeansCtes(4, 2, 64, off = 0, sfx = "")
        .replaceAll("AS \\(", "AS MATERIALIZED (")
      s"""WITH RECURSIVE $chain,
         |vv AS MATERIALIZED (
         | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         | FROM embeddings),
         |nn AS MATERIALIZED (
         | SELECT vec_id,
         |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
         | FROM vv),
         |ed AS MATERIALIZED (
         | SELECT aa.vec_id AS doc_a, ab.vec_id AS doc_b
         | FROM a3 aa JOIN a3 ab
         |   ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
         | JOIN vv va ON va.vec_id = aa.vec_id
         | JOIN vv vb ON vb.vec_id = ab.vec_id
         | JOIN nn na ON na.vec_id = aa.vec_id
         | JOIN nn nb ON nb.vec_id = ab.vec_id
         | WHERE na.n > 0 AND nb.n > 0
         |   AND list_reduce(list_transform(range(1, 65), j -> va.v[j] * vb.v[j]),
         |        (a, b) -> a + b) / (na.n * nb.n) >= 0.4),
         |nodes(nd) AS (SELECT doc_a FROM ed UNION SELECT doc_b FROM ed),
         |und(a, b) AS (SELECT doc_a, doc_b FROM ed
         |              UNION SELECT doc_b, doc_a FROM ed),
         |cc(node, label) AS (
         | SELECT nd, nd FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node
         | WHERE cc.label < u.b),
         |m AS (SELECT node, min(label) AS component FROM cc GROUP BY node)
         |SELECT e.vec_id,
         | CASE WHEN m.component IS NOT NULL AND m.component <> e.vec_id
         |      THEN 'dropped_semantic' ELSE 'kept' END AS status,
         | coalesce(m.component, e.vec_id) AS winner_id
         |FROM embeddings e LEFT JOIN m ON m.node = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    },

    // Banded SemDeDup: the q220 oracle with the candidate stage
    // additionally gated on sharing an LSH band bucket in >= 1 of the 3
    // independent tables (the q81 lshBucketSql twins at plane offsets
    // 0/4/8) — same exact-threshold verification, same recursive
    // min-label closure, same audit shape.
    "q233_semantic_dedup_banded" -> {
      val chain = kmeansCtes(4, 2, 64, off = 0, sfx = "")
        .replaceAll("AS \\(", "AS MATERIALIZED (")
      s"""WITH RECURSIVE $chain,
         |vv AS MATERIALIZED (
         | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         | FROM embeddings),
         |nn AS MATERIALIZED (
         | SELECT vec_id,
         |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
         | FROM vv),
         |bk AS MATERIALIZED (
         | SELECT vec_id, ${lshBucketSql("v", 4, 0)} AS b0,
         |        ${lshBucketSql("v", 4, 4)} AS b1,
         |        ${lshBucketSql("v", 4, 8)} AS b2 FROM vv),
         |ed AS MATERIALIZED (
         | SELECT aa.vec_id AS doc_a, ab.vec_id AS doc_b
         | FROM a3 aa JOIN a3 ab
         |   ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
         | JOIN bk ba ON ba.vec_id = aa.vec_id
         | JOIN bk bb ON bb.vec_id = ab.vec_id
         | JOIN vv va ON va.vec_id = aa.vec_id
         | JOIN vv vb ON vb.vec_id = ab.vec_id
         | JOIN nn na ON na.vec_id = aa.vec_id
         | JOIN nn nb ON nb.vec_id = ab.vec_id
         | WHERE (ba.b0 = bb.b0 OR ba.b1 = bb.b1 OR ba.b2 = bb.b2)
         |   AND na.n > 0 AND nb.n > 0
         |   AND list_reduce(list_transform(range(1, 65), j -> va.v[j] * vb.v[j]),
         |        (a, b) -> a + b) / (na.n * nb.n) >= 0.4),
         |nodes(nd) AS (SELECT doc_a FROM ed UNION SELECT doc_b FROM ed),
         |und(a, b) AS (SELECT doc_a, doc_b FROM ed
         |              UNION SELECT doc_b, doc_a FROM ed),
         |cc(node, label) AS (
         | SELECT nd, nd FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node
         | WHERE cc.label < u.b),
         |m AS (SELECT node, min(label) AS component FROM cc GROUP BY node)
         |SELECT e.vec_id,
         | CASE WHEN m.component IS NOT NULL AND m.component <> e.vec_id
         |      THEN 'dropped_semantic' ELSE 'kept' END AS status,
         | coalesce(m.component, e.vec_id) AS winner_id
         |FROM embeddings e LEFT JOIN m ON m.node = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    },

    // Per-group Mann–Whitney AUC: same per-(group, DISTINCT score)
    // midrank table (ties share 2·below + c + 1), DECIMAL(38,0) rank
    // sums, ONE terminal division of exact integers — no rounding.
    "q221_group_auc" ->
      """WITH s AS (
        | SELECT source,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |  lang = 'en' AS label
        | FROM documents WHERE text IS NOT NULL),
        |pv AS (
        | SELECT source, score, count(*) AS c,
        |  sum(CASE WHEN label THEN 1 ELSE 0 END) AS cp
        | FROM s WHERE score IS NOT NULL AND label IS NOT NULL GROUP BY 1, 2),
        |rk AS (
        | SELECT source, c, cp,
        |  2 * coalesce(sum(c) OVER (PARTITION BY source ORDER BY score
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS dblmid
        | FROM pv),
        |agg AS (
        | SELECT source, sum(cp) AS n_pos, sum(c - cp) AS n_neg,
        |  sum(CAST(dblmid AS DECIMAL(38,0)) * CAST(cp AS DECIMAL(38,0))) AS rp
        | FROM rk GROUP BY 1)
        |SELECT source, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        | CASE WHEN n_pos > 0 AND n_neg > 0
        |  THEN (CAST(rp AS DOUBLE) - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE))
        |       / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc
        |FROM agg ORDER BY source""".stripMargin,

    // Brier/ECE/worst-gap: identical IEEE bin floors, 9-dp decimal term
    // sums for the Brier squares and the n_b/n-weighted |gap| terms,
    // terminal 6 dp — all metrics >= 0 by construction.
    "q222_score_eval" ->
      """WITH s AS (
        | SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |  lang = 'en' AS label
        | FROM documents WHERE text IS NOT NULL),
        |b AS (
        | SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, score, label,
        |  CASE WHEN label THEN 1.0 ELSE 0.0 END AS y
        | FROM s WHERE score IS NOT NULL AND label IS NOT NULL),
        |bt AS (
        | SELECT bin, count(*) AS n,
        |  sum(CAST(round(score, 9) AS DECIMAL(28,12))) AS ss,
        |  sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos,
        |  sum(CAST(round((score - y) * (score - y), 9) AS DECIMAL(28,12))) AS sq
        | FROM b GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn FROM bt),
        |g AS (
        | SELECT bt.*, tot.nn,
        |  abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) AS gap
        | FROM bt CROSS JOIN tot)
        |SELECT CAST(max(nn) AS BIGINT) AS n, count(*) AS n_bins,
        | round(CAST(sum(sq) AS DOUBLE) / CAST(max(nn) AS DOUBLE), 6) AS brier,
        | round(CAST(sum(CAST(round(gap * CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 9)
        |   AS DECIMAL(28,12))) AS DOUBLE), 6) AS ece,
        | max(round(gap, 6)) AS max_abs_gap
        |FROM g""".stripMargin,

    // Isotonic: identical bin floors, the same minimax
    // max_{i<=b} min_{j>=b} of integer-range-sum averages, terminal 6 dp.
    "q225_isotonic" ->
      """WITH s AS (
        | SELECT
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
        |  lang = 'en' AS label
        | FROM documents WHERE text IS NOT NULL),
        |bb AS (
        | SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, label
        | FROM s WHERE score IS NOT NULL AND label IS NOT NULL),
        |bt AS (
        | SELECT bin, count(*) AS n,
        |  sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos
        | FROM bb GROUP BY 1),
        |cum AS (
        | SELECT bin, n, pos,
        |  sum(n) OVER (ORDER BY bin
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |  sum(pos) OVER (ORDER BY bin
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        | FROM bt),
        |rg AS (
        | SELECT l.bin AS i, h.bin AS j,
        |  CAST(h.cp - (l.cp - l.pos) AS DOUBLE)
        |   / CAST(h.cn - (l.cn - l.n) AS DOUBLE) AS r
        | FROM cum l, cum h WHERE l.bin <= h.bin),
        |inn AS (
        | SELECT a.bin AS b, rg.i, min(rg.r) AS m
        | FROM rg, (SELECT bin FROM bt) a
        | WHERE rg.i <= a.bin AND rg.j >= a.bin GROUP BY 1, 2),
        |f AS (SELECT b AS bin, max(m) AS fv FROM inn GROUP BY 1)
        |SELECT bt.bin, bt.n,
        | round(CAST(bt.pos AS DOUBLE) / CAST(bt.n AS DOUBLE), 6) AS frac_positive,
        | round(f.fv, 6) AS fitted
        |FROM bt JOIN f USING (bin) ORDER BY bin""".stripMargin,

    // Contrastive triples: the q25 bucket candidates with the q211
    // exact cosine fold kept, band negatives ranked per anchor, both
    // pair orientations, anchor-keyed weld.
    "q226_contrastive_triples" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM v
         |      WHERE sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) > 0),
         |cand AS (
         | SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  list_reduce(list_transform(range(1, 65), j -> a.v[j] * c.v[j]), (x, y) -> x + y)
         |   / (sqrt(list_reduce(list_transform(range(1, 65), j -> a.v[j] * a.v[j]), (x, y) -> x + y))
         |      * sqrt(list_reduce(list_transform(range(1, 65), j -> c.v[j] * c.v[j]), (x, y) -> x + y))) AS cos
         | FROM b a JOIN b c ON a.vec_id < c.vec_id
         | WHERE bit_count(xor(a.bucket, c.bucket)) <= 1),
         |bo AS (SELECT id_a AS anchor_id, id_b AS other, cos FROM cand
         |       UNION ALL SELECT id_b, id_a, cos FROM cand),
         |negs AS (
         | SELECT anchor_id, other AS negative_id, round(cos, 6) + 0.0 AS neg_cos,
         |  CAST(row_number() OVER (PARTITION BY anchor_id
         |   ORDER BY cos DESC, other) AS BIGINT) AS rn
         | FROM bo WHERE cos >= 0.05 AND cos < 0.35),
         |pos AS (SELECT id_a AS anchor_id, id_b AS positive_id FROM cand WHERE cos > 0.4
         |        UNION ALL SELECT id_b, id_a FROM cand WHERE cos > 0.4)
         |SELECT p.anchor_id, p.positive_id, n.negative_id, n.neg_cos, n.rn
         |FROM pos p JOIN negs n USING (anchor_id) WHERE n.rn <= 2
         |ORDER BY anchor_id, positive_id, rn""".stripMargin,

    // Curriculum: identical per-group rank windows, sorted-distinct
    // group indexing, and the same interleave arithmetic.
    "q227_curriculum" ->
      """WITH g AS (
        | SELECT source, row_number() OVER (ORDER BY source) - 1 AS gidx
        | FROM (SELECT DISTINCT source FROM documents
        |       WHERE n_chars IS NOT NULL AND source IS NOT NULL)),
        |ng AS (SELECT count(*) AS n FROM g),
        |r AS (
        | SELECT doc_id, source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY n_chars, doc_id) AS BIGINT) AS rank_in_group
        | FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL)
        |SELECT r.doc_id, r.source, r.n_chars, r.rank_in_group,
        | CAST((r.rank_in_group - 1) * ng.n + g.gidx AS BIGINT) AS position
        |FROM r JOIN g USING (source) CROSS JOIN ng
        |ORDER BY position""".stripMargin,

    // Mixture plan: the same double ratio ordering, DECIMAL(38,0)
    // saturation cross-products against the pre-i prefix state, prefix
    // min for the water-filling cut, and the identical terminal lambda*w.
    "q228_mixture_plan" ->
      """WITH sup AS (
        | SELECT source, count(*) AS supply,
        |  CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |       THEN 50000 ELSE 100000 END AS weight
        | FROM documents GROUP BY source),
        |k AS (SELECT source, supply, weight,
        |  CAST(supply AS DOUBLE) / CAST(weight AS DOUBLE) AS key FROM sup),
        |c AS (SELECT source, supply, weight, key,
        |  sum(supply) OVER w AS s, sum(weight) OVER w AS ws,
        |  sum(weight) OVER () AS wt
        | FROM k WINDOW w AS (ORDER BY key, source
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *,
        |  CASE WHEN CAST(supply AS DECIMAL(38,0))
        |        * (CAST(wt AS DECIMAL(38,0)) - CAST(ws AS DECIMAL(38,0))
        |           + CAST(weight AS DECIMAL(38,0)))
        |       <= (CAST(300 AS DECIMAL(38,0))
        |           - (CAST(s AS DECIMAL(38,0)) - CAST(supply AS DECIMAL(38,0))))
        |          * CAST(weight AS DECIMAL(38,0))
        |   THEN 1 ELSE 0 END AS cc FROM c),
        |sat AS (SELECT *, min(cc) OVER (ORDER BY key, source
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS satf FROM f),
        |cut AS (
        | SELECT coalesce(sum(CASE WHEN satf = 1 THEN supply END), 0) AS ss,
        |  coalesce(sum(CASE WHEN satf = 1 THEN weight END), 0) AS sw FROM sat)
        |SELECT sat.source, CAST(sat.supply AS BIGINT) AS supply,
        | CAST(sat.weight AS BIGINT) AS weight,
        | CASE WHEN sat.satf = 1 THEN round(CAST(sat.supply AS DOUBLE), 6)
        |  ELSE round(CAST(300 - cut.ss AS DOUBLE) * CAST(sat.weight AS DOUBLE)
        |       / CAST(sat.wt - cut.sw AS DOUBLE), 6) END AS allocation
        |FROM sat CROSS JOIN cut ORDER BY source""".stripMargin,

    // Padding waste: identical rank windows and batch floors, exact
    // integer n·max sums, one terminal division (+0.0: a pre-sorted
    // arrival order makes the saving an exact signed zero).
    "q229_padding_waste" ->
      """WITH nn AS (
        | SELECT source, doc_id, CAST(n_chars AS BIGINT) AS len
        | FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |b AS (
        | SELECT source, len,
        |  CAST(floor((row_number() OVER (PARTITION BY source
        |    ORDER BY len, doc_id) - 1) / 8.0) AS BIGINT) AS bs,
        |  CAST(floor((row_number() OVER (PARTITION BY source
        |    ORDER BY doc_id) - 1) / 8.0) AS BIGINT) AS ba
        | FROM nn),
        |ps AS (
        | SELECT source, sum(n) AS n_rows, count(*) AS n_batches,
        |  sum(sm) AS tokens, sum(n * mx) AS padded_sorted
        | FROM (SELECT source, bs, count(*) AS n, max(len) AS mx,
        |        sum(len) AS sm FROM b GROUP BY 1, 2)
        | GROUP BY 1),
        |pa AS (
        | SELECT source, sum(n * mx) AS padded_arrival
        | FROM (SELECT source, ba, count(*) AS n, max(len) AS mx
        |        FROM b GROUP BY 1, 2)
        | GROUP BY 1)
        |SELECT ps.source, CAST(ps.n_rows AS BIGINT) AS n_rows,
        | CAST(ps.n_batches AS BIGINT) AS n_batches,
        | CAST(ps.tokens AS BIGINT) AS tokens,
        | CAST(ps.padded_sorted AS BIGINT) AS padded_sorted,
        | CAST(pa.padded_arrival AS BIGINT) AS padded_arrival,
        | round(1.0 - CAST(ps.padded_sorted AS DOUBLE)
        |   / CAST(pa.padded_arrival AS DOUBLE), 6) + 0.0 AS saving_frac
        |FROM ps JOIN pa USING (source) ORDER BY source""".stripMargin,

    // Dedup ROI: the q58 chain verbatim (bands → Jaccard-verified near
    // edges ∪ exact-digest edges → recursive min-label closure), labels
    // exactly like q156, rolled up with the token counts.
    "q230_dedup_roi" ->
      (s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         |lab AS (
         | SELECT d.doc_id, d.source,
         |  CAST(len(list_filter(string_split(d.text, ' '), t -> t <> '')) AS BIGINT) AS toks,
         |  CASE WHEN d.doc_id IN (SELECT doc_b FROM exacte) THEN 'dropped_exact'
         |       WHEN c.comp IS NOT NULL AND c.comp <> d.doc_id THEN 'dropped_near'
         |       ELSE 'kept' END AS status
         | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT source, status, count(*) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM lab GROUP BY 1, 2 ORDER BY source, status""".stripMargin),

    // Expectations: one SELECT per rule over the same scan semantics —
    // the anchored regex stated as regexp_full_match to mirror Spark's
    // ^(?:...)$ rlike wrap.
    "q223_expectations" ->
      """WITH t AS (SELECT count(*) AS n FROM documents),
        |r AS (
        | SELECT 'in_range(n_chars,1.0,400.0)' AS rule,
        |  (SELECT count(*) FROM documents
        |   WHERE n_chars IS NOT NULL AND (n_chars < 1.0 OR n_chars > 400.0)) AS v
        | UNION ALL
        | SELECT 'in_set(lang)',
        |  (SELECT count(*) FROM documents
        |   WHERE lang IS NOT NULL AND lang NOT IN ('de','en','es','fr','zh'))
        | UNION ALL
        | SELECT 'matches(source)',
        |  (SELECT count(*) FROM documents
        |   WHERE source IS NOT NULL AND NOT regexp_full_match(source, '(?:src[0-9]+)'))
        | UNION ALL
        | SELECT 'not_null(text)',
        |  (SELECT count(*) FROM documents WHERE text IS NULL)
        | UNION ALL
        | SELECT 'unique(doc_id)',
        |  (SELECT count(doc_id) - count(DISTINCT doc_id) FROM documents))
        |SELECT r.rule, CAST(t.n AS BIGINT) AS n_rows,
        | CAST(r.v AS BIGINT) AS n_violations,
        | round(CAST(r.v AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS violation_frac
        |FROM r CROSS JOIN t ORDER BY rule""".stripMargin,

    // Quantile normalization: per-group quantile_cont boundary arrays,
    // the q168 list_filter rank fold, global inverse CDF at the bucket
    // midpoints, list lookup, 6 dp (+0.0 — generic value domains can be
    // signed even though n_chars is not).
    "q224_quantile_normalize" ->
      """WITH b AS (
        | SELECT source, quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        | FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |g AS (
        | SELECT quantile_cont(n_chars, [0.05, 0.15, 0.25, 0.35, 0.45, 0.55, 0.65, 0.75, 0.85, 0.95]) AS gq
        | FROM documents WHERE n_chars IS NOT NULL)
        |SELECT d.doc_id, d.source, d.n_chars,
        | CASE WHEN d.n_chars IS NOT NULL THEN
        |  round(g.gq[len(list_filter(b.qs, q -> d.n_chars > q)) + 1], 6) + 0.0
        | END AS normalized
        |FROM documents d JOIN b USING (source) CROSS JOIN g
        |ORDER BY doc_id""".stripMargin
  )

  /** DuckDB twin of [[graft.operators.TextAnalysis.bpeTrainMerges]]:
    * the count→argmax→replace loop unrolled into `merges` CTE rounds
    * over the word-frequency table.
    */
  /** 3×3 determinant in the canonical cofactor order — the VERBATIM SQL
    * mirror of [[graft.operators.Regression]]'s `det3` (same association,
    * same operand order → identical IEEE evaluation).
    */
  private def det3Sql(a: String, b: String, c: String,
                      d: String, e: String, f: String,
                      g: String, h: String, i: String): String =
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g) + $c * ($d * $h - $e * $g))"

  private def bpeOracleSql(merges: Int): String = {
    val finalRows = (1 to merges)
      .map(i => s"""SELECT $i AS step, l AS "left", r AS "right", pc AS pair_count FROM b$i""")
      .mkString("\nUNION ALL\n")
    "WITH " + bpeCtes(merges) + "\n" +
      "SELECT CAST(step AS INT) AS step, \"left\", \"right\", CAST(pair_count AS BIGINT) AS pair_count FROM (\n" +
      finalRows + ") ORDER BY step"
  }

  /** The shared BPE merge-loop CTE chain (`w0`…`w{merges}` word states,
    * `b1`…`b{merges}` per-round argmax merges) — the word string `w`
    * rides every state row so the final state doubles as the encoding
    * map (q212); the training oracle (q193) reads only the `b$i` rows.
    */
  private def bpeCtes(merges: Int): String = {
    def round(i: Int): String =
      s"""p$i AS (
         | SELECT sy[i] AS l, sy[i + 1] AS r, sum(cnt) AS pc FROM (
         |  SELECT cnt, sy, unnest(range(1, len(sy))) AS i FROM (
         |   SELECT cnt, list_filter(string_split(s, '|'), x -> x <> '') AS sy
         |   FROM w${i - 1}))
         | GROUP BY 1, 2),
         |b$i AS (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |w$i AS (
         | SELECT w.w, w.cnt,
         |  coalesce(replace(w.s, '|' || b.l || '||' || b.r || '|', '|' || b.l || b.r || '|'), w.s) AS s
         | FROM w${i - 1} w LEFT JOIN b$i b ON TRUE)""".stripMargin
    "w0 AS (\n" +
      " SELECT w, cnt, '|' || array_to_string(string_split(w, ''), '||') || '|' AS s\n" +
      " FROM (SELECT w, count(*) AS cnt FROM\n" +
      "  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)\n" +
      "  WHERE w <> '' AND w NOT LIKE '%|%' GROUP BY 1)),\n" +
      (1 to merges).map(round).mkString(",\n")
  }

  /** DuckDB twin of [[graft.operators.TextAnalysis.bpeTokenCounts]]:
    * the [[bpeCtes]] training chain, then the final state's
    * pieces-per-word map joined back to each document's eligible words
    * (left join from the doc base — all-excluded docs report 0/0).
    */
  private def bpeEncodeOracleSql(merges: Int): String =
    "WITH " + bpeCtes(merges) + ",\n" +
      s"""wl AS (
         | SELECT w, CAST(len(list_filter(string_split(s, '|'), x -> x <> '')) AS BIGINT) AS np
         | FROM w$merges),
         |dw AS (
         | SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents WHERE text IS NOT NULL)
         | WHERE w <> '' AND w NOT LIKE '%|%'),
         |a AS (
         | SELECT dw.doc_id, count(*) AS nw, sum(wl.np) AS nt
         | FROM dw JOIN wl USING (w) GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(a.nw, 0) AS BIGINT) AS n_words,
         | CAST(coalesce(a.nt, 0) AS BIGINT) AS n_tokens
         |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
         |LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Spark twin of [[trigramEdgeSql]]: canonical a<b edges between docs
    * sharing a df-[2,4] trigram — the similarity graph under
    * q143/q187/q188/q196 (one definition, one parity surface).
    */
  private def trigramEdges(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 3)
    val f = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, 4)).select("shingle")
    val rare = sh.join(f, Seq("shingle"))
    rare.select(col("shingle"), col("doc_id").as("a"))
      .join(rare.select(col("shingle"), col("doc_id").as("b")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** The q143 trigram-similarity edge CTE chain (`sh`/`f`/`r`/`e`,
    * canonical lo<hi edges between docs sharing a df∈[2,4] trigram) —
    * shared by the q187/q188 graph oracles.
    */
  private val trigramEdgeSql: String =
    """sh AS (SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |         || ' ' || string_split(text, ' ')[i+2])) AS shingle
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |f AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
      |      WHERE df BETWEEN 2 AND 4),
      |r AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN f USING (shingle)),
      |e AS (SELECT DISTINCT a.doc_id AS lo, b.doc_id AS hi
      |      FROM r a JOIN r b ON a.shingle = b.shingle AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.kmeansLloyd]]: the
    * assign→update recurrence unrolled into `iters` CTE pairs plus the
    * final assignment — the same 9-dp component entry, DECIMAL(28,12)
    * centroid sums, and 6-dp distance argmin with the cluster-id
    * tiebreak.
    */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String =
    "WITH " + kmeansCtes(k, iters, dim, off = 0, sfx = "") +
      s"\nSELECT vec_id, CAST(cluster AS INT) AS cluster FROM a${iters + 1} ORDER BY vec_id"

  /** The assign→update CTE chain of [[kmeansOracleSql]], parameterized
    * with a slice OFFSET into the embedding and a relation-name SUFFIX
    * so several independent chains compose in one query (the q207
    * product-quantization oracle runs one chain per subspace). The
    * final assignment relation is `a(iters+1)(sfx)`. A non-empty
    * `assignRel` decouples TRAINING from the final assignment (the q241
    * frozen-codebook add): iterations see only `srcRel`'s slices, but
    * the terminal assignment codes every `assignRel` row against the
    * final centroids.
    */
  private def kmeansCtes(k: Int, iters: Int, dim: Int, off: Int, sfx: String,
                         srcRel: String = "embeddings",
                         assignRel: String = ""): String = {
    // the |v|²−2vc+|c|² identity the Spark kernel computes, with the
    // same fixed shape: vn2 − 2.0·dot + cn2 then round 6
    def assign(i: Int, c: String, vRel: String, n2Rel: String): String =
      s"""cn$i$sfx AS (SELECT cl, sum(cv * cv) AS cn2 FROM $c GROUP BY 1),
         |d$i$sfx AS (
         | SELECT v.vec_id, c.cl,
         |  round(max(n2.vn2) - 2.0 * sum(v.vd * c.cv) + max(cn.cn2), 6) AS d
         | FROM $vRel v JOIN $c c ON c.pos = v.pos
         | JOIN $n2Rel n2 ON n2.vec_id = v.vec_id
         | JOIN cn$i$sfx cn ON cn.cl = c.cl
         | GROUP BY 1, 2),
         |a$i$sfx AS (
         | SELECT vec_id, cl AS cluster FROM (
         |  SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
         |  FROM d$i$sfx)
         | WHERE rn = 1)""".stripMargin
    // an emptied cluster keeps its previous centroid (the Scala
    // kmeansLloyd rule): the fresh member means left-join onto the prior
    // centroid grid and coalesce, so a cluster that empties at any
    // iteration stays in all later assignment rounds instead of silently
    // vanishing from the CTE chain
    def update(i: Int): String =
      s"""u$i$sfx AS (
         | SELECT a.cluster AS cl, v.pos,
         |  round(CAST(sum(CAST(v.vd AS DECIMAL(28,12))) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE), 9) AS cv
         | FROM a$i$sfx a JOIN v$sfx v ON v.vec_id = a.vec_id GROUP BY 1, 2),
         |c$i$sfx AS (
         | SELECT p.cl, p.pos, coalesce(u.cv, p.cv) AS cv
         | FROM c${i - 1}$sfx p LEFT JOIN u$i$sfx u ON u.cl = p.cl AND u.pos = p.pos)""".stripMargin
    val steps = (1 to iters).map(i =>
      assign(i, s"c${i - 1}$sfx", s"v$sfx", s"n2$sfx") + ",\n" + update(i))
    val finalAssign =
      if (assignRel.isEmpty) assign(iters + 1, s"c$iters$sfx", s"v$sfx", s"n2$sfx")
      else assign(iters + 1, s"c$iters$sfx", s"va$sfx", s"na2$sfx")
    val assignSlices = if (assignRel.isEmpty) "" else
      s"""va$sfx AS (
         | SELECT vec_id, r.i AS pos,
         |  round(CAST(embedding[CAST(r.i AS INT) + 1 + $off] AS DOUBLE), 9) AS vd
         | FROM $assignRel, range($dim) r(i)),
         |na2$sfx AS (SELECT vec_id, sum(vd * vd) AS vn2 FROM va$sfx GROUP BY 1),
         |""".stripMargin
    s"""v$sfx AS (
       | SELECT vec_id, r.i AS pos,
       |  round(CAST(embedding[CAST(r.i AS INT) + 1 + $off] AS DOUBLE), 9) AS vd
       | FROM $srcRel, range($dim) r(i)),
       |n2$sfx AS (SELECT vec_id, sum(vd * vd) AS vn2 FROM v$sfx GROUP BY 1),
       |${assignSlices}init$sfx AS (
       | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, vec_id
       | FROM (SELECT vec_id FROM $srcRel ORDER BY vec_id LIMIT $k)),
       |c0$sfx AS (SELECT i.cl, v.pos, v.vd AS cv FROM init$sfx i JOIN v$sfx v ON v.vec_id = i.vec_id),
       |${steps.mkString(",\n")},
       |$finalAssign""".stripMargin
  }


  /** The IVF-PQ oracle CTE chain through relation `r` (per-query ANN
    * ranks): the q37 cell/probe CTEs + four suffixed q183 chains (the
    * q207 composition) + per-query ADC tables, stage-1 rank on the 6-dp
    * ADC sum over the candidate norm (id ties), exact-cosine rerank of
    * the top 20. SHARED verbatim by q219 (top-k rows), q232 (the
    * persisted-index search — [[graft.operators.Similarity.ivfPqSearch]]
    * is bit-identical to the inline operator BY CONSTRUCTION, so the
    * lifecycle query grades against the same SQL), and q234 (recall
    * join against a brute-force CTE). Every CTE is MATERIALIZED: the
    * chains are referenced by training, ADC, AND the code pivot, and
    * DuckDB's default inlining re-evaluates multiply-referenced CTEs —
    * measured >25 min at sf0.1 inlined vs 0.9 s materialized, same
    * result. Norm-positive guards on the stage-1 candidates and the
    * query set mirror the engine's zero-norm drop policy.
    */
  private lazy val ivfPqOracleCtes: String =
    ivfPqTrainCtes() + ",\n" + ivfPqSearchTailCtes(4, 20, "")

  /** Shared q247/q248 oracle chain: the q71 TF-IDF weight formula as a
    * DECIMAL(18,6) posting relation (minDf=2, stated identically to
    * TextAnalysis.tfidfPostings at its keep-all maxDfFrac default) and
    * the 16-winner absolute hash-sample query side ([[evalSampleNCte]]).
    */
  private lazy val sparsePostingCtes: String =
    s"""dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tfd AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
       |ndocs AS (SELECT count(*) AS n FROM documents),
       |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
       |post AS (SELECT t.doc_id, t.token,
       |          CAST(round(t.tf * ln(n.n::DOUBLE / d.df), 6) AS DECIMAL(18,6)) AS w
       |         FROM tfd t JOIN dfq d USING (token), ndocs n
       |         WHERE d.df >= 2),
       |${evalSampleNCte("qsd", "documents", "doc_id", 16)},
       |qp AS (SELECT doc_id AS query_id, token, w FROM post
       |       JOIN qsd USING (doc_id))""".stripMargin

  /** The q264/q265 RECONSTRUCTION variant of [[sparsePostingCtes]]:
    * the same index chain, but the query side restated through
    * [[graft.operators.TextAnalysis.queryPostings]]'s formula — the
    * query docs' raw-text term frequencies joined to the index's
    * persisted vocabulary (`vcb`, df = the kept posting-list length)
    * under the FROZEN corpus count, `w = round(tf · ln(N/df), 6)`.
    * For in-corpus query docs this reproduces their index postings
    * bit-for-bit (the spec-pinned parity contract), which is exactly
    * why a reconstruction-served query can grade against the
    * postings-derived oracle.
    */
  private lazy val sparseReconstructionCtes: String =
    s"""dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tfd AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
       |ndocs AS (SELECT count(*) AS n FROM documents),
       |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
       |post AS (SELECT t.doc_id, t.token,
       |          CAST(round(t.tf * ln(n.n::DOUBLE / d.df), 6) AS DECIMAL(18,6)) AS w
       |         FROM tfd t JOIN dfq d USING (token), ndocs n
       |         WHERE d.df >= 2),
       |${evalSampleNCte("qsd", "documents", "doc_id", 16)},
       |vcb AS (SELECT token, count(*) AS df FROM post GROUP BY 1),
       |qp AS (SELECT t.doc_id AS query_id, t.token,
       |        CAST(round(t.tf * ln(n.n::DOUBLE / v.df), 6) AS DECIMAL(18,6)) AS w
       |       FROM tfd t JOIN qsd USING (doc_id) JOIN vcb v USING (token),
       |            ndocs n)""".stripMargin

  /** The shared q260/q265 hybrid-index fusion tail: the cap-25 pruned
    * posting relation (q248's cpost recipe), its sparse top-5 scoring
    * tail, and the q252 RRF fusion of the two arms' rank lists —
    * assumes a `post`/`qp` chain ([[sparsePostingCtes]] or the
    * reconstruction variant) and the IVF-PQ `r` ranking CTE precede it.
    */
  private lazy val hybridIndexFusionTail: String =
    """cpost AS (SELECT doc_id, token, w FROM (
      |  SELECT doc_id, token, w,
      |   row_number() OVER (PARTITION BY token ORDER BY w DESC, doc_id) AS prn
      |  FROM post) WHERE prn <= 25),""".stripMargin + "\n" +
      sparseTopKTail("cpost", "_sp") + ",\n" +
      """spx AS (SELECT query_id, doc_id, rn FROM r_sp WHERE rn <= 5),
        |dnx AS (SELECT query_id, neighbor_id AS doc_id, rn FROM r WHERE rn <= 5),
        |f AS (SELECT coalesce(d.query_id, s.query_id) AS query_id,
        |       coalesce(d.doc_id, s.doc_id) AS doc_id,
        |       d.rn AS rank_1, s.rn AS rank_2
        |      FROM dnx d FULL JOIN spx s
        |       ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
        |fz AS (SELECT query_id, doc_id, rank_1, rank_2,
        | round((CASE WHEN rank_1 IS NOT NULL THEN 1.0 / (60.0 + rank_1) ELSE 0.0 END)
        |     + (CASE WHEN rank_2 IS NOT NULL THEN 1.0 / (60.0 + rank_2) ELSE 0.0 END), 6) AS rrf
        |       FROM f)
        |SELECT query_id, doc_id, rank_1, rank_2, rrf FROM fz
        |ORDER BY query_id, rrf DESC, doc_id""".stripMargin

  /** The q282/q283 score-fusion oracle: the q232 dense chain with the
    * rerank cosine VALUES restated through the exact dot/norm fold (the
    * q211 convention — list_cosine_similarity is rank-faithful but not
    * value-exact vs the engine's dot/(n·n)), the q248 capped sparse
    * scoring chain, and the q268 min-max CombMNZ tail over the two
    * top-5 lists. Shared verbatim by the inline (q282) and
    * stored+clustered (q283) servings — bit-identical scores by the
    * q277 stored-rerank contract.
    */
  private lazy val hybridScoreOracleSql: String =
    ("WITH " + ivfPqTrainCtes() + ",\n" +
      ivfPqSearchTailCtes(4, 20, "") + ",\n" +
      sparsePostingCtes + ",\n" +
      """cpost AS (SELECT doc_id, token, w FROM (
        |  SELECT doc_id, token, w,
        |   row_number() OVER (PARTITION BY token ORDER BY w DESC, doc_id) AS prn
        |  FROM post) WHERE prn <= 25),""".stripMargin + "\n" +
      sparseTopKTail("cpost", "_sp") + ",\n" +
      """rerx AS (SELECT s.query_id, s.neighbor_id,
        |  list_reduce(list_transform(range(1, 65), j -> cn.v[j] * cq.v[j]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(range(1, 65), j -> cn.v[j] * cn.v[j]), (x, y) -> x + y))
        |      * sqrt(list_reduce(list_transform(range(1, 65), j -> cq.v[j] * cq.v[j]), (x, y) -> x + y))) AS cos
        | FROM surv s JOIN c cn ON cn.vec_id = s.neighbor_id
        | JOIN c cq ON cq.vec_id = s.query_id),
        |ld AS (SELECT query_id, neighbor_id AS doc_id,
        |        round(cos, 6) + 0.0 AS score
        |       FROM (SELECT query_id, neighbor_id, cos,
        |              row_number() OVER (PARTITION BY query_id
        |               ORDER BY cos DESC, neighbor_id) AS xrn
        |             FROM rerx) WHERE xrn <= 5),
        |ls AS (SELECT query_id, doc_id, score FROM r_sp WHERE rn <= 5),
        |ed AS (SELECT query_id, min(score) AS mn, max(score) AS mx FROM ld GROUP BY 1),
        |es AS (SELECT query_id, min(score) AS mn, max(score) AS mx FROM ls GROUP BY 1),
        |nd AS (SELECT l.query_id, l.doc_id,
        |        CASE WHEN e.mx > e.mn THEN (l.score - e.mn) / (e.mx - e.mn)
        |             ELSE 1.0 END AS nrm
        |       FROM ld l JOIN ed e USING (query_id)),
        |ns AS (SELECT l.query_id, l.doc_id,
        |        CASE WHEN e.mx > e.mn THEN (l.score - e.mn) / (e.mx - e.mn)
        |             ELSE 1.0 END AS nrm
        |       FROM ls l JOIN es e USING (query_id)),
        |fj AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
        |        coalesce(a.doc_id, b.doc_id) AS doc_id,
        |        a.nrm AS n1, b.nrm AS n2
        |       FROM nd a FULL JOIN ns b
        |        ON b.query_id = a.query_id AND b.doc_id = a.doc_id),
        |fzz AS (SELECT query_id, doc_id,
        |        CAST((CASE WHEN n1 IS NOT NULL THEN 1 ELSE 0 END)
        |           + (CASE WHEN n2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lists,
        |        round((coalesce(n1, 0.0) + coalesce(n2, 0.0)) *
        |              ((CASE WHEN n1 IS NOT NULL THEN 1 ELSE 0 END)
        |             + (CASE WHEN n2 IS NOT NULL THEN 1 ELSE 0 END)), 6) AS fused
        |        FROM fj)
        |SELECT query_id, doc_id, n_lists, fused FROM fzz
        |ORDER BY query_id, fused DESC, doc_id""".stripMargin)

  /** [[hybridIndexFusionTail]] with per-arm RRF coefficients — the q279
    * weighted-serving oracle: identical chain, the fz terms multiplied
    * by `wd`/`ws` (CAST to DOUBLE, the q269 convention, so both engines
    * divide the same IEEE values).
    */
  private def hybridIndexFusionTailWeighted(wd: String, ws: String): String =
    """cpost AS (SELECT doc_id, token, w FROM (
      |  SELECT doc_id, token, w,
      |   row_number() OVER (PARTITION BY token ORDER BY w DESC, doc_id) AS prn
      |  FROM post) WHERE prn <= 25),""".stripMargin + "\n" +
      sparseTopKTail("cpost", "_sp") + ",\n" +
      s"""spx AS (SELECT query_id, doc_id, rn FROM r_sp WHERE rn <= 5),
         |dnx AS (SELECT query_id, neighbor_id AS doc_id, rn FROM r WHERE rn <= 5),
         |f AS (SELECT coalesce(d.query_id, s.query_id) AS query_id,
         |       coalesce(d.doc_id, s.doc_id) AS doc_id,
         |       d.rn AS rank_1, s.rn AS rank_2
         |      FROM dnx d FULL JOIN spx s
         |       ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
         |fz AS (SELECT query_id, doc_id, rank_1, rank_2,
         | round((CASE WHEN rank_1 IS NOT NULL
         |         THEN CAST($wd AS DOUBLE) / (60.0 + rank_1) ELSE 0.0 END)
         |     + (CASE WHEN rank_2 IS NOT NULL
         |         THEN CAST($ws AS DOUBLE) / (60.0 + rank_2) ELSE 0.0 END), 6) AS rrf
         |       FROM f)
         |SELECT query_id, doc_id, rank_1, rank_2, rrf FROM fz
         |ORDER BY query_id, rrf DESC, doc_id""".stripMargin

  /** The sparse-retrieval scoring tail over a posting CTE: exact decimal
    * dot products per (query, doc), one terminal double cast, the
    * (score DESC, doc_id) rank — suffixed so q248 can run it twice.
    */
  private def sparseTopKTail(postCte: String, sfx: String): String =
    s"""sc$sfx AS (SELECT q.query_id, p.doc_id,
       |      CAST(SUM(CAST(p.w * q.w AS DECIMAL(38,12))) AS DOUBLE) AS score
       |     FROM $postCte p JOIN qp q USING (token)
       |     WHERE p.doc_id <> q.query_id GROUP BY 1, 2),
       |r$sfx AS (SELECT query_id, doc_id, score,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc_id) AS BIGINT) AS rn
       |     FROM sc$sfx)""".stripMargin

  /** The shared q252/q257 hybrid-fusion chain: the q247 sparse top-5
    * (`sp`), the dense brute-force top-5 over the 16-winner absolute
    * hash sample (`dn` — also q257's gold), their full join (`f`), and
    * the fused scores (`fz`) with the fixed-order 1/(60+rank) sum,
    * dense term first, at 6 dp. The dense arm states cosinePairs'
    * zero-norm DROP explicitly (`vn` with `n > 0` joins on both roles,
    * the q256 convention) — without it a zero-norm fixture row would
    * NaN/error in DuckDB while Spark silently drops it.
    */
  private lazy val hybridArmsCtes: String =
    sparsePostingCtes + ",\n" + sparseTopKTail("post", "") + ",\n" +
      s"""sp AS (SELECT query_id, doc_id, rn FROM r WHERE rn <= 5),
         |ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |       FROM embeddings),
         |vn AS (SELECT vec_id,
         |        sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS n
         |       FROM ve),
         |${evalSampleNCte("qse", "embeddings", "vec_id", 16)},
         |dn AS (SELECT query_id, doc_id, rn FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |   CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id) AS BIGINT) AS rn
         |  FROM ve q JOIN qse s ON s.vec_id = q.vec_id
         |  JOIN vn qn ON qn.vec_id = q.vec_id AND qn.n > 0
         |  JOIN ve c ON c.vec_id <> q.vec_id
         |  JOIN vn cn ON cn.vec_id = c.vec_id AND cn.n > 0) WHERE rn <= 5),
         |f AS (SELECT coalesce(d.query_id, s.query_id) AS query_id,
         |       coalesce(d.doc_id, s.doc_id) AS doc_id,
         |       d.rn AS rank_1, s.rn AS rank_2
         |      FROM dn d FULL JOIN sp s
         |       ON s.query_id = d.query_id AND s.doc_id = d.doc_id)""".stripMargin

  private lazy val hybridFusionCtes: String =
    hybridArmsCtes + ",\n" +
      """fz AS (SELECT query_id, doc_id, rank_1, rank_2,
        | round((CASE WHEN rank_1 IS NOT NULL THEN 1.0 / (60.0 + rank_1) ELSE 0.0 END)
        |     + (CASE WHEN rank_2 IS NOT NULL THEN 1.0 / (60.0 + rank_2) ELSE 0.0 END), 6) AS rrf
        |       FROM f)""".stripMargin

  /** q251's BM25 posting chain: the Okapi weight formula
    * (non-negative idf, k1=1.2, b=0.75 — every constant the
    * Scala-computed double, round-tripped by toString) onto
    * DECIMAL(18,6), minDf=2, and unit-weight DISTINCT query terms on
    * the 16-winner absolute hash sample — stated identically to
    * TextAnalysis.bm25Postings' left-associated arithmetic.
    */
  private lazy val bm25PostingCtes: String = {
    val k1 = 1.2
    val b = 0.75
    s"""dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tfd AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
       |ndocs AS (SELECT count(*) AS n FROM documents),
       |dlen AS (SELECT doc_id, sum(tf) AS len FROM tfd GROUP BY 1),
       |avgl AS (SELECT CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |         FROM dlen),
       |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
       |post AS (SELECT t.doc_id, t.token,
       |          CAST(round(ln((n.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * ${k1 + 1.0} /
       |           (t.tf + $k1 * (${1.0 - b} + $b * CAST(l.len AS DOUBLE) / a.avgdl)), 6)
       |           AS DECIMAL(18,6)) AS w
       |         FROM tfd t JOIN dfq d USING (token) JOIN dlen l USING (doc_id),
       |              ndocs n, avgl a
       |         WHERE d.df >= 2),
       |${evalSampleNCte("qsd", "documents", "doc_id", 16)},
       |qp AS (SELECT DISTINCT doc_id AS query_id, token, CAST(1 AS DECIMAL(18,6)) AS w
       |       FROM dt JOIN qsd USING (doc_id))""".stripMargin
  }

  /** The q266 RECONSTRUCTION variant of [[bm25PostingCtes]]: the same
    * Okapi-weighted index chain, the query side restated through
    * [[graft.operators.TextAnalysis.queryPostings]]'s bm25 arm — UNIT
    * weights on the query docs' DISTINCT terms restricted to the
    * index's kept vocabulary (`vcb`). Restricting to the vocabulary is
    * result-neutral for the dot product (out-of-vocabulary query terms
    * have no posting list to match) but states the verb's actual
    * output, so the oracle checks the reconstruction itself.
    */
  private lazy val bm25ReconstructionCtes: String = {
    val k1 = 1.2
    val b = 0.75
    s"""dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tfd AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
       |ndocs AS (SELECT count(*) AS n FROM documents),
       |dlen AS (SELECT doc_id, sum(tf) AS len FROM tfd GROUP BY 1),
       |avgl AS (SELECT CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |         FROM dlen),
       |dfq AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
       |post AS (SELECT t.doc_id, t.token,
       |          CAST(round(ln((n.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * ${k1 + 1.0} /
       |           (t.tf + $k1 * (${1.0 - b} + $b * CAST(l.len AS DOUBLE) / a.avgdl)), 6)
       |           AS DECIMAL(18,6)) AS w
       |         FROM tfd t JOIN dfq d USING (token) JOIN dlen l USING (doc_id),
       |              ndocs n, avgl a
       |         WHERE d.df >= 2),
       |${evalSampleNCte("qsd", "documents", "doc_id", 16)},
       |vcb AS (SELECT token FROM post GROUP BY 1),
       |qp AS (SELECT DISTINCT t.doc_id AS query_id, t.token,
       |        CAST(1 AS DECIMAL(18,6)) AS w
       |       FROM tfd t JOIN qsd USING (doc_id) JOIN vcb USING (token))""".stripMargin
  }

  /** signProject's row-contract twin: the operator DROPS null, ragged,
    * and null-element vectors (the kmeansLloyd width rule) — every
    * oracle over it must state the same predicate or a future fixture
    * with such a row splits on row count.
    */
  private def jlWidthGuardSql(c: String = "embedding"): String =
    s"""WHERE $c IS NOT NULL AND len($c) = 64
       | AND len(list_filter($c, x -> x IS NULL)) = 0""".stripMargin

  /** DuckDB twin of [[graft.operators.Similarity.signProject]] over a
    * `dim`-wide `list<double>` column `v`: a list literal of `outDim`
    * plane-weight product folds (the same left-to-right order as the
    * native dot kernel), each rounded 6 dp and −0.0-normalized
    * (`+ 0.0`, the zround idiom).
    */
  private def jlProjListSql(outDim: Int, dim: Int): String =
    "[" + (0 until outDim).map { p =>
      s"""round(list_reduce(list_transform(range(1, ${dim + 1}),
         | j -> v[j] * CAST(${planeWeightSql(p)} AS DOUBLE)),
         | (x, y) -> x + y), 6) + 0.0""".stripMargin
    }.mkString(", ") + "]"

  /** The TRAINING half of the IVF-PQ oracle chain — four suffixed q183
    * k-means chains (PQ codebooks), per-query ADC tables over the
    * 16-winner absolute hash sample, the code pivot, and the coarse
    * cells/assignment relations through `qset`. Parameterized for the
    * q241 incremental-add oracle: `pre` prepends a CTE (the base
    * relation), `srcRel` restricts TRAINING to it, `assignRel` widens
    * the FINAL code assignment back to the full corpus, and `centsPred`
    * restricts the coarse-centroid pick — the from-scratch SQL
    * statement of "frozen codebooks, grown codes".
    */
  private def ivfPqTrainCtes(srcRel: String = "embeddings",
                             assignRel: String = "",
                             centsPred: String = "TRUE",
                             pre: String = "",
                             queryPred: String => String =
                               c => s"$c IN (SELECT vec_id FROM qse)")
      : String = {
    // the family-wide ABSOLUTE query sample (round 14): every IVF-PQ
    // eval query draws the same 16-winner lottery, so the broadcast
    // query side is pinned at 16 rows at any corpus size — the default
    // queryPred references it; callers overriding queryPred simply
    // leave the (tiny, unused) CTE behind
    val qseCte = evalSampleNCte("qse", "embeddings", "vec_id", 16)
    val chains = (0 until 4).map(sp =>
      kmeansCtes(4, 2, 16, sp * 16, s"_s$sp", srcRel, assignRel))
    // the query slices live in the per-subspace v CTEs over the TRAINED
    // relation — under an assignRel split they must come from the
    // full-corpus va CTEs instead (queries are sampled from everything)
    val adcV = if (assignRel.isEmpty) "v" else "va"
    val adcs = (0 until 4).map { sp =>
      s"""adc$sp AS (
         | SELECT v.vec_id AS query_id, c.cl, sum(v.vd * c.cv) AS t
         | FROM ${adcV}_s$sp v JOIN c2_s$sp c ON c.pos = v.pos
         | WHERE ${queryPred("v.vec_id")}
         | GROUP BY 1, 2)""".stripMargin
    }
    (qseCte + ",\n" +
      (if (pre.isEmpty) "" else pre + ",\n") +
      chains.mkString(",\n") + ",\n" + adcs.mkString(",\n") + ",\n" +
      s"""codes AS (
         | SELECT s0.vec_id, s0.cluster AS code_0, s1.cluster AS code_1,
         |  s2.cluster AS code_2, s3.cluster AS code_3
         | FROM a3_s0 s0 JOIN a3_s1 s1 USING (vec_id)
         | JOIN a3_s2 s2 USING (vec_id) JOIN a3_s3 s3 USING (vec_id)),
         |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nrm AS (SELECT vec_id,
         |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n FROM c),
         |cents AS (SELECT vec_id AS cell, v AS cv FROM c WHERE $centsPred ORDER BY vec_id LIMIT 16),
         |assign AS (
         | SELECT vec_id, cell FROM (
         |  SELECT c.vec_id, ct.cell,
         |   row_number() OVER (PARTITION BY c.vec_id
         |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
         |  FROM c, cents ct) WHERE arn = 1),
         |qset AS (
         | SELECT c.vec_id, c.v FROM c JOIN nrm nq ON nq.vec_id = c.vec_id
         | WHERE ${queryPred("c.vec_id")} AND nq.n > 0)""".stripMargin)
      .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  /** The SEARCH half — probe cells, ADC-scored stage 1, top-`rerank`
    * survivors, exact-cosine rerank — through relation `r$sfx`,
    * parameterized on (nProbe, rerank) so the q242 operating-point
    * oracle states one tail per grid point over ONE shared training
    * chain, and on `candPred` (over `a.vec_id`) so the q245 removal
    * oracle states "an index whose codes never held those rows" as a
    * stage-1 candidate filter.
    */
  private def ivfPqSearchTailCtes(nProbe: Int, rerank: Int, sfx: String,
                                  candPred: String = "TRUE"): String = {
    val adcJoins = (0 until 4).map(sp =>
      s"JOIN adc$sp t$sp ON t$sp.query_id = p.query_id AND t$sp.cl = cd.code_$sp")
      .mkString("\n| ")
    s"""probes$sfx AS (
       | SELECT query_id, cell FROM (
       |  SELECT q.vec_id AS query_id, ct.cell,
       |   row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY 1.0 - list_cosine_similarity(q.v, ct.cv) ASC, ct.cell ASC) AS prn
       |  FROM qset q, cents ct) WHERE prn <= $nProbe),
       |s1$sfx AS (
       | SELECT p.query_id, a.vec_id AS neighbor_id,
       |  round((t0.t + t1.t + t2.t + t3.t) / nm.n, 6) AS approx
       | FROM assign a JOIN probes$sfx p ON a.cell = p.cell
       | JOIN codes cd ON cd.vec_id = a.vec_id
       | JOIN nrm nm ON nm.vec_id = a.vec_id
       | $adcJoins
       | WHERE a.vec_id <> p.query_id AND nm.n > 0 AND $candPred),
       |surv$sfx AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |    ORDER BY approx DESC, neighbor_id) AS srn
       |  FROM s1$sfx) WHERE srn <= $rerank),
       |rer$sfx AS (
       | SELECT s.query_id, s.neighbor_id,
       |  list_cosine_similarity(cn.v, cq.v) AS cos
       | FROM surv$sfx s JOIN c cn ON cn.vec_id = s.neighbor_id
       | JOIN c cq ON cq.vec_id = s.query_id),
       |r$sfx AS (SELECT query_id, neighbor_id,
       | CAST(row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn FROM rer$sfx)""".stripMargin
      .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  private lazy val ivfPqRawOracleSql: String =
    "WITH " + ivfPqOracleCtes +
      "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
      "\nORDER BY query_id, rn"

  /** The brute-force-top-5 + recall-rollup tail shared by the q234/q235
    * recall oracles — the [[graft.operators.Similarity
    * .annRecallReportFor]] twin, appended after a CTE chain exposing
    * `qset` (norm-positive query vectors), `c` (all vectors), `nrm`
    * (norms), and `r` (per-query ANN ranks). Brute force ranks by the
    * same cosine-desc/id total order as the rerank CTE; zero-norm rows
    * are excluded on both sides (the engine's drop policy).
    */
  /** The q273/q274 graded corpus: documents ∪ exact copies of every 5th
    * doc (id + 10000 — the dedup stage keeps the lower-id original) ∪
    * digit-junk rows for every 7th (id + 20000, forty "11" tokens: no
    * letters, 1/40 unique — the quality gate drops them). Every export
    * stage has planted work; the survivors are exactly the originals.
    */
  private def exportCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat_ws(" ", array_repeat(lit("11"), 40)).as("text")))
  }

  /** The q273/q274 training-export chain: q84's quality z formula as the
    * gate (round-6 sigmoid > 0.5), q20's exact-dedup canonical pick
    * (min doc_id per sha-256 text digest), whitespace token counts, and
    * q97's shard deal (salt "epoch1", md5 hash60 mod 8) over the planted
    * [[exportCorpus]]. Exposes `sh` `(doc_id, n_tokens, shard, h)` for
    * the layout and report tails.
    */
  private lazy val exportGateCtes: String =
    """corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0
      | UNION ALL
      | SELECT doc_id + 20000, trim(repeat('11 ', 40))
      | FROM documents WHERE doc_id % 7 = 0),
      |f AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      |z AS (SELECT doc_id,
      |  -2.2 + 0.8 * least(len(t) / 100.0, 1.0)
      |       + 0.15 * (CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t))
      |       + 2.0 * (CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(t))
      |       + 1.5 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
      |       - 0.3 * least(CAST(list_max(list_transform(t, x -> length(x))) AS DOUBLE) / 20.0, 1.0)
      |  AS z FROM f),
      |g AS (SELECT d.doc_id, d.text FROM corpus d JOIN z ON z.doc_id = d.doc_id
      |      WHERE round(1.0 / (1.0 + exp(-z.z)), 6) > 0.5)""".stripMargin

  private lazy val exportCtes: String =
    exportGateCtes + """,
      |c AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY sha256(text)),
      |s AS (SELECT g.doc_id,
      |       CAST(len(string_split(g.text, ' ')) AS BIGINT) AS n_tokens,
      |       md5('epoch1' || CAST(g.doc_id AS VARCHAR)) AS h
      |      FROM g JOIN c USING (doc_id)),
      |sh AS (SELECT doc_id, n_tokens,
      |        ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard, h
      |       FROM s)
      |""".stripMargin

  /** The q270/q271 binary-quantization chain: per-vector 32-bit sign
    * words stated as `1::BIGINT << j` sums (the engine's reversed
    * `acc·2 + bit` fold computes the identical Σ bit_j·2^(j−32w) — both
    * words ≤ 2³²−1, no signed-overflow semantics in either engine),
    * stage-1 rank by summed `bit_count(xor)` hamming ASC with the id
    * tiebreak (≡ the engine's agreement-DESC heap order), exact cosine
    * rerank of the top-`rerank` survivors with both sides norm-positive
    * (the q54 stage-2 policy). Exposes `v` (double vectors), `fn`
    * (norms), `qs` (the 16 sample winners), and `r` (final ranks) so
    * the q271 recall tail reads the same names as q256's.
    */
  private def binaryRerankCtes(rerank: Int): String =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |${evalSampleNCte("qse", "embeddings", "vec_id", 16)},
       |qs AS (SELECT vec_id FROM qse),
       |fn AS (SELECT vec_id,
       |        sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS n
       |       FROM v),
       |b AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(range(0,32),
       |    j -> CASE WHEN v[j+1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS w0,
       |  CAST(list_sum(list_transform(range(32,64),
       |    j -> CASE WHEN v[j+1] > 0 THEN (1::BIGINT << (j-32)) ELSE 0::BIGINT END)) AS BIGINT) AS w1
       | FROM v WHERE len(v) = 64),
       |s1 AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, cb.vec_id AS neighbor_id,
       |   row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY bit_count(xor(cb.w0, qb.w0)) + bit_count(xor(cb.w1, qb.w1)) ASC,
       |             cb.vec_id) AS arn
       |  FROM b qb JOIN qs q ON q.vec_id = qb.vec_id
       |  JOIN b cb ON cb.vec_id <> q.vec_id)
       | WHERE arn <= $rerank),
       |r AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY list_cosine_similarity(cv.v, qv.v) DESC, neighbor_id) AS BIGINT) AS rn
       | FROM s1
       | JOIN v cv ON cv.vec_id = s1.neighbor_id
       | JOIN fn cn ON cn.vec_id = s1.neighbor_id AND cn.n > 0
       | JOIN v qv ON qv.vec_id = s1.query_id
       | JOIN fn qn ON qn.vec_id = s1.query_id AND qn.n > 0)""".stripMargin

  /** The q280 cell-pruned binary chain: the q219 coarse-quantizer
    * statement (first-16-by-id centroids, cosine-distance assignment
    * with the (dist asc, cell asc) tie order, per-query top-`nProbe`
    * probes over the norm-positive queries) composed with the q270
    * sign-word hamming rank — stage-1 candidates are exactly the rows
    * of the query's probed cells (norm-positive, the codes-relation
    * membership), stage 2 the exact-cosine rerank over both-norm-
    * positive survivors. Exposes `r` so the select tail reads as q270's.
    */
  private def binaryCellCtes(nProbe: Int, rerank: Int): String =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |${evalSampleNCte("qse", "embeddings", "vec_id", 16)},
       |fn AS (SELECT vec_id,
       |        sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS n
       |       FROM v),
       |cents AS (SELECT vec_id AS cell, v AS cv FROM v ORDER BY vec_id LIMIT 16),
       |assign AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, ct.cell,
       |   row_number() OVER (PARTITION BY c.vec_id
       |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
       |  FROM v c, cents ct) WHERE arn = 1),
       |qset AS (SELECT c.vec_id, c.v FROM v c JOIN fn nq ON nq.vec_id = c.vec_id
       |         WHERE c.vec_id IN (SELECT vec_id FROM qse) AND nq.n > 0),
       |probes AS (SELECT query_id, cell FROM (
       |  SELECT q.vec_id AS query_id, ct.cell,
       |   row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY 1.0 - list_cosine_similarity(q.v, ct.cv) ASC, ct.cell ASC) AS prn
       |  FROM qset q, cents ct) WHERE prn <= $nProbe),
       |b AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(range(0,32),
       |    j -> CASE WHEN v[j+1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS w0,
       |  CAST(list_sum(list_transform(range(32,64),
       |    j -> CASE WHEN v[j+1] > 0 THEN (1::BIGINT << (j-32)) ELSE 0::BIGINT END)) AS BIGINT) AS w1
       | FROM v WHERE len(v) = 64),
       |s1 AS (SELECT query_id, neighbor_id FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |   row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY bit_count(xor(cb.w0, qb.w0)) + bit_count(xor(cb.w1, qb.w1)) ASC,
       |             a.vec_id) AS arn
       |  FROM assign a JOIN probes p ON a.cell = p.cell
       |  JOIN fn nm ON nm.vec_id = a.vec_id AND nm.n > 0
       |  JOIN b cb ON cb.vec_id = a.vec_id
       |  JOIN b qb ON qb.vec_id = p.query_id
       |  WHERE a.vec_id <> p.query_id)
       | WHERE arn <= $rerank),
       |r AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY list_cosine_similarity(cv.v, qv.v) DESC, neighbor_id) AS BIGINT) AS rn
       | FROM s1
       | JOIN v cv ON cv.vec_id = s1.neighbor_id
       | JOIN fn cn ON cn.vec_id = s1.neighbor_id AND cn.n > 0
       | JOIN v qv ON qv.vec_id = s1.query_id
       | JOIN fn qn ON qn.vec_id = s1.query_id AND qn.n > 0)""".stripMargin

  /** The q285 binary-cells planner oracle: the [[binaryCellCtes]]
    * skeleton with probes RANKED at the widest grid point (a tighter
    * point is a prefix of the best-first probe list — the engine's
    * nearestCells order), one suffixed two-stage tail per nProbe, the
    * shared norm-positive brute-force top-5, EXACT per-point stage-1
    * rows (probe ranks LEFT-joined to norm-positive cell occupancy),
    * and the q242 chosen-window statement at target 0.8.
    */
  private lazy val binaryCellsPlanOracleSql: String = {
    val probesGrid = Seq(2, 4, 8, 16)
    val reranksGrid = Seq(20, 100)
    val combos = for { p <- probesGrid; r <- reranksGrid } yield (p, r)
    val tails = combos.map { case (p, r) =>
      s"""s1_p${p}r$r AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY p.query_id
         |    ORDER BY bit_count(xor(cb.w0, qb.w0)) + bit_count(xor(cb.w1, qb.w1)) ASC,
         |             a.vec_id) AS arn
         |  FROM assign a JOIN probes p ON a.cell = p.cell AND p.prn <= $p
         |  JOIN fn nm ON nm.vec_id = a.vec_id AND nm.n > 0
         |  JOIN b cb ON cb.vec_id = a.vec_id
         |  JOIN b qb ON qb.vec_id = p.query_id
         |  WHERE a.vec_id <> p.query_id)
         | WHERE arn <= $r),
         |r_p${p}r$r AS (SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |   ORDER BY list_cosine_similarity(cv.v, qv.v) DESC, neighbor_id) AS BIGINT) AS rn
         | FROM s1_p${p}r$r s
         | JOIN v cv ON cv.vec_id = s.neighbor_id
         | JOIN fn cn ON cn.vec_id = s.neighbor_id AND cn.n > 0
         | JOIN v qv ON qv.vec_id = s.query_id
         | JOIN fn qn ON qn.vec_id = s.query_id AND qn.n > 0)""".stripMargin
    }
    val grid = combos.map { case (p, r) =>
      s"""SELECT $p AS n_probe, $r AS rerank,
         | (SELECT count(*) FROM bf JOIN r_p${p}r$r a
         |   ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id
         |   AND a.rn <= 5) AS hits,
         | (SELECT CAST(coalesce(sum(o.cnt), 0) AS BIGINT) FROM probes pr
         |   LEFT JOIN occ o ON o.cell = pr.cell WHERE pr.prn <= $p) AS est_rows""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |${evalSampleNCte("qse", "embeddings", "vec_id", 16)},
       |fn AS (SELECT vec_id,
       |        sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS n
       |       FROM v),
       |cents AS (SELECT vec_id AS cell, v AS cv FROM v ORDER BY vec_id LIMIT 16),
       |assign AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, ct.cell,
       |   row_number() OVER (PARTITION BY c.vec_id
       |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
       |  FROM v c, cents ct) WHERE arn = 1),
       |qset AS (SELECT c.vec_id, c.v FROM v c JOIN fn nq ON nq.vec_id = c.vec_id
       |         WHERE c.vec_id IN (SELECT vec_id FROM qse) AND nq.n > 0),
       |probes AS (SELECT query_id, cell, prn FROM (
       |  SELECT q.vec_id AS query_id, ct.cell,
       |   row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY 1.0 - list_cosine_similarity(q.v, ct.cv) ASC, ct.cell ASC) AS prn
       |  FROM qset q, cents ct) WHERE prn <= ${probesGrid.max}),
       |b AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(range(0,32),
       |    j -> CASE WHEN v[j+1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS w0,
       |  CAST(list_sum(list_transform(range(32,64),
       |    j -> CASE WHEN v[j+1] > 0 THEN (1::BIGINT << (j-32)) ELSE 0::BIGINT END)) AS BIGINT) AS w1
       | FROM v WHERE len(v) = 64),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |   row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id) AS brn
       |  FROM v q JOIN qse s ON s.vec_id = q.vec_id
       |  JOIN fn qn ON qn.vec_id = q.vec_id AND qn.n > 0
       |  JOIN v c ON c.vec_id <> q.vec_id
       |  JOIN fn cn ON cn.vec_id = c.vec_id AND cn.n > 0)
       | WHERE brn <= 5),
       |occ AS (SELECT a.cell, count(*) AS cnt FROM assign a
       |        JOIN fn nm ON nm.vec_id = a.vec_id AND nm.n > 0 GROUP BY 1),
       |${tails.mkString(",\n")},
       |grid AS ($grid),
       |st AS (SELECT (SELECT count(DISTINCT query_id) FROM bf) AS nq),
       |rep AS (SELECT g.n_probe, g.rerank,
       |  round(CAST(g.hits AS DOUBLE) / CAST(5 * st.nq AS DOUBLE), 6) AS mean_recall,
       |  g.est_rows
       | FROM grid g, st)
       |SELECT n_probe, rerank, mean_recall, est_rows,
       | row_number() OVER (ORDER BY (mean_recall >= 0.8) DESC,
       |   CASE WHEN mean_recall >= 0.8 THEN est_rows END ASC NULLS LAST,
       |   CASE WHEN mean_recall >= 0.8 THEN rerank END ASC NULLS LAST,
       |   mean_recall DESC, est_rows ASC, n_probe, rerank) = 1 AS chosen
       |FROM rep ORDER BY n_probe, rerank""".stripMargin
  }

  private lazy val bfTop5Cte: String =
    """bf AS MATERIALIZED (
      | SELECT query_id, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, cn.vec_id AS neighbor_id,
      |   row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(cn.v, q.v) DESC, cn.vec_id) AS brn
      |  FROM qset q JOIN c cn ON cn.vec_id <> q.vec_id
      |  JOIN nrm nc ON nc.vec_id = cn.vec_id AND nc.n > 0)
      | WHERE brn <= 5)""".stripMargin

  private lazy val annRecallOracleTail: String =
    bfTop5Cte + ",\n" +
    """ann AS (SELECT query_id, neighbor_id, 1 AS hit FROM r WHERE rn <= 5)
      |SELECT bf.query_id,
      | CAST(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
      | round(sum(CASE WHEN ann.hit IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6) AS recall
      |FROM bf LEFT JOIN ann
      | ON ann.query_id = bf.query_id AND ann.neighbor_id = bf.neighbor_id
      |GROUP BY 1 ORDER BY bf.query_id""".stripMargin

  private lazy val ivfPqRecallOracleSql: String =
    "WITH " + ivfPqOracleCtes + ",\n" + annRecallOracleTail

  /** q241: the incremental-add oracle — the REBUILD the add must be
    * bit-identical to, stated from scratch: PQ chains and the coarse
    * centroid pick TRAIN on the hash-split base relation only
    * (srcRel/centsPred), the terminal code assignment covers the FULL
    * corpus against those frozen codebooks (assignRel), and the search
    * tail is verbatim q219's.
    */
  private lazy val ivfPqAddOracleSql: String = {
    val basePred = evalSampleSql("vec_id", 500)
    "WITH " + ivfPqTrainCtes(srcRel = "bemb", assignRel = "embeddings",
      centsPred = basePred,
      pre = s"bemb AS (SELECT vec_id, embedding FROM embeddings WHERE $basePred)") +
      ",\n" + ivfPqSearchTailCtes(4, 20, "") +
      "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
      "\nORDER BY query_id, rn"
  }

  /** q246: per-subspace PQ reconstruction MSE — the shared training
    * chains' FINAL assignments (`a3_s*`) joined back to their own final
    * centroids (`c2_s*`) over the 9-dp slice relations, per-row squared
    * errors rounded 6 (the kmeans distance recipe — the per-pos sum
    * absorbs summation-order ulps at 6 dp), DECIMAL-summed, one
    * terminal division. Zero-norm rows excluded (codes-relation
    * membership).
    */
  private lazy val ivfPqReconOracleSql: String = {
    val errs = (0 until 4).map { sp =>
      s"""err$sp AS (
         | SELECT v.vec_id, round(sum((v.vd - cc.cv) * (v.vd - cc.cv)), 6) AS e
         | FROM v_s$sp v
         | JOIN a3_s$sp a ON a.vec_id = v.vec_id
         | JOIN c2_s$sp cc ON cc.cl = a.cluster AND cc.pos = v.pos
         | JOIN nrm nn ON nn.vec_id = v.vec_id AND nn.n > 0
         | GROUP BY 1)""".stripMargin
    }
    val union = (0 until 4).map(sp =>
      s"SELECT $sp AS subspace, e FROM err$sp").mkString("\nUNION ALL\n")
    "WITH " + ivfPqTrainCtes() + ",\n" + errs.mkString(",\n") + s""",
       |u AS ($union)
       |SELECT subspace, CAST(count(*) AS BIGINT) AS n_vectors,
       | round(CAST(sum(CAST(e AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mse
       |FROM u GROUP BY 1 ORDER BY subspace""".stripMargin
  }

  /** q242: the operating-point planner oracle — ONE shared training
    * chain + one parameterized search tail per (nProbe, rerank) grid
    * point + the shared brute-force top-5, then per-point recall/cost
    * arithmetic and the deterministic chosen window (cheapest meeting
    * the 0.9 target, else highest recall; est_cost/recall/n_probe/
    * rerank ties).
    */
  private lazy val ivfPqPlanOracleSql: String = {
    val combos = Seq((2, 10), (2, 20), (4, 10), (4, 20))
    val tails = combos.map { case (p, r) =>
      ivfPqSearchTailCtes(p, r, s"_p${p}r$r") }
    val grid = combos.map { case (p, r) =>
      s"""SELECT $p AS n_probe, $r AS rerank,
         | (SELECT count(*) FROM bf JOIN r_p${p}r$r a
         |   ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id
         |   AND a.rn <= 5) AS hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    "WITH " + ivfPqTrainCtes() + ",\n" + tails.mkString(",\n") + ",\n" +
      bfTop5Cte + ",\n" +
      s"""grid AS ($grid),
         |st AS (SELECT (SELECT count(DISTINCT query_id) FROM bf) AS nq,
         |              (SELECT count(*) FROM nrm WHERE n > 0) AS ncodes,
         |              (SELECT count(*) FROM cents) AS ncent),
         |rep AS (SELECT g.n_probe, g.rerank,
         |  round(CAST(g.hits AS DOUBLE) / CAST(5 * st.nq AS DOUBLE), 6) AS mean_recall,
         |  round(CAST(g.n_probe AS DOUBLE) * 4 * st.ncodes / st.ncent
         |        + CAST(g.rerank AS DOUBLE) * 4 * 16, 6) AS est_cost
         | FROM grid g, st)
         |SELECT n_probe, rerank, mean_recall, est_cost,
         | row_number() OVER (ORDER BY (mean_recall >= 0.9) DESC,
         |   CASE WHEN mean_recall >= 0.9 THEN est_cost END ASC NULLS LAST,
         |   mean_recall DESC, est_cost ASC, n_probe, rerank) = 1 AS chosen
         |FROM rep ORDER BY n_probe, rerank""".stripMargin
  }


  /** The residual IVF-PQ oracle CTE chain through relation `r` — the
    * [[ivfPqOracleCtes]] skeleton with a residual relation
    * (v − centroid(assigned cell), zero-norm rows dropped) feeding the
    * suffixed chains, a raw 9-dp query-slice relation for the ADC, and
    * the per-probe base dot added before the norm division. Shared by
    * q231 (top-k rows) and q235 (recall join). Every CTE MATERIALIZED.
    */
  private lazy val ivfPqResidualOracleCtes: String = {
        val chains = (0 until 4).map(sp =>
          kmeansCtes(4, 2, 16, sp * 16, s"_s$sp", srcRel = "remb"))
        val adcs = (0 until 4).map { sp =>
          s"""adc$sp AS (
             | SELECT q.vec_id AS query_id, cq.cl, sum(q.vd * cq.cv) AS t
             | FROM qsl q JOIN c2_s$sp cq ON cq.pos = q.pos - ${sp * 16}
             | WHERE q.pos >= ${sp * 16} AND q.pos < ${(sp + 1) * 16}
             | GROUP BY 1, 2)""".stripMargin
        }
        val adcJoins = (0 until 4).map(sp =>
          s"JOIN adc$sp t$sp ON t$sp.query_id = p.query_id AND t$sp.cl = cd.code_$sp")
          .mkString("\n| ")
        (        evalSampleNCte("qse", "embeddings", "vec_id", 16) + ",\n" +
          s"""c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |nrm AS (SELECT vec_id,
             |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n FROM c),
             |cents AS (SELECT vec_id AS cell, v AS cv FROM c ORDER BY vec_id LIMIT 16),
             |assign AS (
             | SELECT vec_id, cell FROM (
             |  SELECT c.vec_id, ct.cell,
             |   row_number() OVER (PARTITION BY c.vec_id
             |    ORDER BY 1.0 - list_cosine_similarity(c.v, ct.cv) ASC, ct.cell ASC) AS arn
             |  FROM c, cents ct) WHERE arn = 1),
             |remb AS (
             | SELECT c.vec_id,
             |  list_transform(range(1, 65), j -> c.v[j] - ct.cv[j]) AS embedding
             | FROM c JOIN assign a ON a.vec_id = c.vec_id
             | JOIN cents ct ON ct.cell = a.cell
             | JOIN nrm nr ON nr.vec_id = c.vec_id AND nr.n > 0),
             |""".stripMargin +
          chains.mkString(",\n") + ",\n" +
          s"""qsl AS (
             | SELECT vec_id, r.i AS pos,
             |  round(CAST(embedding[CAST(r.i AS INT) + 1] AS DOUBLE), 9) AS vd
             | FROM embeddings, range(64) r(i)
             | WHERE vec_id IN (SELECT vec_id FROM qse)),
             |""".stripMargin +
          adcs.mkString(",\n") + ",\n" +
          s"""codes AS (
             | SELECT s0.vec_id, s0.cluster AS code_0, s1.cluster AS code_1,
             |  s2.cluster AS code_2, s3.cluster AS code_3
             | FROM a3_s0 s0 JOIN a3_s1 s1 USING (vec_id)
             | JOIN a3_s2 s2 USING (vec_id) JOIN a3_s3 s3 USING (vec_id)),
             |qset AS (
             | SELECT c.vec_id, c.v FROM c JOIN nrm nq ON nq.vec_id = c.vec_id
             | WHERE c.vec_id IN (SELECT vec_id FROM qse) AND nq.n > 0),
             |probes AS (
             | SELECT query_id, cell FROM (
             |  SELECT q.vec_id AS query_id, ct.cell,
             |   row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY 1.0 - list_cosine_similarity(q.v, ct.cv) ASC, ct.cell ASC) AS prn
             |  FROM qset q, cents ct) WHERE prn <= 4),
             |bs AS (
             | SELECT q.vec_id AS query_id, p.cell,
             |  list_reduce(list_transform(range(1, 65), j -> q.v[j] * ct.cv[j]),
             |   (a, b) -> a + b) AS base
             | FROM qset q
             | JOIN probes p ON p.query_id = q.vec_id
             | JOIN cents ct ON ct.cell = p.cell),
             |s1 AS (
             | SELECT p.query_id, a.vec_id AS neighbor_id,
             |  round((b.base + t0.t + t1.t + t2.t + t3.t) / nm.n, 6) AS approx
             | FROM assign a JOIN probes p ON a.cell = p.cell
             | JOIN codes cd ON cd.vec_id = a.vec_id
             | JOIN nrm nm ON nm.vec_id = a.vec_id
             | JOIN bs b ON b.query_id = p.query_id AND b.cell = p.cell
             | $adcJoins
             | WHERE a.vec_id <> p.query_id AND nm.n > 0),
             |surv AS (
             | SELECT query_id, neighbor_id FROM (
             |  SELECT query_id, neighbor_id,
             |   row_number() OVER (PARTITION BY query_id
             |    ORDER BY approx DESC, neighbor_id) AS srn
             |  FROM s1) WHERE srn <= 20),
             |rer AS (
             | SELECT s.query_id, s.neighbor_id,
             |  list_cosine_similarity(cn.v, cq.v) AS cos
             | FROM surv s JOIN c cn ON cn.vec_id = s.neighbor_id
             | JOIN c cq ON cq.vec_id = s.query_id),
             |r AS (SELECT query_id, neighbor_id,
             | CAST(row_number() OVER (PARTITION BY query_id
             |  ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn FROM rer)""".stripMargin)
        .replaceAll("AS \\(", "AS MATERIALIZED (")
  }

  private lazy val ivfPqResidualOracleSql: String =
    "WITH " + ivfPqResidualOracleCtes +
      "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
      "\nORDER BY query_id, rn"

  /** q235: recall of the RESIDUAL IVF-PQ top-5 vs exact brute force —
    * the same brute-force/rollup tail as [[ivfPqRecallOracleSql]] over
    * the residual chain's qset/c/nrm/r relations.
    */
  private lazy val ivfPqResidualRecallOracleSql: String =
    "WITH " + ivfPqResidualOracleCtes + ",\n" + annRecallOracleTail

  // ── shared oracle-SQL fragments (DuckDB dialect) ──────────────────────
  /** Shingle/signature oracle fragments, parameterized on the source
    * relation (must expose `doc_id`, `text`) so the paragraph-level twin
    * (q93) states the SAME pipeline over a paragraph CTE.
    */
  private def shingleSqlOver(rel: String): String =
    s"""SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(string_split(text,' '))),
      | i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS shingle
      |FROM $rel WHERE len(string_split(text,' ')) >= 2""".stripMargin

  private val shingleSql: String = shingleSqlOver("documents")

  private def minhashSigSqlOver(rel: String): String =
    s"""SELECT doc_id, ${(0 until 8).map(i =>
         s"min((${graft.functions.MinHashKernel.A(i)} * t + " +
           s"${graft.functions.MinHashKernel.B(i)}) % ${graft.functions.MinHashKernel.P}) AS mh_$i").mkString(", ")}
       |FROM (SELECT doc_id, ('0x' || substr(md5(shingle),1,15))::BIGINT % ${graft.functions.MinHashKernel.P} AS t
       |      FROM (${shingleSqlOver(rel)})) GROUP BY doc_id""".stripMargin

  private val minhashSigSql: String = minhashSigSqlOver("documents")

  private val bandsSql: String =
    (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band_id, " +
        s"md5(CAST(mh_${2 * b} AS VARCHAR) || ':' || CAST(mh_${2 * b + 1} AS VARCHAR)) AS bkey FROM sig"
    }.mkString(" UNION ALL ")

  /** DuckDB twin of the plane-weight mixer in
    * [[graft.operators.Similarity]]: square-then-multiply mod 2³¹−1 over
    * (plane, dim) — pure BIGINT arithmetic, every intermediate < 2⁶², so
    * it evaluates identically in any engine. `j` is the 1-based DuckDB
    * list index (the Spark side's dim is 0-based, hence `j - 1`).
    */
  private def planeWeightSql(p: Int): String = {
    val w1 = s"((${(p + 1).toLong * 1566083941L} + (j-1) * 1812433253) % 2147483647)"
    s"($w1 * $w1 % 2147483647 * 1103515245 % 2147483647 % 1001 - 500)"
  }

  /** DuckDB twin of [[graft.operators.Similarity.lshBucket]] over a 64-dim
    * `list<double>` column `vcol`: `planes` sign-bit hyperplanes starting
    * at plane index `planeOffset` (the banded generator's independent
    * tables), with the same integer plane-weight arithmetic, folded
    * left-to-right like the native dot kernel.
    */
  private def lshBucketSql(vcol: String, planes: Int = 4, planeOffset: Int = 0): String =
    "(" + (0 until planes).map { p =>
      s"""CASE WHEN list_reduce(list_transform(range(1, 65),
         | j -> $vcol[j] * CAST(${planeWeightSql(planeOffset + p)} AS DOUBLE)),
         | (a, b) -> a + b) > 0 THEN ${1L << p} ELSE 0 END""".stripMargin
    }.mkString(" + ") + ")::BIGINT"
}
