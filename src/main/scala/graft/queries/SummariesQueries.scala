package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Summaries
import graft.queries.Shared._

/** Queries over [[graft.engine.Summaries]]: per-key summaries, sketches,
  * histograms, quantiles and the other aggregate reports.
  */
private[graft] object SummariesQueries {

  val all: Seq[Query] = Seq(

    // ── §2.5 per-key summary (TODO.md:6-19 surface): min/max/first/last.
    Query("q09_per_key_summary", (s, dir) =>
      Summaries.perKey(events(s, dir), "user_id", "event_id", "value")
        .orderBy("user_id"),
      Oracle.Sql(
      """SELECT user_id, min(value) AS min_value, max(value) AS max_value,
        | arg_min(value, event_id) AS first_value, arg_max(value, event_id) AS last_value,
        | count(*) AS n_rows
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ── §2.5 lookback lags (TODO.md:10-19): k observations back, one window.
    Query("q10_lookbacks", (s, dir) => {
      Summaries.lookbacks(events(s, dir), "user_id", "event_id", "value", Seq(1, 3, 7))
        .select("event_id", "user_id", "value", "value_lag_1", "value_lag_3", "value_lag_7")
        .orderBy("event_id")
    }, Oracle.Sql(
      """SELECT event_id, user_id, value,
        | lag(value, 1) OVER w AS value_lag_1,
        | lag(value, 3) OVER w AS value_lag_3,
        | lag(value, 7) OVER w AS value_lag_7
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin)),

    // ── NOTES.md:15-31 growth stats: per-date cardinality + growth %.
    Query("q11_growth", (s, dir) =>
      Summaries.growth(events(s, dir).withColumn("d", to_date(col("ts"))), "d")
        .orderBy("d"),
      Oracle.Sql(
      """SELECT d, n, prev_n, (n - prev_n) * CAST(100 AS DOUBLE) / prev_n AS growth_pct
        |FROM (SELECT d, n, lag(n, 1) OVER (ORDER BY d) AS prev_n
        |      FROM (SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1))
        |ORDER BY d""".stripMargin)),

    // ── TODO.md:27 trending detection: first→last delta per key.
    Query("q56_trending", (s, dir) =>
      Summaries.trending(events(s, dir), "user_id", "event_id", "value", 10.0)
        .orderBy("user_id"),
      Oracle.Sql(
      """SELECT user_id, first_value, last_value, n_obs, last_value - first_value AS delta
        |FROM (SELECT user_id, arg_min(value, event_id) AS first_value,
        |       arg_max(value, event_id) AS last_value, count(*) AS n_obs
        |      FROM events GROUP BY 1)
        |WHERE last_value - first_value >= 10 ORDER BY user_id""".stripMargin)),

    // ── TODO.md:28 last-change-of-≥x per key.
    Query("q57_last_big_change", (s, dir) =>
      Summaries.lastBigChange(events(s, dir), "user_id", "event_id", "value", 50.0)
        .orderBy("user_id"),
      Oracle.Sql(
      """SELECT user_id, max(event_id) AS last_change_at,
        | arg_max(chg, event_id) AS last_change
        |FROM (SELECT user_id, event_id,
        |       value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS chg
        |      FROM events)
        |WHERE abs(chg) >= 50 GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ── §2.5b calendar-day lookbacks (TODO.md:10-19's N-DAY variants):
    // value as-of k days ago via rangeBetween(-k,-k) frames — NULL where
    // that day's snapshot is missing, unlike row-lag lookbacks (q10).
    // Daily spine first (last value per user-day by event_id) to satisfy
    // the one-row-per-(key, day) contract.
    Query("q74_lookback_days", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      Summaries.lookbackByDays(daily, "user_id", "d", "value", Seq(1, 7))
        .select("user_id", "d", "value", "value_1d_ago", "value_7d_ago")
        .orderBy("user_id", "d")
    }, Oracle.Sql(
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
        |FROM daily ORDER BY user_id, d""".stripMargin)),

    // ── retention cohorts: first-seen-date cohorts × day-offset activity
    // counts — two same-key aggregations + one co-shuffled join, no window.
    Query("q103_retention", (s, dir) =>
      Summaries.retentionCohorts(events(s, dir), "user_id", "ts")
        .orderBy("cohort", "day_offset"),
      Oracle.Sql(
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |fs AS (SELECT user_id, min(d) AS cohort FROM act GROUP BY 1)
        |SELECT fs.cohort, CAST(a.d - fs.cohort AS BIGINT) AS day_offset,
        |       count(*) AS n_active
        |FROM act a JOIN fs ON a.user_id = fs.user_id
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin)),

    // ── ordered funnel: earliest view → click → purchase completion per
    // user (strictly increasing event_id) — one same-key join + cond-min
    // aggregation per step, no window, nulls cascade on break.
    Query("q104_funnel", (s, dir) =>
      Summaries.funnel(events(s, dir), "user_id", "event_type", "event_id",
        Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      Oracle.Sql(
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
        |ORDER BY s1.user_id""".stripMargin)),

    // ── first-order Markov transitions over per-user event sequences:
    // one keyed lag window, types²-sized matrix agg, broadcast row
    // totals; prob is exact BIGINT/BIGINT division.
    Query("q114_event_transitions", (s, dir) =>
      Summaries.transitionMatrix(events(s, dir), "user_id", "event_type",
        Seq("ts", "event_id"))
        .orderBy("prev_type", "next_type"),
      Oracle.Sql(
      """WITH p AS (
        | SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |        event_type AS next_type
        | FROM events),
        |c AS (SELECT prev_type, next_type, count(*) AS n FROM p
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n, c.n / CAST(t.tot AS DOUBLE) AS prob
        |FROM c JOIN t USING (prev_type) ORDER BY prev_type, next_type""".stripMargin)),

    // ── equi-depth histogram over prices: exact decile boundaries (one
    // broadcast row), per-row fold for bucket assignment, 10-row rollup.
    // Bucket membership is ulp-robust across engines: an interpolated
    // boundary lies strictly between two consecutive sorted data values,
    // so no data value can sit between the engines' boundary doubles.
    Query("q115_equidepth_hist", (s, dir) =>
      Summaries.equiDepthHistogram(t(s, dir, "lineitem"), "l_extendedprice",
        nBuckets = 10)
        .orderBy("bucket"),
      Oracle.Sql(
      """WITH b AS (SELECT quantile_cont(l_extendedprice,
        |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM lineitem),
        |a AS (SELECT l_extendedprice AS v,
        |  CAST(len(list_filter(b.qs, q -> l_extendedprice > q)) AS BIGINT) AS bucket
        | FROM lineitem, b)
        |SELECT bucket, count(*) AS n, min(v) AS lo, max(v) AS hi
        |FROM a GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ── robust MAD outlier report per event type: |v − median| >
    // 3 × 1.4826 × MAD — three group-sized aggregation passes, both
    // small tables broadcast back, 6-dp score.
    Query("q120_mad_outliers", (s, dir) =>
      Summaries.madOutliers(
        events(s, dir).select("event_type", "event_id", "value"),
        "event_type", "value", z = 3.0)
        .select("event_type", "event_id", "value", "score")
        .orderBy("event_id"),
      Oracle.Sql(
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
        |ORDER BY event_id""".stripMargin)),

    // ── bucketed quantile transform: every lineitem price mapped to its
    // centile (qrank = bucket/100) — one exact-boundary row broadcast +
    // a per-row fold; the batch-effect normalizer at corpus scale.
    Query("q122_quantile_transform", (s, dir) =>
      Summaries.quantileTransform(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice", nBuckets = 100)
        .orderBy("l_orderkey", "l_linenumber"),
      Oracle.Sql(
      s"""WITH b AS (SELECT quantile_cont(l_extendedprice,
         |  [${(1 until 100).map(i => i.toDouble / 100).mkString(", ")}]) AS qs FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        | CAST(len(list_filter(b.qs, q -> l_extendedprice > q)) AS DOUBLE) / 100 AS qrank
        |FROM lineitem, b
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ── gap-based sessionization: per-user sessions split at 4 h of
    // inactivity — one key exchange feeds the boundary lag, the running
    // session index AND the session rollup (partitioning on the key
    // satisfies the (key, session) aggregation: no second shuffle).
    Query("q123_sessionize", (s, dir) =>
      Summaries.sessionize(events(s, dir), "user_id", "ts", "event_id",
        gapSeconds = 4 * 3600L)
        .orderBy("user_id", "session_idx"),
      Oracle.Sql(
      // Exact-microsecond session boundaries: epoch_us integer arithmetic,
      // 4 h gap, running-sum session index — identical window shape.
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
        |ORDER BY user_id, session_idx""".stripMargin)),

    // ── recency-decayed user activity: Σ value · 0.5^⌊days/7⌋ from the
    // corpus max date — exact dyadic weights, scalar max broadcast back.
    Query("q130_decayed_activity", (s, dir) =>
      Summaries.decayedScore(events(s, dir).select("user_id", "ts", "value"),
        "user_id", "ts", "value", halfLifeDays = 7)
        .orderBy("user_id"),
      Oracle.Sql(
      // Identical decay arithmetic: integer day diffs from the scalar max
      // date, 0.5^floor(days/7) exact dyadic weights, 6-dp sum.
      """WITH m AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
        |d AS (SELECT user_id, value,
        |  date_diff('day', CAST(ts AS DATE), m.maxd) AS days FROM events, m)
        |SELECT user_id,
        | round(sum(value * power(0.5::DOUBLE, floor(days / 7))), 6) AS decayed_score,
        | count(*) AS n_events,
        | CAST(min(days) AS BIGINT) AS days_since_last
        |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ── per-user sequence anomaly: avg −ln P(next|prev) under the
    // corpus's own transition matrix; the pair subtree's key exchange is
    // physically reused between the matrix and the per-user pass.
    Query("q132_sequence_anomaly", (s, dir) =>
      Summaries.sequenceAnomaly(events(s, dir), "user_id", "event_type",
        Seq("ts", "event_id"))
        .orderBy("user_id"),
      Oracle.Sql(
      // Identical model: lag pairs per user (us, event_id order), row-
      // normalized probabilities (exact BIGINT division), 6-dp avg NLL.
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
        |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ── rolling z-score spike detection per event type (7 observed-day
    // lookback, z = 2): the corpus collapses to the daily table first,
    // the window runs over that — integer rolling sums, 6-dp z.
    Query("q134_daily_spikes", (s, dir) =>
      Summaries.dailySpikes(events(s, dir), "event_type", "ts",
        lookback = 7, z = 2.0)
        .orderBy("event_type", "day"),
      Oracle.Sql(
      // Identical rolling stats: BIGINT window sums (exact under any
      // windowed-sum algorithm), IEEE mean/variance from those integers,
      // variance clamped at 0, 6-dp z, MAD-style zero-variance handling.
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
        |FROM f ORDER BY event_type, day""".stripMargin)),

    // ── per-type activity trend: OLS slope + r² of daily counts over the
    // day offset — exact integer moment sums, two groups-sized aggs,
    // window-free.
    Query("q135_trend_slopes", (s, dir) =>
      Summaries.trendSlopes(events(s, dir), "event_type", "ts")
        .orderBy("event_type"),
      Oracle.Sql(
      // Identical OLS moments: BIGINT x/y sums, the same IEEE determinant
      // shapes, 6-dp slope/r², NULL on degenerate groups.
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
        |FROM mm ORDER BY event_type""".stripMargin)),

    // ── per-source Pearson r + covariance between char length and token
    // count: exact BIGINT moment sums, trendSlopes' determinism contract.
    Query("q149_corr_report", (s, dir) =>
      Summaries.pearsonByGroup(
        t(s, dir, "documents").select(col("source"), col("n_chars"),
          when(col("text").isNotNull,
            size(split(col("text"), " "))).cast("long").as("tok_n")),
        "source", "n_chars", "tok_n")
        .orderBy("source"),
      Oracle.Sql(
      // Identical moment-sum Pearson/covariance shapes, 6-dp, NULL on
      // degenerate groups.
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
        |FROM e ORDER BY source""".stripMargin)),

    // ── per-flag 5-95% trimmed price statistics: exact quantile_cont
    // thresholds broadcast back, DECIMAL(28,12) order-free trimmed mean.
    Query("q152_trimmed_stats", (s, dir) =>
      Summaries.trimmedStats(
        t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", lo = 0.05, hi = 0.95)
        .orderBy("l_returnflag"),
      Oracle.Sql(
      // Identical quantile_cont thresholds and DECIMAL(28,12) trimmed mean.
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
        |FROM k GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // ── ROLLUP mixing dashboard: docs + chars per (source, lang), per
    // source, and overall in ONE Expand + hash-agg pass; rolled-up keys
    // labeled '(all)' for total-order parity with the DuckDB twin.
    Query("q160_rollup_report", (s, dir) =>
      Summaries.rollupReport(t(s, dir, "documents"),
        Seq("source", "lang"), "n_chars")
        .orderBy("source", "lang"),
      Oracle.Sql(
      """SELECT
        | CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
        | CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
        | count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents
        |GROUP BY ROLLUP (source, lang)
        |ORDER BY source, lang""".stripMargin)),

    // ── source × lang cross-tab (explicit pivot domain — the output
    // schema of a distributed query must never depend on a runtime
    // distinct scan): one exchange, conditional counts fused into one
    // hash aggregate.
    Query("q161_lang_pivot", (s, dir) =>
      Summaries.pivotCounts(t(s, dir, "documents"), "source", "lang",
        Seq("de", "en", "es", "fr", "zh"))
        .orderBy("source"),
      Oracle.Sql(
      """SELECT source,
        | count(*) FILTER (WHERE lang = 'de') AS de,
        | count(*) FILTER (WHERE lang = 'en') AS en,
        | count(*) FILTER (WHERE lang = 'es') AS es,
        | count(*) FILTER (WHERE lang = 'fr') AS fr,
        | count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ── per-group quantile calibration: each doc's char length ranked
    // against ITS language's quartile grid (groups-sized boundary table
    // broadcast back; codegen'd fold; no window).
    Query("q168_group_qrank", (s, dir) =>
      Summaries.quantileTransformByGroup(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", nBuckets = 4)
        .orderBy("doc_id"),
      Oracle.Sql(
      // Same per-group grid (quantile_cont ≡ Spark's exact percentile),
      // same strictly-greater fold, stated with DuckDB list lambdas.
      """WITH b AS (
        | SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qs
        | FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        | len(list_filter(b.qs, q -> d.n_chars > q)) / 4.0 AS qrank
        |FROM documents d JOIN b USING (lang)
        |ORDER BY doc_id""".stripMargin)),

    // ── exact two-sample KS drift, each lang vs the rest of the corpus
    // on doc length: rank-based (no binning choice), integer-exact sup,
    // one terminal IEEE division — the unbinned complement of q116.
    Query("q173_ks_drift", (s, dir) =>
      Summaries.ksDrift(t(s, dir, "documents"), "n_chars", "lang")
        .orderBy("lang"),
      Oracle.Sql(
      // The same RANGE-frame running counts; the maximized quantity is the
      // integer |ct*n_rest - (ca-ct)*n_target|, divided once at the end.
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
        |ORDER BY lang""".stripMargin)),

    // ── Gini concentration of doc length per source: integer moment
    // sums over a rank window, one terminal division — the
    // stubs-vs-whales mixing diagnostic.
    Query("q175_gini", (s, dir) =>
      Summaries.giniByGroup(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source"),
      Oracle.Sql(
      // The identical rank form: row_number over (value, id), integer
      // moment sums (HUGEINT in DuckDB), one terminal double division.
      """WITH r AS (
        | SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i
        | FROM documents)
        |SELECT source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS total,
        | CASE WHEN sum(n_chars) = 0 THEN NULL
        |      ELSE CAST(2 * sum(i * n_chars) - (count(*) + 1) * sum(n_chars) AS DOUBLE)
        |           / CAST(count(*) * sum(n_chars) AS DOUBLE) END AS gini
        |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // ── Mann–Whitney rank-biserial effect size, each lang vs the rest on
    // doc length: tie-correct integer midranks from per-distinct-value
    // counts (ONE rank table serves every group) — the magnitude
    // complement of q173's KS max-deviation.
    Query("q176_rank_biserial", (s, dir) =>
      Summaries.rankBiserial(t(s, dir, "documents"), "n_chars", "lang")
        .orderBy("lang"),
      Oracle.Sql(
      // The identical midrank table from per-distinct-value counts:
      // doubled midrank 2*cum_below + cnt + 1 stays integer; U2 and the
      // terminal division restated verbatim.
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
        |GROUP BY d.lang, tot.nn ORDER BY lang""".stripMargin)),

    // ── Welch's t-test, each lang vs the rest on doc length: decimal
    // moment sums, rest derived by exact subtraction from grand totals,
    // fixed-shape IEEE t / Welch–Satterthwaite df — the "did the mean
    // move?" parametric complement of q173's KS and q176's effect size.
    Query("q181_welch_ttest", (s, dir) =>
      Summaries.welchTTest(t(s, dir, "documents"), "n_chars", "lang")
        .orderBy("lang"),
      Oracle.Sql(
      // The identical decimal moment sums (Σx DECIMAL(38,0), Σx² from a
      // 19,0×19,0 product), rest by exact decimal subtraction from grand
      // totals, then the same fixed-shape double expressions staged
      // through CTEs so both engines evaluate t and the Welch df verbatim.
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
        |FROM u ORDER BY lang""".stripMargin)),

    // ── categorical association source × lang in one row: full-grid χ²
    // (common-denominator integer form), Cramér's V, mutual information —
    // per-cell terms rounded then decimal-summed (the q72/q111 rule), so
    // cell order can never change the answer.
    Query("q182_cat_assoc", (s, dir) =>
      Summaries.categoricalAssociation(t(s, dir, "documents"), "source", "lang"),
      Oracle.Sql(
      // OBSERVED cells only (χ² = N + Σ_obs[(o−e)²/e − e]; the absent
      // cells' Σe is the +N), margins as windows over the cell table, the
      // common-denominator χ² term and the all-integer-ratio ln MI term —
      // each rounded to 9 dp, decimal-summed, terminal 6 dp.
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
        |FROM agg""".stripMargin)),

    // ── Kaplan–Meier survival over per-user activity lifetimes:
    // censor = last event ON the corpus-edge day (the synthetic users
    // are near-uniformly active, so wider censor windows mark everyone
    // alive and the curve degenerates to 1.0); factors 12-dp,
    // ascending-order product, 6-dp survival.
    Query("q189_kaplan_meier", (s, dir) =>
      Summaries.kaplanMeier(events(s, dir), "user_id", "ts", censorDays = 1)
        .orderBy("duration_days"),
      Oracle.Sql(
      // Kaplan–Meier: identical lifetimes (event DATEs), 1-day censor
      // edge, suffix-sum at-risk, 12-dp factors, ASCENDING-order product
      // fold (list_reduce left-folds exactly like the Spark aggregate with
      // unit init — 1.0·f ≡ f in IEEE), 6-dp survival.
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
        |ORDER BY a.duration_days""".stripMargin)),

    // ── CUSUM changepoint per event type: the date where cumulative
    // deviation from the mean daily count peaks — level-shift detection
    // (q134's z-scores see local windows; CUSUM integrates drift).
    Query("q201_cusum", (s, dir) =>
      Summaries.cusumChangepoint(events(s, dir), "event_type", "ts")
        .orderBy("event_type"),
      Oracle.Sql(
      // CUSUM: zero-filled grid, integer-scaled deviation
      // D·cum − idx·total, |…| argmax with earliest-date ties.
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
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // ── day-of-week seasonal profile per event type + the date that
    // broke the pattern hardest — periodic-component decomposition next
    // to q170's raw dow×hour matrix.
    Query("q203_seasonal", (s, dir) =>
      Summaries.seasonalProfile(events(s, dir), "event_type", "ts")
        .orderBy("event_type", "dow"),
      Oracle.Sql(
      // Seasonal: zero-filled grid, dow 0 = Sunday both engines
      // (DuckDB dayofweek == Spark dayofweek − 1), integer-scaled
      // residual argmax with earliest-date ties.
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
        |FROM rk WHERE rn = 1 ORDER BY event_type, dow""".stripMargin)),

    // ── rolling 7-day active users per date (exact WAU): entity-days →
    // ×7 support explode → distinct → per-date count; no sketch, no
    // window function.
    Query("q206_rolling_wau", (s, dir) =>
      Summaries.rollingActive(events(s, dir), "user_id", "ts", windowDays = 7)
        .orderBy("report_date"),
      Oracle.Sql(
      // Rolling WAU: identical entity-day dedup, 7-day support explode
      // clamped to the span edge, distinct, per-date count.
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
        |FROM ex GROUP BY 1 ORDER BY report_date""".stripMargin)),

    // ── binned mutual information n_chars × n_tokens: the dependence
    // audit Pearson (q149) is blind to; explicit bin domains (the q161
    // pivot-domain contract), cells-bounded margins and entropy sums.
    Query("q210_binned_mi", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("n_chars"),
          size(filter(split(col("text"), " "), t => t =!= ""))
            .cast("long").as("n_tokens"))
      Summaries.binnedMutualInformation(docs, "n_chars", "n_tokens",
        xBins = 10, yBins = 10, xLo = 0, xHi = 600, yLo = 0, yHi = 100)
    }, Oracle.Sql(
      // Binned MI: identical bin formula (the (x−lo)·bins/(hi−lo) floor
      // clamp), integer-exact cells/margins, 9-dp decimal term sums (the
      // q182 rule), entropies from distinct margin rows.
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
        |FROM joint CROSS JOIN hx CROSS JOIN hy""".stripMargin)),

    // ── quantile normalization: per-source n_chars mapped onto the
    // GLOBAL length distribution at its own source's rank — the
    // batch-effect harmonizer (per-group boundary fold + sort-assisted
    // global inverse CDF as a literal).
    Query("q224_quantile_normalize", (s, dir) =>
      Summaries.quantileNormalize(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", nBuckets = 10)
        .orderBy("doc_id"),
      Oracle.Sql(
      // Quantile normalization: per-group quantile_cont boundary arrays,
      // the q168 list_filter rank fold, global inverse CDF at the bucket
      // midpoints, list lookup, 6 dp (+0.0 — generic value domains can be
      // signed even though n_chars is not).
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
        |ORDER BY doc_id""".stripMargin))
  )
}
