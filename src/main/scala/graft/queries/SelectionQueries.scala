package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Summaries
import graft.operators.{Par, Sampling, Similarity, TextAnalysis}
import graft.queries.Shared._

/** Queries over [[graft.operators.Sampling]], [[graft.operators.Selection]]
  * and [[graft.operators.Profiling]]: which rows to keep and what they look like.
  */
private[graft] object SelectionQueries {

  val all: Seq[Query] = Seq(

    // ── deterministic content-hash sampling: row fate is a pure function
    // of the row id (stable under partitioning/retries/re-runs, unlike
    // sample()); split labels for one-pass train/test writing.
    Query("q60_hash_sample", (s, dir) =>
      graft.operators.Sampling.withSplitLabel(
        graft.operators.Sampling.hashSample(t(s, dir, "documents"), "doc_id", 500),
        "doc_id", 200)
        .select("doc_id", "split")
        .orderBy("doc_id"),
      Oracle.Sql(
      """SELECT doc_id,
        | CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 < 200
        |  THEN 'test' ELSE 'train' END AS split
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 < 500
        |ORDER BY doc_id""".stripMargin)),

    // ── stratified deterministic sampling: per-language keep rates
    // (corpus rebalancing), content-hash row fate.
    Query("q64_stratified_sample", (s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 800, "de" -> 200), 500)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Oracle.Sql(
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 <
        | CASE WHEN lang = 'de' THEN 200 WHEN lang = 'en' THEN 800 ELSE 500 END
        |ORDER BY doc_id""".stripMargin)),

    // ── deterministic shuffle: reproducible salted-hash training order
    // (the row-order-sensitive gate proves ordering parity).
    Query("q69_det_shuffle", (s, dir) =>
      graft.operators.Sampling.deterministicShuffle(
        t(s, dir, "documents"), "doc_id", salt = "epoch1")
        .select("doc_id"),
      Oracle.Sql(
      """SELECT doc_id FROM documents
        |ORDER BY md5('epoch1' || CAST(doc_id AS VARCHAR)), doc_id""".stripMargin)),

    // ── budgeted selection (data mixing): keep documents in greedy
    // quality order (lexical diversity desc, id asc) until a global
    // token budget is spent — two-pass bucketed prefix, NOT a global
    // cumulative window (one task sorting the corpus).
    Query("q77_budget_select", (s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(col("doc_id"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"),
        size(toks).cast("long").as("n_tokens"))
      graft.operators.Selection.selectUnderBudget(
        scored, "doc_id", "score", "n_tokens", budget = 10000L)
        .select("doc_id", "score", "n_tokens")
        .orderBy("doc_id")
    }, Oracle.Sql(
      """WITH scored AS (SELECT doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS score,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |run AS (SELECT doc_id, score, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS run FROM scored)
        |SELECT doc_id, score, n_tokens FROM run WHERE run <= 10000
        |ORDER BY doc_id""".stripMargin)),

    // ── domain mixing: per-domain token budgets (the mixing-weights
    // production shape) — same bucketed two-pass prefix as q77; the
    // boundary windows partition by domain.
    Query("q78_domain_mixing", (s, dir) => {
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
    }, Oracle.Sql(
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
        |ORDER BY doc_id""".stripMargin)),

    // ── deterministic training-shard assignment: salted-hash shard + 0-based
    // position within shard (hash order) — the reproducible global-shuffle-
    // then-shard layout; one hash exchange, in-partition sort, no global sort.
    Query("q97_shard_assign", (s, dir) =>
      Sampling.assignShards(
        t(s, dir, "documents").select("doc_id"), "doc_id", nShards = 8, salt = "epoch1")
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos"),
      Oracle.Sql(
      """WITH h AS (SELECT doc_id,
        |  md5('epoch1' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard, h FROM h)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin)),

    // ── per-group top-k selection: the 5 best docs per language by lexical
    // diversity, ranked by the bounded-heap partial aggregate (no per-group
    // window, no full-group sort — the q26 ANN ranking machinery reused).
    Query("q99_topk_per_lang", (s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
      graft.operators.Selection.topKPerGroup(scored, "lang", "score", "doc_id", 5)
        .orderBy("lang", "rn")
    }, Oracle.Sql(
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS score FROM documents),
        |r AS (SELECT lang, doc_id, score,
        |       CAST(row_number() OVER (PARTITION BY lang
        |        ORDER BY score DESC, doc_id) AS BIGINT) AS rn FROM s)
        |SELECT lang, doc_id, score, rn FROM r WHERE rn <= 5
        |ORDER BY lang, rn""".stripMargin)),

    // ── per-stratum quantile gate: keep docs at/above their language's
    // p40 lexical-diversity threshold — tiny threshold table broadcast
    // back, no window (exact percentile ≡ DuckDB quantile_cont, the q42
    // precedent).
    Query("q102_quantile_gate", (s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
      graft.operators.Selection.keepAboveQuantile(scored, "lang", "score", 0.4)
        .select("doc_id", "lang", "score")
        .orderBy("doc_id")
    }, Oracle.Sql(
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS score FROM documents),
        |t AS (SELECT lang, quantile_cont(score, 0.4) AS thr FROM s GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.score FROM s JOIN t USING (lang)
        |WHERE s.score >= t.thr ORDER BY doc_id""".stripMargin)),

    // ── weighted sampling without replacement (Efraimidis–Spirakis):
    // k docs drawn ∝ n_chars, deterministically (md5-uniform priorities) —
    // TakeOrderedAndProject plan, no global sort. The oracle states the
    // identical priority arithmetic.
    Query("q106_weighted_sample", (s, dir) =>
      Sampling.weightedSample(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
        .orderBy("doc_id"),
      Oracle.Sql(
      // Identical Efraimidis–Spirakis priority arithmetic: 60-bit md5
      // uniform, u = (x + 0.5) / 2^60 (the long→double rounding happens
      // before the add in BOTH engines), priority = ln(u) / w, top-100.
      """WITH w AS (SELECT doc_id, n_chars,
        |  ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT + 0.5)
        |     / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
        | FROM documents),
        |s AS (SELECT doc_id, n_chars FROM w ORDER BY k DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_chars FROM s ORDER BY doc_id""".stripMargin)),

    // ── per-language weighted sample: 20 docs per lang ∝ n_chars via
    // Efraimidis–Spirakis priorities ranked by the BoundedTopK bounded-
    // heap aggregate (groups × partitions × k exchange, no window).
    Query("q119_weighted_per_group", (s, dir) =>
      Sampling.weightedSamplePerGroup(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", "lang", k = 20, salt = "g")
        .orderBy("lang", "rn"),
      Oracle.Sql(
      """WITH w AS (SELECT lang, doc_id,
        |  ln((('0x' || substr(md5('g' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT + 0.5)
        |     / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS key
        | FROM documents),
        |r AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rn FROM w)
        |SELECT lang, doc_id, rn FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)),

    // ── temperature resampling (the XLM-R/mT5 multilingual rebalancer):
    // α = 0.5 flattens the en-heavy corpus toward uniform at expected
    // half size; per-lang keep rates broadcast back over a narrow filter.
    Query("q124_temperature_resample", (s, dir) =>
      Sampling.temperatureResample(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", alpha = 0.5, frac = 0.5, salt = "tmp")
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Oracle.Sql(
      // Identical temperature arithmetic: 6-dp decimal-summed group weights,
      // 12-dp keep rates, the q106 60-bit md5 uniform.
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
        |ORDER BY doc_id""".stripMargin)),

    // ── leakage-safe split: corpus ∪ copies of every 5th doc — copies
    // must follow their original's split (digest-group representative
    // keys the hash), pinning the no-train/eval-leak contract.
    Query("q126_leak_safe_split", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Sampling.leakSafeSplit(corpus, "doc_id", "text", testPermille = 200,
        salt = "lk")
        .select("doc_id", "split")
        .orderBy("doc_id")
    }, Oracle.Sql(
      // Identical group-representative split: md5 digest groups, min-id
      // representative, the q60 permille hash on the REPRESENTATIVE.
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |d AS (SELECT doc_id, md5(text) AS dig FROM corpus),
        |r AS (SELECT dig, min(doc_id) AS rep FROM d GROUP BY 1)
        |SELECT d.doc_id,
        | CASE WHEN ('0x' || substr(md5('lk' || CAST(r.rep AS VARCHAR)),1,15))::BIGINT % 1000 < 200
        |      THEN 'test' ELSE 'train' END AS split
        |FROM d JOIN r USING (dig)
        |ORDER BY doc_id""".stripMargin)),

    // ── reciprocal rank fusion of a char-length ranking and a token-count
    // ranking, top-50 per source: both lists come from the bounded-heap
    // aggregate, fixed-order two-term double sum, 6-dp.
    Query("q142_rank_fusion", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("double").as("len_score"),
          when(col("text").isNotNull,
            size(split(col("text"), " "))).cast("double").as("tok_score"))
      graft.operators.Selection.rankFusion(docs, "source", "doc_id",
        Seq("len_score", "tok_score"), topK = 50)
        .orderBy("source", "doc_id")
    }, Oracle.Sql(
      // Identical RRF: row_number lists cut at 50 per source (score desc,
      // doc_id asc — the bounded-heap's pinned tie order), full outer join,
      // fixed-order two-term sum, 6-dp.
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
        |ORDER BY source, doc_id""".stripMargin)),

    // ── target-share data mixing: explicit per-source corpus shares,
    // content-hash row fate, groups-sized rate table broadcast back.
    Query("q151_target_mix", (s, dir) =>
      Sampling.targetShareResample(
        t(s, dir, "documents").select("doc_id", "source", "lang"),
        "doc_id", "source",
        shares = Map("src0" -> 0.40, "src1" -> 0.35, "src2" -> 0.05),
        budgetFrac = 0.5)
        .orderBy("doc_id"),
      Oracle.Sql(
      // Identical keep-rate shape (budgetFrac·share·ntot/n, 12-dp, clipped)
      // and the shared md5 60-bit row-fate uniform; unlisted sources drop.
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
        |ORDER BY doc_id""".stripMargin)),

    // ── one-pass column profile of the documents table (exact arm —
    // count(DISTINCT) via Expand; the approx arm is the 100 TB path,
    // spec-pinned): string/integer columns only, whose min/max string
    // forms are engine-portable.
    Query("q159_column_profile", (s, dir) =>
      graft.operators.Profiling.profileColumns(
        t(s, dir, "documents"), Seq("doc_id", "lang", "source"))
        .orderBy("column"),
      Oracle.Sql(
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
        |) ORDER BY "column"""".stripMargin)),

    // ── Benford first-digit profile of extended price — the
    // fabricated-data / unit-mixup canary; digit via integer string
    // (floor then cast — a direct double→int cast diverges cross-engine).
    Query("q177_benford", (s, dir) =>
      graft.operators.Profiling.benfordProfile(
        t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("digit"),
      Oracle.Sql(
      // Identical digit extraction (floor → BIGINT → string → first char)
      // and the same rounded expectation formula.
      """WITH pos AS (
        | SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        | FROM lineitem WHERE l_extendedprice >= 1),
        |tot AS (SELECT count(*) AS nn FROM pos)
        |SELECT digit, count(*) AS n,
        | CAST(count(*) AS DOUBLE) / tot.nn AS share,
        | round(log10(1.0 + 1.0 / digit), 6) AS expected,
        | round(CAST(count(*) AS DOUBLE) / tot.nn - round(log10(1.0 + 1.0 / digit), 6), 6) + 0.0 AS deviation
        |FROM pos CROSS JOIN tot
        |GROUP BY digit, tot.nn ORDER BY digit""".stripMargin)),

    // ── referential-integrity fanout audit orders → lineitem: per-k
    // parent counts incl. childless (k=0), orphan children as k=-1 —
    // the broken-FK canary after every ingest.
    Query("q178_fanout_audit", (s, dir) =>
      graft.operators.Profiling.fanoutAudit(
        t(s, dir, "orders"), t(s, dir, "lineitem"),
        "o_orderkey", "l_orderkey")
        .orderBy("k"),
      Oracle.Sql(
      // Identical two-level aggregation; orphan sentinel always present.
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
        |ORDER BY k""".stripMargin)),

    // ── embedding-table quality audit per label: null / bad-element
    // (NaN or null dim) / zero-vector counters, dim range, 6-dp norm
    // stats — the post-re-embed canary
    // that catches a poisoned feed before ANN/centroid operators do.
    Query("q185_embedding_audit", (s, dir) =>
      graft.operators.Profiling.embeddingAudit(
        t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label"),
      Oracle.Sql(
      // Identical clean gate (non-null, NaN-free), 6-dp per-row norms
      // (fold of double squares), decimal-summed mean — counters over
      // everything, norm stats over clean rows only.
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
        |FROM m GROUP BY label ORDER BY label""".stripMargin)),

    // ── split drift audit: deterministic 80/10/10 hash split, then
    // exact KS of doc length for each split vs the rest — "did the split
    // skew lengths?" (it must not: hash fate is length-blind, so ks ≈ 0
    // is the healthy reading); q173's machinery over the split label.
    Query("q186_split_drift", (s, dir) => {
      val b = Sampling.hashBucket(col("doc_id"))
      val withSplit = t(s, dir, "documents").withColumn("split",
        when(b < 800, lit("train")).when(b < 900, lit("valid"))
          .otherwise(lit("test")))
      Summaries.ksDrift(withSplit, "n_chars", "split").orderBy("split")
    }, Oracle.Sql(
      // The q60 md5 permille split (80/10/10) feeding the q173 KS chain —
      // the same integer-exact sup over the split-vs-rest CDFs.
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
        |ORDER BY split""".stripMargin)),

    // ── functional-dependency discovery over four customer columns:
    // which column determines which (the join-key / denormalization
    // census a profiler runs on a new feed).
    Query("q191_fd_discovery", (s, dir) =>
      graft.operators.Profiling.functionalDeps(
        t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy("determinant", "dependent"),
      Oracle.Sql(
      // FD discovery: per ordered pair, distinct-(a,b) reduction then
      // violations = Σ (distinct b per a − 1); NULL groups as a value
      // (GROUP BY semantics) on both engines.
      {
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
    })),

    // ── count-min sketch (depth 4 × width 16, md5 buckets) over the
    // token stream, point-estimates for a ~30% hash-chosen probe vocab
    // vs exact counts: est ≥ exact always, overcount = collision mass
    // (width < the fixture vocab ON PURPOSE — the sf0.01 sketch is under
    // collision pressure, so nonzero overcounts are part of the pin).
    Query("q192_countmin", (s, dir) => {
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
    }, Oracle.Sql(
      // Count-min: identical md5 bucket hash (seed:token, 60-bit prefix,
      // mod 16), cell-count sketch, min-over-depth estimates for the
      // md5-chosen ~30% probe vocab, exact-count audit join.
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
        |FROM pe JOIN ex USING (token) ORDER BY token""".stripMargin)),

    // ── word2vec-style negative sampling: 3 integer-exact draws per doc
    // from the corpus unigram distribution via the bucketized interval
    // join — the embedding-training data generator.
    Query("q194_neg_samples", (s, dir) =>
      Sampling.negativeSamples(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "j"),
      Oracle.Sql(
      // Negative sampling: identical md5 hash-bucket vocab layout on
      // [0, W), integer draw u = md5(doc:j:ns) mod W, covering-interval
      // membership (the Spark side buckets the same range join).
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
        |ORDER BY doc_id, j""".stripMargin)),

    // ── HyperLogLog as a RELATION over the token vocabulary (m=64):
    // register table → integer-exact harmonic sum → estimate, with the
    // exact distinct count as the audit column — the third classic
    // sketch (after MG q184 and CMS q192), here fully oracle-checked
    // unlike approx_count_distinct's opaque engine sketch.
    Query("q202_hll_relation", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens("text")).as("token"))
      val est = graft.operators.Profiling.hllEstimate(
        graft.operators.Profiling.hllSketch(toks, "token", m = 64), m = 64)
      val exact = toks.agg(count_distinct(col("token")).as("exact"))
      est.crossJoin(broadcast(exact))
    }, Oracle.Sql(
      // HLL: identical md5 60-bit hash, reg = h mod 64, rho from bin()
      // length on the 54-bit tail, DECIMAL-exact harmonic sum, one IEEE
      // division; small-range ln correction quantized at 4 dp.
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
        |FROM e CROSS JOIN ex""".stripMargin)),

    // ── Bloom filter as a RELATION (512 bits × 3 hashes, 32-bit word
    // packing) over the token
    // vocabulary, probed with every token AND a '-zz' mutation of each:
    // no false negatives by construction, false positives counted
    // against the actual-membership audit column — the oracle-checkable
    // twin of q87's engine-opaque bloom_filter_agg, completing the
    // sketch tetralogy (MG q184, CMS q192, HLL q202).
    Query("q204_bloom_relation", (s, dir) => {
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
    }, Oracle.Sql(
      // Bloom: identical md5 positions (seed:token mod 512), 32-bit word
      // packing via bit_or (checked engines reject 1 << 63 on a signed
      // 64-bit lane), AND-of-bits membership, actual-presence audit.
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
        |ORDER BY mc.token""".stripMargin)),

    // ── uniform 20-per-language sample without replacement: content-
    // hash lottery tickets, k smallest per group via the BoundedTopK
    // partial aggregate — deterministic eval-set cuts, no RNG, no
    // per-group window.
    Query("q205_uniform_per_group", (s, dir) =>
      Sampling.uniformKPerGroup(t(s, dir, "documents"), "doc_id", "lang", k = 20)
        .orderBy("lang", "rn"),
      Oracle.Sql(
      // Uniform per-group sample: identical md5 lottery tickets, k
      // smallest per group, (hash asc, id asc) rank.
      """WITH h AS (
        | SELECT lang, doc_id,
        |  ('0x' || substr(md5('us' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
    % 1125899906842624 AS hv
        | FROM documents),
        |r AS (SELECT lang, doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS BIGINT) AS rn
        | FROM h)
        |SELECT lang, doc_id, rn FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)),

    // ── Poisson-bootstrap CI for the corpus mean: 100 deterministic
    // hash-weighted resamples in one narrow explode (partial aggregation
    // fires before the exchange — the shuffle carries partitions×B
    // partial rows, never corpus×B), quantiles on the B-row table.
    Query("q209_bootstrap_ci", (s, dir) =>
      Sampling.bootstrapMeanCI(t(s, dir, "documents"), "doc_id", "n_chars",
        replicates = 100),
      Oracle.Sql(
      // Poisson bootstrap: identical md5 ticket ('boot' ∥ b ∥ ':' ∥ id →
      // micro-grid uniform) through the same literal Poisson(1) CDF CASE;
      // replicate means quantize at 9 dp into decimal sums; quantile_cont
      // over the B-row means table = Spark percentile (linear interp).
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
        |FROM fl CROSS JOIN ci""".stripMargin)),

    // ── per-source bootstrap CI: is source A's mean really above source
    // B's — the q209 machinery per slice; the exchange carries
    // groups × B partial rows.
    Query("q214_bootstrap_by_group", (s, dir) =>
      Sampling.bootstrapMeanCIByGroup(t(s, dir, "documents"), "doc_id",
        "n_chars", "source", replicates = 100)
        .orderBy("group"),
      Oracle.Sql(
      // Per-group bootstrap: the q209 chain with the group key carried
      // through — same tickets (weight ignores the group), same decimal
      // quantization, quantile_cont per group.
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
        |FROM fl LEFT JOIN ci USING (g) ORDER BY "group"""".stripMargin)),

    // ── conformal threshold audit: fit the top-20% score cutoff
    // (keepQuantile 0.8) on a 300‰ calibration slice, report the
    // OUT-OF-SAMPLE keep fraction — the honesty check before enabling a
    // q102-style quantile gate.
    Query("q215_conformal_coverage", (s, dir) => {
      val toks = split(col("text"), " ")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          (size(array_distinct(toks)).cast("double")
            / size(toks).cast("double")).as("score"))
      graft.operators.Selection.conformalCoverageReport(scored, "doc_id",
        "score", calibPermille = 300, keepQuantile = 0.8)
    }, Oracle.Sql(
      // Conformal coverage: identical 'conf' ∥ id permille split, the
      // calibration quantile via the null-skipping CASE, eval comparison
      // against the 9-dp-quantized threshold (cross-engine-stable under
      // split-straddling score ties).
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
        |FROM cal CROSS JOIN k""".stripMargin)),

    // ── bottom-k rank-sample quantile sketch: the FIFTH classic
    // mergeable sketch as a relation (MG/CMS/HLL/Bloom done) — k
    // smallest md5 tickets through the bounded heap, quantiles off the
    // sample vs the exact corpus quantiles. Every sampled row is
    // oracle-checkable, unlike approx_percentile's opaque digest.
    Query("q218_rank_sample_quantiles", (s, dir) => {
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
    }, Oracle.Sql(
      // Rank sample: identical 'rs' ∥ id ticket mod 2^50, bottom-200 by
      // (ticket, value) — the heap's (−ticket desc, value asc) order
      // stated as ORDER BY/LIMIT; quantile_cont on the sample and corpus.
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
        |SELECT est.p, est.est, ex.exact_q FROM est JOIN ex USING (p) ORDER BY p""".stripMargin)),

    // ── ranked-list evaluation of the hybrid run: re-rank the q252
    // fusion by rrf, grade its top-5 against the dense brute-force gold
    // with MRR + binary-relevance nDCG — "did fusing the sparse arm
    // move the right docs UP", per query, as a relation.
    Query("q257_hybrid_ranked_eval", (s, dir) => {
      val (fused, dense) = hybridParts(s, dir)
      val run = graft.operators.Selection.topKPerGroup(
        fused.select("query_id", "doc_id", "rrf"),
        "query_id", "rrf", "doc_id", 5)
      graft.operators.Selection.rankedEvalReport(
        dense, "query_id", "doc_id", "rn",
        run, "query_id", "doc_id", "rn", k = 5)
        .orderBy("query_id")
    }, Oracle.Sql(
      // Hybrid ranked eval: the shared fusion chain re-ranked by
      // (rrf DESC, doc_id), graded against the dense top-5 (`dn`) as
      // gold — MRR + binary nDCG with 6-dp DECIMAL(9,6) log2 terms.
      "WITH " + hybridFusionCtes + ",\n" +
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
          |FROM ev GROUP BY 1 ORDER BY query_id""".stripMargin)),

    // ── the absolute-size hash sample graded DIRECTLY (q60's twin for
    // the round-14 convention): exactly 32 winners of the md5-ticket
    // lottery — the primitive every eval query's bounded query side and
    // pair sample now rides.
    Query("q263_hash_sample_n", (s, dir) =>
      graft.operators.Sampling.hashSampleN(t(s, dir, "documents"),
        "doc_id", 32)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id"),
      Oracle.Sql(
      // Absolute-size hash sample: the 32 smallest-ticket ids (md5 hash60
      // mod 2^50, salt "us", ties by id) — the winners CTE every round-14
      // eval oracle states, graded directly.
      s"""WITH ${evalSampleNCte("w", "documents", "doc_id", 32)}
         |SELECT doc_id, source, lang FROM documents JOIN w USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // ── the hybrid serving stack's HEALTH GATE: both arms' drift
    // monitors over a shared incoming batch as one relation — the
    // dense arm's coarse-cell occupancy drift (q249's recipe: index
    // built on the 90% hash slice, the 10% complement as the batch)
    // and the sparse arm's vocabulary drift (q261's recipe: minDf=2
    // index, 256-winner batch), each `(arm, oov_mass, tv, gate)`, plus
    // rebuild_any = either gate, repeated on both rows.
    Query("q267_hybrid_health", (s, dir) => {
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
    }, Oracle.Sql(
      // Hybrid health gate: the q249 per-cell drift chain rolled to its
      // one-row dense summary (suffixed _d) + the q261 vocabulary-drift
      // chain's sparse summary, unioned with bool_or(gate) repeated on
      // both rows — both algebras stated exactly as their graded
      // precedents.
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
        |FROM rws r, anyg a ORDER BY r.arm""".stripMargin)),

    // ── WEIGHTED RRF: q252's dense+sparse arms fused at dense 0.7 /
    // sparse 0.3 — the alpha knob every hybrid deployment tunes when
    // one arm is known stronger; rrfFuseRanks is this at all-ones
    // weights (one fusion tail, spec-pinned).
    Query("q269_weighted_rrf", (s, dir) => {
      val (dense, sparse) = hybridArms(s, dir)
      graft.operators.Selection.rrfFuseRanksWeighted(Seq(dense, sparse),
        "query_id", "doc_id", "rn", weights = Seq(0.7, 0.3), k0 = 60)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }, Oracle.Sql(
      // Weighted RRF: the shared q252 arms with the 0.7/0.3 coefficients
      // (dense term first; weights cast to DOUBLE so both engines divide
      // the identical IEEE values).
      "WITH " + hybridArmsCtes + ",\n" +
        """fz AS (SELECT query_id, doc_id, rank_1, rank_2,
          | round((CASE WHEN rank_1 IS NOT NULL
          |         THEN CAST(0.7 AS DOUBLE) / (60.0 + rank_1) ELSE 0.0 END)
          |     + (CASE WHEN rank_2 IS NOT NULL
          |         THEN CAST(0.3 AS DOUBLE) / (60.0 + rank_2) ELSE 0.0 END), 6) AS rrf
          |       FROM f)
          |SELECT query_id, doc_id, rank_1, rank_2, rrf FROM fz
          |ORDER BY query_id, rrf DESC, doc_id""".stripMargin)),

    // ── curriculum ordering: easiest-first within each source (length
    // as the difficulty proxy), sources interleaved ARITHMETICALLY —
    // position = (rank−1)·|groups| + group_index, no global window.
    Query("q227_curriculum", (s, dir) =>
      graft.operators.Selection.curriculumOrder(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", "source")
        .orderBy("position"),
      Oracle.Sql(
      // Curriculum: identical per-group rank windows, sorted-distinct
      // group indexing, and the same interleave arithmetic.
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
        |ORDER BY position""".stripMargin)),

    // ── water-filling mixture plan: per-source supply vs synthetic
    // weights under a 300-row budget — undersupplied sources saturate,
    // the shortfall redistributes; all saturation decisions are
    // DECIMAL(38,0) cross-products.
    Query("q228_mixture_plan", (s, dir) => {
      val sup = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("supply"))
        .withColumn("weight",
          when(expr("CAST(substring(source, 4) AS INT)") % 2 === 0,
            lit(50000L)).otherwise(lit(100000L)))
      Sampling.mixtureAllocation(sup, "source", "supply", "weight",
        budget = 300L)
        .orderBy("source")
    }, Oracle.Sql(
      // Mixture plan: the same double ratio ordering, DECIMAL(38,0)
      // saturation cross-products against the pre-i prefix state, prefix
      // min for the water-filling cut, and the identical terminal lambda*w.
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
        |FROM sat CROSS JOIN cut ORDER BY source""".stripMargin)),

    // ── declarative data-quality gate: five typed expectations over the
    // documents feed in ONE aggregation pass (unique via the exact
    // Expand-planned distinct count; in_range planted to violate — the
    // 400-char cap catches the long tail).
    Query("q223_expectations", (s, dir) =>
      graft.operators.Profiling.expectationReport(t(s, dir, "documents"), Seq(
        graft.operators.Profiling.ExpectNotNull("text"),
        graft.operators.Profiling.ExpectUnique("doc_id"),
        graft.operators.Profiling.ExpectInRange("n_chars", 1, 400),
        graft.operators.Profiling.ExpectInSet("lang", Seq("de", "en", "es", "fr", "zh")),
        graft.operators.Profiling.ExpectMatches("source", "src[0-9]+")))
        .orderBy("rule"),
      Oracle.Sql(
      // Expectations: one SELECT per rule over the same scan semantics —
      // the anchored regex stated as regexp_full_match to mirror Spark's
      // ^(?:...)$ rlike wrap.
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
        |FROM r CROSS JOIN t ORDER BY rule""".stripMargin))
  )
}
