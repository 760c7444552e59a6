package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Summaries
import graft.operators.{Par, Similarity, TextAnalysis}
import graft.queries.Shared._

/** Queries over [[graft.operators.TextAnalysis]]: tokens, vocabularies,
  * TF-IDF/BM25 postings, the sparse index, BPE and text quality signals.
  */
private[graft] object TextQueries {

  val all: Seq[Query] = Seq(

    // ══ Extended training-data-pipeline operators (SURVEY.md §7.5) ══

    // ── text analysis: token counting + quality signals.
    Query("q17_text_stats", (s, dir) =>
      TextAnalysis.textStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        | CAST(len(list_filter(string_split(text,' '), t -> t IN ('a','the','and','of','to','in'))) AS BIGINT) AS n_stopwords,
        | len(list_filter(string_split(text,' '), t -> t IN ('a','the','and','of','to','in')))
        |   / CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── language-ID heuristic (marker-word scoring, deterministic argmax).
    Query("q18_lang_id", (s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
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
        |FROM s ORDER BY doc_id""".stripMargin)),

    // ── document fingerprint (winnowing-min over rolling n-gram hashes).
    Query("q19_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
      """SELECT doc_id, list_min(list_transform(
        |  range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
        |  i -> md5(array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── text normalization (lowercase / strip punctuation / collapse
    // whitespace) — the first pass of every cleaning pipeline.
    Query("q49_text_normalize", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm"))
        .orderBy("doc_id"),
      Oracle.Sql(
      """SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        | '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── Gopher-style quality signals: word stats as per-row array
    // expressions (shuffle-free at any scale).
    Query("q51_quality_signals", (s, dir) =>
      TextAnalysis.qualitySignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        | CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS mean_word_len,
        | CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
        | CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS frac_unique,
        | CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_word_len
        |FROM sp ORDER BY doc_id""".stripMargin)),

    // ── corpus vocabulary stats: token frequency + document frequency
    // (the TF-IDF/vocab-building primitive), top-100 deterministic.
    Query("q62_token_freq", (s, dir) =>
      TextAnalysis.tokenCorpusStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("tf").desc, col("token").asc)
        .limit(100),
      Oracle.Sql(
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin)),

    // ── per-document top-5 TF-IDF keywords (corpus-relative term
    // importance; min df 2 prunes hapax noise). Score rounded to 6 dp —
    // ln is last-ulp engine-unstable, rounding makes rank + value
    // engine-identical (TextAnalysis.tfidfKeywords scaladoc).
    Query("q71_tfidf_keywords", (s, dir) =>
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text",
        k = 5, minDf = 2)
        .orderBy("doc_id", "rn"),
      Oracle.Sql(
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
        |FROM r WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin)),

    // ── BM25 retrieval: top-20 docs for a fixed 3-term query (per-term
    // contributions decimal-summed for order-independent exactness).
    Query("q72_bm25", (s, dir) =>
      TextAnalysis.bm25Rank(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("hash", "join", "filter"), k = 20)
        .orderBy(col("score").desc, col("doc_id").asc),
      Oracle.Sql(
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
        |FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // ── text scrubbing (PII-style redaction): ordered regexp_replace
    // battery, per-row, RE2-compatible patterns for engine parity.
    Query("q66_scrub", (s, dir) =>
      TextAnalysis.scrub(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
      """WITH s AS (SELECT doc_id, text,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  'https?://[^\s]+', '<URL>', 'g'),
        |  '\b\d{3}[- .]\d{3}[- .]\d{4}\b', '<PHONE>', 'g') AS scrubbed
        | FROM documents)
        |SELECT doc_id, scrubbed,
        | CAST(length(text) - length(scrubbed) AS BIGINT) AS n_chars_removed
        |FROM s ORDER BY doc_id""".stripMargin)),

    // ── repetition signals: most-frequent-bigram share, per-row (sorted-
    // array longest run == max frequency), Gopher's repetition filter.
    Query("q55_repetition", (s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
      """WITH g AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' '))),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS gram
        | FROM documents WHERE len(string_split(text,' ')) >= 2),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1,2),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |      CAST(max(cnt) AS BIGINT) AS max_gram_count FROM c GROUP BY 1)
        |SELECT doc_id, n_grams, max_gram_count,
        | CAST(max_gram_count AS DOUBLE) / n_grams AS top_gram_ratio
        |FROM a ORDER BY doc_id""".stripMargin)),

    // ── HLL vocabulary size: approx_count_distinct (HyperLogLog++) beside
    // the exact count. Sketch estimates are engine-specific, so this is a
    // rows-only query gated by committed golden hashes (tools/goldens/),
    // like q31 — the spec additionally pins the ≤5% relative error.
    Query("q75_vocab_hll", (s, dir) =>
      TextAnalysis.vocabSize(t(s, dir, "documents"), "text"),
      Oracle.Golden),

    // ── unigram LM quality scoring (the CCNet/KenLM perplexity filter's
    // Spark-expressible reduction): corpus-trained token frequencies →
    // per-doc average log-likelihood; 6-dp + decimal-sum determinism.
    Query("q79_unigram_lm", (s, dir) =>
      TextAnalysis.unigramLogLikelihood(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
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
        |FROM a ORDER BY doc_id""".stripMargin)),

    // ── sliding-window chunking (RAG/embedding prep): 16-token windows,
    // stride 8, ragged tail — a pure narrow plan, zero shuffles.
    Query("q80_chunking", (s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 16, strideTokens = 8)
        .orderBy("doc_id", "chunk_idx"),
      Oracle.Sql(
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, t,
        |  greatest(0, CAST(ceil(CAST(len(t) - 16 AS DOUBLE) / 8) AS INT) * 8) AS ls FROM sp),
        |ch AS (SELECT doc_id, t, unnest(range(0, ls + 1, 8)) AS s FROM st)
        |SELECT doc_id, CAST(s / 8 AS BIGINT) AS chunk_idx,
        | array_to_string(t[s+1 : s+16], ' ') AS chunk_text,
        | CAST(len(t[s+1 : s+16]) AS BIGINT) AS n_tokens
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ── bigram LM scoring with stupid backoff (CCNet-shape: frequency
    // tables trained on a reference half, scoring the full corpus, so
    // unseen bigrams/OOV tokens exercise the backoff branches).
    Query("q83_bigram_lm", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bigramLogLikelihood(docs,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle.Sql(
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
        |FROM a ORDER BY doc_id""".stripMargin)),

    // ── quality-classifier gate (fastText/CCNet reduction): logistic
    // score over five deterministic text features, keep iff > 0.5;
    // per-row narrow plan, zero shuffles.
    Query("q84_quality_classifier", (s, dir) =>
      TextAnalysis.qualityClassify(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
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
        |FROM z ORDER BY doc_id""".stripMargin)),

    // ── within-document repeated-line removal (C4 boilerplate cut):
    // multi-line docs derived by sandwiching a successor's text between
    // two copies of the doc's own line; the repeat is dropped per doc.
    Query("q86_dedup_lines", (s, dir) => {
      val docs = t(s, dir, "documents")
      val three = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"),
          concat(col("text"), lit("\n"), col("__t2"), lit("\n"), col("text")).as("text"))
      TextAnalysis.dedupLines(three, "doc_id", "text").orderBy("doc_id")
    }, Oracle.Sql(
      """WITH three AS (SELECT a.doc_id, a.text || chr(10) || b.text || chr(10) || a.text AS text
        |               FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ls[i+1] AS line
        |      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM three),
        |           unnest(range(len(ls))) AS t(i)),
        |w AS (SELECT doc_id, pos, line,
        |             row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |      FROM l)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── corpus composition profile: per (lang, length-bucket) doc count,
    // token mass, doc share — the corpus-QA / mixing-weights table. The
    // share window runs over the aggregated (tiny) table only.
    Query("q95_corpus_profile", (s, dir) =>
      TextAnalysis.corpusProfile(t(s, dir, "documents"), "text", "lang")
        .orderBy("lang", "len_bucket"),
      Oracle.Sql(
      """WITH b AS (SELECT lang,
        |  least(CAST(floor(length(text) / 50.0) AS BIGINT), 9) AS len_bucket,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents
        |  WHERE text IS NOT NULL),
        |agg AS (SELECT lang, len_bucket, count(*) AS n_docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM b GROUP BY 1, 2)
        |SELECT lang, len_bucket, n_docs, n_tokens,
        | CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS frac_docs
        |FROM agg ORDER BY lang, len_bucket""".stripMargin)),

    // ── per-source duplication report: doc counts, distinct-text counts,
    // exact-dup rate, char mass per feed — digest-sized distinct flow.
    Query("q96_source_report", (s, dir) =>
      TextAnalysis.sourceReport(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source"),
      Oracle.Sql(
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT sha256(text)) AS n_unique,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars,
        | CAST(count(*) - count(DISTINCT sha256(text)) AS DOUBLE) / count(*) AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)),

    // ── content-defined chunking: Rabin-style rolling-hash boundaries
    // (portable 60-bit md5 bucket = 0 mod 8) — edit-stable chunk edges,
    // the chunk-level-dedup precursor. Pure narrow plan, zero exchanges.
    Query("q98_cdc_chunks", (s, dir) =>
      TextAnalysis.contentDefinedChunks(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx"),
      Oracle.Sql(
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
        |FROM y ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ── PII report: deterministic synthetic PII (emails / phones / IPv4s
    // in closed form from doc_id) appended to the text, then the detector
    // counts per category — the oracle runs the SAME regexes in its own
    // engine on the identically-built text, a true cross-engine gate on
    // the detector. Pure narrow projection (zero exchanges).
    Query("q108_pii_report", (s, dir) => {
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
    }, Oracle.Sql(
      // The SAME detector regexes (RE2-compatible by construction) run by
      // DuckDB's own engine on the identically-synthesized text — a true
      // cross-engine gate on the PII detector, not a restatement of counts.
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
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ── URL host/domain extraction + broadcast-anti-join blocklist:
    // urls built in closed form from (source, doc_id), host parsed with
    // the RE2-portable scheme regex, registered domain = last two labels,
    // blocked domains dropped via a broadcast LEFT ANTI join.
    Query("q109_url_host_filter", (s, dir) => {
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
    }, Oracle.Sql(
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
        |ORDER BY doc_id""".stripMargin)),

    // ── Zipf's-law fit over the top-200 token frequencies: one-row
    // corpus-QA gate (ln-ln least squares, 6-dp rounded — the q71 ln
    // portability rule); vocab agg is map-side combinable, the top-N cut
    // is TakeOrderedAndProject, regression runs over 200 rows.
    Query("q110_zipf_fit", (s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topN = 200),
      Oracle.Sql(
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |t AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 200),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM t)
        |SELECT round(regr_slope(ln(cnt), ln(rank)), 6) + 0.0 AS slope,
        | round(regr_intercept(ln(cnt), ln(rank)), 6) + 0.0 AS intercept,
        | round(regr_r2(ln(cnt), ln(rank)), 6) AS r2,
        | count(*) AS n_points FROM r""".stripMargin)),

    // ── collocation mining: top adjacent word pairs by PMI with a count
    // floor — bigram/unigram aggs are token-sized, N broadcasts, the cut
    // is TakeOrdered on the 6-dp-rounded score (all-integer ratio inside
    // ln, so both engines round the same real number).
    Query("q111_collocations", (s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minCount = 20, topK = 40),
      Oracle.Sql(
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
        |ORDER BY pmi DESC, bigram LIMIT 40""".stripMargin)),

    // ── per-source token-distribution drift (coverage KL vs the corpus):
    // one (source, token) agg reused via ReuseExchange, vocabulary-keyed
    // corpus join, broadcast totals, 6-dp rounded.
    Query("q116_slice_divergence", (s, dir) =>
      TextAnalysis.sliceDivergence(t(s, dir, "documents"), "text", "source")
        .orderBy("source"),
      Oracle.Sql(
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
        |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ── c-TF-IDF: top-10 characteristic terms per source slice —
    // tf_{t,c} · ln(1 + avgClassTokens / f_t), vocab-sized joins, the
    // rank window over the classes × vocab matrix only.
    Query("q128_class_terms", (s, dir) =>
      TextAnalysis.classTerms(
        t(s, dir, "documents").select("source", "text"),
        "source", "text", k = 10)
        .orderBy("source", "rn"),
      Oracle.Sql(
      // Identical c-TF-IDF arithmetic: BIGINT counts, the scalar
      // avg-class-tokens in DOUBLE, ln damp, 6-dp score, token-asc ties.
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
        |FROM r WHERE rn <= 10 ORDER BY source, rn""".stripMargin)),

    // ── one BPE training round: top-50 adjacent char pairs inside words
    // — two narrow explodes + an alphabet²-sized count + TakeOrdered.
    Query("q131_bpe_pairs", (s, dir) =>
      TextAnalysis.charPairStats(t(s, dir, "documents"), "text", k = 50),
      Oracle.Sql(
      // Identical pair extraction: whitespace words, adjacent 2-char
      // substrings, count desc / pair asc top-50.
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT substr(w.w, i, 2) AS pair
        |      FROM w, UNNEST(generate_series(1, length(w.w) - 1)) AS u(i)
        |      WHERE length(w.w) >= 2),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1)
        |SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 50""".stripMargin)),

    // ── per-doc OOV rate against the corpus's own top-500 tokens
    // (freq desc, token asc cut via TakeOrdered): exact BIGINT counts,
    // tokens weighted by multiplicity.
    Query("q145_oov_rate", (s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 500)
        .orderBy("doc_id"),
      Oracle.Sql(
      // Identical top-500 vocabulary (freq desc, token asc) and
      // multiplicity-weighted OOV rollup, exact BIGINT counts.
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
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ── Flesch-style reading ease with the vowel-run syllable proxy —
    // narrow per-row HOF pass, integer counts, fixed-order double score.
    Query("q146_readability", (s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(
      // Identical vowel-run readability arithmetic over the exploded token
      // stream: BIGINT counts, the three-term score in fixed double order.
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
        |FROM s ORDER BY doc_id""".stripMargin)),

    // ── χ² class-term association, top-10 per source: exact BIGINT
    // contingency counts, the χ² statistic in one pinned double shape
    // (BIGINT products would overflow at corpus scale).
    Query("q148_chi2_terms", (s, dir) =>
      TextAnalysis.chiSquareTerms(
        t(s, dir, "documents").select("source", "text"),
        "source", "text", k = 10)
        .orderBy("source", "rn"),
      Oracle.Sql(
      // Identical χ² arithmetic: every factor cast to double first, one
      // pinned multiplication order, 6-dp; (chi2 desc, token asc) rank.
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
        |FROM r WHERE rn <= 10 ORDER BY source, rn""".stripMargin)),

    // ── Cohen's κ between the annotated `lang` column and the langId
    // heuristic's prediction: one corpus pass to the confusion matrix,
    // decimal-exact chance term.
    Query("q150_lang_kappa", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("predicted_lang"))
      Summaries.cohenKappa(
        docs.select("doc_id", "lang").join(pred, Seq("doc_id")),
        "lang", "predicted_lang")
        .orderBy("n")
    }, Oracle.Sql(
      // Identical confusion-matrix κ: q18's prediction CASE chain, exact
      // BIGINT matrix, DECIMAL(38,0) chance term, κ from unrounded rates.
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
        |FROM t, c ORDER BY n""".stripMargin)),

    // ── filter-attribution report: a 4-rule Gopher-ish keep battery in
    // ONE conditional-sum pass — per-rule independent failure counts
    // plus the '(any)' corpus-shrink row.
    Query("q167_filter_report", (s, dir) => {
      val toks = split(col("text"), " ")
      TextAnalysis.filterAttribution(t(s, dir, "documents"), Seq(
        "len_ok" -> col("n_chars").between(200, 20000),
        "tokens_ok" -> (size(toks) >= 30),
        "lang_ok" -> col("lang").isin("en", "de", "es", "fr"),
        "unique_ok" ->
          (size(array_distinct(toks)).cast("double") / size(toks) >= 0.3)))
        .orderBy("rule")
    }, Oracle.Sql(
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
        |ORDER BY rule""".stripMargin)),

    // ── Misra–Gries heavy hitters over the token stream: top-50 by
    // sketch estimate. Capacity 100k ≥ the fixture vocab → the exact
    // regime, so the DuckDB exact-count twin hash-matches; under
    // capacity pressure (the 100 TB URL/n-gram regime) the partials
    // stay capacity-bounded and the spec pins the n/(cap+1) guarantee.
    Query("q184_heavy_hitters", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens("text")).as("token"))
        .agg(graft.functions.HeavyHittersOps
          .heavyHitters(100000, 50, col("token")).as("hh"))
        .select(posexplode(col("hh")).as(Seq("rn", "e")))
        .select(col("rn"), col("e.item").as("token"), col("e.est").as("est")),
      Oracle.Sql(
      // Capacity ≥ vocab → MG is exact, so the twin is the plain exact
      // count with the sketch's (est desc, item asc) rank order; rn is the
      // 0-based posexplode ordinal.
      """WITH toks AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT token, count(*) AS est FROM toks GROUP BY 1),
        |r AS (SELECT token, CAST(est AS BIGINT) AS est,
        |  CAST(row_number() OVER (ORDER BY est DESC, token) - 1 AS INT) AS rn
        | FROM cnt)
        |SELECT rn, token, est FROM r WHERE rn < 50 ORDER BY rn""".stripMargin)),

    // ── BPE tokenizer training, 3 merge rounds: the q131 pair
    // statistics turned into the actual Sennrich loop — one corpus pass
    // to word frequencies, then vocab-sized iterations. The merge table
    // is the shipped artifact.
    Query("q193_bpe_train", (s, dir) =>
      TextAnalysis.bpeTrainMerges(t(s, dir, "documents"), "text", merges = 3)
        .orderBy("step"),
      Oracle.Sql(
      // BPE unrolled 3 merges: char-split word-frequency table, adjacent-
      // overlapping pair counts with word multiplicity, (count desc,
      // l, r) argmax, pipe-wrapped replace() merge — replace's left-to-
      // right non-overlapping scan IS the BPE rewrite (the Spark side
      // states the identical string kernel).
      bpeOracleSql(merges = 3))),

    // ── calibration report for a [0,1] scorer (unique-token ratio)
    // against the lang='en' label, 10 bins: mean score vs observed
    // positive fraction per bin — the reliability audit before using
    // scores as sampling weights.
    Query("q200_calibration", (s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.calibrationReport(scored, "score", "label", bins = 10)
        .orderBy("bin")
    }, Oracle.Sql(
      // Calibration: identical IEEE score division (so identical bin
      // floors), 9-dp decimal score sums, exact count divisions, 6 dp.
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
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin)),

    // ── BPE encoding: train 3 merges (the q193 loop) and apply the
    // final vocab segmentation back to every document — per-doc token
    // budget for packing. The corpus is scanned twice; every merge
    // round runs on the Heaps'-bounded vocab table.
    Query("q212_bpe_encode", (s, dir) =>
      TextAnalysis.bpeTokenCounts(t(s, dir, "documents"), "doc_id", "text",
        merges = 3)
        .orderBy("doc_id"),
      Oracle.Sql(bpeEncodeOracleSql(merges = 3))),

    // ── vocabulary growth (Heaps'-law) curve over nested hash
    // subsamples: is the corpus still discovering new tokens at the
    // margin — all fractions from TWO corpus passes (doc-level
    // conditional sums + per-token min bucket).
    Query("q213_vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowthCurve(t(s, dir, "documents"), "doc_id", "text",
        permilles = Seq(100, 250, 500, 1000))
        .orderBy("permille"),
      Oracle.Sql(
      // Vocab growth: the same '' ∥ id md5 permille bucket; per-token MIN
      // bucket on the vocab table; per-fraction conditional sums.
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
        |) ORDER BY permille""".stripMargin)),

    // ── batch sparse-vector retrieval: TF-IDF postings as the inverted
    // index (minDf=2 prunes hapax; the maxDfFrac skew bound stays at its
    // keep-all default — the fixture's 31-token vocabulary is stopword-
    // dense by construction), a 1% hash sample of documents as sparse
    // queries, exact decimal dot-product top-5 per query.
    Query("q247_sparse_retrieval", (s, dir) => {
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
    }, Oracle.Sql(
      // Batch sparse retrieval: the shared posting/query chain + one
      // scoring tail, exact decimal dot products, top-5 per query.
      "WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── capped-posting recall gate: the same retrieval with every
    // posting list statically pruned to its 25 highest-weight docs
    // (quantized-WAND preprocessing), graded per query against the
    // exact arm — the "is my cap safe on MY corpus" pre-run.
    Query("q248_sparse_capped_recall", (s, dir) => {
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
    }, Oracle.Sql(
      // Capped-posting recall: the same chain with a second, statically
      // pruned posting relation (top-25 by weight per token), both arms'
      // top-5 tails, and the q234-style left-join recall rollup.
      "WITH " + sparsePostingCtes + ",\n" +
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
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── the lexical index LIFECYCLE: build the q247 index through the
    // SparseIndex verb set and serve the identical retrieval from it —
    // graded against q247's oracle verbatim (results identical by
    // construction, the q232-vs-q219 convention); the parquet
    // save/load round-trip and its fail-fast refusals are spec-pinned.
    Query("q258_sparse_index_search", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text", minDf = 2)
      val qp = idx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      TextAnalysis.sparseIndexSearch(idx, qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Lifecycle search: the loaded-index retrieval is q247's chain by
      // construction — same oracle verbatim.
      "WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── batch BM25 retrieval: the Okapi scorer baked into the posting
    // weights (q247's index reshaped to BM25), unit DECIMAL weights on
    // the distinct query terms, so the sparse dot product IS the classic
    // BM25 sum. Same 1% hash-sample query side as q247.
    Query("q251_bm25_retrieval", (s, dir) => {
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
    }, Oracle.Sql(
      // Batch BM25: the Okapi-weighted posting chain (constants are the
      // Scala-computed doubles, round-tripped) + unit-weight distinct
      // query terms + the shared sparse scoring tail.
      "WITH " + bm25PostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── vocabulary-drift gate for the frozen lexical index — the
    // measured "when must I rebuild" answer the honest no-add design
    // owes its users: OOV df-mass + df-share TV distance of a batch
    // against the index's posting relation, priced without a corpus
    // rescan. The 256-winner batch drifts from the minDf=2 index by
    // exactly the pruned-hapax mass (oov_mass > 0 by construction).
    Query("q261_sparse_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text", minDf = 2)
      TextAnalysis.sparseDriftReport(idx,
        evalSampleN(docs, "doc_id", 256), "doc_id", "text")
    }, Oracle.Sql(
      // Sparse vocabulary drift: index-side df = the posting-list length
      // (the minDf=2 dfq filter), batch-side df over the 256-winner
      // sample, full-joined df shares (missing side 0), 9-dp share
      // deltas into a DECIMAL(28,12) sum, one terminal 0.5 multiply —
      // the ivfDriftReport recipe on the union vocabulary.
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
         |FROM per, tots t, tv GROUP BY t.tb, tv.tv""".stripMargin)),

    // ── the cap operating-point planner: sweep the static-pruning knob
    // against exact-arm recall and the EXACT capped-index size
    // (Σ min(len_t, cap)) on the 16-winner query sample — the q242
    // grid-search convention for the lexical index; chosen = smallest
    // index meeting 0.8 mean recall.
    Query("q262_sparse_cap_plan", (s, dir) => {
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
    }, Oracle.Sql(
      // Cap operating-point plan: one suffixed scoring tail per grid cap
      // over its pruned posting relation (the q242 parameterized-arms
      // convention), the exact arm stated once, EXACT capped sizes
      // Σ min(len_t, cap) from one length table, and the deterministic
      // (meets, size, recall desc, cap) chosen window.
      {
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
    })),

    // ── query-profile RECONSTRUCTION serving: the q247 retrieval with
    // the query side derived from RAW TEXT against the frozen index
    // (queryPostings: tokenize + vocab-df join + the index's own weight
    // formula) — the out-of-corpus-queries verb; for in-corpus query
    // docs the reconstruction is bit-exact (spec-pinned), so this
    // grades against q247's oracle verbatim.
    Query("q264_sparse_query_profile", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text", minDf = 2)
      val qp = TextAnalysis.queryPostings(idx,
        evalSampleN(docs, "doc_id", 16), "doc_id", "text")
      TextAnalysis.sparseIndexSearch(idx, qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Query-profile reconstruction: bit-exact to the q247 chain for
      // in-corpus query docs, by the queryPostings parity contract.
      "WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── OUT-OF-CORPUS hybrid serving — the full "new query arrives as
    // text + vector" production shape: q260's two persisted-index arms
    // with the sparse query side RECONSTRUCTED from raw text against
    // the frozen index (queryPostings, the q264 verb) instead of read
    // out of the posting relation. For in-corpus query docs the
    // reconstruction is bit-exact, so this grades against q260's
    // oracle with the query CTEs restated through the reconstruction
    // formula — the parity is the graded contract.
    Query("q265_hybrid_query_serving", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text", minDf = 2, cap = Some(25)))
      val qp = TextAnalysis.queryPostings(sIdx,
        evalSampleN(docs, "doc_id", 16), "doc_id", "text")
      graft.operators.Retrieval.hybridSearch(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }, Oracle.Sql(
      // Out-of-corpus hybrid SERVING: q260's exact oracle with the sparse
      // query side restated through the queryPostings reconstruction
      // formula (the q264 convention) — in-corpus reconstruction is
      // bit-exact, so the two statements must agree row-for-row.
      "WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparseReconstructionCtes + ",\n" + hybridIndexFusionTail)),

    // ── BM25 query-profile reconstruction: q251's Okapi retrieval with
    // the unit-weight query side derived from RAW TEXT by queryPostings'
    // bm25 arm (distinct in-vocabulary terms at weight 1 — the Okapi
    // convention: the document-side weights already carry the tf/length
    // saturation), served through the index lifecycle. Grades against
    // q251's oracle restated over the reconstructed query side.
    Query("q266_bm25_query_profile", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
        weighting = TextAnalysis.Bm25(), minDf = 2)
      val qp = TextAnalysis.queryPostings(idx,
        evalSampleN(docs, "doc_id", 16), "doc_id", "text")
      TextAnalysis.sparseIndexSearch(idx, qp, "query_id",
        "token", "weight", k = 5)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // BM25 reconstruction serving: q251's Okapi chain with the query
      // side restated through queryPostings' bm25 arm — unit weights on
      // distinct IN-VOCABULARY query terms (the reconstruction's actual
      // output; the vocabulary restriction is dot-product-neutral).
      "WITH " + bm25ReconstructionCtes + ",\n" + sparseTopKTail("post", "") +
        "\nSELECT query_id, doc_id, score, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── SCORE-based fusion (CombMNZ) of the two LEXICAL arms: the
    // TF-IDF top-5 and the BM25 top-5 over the same 16-winner query
    // sample, each arm's exact-decimal scores min-max normalized per
    // query, summed and multiplied by the agreement count — the
    // classic Fox & Shaw ensemble the rank-based q252 RRF flattens
    // away (both arms' score VALUES are oracle-green precedents, so
    // the normalization itself is what this grades).
    Query("q268_score_fusion", (s, dir) => {
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
    }, Oracle.Sql(
      // CombMNZ score fusion of the lexical ensemble: the q247 TF-IDF
      // scoring chain + the q251 Okapi chain (reusing the shared
      // dt/tfd/ndocs/dfq/qsd CTEs, _b-suffixed additions), each arm's
      // top-5 min-max normalized per query (constant/single-row list →
      // 1.0), fixed-order sum × agreement count at 6 dp.
      "WITH " + sparsePostingCtes + ",\n" + sparseTopKTail("post", "") + ",\n" +
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
          |ORDER BY query_id, fused DESC, doc_id""".stripMargin)),

    // ── the FULL production hybrid deployment, graded end-to-end:
    // q265's out-of-corpus shape with the dense index built
    // storeVectors=true, BOTH indexes SAVED (dense cell-clustered) and
    // RELOADED, and the dense arm served corpus-free (denseStored —
    // both stages partition-pruned, the corpus argument unread). Every
    // step is bit-identity-contracted (q277's stored rerank, q272's
    // pruned scan, q258's sparse round-trip, q264's reconstruction), so
    // this grades against q265's oracle VERBATIM.
    Query("q278_hybrid_stored_clustered", (s, dir) => {
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
              minDf = 2, cap = Some(25)),
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
    }, Oracle.Sql(
      // The full stored+clustered hybrid deployment: every lifecycle step
      // is bit-identity-contracted (stored rerank ≡ corpus rerank ≡ q232,
      // clustered save/load ≡ flat, sparse round-trip ≡ build, in-corpus
      // reconstruction ≡ postings), so the end-to-end serve grades against
      // q265's oracle VERBATIM — the parity chain IS the graded claim.
      "WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparseReconstructionCtes + ",\n" + hybridIndexFusionTail)),

    // ── per-source ROC AUC of the q200 quality score against the
    // is-English label — integer-exact Mann–Whitney midranks, one
    // terminal division (NULL on degenerate sides).
    Query("q221_group_auc", (s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.aucByGroup(scored, "source", "score", "label")
        .orderBy("source")
    }, Oracle.Sql(
      // Per-group Mann–Whitney AUC: same per-(group, DISTINCT score)
      // midrank table (ties share 2·below + c + 1), DECIMAL(38,0) rank
      // sums, ONE terminal division of exact integers — no rounding.
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
        |FROM agg ORDER BY source""".stripMargin)),

    // ── one-row score evaluation: Brier + ECE + worst-bin gap over the
    // q200 score/label/bins — 9-dp decimal term sums, all metrics ≥ 0.
    Query("q222_score_eval", (s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.scoreEvalReport(scored, "score", "label", bins = 10)
    }, Oracle.Sql(
      // Brier/ECE/worst-gap: identical IEEE bin floors, 9-dp decimal term
      // sums for the Brier squares and the n_b/n-weighted |gap| terms,
      // terminal 6 dp — all metrics >= 0 by construction.
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
        |FROM g""".stripMargin)),

    // ── isotonic calibration of the q200 score: weighted PAV through the
    // exact minimax identity over the bins table — the monotone
    // recalibration map; all levels are single divisions of integer
    // range sums.
    Query("q225_isotonic", (s, dir) => {
      val toks = TextAnalysis.tokens("text")
      val scored = t(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("score",
          size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .withColumn("label", col("lang") === "en")
      Summaries.isotonicCalibration(scored, "score", "label", bins = 10)
        .orderBy("bin")
    }, Oracle.Sql(
      // Isotonic: identical bin floors, the same minimax
      // max_{i<=b} min_{j>=b} of integer-range-sum averages, terminal 6 dp.
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
        |FROM bt JOIN f USING (bin) ORDER BY bin""".stripMargin))
  )
}
