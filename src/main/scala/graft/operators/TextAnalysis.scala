package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Rounding.zround

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristics, document
  * fingerprinting. All built from codegen'd `functions._` primitives — no
  * UDFs, no driver-side loops; every op is a narrow per-row projection that
  * scales linearly and pushes through whole-stage codegen.
  */
object TextAnalysis {

  /** Stopword markers for quality scoring (tiny deterministic set). */
  val Stopwords: Seq[String] = Seq("a", "the", "and", "of", "to", "in")

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ",", ")")

  /** Whitespace tokens as an array column. */
  def tokens(textCol: String): Column = split(col(textCol), " ")

  /** Canonical text normalization (the first pass of every cleaning
    * pipeline): lowercase, strip non-alphanumerics to spaces, collapse
    * whitespace runs, trim. Pure narrow projection.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Per-document stats: char length, whitespace-token count, a BPE-ish
    * regex token count (letter runs / digit runs / single non-space symbols),
    * stopword count and ratio, mean token length. Exact IEEE division only —
    * deterministic across engines.
    */
  /** Gopher-style repetition signals: total word-bigram count, the most
    * frequent bigram's count, and its share of all bigrams — high ratios
    * flag boilerplate/repetitive documents. Computed per-row: sort the
    * (non-deduplicated) bigram array and fold a longest-run scan over it
    * with an aggregate HOF — equal grams sort adjacent, so the max run IS
    * the max frequency. No shuffle at any scale.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val m = size(toks) - lit(1)
    val grams = zip_with(
      slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => concat_ws(" ", a, b))
    df.filter(size(toks) >= 2)
      .withColumn("__sorted", sort_array(grams))
      .withColumn("max_gram_count", expr(
        """aggregate(__sorted,
          |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
          |  (acc, x) -> named_struct(
          |    'prev', x,
          |    'run', IF(x <=> acc.prev, acc.run + 1, 1L),
          |    'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1, 1L))),
          |  acc -> acc.best)""".stripMargin))
      .select(col(idCol),
        size(col("__sorted")).cast("long").as("n_grams"),
        col("max_gram_count"),
        (col("max_gram_count").cast("double") / size(col("__sorted"))).as("top_gram_ratio"))
  }

  /** Gopher-style per-document quality signals (the standard pre-training
    * filter battery): word count, mean/max word length, alphabetic-word
    * count, unique-word fraction. All per-row array expressions — no
    * shuffle at any scale.
    */
  def qualitySignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = split(col(textCol), " ")
    df.select(col(idCol),
      size(t).cast("long").as("n_words"),
      (aggregate(t, lit(0L), (a, x) => a + length(x).cast("long")).cast("double") /
        size(t)).as("mean_word_len"),
      size(filter(t, x => x.rlike("[a-zA-Z]"))).cast("long").as("n_alpha_words"),
      (size(array_distinct(t)).cast("double") / size(t)).as("frac_unique"),
      array_max(transform(t, x => length(x))).cast("long").as("max_word_len"))
  }

  /** Filter-attribution report: for a named battery of keep-rules,
    * ONE corpus pass emitting a row per rule — `(rule, n_fail,
    * fail_frac)` — plus an `(any)` summary row (docs failing AT LEAST
    * one rule = the corpus shrink the battery causes). The "why did my corpus shrink 40%?" answer a curation
    * pipeline needs before shipping a filter battery: per-rule failure
    * counts are attributed INDEPENDENTLY (a doc failing two rules
    * counts in both), which is the actionable view — fixing the rule
    * with the largest n_fail recovers at most that many docs.
    *
    * 100 TB shape: every rule is a codegen'd predicate folded into one
    * aggregate row (conditional sums — no per-rule pass, no join); the
    * per-rule rollup is a rule-count-sized `stack` unpivot of that one
    * row (the [[graft.operators.Profiling.profileColumns]] pattern).
    */
  def filterAttribution(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "filterAttribution needs at least one rule")
    require(rules.forall { case (n, _) => !n.contains("'") && !n.contains("`") },
      "rule names with quotes/backticks are not supported")
    // a NULL predicate (e.g. a rule over a NULL column) FAILS the rule —
    // a doc that cannot prove it passes does not pass
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__f_$i")
    } :+ sum(when(rules.map(_._2).map(p => coalesce(p, lit(false)))
        .reduce(_ && _), 1L).otherwise(0L)).as("__kept")
    val row = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = (rules.zipWithIndex.map { case ((name, _), i) =>
      s"'$name', `__f_$i`"
    } :+ "'(any)', `__n` - `__kept`").mkString(", ")
    row.select(col("__n"),
      expr(s"stack(${rules.size + 1}, $stackArgs) AS (rule, n_fail)"))
      .select(col("rule"), col("n_fail"),
        round(col("n_fail") / col("__n").cast("double"), 6).as("fail_frac"))
  }

  def textStats(df: DataFrame, idCol: String, textCol: String,
                stopwords: Seq[String] = Stopwords): DataFrame =
    df.withColumn("__toks", tokens(textCol))
      .select(
        col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        size(col("__toks")).cast("long").as("n_tokens"),
        regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("n_bpe_tokens"),
        expr(s"size(filter(__toks, t -> t IN ${inList(stopwords)}))")
          .cast("long").as("n_stopwords"),
        (expr(s"size(filter(__toks, t -> t IN ${inList(stopwords)}))") /
          size(col("__toks")).cast("double")).as("stopword_ratio"))

  /** Language-ID heuristic: count marker-word hits per language, pick the
    * max with a fixed priority order for ties (deterministic CASE chain).
    * Falls back to "und" when no marker hits at all. The marker sets are the
    * heuristic — n-gram models plug in the same shape.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "los", "las", "que"),
    "fr" -> Seq("le", "la", "les", "et"),
    "zh" -> Seq("的", "是", "了", "在"))

  def langId(df: DataFrame, idCol: String, textCol: String,
             markers: Seq[(String, Seq[String])] = LangMarkers): DataFrame = {
    val withToks = df.withColumn("__toks", tokens(textCol))
    val scored = markers.foldLeft(withToks) { case (acc, (lang, ws)) =>
      acc.withColumn(s"score_$lang",
        expr(s"size(filter(__toks, t -> t IN ${inList(ws)}))").cast("long"))
    }
    // deterministic argmax: first language (in declared order) whose score
    // is >= every other score and > 0
    val scores = markers.map { case (l, _) => col(s"score_$l") }
    val best = markers.zipWithIndex.foldRight(lit("und")) { case (((lang, _), i), els) =>
      val mine = col(s"score_$lang")
      val geAll = scores.foldLeft(lit(true))((c, s) => c && mine >= s)
      when(mine > 0 && geAll, lit(lang)).otherwise(els)
    }
    scored.select((col(idCol) +: markers.map { case (l, _) => col(s"score_$l") }) :+
      best.as("predicted_lang"): _*)
  }

  /** Document fingerprint: winnowing-style minimum over the rolling window
    * of word n-gram hashes — robust to local edits, one string per doc,
    * joinable for dedup. (Reference surface: SURVEY.md §7.5 text ops.)
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.withColumn("__toks", tokens(textCol))
      .select(col(idCol),
        expr(s"array_min(transform(sequence(0, greatest(size(__toks)-$n, 0)), " +
          s"i -> md5(array_join(slice(__toks, i+1, $n), ' '))))").as("fingerprint"))

  /** Default scrub patterns: applied in order, each replaced by its tag.
    * Deliberately RE2-compatible (no backrefs/lookarounds) so the same
    * pattern text runs identically in any engine.
    */
  val ScrubPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^\\s]+" -> "<URL>",
    "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b" -> "<PHONE>")

  /** Text scrubbing (PII-style redaction): replace every match of each
    * pattern with its tag, in pattern order — a pure per-row projection
    * (zero shuffles, pushdown-transparent at any scale).
    */
  def scrub(df: DataFrame, idCol: String, textCol: String,
            patterns: Seq[(String, String)] = ScrubPatterns): DataFrame = {
    val scrubbed = patterns.foldLeft(col(textCol)) {
      case (acc, (re, tag)) => regexp_replace(acc, re, tag)
    }
    df.select(col(idCol), scrubbed.as("scrubbed"),
      (length(col(textCol)) - length(scrubbed)).cast("long").as("n_chars_removed"))
  }

  /** PII DETECTION patterns (the counting twin of [[ScrubPatterns]]'
    * redaction). RE2-compatible — no backrefs/lookarounds — so the same
    * pattern text runs identically in any engine, and ASCII-only classes
    * (`\d`, `\b`) so Unicode flag differences can't bite.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern: String = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Per-document PII report: match counts per category (email / phone /
    * IPv4), the total, and a keep/review flag — the audit table a corpus
    * release gate reads BEFORE [[scrub]] rewrites anything (you want the
    * rate measured on the raw text, and scrubbing only what needs it).
    * Pure per-row projection of codegen'd `regexp_count`s: zero shuffles,
    * linear at any scale.
    */
  def piiSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      regexp_count(t, lit(EmailPattern)).cast("long").as("n_email"),
      regexp_count(t, lit(PhonePattern)).cast("long").as("n_phone"),
      regexp_count(t, lit(Ipv4Pattern)).cast("long").as("n_ipv4"))
      .withColumn("n_pii", col("n_email") + col("n_phone") + col("n_ipv4"))
      .withColumn("has_pii", (col("n_pii") > 0).cast("int"))
  }

  /** Host part of a URL (`scheme://HOST[/...]`): empty string when the
    * value is not URL-shaped. RE2-compatible pattern, usable in any
    * engine verbatim.
    */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)

  /** Registered-domain heuristic: the last two dot-labels of a host
    * (`cdn.images.example.com` → `example.com`), the host itself when it
    * has fewer. A public-suffix list refines multi-label TLDs
    * (`.co.uk`) — join one against `domain` downstream; the two-label
    * fold is the standard crawl-pipeline default.
    */
  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    when(size(labels) >= 2, concat_ws(".", slice(labels, -2, 2)))
      .otherwise(host)
  }

  /** Blocklist filter by registered domain: parse host + domain from a URL
    * column, then drop rows whose domain appears in `blocklist` (one
    * `domain` column). The list rides as a BROADCAST anti-join — real
    * blocklists are 10⁵-10⁶ domains, far past any `isin` literal but well
    * under the broadcast threshold, and the corpus never shuffles.
    */
  def dropBlockedDomains(df: DataFrame, urlCol: String,
                         blocklist: DataFrame): DataFrame =
    df.withColumn("host", urlHost(col(urlCol)))
      .withColumn("domain", registeredDomain(col("host")))
      .join(org.apache.spark.sql.functions.broadcast(blocklist),
        Seq("domain"), "left_anti")

  /** Zipf's-law fit over the top-`topN` token frequencies: least-squares
    * slope/intercept/R² of `ln(count)` against `ln(rank)` (a healthy
    * natural-language corpus fits slope ≈ −1; machine-generated or
    * template-heavy corpora bend away) — a one-row corpus-QA gate.
    *
    * 100 TB shape: the vocabulary aggregation is map-side combinable
    * (token-sized exchange, the [[tokenCorpusStats]] plan), the top-N cut
    * is `TakeOrderedAndProject` (k-sized heads, no global sort), and the
    * rank window + regression run over `topN` rows — constant-bounded by
    * construction, NEVER corpus- or vocabulary-sized. Emitted statistics
    * are rounded to 6 dp ([[tfidfKeywords]]' ln-portability rule: the sum
    * order of the regression moments is partition-dependent at ~1e-13
    * relative error, and libm/JVM `ln` differ in the last ulp).
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 200): DataFrame = {
    require(topN >= 2, s"topN must be >= 2: $topN")
    val top = df.select(explode(tokens(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
    // window over <= topN rows (bounded by the limit above, not by data)
    val ranked = top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))))
    val y = log(col("cnt").cast("double"))
    val x = log(col("rank").cast("double"))
    ranked.agg(
      zround(regr_slope(y, x), 6).as("slope"),
      zround(regr_intercept(y, x), 6).as("intercept"),
      round(regr_r2(y, x), 6).as("r2"),
      count(lit(1)).as("n_points"))
  }

  /** Collocation mining by pointwise mutual information: the top-`topK`
    * adjacent word pairs by `PMI = ln(c(ab)·N / (c(a)·c(b)))`, with a
    * `minCount` floor to kill the hapax-pair noise PMI is notorious for.
    * The multiword-expression detector ("new york", "machine learning")
    * every tokenizer-vocabulary build runs.
    *
    * 100 TB shape: bigram and unigram tables are map-side-combinable
    * aggregations (token-sized exchanges, never corpus-sized); the two
    * count joins are vocabulary-keyed hash joins; `N` rides as one
    * broadcast row; the final cut is `TakeOrderedAndProject` on the
    * ROUNDED score (k-sized heads, no global sort). All-integer ratio
    * inside `ln` (products stay < 2⁶³ and are IEEE-exact), 6-dp rounded
    * output with a bigram tiebreak — engine-identical order.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5,
                   topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"minCount/topK must be >= 1: $minCount/$topK")
    val toks = tokens(textCol)
    val m = size(toks) - lit(1)
    val pairs = df.filter(size(toks) >= 2)
      .select(explode(zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (x, y) => struct(x.as("a"), y.as("b")))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
    val uni = df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // N from the VOCAB-SIZED count table (Σc = token total) — an
    // explode-and-count would be a third full corpus pass
    val n = uni.agg(sum(col("c")).as("__n"))
    pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .join(uni.select(col("w").as("a"), col("c").as("n_a")), "a")
      .join(uni.select(col("w").as("b"), col("c").as("n_b")), "b")
      .crossJoin(broadcast(n))
      .withColumn("pmi", zround(
        log((col("n_ab") * col("__n")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")), 6))
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("n_ab"), col("n_a"), col("n_b"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  /** Per-slice token-distribution drift vs the whole corpus: for every
    * value of `sliceCol` (source, language, crawl segment, snapshot), the
    * coverage KL divergence `Σ_{w∈slice} p(w)·ln(p(w)/q(w))` where `p` is
    * the slice's unsmoothed token distribution and `q` the corpus's
    * add-one-smoothed one — the drift monitor that flags a feed whose
    * language suddenly shifts (boilerplate injection, spam floods, crawl
    * breakage) before it pollutes a training mix. Restricting the sum to
    * the slice's own support (p = 0 terms vanish mathematically) keeps the
    * plan join-shaped; smoothing `q` keeps ln finite on slice-only tokens.
    *
    * 100 TB shape: ONE (slice, token) aggregation feeds everything — its
    * exchange is planned identically under each consumer, so Spark's
    * ReuseExchange collapses the re-reads; the corpus-count side is a
    * vocabulary-keyed join (NO vocab × slices cross join); corpus totals
    * and vocab size ride as one broadcast row; slice totals are a window
    * over the TOKEN-SIZED count table partitioned by slice (a slice's
    * vocabulary in one partition — fine for a profiling table; chunk the
    * slice key if a single slice's vocabulary outgrows a partition).
    * Output is 6-dp rounded (the ln portability rule).
    */
  def sliceDivergence(df: DataFrame, textCol: String,
                      sliceCol: String): DataFrame = {
    val tok = df.select(col(sliceCol), explode(tokens(textCol)).as("__w"))
    val sliceCounts = tok.groupBy(col(sliceCol), col("__w"))
      .agg(count(lit(1)).as("__cs"))
    val corpusCounts = sliceCounts.groupBy("__w").agg(sum("__cs").as("__ca"))
    val globals = corpusCounts.agg(
      sum("__ca").as("__n_all"), count(lit(1)).as("__vocab"))
    val withTotals = sliceCounts.withColumn("__ns",
      sum(col("__cs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(sliceCol))))
    // KL = (1/N_s) · Σ c_s · ln( c_s·(N_all+V) / (N_s·(c_a+1)) ): every
    // factor resolves per-row (broadcast scalars + the windowed N_s), so
    // one aggregation pass computes the whole report
    withTotals.join(corpusCounts, "__w")
      .crossJoin(broadcast(globals))
      .groupBy(col(sliceCol))
      .agg(
        max(col("__ns")).as("n_tokens"),
        round(
          sum(col("__cs").cast("double") *
            log((col("__cs").cast("double") *
              (col("__n_all") + col("__vocab")).cast("double")) /
              (col("__ns").cast("double") * (col("__ca") + 1).cast("double")))) /
            max(col("__ns")).cast("double"), 6).as("kl"))
  }

  /** Corpus token-frequency table — the vocabulary-building primitive:
    * per token, total occurrences (`tf`) and containing-document count
    * (`df`, the TF-IDF denominator). One explode + one aggregation; the
    * map-side partial agg collapses each partition's token space before
    * the shuffle, so the exchange carries vocabulary-sized data, not
    * corpus-sized.
    */
  def tokenCorpusStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(textCol)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col(idCol)).as("df"))

  /** Corpus composition profile: per (stratum, length-bucket) document
    * count, token mass, and document share — the at-a-glance corpus-QA
    * table that decides mixing weights before training. Bucket is plain
    * clamped integer arithmetic (`floor(chars / bucketWidth)`, capped at
    * `nBuckets - 1`) so it evaluates identically in any engine.
    *
    * 100 TB shape: one map-side-combinable aggregation over a narrow
    * projection; the share window runs over the AGGREGATED table
    * (strata × buckets rows — tiny at any corpus size), never the corpus.
    */
  def corpusProfile(df: DataFrame, textCol: String, stratumCol: String,
                    bucketWidth: Int = 50, nBuckets: Int = 10): DataFrame = {
    require(bucketWidth > 0 && nBuckets > 0,
      s"bucketWidth/nBuckets must be positive: $bucketWidth/$nBuckets")
    val bucket = least(
      floor(length(col(textCol)).cast("double") / bucketWidth).cast("long"),
      lit(nBuckets - 1L))
    val agg = df
      // null text must never reach the bucket expression: least() SKIPS
      // nulls in Spark (null docs would land in the top bucket with a
      // null token count) and its null semantics differ across engines
      .filter(col(textCol).isNotNull)
      .select(col(stratumCol), bucket.as("len_bucket"),
        size(tokens(textCol)).cast("long").as("__n_tokens"))
      .groupBy(col(stratumCol), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("__n_tokens").as("n_tokens"))
    agg.withColumn("frac_docs",
      col("n_docs").cast("double") /
        sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window
          .partitionBy()))
  }

  /** Per-source duplication and size report: for every source (feed,
    * domain, crawl segment), how many documents, how many DISTINCT texts,
    * the exact-duplicate rate, and the character mass. The first table a
    * corpus owner reads when deciding which feeds to throttle.
    *
    * 100 TB shape: the distinct count flows as (source, sha256) —
    * digest-sized rows with map-side partial distinct, never the text
    * itself; everything else is a map-side-combinable aggregate.
    */
  def sourceReport(df: DataFrame, idCol: String, textCol: String,
                   sourceCol: String): DataFrame =
    df.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2(col(textCol), 256)).as("n_unique"),
        sum(length(col(textCol))).cast("long").as("n_chars"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))

  /** Per-document top-k TF-IDF keywords — the classic corpus-relative
    * term-importance ranking: `score = tf · ln(N / df)`. Plan shape for
    * 100 TB: ONE corpus-sized exchange builds the (doc, token, tf) table;
    * document frequency is a vocabulary-sized re-aggregation OF that table
    * (never a second corpus pass); N arrives as a broadcast scalar; the
    * per-doc ranking window partitions by doc id — high cardinality, so
    * groups stay small and reducers balanced (the q05 pattern, NOT the
    * per-query corpus window the Similarity family had to ban).
    *
    * Determinism across engines: `ln` is last-ulp unstable between libm
    * and the JVM (measured: 8/98k rationals differ), so the emitted score
    * is rounded to 6 dp — ln of a rational is irrational, never ON a
    * rounding boundary — and the rank orders by the ROUNDED score with a
    * token tiebreak, so rank and value are engine-identical.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, minDf: Int = 1): DataFrame = {
    val docTerms = df.select(col(idCol), explode(tokens(textCol)).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val docFreq = docTerms.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val n = df.agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("token").asc)
    docTerms.join(docFreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("__n") / col("df")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(idCol), col("rn"), col("token"), col("tf"), col("df"), col("score"))
  }

  /** BM25 document ranking for a fixed term query — the standard lexical
    * retrieval scorer: `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl))`
    * with `idf = ln((N−df+0.5)/(df+0.5) + 1)` (the non-negative variant).
    *
    * Scale shape: doc length is a per-row `size()` (no agg); the (doc,
    * term, tf) table filters to the QUERY terms before its exchange, so
    * the aggregation is query-sized, not corpus-sized; N/avgdl broadcast
    * as one scalar row; the final top-k is a TakeOrdered, never a full
    * sort.
    *
    * Determinism: each term's contribution is rounded to 6 dp and summed
    * as DECIMAL(18,6) — decimal addition is exact and order-independent,
    * so the cross-engine score is identical no matter what order the
    * per-term rows arrive in (a double sum would be last-ulp
    * order-sensitive). avgdl is an exact integer sum over a double
    * divide, bit-identical in both engines.
    */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rank needs at least one query term")
    val base = df.select(col(idCol), tokens(textCol).as("__toks"))
      .withColumn("__len", size(col("__toks")).cast("long"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum(col("__len")).cast("double") / count(lit(1))).as("__avgdl"))
    val docTerms = base
      .select(col(idCol), col("__len"), explode(col("__toks")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__len"), col("token"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfq = docTerms.groupBy("token").agg(count(lit(1)).cast("double").as("__df"))
    docTerms.join(broadcast(dfq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__c", col("__idf") * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__len").cast("double") / col("__avgdl"))))
      .withColumn("__cr", round(col("__c"), 6).cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("__cr")).as("__s"), count(lit(1)).cast("long").as("n_terms"))
      .withColumn("score", col("__s").cast("double"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("n_terms"), col("score"))
  }

  /** Vocabulary size, exact and approximate: `approx_count_distinct`
    * (HyperLogLog++) is the 100 TB path — fixed-size sketch per
    * partition, no distinct-expand shuffle — with the exact count as the
    * small-scale cross-check (spec pins the relative error).
    */
  def vocabSize(df: DataFrame, textCol: String, rsd: Double = 0.02): DataFrame =
    df.select(explode(tokens(textCol)).as("token"))
      .agg(countDistinct(col("token")).as("exact_vocab"),
        approx_count_distinct(col("token"), rsd).as("approx_vocab"))

  /** Sliding-window document chunking — the RAG/embedding prep step:
    * split each document into windows of `chunkTokens` tokens advancing
    * by `strideTokens` (overlap = chunk − stride), emitting
    * (id, chunk_idx, chunk_text, n_tokens). The final window is the
    * ragged tail; a document shorter than one chunk yields exactly one
    * chunk; null-text documents are dropped (size(NULL) is −1 — a
    * negative "token count" must never escape). Pure narrow plan —
    * tokenize, window starts, slice, rejoin all happen per-row with
    * ZERO shuffles, so it runs at scan speed on any corpus size.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int = 128, strideTokens: Int = 64): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      s"strideTokens must be in [1, chunkTokens], got $strideTokens")
    val toks = split(col(textCol), " ")
    // last chunk start: the largest multiple of stride still leaving a
    // non-empty window — ceil((n - chunk) / stride) clamped at 0
    val n = size(toks)
    val lastStart = greatest(lit(0),
      ceil((n - lit(chunkTokens)).cast("double") / strideTokens).cast("int") * strideTokens)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__t"),
        posexplode(sequence(lit(0), lastStart, lit(strideTokens))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        slice(col("__t"), col("col") + 1, lit(chunkTokens)).as("__c"))
      .select(col(idCol), col("chunk_idx"),
        array_join(col("__c"), " ").as("chunk_text"),
        size(col("__c")).cast("long").as("n_tokens"))
  }

  /** Content-defined chunking (CDC): split each document at positions
    * where the rolling n-gram hash lands on `0 mod avgTokens` — the
    * Rabin-style boundary rule that keeps chunk edges STABLE under edits
    * (insert a token and only the chunks up to the next boundary change;
    * fixed-size chunking re-frames the whole tail). The production
    * precursor to chunk-level dedup and incremental ingest at 100 TB:
    * re-crawled near-identical pages re-chunk to mostly-identical chunk
    * hashes, so chunk-level exact dedup absorbs them without any
    * similarity machinery.
    *
    * The boundary hash is the engine-portable 60-bit md5 prefix (the
    * [[Sampling.hashBucket]] construction) of the n-gram ENDING at each
    * position; expected chunk length ≈ `avgTokens`. Returns
    * `(id, chunk_idx, chunk_text, n_tokens)`; chunks concatenate back to
    * the exact document.
    *
    * 100 TB shape: pure per-row array expressions + one posexplode —
    * ZERO exchanges, scan speed at any size, embarrassingly parallel.
    * The boundary hash dominates the cost: `portable = true` (default)
    * uses the md5 construction above so a DuckDB/SQL twin reproduces the
    * exact boundaries; `portable = false` swaps in codegen'd xxhash64 —
    * measured ~5× cheaper — for deployments that never need cross-engine
    * reproduction (boundary QUALITY is identical; positions differ).
    */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, avgTokens: Int = 8,
                           portable: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(avgTokens >= 2, s"avgTokens must be >= 2, got $avgTokens")
    def bucket(c: Column): Column =
      if (portable) pmod(Sampling.hash60(md5(c)), lit(avgTokens.toLong))
      else pmod(xxhash64(c), lit(avgTokens.toLong))
    // Tokenize in its OWN projection so the split materializes once per
    // row: referencing the split expression directly inside the filter()
    // lambda below would inline it into the lambda body and re-tokenize
    // the document once per position — measured O(m²): 1.58 s → 0.23 s on
    // the 5k-doc sf0.1 bench. CollapseProject keeps the barrier because
    // the producer is non-cheap and consumed more than once.
    val toks = col("__t")
    val m = size(toks)
    // 1-based positions i in [n, m-1] whose ending n-gram hashes to 0 —
    // a cut AFTER token i; position m is excluded so no chunk is empty.
    // (Spark's sequence() runs DESCENDING when start > stop, so guard.)
    val cuts = when(m > lit(n),
      filter(sequence(lit(n), m - 1),
        i => bucket(concat_ws(" ", slice(toks, i - (n - 1), lit(n)))) === 0))
      .otherwise(array().cast("array<int>"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .select(col(idCol), col("__t"), m.as("__m"), cuts.as("__c"))
      .select(col(idCol), col("__t"), col("__m"), col("__c"),
        posexplode(sequence(lit(0), size(col("__c")))))
      .select(col(idCol), col("col").cast("long").as("chunk_idx"),
        when(col("col") === 0, lit(0))
          .otherwise(element_at(col("__c"), col("col"))).as("__s"),
        when(col("col") === size(col("__c")), col("__m"))
          .otherwise(element_at(col("__c"), col("col") + 1)).as("__e"),
        col("__t"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__t"), col("__s") + 1, col("__e") - col("__s")), " ")
          .as("chunk_text"),
        (col("__e") - col("__s")).cast("long").as("n_tokens"))
  }

  /** Unigram language-model scoring — the Spark-expressible reduction of
    * the CCNet/KenLM perplexity quality filter: train token frequencies
    * on the corpus itself (one map-side-combined aggregation), then score
    * each document by its average token log-likelihood. More negative =
    * more surprising under the corpus distribution = the gibberish /
    * boilerplate tail a quality gate cuts. A real n-gram LM is
    * plug-compatible (same join-score-aggregate plan over a different
    * frequency table).
    *
    * Determinism (the q71/q72 discipline): each token's log-probability
    * is rounded to 6 dp — ln of a rational is irrational, never ON a
    * rounding boundary, so JVM-vs-libm 1-ulp drift cannot flip it — and
    * contributions are summed as DECIMAL(18,6), which is exact and
    * order-independent.
    *
    * Scale shape: vocab agg + doc agg are both partial-aggregated; the
    * scalar token total crossJoins as a broadcast literal; the
    * token-frequency join shuffles token-sized rows, never documents.
    */
  /** Within-document repeated-line removal — the C4-pipeline boilerplate
    * cut (nav menus, cookie banners and footers repeat VERBATIM inside a
    * page): keep the first occurrence of every distinct line, in order,
    * per document. `array_distinct` preserves first-occurrence order
    * (spec-pinned), so the whole operator is one per-row expression —
    * zero shuffles, scan speed at any size. Corpus-WIDE line/paragraph
    * dedup is [[graft.operators.Dedup.dedupParagraphs]]; this is the
    * per-document half every pipeline runs first.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame =
    df.withColumn(textCol,
      array_join(array_distinct(split(col(textCol),
        java.util.regex.Pattern.quote(sep))), sep))

  /** Default weights for [[qualityClassify]] over the five signal
    * features (saturating doc length, mean word length, alphabetic
    * fraction, unique fraction, saturating max word length): hand-set
    * stand-ins with the right signs — a trained model's coefficients are
    * plug-compatible, the plan is identical.
    */
  val DefaultQualityWeights: Seq[Double] = Seq(0.8, 0.15, 2.0, 1.5, -0.3)

  /** Quality-classifier gate — the fastText/CCNet "looks like good text"
    * filter reduced to its Spark-expressible core: a logistic model over
    * deterministic per-row text features, `score = sigmoid(w·x + b)`,
    * keep iff score > 0.5. Features (all rational, exact cross-engine):
    * doc length saturating at 100 words, mean word length, fraction of
    * words containing a letter, fraction of unique words, max word
    * length saturating at 20. The z sum is a fixed left-to-right
    * expression shape and the sigmoid is rounded to 6 dp (transcendental
    * output — never on a rounding boundary), so the score and the gate
    * decision are engine-reproducible. Per-row and narrow: zero
    * shuffles, runs at scan speed at any size.
    */
  def qualityClassify(df: DataFrame, idCol: String, textCol: String,
                      weights: Seq[Double] = DefaultQualityWeights,
                      bias: Double = -2.2): DataFrame =
    df.select(col(idCol),
        qualityScoreExpr(col(textCol), weights, bias).as("quality_score"))
      .withColumn("keep", col("quality_score") > 0.5)

  /** The classifier's 6-dp sigmoid score as a pure COLUMN — one
    * expression shared by [[qualityClassify]] (the graded projection)
    * and [[qualityGate]] (the in-place filter), so the two can never
    * disagree on a gate decision.
    */
  private def qualityScoreExpr(textCol: Column, weights: Seq[Double],
                               bias: Double): Column = {
    require(weights.length == 5, s"need 5 feature weights, got ${weights.length}")
    val t = split(textCol, " ")
    val f1 = least(size(t).cast("double") / lit(100.0), lit(1.0))
    val f2 = aggregate(t, lit(0L), (a, x) => a + length(x).cast("long"))
      .cast("double") / size(t)
    val f3 = size(filter(t, x => x.rlike("[a-zA-Z]"))).cast("double") / size(t)
    val f4 = size(array_distinct(t)).cast("double") / size(t)
    val f5 = least(array_max(transform(t, x => length(x))).cast("double") / lit(20.0),
      lit(1.0))
    val z = lit(bias) + lit(weights(0)) * f1 + lit(weights(1)) * f2 +
      lit(weights(2)) * f3 + lit(weights(3)) * f4 + lit(weights(4)) * f5
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** [[qualityClassify]]'s gate as an IN-PLACE filter: the same round-6
    * sigmoid > 0.5 decision applied to the full row — no projection, no
    * id join-back, so a composition gates the corpus in the SAME scan
    * that feeds its next stage (a `classify.filter(keep).join(df, id)`
    * formulation scans the corpus twice and shuffles the join;
    * spec-pinned equal to the classify-then-join kept set). Narrow,
    * zero shuffles.
    */
  def qualityGate(df: DataFrame, textCol: String,
                  weights: Seq[Double] = DefaultQualityWeights,
                  bias: Double = -2.2): DataFrame =
    df.filter(qualityScoreExpr(col(textCol), weights, bias) > 0.5)

  /** Bigram language-model scoring with STUPID BACKOFF (Brants et al.
    * 2007) — the next step from [[unigramLogLikelihood]] toward the
    * CCNet/KenLM perplexity filter, exercising the production shape:
    * frequency tables are trained on a REFERENCE corpus (CCNet trains on
    * Wikipedia) and score a different corpus, so unseen bigrams and
    * out-of-vocabulary tokens actually occur (self-scoring never backs
    * off — every observed bigram is in its own table).
    *
    * Score of token w after p: `ln(count(p,w) / count(p))` when the
    * reference saw the bigram, else `ln(0.4 · U(w))` (stupid backoff,
    * α = 0.4); the document-initial token scores `ln(U(w))`. `U(w)` is
    * `count(w)/total` with OOV tokens floored at pseudo-count 0.4.
    * Backoff is unnormalized by design (Brants: "stupid" — no discount
    * bookkeeping), which keeps every branch a pure rational-then-ln
    * expression, deterministic under the q79 discipline (6-dp rounded ln
    * of a rational is never on a rounding boundary; DECIMAL(18,6) sums).
    *
    * Scale shape: all three frequency joins shuffle token-sized rows
    * (never documents), both aggregations partial-aggregate, and the
    * scalar total rides a broadcast — the bigram table is the only
    * corpus-sized side and it joins by (prev, tok) key, exactly how a
    * sharded KenLM table would.
    */
  def bigramLogLikelihood(df: DataFrame, reference: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    def tokRows(src: DataFrame) =
      src.select(col(idCol), split(col(textCol), " ").as("__t"))
        .select(col(idCol), col("__t"), posexplode(col("__t")))
        // element_at is 1-based: at 0-based pos it reads the PREVIOUS token
        .select(col(idCol), col("pos"), col("col").as("tok"),
          when(col("pos") > 0, element_at(col("__t"), col("pos"))).as("prev"))
    val refRows = tokRows(reference)
    val vocab = refRows.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("__total"))
    val bigrams = refRows.filter(col("prev").isNotNull)
      .groupBy("prev", "tok").agg(count(lit(1)).as("bcnt"))
    tokRows(df)
      .join(vocab, Seq("tok"), "left")
      .join(vocab.select(col("tok").as("prev"), col("cnt").as("pcnt")), Seq("prev"), "left")
      .join(bigrams, Seq("prev", "tok"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__u", coalesce(col("cnt").cast("double"), lit(0.4)) / col("__total"))
      .withColumn("__lp", round(
        when(col("prev").isNull, log(col("__u")))
          .when(col("bcnt").isNotNull, log(col("bcnt") / col("pcnt")))
          .otherwise(log(lit(0.4) * col("__u"))), 6).cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lp")).as("__s"))
      .withColumn("avg_logprob", avgMicro6(col("__s"), col("n_tokens")))
      .select(col(idCol), col("n_tokens"), col("avg_logprob"))
  }

  /** 6-dp average of a 6-dp decimal sum over a count, rounded half-up
    * (away from zero) in EXACT integer arithmetic. `round(sum / n, 6)`
    * is NOT engine-stable here: unlike the 6-dp ln values being averaged
    * (transcendental — never on a rounding boundary), the quotient of a
    * 6-dp decimal by an integer is RATIONAL and can land exactly ON the
    * boundary, where Spark (exact-decimal HALF_UP of the double) and
    * DuckDB (scaled-double rounding) disagree — sf0.1 q83 had two docs
    * whose average ended …15 exactly. Micro-units: round_half_up(|S|/n)
    * = (2·|S| + n) div (2·n) on integers, re-signed, then one exact
    * double division by 10⁶ (IEEE-deterministic in every engine).
    */
  private def avgMicro6(sumCol: Column, nCol: Column): Column = {
    val sm = (sumCol * 1000000).cast("long") // exact: sum is a 6-dp decimal
    val n = nCol.cast("long")
    val mag = abs(sm) * 2 + n
    // floor(mag / 2n) as (mag − mag mod 2n) / 2n: every intermediate is an
    // exact long (or an exactly-representable double < 2⁵³), so the only
    // floating-point rounding in the whole pipeline is the final /10⁶
    val micro = (mag - pmod(mag, n * 2)).cast("double") / (n * 2).cast("double")
    signum(sm.cast("double")) * micro / lit(1e6)
  }

  def unigramLogLikelihood(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("__total"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .withColumn("__lp",
        round(log(col("cnt") / col("__total")), 6).cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lp")).as("__s"))
      .withColumn("avg_logprob", avgMicro6(col("__s"), col("n_tokens")))
      .select(col(idCol), col("n_tokens"), col("avg_logprob"))
  }

  /** Adjacent-symbol pair statistics at the character level — ONE round
    * of the BPE tokenizer-training inner loop (count all adjacent pairs
    * inside words; the argmax pair is the next merge). Full BPE training
    * is a driver loop over vocab-sized merge state re-counting per merge;
    * this operator is that loop's corpus-scan step, the only part that
    * touches data at scale.
    *
    * 100 TB shape: two narrow explodes (word, then pair — pairs
    * materialize as 2-char strings, never position indices), a map-side-
    * combinable pair count (pair cardinality ≤ alphabet², tiny), and a
    * TakeOrdered cut — no global sort, no window.
    */
  def charPairStats(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    df.select(explode(tokens(textCol)).as("__w"))
      .filter(length(col("__w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** Class-based TF-IDF (the BERTopic c-TF-IDF formulation): for each
    * class, the k terms with the highest
    * `tf_{t,c} · ln(1 + avgTokensPerClass / f_t)` — term frequency
    * within the class, damped by the term's GLOBAL frequency — the
    * "what characterizes this slice" report behind topic labeling and
    * per-source vocabulary QA. Scores round to 6 dp (ln is last-ulp
    * engine-unstable); ties break on token asc, a total order.
    *
    * 100 TB shape: both frequency tables are map-side-combinable token
    * aggregations; the score join is vocab-sized and co-keyed on token;
    * the scalar (total tokens / class count) broadcasts. The rank window
    * runs over the AGGREGATED classes × vocab matrix — corpus-independent
    * by construction, never the token stream (the q110/q114 pattern; a
    * BoundedTopK formulation would need integer ids, and the tie-break
    * contract here is lexicographic on the token itself).
    */
  def classTerms(df: DataFrame, classCol: String, textCol: String,
                 k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val tok = df.select(col(classCol).as("__c"), explode(tokens(textCol)).as("token"))
    val tfc = tok.groupBy(col("__c"), col("token")).agg(count(lit(1)).as("tf"))
    val ft = tok.groupBy(col("token")).agg(count(lit(1)).as("__f"))
    val avg = tok.agg(count(lit(1)).as("__ntok"))
      .crossJoin(df.agg(countDistinct(col(classCol)).as("__ncls")))
      .select((col("__ntok").cast("double") / col("__ncls").cast("double")).as("__avg"))
    val scored = tfc.join(ft, Seq("token")).crossJoin(broadcast(avg))
      .select(col("__c").as(classCol), col("token"), col("tf"),
        round(col("tf").cast("double")
          * log(lit(1.0) + col("__avg") / col("__f").cast("double")), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(col("score").desc, col("token"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Chi-squared class-term association: for every (class, token) the
    * 2×2-contingency χ² statistic over token OCCURRENCES
    * (`a` = token-in-class, with marginals `f` = token total and
    * `ct` = class total out of `N` corpus tokens), top-`k` per class by
    * (χ² desc, token asc) — the classic supervised feature-selection
    * screen next to [[classTerms]]'s c-TF-IDF ranking.
    *
    * Cross-engine exactness: counts stay BIGINT; χ² =
    * `N·(ad−bc)² / (f·(N−f)·ct·(N−ct))` is stated with every factor cast
    * to double FIRST and multiplied in one pinned order (BIGINT products
    * like a·d overflow at corpus scale — 10¹³ tokens squared — so the
    * double formulation is the portable one), 6 dp. Degenerate margins
    * (f = N or ct = N) yield χ² = 0.
    *
    * 100 TB shape: identical to [[classTerms]] — token-sized
    * map-side-combinable aggregations, the scalar N broadcast back, and
    * the rank window over the classes × vocab matrix only.
    */
  def chiSquareTerms(df: DataFrame, classCol: String, textCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val tok = df.select(col(classCol).as("__c"), explode(tokens(textCol)).as("token"))
    val a = tok.groupBy(col("__c"), col("token")).agg(count(lit(1)).as("a"))
    val f = tok.groupBy(col("token")).agg(count(lit(1)).as("__f"))
    val ct = tok.groupBy(col("__c")).agg(count(lit(1)).as("__ct"))
    val n = tok.agg(count(lit(1)).as("__n"))
    val joined = a.join(f, Seq("token"))
      .join(broadcast(ct), Seq("__c"))
      .crossJoin(broadcast(n))
    val ad = col("a").cast("double")
    val fd = col("__f").cast("double")
    val cd = col("__ct").cast("double")
    val nd = col("__n").cast("double")
    // b = f−a, c = ct−a, d = N−f−ct+a; ad−bc stated directly in doubles
    val adbc = ad * (nd - fd - cd + ad) - (fd - ad) * (cd - ad)
    val denom = fd * (nd - fd) * cd * (nd - cd)
    val scored = joined.select(col("__c").as(classCol), col("token"), col("a").as("tf"),
      when(col("__f") < col("__n") && col("__ct") < col("__n"),
        round(nd * (adbc * adbc) / denom, 6)).otherwise(lit(0.0)).as("chi2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(col("chi2").desc, col("token"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Per-doc out-of-vocabulary rate against the corpus's own top-`vocabSize`
    * tokens by total frequency (ties broken token-asc): `(doc, n_tokens,
    * n_oov, oov_rate)` — the tokenizer-coverage gate a pipeline runs
    * before committing to a vocabulary ("what fraction of each document
    * would become <unk>?"). `oov_rate` is exact BIGINT/BIGINT division
    * rounded 6 dp; tokens count with multiplicity (OOV cost is paid per
    * occurrence, not per type).
    *
    * 100 TB shape: corpus token frequencies are one map-side-combinable
    * aggregation; the vocabulary cut is `orderBy(...).limit(vocabSize)`,
    * which Spark plans as TakeOrderedAndProject — each partition keeps
    * only its own `vocabSize` best rows and the driver merges those
    * bounded tops (never a global sort); the vocab-sized result
    * broadcast-joins back onto the exploded token stream, and the
    * per-doc rollup keys on the doc id.
    * Corpus text is scanned twice (frequency pass + scoring pass), which
    * at 100 TB is the honest cost of a corpus-derived vocabulary; with a
    * FIXED external vocab, pass it as `df` shaped (token) and skip pass 1.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    val tok = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(textCol)).as("token"))
      .filter(col("token") =!= "")
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("__f"))
    val vocab = freq.orderBy(col("__f").desc, col("token").asc)
      .limit(vocabSize).select("token")
    tok.join(broadcast(vocab).withColumn("__in", lit(1)), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** Flesch-style reading-ease per document, with the standard
    * vowel-group syllable proxy: syllables(word) = max(1, number of
    * `[aeiou]+` runs), sentences = max(1, number of '.'-terminated
    * tokens), `score = 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)`, 6 dp. A readability gate is a stock
    * quality signal next to [[qualityScore]]'s ratios; the vowel-run
    * proxy keeps it dictionary-free and cross-engine exact (counts are
    * integers; the score is three fixed-order double ops).
    *
    * 100 TB shape: pure narrow per-row projection — the syllable sum is
    * an aggregate HOF over the token array, no explode, no shuffle.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(tokens(textCol), t => t =!= "")
    val words = size(toks).cast("long")
    val sentences = greatest(lit(1L),
      size(filter(toks, t => t.endsWith("."))).cast("long"))
    val syllables = aggregate(toks, lit(0L),
      (acc, w) => acc + greatest(lit(1L),
        size(regexp_extract_all(w, lit("[aeiou]+"), lit(0))).cast("long")))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch",
        zround(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")),
          6))
  }

  /** BPE tokenizer training over the corpus: `merges` rounds of "count
    * adjacent symbol pairs, merge the most frequent" (Sennrich-style,
    * q131's pair statistics turned into the actual training loop).
    * Output: the merge table `(step, left, right, pair_count)` — the
    * artifact a tokenizer ships.
    *
    * Semantics (pinned by the oracle twin): symbols start as single
    * characters of each whitespace word (no end-of-word marker); pair
    * counts are ADJACENT-OVERLAPPING with word-frequency multiplicity
    * ("aaa" counts (a,a) twice); the best pair is max count, ties to the
    * lexicographically smallest (left, right); a merge rewrites every
    * word LEFT-TO-RIGHT NON-OVERLAPPING ("aaaa" → "aa","aa"). The
    * rewrite runs as a string `replace` over a pipe-wrapped symbol
    * string (`|a||b|…` — every symbol wrapped in its own pipes, so a
    * pattern can only bind at symbol boundaries AND adjacent matches
    * don't share delimiter characters, which is what makes `replace`'s
    * left-to-right scan exactly the BPE merge); `|` is excluded from
    * the vocabulary for it.
    *
    * 100 TB shape — the real tokenizer-training shape: ONE corpus pass
    * (the word-frequency aggregation, map-side combinable); every
    * iteration after runs on the Heaps'-law-bounded VOCAB table
    * (persisted, swapped per round): one narrow pair explode + one
    * map-side-combinable count, then a SINGLE-ROW collect of the argmax
    * (the one driver action per round — the bounded-scalar exemption,
    * same as the k-means codebook). Nothing corpus-sized moves after
    * pass one.
    */
  def bpeTrainMerges(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = df.sparkSession
    val (state, found) = bpeLoop(df, textCol, merges)
    state.unpersist(blocking = false)
    import spark.implicits._
    found.toDF("step", "left", "right", "pair_count")
  }

  /** The shared Sennrich merge loop: runs `merges` rounds over the
    * word-frequency table and returns BOTH artifacts — the final
    * rewritten vocab state `(w, cnt, syms)` (persisted; the caller owns
    * the unpersist) and the merge list. [[bpeTrainMerges]] ships the
    * merge list; [[bpeTokenCounts]] applies the final segmentation.
    */
  private def bpeLoop(df: DataFrame, textCol: String, merges: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    require(merges >= 1 && merges <= 64,
      s"merges out of [1,64] (fixed-iteration contract): $merges")
    import org.apache.spark.storage.StorageLevel
    val words = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        filter(split(col("w"), ""), c => c =!= "").as("syms"))
    var state = words.persist(StorageLevel.MEMORY_AND_DISK)
    val found = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (i <- 1 to merges) {
      val best = state.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, pc) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        found += ((i, l, r, pc))
        val next = state.select(col("w"), col("cnt"),
          filter(split(replace(
            concat(lit("|"), array_join(col("syms"), "||"), lit("|")),
            lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|")),
            "\\|"), c => c =!= "").as("syms"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        state.unpersist(blocking = false)
        state = next
      }
    }
    (state, found.toSeq)
  }

  /** BPE ENCODING — apply a freshly-trained merge table to the corpus
    * and report per-document token counts `(doc_id, n_words, n_tokens)`
    * — the "what does this tokenizer cost per document" budget pass run
    * before sequence packing (the q65 packing manifest consumes exactly
    * such counts). Trains and applies in one call so the segmentation
    * is guaranteed to be the one the merge table produces (the final
    * vocab state of [[bpeLoop]] IS the encoding: BPE applies merges in
    * training order, which is what the loop's rewrites did).
    *
    * Contract mirror of training: empty words and words containing the
    * `|` delimiter are excluded from BOTH training and encoding; a doc
    * whose words are all excluded reports 0/0 (kept via the left join —
    * a document never silently vanishes from a budget report).
    *
    * 100 TB shape: the encoding never re-tokenizes the corpus per merge
    * — the loop's per-round rewrites run on the Heaps'-bounded VOCAB
    * table, and the corpus is touched exactly twice (the word-frequency
    * pass inside the loop + the final word→pieces broadcast-sized join).
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                     merges: Int): DataFrame = {
    val (state, _) = bpeLoop(df, textCol, merges)
    // self-release (the hits() rule): the loop's vocab cache would
    // otherwise pin executor storage for the session. The rewrite chain
    // bakes every merge as a LITERAL, so consuming the returned frame
    // after release re-runs one narrow word-frequency pass + the
    // vocab-sized rewrites — no driver actions re-fire
    state.unpersist(blocking = false)
    val pieces = state.select(col("w"), size(col("syms")).cast("long").as("__np"))
    val docWords = df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|"))
    val perDoc = docWords.join(pieces, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nw"), sum(col("__np")).as("__ntok"))
    df.filter(col(textCol).isNotNull).select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nw"), lit(0L)).as("n_words"),
        coalesce(col("__ntok"), lit(0L)).as("n_tokens"))
  }

  /** Vocabulary growth (Heaps'-law) curve over NESTED deterministic
    * subsamples — "how fast is the corpus still discovering new tokens",
    * the scaling diagnostic run before paying for more data: a flattening
    * curve says the next 10× of the same source buys almost no new
    * vocabulary. Fractions are permille buckets of the [[Sampling]] hash,
    * so each smaller sample is a SUBSET of every larger one (a true
    * growth curve, not independent draws) and membership is a pure
    * function of the row.
    *
    * Output: one row per requested permille,
    * `(permille, n_docs, n_tokens, vocab)` — documents, running token
    * volume, and distinct-token count within the subset.
    *
    * 100 TB shape: ALL fractions come out of two corpus passes, not one
    * per fraction — a doc-level conditional aggregation (map-side
    * combinable) and a token explode reduced to per-token MIN bucket
    * (map-side combinable; vocab(f) = tokens with min-bucket < f on the
    * vocab-sized table). The per-fraction explode runs on a 1-row frame.
    */
  /** Per-document TF-IDF POSTINGS — the inverted-index relation behind
    * [[sparseTopK]]: one row per (doc, token) with
    * `weight = round(tf · ln(N/df), 6)` carried as DECIMAL(18,6) so every
    * downstream dot product is EXACT integer-scaled arithmetic (the q71
    * score formula, reshaped from a per-doc ranking into an index).
    * `minDf` prunes hapax noise; `maxDfFrac` drops tokens appearing in
    * more than that fraction of documents (df > maxDfFrac·N) — the SKEW
    * BOUND: a stopword-mass token is the one key whose posting list grows
    * with the corpus, and it is exactly the token that carries no ranking
    * signal (ln(N/df) → 0 as df → N), so pruning it bounds the widest
    * join group BEFORE the retrieval shuffle instead of salting after.
    *
    * 100 TB shape: ONE corpus-sized exchange builds (doc, token, tf);
    * document frequency is a vocabulary-sized re-aggregation OF that
    * table (never a second corpus pass); N broadcasts as one scalar row
    * (the tfidfKeywords plan).
    */
  def tfidfPostings(df: DataFrame, idCol: String, textCol: String,
                    minDf: Int = 1, maxDfFrac: Double = 1.0): DataFrame = {
    val (docTerms, docFreq) = termStats(df, idCol, textCol, minDf, maxDfFrac)
    docTerms.join(docFreq, "token")
      .select(col(idCol), col("token"),
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6)
          .cast("decimal(18,6)").as("weight"))
  }

  /** The term statistics both posting scorers weigh: `docTerms` is
    * `(id, token, tf)`, one corpus-sized exchange; `docFreq` is
    * `(token, df, __n)`, a vocabulary-sized re-aggregation of it with
    * the corpus count N broadcast as one scalar row, pruned to
    * `minDf <= df <= maxDfFrac·N`.
    */
  private def termStats(df: DataFrame, idCol: String, textCol: String,
                        minDf: Int, maxDfFrac: Double): (DataFrame, DataFrame) = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val docTerms = df.select(col(idCol), explode(tokens(textCol)).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val n = df.agg(count(lit(1)).as("__n"))
    val docFreq = docTerms.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= minDf &&
        col("df").cast("double") <= col("__n").cast("double") * maxDfFrac)
    (docTerms, docFreq)
  }

  /** BM25-weighted POSTINGS — [[tfidfPostings]] with the [[bm25Rank]]
    * scoring model baked into the index side, so [[sparseTopK]] over it
    * with unit query weights IS batch BM25 retrieval (the Okapi scorer
    * reshaped from a fixed-query ranking into an inverted index):
    * `weight = round(idf · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl)), 6)`
    * as DECIMAL(18,6), `idf = ln((N−df+0.5)/(df+0.5) + 1)` (non-negative
    * Lucene variant). `minDf`/`maxDfFrac` prune exactly as in
    * [[tfidfPostings]] — the skew bound on the one posting list that
    * grows with the corpus.
    *
    * Cross-engine exactness: every constant is the Scala-computed double
    * interpolated into the oracle (round-trip toString), the arithmetic
    * is stated in the same left-associated order, and the terminal round
    * lands on DECIMAL — downstream dot products stay exact.
    *
    * 100 TB shape: one corpus-sized exchange builds (doc, token, tf);
    * doc length is a doc-sized re-aggregation OF that table (Σtf — never
    * a second corpus PASS) whose join back re-shuffles the postings by
    * doc id — the one exchange this scorer costs over [[tfidfPostings]]
    * (pipe_bm25_postings prices it against pipe_sparse_postings);
    * document frequency is a vocabulary-sized re-aggregation, N and
    * avgdl broadcast as one-row relations.
    */
  def bm25Postings(df: DataFrame, idCol: String, textCol: String,
                   k1: Double = 1.2, b: Double = 0.75,
                   minDf: Int = 1, maxDfFrac: Double = 1.0): DataFrame = {
    require(k1 > 0.0, s"k1 must be > 0, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    val (docTerms, docFreq) = termStats(df, idCol, textCol, minDf, maxDfFrac)
    val docLen = docTerms.groupBy(col(idCol)).agg(sum(col("tf")).as("__len"))
    val avg = docLen.agg((sum(col("__len")).cast("double") /
      count(lit(1)).cast("double")).as("__avgdl"))
    docTerms.join(docLen, idCol)
      .join(docFreq, "token")
      .crossJoin(broadcast(avg))
      .select(col(idCol), col("token"),
        round(log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0)) * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("__len").cast("double") / col("__avgdl"))), 6)
          .cast("decimal(18,6)").as("weight"))
  }

  /** Batch SPARSE-vector retrieval over an inverted index — the lexical
    * (SPLADE/TF-IDF-as-vectors) twin of the dense ANN family: both sides
    * arrive as posting relations `(id, term, weight)`, the score is the
    * sparse dot product `Σ_t w_q(t)·w_d(t)`, and each query gets its
    * exact top-`k` documents `(query_id, doc_id, score, rn)`. Weights are
    * DECIMAL(18,6) in, products and sums stay DECIMAL (exact,
    * order-independent — a double sum would be last-ulp order-sensitive),
    * and the emitted score is the one terminal double cast, so ranking
    * and value are engine-identical. `excludeSelf` drops the
    * query-is-the-document hit for the find-similar-others shape.
    *
    * 100 TB shape: `queries` is a BOUNDED sample by contract (the eval
    * convention; hundreds–thousands of query postings), so it BROADCASTS
    * and the posting join never shuffles the index; the per-(query, doc)
    * sum shuffles candidate-bounded rows (only documents sharing a
    * surviving term); the rank is the bounded-heap [[graft.functions.TopKOps.topK]]
    * (map-side partial heaps — no per-query window funnel). Feed it
    * [[tfidfPostings]] with a `maxDfFrac` bound so no posting list grows
    * with the corpus; for unbounded query sets, cap the index side with
    * [[cappedPostings]] and gate with [[sparseRecallReport]] first.
    */
  def sparseTopK(docs: DataFrame, docIdCol: String,
                 queries: DataFrame, queryIdCol: String,
                 termCol: String, weightCol: String, k: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val d = docs.select(col(docIdCol).cast("long").as("__doc"),
      col(termCol).as("__t"), col(weightCol).cast("decimal(18,6)").as("__wd"))
    val q = queries.select(col(queryIdCol).cast("long").as("__q"),
      col(termCol).as("__t"), col(weightCol).cast("decimal(18,6)").as("__wq"))
    val scored = d.join(broadcast(q), Seq("__t"))
      .filter(if (excludeSelf) col("__doc") =!= col("__q") else lit(true))
      .groupBy(col("__q"), col("__doc"))
      .agg(sum((col("__wd") * col("__wq")).cast("decimal(38,12)")).as("__s"))
    scored.groupBy(col("__q").as("query_id"))
      .agg(graft.functions.TopKOps.topK(k, col("__s").cast("double"),
        col("__doc")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rn"))
  }

  /** A persistable LEXICAL retrieval index — the sparse twin of
    * [[graft.operators.Similarity.IvfPqIndex]]: ONE posting relation
    * `(doc_id, token, weight DECIMAL(18,6))`, its per-token posting
    * counts `vocab` `(token, df)` — the one place the index counts its
    * postings per token — and the build parameters, so what reopening
    * needs is never a caller-remembered flag. Unlike the PQ index there
    * is NO incremental `add` verb, by design: TF-IDF/BM25 weights depend
    * on GLOBAL corpus statistics (df, N, avgdl), so appending documents
    * against a frozen index silently mis-weights both old and new
    * postings — the honest lifecycle is build/save/load/search, with
    * [[sparseDriftReport]] as the measured "when must I rebuild" gate
    * and the [[cappedPostings]] impact prune baked in at build when
    * `cap` is set (served by default; the uncapped postings persist
    * beside it for the recall gate).
    */
  final case class SparseIndex(postings: DataFrame, weighting: Weighting,
                               minDf: Int, maxDfFrac: Double,
                               nDocs: Long, vocab: DataFrame,
                               cap: Option[Int] = None,
                               capped: Option[DataFrame] = None) {
    require(cap.isDefined == capped.isDefined,
      s"cap and the capped relation travel together, got cap=$cap " +
        s"capped=${capped.isDefined}")
    cap.foreach(c => require(c >= 1, s"cap must be >= 1, got $c"))
    require(nDocs >= 1, s"nDocs must be >= 1, got $nDocs")

    /** The relation searches SERVE from: the build-time impact-pruned
      * postings when the index carries a `cap` ([[cappedPostings]] run
      * once at build instead of per session), else the full postings.
      * The uncapped relation always persists BESIDE the capped one —
      * [[sparseRecallReport]]'s exact arm needs it to price the cap.
      */
    def serving: DataFrame = capped.getOrElse(postings)

    /** One-row self-description `(weighting, min_df, max_df_frac, k1,
      * b, cap, n_docs, n_postings, n_terms, n_capped)`: `n_terms` and
      * `n_postings` are the row count and the `df` sum of `vocab`, and
      * [[sparseIndexLoad]] checks them against the relations' footer
      * counts. `k1`/`b` persist as NULL under TF-IDF and `cap`/`n_capped`
      * for an uncapped index — absent, not leftover defaults.
      */
    def meta: DataFrame = {
      val base = vocab.agg(coalesce(sum(col("df")), lit(0L)).as("n_postings"),
        count(lit(1)).as("n_terms"))
      val counts = capped match {
        case Some(cp) => base.crossJoin(cp.agg(count(lit(1)).as("n_capped")))
        case None => base.withColumn("n_capped", lit(null).cast("long"))
      }
      val (name, k1Col, bCol) = weighting match {
        case Tfidf => ("tfidf", lit(null).cast("double"), lit(null).cast("double"))
        case Bm25(k1, b) => ("bm25", lit(k1), lit(b))
      }
      counts.select(lit(name).as("weighting"), lit(minDf).as("min_df"),
        lit(maxDfFrac).as("max_df_frac"), k1Col.as("k1"), bCol.as("b"),
        cap.map(lit).getOrElse(lit(null).cast("int")).as("cap"),
        lit(nDocs).as("n_docs"),
        col("n_postings"), col("n_terms"), col("n_capped"))
    }
  }

  /** How a [[SparseIndex]] weighs its postings: [[tfidfPostings]] or
    * [[bm25Postings]] with its two saturation constants.
    */
  sealed trait Weighting
  case object Tfidf extends Weighting
  final case class Bm25(k1: Double = 1.2, b: Double = 0.75) extends Weighting

  /** Build a [[SparseIndex]] from a corpus, weighted by `weighting`. The
    * posting relation is localCheckpoint-materialized — a BUILD verb
    * materializes by definition, and every consumer (query-side
    * derivation, capped prune, the dot join) then reads the built
    * index instead of re-running the weight chain — and so is `vocab`,
    * its per-token posting count. `cap` bakes the [[cappedPostings]]
    * impact prune INTO the index (recorded in meta, served by default,
    * priced once at build) — the uncapped postings stay beside it for
    * [[sparseRecallReport]]'s exact arm; size the cap with
    * [[sparseCapPlan]] before trusting it. Every argument is checked
    * before the first Spark job.
    */
  def sparseIndexBuild(df: DataFrame, idCol: String, textCol: String,
                       weighting: Weighting = Tfidf,
                       minDf: Int = 1, maxDfFrac: Double = 1.0,
                       cap: Option[Int] = None): SparseIndex = {
    cap.foreach(c => require(c >= 1, s"cap must be >= 1, got $c"))
    val post = weighting match {
      case Tfidf => tfidfPostings(df, idCol, textCol, minDf, maxDfFrac)
      case Bm25(k1, b) => bm25Postings(df, idCol, textCol, k1, b, minDf, maxDfFrac)
    }
    // the corpus count (nDocs, a one-task metadata-ish scan) is
    // independent of the posting materializations — overlap it with the
    // checkpoint chain (guide §2.6) instead of paying a sequential job
    // after them; the chain itself is ordered (vocab and capped read the
    // full checkpoint)
    val (n, (full, vocab, cappedRel)) = Par.par2(
      df.count(),
      {
        val full = post.withColumnRenamed(idCol, "doc_id").localCheckpoint()
        // df = the posting-list length, pruning already applied; it
        // persists with the index, so [[queryPostings]], meta and
        // [[sparseDriftReport]] read it instead of re-aggregating the
        // postings
        val vocab = full.groupBy(col("token")).agg(count(lit(1)).as("df"))
          .localCheckpoint()
        (full, vocab, cap.map(c =>
          cappedPostings(full, "doc_id", "token", "weight", c).localCheckpoint()))
      })
    SparseIndex(full, weighting, minDf, maxDfFrac, n, vocab, cap, cappedRel)
  }

  /** Serve top-`k` sparse retrieval from a built (or reopened) index —
    * [[sparseTopK]] over the index's SERVING relation (the build-time
    * capped prune when the index carries one, else the full postings).
    */
  def sparseIndexSearch(index: SparseIndex, queries: DataFrame,
                        queryIdCol: String, termCol: String,
                        weightCol: String, k: Int,
                        excludeSelf: Boolean = true): DataFrame =
    sparseTopK(index.serving, "doc_id", queries, queryIdCol,
      termCol, weightCol, k, excludeSelf)

  /** Persist the postings, vocab and (when capped) capped relations
    * and `meta/` under one directory, meta last
    * ([[graft.operators.Similarity.saveIndexDir]]), so `meta/` marks a
    * complete save.
    */
  def sparseIndexSave(index: SparseIndex, dir: String): Unit = {
    val mode = org.apache.spark.sql.SaveMode.Overwrite
    val cappedTask: () => Unit = index.capped match {
      case Some(cp) => () => cp.write.mode(mode).parquet(s"$dir/capped")
      case None => () => {
        // Overwrite only rewrites the subdirs this save WRITES — an
        // uncapped save over a directory that previously held a capped
        // index would otherwise leave the stale capped/ dir behind and
        // the loader would then refuse its own fresh save as a mixed
        // directory; delete it so Overwrite semantics hold for the
        // WHOLE index directory (one FS call)
        val p = new org.apache.hadoop.fs.Path(s"$dir/capped")
        val fs = p.getFileSystem(
          index.postings.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
    }
    // the posting relations are localCheckpoint-materialized at build,
    // so the concurrent writes share the same cached blocks
    Similarity.saveIndexDir(dir, index.meta, Seq(
      () => index.postings.write.mode(mode).parquet(s"$dir/postings"),
      () => index.vocab.write.mode(mode).parquet(s"$dir/vocab"),
      cappedTask))
  }

  /** Reopen a persisted index — NO caller-supplied parameters (the
    * [[graft.operators.Similarity.ivfPqIndexLoad]] rule): the weighting
    * and its constants come from meta, and a stale meta, mixed
    * directory or truncated relation fails here, not as
    * plausible-looking wrong rankings. A missing relation, or one that
    * holds no parquet file, fails as `<dir>/<relation> … a torn
    * directory`; `capped/` must exist exactly when meta states a cap.
    * Cost: METADATA-priced, two Spark queries run one after the other —
    * the one-row meta read, then one query that counts postings, vocab
    * and capped from their parquet footers (no data scan) and must
    * match meta's `n_postings`, `n_terms` and `n_capped`.
    */
  def sparseIndexLoad(spark: org.apache.spark.sql.SparkSession,
                      dir: String): SparseIndex = {
    val fs = Similarity.requireRelations(spark, dir, Seq("postings", "vocab", "meta"))
    Similarity.parquetFileOf(fs, dir, "meta")
    val metaRows = spark.read.parquet(s"$dir/meta")
      .select(col("weighting").cast("string"), col("min_df").cast("int"),
        col("max_df_frac").cast("double"), col("k1").cast("double"),
        col("b").cast("double"), col("cap").cast("int"),
        col("n_postings").cast("long"), col("n_terms").cast("long"),
        col("n_capped").cast("long"), col("n_docs").cast("long"))
      .limit(2).collect()
    require(metaRows.length == 1,
      s"$dir/meta must hold exactly one row, got ${metaRows.length}")
    val m = metaRows.head
    def opt[T](i: Int, get: Int => T): Option[T] = Option.when(!m.isNullAt(i))(get(i))
    val (k1, b) = (opt(3, m.getDouble), opt(4, m.getDouble))
    val weighting = (m.getString(0), k1, b) match {
      case ("tfidf", None, None) => Tfidf
      case ("bm25", Some(k), Some(bb)) => Bm25(k, bb)
      case (w, _, _) => throw new IllegalArgumentException(
        s"""$dir/meta must state weighting "tfidf" without k1/b or "bm25" """ +
          s"with both, got weighting=$w k1=$k1 b=$b")
    }
    require(!m.isNullAt(9) && m.getLong(9) >= 1,
      s"$dir/meta must state a positive n_docs")
    val (capO, nCapO) = (opt(5, m.getInt), opt(8, m.getLong))
    require(capO.isDefined == nCapO.isDefined,
      s"$dir/meta: cap/n_capped must travel together, got cap=$capO n_capped=$nCapO")
    capO.foreach(c => require(c >= 1, s"$dir/meta: cap must be >= 1, got $c"))
    if (capO.isDefined) Similarity.requireRelations(spark, dir, Seq("capped"))
    else require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/capped")),
      s"$dir/meta says uncapped but $dir/capped exists — a mixed directory")
    def relation(name: String, cols: String*): DataFrame = {
      Similarity.parquetFileOf(fs, dir, name)
      val df = spark.read.parquet(s"$dir/$name")
      require(cols.toSet.subsetOf(df.columns.toSet), s"$dir/$name must hold " +
        s"${cols.mkString("(", ", ", ")")}, got ${df.columns.mkString(", ")}")
      df
    }
    val postings = relation("postings", "doc_id", "token", "weight")
    val vocab = relation("vocab", "token", "df")
    val capped = capO.map(_ => relation("capped", "doc_id", "token", "weight"))
    // one query, one footer-priced count per relation (a filterless
    // parquet count reads no column)
    val counts = (Seq("postings" -> postings, "vocab" -> vocab) ++ capped.map("capped" -> _))
      .map { case (name, rel) => rel.select(lit(name).as("rel")) }
      .reduce(_ unionByName _)
      .groupBy(col("rel")).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    require(counts("postings") == m.getLong(6),
      s"meta says ${m.getLong(6)} postings but $dir/postings holds ${counts("postings")}")
    require(counts("vocab") == m.getLong(7),
      s"meta says ${m.getLong(7)} terms but $dir/vocab holds ${counts("vocab")}")
    nCapO.foreach(nc => require(counts("capped") == nc,
      s"meta says $nc capped postings but $dir/capped holds ${counts("capped")}"))
    SparseIndex(postings, weighting, m.getInt(1), m.getDouble(2), m.getLong(9),
      vocab, capO, capped)
  }

  /** Reconstruct a QUERY-side weight profile from raw text against a
    * frozen index — the verb that makes retrieval serve OUT-OF-CORPUS
    * queries: tokenize the query documents, look each term's df up in
    * the index's persisted vocab relation, and restate the index's own
    * weight formula. For [[Tfidf]], `weight = round(tf · ln(N/df), 6)`
    * with `N` the frozen build-time corpus count — for an IN-corpus
    * query document this reproduces its index postings BIT-FOR-BIT
    * (spec-pinned), so find-similar-documents no longer needs to scan
    * the posting relation for the query's rows. For [[Bm25]], the Okapi
    * convention: UNIT weights on the query's distinct terms (the q251
    * scoring model — the document-side weights already carry the tf/
    * length saturation). Query terms outside the frozen vocabulary DROP
    * (they have no posting list to match — exactly [[sparseTopK]]'s
    * behavior; [[sparseDriftReport]] prices how much of a batch that
    * loses).
    *
    * 100 TB shape: one tokenize pass over the (bounded) query batch +
    * one vocabulary-sized join — the corpus-scale posting relation is
    * never touched on the query side.
    */
  def queryPostings(index: SparseIndex, queries: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val qt = queries
      .select(col(idCol).as("query_id"), explode(tokens(textCol)).as("token"))
      .groupBy(col("query_id"), col("token")).agg(count(lit(1)).as("__tf"))
    index.weighting match {
      case Tfidf =>
        qt.join(index.vocab, Seq("token"))
          .select(col("query_id"), col("token"),
            round(col("__tf") *
              log(lit(index.nDocs.toDouble) / col("df")), 6)
              .cast("decimal(18,6)").as("weight"))
      case _: Bm25 =>
        qt.join(index.vocab.select(col("token")), Seq("token"))
          .select(col("query_id"), col("token"),
            lit(1).cast("decimal(18,6)").as("weight"))
    }
  }

  /** Impact-ordered STATIC INDEX PRUNING — cap every term's posting list
    * at its `cap` highest-weight documents (weight desc, id asc ties),
    * the classic quantized-WAND preprocessing: after this no posting
    * list exceeds `cap` rows NO MATTER how the corpus grows, so
    * [[sparseTopK]]'s join groups are absolutely bounded. Lossy by
    * design — a document outside a term's top-`cap` can only be found
    * through its OTHER terms — which is why [[sparseRecallReport]]
    * exists to price the cap before production trusts it.
    *
    * 100 TB shape: one bounded-heap aggregate per token
    * ([[graft.functions.TopKOps.topK]] — map-side partial heaps, so even
    * a mega-token's list heap-merges across partitions instead of
    * funneling into one reducer's sort). The weight survives the heap's
    * double round-trip exactly: it was DECIMAL(18,6) in, and the cast
    * back recovers the same 6-dp value.
    */
  def cappedPostings(postings: DataFrame, idCol: String, termCol: String,
                     weightCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    postings
      .groupBy(col(termCol))
      .agg(graft.functions.TopKOps.topK(cap,
        col(weightCol).cast("double"), col(idCol).cast("long")).as("__top"))
      .select(col(termCol), explode(col("__top")).as("__e"))
      .select(col("__e.id").as(idCol), col(termCol),
        col("__e.score").cast("decimal(18,6)").as(weightCol))
  }

  /** Capped-vs-exact retrieval RECALL gate (the q240 convention for the
    * lexical index): run [[sparseTopK]] twice over the same bounded query
    * sample — once on the full postings, once on [[cappedPostings]] at
    * `cap` — and report per query how many exact top-`k` documents the
    * capped index recovered: `(query_id, n_hit, recall)`, recall =
    * n_hit/k at 6 dp. The pre-production "is my cap safe on MY corpus"
    * check; both arms inherit the bounded-query-sample cost contract.
    */
  def sparseRecallReport(docs: DataFrame, docIdCol: String,
                         queries: DataFrame, queryIdCol: String,
                         termCol: String, weightCol: String,
                         k: Int, cap: Int): DataFrame = {
    val exact = sparseTopK(docs, docIdCol, queries, queryIdCol,
      termCol, weightCol, k)
    val capped = sparseTopK(cappedPostings(docs, docIdCol, termCol, weightCol, cap),
      docIdCol, queries, queryIdCol, termCol, weightCol, k)
    exact.select(col("query_id"), col("doc_id"))
      .join(capped.select(col("query_id"), col("doc_id"), lit(1).as("__hit")),
        Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / lit(k.toDouble), 6))
  }

  /** The `cap` operating-point PLANNER —
    * [[graft.operators.Similarity.ivfPqOperatingPointPlan]]'s lexical
    * twin: sweep candidate caps against [[sparseRecallReport]]-style
    * recall on a bounded query sample and emit ONE relation
    * `(cap, mean_recall, n_postings, chosen)`, so the static-pruning
    * knob is MEASURED on the caller's own corpus instead of guessed.
    * `mean_recall` is the per-query recalls' MEAN, each recall
    * normalized by the query's ACTUAL exact-arm row count (9-dp
    * per-query ratios into an exact DECIMAL(28,12) sum, one terminal
    * divide by the query count at 6 dp) — a query with fewer than `k`
    * exact hits (small corpus, `excludeSelf`) still scores on [0, 1]
    * instead of deflating the mean; queries with NO exact-arm rows
    * (fully-OOV text) have no defined recall and drop from the mean,
    * and a query relation that produces no exact rows AT ALL is
    * refused up front (fail-fast, not NaN into the chosen window).
    * `n_postings` is the EXACT capped-index size `Σ_t min(|postings_t|,
    * cap)` — the serving-cost axis, integer-exact, derived from ONE
    * vocabulary-sized length table rather than by materializing each
    * capped relation twice. `chosen` flags the smallest index meeting
    * `targetRecall`, falling back to the highest recall when none does;
    * ties break (n_postings, mean_recall desc, cap) — fully
    * deterministic.
    *
    * 100 TB shape: the eval-operator contract — `queries` is a bounded
    * absolute-size sample ([[graft.operators.Sampling.hashSampleN]]);
    * the exact arm COMPUTES once (localCheckpointed before every
    * per-cap hit-join and the query count read it); each capped arm is
    * one bounded-heap prune + the candidate-bounded posting join; the
    * length table is vocabulary-sized, and everything after the heaps
    * is (caps × queries × k)-sized.
    */
  def sparseCapPlan(postings: DataFrame, idCol: String, termCol: String,
                    weightCol: String, queries: DataFrame,
                    queryIdCol: String, k: Int, caps: Seq[Int],
                    targetRecall: Double): DataFrame = {
    require(caps.nonEmpty, "empty cap grid")
    require(caps == caps.distinct, s"duplicate caps: $caps")
    caps.foreach(c => require(c >= 1, s"cap must be >= 1, got $c"))
    require(targetRecall >= 0.0 && targetRecall <= 1.0,
      s"targetRecall out of [0,1]: $targetRecall")
    val spark = postings.sparkSession
    import spark.implicits._
    val exact = sparseTopK(postings, idCol, queries, queryIdCol,
      termCol, weightCol, k)
      .select(col("query_id"), col("doc_id"))
      .localCheckpoint()
    // the exact arm is already materialized, so the distinct-query count
    // is a cheap second read — it both powers the fail-fast and embeds
    // as the mean's literal denominator
    val nq = exact.select(col("query_id")).distinct().count()
    require(nq > 0,
      "sparseCapPlan: the query sample produced no exact-arm rows — " +
        "nothing to plan against (empty or fully-out-of-vocabulary " +
        "query relation)")
    val anns = caps.map { c =>
      sparseTopK(cappedPostings(postings, idCol, termCol, weightCol, c),
        idCol, queries, queryIdCol, termCol, weightCol, k)
        .select(lit(c).as("cap"), col("query_id"), col("doc_id"))
    }.reduce(_ unionByName _)
    // per-query normalization: each query's recall over its ACTUAL
    // exact-row count, the (cap × query) grid keeping zero-hit cells
    val exCnt = exact.groupBy(col("query_id")).agg(count(lit(1)).as("__ex"))
    val hitsQ = anns.join(exact, Seq("query_id", "doc_id"))
      .groupBy(col("cap"), col("query_id")).agg(count(lit(1)).as("__h"))
    val perQ = caps.toDF("cap").crossJoin(broadcast(exCnt))
      .join(hitsQ, Seq("cap", "query_id"), "left")
      .select(col("cap"),
        round(coalesce(col("__h"), lit(0L)).cast("double") /
          col("__ex").cast("double"), 9).cast("decimal(28,12)").as("__r"))
    val rec = perQ.groupBy(col("cap"))
      .agg(round(sum(col("__r")).cast("double") / lit(nq.toDouble), 6)
        .as("mean_recall"))
    val lens = postings.groupBy(col(termCol)).agg(count(lit(1)).as("__len"))
    val sizes = caps.map(c =>
      lens.agg(sum(least(col("__len"), lit(c.toLong))).as("n_postings"))
        .select(lit(c).as("cap"), col("n_postings"))
    ).reduce(_ unionByName _)
    val meets = col("mean_recall") >= targetRecall
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      meets.desc, when(meets, col("n_postings")).asc_nulls_last,
      col("mean_recall").desc, col("n_postings").asc, col("cap").asc)
    caps.toDF("cap")
      .join(rec, Seq("cap"))
      .join(sizes, Seq("cap"))
      .withColumn("chosen", row_number().over(w) === 1)
      .select("cap", "mean_recall", "n_postings", "chosen")
  }

  /** VOCABULARY-DRIFT gate — [[graft.operators.Similarity
    * .ivfDriftReport]]'s lexical twin and the measured answer the
    * no-`add` lifecycle owes its users: "when must I REBUILD this
    * index?". TF-IDF/BM25 weights freeze global corpus statistics at
    * build; as the incoming data's vocabulary drifts away from the
    * frozen one, served rankings rot silently. This prices that drift
    * from the index's `vocab` plus one batch pass — no corpus rescan,
    * no recall run: one row
    * `(n_index_terms, n_batch_terms, n_oov_terms, oov_mass, tv,
    * rebuild)` where document-frequency relations on both sides are
    * the comparable footing (`df_idx(t)` = the token's posting-list
    * length, `vocab.df`; `df_batch(t)` = distinct batch docs containing `t`),
    * `oov_mass` is the df-mass fraction of the batch landing on tokens
    * the index has NO posting list for (those queries can only be
    * served through their other terms), and `tv` is the
    * total-variation distance of the two df-share distributions over
    * the union vocabulary (missing side = 0). `rebuild = oov_mass >
    * oovThreshold OR tv > tvThreshold` — the gate bit.
    *
    * Cross-engine exactness: the [[graft.operators.Similarity
    * .ivfDriftReport]] recipe — per-token share deltas at 9 dp
    * (unrounded IEEE divisions of integer-valued doubles inside the
    * abs), DECIMAL(28,12) sums, one terminal multiply/round each;
    * `oov_mass` is one 6-dp division of exact longs. An empty batch
    * yields null masses rather than a divide.
    *
    * Honesty note: a pruning build (`minDf`/`maxDfFrac`) makes even
    * the index's own corpus drift nonzero by exactly the pruned df
    * mass — self-drift is zero only at keep-all knobs, and that case
    * is spec-pinned.
    *
    * 100 TB shape: the index side is the vocabulary-sized `vocab`
    * relation as built or loaded (no posting pass); the batch side is
    * one tokenize+distinct pass (map-side combinable); the share join
    * is vocabulary-sized on compact token keys, localCheckpointed once
    * so the tv rollup and the one-row output both read it without
    * re-tokenizing the batch.
    */
  def sparseDriftReport(index: SparseIndex, batch: DataFrame,
                        idCol: String, textCol: String,
                        oovThreshold: Double = 0.2,
                        tvThreshold: Double = 0.25): DataFrame = {
    require(oovThreshold >= 0.0 && oovThreshold <= 1.0,
      s"oovThreshold out of [0,1]: $oovThreshold")
    require(tvThreshold >= 0.0 && tvThreshold <= 1.0,
      s"tvThreshold out of [0,1]: $tvThreshold")
    val idxDf = index.vocab.select(col("token"), col("df").as("__di"))
    val batDf = batch
      .select(col(idCol).as("__bid"), explode(tokens(textCol)).as("token"))
      .distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("__db"))
    val per = idxDf.join(batDf, Seq("token"), "full")
      .select(col("token"),
        coalesce(col("__di"), lit(0L)).as("__di"),
        coalesce(col("__db"), lit(0L)).as("__db"))
      .localCheckpoint()
    val tots = per.agg(sum(col("__di")).as("__ti"), sum(col("__db")).as("__tb"))
    val counts = per.agg(
      sum(when(col("__di") > 0, 1L).otherwise(0L)).as("n_index_terms"),
      sum(when(col("__db") > 0, 1L).otherwise(0L)).as("n_batch_terms"),
      sum(when(col("__di") === 0 && col("__db") > 0, 1L).otherwise(0L))
        .as("n_oov_terms"),
      sum(when(col("__di") === 0, col("__db")).otherwise(lit(0L))).as("__oovdf"))
    val tv = per.crossJoin(broadcast(tots))
      .select(when(col("__ti") > 0 && col("__tb") > 0,
        round(abs(col("__di").cast("double") / col("__ti").cast("double") -
          col("__db").cast("double") / col("__tb").cast("double")), 9))
        .as("__d"))
      .agg(round(sum(col("__d").cast("decimal(28,12)")).cast("double") * 0.5, 6)
        .as("tv"))
    counts.crossJoin(broadcast(tots)).crossJoin(broadcast(tv))
      .select(col("n_index_terms"), col("n_batch_terms"), col("n_oov_terms"),
        when(col("__tb") > 0,
          round(col("__oovdf").cast("double") / col("__tb").cast("double"), 6))
          .as("oov_mass"),
        col("tv"),
        (when(col("__tb") > 0,
          round(col("__oovdf").cast("double") / col("__tb").cast("double"), 6))
          > oovThreshold || col("tv") > tvThreshold).as("rebuild"))
  }

  def vocabGrowthCurve(df: DataFrame, idCol: String, textCol: String,
                       permilles: Seq[Int], salt: String = ""): DataFrame = {
    require(permilles.nonEmpty && permilles.size <= 100, "1..100 fractions")
    require(permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles out of [1,1000]: $permilles")
    require(permilles.distinct.size == permilles.size, s"duplicate permilles: $permilles")
    val docs = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        size(filter(tokens(textCol), t => t =!= "")).cast("long").as("__nt"))
      .withColumn("__bk", Sampling.hashBucket(col("__id"), salt))
    val docCols = permilles.flatMap(p => Seq(
      sum(when(col("__bk") < p, 1L).otherwise(0L)).as(s"__d$p"),
      sum(when(col("__bk") < p, col("__nt")).otherwise(0L)).as(s"__t$p")))
    val docAgg = docs.agg(docCols.head, docCols.tail: _*)
    val tokenMin = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), explode(tokens(textCol)).as("__tok"))
      .filter(col("__tok") =!= "")
      .withColumn("__bk", Sampling.hashBucket(col("__id"), salt))
      .groupBy("__tok").agg(min(col("__bk")).as("__mb"))
    val vocabCols = permilles.map(p =>
      sum(when(col("__mb") < p, 1L).otherwise(0L)).as(s"__v$p"))
    val vocabAgg = tokenMin.agg(vocabCols.head, vocabCols.tail: _*)
    docAgg.crossJoin(broadcast(vocabAgg))
      .select(explode(array(permilles.map(p => struct(
        lit(p).as("permille"), col(s"__d$p").as("n_docs"),
        col(s"__t$p").as("n_tokens"), col(s"__v$p").as("vocab"))): _*)).as("__r"))
      .select(col("__r.permille"), col("__r.n_docs"),
        col("__r.n_tokens"), col("__r.vocab"))
  }
}
