package graft

import org.apache.spark.sql.{Column, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

/** Scale self-check for the training-data pipeline operators: synthesize a
  * corpus ~100× the sf0.1 fixture (500k docs, ~40 tokens each, with a
  * controlled 2% near-dup rate) plus 500k 64-dim embeddings, write to
  * parquet, then time each operator end-to-end. The narrow stages (minhash
  * signatures, LSH bucket assignment) must scale linearly — they are pure
  * per-row kernels; the joins are where scale shows.
  *
  * Usage: runMain graft.PipelineScaleBench [nDocs] [workDir]
  */
object PipelineScaleBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(500000)
    val work = args.drop(1).headOption.getOrElse("/tmp/graft-pipescale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the CC loop is RDD-based; its tuple shuffles serialize through
    // spark.serializer (DataFrame exchanges use UnsafeRow regardless),
    // and Kryo is several times faster than Java serialization there
    val spark = Session(cpus.toInt, Session.hashJoins ++
      Map("spark.serializer" -> "org.apache.spark.serializer.KryoSerializer"))

    // synthetic corpus: 40 tokens drawn deterministically from a vocabulary
    // that GROWS with corpus size (Heaps'-law shape: real corpora add
    // vocabulary as they grow; 1k words at the 500k-doc baseline). A fixed
    // vocab makes the shingle space saturate and unrelated-pair band
    // collisions grow O(n²) — measured: 3.0 pairs/doc at 500k but 30.2 at
    // 5M with vocab pinned to 1k (SCALE.md §LSH candidate growth) — which
    // benchmarks the fixture, not the operator. 2% of docs are near-copies
    // of doc (id - 1) (same prefix, one token changed) so the LSH path has
    // real work to do.
    val vocabSize = math.max(1000, nDocs / 500)
    val tokensPerDoc = 40
    val toks = (0 until tokensPerDoc).map { p =>
      concat(lit("w"), pmod(xxhash64(col("base"), lit(p)), lit(vocabSize.toLong)).cast("string"))
    }
    val docs = spark.range(nDocs.toLong)
      .withColumn("near_dup", pmod(xxhash64(col("id")), lit(50L)) === 0 && col("id") > 0)
      .withColumn("base", when(col("near_dup"), col("id") - 1).otherwise(col("id")))
      .select(col("id").as("doc_id"),
        concat_ws(" ", (toks.init :+
          when(col("near_dup"), lit("CHANGED")).otherwise(toks.last)): _*).as("text"))
    val docsPath = s"$work/docs.parquet"
    docs.write.mode(SaveMode.Overwrite).parquet(docsPath)
    val corpus = spark.read.parquet(docsPath)
    val total = corpus.count()

    // SPARK_GRAFT_PIPE_ONLY=substr1,substr2 runs only matching stages —
    // the 5M-doc runs take minutes per stage, so re-measuring one operator
    // must not pay for the other eight. Matching is SUBSTRING: nested
    // names run together ("pipe_ivf_pq" also selects _build/_search,
    // "pipe_semantic_dedup" also selects _banded) — per-metric timings
    // are unaffected (each stage times separately); use the full stage
    // name to select exactly one
    val only = sys.env.get("SPARK_GRAFT_PIPE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

    def timed(metric: String, input: Long = total)(f: => Long): Unit = {
      if (only.exists(fs => !fs.exists(metric.contains))) return
      val t0 = System.nanoTime()
      val rows = f
      val secs = (System.nanoTime() - t0) / 1e9
      // output_per_input is the scale-regression signal: for LSH candidate
      // generation it is PAIRS PER DOC, which must stay ~flat as nDocs
      // grows — superlinear growth means bucket skew is winning (SCALE.md
      // records the 500k vs 5M ratio per round)
      val ratio = f"${rows.toDouble / input}%.4f"
      println(f"""{"metric":"$metric","input_rows":$input,"output_rows":$rows,"output_per_input":$ratio,"value":$secs%.2f,"unit":"sec","input_rows_per_sec":${(input / secs).toLong}}""")
    }

    timed("pipe_minhash_sigs") {
      // consume via a hash-max so column pruning cannot elide the kernels
      val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
      sigs.agg(max(xxhash64(sigs.columns.map(col): _*))).head()
      total
    }
    timed("pipe_lsh_candidates") {
      Dedup.lshCandidates(corpus, "doc_id", "text").count()
    }
    timed("pipe_neardups_verified") {
      Dedup.nearDups(corpus, "doc_id", "text", 0.5).count()
    }
    timed("pipe_exact_dedup") {
      Dedup.exactGroups(corpus, "doc_id", "text").count()
    }
    timed("pipe_budget_select") {
      // budgeted selection keeps ~half the corpus's tokens: the two-pass
      // bucketed prefix must stay near scan speed — the rejected global
      // cumulative-sum window funnels the WHOLE corpus through one task,
      // which is the failure this stage would expose if the plan ever
      // regressed to it (output_per_input ~ 0.5 = the budget fraction)
      val toks = split(col("text"), " ")
      val scored = corpus.select(col("doc_id"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"),
        size(toks).cast("long").as("n_tokens"))
      val budget = total * tokensPerDoc / 2
      graft.operators.Selection.selectUnderBudget(
        scored, "doc_id", "score", "n_tokens", budget).count()
    }
    timed("pipe_decontaminate") {
      // 1/499 of docs act as the "benchmark": broadcast-semi shape, the
      // corpus text never shuffles — near scan speed at any size
      Dedup.decontaminate(
        corpus.filter(pmod(col("doc_id"), lit(499L)) =!= 0),
        corpus.filter(pmod(col("doc_id"), lit(499L)) === 0),
        "doc_id", "text", n = 3).count()
    }
    timed("pipe_decontam_report") {
      // multi-suite variant of pipe_decontaminate: the same 1/499
      // benchmark slice split across 7 labeled suites, all screened in
      // ONE corpus pass (suites' shingles broadcast together). Wall must
      // track pipe_decontaminate, not 7x it.
      val bench = corpus.filter(pmod(col("doc_id"), lit(499L)) === 0)
        .select(concat(lit("suite"), pmod(col("doc_id"), lit(7L))).as("bench_id"),
          col("text"))
      Dedup.decontaminationReport(
        corpus.filter(pmod(col("doc_id"), lit(499L)) =!= 0),
        bench, "doc_id", "text", "bench_id", n = 3).count()
    }
    timed("pipe_cdc_chunks") {
      // content-defined chunking is a pure narrow plan: wall must stay at
      // scan speed (>= the minhash-sigs docs/s ballpark), output_per_input
      // ~= tokensPerDoc/avgTokens chunks per doc, flat at any corpus size.
      // Count and hash-consume in ONE aggregation so the ratio is the real
      // chunks-per-doc signal (returning `total` would pin it at 1.0 and
      // hide a chunk-count blowup).
      val out = TextAnalysis.contentDefinedChunks(corpus, "doc_id", "text")
      out.agg(count(lit(1)), max(xxhash64(out.columns.map(col): _*)))
        .head().getLong(0)
    }
    timed("pipe_chunk_dedup") {
      // chunk-level dedup over CDC boundaries: the 2% planted near-dup
      // docs share their whole prefix with doc (id-1), which chunks
      // identically — the duplicated chunks collapse by digest. Wall must
      // track pipe_cdc_chunks plus two token-sized shuffles; the
      // mega-duplicated-chunk discipline is the map-side min, not a
      // collected occurrence list.
      Dedup.dedupChunks(corpus, "doc_id", "text").count()
    }
    timed("pipe_shard_assign") {
      // one hash exchange + per-shard sort; 1024 shards keeps each sort
      // slice ~corpus/1024 — superlinear wall growth here means the
      // per-shard window degenerated into something global
      val out = Sampling.assignShards(corpus.select("doc_id"), "doc_id",
        nShards = 1024, salt = "e1")
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      total
    }
    timed("pipe_shard_assign_coarse") {
      // the parallelism CLIFF demonstrated (the assignShards sizing rule):
      // 8 shards on a 32-core session = each shard's (hash, id) sort is
      // ONE task over n/8 rows — 24 cores idle. The wall gap vs
      // pipe_shard_assign above IS the measured cost of ignoring
      // nShards >= parallelism; assignShards warns on this configuration.
      val out = Sampling.assignShards(corpus.select("doc_id"), "doc_id",
        nShards = 8, salt = "e1")
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      total
    }
    timed("pipe_retention") {
      // retention cohorts over a synthetic event stream (~total events,
      // ~50 per user, 90-day window): two same-key aggregations + one
      // co-shuffled join; output is (cohorts x offsets)-sized — bounded
      // by the date range squared at ANY corpus size, so the ratio
      // collapses toward 0 as n grows (that is the design, not a bug)
      val users = math.max(1L, total / 50)
      val ev = spark.range(total)
        .select(pmod(xxhash64(col("id"), lit(7)), lit(users)).as("user_id"),
          to_timestamp(date_add(lit(java.sql.Date.valueOf("2024-01-01")),
            pmod(xxhash64(col("id"), lit(8)), lit(90L)).cast("int"))).as("ts"))
      graft.engine.Summaries.retentionCohorts(ev, "user_id", "ts").count()
    }
    timed("pipe_funnel") {
      // 3-step funnel over the same event shape: one co-shuffled join +
      // conditional-min re-aggregation per step, no window — wall must
      // stay a small multiple of one hash-agg pass; output ≈ users that
      // ever emit the first step (~1/4 type share ⇒ most users)
      val users = math.max(1L, total / 50)
      val ev = spark.range(total)
        .select(pmod(xxhash64(col("id"), lit(9)), lit(users)).as("user_id"),
          col("id").as("event_id"),
          element_at(lit(Array("view", "click", "purchase", "other")),
            (pmod(xxhash64(col("id"), lit(10)), lit(4)) + 1).cast("int")).as("event_type"))
      graft.engine.Summaries.funnel(ev, "user_id", "event_type", "event_id",
        Seq("view", "click", "purchase")).count()
    }
    timed("pipe_quantile_gate") {
      // per-stratum p40 gate, 20 strata: one exact-percentile aggregation
      // (20-row threshold table, broadcast back) + one corpus filter pass;
      // output_per_input is the kept fraction — >= 0.6 by construction
      // (ties at the threshold keep; measured 0.82 on this lumpy score
      // distribution) and must stay FLAT in n
      val toksQ = split(col("text"), " ")
      val scored = corpus.select(col("doc_id"),
        pmod(xxhash64(col("doc_id"), lit(11)), lit(20L)).as("stratum"),
        (size(array_distinct(toksQ)).cast("double") / size(toksQ)).as("score"))
      graft.operators.Selection.keepAboveQuantile(scored, "stratum", "score", 0.4).count()
    }
    // a CONTINUOUS synthetic score (content-hash uniform in [0,1)): the
    // 40-token distinct-ratio used by pipe_quantile_gate takes only ~4
    // distinct values, which collapses any equal-depth bucketing onto a
    // handful of buckets and benchmarks the fixture, not the operator
    def qaScored = corpus.select(col("doc_id"),
      (pmod(xxhash64(col("doc_id"), lit(17)), lit(1000000L)).cast("double")
        / 1000000.0).as("score"))
    timed("pipe_equidepth_approx", input = 20L) {
      // corpus-WIDE equi-depth histogram on the APPROX arm — the 100 TB
      // path for q115 (the exact arm's single percentile buffer holds the
      // whole column; the sketch is fixed-size and merge-combinable).
      // output_per_input is buckets emitted / buckets asked — 1.0 on a
      // continuous score at any scale or boundary drift is losing buckets
      graft.engine.Summaries.exactPercentileBufferWarning(1L, total)
        .foreach(w => println(s"""{"advisory":"$w"}"""))
      graft.engine.Summaries.equiDepthHistogram(qaScored, "score",
        nBuckets = 20, exact = false).count()
    }
    timed("pipe_quantile_transform_approx") {
      // per-row rank transform on the approx arm (q122's 100 TB path):
      // output_per_input must be EXACTLY 1.0 — the transform neither
      // drops nor duplicates rows at any scale
      graft.engine.Summaries.quantileTransform(qaScored, "score",
        nBuckets = 100, exact = false).count()
    }
    timed("pipe_profile_approx", input = 4L) {
      // one-pass column profile on the HLL arm (the 100 TB arm — the
      // exact arm's count(DISTINCT) Expand multiplies map-side volume by
      // |cols|): output_per_input = columns emitted / asked, exactly 1.0
      graft.operators.Profiling.profileColumns(
        corpus.select(col("doc_id"), col("text"),
          pmod(xxhash64(col("doc_id"), lit(23)), lit(20L)).as("src"),
          pmod(xxhash64(col("doc_id"), lit(29)), lit(5L)).as("lang")),
        Seq("doc_id", "src", "lang", "text"), exact = false).count()
    }
    timed("pipe_rollup", input = 127L) {
      // ROLLUP mixing dashboard over 20×5 synthetic strata: one Expand +
      // one map-side-combinable aggregation; output is the fixed
      // 20·5 + 20 + 1 = 121-row subtotal table + headroom — FLAT in n
      graft.engine.Summaries.rollupReport(
        corpus.select(
          pmod(xxhash64(col("doc_id"), lit(23)), lit(20L)).cast("string").as("src"),
          pmod(xxhash64(col("doc_id"), lit(29)), lit(5L)).cast("string").as("lang"),
          length(col("text")).as("n_chars")),
        Seq("src", "lang"), "n_chars").count()
    }
    timed("pipe_ks_drift", input = 5L) {
      // corpus replicated ×G (G = 5 synthetic langs, broadcast NLJ) into
      // ONE RANGE-frame sort-window: the deliberate ×G cost that buys all
      // group-vs-rest KS statistics in one pass — wall must scale ~n·G,
      // output is exactly one row per group
      graft.engine.Summaries.ksDrift(
        corpus.select(length(col("text")).as("v"),
          pmod(xxhash64(col("doc_id"), lit(29)), lit(5L)).cast("string").as("lang")),
        "v", "lang").count()
    }
    timed("pipe_gini", input = 20L) {
      // per-group rank window + integer moment sums: one sort exchange,
      // groups-sized output — FLAT output, ~linear wall in n
      graft.engine.Summaries.giniByGroup(
        corpus.select(
          pmod(xxhash64(col("doc_id"), lit(23)), lit(20L)).cast("string").as("src"),
          length(col("text")).as("n_chars")),
        "src", "n_chars").count()
    }
    timed("pipe_jaccard_exact_cands") {
      // PPJoin prefix-filter candidate volume — the corpus-shape-sensitive
      // quantity behind q133 (the 58 s → 4.8 s trigram episode): candidate
      // pairs per doc must stay ~flat as nDocs grows; superlinear growth
      // means the gram space saturated and prefixes stopped discriminating
      Dedup.jaccardPrefixParts(corpus, "doc_id", "text",
        p = 600, n = 3)._2.count()
    }
    timed("pipe_jaccard_exact") {
      // the full exact set-similarity join (candidates + exact-intersection
      // verification): wall tracks the candidate stage plus token-keyed
      // verify joins; output is verified pairs (the planted 2% near-copies)
      Dedup.jaccardJoinExact(corpus, "doc_id", "text",
        minJaccardPermille = 600, n = 3).count()
    }
    timed("pipe_weighted_sample") {
      // Efraimidis–Spirakis top-k (k = 1% of corpus): per-partition heads
      // + driver merge — wall must stay at scan speed; a regression to a
      // global sort would show up as a superlinear jump here
      val k = math.max(1, nDocs / 100)
      val weighted = corpus.select(col("doc_id"),
        (pmod(xxhash64(col("doc_id"), lit(13)), lit(1000L)) + 1).as("w"))
      Sampling.weightedSample(weighted, "doc_id", "w", k).count()
    }
    timed("pipe_pii_report") {
      // three regexp_count kernels per row, zero exchanges: must run at
      // scan speed; output == input (one report row per doc)
      val out = TextAnalysis.piiSignals(corpus, "doc_id", "text")
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      total
    }
    timed("pipe_zipf_fit") {
      // vocab agg (map-combined, vocab-sized exchange) + TakeOrdered 200 +
      // regression over 200 rows — wall tracks one token-count pass;
      // output is ONE row at any corpus size
      TextAnalysis.zipfFit(corpus, "text", topN = 200).count()
    }
    timed("pipe_collocations") {
      // bigram + unigram aggs (both token-sized), two vocab joins, then
      // TakeOrdered on the rounded PMI — wall must track ~2 token passes;
      // output is exactly topK rows at any corpus size (minCount = 5 sits
      // far below the fixture's ~tokens/vocab² mean bigram count, so the
      // floor prunes noise without starving the TakeOrdered cut)
      TextAnalysis.collocations(corpus, "text", minCount = 5, topK = 50).count()
    }
    timed("pipe_transitions") {
      // Markov matrix over the synthetic event shape (~50 events/user):
      // one keyed lag-window exchange + a types²-sized matrix agg — the
      // normalize window runs over the MATRIX (16 rows here), so wall
      // must track the single corpus window pass; output is types².
      val users = math.max(1L, total / 50)
      val ev = spark.range(total)
        .select(pmod(xxhash64(col("id"), lit(9)), lit(users)).as("user_id"),
          col("id").as("event_id"),
          element_at(lit(Array("view", "click", "purchase", "other")),
            (pmod(xxhash64(col("id"), lit(10)), lit(4)) + 1).cast("int")).as("event_type"))
      graft.engine.Summaries.transitionMatrix(ev, "user_id", "event_type",
        Seq("event_id")).count()
    }
    timed("pipe_sessionize") {
      // gap-based sessions over ~50 events/user spread across 90 days
      // (mean inter-event gap >> the 4 h cutoff): ONE key exchange serves
      // lag + session index + rollup; output/input is the sessions-per-
      // event rate — fixed by the gap distribution, so it must stay FLAT
      // as n grows (events/user is held constant)
      val users = math.max(1L, total / 50)
      val ev = spark.range(total)
        .select(pmod(xxhash64(col("id"), lit(7)), lit(users)).as("user_id"),
          col("id").as("event_id"),
          timestamp_seconds(lit(1704067200L)
            + pmod(xxhash64(col("id"), lit(14)), lit(90L * 24 * 60)) * 60).as("ts"))
      graft.engine.Summaries.sessionize(ev, "user_id", "ts", "event_id",
        gapSeconds = 4 * 3600L).count()
    }
    timed("pipe_fuzzy_link") {
      // blocked fuzzy linkage, unique-ish 12-13 char base-36 names vs a
      // one-char-deletion noisy twin. q = 5 per the gram-space sizing
      // rule (36^5 = 60M >> n, so typical grams stay under the df cap and
      // deletions still leave shared rare grams); output/input is matches
      // per name — ~1 by construction, must stay flat in n
      val names = spark.range(total).select(col("id"),
        conv(abs(xxhash64(col("id"), lit(21))).cast("string"), 10, 36).as("name"))
      val noisy = names.select((col("id") + 1000000000L).as("nid"),
        concat(
          expr("substring(name, 1, CAST(id % length(name) AS INT))"),
          expr("substring(name, CAST(id % length(name) AS INT) + 2, 100)"))
          .as("nname"))
      graft.operators.Linkage.fuzzyJoin(names, noisy, "id", "name",
        "nid", "nname", maxDist = 1, q = 5, maxGramDf = 100).count()
    }
    timed("pipe_pagerank") {
      // 5 damped iterations over the closed-form 3-out-link graph
      // (1.5M edges at 500k nodes): per iteration exactly one src-keyed
      // join against the persisted weighted edges + one dst aggregation;
      // wall must scale ~linearly in edges; output == nodes
      val edges = spark.range(total)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % total).as("dst"))
      val out = graft.operators.Graph.pageRank(edges, "src", "dst",
        damping = 0.85, iters = 5)
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      total
    }
    timed("pipe_triangles") {
      // per-node triangle counts over the same closed-form graph made
      // UNDIRECTED (~1.5M canonical edges at 500k nodes, max degree ~12):
      // wedge fan-out is bounded by the degree orientation, so wall must
      // scale ~linearly in edges and output == nodes; output_per_input
      // pins triangles-per-node flat across 500k→5M (a rising ratio
      // would mean the generator's modular structure, not the operator)
      val edges = spark.range(total)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % total).as("dst"))
      val out = graft.operators.Graph.triangleStats(edges, "src", "dst")
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      out.agg(sum("triangles")).head().getLong(0)
    }
    timed("pipe_hits") {
      // 5 HITS iterations, LogicalRDD-re-rooted per half-step: constant
      // Catalyst analysis cost per round (the naive loop is EXPONENTIAL —
      // Graph.scala scaladoc), two edge-sized joins + two node aggs per
      // iteration; output == nodes
      val edges = spark.range(total)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % total).as("dst"))
      val out = graft.operators.Graph.hits(edges, "src", "dst", iters = 5)
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      total
    }
    timed("pipe_rank_fusion") {
      // RRF of a token-count ranking and a char-length ranking, top-1000
      // per 16-way source stratum: both lists come from the bounded-heap
      // aggregate, so the corpus is scanned once per ranking and no task
      // ever sorts a stratum; output ≤ 2·strata·topK regardless of nDocs
      val strat = corpus.withColumn("src_bucket",
        pmod(xxhash64(col("doc_id")), lit(16L)).cast("string"))
        .withColumn("tok_score", size(split(col("text"), " ")).cast("double"))
        .withColumn("len_score", length(col("text")).cast("double"))
      val out = graft.operators.Selection.rankFusion(strat, "src_bucket",
        "doc_id", Seq("tok_score", "len_score"), topK = 1000)
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      out.count()
    }
    timed("pipe_oov_rate") {
      // corpus-derived top-1k vocab (TakeOrdered over the Heaps'-law
      // token table) broadcast back over the exploded token stream;
      // output == docs, oov fraction pinned by the vocab/corpus shape
      val out = TextAnalysis.oovRate(corpus, "doc_id", "text", vocabSize = 1000)
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      out.count()
    }
    timed("pipe_dedup_megacluster") {
      // ADVERSARIAL: ~1.5% of the corpus byte-identical in ONE cluster —
      // the web-boilerplate shape that OOMs any plan holding a duplicate
      // group in one buffer. Must complete with flat memory: exact dedup
      // anti-joins the cluster out BEFORE LSH banding ever sees it, and
      // the losers path streams (no per-component collect_set).
      val boiler = corpus.withColumn("text",
        when(pmod(xxhash64(col("doc_id")), lit(67L)) === 0 && col("doc_id") > 0,
          lit("the same cookie banner boilerplate on every single page"))
          .otherwise(col("text")))
      Dedup.dedupCorpus(boiler, "doc_id", "text", 0.5).count()
    }
    timed("pipe_dedup_audit") {
      // the explainability twin over the SAME adversarial corpus: one row
      // per doc (status + winner) — same graph cost as megacluster dedup
      // plus two node-sized joins; output == corpus rows at any scale
      val boiler = corpus.withColumn("text",
        when(pmod(xxhash64(col("doc_id")), lit(67L)) === 0 && col("doc_id") > 0,
          lit("the same cookie banner boilerplate on every single page"))
          .otherwise(col("text")))
      val out = Dedup.dedupAudit(boiler, "doc_id", "text", 0.5)
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      out.count()
    }
    timed("pipe_paragraph_dedup") {
      // every doc carries the SAME boilerplate middle paragraph (a 500k+
      // occurrence digest group — must collapse map-side, the exact-edges
      // mega-cluster discipline) plus its own text twice (an in-doc dup);
      // output docs ≈ input docs, each reduced to its unique paragraph
      val boiler = lit("the same cookie banner boilerplate on every single page")
      val multi = corpus.select(col("doc_id"),
        concat_ws("\n\n", col("text"), boiler, col("text")).as("text"))
      val out = Dedup.dedupParagraphs(multi, "doc_id", "text")
      // hash-consume so column pruning cannot elide the reassembly
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      total
    }
    timed("pipe_substring_dedup") {
      // passage REMOVAL (Lee et al.): every doc shares one boilerplate
      // 8-token middle span (canonical doc keeps it, everyone else loses
      // those positions), and the 2% near-dup docs lose their whole
      // duplicated prefix. The gram join's build side is the duplicated-
      // gram table (hot grams = the boilerplate span's windows — each
      // ~n_docs wide on the PROBE side, which hash-distributes; the cover
      // explode is n tokens per hit). output ≈ input docs.
      val boiler = lit("shared cookie banner boilerplate appears on every page")
      val multi = corpus.select(col("doc_id"),
        concat_ws(" ", col("text"), boiler).as("text"))
      val out = Dedup.removeDuplicatedSpans(multi, "doc_id", "text", n = 5)
      out.agg(max(xxhash64(out.columns.map(col): _*))).head()
      total
    }
    // CC RDD-path guard: a chain graph big enough to cross the 4M-edge
    // driver union-find ceiling, so the distributed hash-min + pointer-
    // jumping loop's convergence and timing are measured, not just spec'd
    // (chains of 1000 need ~log2(1000) pointer-jump rounds). 10 edges per
    // doc at the 500k default = 5M edges; capped at 10M.
    val ccN = math.min(10000000L, math.max(nDocs.toLong * 10, 100000L))
    timed("cc_rdd_path", ccN) {
      val edges = spark.range(ccN)
        .filter(pmod(col("id") + 1, lit(1000L)) =!= 0)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      // driverMaxEdges = 0 FORCES the distributed loop: at small nDocs the
      // edge count is under the 4M driver ceiling and this metric would
      // silently time the driver union-find instead of what its name says
      val cc = Dedup.connectedComponents(edges, driverMaxEdges = 0L)
      val comps = cc.select("component").distinct().count()
      require(comps == (ccN + 999) / 1000,
        s"cc_rdd_path: expected ${(ccN + 999) / 1000} components, got $comps")
      comps
    }

    timed("pipe_heavy_hitters", input = 100L) {
      // Misra–Gries UNDER CAPACITY PRESSURE: capacity 256 ≪ the
      // Heaps'-law vocab (1k at 500k docs, 10k at 5M), so decrements
      // fire constantly — the 100 TB regime. Each partial buffer stays
      // ≤ capacity entries; the exchange carries partitions × 256
      // counters no matter the key universe, so wall must scale
      // linearly in TOKENS and output is exactly `emit`
      val toks = corpus.select(explode(TextAnalysis.tokens("text")).as("token"))
      toks.agg(graft.functions.HeavyHittersOps
        .heavyHitters(256, 100, col("token")).as("hh"))
        .select(explode(col("hh"))).count()
    }
    timed("pipe_countmin", input = vocabSize.toLong) {
      // CMS build (4×4096 cells) + an estimate for EVERY vocab word:
      // the sketch exchange is cell-bounded (≤16k rows) regardless of
      // vocab, the probe join broadcasts it; wall linear in tokens,
      // output == vocab (ratio pinned 1.0)
      val toks = corpus.select(explode(TextAnalysis.tokens("text")).as("token"))
      val sk = graft.operators.Profiling.countMinSketch(toks, "token", 4, 4096)
      graft.operators.Profiling.countMinEstimate(sk, toks, "token", 4, 4096)
        .count()
    }
    timed("pipe_label_prop") {
      // 5 synchronous LPA iterations over the closed-form 3-out-link
      // graph: one neighbor join + one two-level agg per iteration, the
      // argmax a partial-aggregatable max(struct) — wall linear in edges
      val edges = spark.range(total)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % total).as("dst"))
      val out = graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 5)
      out.agg(max(xxhash64(out.columns.map(col).toSeq: _*))).head()
      total
    }
    timed("pipe_bfs_hops") {
      // 4-hop multi-source BFS from a 1‰ seed set over the same graph:
      // the distance table grows by the frontier only; each hop is one
      // node-keyed join + min-agg + full-outer merge. output_per_input
      // is REACHED nodes per corpus row — the 3-regular graph saturates
      // fast, so the ratio must stay flat across 500k→5M
      val edges = spark.range(total)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % total).as("dst"))
      val seeds = spark.range(total).filter(col("id") % 1000 === 0).toDF()
      graft.operators.Graph.bfsHops(edges, "src", "dst", seeds, "id", maxHops = 4)
        .count()
    }
    timed("pipe_snm_pairs") {
      // sorted-neighborhood near-dup pass: within-prefix rank (the
      // "w<hash>"-leading texts spread across ~vocab prefix blocks, so
      // no block exceeds ~n/vocab rows), bucketed rank join bounding
      // fan-out at 2·window per row, Levenshtein on candidates only.
      // output_per_input pins pairs-per-doc flat across scales
      graft.operators.Linkage.sortedNeighborhood(corpus, "doc_id", "text",
        window = 10, prefixLen = 8, maxDist = 30).count()
    }
    timed("pipe_hll", input = 256L) {
      // HLL-as-relation over the token stream: the exchange carries ≤ m
      // register rows regardless of vocab; wall linear in tokens,
      // output ≤ m (occupied registers)
      val toks = corpus.select(explode(TextAnalysis.tokens("text")).as("token"))
      graft.operators.Profiling.hllSketch(toks, "token", m = 256).count()
    }
    timed("pipe_bloom", input = vocabSize.toLong) {
      // Bloom-as-relation build (64k bits) + a probe for every vocab
      // word: the word table is ≤ bits/32 rows and broadcasts; wall
      // linear in tokens ×hashes
      val toks = corpus.select(explode(TextAnalysis.tokens("text")).as("token"))
      val sk = graft.operators.Profiling.bloomSketch(toks, "token",
        bits = 65536, hashes = 3)
      graft.operators.Profiling.bloomMaybeContains(sk, toks, "token",
        bits = 65536, hashes = 3).count()
    }
    timed("pipe_uniform_k", input = 1000L) {
      // 100 per hash-derived 10-group: BoundedTopK keeps k entries per
      // group per partition — no per-group window, no group's rows in
      // one task; output exactly groups×k
      val grouped = corpus.withColumn("g", pmod(xxhash64(col("doc_id")), lit(10L)))
      Sampling.uniformKPerGroup(grouped, "doc_id", "g", k = 100).count()
    }
    timed("pipe_linear_fit", input = 1L) {
      // closed-form OLS: ONE moment aggregation — must run at scan
      // speed; wall linearity is the whole guard
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val feats = corpus.select(length(col("text")).cast("long").as("nc"),
        size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("nd"))
      graft.operators.Regression.linearFit2(feats, "nc", "nt", "nd").head()
      1L
    }
    timed("pipe_bootstrap", input = 50L) {
      // Poisson bootstrap, 50 replicates: the per-row cost is 50 md5
      // tickets, and the explode MUST partially aggregate in-task (the
      // shuffle carries partitions×50 partial rows, never corpus×50) —
      // superlinear wall at 10× data means that combine stopped firing
      val vals = corpus.select(col("doc_id"),
        length(col("text")).cast("long").as("len"))
      Sampling.bootstrapMeanCI(vals, "doc_id", "len", replicates = 50).head()
      50L
    }
    timed("pipe_binned_mi", input = 100L) {
      // 10×10 binned MI: one cells aggregation; margins/entropies reuse
      // the cells exchange (PlanSpec-pinned) — wall must track the scan
      val d = corpus.select(length(col("text")).cast("long").as("nc"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("nt"))
      graft.engine.Summaries.binnedMutualInformation(d, "nc", "nt",
        xBins = 10, yBins = 10, xLo = 0, xHi = 400, yLo = 0, yHi = 50).head()
      100L
    }
    timed("pipe_vocab_growth", input = 4L) {
      // Heaps'-law curve over 4 nested fractions: two corpus passes
      // (doc-level conditional sums + per-token MIN bucket on the
      // Heaps-bounded vocab table) — NOT one pass per fraction. Hash-
      // consumed: a bare count() prunes both aggregates to empty
      // projections (measured 0.63 s vs 4.63 s real at 500k)
      val out = TextAnalysis.vocabGrowthCurve(corpus, "doc_id", "text",
        Seq(100, 250, 500, 1000))
      out.agg(max(xxhash64(out.columns.map(col).toSeq: _*))).head()
      4L
    }
    timed("pipe_bpe_encode") {
      // BPE train (3 merges on the vocab table) + apply back per doc:
      // corpus touched twice; the merge rounds are vocab-sized. Consumed
      // via hash-max so pruning cannot elide the per-doc sums
      val out = TextAnalysis.bpeTokenCounts(corpus, "doc_id", "text", merges = 3)
      out.agg(max(xxhash64(out.columns.map(col).toSeq: _*))).head()
      total
    }
    // embeddings: 64 deterministic pseudo-random dims per row; 2% of rows
    // are near-copies of row (id - 1) (same dims, one nudged by 0.05) so
    // the near-dup guard has planted TRUE pairs growing linearly with n.
    // A row is only planted when its PREDECESSOR is not itself planted —
    // otherwise the pair (id, id-1) would compare a copy of id-1's base
    // dims against id-1's PERTURBED-from-id-2 vector (cosine ~0, not
    // ≥0.9), silently deflating measured recall ~2%. Random-pair cosine
    // at 64 dims is ~N(0, 1/64) and never reaches the guard's 0.9
    // threshold, so found pairs ≈ planted pairs × recall.
    def planted(id: Column) = pmod(xxhash64(id, lit(-1)), lit(50L)) === 0 && id > 0
    val nearV = planted(col("id")) && !planted(col("id") - 1)
    val baseV = when(nearV, col("id") - 1).otherwise(col("id"))
    val dims = (0 until 64).map(d =>
      (pmod(xxhash64(baseV, lit(d)), lit(2001L)).cast("double") / 1000.0 - 1.0))
    val d0 = dims.head + when(nearV, lit(0.05)).otherwise(lit(0.0))
    // the embedding table itself is gated on the stage filter: at 5M docs
    // its generation + write is one of the most expensive steps in the
    // bench, and a doc-stage-only run must not pay for it
    // EVERY stage timed below this gate must appear here — a missing
    // name makes a PIPE_ONLY run of that stage silently time nothing
    // (the early return fires before its timed() call). The doc-only
    // sparse stages ride the same gate because they are sequenced after
    // the embedding write; the list is the gate's source of truth.
    val embStages = Seq("pipe_lsh_bucket_assign", "pipe_ann_lsh_topk_100q",
      "pipe_embedding_neardup", "pipe_kmeans", "pipe_jl_projection",
      "pipe_jl_project_lit", "pipe_pq_codes", "pipe_hard_negatives",
      "pipe_ivf_pq", "pipe_ivf_pq_build", "pipe_ivf_pq_search",
      "pipe_ivf_pq_save_clustered", "pipe_ivf_pq_search_b10",
      "pipe_ivf_pq_search_pruned_b10", "pipe_ivf_pq_build_stored",
      "pipe_ivf_pq_search_stored_b10", "pipe_binary_rerank",
      "pipe_binary_index_build", "pipe_binary_search",
      "pipe_binary_search_b10", "pipe_binary_search_cells_b10",
      "pipe_binary_search_warm_b10", "pipe_binary_search_cells_warm_b10",
      "pipe_hybrid_lifecycle_stored",
      "pipe_ivf_pq_add", "pipe_ivf_drift", "pipe_sparse_postings",
      "pipe_bm25_postings", "pipe_sparse_topk", "pipe_sparse_topk_capped",
      "pipe_sparse_index_build", "pipe_sparse_index_search",
      "pipe_semantic_dedup", "pipe_semantic_dedup_banded",
      "pipe_contrastive", "pipe_hybrid_rrf", "pipe_hybrid_lifecycle",
      "pipe_hybrid_health", "pipe_anisotropy")
    val needEmb = only.forall(fs => embStages.exists(m => fs.exists(m.contains)))
    if (!needEmb) { spark.stop(); return }
    // float32, like real embedding tables — the near-dup verification
    // joins carry the raw float payload (half the bytes of a
    // cast-to-double projection; the dot kernel widens exactly)
    val emb = spark.range(nDocs.toLong)
      .select(col("id").as("vec_id"),
        array((d0 +: dims.tail).map(_.cast("float")): _*).as("embedding"))
    val embPath = s"$work/emb.parquet"
    emb.write.mode(SaveMode.Overwrite).parquet(embPath)
    val vecs = spark.read.parquet(embPath)

    timed("pipe_lsh_bucket_assign") {
      vecs.select(Similarity.lshBucket(col("embedding")).as("b"))
        .agg(sum("b")).head()
      total
    }
    timed("pipe_ann_lsh_topk_100q") {
      // max(1, ...) guards tiny smoke runs: % 0 is NULL (non-ANSI) and the
      // filter would silently select zero queries
      val stride = math.max(1L, nDocs.toLong / 100)
      Similarity.lshTopK(vecs, vecs.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", k = 10, planes = 4, probeBits = 1).count()
    }
    timed("pipe_hard_negatives", input = 20L) {
      // brute-force banded top-k for 20 queries: ONE broadcast pass over
      // the partitioned corpus (the documented bounded-query eval arm) —
      // wall must be linear in corpus size, never queries × corpus shape
      val stride = math.max(1L, nDocs.toLong / 20)
      Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", k = 10, minCos = 0.05, maxCos = 0.8).count()
    }
    timed("pipe_embedding_neardup") {
      // output_per_input here is FOUND PAIRS PER VECTOR ≈ planted rate
      // (2%) × recall — flat in n when healthy. The banded generator's
      // bandedPlanesFor keeps the candidate load ~flat per vector
      // (2^planes grows with n, NO cap — recall is amplified across the
      // 3 independent tables instead of a probe radius), so the guard's
      // other signal is wall-time linearity: superlinear growth means
      // bucket crowding, i.e. the planes knob stopped tracking the
      // corpus (SCALE.md §Embedding near-dup pair growth).
      Similarity.nearDupPairsBanded(vecs, "vec_id", "embedding", threshold = 0.9,
        planes = Similarity.bandedPlanesFor(total)).count()
    }
    timed("pipe_kmeans") {
      // output_per_input is rows labeled / corpus (always 1.0 — the
      // guard's signal is WALL linearity: each of the 2 iterations is a
      // narrow per-row k×dim fold plus one k×dim-cell aggregation, so
      // superlinear growth means the update shuffle stopped combining
      // map-side)
      Similarity.kmeansLloyd(vecs, "vec_id", "embedding", k = 8, iters = 2)
        .count()
    }
    timed("pipe_jl_projection") {
      // JL to 8 dims: a pure narrow per-row kernel (8 codegen'd dots),
      // must run at scan speed; consumed via hash-max so pruning can't
      // elide it
      val out = Similarity.randomProjection(vecs, "vec_id", "embedding", 8)
      out.agg(max(xxhash64(out.columns.map(col).toSeq: _*))).head()
      total
    }
    timed("pipe_jl_project_lit") {
      // the literal-weight form of the same projection (signProject):
      // the weight matrix baked driver-side, so the stage prices exactly
      // what dropping the per-row per-plane weight-array build buys —
      // compare against pipe_jl_projection's wall on the same corpus
      val out = Similarity.signProject(vecs, "vec_id", "embedding",
        outDim = 8, dim = 64)
      out.agg(max(xxhash64(out.columns.map(col).toSeq: _*))).head()
      total
    }
    timed("pipe_pq_codes") {
      // PQ 4×16 (k=8): ONE fused Lloyd loop over the (subspace, slice)
      // union — each iteration is one corpus pass + one bounded codebook
      // collect (was 4 sequential chains); output == rows coded
      Similarity.pqCodes(vecs, "vec_id", "embedding",
        subspaces = 4, subDim = 16, k = 8, iters = 2).count()
    }
    timed("pipe_ivf_pq", input = 100L) {
      // the composed production retrieval path for 100 queries: PQ
      // training (fused), per-row cell+code expressions over literal
      // codebooks, ADC-gated stage 1, exact rerank of 100×20 survivors.
      // Corpus never shuffles — wall must be linear in corpus size
      val stride = math.max(1L, nDocs.toLong / 100)
      Similarity.ivfPqTopK(vecs, vecs.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 4,
        subspaces = 4, subDim = 16, pqK = 8, pqIters = 2, rerank = 20).count()
    }
    // the index LIFECYCLE split: build once (train + encode + persist the
    // four relations), search many — the search stage must cost a
    // FRACTION of pipe_ivf_pq (same query load) because the pqIters
    // training barriers and the corpus encode are amortized away. Index
    // paths are keyed on nDocs AND the build parameters: workDir persists
    // across runs, and a PIPE_ONLY search must never silently consume a
    // stale index from a different corpus size or an older revision's
    // parameterization
    // m2 = the meta-relation schema version: bumping it orphans indexes
    // persisted by an older revision whose meta a newer loader would
    // refuse, so a PIPE_ONLY search rebuilds instead of crashing
    // nlist follows the FAISS √n rule: stage 1 scans ~nProbe/nCentroids
    // of the codes PER QUERY, so a fixed 16-cell quantizer reads 25% of
    // the corpus per query at ANY size — measured: the 500-query hybrid
    // serve cost 32.6 s at 500k on the 16-cell index, dominated by
    // exactly that scan. √n cells pin per-query stage-1 candidates at
    // ~nProbe·√n rows (the constant-size-codegen assignment kernel was
    // built for thousands of cells; the coarse pick is a first-N
    // collect, so build cost grows only by the per-row argmin width)
    val idxCents = math.max(16, math.min(2048, math.sqrt(nDocs.toDouble).toInt / 2))
    val (idxSub, idxSubDim, idxPqK) = (4, 16, 8)
    val idxSfx = s"_m2_${nDocs}_c${idxCents}_pq${idxPqK}x${idxSub}d$idxSubDim.parquet"
    def buildIvfPqIndex(): Unit = {
      val idx = Similarity.ivfPqIndexBuild(vecs, "vec_id", "embedding",
        nCentroids = idxCents, subspaces = idxSub, subDim = idxSubDim,
        pqK = idxPqK, pqIters = 2)
      Similarity.ivfPqIndexSave(idx, s"$work/ivfpq$idxSfx")
    }
    timed("pipe_ivf_pq_build", input = total) {
      buildIvfPqIndex()
      total
    }
    // a PIPE_ONLY run that skipped the build stage still needs an index —
    // built OUTSIDE the timer, or the search metric would include the
    // exact train+encode cost the stage exists to prove is amortized
    // meta is written LAST by ivfPqIndexSave, so its presence is the
    // commit marker: an interrupted build (codes written, meta not)
    // re-triggers the rebuild instead of feeding the loader a torso
    val idxNeeded = only.forall(fs =>
      Seq("pipe_ivf_pq_search", "pipe_ivf_pq_add", "pipe_ivf_drift",
        "pipe_ivf_pq_save_clustered", "pipe_ivf_pq_search_b10",
        "pipe_ivf_pq_search_pruned_b10")
        .exists(n => fs.exists(n.contains)))
    // existence resolves through the Hadoop FileSystem for the path's
    // SCHEME: java.io.File is always-false for a non-local work dir
    // (hdfs://, s3a://), which would silently rebuild the index on
    // every filtered run — correct results, but the build cost lands
    // outside any timed stage and skews wall-clock comparisons
    def fsExists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (idxNeeded && !fsExists(s"$work/ivfpq$idxSfx/meta"))
      buildIvfPqIndex()
    timed("pipe_ivf_pq_search", input = 100L) {
      // the flag-free loader: residual/subDim from the meta relation,
      // derivable fields cross-checked — a stale or mixed index dir is
      // a fast failure here, not a silently-skewed search metric
      val idx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      val stride = math.max(1L, nDocs.toLong / 100)
      Similarity.ivfPqSearch(idx, vecs, vecs.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", k = 10, nProbe = 8, rerank = 20).count()
    }
    val cluPath = s"$work/ivfpqclu$idxSfx"
    timed("pipe_ivf_pq_save_clustered", input = total) {
      // re-layout the persisted index CLUSTERED BY CELL: one exchange
      // by cell + a partitioned write (~one file per cell) — paid once
      // at build so every small-batch serve below partition-prunes
      val idx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      Similarity.ivfPqIndexSaveClustered(idx, cluPath)
      total
    }
    if (idxNeeded && !fsExists(s"$cluPath/meta")) {
      val idx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      Similarity.ivfPqIndexSaveClustered(idx, cluPath)
    }
    // the b10 serving pair: 10 queries arrive MATERIALIZED (production
    // serving takes a small query relation, not a corpus-derived view —
    // and ivfPqSearchPruned reads its query side twice, so an
    // unmaterialized corpus filter would bill it an extra corpus pass
    // that no real deployment pays)
    timed("pipe_ivf_pq_search_b10", input = 10L) {
      // UNPRUNED baseline: 10 queries × nProbe 8 still scan (and score)
      // the whole codes relation
      val idx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      val stride = math.max(1L, nDocs.toLong / 10)
      val qs = vecs.filter(col("vec_id") % stride === 0).localCheckpoint()
      Similarity.ivfPqSearch(idx, vecs, qs,
        "vec_id", "embedding", k = 10, nProbe = 8, rerank = 20).count()
    }
    timed("pipe_ivf_pq_search_pruned_b10", input = 10L) {
      // same 10-query batch over the clustered layout with the probed
      // cells pushed as a PARTITION filter: the codes scan reads and
      // ADC-scores ≤ 80/nCentroids of the index (~7% at the 5M √n
      // quantizer) — result-identical by construction (spec-pinned)
      val idx = Similarity.ivfPqIndexLoad(spark, cluPath)
      val stride = math.max(1L, nDocs.toLong / 10)
      val qs = vecs.filter(col("vec_id") % stride === 0).localCheckpoint()
      Similarity.ivfPqSearchPruned(idx, vecs, qs,
        "vec_id", "embedding", k = 10, nProbe = 8, rerank = 20).count()
    }
    // _w: the round-16 payload set (vec + sign words) — the marker
    // retires any words-less stored index a previous round left in $work
    val stoPath = s"$work/ivfpqsto_w$idxSfx"
    def buildStoredIndex(): Unit = {
      // build WITH the vector payload AND the packed sign words and
      // persist cell-clustered: the corpus bytes move into the index
      // once, so the dense serve reads no external table, the binary
      // serve hamming-ranks only probed cells, and both partition-prune
      val idx = Similarity.ivfPqIndexBuild(vecs, "vec_id", "embedding",
        nCentroids = idxCents, subspaces = idxSub, subDim = idxSubDim,
        pqK = idxPqK, pqIters = 2, storeVectors = true,
        storeSignWords = true)
      Similarity.ivfPqIndexSaveClustered(idx, stoPath)
    }
    timed("pipe_ivf_pq_build_stored", input = total) {
      buildStoredIndex()
      total
    }
    val stoNeeded = only.forall(fs =>
      Seq("pipe_ivf_pq_search_stored_b10", "pipe_binary_search_cells_b10",
        "pipe_hybrid_lifecycle_stored")
        .exists(n => fs.exists(n.contains)))
    if (stoNeeded && !fsExists(s"$stoPath/meta"))
      buildStoredIndex()
    timed("pipe_ivf_pq_search_stored_b10", input = 10L) {
      // the end-to-end pruned serve: 10 materialized queries, stage 1
      // AND stage 2 read only the ~80 probed cell partitions of the
      // stored clustered index — the b10 pair above is the baseline
      val idx = Similarity.ivfPqIndexLoad(spark, stoPath)
      val stride = math.max(1L, nDocs.toLong / 10)
      val qs = vecs.filter(col("vec_id") % stride === 0).localCheckpoint()
      Similarity.ivfPqSearchStored(idx, qs,
        "vec_id", "embedding", k = 10, nProbe = 8, rerank = 20).count()
    }
    timed("pipe_binary_rerank", input = 100L) {
      // 1-bit two-stage ANN at a fixed 100-query load: stage 1 reads
      // 2 packed words per 64-dim vector (16 bytes vs 256 float) and
      // ranks by bit_count(xor) agreement; exact cosine reranks the
      // ≤ 100×20 survivors — wall must track the corpus scan, with the
      // cheap-kernel constant visible next to the float/int8 stages
      val stride = math.max(1L, nDocs.toLong / 100)
      Similarity.binaryRerankTopK(vecs, vecs.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", dim = 64, k = 10, rerank = 20).count()
    }
    val binPath = s"$work/binidx_$nDocs"
    timed("pipe_binary_index_build", input = total) {
      // pack once: one narrow corpus pass into 16 bytes/vector, no
      // shuffle — the cost every binary serve below stops paying
      Similarity.binaryIndexSave(
        Similarity.binaryIndexBuild(vecs, "vec_id", "embedding", dim = 64),
        binPath)
      total
    }
    val binNeeded = only.forall(fs =>
      Seq("pipe_binary_search", "pipe_binary_search_b10")
        .exists(n => fs.exists(n.contains)))
    if (binNeeded && !fsExists(s"$binPath/meta"))
      Similarity.binaryIndexSave(
        Similarity.binaryIndexBuild(vecs, "vec_id", "embedding", dim = 64),
        binPath)
    timed("pipe_binary_search", input = 100L) {
      // serve from the PERSISTED words relation: stage 1 scans 1/32 of
      // the float bytes and never re-packs — the inline pipe_binary_
      // rerank above is the cost this lifecycle split amortizes
      val idx = Similarity.binaryIndexLoad(spark, binPath)
      val stride = math.max(1L, nDocs.toLong / 100)
      Similarity.binarySearch(idx, vecs, vecs.filter(col("vec_id") % stride === 0),
        "vec_id", "embedding", k = 10, rerank = 20).count()
    }
    // the binary b10 serving pair (the pruned-serving convention: cell
    // pruning pays off when the BATCH's probe union covers a fraction of
    // the cells — a 100-query batch at √n centroids probes them all)
    timed("pipe_binary_search_b10", input = 10L) {
      // full-scan baseline: 10 queries still hamming-rank every packed
      // words row of the flat binary index
      val idx = Similarity.binaryIndexLoad(spark, binPath)
      val stride = math.max(1L, nDocs.toLong / 10)
      val qs = vecs.filter(col("vec_id") % stride === 0).localCheckpoint()
      Similarity.binarySearch(idx, vecs, qs,
        "vec_id", "embedding", k = 10, rerank = 20).count()
    }
    timed("pipe_binary_search_cells_b10", input = 10L) {
      // the same 10-query load CELL-PRUNED: stage 1 hamming-ranks only
      // each query's 8 probed cells of the clustered words payload
      // (≤ 80/nCentroids of the rows the baseline scans, partition-
      // pruned), stage 2 reranks from the index's own vec payload — no
      // external table read. NOTE: this one-shot leg bills the index
      // OPEN (partition discovery of nCentroids cell dirs — measured
      // ~3 s at 1118 cells, the dominant term); the warm pair below is
      // the amortized per-batch serve a deployment actually pays
      val idx = Similarity.ivfPqIndexLoad(spark, stoPath)
      val stride = math.max(1L, nDocs.toLong / 10)
      val qs = vecs.filter(col("vec_id") % stride === 0).localCheckpoint()
      Similarity.binarySearchCells(idx, vecs, qs,
        "vec_id", "embedding", k = 10, nProbe = 8, rerank = 20).count()
    }
    // the WARM serving pair: index opened OUTSIDE the timer (a serving
    // deployment opens once and serves batches for hours) — this is the
    // per-batch cost the two designs actually trade, with the one-time
    // open cost visible in the one-shot legs above
    val warmBinNeeded = only.forall(fs =>
      Seq("pipe_binary_search_warm_b10", "pipe_binary_search_cells_warm_b10")
        .exists(n => fs.exists(n.contains)))
    if (warmBinNeeded) {
      if (!fsExists(s"$binPath/meta"))
        Similarity.binaryIndexSave(
          Similarity.binaryIndexBuild(vecs, "vec_id", "embedding", dim = 64),
          binPath)
      if (!fsExists(s"$stoPath/meta")) buildStoredIndex()
      val flatIdx = Similarity.binaryIndexLoad(spark, binPath)
      val cellIdx = Similarity.ivfPqIndexLoad(spark, stoPath)
      val stride = math.max(1L, nDocs.toLong / 10)
      val qs = vecs.filter(col("vec_id") % stride === 0).localCheckpoint()
      // one throwaway serve per arm so neither timed leg pays first-run
      // codegen/broadcast warmup the other skipped
      Similarity.binarySearch(flatIdx, vecs, qs, "vec_id", "embedding",
        k = 10, rerank = 20).count()
      Similarity.binarySearchCells(cellIdx, vecs, qs, "vec_id", "embedding",
        k = 10, nProbe = 8, rerank = 20).count()
      timed("pipe_binary_search_warm_b10", input = 10L) {
        Similarity.binarySearch(flatIdx, vecs, qs,
          "vec_id", "embedding", k = 10, rerank = 20).count()
      }
      timed("pipe_binary_search_cells_warm_b10", input = 10L) {
        Similarity.binarySearchCells(cellIdx, vecs, qs,
          "vec_id", "embedding", k = 10, nProbe = 8, rerank = 20).count()
      }
    }
    timed("pipe_ivf_pq_add", input = total / 10) {
      // FAISS's add at scale: encode a 10% delta against the FROZEN
      // persisted codebooks — zero training barriers by construction,
      // so per-row cost must track the build's ENCODE half and the
      // stage proves the amortization the lifecycle split promises.
      // Consumed via hash-max: a count() would prune the per-row code
      // expressions and time an empty projection
      val idx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      val delta = vecs.filter(col("vec_id") % 10 === 0)
      val enc = Similarity.ivfPqEncode(idx, delta, "vec_id", "embedding")
      enc.agg(max(xxhash64(enc.columns.map(col).toSeq: _*))).head()
      total / 10
    }
    timed("pipe_ivf_drift", input = total / 10) {
      // the after-every-add retrain gate: one 10%-delta encode against
      // the frozen persisted codebooks + two compact-key groupBys +
      // nCentroids-sized arithmetic — must cost ~the add stage's encode
      // half and nothing more (zero training barriers, plan-pinned)
      val idx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      val delta = vecs.filter(col("vec_id") % 10 === 0)
      Similarity.ivfDriftReport(idx, delta, "vec_id", "embedding").count()
      total / 10
    }
    timed("pipe_sparse_postings") {
      // inverted-index build: ONE corpus exchange into (doc, token, tf)
      // + a vocabulary-sized re-aggregation; maxDfFrac prunes the
      // stopword-mass tokens so no surviving posting list grows with
      // the corpus (the skew bound stated on the operator)
      TextAnalysis.tfidfPostings(corpus, "doc_id", "text",
        minDf = 2, maxDfFrac = 0.5).count()
    }
    timed("pipe_bm25_postings") {
      // the Okapi-weighted index build: same exchange shape as the
      // TF-IDF postings plus one doc-sized re-aggregation (Σtf) and two
      // one-row broadcasts (N, avgdl) — must track pipe_sparse_postings'
      // wall within the re-agg's cost
      TextAnalysis.bm25Postings(corpus, "doc_id", "text",
        minDf = 2, maxDfFrac = 0.5).count()
    }
    timed("pipe_sparse_topk", input = 500L) {
      // batch sparse retrieval at a FIXED 500-query load: the bounded
      // query side broadcasts, so the posting join never shuffles the
      // index — wall must be linear in corpus size (the posting scan),
      // independent of the query count staying pinned
      val post = TextAnalysis.tfidfPostings(corpus, "doc_id", "text",
        minDf = 2, maxDfFrac = 0.5)
      val qids = corpus.select(col("doc_id"))
        .orderBy(xxhash64(col("doc_id"))).limit(500)
      val qp = post.join(broadcast(qids), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      TextAnalysis.sparseTopK(post, "doc_id", qp, "query_id",
        "token", "weight", k = 10).count()
      500L
    }
    timed("pipe_sparse_topk_capped", input = 500L) {
      // the statically pruned index (top-1000 postings per term): after
      // the cap no join group exceeds 1000 rows no matter how the corpus
      // grows — the absolute bound the recall gate prices
      val post = TextAnalysis.tfidfPostings(corpus, "doc_id", "text",
        minDf = 2, maxDfFrac = 0.5)
      val capped = TextAnalysis.cappedPostings(post, "doc_id", "token",
        "weight", cap = 1000)
      val qids = corpus.select(col("doc_id"))
        .orderBy(xxhash64(col("doc_id"))).limit(500)
      val qp = post.join(broadcast(qids), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      TextAnalysis.sparseTopK(capped, "doc_id", qp, "query_id",
        "token", "weight", k = 10).count()
      500L
    }
    // lexical index lifecycle: build+persist once (keyed like the
    // ivfpq index — corpus size + knobs + m1 meta version), serve many.
    // Search must cost a fraction of pipe_sparse_topk's inline build.
    // m2: the round-14 meta schema (cap/n_capped columns) — the version
    // bump retires any m1 index a previous round left in $work. The
    // index now BAKES the cap-1000 prune in at build (r13's verdict
    // already named load + cap + serve the production path; the capped
    // relation persists next to the uncapped one, so the recall gate
    // keeps its exact arm), which moves the per-session cappedPostings
    // heap into the one-time build.
    val sIdxSfx = s"_m3_${nDocs}_tfidf_df2_f50_c1000.parquet"
    def buildSparseIndex(): Unit =
      TextAnalysis.sparseIndexSave(
        TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text",
          minDf = 2, maxDfFrac = 0.5, cap = Some(1000)),
        s"$work/sparseidx$sIdxSfx")
    timed("pipe_sparse_index_build", input = total) {
      buildSparseIndex()
      total
    }
    if (only.exists(fs => fs.exists("pipe_sparse_index_search".contains)) &&
        !fsExists(s"$work/sparseidx$sIdxSfx/meta"))
      buildSparseIndex()
    timed("pipe_sparse_index_search", input = 500L) {
      // flag-free open (one cross-check aggregate over the postings)
      // + the 500-query serve — no weight-chain rebuild anywhere
      val idx = TextAnalysis.sparseIndexLoad(spark, s"$work/sparseidx$sIdxSfx")
      val qids = corpus.select(col("doc_id"))
        .orderBy(xxhash64(col("doc_id"))).limit(500)
      // query profiles reconstruct from RAW TEXT + the vocab relation
      // (queryPostings) — the corpus-scale posting relation is never
      // scanned on the query side, and out-of-corpus queries serve the
      // same way
      val qp = TextAnalysis.queryPostings(idx,
        corpus.join(broadcast(qids), "doc_id"), "doc_id", "text")
      TextAnalysis.sparseIndexSearch(idx, qp, "query_id",
        "token", "weight", k = 10).count()
      500L
    }
    timed("pipe_hybrid_rrf", input = 500L) {
      // hybrid serving at the fixed 500-query load: the PRODUCTION arms
      // only — LSH-bucketed dense top-k (never brute force at corpus
      // scale) + the CAPPED sparse index (the q248-priced static prune;
      // the uncapped arm measured ~9× slower here — exactly the join
      // group growth the cap bounds), fused. The fusion itself joins two
      // (queries × k)-row lists, so its cost must be noise against the
      // retrievals.
      val stride = math.max(1L, nDocs.toLong / 500)
      val qv = vecs.filter(col("vec_id") % stride === 0)
      // auto-sized planes: at a fixed planes=4 the dense arm's
      // candidates/query grow linearly with the corpus (measured 22.5 s
      // at 500k before the sizing); the budgeted form holds them flat
      val dense = Similarity.lshTopKAuto(vecs, qv, "vec_id", "embedding",
        k = 10, probeBits = 1)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn"))
      val post = TextAnalysis.tfidfPostings(corpus, "doc_id", "text",
        minDf = 2, maxDfFrac = 0.5)
      val capped = TextAnalysis.cappedPostings(post, "doc_id", "token",
        "weight", cap = 1000)
      val qp = post.join(
        broadcast(qv.select(col("vec_id").as("doc_id"))), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      val sparse = TextAnalysis.sparseTopK(capped, "doc_id", qp, "query_id",
        "token", "weight", k = 10)
        .select(col("query_id"), col("doc_id"), col("rn"))
      graft.operators.Selection.rrfFuseRanks(Seq(dense, sparse),
        "query_id", "doc_id", "rn").count()
      500L
    }
    // both lifecycles must exist for the hybrid serve + health legs —
    // built outside the timer when a PIPE_ONLY run skipped the builds
    if (only.exists(fs => fs.exists(f =>
        "pipe_hybrid_lifecycle".contains(f) || "pipe_hybrid_health".contains(f) ||
        "pipe_hybrid_lifecycle_stored".contains(f)))) {
      if (!fsExists(s"$work/ivfpq$idxSfx/meta")) buildIvfPqIndex()
      if (!fsExists(s"$work/sparseidx$sIdxSfx/meta")) buildSparseIndex()
      if (!fsExists(s"$stoPath/meta")) buildStoredIndex()
    }
    timed("pipe_hybrid_lifecycle", input = 500L) {
      // the composed SERVING verb over BOTH persisted indexes
      // (Retrieval.hybridSearch): two flag-free opens (metadata-priced
      // cross-checks), the retrain-free IVF-PQ search, the sparse serve
      // over the index's build-time cap-1000 prune, and the RRF fusion
      // of two 500×k lists. This is the leg the inline pipe_hybrid_rrf
      // numbers amortize into: no LSH auto-sizing count, no weight
      // chain, no per-session capping — serve cost only.
      val dIdx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      val sIdx = TextAnalysis.sparseIndexLoad(spark, s"$work/sparseidx$sIdxSfx")
      val stride = math.max(1L, nDocs.toLong / 500)
      val qv = vecs.filter(col("vec_id") % stride === 0)
      val qp = TextAnalysis.queryPostings(sIdx,
        corpus.join(broadcast(qv.select(col("vec_id").as("doc_id"))),
          "doc_id"), "doc_id", "text")
      graft.operators.Retrieval.hybridSearch(dIdx, vecs, qv,
        "vec_id", "embedding", sIdx, qp, "query_id", "token", "weight",
        k = 10, nProbe = 8, rerank = 20).count()
      500L
    }
    timed("pipe_hybrid_lifecycle_stored", input = 500L) {
      // the FULL production hybrid deployment (q278's shape at scale):
      // dense arm served from the stored+clustered index — both stages
      // partition-pruned to the 500 queries' probed cells, no corpus
      // read — sparse arm reconstructed from raw query text against the
      // frozen vocabulary, weighted-capable RRF fusion. The unstored
      // pipe_hybrid_lifecycle above is the baseline whose dense arm
      // still scans the whole codes relation and the float corpus.
      val dIdx = Similarity.ivfPqIndexLoad(spark, stoPath)
      val sIdx = TextAnalysis.sparseIndexLoad(spark, s"$work/sparseidx$sIdxSfx")
      val stride = math.max(1L, nDocs.toLong / 500)
      val qv = vecs.filter(col("vec_id") % stride === 0).localCheckpoint()
      val qp = TextAnalysis.queryPostings(sIdx,
        corpus.join(broadcast(qv.select(col("vec_id").as("doc_id"))),
          "doc_id"), "doc_id", "text")
      graft.operators.Retrieval.hybridSearch(dIdx, vecs, qv,
        "vec_id", "embedding", sIdx, qp, "query_id", "token", "weight",
        k = 10, nProbe = 8, rerank = 20, denseStored = true).count()
      500L
    }
    timed("pipe_hybrid_health", input = total / 10) {
      // the serving stack's dashboard row-pair over a 10% incoming
      // batch: one batch encode + two compact-key groupBys on the dense
      // arm, one batch tokenize+distinct + a vocabulary-sized share
      // join on the sparse arm — the corpus itself is NEVER rescanned
      // (the codes/posting relations re-aggregate instead), so wall
      // must track the two batch passes, not nDocs
      val dIdx = Similarity.ivfPqIndexLoad(spark, s"$work/ivfpq$idxSfx")
      val sIdx = TextAnalysis.sparseIndexLoad(spark, s"$work/sparseidx$sIdxSfx")
      val vecBatch = vecs.filter(col("vec_id") % 10 === 0)
      val docBatch = corpus.filter(col("doc_id") % 10 === 0)
      graft.operators.Retrieval.hybridHealthReport(
        dIdx, vecBatch, "vec_id", "embedding",
        sIdx, docBatch, "doc_id", "text").count()
      total / 10
    }
    timed("pipe_anisotropy", input = 1024L) {
      // the absolute-sample contract made measurable: the 1024-winner
      // lottery is one narrow corpus pass into a bounded heap, and the
      // O(m²) pair join is PINNED at 1024·1023/2 pairs no matter nDocs —
      // wall must stay ~flat across the 500k→5M step (the proportional
      // permille form this replaced grew the pair join 100× over the
      // same step)
      // the sample MATERIALIZES once (localCheckpoint): anisotropyReport
      // reads its input on both pair roles, and an unmaterialized
      // lottery would re-run its corpus pass per consumer (measured:
      // 9.3 s at 500k un-checkpointed vs one pass + the flat pair join)
      val sample = Sampling.hashSampleN(vecs, "vec_id", 1024)
        .localCheckpoint()
      Similarity.anisotropyReport(sample,
        "vec_id", "embedding", dim = 64).count()
      1L
    }
    timed("pipe_semantic_dedup", input = total / 5) {
      // SemDeDup at the paper's k ≈ √n sizing (possible ONLY since the
      // native argmin kernel — a struct-least plan at k=141+ would blow
      // codegen): 1-in-5 subsample, k = √(n/5), candidate pairs bounded
      // at (n/5)²/k per the cluster-size contract. The guard's signal is
      // wall linearity in n/5 — superlinear growth means cluster skew is
      // concentrating pairs.
      val sub = vecs.filter(col("vec_id") % 5 === 0)
      val k = math.max(4, math.sqrt(total / 5.0).toInt)
      Similarity.semanticDedup(sub, "vec_id", "embedding",
        threshold = 0.9, k = k, iters = 1).count()
      total / 5
    }
    timed("pipe_semantic_dedup_banded", input = total / 5) {
      // the SAME subsample and threshold as pipe_semantic_dedup, with the
      // banded candidate stage and a MODEST fixed k (the banding caps
      // per-cluster pair budgets, so k no longer needs to chase √n): the
      // guard's signal is that 10x input grows wall ~linearly where the
      // flat Σ|cluster|² stage measured 13.7x. DEFAULT knobs: the Auto
      // entry sizes planes itself from the expected n/k cluster occupancy
      // (one count job), so this stage also guards the hands-off sizing
      Similarity.semanticDedupBandedAuto(vecs.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", threshold = 0.9, k = 8, iters = 1).count()
      total / 5
    }
    timed("pipe_contrastive", input = total) {
      // training-triple assembly at the BANDED sizing: 3 independent
      // tables, no probe masks (single-table multi-probe at
      // bandedPlanesFor planes explodes planes+1 masks per row —
      // measured 212 s at 5M vs the table union; the
      // pipe_embedding_neardup knob rules apply verbatim)
      Similarity.contrastiveTriples(vecs, "vec_id", "embedding",
        posThreshold = 0.9, negMin = 0.2, negMax = 0.8, negPerAnchor = 2,
        planes = Similarity.bandedPlanesFor(total), probeBits = 0,
        tables = 3).count()
    }
    spark.stop()
  }
}
