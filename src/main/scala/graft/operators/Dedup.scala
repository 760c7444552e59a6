package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for 100 TB-class corpora.
  *
  * Scale design — every path is shuffle-minimal:
  *   - exact dedup = one hash aggregation on a content digest (map-side
  *     partial agg collapses duplicates before the shuffle);
  *   - MinHash signatures are computed ENTIRELY per-row: the corpus is one
  *     row per document, so shingling, dedup-to-set, and all k permutation
  *     minimums are narrow array expressions — ZERO shuffles, perfectly
  *     data-parallel at any scale (the earlier explode→distinct→groupBy
  *     formulation paid three exchanges for the same numbers);
  *   - LSH banding is a per-row explode (k/rowsPerBand rows per doc) and
  *     candidate generation one self-equi-join on (band_id, band_key).
  *     Identical-document clusters create key skew there, which AQE's
  *     skew-join splitting absorbs;
  *   - exact Jaccard verification joins only CANDIDATE ids against the
  *     per-doc shingle-set table and intersects arrays per pair — never a
  *     shuffle of the full (doc, shingle) pair space.
  *
  * Hashes are md5 hex strings (built-in, codegen'd, and reproducible in any
  * engine) — minimums over the permuted values are order-insensitive, so
  * signatures need no sorted input.
  */
object Dedup {

  /** Exact duplicate groups: content digest → group size + canonical id.
    * `sha2` collisions are cryptographically negligible, so no byte-compare
    * pass is needed.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))

  /** MinHash prime field (2³¹−1): large enough that the universe never
    * saturates at corpus scale (see MinHashKernel.P's scaladoc for the
    * measured hot-value blowup at P = 10⁶+3), small enough that (a·t + b)
    * never overflows a 64-bit long in ANY engine (DuckDB errors on BIGINT
    * overflow where the JVM would silently wrap — parity demands range).
    */
  val MinhashP: Long = graft.functions.MinHashKernel.P

  /** Per-doc sorted distinct shingle-set table `(id, __set)` — one narrow
    * projection, no shuffle: the codegen'd `ShingleSortedSetExpr` kernel
    * tokenizes, shingles, dedups and sorts in a single pass over the text
    * bytes (shingles are byte slices of the original text, so no per-gram
    * string building either). Docs with fewer than n tokens are dropped
    * (they have no n-gram shingles). Parity with the declarative
    * `sort_array(array_distinct(zip_with-chain))` shape is pinned in
    * MinHashOpsSpec.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    df.select(col(idCol),
      graft.functions.MinHashKernel.shingleSortedSetCol(col(textCol), n).as("__set"))
      .filter(col("__set").isNotNull)

  /** Distinct (doc, shingle) pairs — the exploded view of [[shingleSets]]
    * (distinctness is per-document, which is global distinctness when
    * `idCol` is unique per row, the corpus contract).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col(idCol), explode(col("__set")).as("shingle"))

  /** MinHash signature: k independent permutations from the classic
    * `(a_s·t + b_s) mod p` family over ONE md5-derived base hash per
    * shingle. Entirely per-row — the corpus is one row per document, so
    * every minimum is an `array_min` over the per-row hashed shingle array:
    * ZERO exchanges, perfectly data-parallel at any scale. (The
    * explode→groupBy formulation pays a shuffle plus aggregate machinery
    * and benchmarks ~1.7× slower at full materialization.)
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, k: Int = 8): DataFrame =
    sigsFromSets(shingleSets(df, idCol, textCol, n), idCol, k)

  private def sigsFromSets(sets: DataFrame, idCol: String, k: Int): DataFrame = {
    // one codegen'd pass computes all k minimums (graft.functions
    // .MinHashSigsExpr) — numerically identical to the per-column
    // `array_min(transform(...conv(substring(md5(x),1,15),16,10)...))`
    // formulation the DuckDB oracle states, minus the per-shingle hex
    // string + big-integer parse
    val withSig = sets.withColumn("__sig",
      graft.functions.MinHashKernel.minhashSigs(col("__set"), k))
    val sigCols = (0 until k).map(s => element_at(col("__sig"), s + 1).as(s"mh_$s"))
    withSig.select(col(idCol) +: sigCols: _*)
  }

  /** MinHash-LSH banding PLANNER — the datasketch optimal-(b, r) search
    * as a relation: for every (bands, rows_per_band) split of the k-hash
    * signature (bands · rows = k), the candidate-probability s-curve
    * `p(s) = 1 − (1 − s^rows)^bands` integrates into a false-positive
    * mass below `threshold` and a false-negative mass above it (midpoint
    * Riemann sums over a `grid`-point similarity grid), and the split
    * minimizing `fpWeight·fp + fnWeight·fn` is flagged `chosen` — the
    * banding to hand [[lshBands]] before a dedup run, instead of
    * guessing. One row per split:
    * `(bands, rows_per_band, fp, fn, score, chosen)`, 6 dp.
    *
    * Cross-engine exactness: each curve point rounds to 9 dp before the
    * DECIMAL Riemann sums (the q79 log-sum recipe applied to pow), the
    * masses and score round at 6; `chosen` breaks score ties to the
    * most-bands split (highest recall at equal cost). Pure closed-form
    * arithmetic over splits×grid rows — no corpus access, trivially
    * broadcast-size at any scale.
    */
  def bandingPlan(spark: org.apache.spark.sql.SparkSession, threshold: Double,
                  k: Int = 8, grid: Int = 100, fpWeight: Double = 0.5,
                  fnWeight: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold out of (0,1): $threshold")
    require(k >= 1 && grid >= 10, s"need k >= 1, grid >= 10, got k=$k grid=$grid")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      "weights must be non-negative and not both zero")
    import spark.implicits._
    val splits = (1 to k).filter(k % _ == 0).map(r => (k / r, r))
      .toDF("bands", "rows_per_band")
    val pts = splits.crossJoin(
        spark.range(grid).select(col("id").as("__i")))
      .withColumn("__s", (col("__i").cast("double") + 0.5) / grid)
      .withColumn("__p", round(lit(1.0) -
        pow(lit(1.0) - pow(col("__s"), col("rows_per_band")), col("bands")), 9))
    val masses = pts.groupBy(col("bands"), col("rows_per_band"))
      .agg(
        round(sum(when(col("__s") < threshold, col("__p")).otherwise(lit(0.0))
          .cast("decimal(28,12)")).cast("double") / grid, 6).as("fp"),
        round(sum(when(col("__s") >= threshold, lit(1.0) - col("__p"))
          .otherwise(lit(0.0)).cast("decimal(28,12)")).cast("double") / grid, 6)
          .as("fn"))
      .withColumn("score",
        round(lit(fpWeight) * col("fp") + lit(fnWeight) * col("fn"), 6))
    // the splits relation is divisors-of-k-sized: a global window is free
    masses.withColumn("chosen",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score"), col("bands").desc)) === 1)
  }

  /** Banded signature rows: (id, band_id, band_key). k signature columns are
    * split into k/rowsPerBand bands; docs agreeing on ANY full band collide.
    * `rowsPerBand` must divide `k` (every split [[bandingPlan]] offers
    * does): a remainder would leave trailing signature columns unbanded.
    * One explode — the signature columns are computed once, not once per
    * band branch.
    *
    * The band key is `xxhash64` over the band's signature columns — an
    * 8-byte shuffle/join key evaluated natively on longs, where the earlier
    * `md5(concat_ws(...))` paid a per-row string build + digest and carried
    * a 32-char hex key through every exchange. A 64-bit key collision
    * between two band buckets would only ADD candidate pairs (downstream
    * Jaccard verification rejects them); at 2⁻⁶⁴ per bucket pair it is
    * orders below the LSH band false-positive rate that verification
    * exists to absorb.
    */
  def lshBands(sigs: DataFrame, idCol: String, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"rowsPerBand must divide k (rowsPerBand >= 1), got k=$k rowsPerBand=$rowsPerBand")
    val bandStructs = (0 until k / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      struct(lit(b).as("band_id"), xxhash64(cols: _*).as("band_key"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("__band"))
      .select(col(idCol), col("__band.band_id").as("band_id"), col("__band.band_key").as("band_key"))
  }

  /** Per-bucket expansion cap for the RAW candidate paths
    * ([[lshCandidates]], [[nearDups]]): pair expansion is O(bucket²), so
    * a byte-identical mega-cluster reaching a band bucket turns a silent
    * multi-hour OOM into this loud, named diagnosis instead. The
    * corpus-dedup entry points ([[dedupCorpus]] / [[dedupCorpusKeeping]] /
    * [[dropDuplicatesAgainst]]) anti-join exact duplicates out BEFORE
    * banding and structurally cannot hit the cap from identical content;
    * 10k genuinely-distinct near-dup variants of one document in one
    * bucket (50M pairs) is past any plausible non-adversarial corpus.
    */
  val DefaultMaxBucketDocs: Int = 10000

  /** Distinct colliding pairs `(doc_a, doc_b)`, doc_a < doc_b, of a
    * shingle-set table `(idCol, __set)`: MinHash signatures, then
    * [[lshBands]], then the band table grouped by bucket and each
    * bucket's sorted id list expanded into its pairs. The one candidate
    * step of [[lshCandidates]], [[nearDupsOn]] and [[containmentPairs]].
    * Grouping is ONE pass over the band table and one exchange, where a
    * self-equi-join would compute the upstream signature pipeline twice
    * (once per join side). Pair expansion is O(bucket²), inherent to LSH verification
    * regardless of formulation. The one bucket shape that would overwhelm
    * the per-bucket aggregation buffer — a byte-identical mega-cluster
    * (millions of docs, one content) — is structurally excluded on the
    * corpus-dedup paths: [[dedupCorpusKeeping]] and
    * [[dropDuplicatesAgainst]] anti-join exact duplicates out BEFORE
    * banding, so at most one representative per distinct content reaches
    * a bucket and bucket size is bounded by genuinely-distinct near-dup
    * variants (the PipelineScaleBench mega-cluster case pins this).
    */
  private def bandCandidates(sets: DataFrame, idCol: String, k: Int,
                             rowsPerBand: Int, maxBucketDocs: Int): DataFrame =
    lshBands(sigsFromSets(sets, idCol, k), idCol, k, rowsPerBand)
      .groupBy("band_id", "band_key")
      .agg(sort_array(collect_set(col(idCol))).as("__ids"))
      .filter(size(col("__ids")) > 1)
      // fail FAST and LOUD on a bucket that would expand O(bucket²):
      // assert_true yields NULL (-> coalesce true) when the bucket is
      // sane and throws with the message otherwise; living in the filter
      // predicate, it cannot be pruned away
      .filter(coalesce(assert_true(size(col("__ids")) <= maxBucketDocs,
        concat(lit("LSH band bucket holds "), size(col("__ids")).cast("string"),
          lit(s" docs (maxBucketDocs = $maxBucketDocs): pair expansion is " +
            "O(bucket^2). A byte-identical duplicate cluster must be removed " +
            "before banding - use dedupCorpus/dedupCorpusKeeping (exact-first " +
            "anti-join) as the entry point, or raise maxBucketDocs only if " +
            "the bucket is genuinely-distinct near-dup variants."))),
        lit(true)))
      .select(explode(expr(
        """flatten(transform(__ids,
          |  (a, i) -> transform(slice(__ids, i + 2, size(__ids) - i - 1),
          |            b -> named_struct('doc_a', a, 'doc_b', b))))""".stripMargin)).as("__p"))
      .select(col("__p.doc_a").as("doc_a"), col("__p.doc_b").as("doc_b"))
      .distinct()

  /** Candidate near-dup pairs (docA < docB) from LSH band collisions.
    * `maxBucketDocs` fails fast on mega-cluster buckets — see
    * [[DefaultMaxBucketDocs]].
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 2, k: Int = 8, rowsPerBand: Int = 2,
                    maxBucketDocs: Int = DefaultMaxBucketDocs): DataFrame =
    bandCandidates(shingleSets(df, idCol, textCol, n), idCol, k, rowsPerBand, maxBucketDocs)

  /** The end-to-end corpus dedup: drop every document that is an exact OR
    * verified near-duplicate of a lower-id document. Edges = exact-dup
    * pairs (content digest groups) ∪ Jaccard-verified near-dup pairs;
    * connected components canonicalize transitive clusters (A~B, B~C ⇒
    * one survivor even if A~C was never directly verified); the kept
    * corpus is an anti-join against the non-canonical nodes. Returns the
    * SURVIVING rows of `df`.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  minJaccard: Double, n: Int = 2, k: Int = 8,
                  rowsPerBand: Int = 2): DataFrame =
    dedupCorpusKeeping(df, idCol, textCol, minJaccard, None, n, k, rowsPerBand)

  /** Shared duplicate-graph builder behind [[dedupCorpusKeeping]] and
    * [[dedupAudit]]: `(exactEdges, components)` — exact min-id-per-digest
    * edges plus Jaccard-verified near edges over exact-canonical docs,
    * closed under connected components. All the scaladoc below (null-safe
    * digest join-back, exact-first anti-join, mega-cluster streaming)
    * applies to this graph.
    */
  private def corpusDupGraph(df: DataFrame, idCol: String, textCol: String,
                             minJaccard: Double, n: Int, k: Int,
                             rowsPerBand: Int): (DataFrame, DataFrame) = {
    val hashed = df.select(col(idCol), sha2(col(textCol), 256).as("__h"))
    val reps = hashed.groupBy("__h").agg(min(col(idCol)).as("__rep"))
      .withColumnRenamed("__h", "__hr")
    val exactEdges = hashed.join(reps, col("__h") <=> col("__hr"))
      .filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col(idCol).as("doc_b"))
    val canon = df.join(exactEdges.select(col("doc_b").as(idCol)), Seq(idCol), "left_anti")
    val near = nearDups(canon, idCol, textCol, minJaccard, n, k, rowsPerBand)
      .select(col("doc_a"), col("doc_b"))
    (exactEdges,
      connectedComponents(near.unionByName(exactEdges), "doc_a", "doc_b"))
  }

  /** Dedup audit report — the explainability twin of [[dedupCorpus]]:
    * one row per input doc, `(id, status, winner_id)` with status
    * `kept` / `dropped_exact` (a non-representative of a byte-identical
    * group) / `dropped_near` (lost its verified near-dup cluster to a
    * lower-id survivor), and `winner_id` the doc's cluster survivor
    * (itself when kept) — what a pipeline logs so every removal is
    * attributable. Survivor rule is [[dedupCorpus]]'s min-id; the kept
    * set here is EXACTLY `dedupCorpus(...)` (spec-pinned).
    *
    * 100 TB shape: identical to dedupCorpus (the graph is shared code)
    * plus one left join of the node-sized component table and one
    * exact-drop membership join back onto the corpus ids.
    */
  def dedupAudit(df: DataFrame, idCol: String, textCol: String,
                 minJaccard: Double, n: Int = 2, k: Int = 8,
                 rowsPerBand: Int = 2): DataFrame = {
    val (exactEdges, cc) = corpusDupGraph(df, idCol, textCol, minJaccard, n, k, rowsPerBand)
    val exDrop = exactEdges.select(col("doc_b").as(idCol))
      .withColumn("__ex", lit(1))
    df.select(col(idCol))
      .join(cc.select(col("node").as(idCol), col("component")), Seq(idCol), "left")
      .join(exDrop, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ex").isNotNull, lit("dropped_exact"))
          .when(col("component").isNotNull && col("component") =!= col(idCol),
            lit("dropped_near"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("component"), col(idCol)).as("winner_id"))
  }

  /** Leakage-safe train/test split extended to NEAR duplicates: every doc
    * in a verified duplicate cluster (exact ∪ Jaccard-verified near-dup
    * edges, closed under connected components — [[dedupCorpus]]'s graph)
    * follows its CLUSTER's representative into train or test. Closes the
    * contamination path exact-only splitting ([[Sampling.leakSafeSplit]])
    * leaves open: a near-copy with one token changed can land in eval
    * while its twin trains — for an LLM that memorizes, that eval row is
    * still leaked. Split fate is [[Sampling.hashBucket]] on
    * `coalesce(component, id)`, so docs in no cluster degrade to the
    * plain per-id hash split (same labels as [[Sampling.hashSplit]]).
    *
    * 100 TB shape: the duplicate graph is the shared [[dedupCorpus]]
    * machinery (digest-keyed exact exchange + banded LSH candidates +
    * counted CC fixpoint — see that scaladoc; PipelineScaleBench's
    * pipe_dedup_corpus/pipe_cc stages guard it); the split itself adds
    * ONE left join of the node-sized component table against the corpus
    * ids plus a narrow hash projection — no corpus text shuffle beyond
    * what dedup already pays.
    */
  def clusterSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       minJaccard: Double, testPermille: Int,
                       salt: String = "", n: Int = 2, k: Int = 8,
                       rowsPerBand: Int = 2): DataFrame = {
    require(testPermille >= 0 && testPermille <= 1000,
      s"testPermille out of [0,1000]: $testPermille")
    val (_, cc) = corpusDupGraph(df, idCol, textCol, minJaccard, n, k, rowsPerBand)
    df.join(cc.select(col("node").as(idCol), col("component")), Seq(idCol), "left")
      .withColumn("split",
        when(Sampling.hashBucket(coalesce(col("component"), col(idCol)), salt)
               < testPermille, lit("test"))
          .otherwise(lit("train")))
      .drop("component")
  }

  /** [[dedupCorpus]] with a keep strategy: when `keepBy` is given, the
    * survivor of each duplicate cluster is the row maximizing that
    * column (id as tiebreak) — e.g. `n_chars` to keep the longest
    * variant, a quality score to keep the best — instead of the min id.
    * One extra broadcast-sized join against the (small) clustered-node
    * set; the anti-join shape is unchanged.
    */
  def dedupCorpusKeeping(df: DataFrame, idCol: String, textCol: String,
                         minJaccard: Double, keepBy: Option[String],
                         n: Int = 2, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // EXACT EDGES FIRST, as a streaming join-back (min-id per content hash,
    // then rejoin) — never `collect_set` of a whole duplicate group: a
    // boilerplate mega-cluster (millions of byte-identical docs, routine in
    // web corpora) must not materialize as one multi-GB aggregation row.
    // The join-back is NULL-SAFE (<=>): sha2(null) is null, and null-text
    // docs form one duplicate group of their own (distinct from
    // empty-text docs), same as the groupBy that computes the
    // representatives — a plain equi-join would silently let every
    // null-text doc survive (DedupSpec pins this).
    // Near-dup LSH then runs ONLY on exact-canonical docs (one
    // representative per content hash): identical-content clusters would
    // otherwise all land in the same band buckets and blow up candidate
    // generation O(cluster²). Lossless: an exact duplicate d of
    // representative c has c's exact shingle set, so every verified pair
    // (d, x) exists as (c, x), and d reaches x's component through the
    // d–c exact edge. Components (and so survivors) are identical to
    // running LSH over the full corpus.
    val (_, cc) = corpusDupGraph(df, idCol, textCol, minJaccard, n, k, rowsPerBand)
    val losers = keepBy match {
      case None =>
        cc.filter(col("node") =!= col("component")).select(col("node").as(idCol))
      case Some(rank) =>
        // survivor = max (keepBy, id) per component, via a partial-agg
        // max_by + join-back — the losers stream out of the join instead of
        // being exploded from a per-component `collect_set` array (which
        // holds an entire duplicate cluster in one aggregation buffer)
        val ranked = cc.join(df.select(col(idCol).as("node"), col(rank).as("__r")), "node")
        val keep = ranked.groupBy("component")
          .agg(max_by(col("node"), struct(col("__r"), col("node"))).as("__keep"))
        ranked.join(keep, "component")
          .filter(col("node") =!= col("__keep"))
          .select(col("node").as(idCol))
    }
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental (cross-corpus) duplicate drop — the daily-ingest shape:
    * remove from `incoming` every doc that is an exact (content digest)
    * or Jaccard-verified near duplicate of `existing`. Candidates come
    * from LSH band collisions BETWEEN the sides only (never incoming ×
    * incoming — intra-batch dedup composes as
    * `dedupCorpus(dropDuplicatesAgainst(...))`). Banding and shingle
    * sets are per-row, so at scale the existing side's digest, set and
    * band tables are materialized once at ingest and reused every batch
    * — no rescan of corpus text, and the per-batch cost is proportional
    * to the batch, not the corpus.
    */
  def dropDuplicatesAgainst(incoming: DataFrame, existing: DataFrame,
                            idCol: String, textCol: String, minJaccard: Double,
                            n: Int = 2, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val exHashes = existing.select(sha2(col(textCol), 256).as("__h")).distinct()
    val notExact = incoming.withColumn("__h", sha2(col(textCol), 256))
      .join(exHashes, Seq("__h"), "left_anti").drop("__h")
    val setsIn = shingleSets(notExact, idCol, textCol, n)
    val setsEx = shingleSets(existing, idCol, textCol, n)
    def bands(sets: DataFrame, doc: String): DataFrame =
      lshBands(sigsFromSets(sets, idCol, k), idCol, k, rowsPerBand)
        .select(col(idCol).as(doc), col("band_id"), col("band_key"))
    val cands = bands(setsIn, "doc_a").join(bands(setsEx, "doc_b"), Seq("band_id", "band_key"))
      .select("doc_a", "doc_b").distinct()
    val losers = setPairs(cands, setsIn, setsEx, idCol)
      .filter(jaccard >= minJaccard)
      .select(col("doc_a").as(idCol)).distinct()
    notExact.join(losers, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination — the eval-leakage guard every LLM training
    * pipeline runs before training: drop every corpus document that shares
    * at least one n-gram shingle with the benchmark/eval set (the GPT-3
    * appendix-C / Pile methodology, exact n-gram overlap). Returns the
    * clean corpus rows.
    *
    * 100 TB shape: the benchmark side is small by contract (eval sets are
    * thousands of docs), so its distinct shingle set BROADCASTS; the
    * corpus side is a narrow shingle explode → broadcast semi-join →
    * distinct contaminated ids → anti-join. The corpus text never
    * shuffles — only doc-id-sized intermediates do.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int = 3): DataFrame = {
    val benchShingles = shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("__set")).as("shingle")).distinct()
    val contaminated = shingles(corpus, idCol, textCol, n)
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-prefiltered decontamination — same RESULT as [[decontaminate]]
    * (the exact-verify pass makes the bloom's false positives harmless),
    * different 100 TB physical shape: instead of broadcasting the
    * benchmark's shingle STRINGS to every task, the benchmark side is
    * collapsed into one Bloom filter over `xxhash64(shingle)` (Spark's own
    * runtime-join-filter sketch, `BloomFilterAggregate`), a few MB of bits
    * regardless of shingle length. The corpus scan then drops the vast
    * majority of its shingles with one codegen'd `might_contain` probe —
    * no string set lookup, no broadcast hash table of strings — and only
    * the (rare) bloom survivors reach the exact string semi-join. The
    * sketch is materialized driver-side once (exactly how Spark's injected
    * runtime filters ship bloom bits into scans: as a literal), sized from
    * the benchmark's distinct-shingle count.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, n: Int = 3,
                         bitsPerItem: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val benchShingles = shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("__set")).as("shingle")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bloomBits = shingleBloomBits(benchShingles, bitsPerItem)
      val mightContain = column(new BloomFilterMightContain(
        expression(lit(bloomBits)), expression(xxhash64(col("shingle")))))
      val contaminated = shingles(corpus, idCol, textCol, n)
        .filter(mightContain)
        .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
        .select(idCol).distinct()
      corpus.join(contaminated, Seq(idCol), "left_anti")
    } finally benchShingles.unpersist(blocking = false)
  }

  /** Materialize a properly-sized Bloom sketch over `xxhash64(shingle)` for
    * a distinct-shingle relation (column `shingle`).
    *
    * BloomFilterAggregate silently CLAMPS its numItems/numBits arguments to
    * the runtime-join-filter confs (`Math.min` against
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`,
    * defaults 4M items / 64M bits — read from the decompiled 4.1.2
    * `lzycompute`). Past ~3.3M benchmark shingles the sketch would silently
    * degrade to useless FPR and the prefilter would stop filtering. So:
    * materialize the sketch in a cloned session whose caps are raised to
    * the computed size — the caller's session conf is never touched.
    * Exposed `private[graft]` so the spec can pin the no-clamp contract
    * (sketch byte size + measured FPR) past the 4M default cap.
    */
  private[graft] def shingleBloomBits(benchShingles: DataFrame,
                                      bitsPerItem: Int): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression, ofRows}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val nBench = math.max(1L, benchShingles.count())
    val wantBits = nBench * bitsPerItem.toLong
    // the raised caps live in a CLONED session (same SparkContext, own
    // SQLConf): the caller's session conf is never mutated, so concurrent
    // queries planned during a sketch build can never observe the raise
    // (it used to be a save/raise/restore on the shared conf under a
    // lock — an observable cross-query side effect). The clone shares
    // the SharedState cache manager, so a persisted benchShingles still
    // serves this scan.
    val s2 = benchShingles.sparkSession.newSession()
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    if (s2.conf.get(itemsKey).toLong < nBench) s2.conf.set(itemsKey, nBench.toString)
    if (s2.conf.get(bitsKey).toLong < wantBits) s2.conf.set(bitsKey, wantBits.toString)
    val bloomAgg = column(new BloomFilterAggregate(
      expression(xxhash64(col("shingle"))),
      expression(lit(nBench)),
      expression(lit(wantBits))).toAggregateExpression())
    ofRows(s2, benchShingles).agg(bloomAgg.as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Per-document contamination fraction — the FUZZY decontamination
    * signal (PaLM / Llama-style): of a document's DISTINCT n-gram
    * shingles, what fraction also occur in the benchmark set? Exact-match
    * drop-on-any-hit (q76) is too aggressive for long documents that
    * legitimately quote a benchmark phrase; production pipelines instead
    * drop documents whose contaminated-shingle fraction exceeds a
    * threshold. Returns `(id, n_shingles, n_contaminated, frac)`.
    *
    * Same broadcast shape as [[decontaminate]]: benchmark shingles
    * broadcast; the corpus side is a narrow explode → broadcast-join →
    * per-doc count aggregation keyed by doc id (map-side combinable).
    */
  def contaminationFraction(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 3): DataFrame = {
    val benchShingles = shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("__set")).as("shingle")).distinct()
    shingleSets(corpus, idCol, textCol, n)
      .select(col(idCol), explode(col("__set")).as("shingle"))
      .join(broadcast(benchShingles.withColumn("__hit", lit(1))),
        Seq("shingle"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .withColumn("frac",
        col("n_contaminated").cast("double") / col("n_shingles"))
  }

  /** Multi-benchmark decontamination report: production pipelines screen
    * one corpus against MANY eval suites at once and need to know WHICH
    * benchmark each document collides with (to drop per-suite, or to
    * audit). `benchmarks` carries one row per benchmark document with a
    * suite label in `benchIdCol`; returns `(id, benchIdCol, n_hits)` —
    * one row per contaminated (document, suite) pair, where `n_hits`
    * counts the document's DISTINCT n-gram shingles that occur anywhere
    * in that suite.
    *
    * 100 TB shape: identical to [[decontaminate]] — the union of all
    * suites' distinct shingles is still eval-set-sized, so it broadcasts
    * (now keyed by (suite, shingle)); the corpus side stays one narrow
    * shingle explode → broadcast join → map-side-combinable count keyed
    * by (doc, suite). One pass over the corpus for every suite at once,
    * instead of the naive one-scan-per-benchmark loop.
    */
  def decontaminationReport(corpus: DataFrame, benchmarks: DataFrame,
                            idCol: String, textCol: String,
                            benchIdCol: String, n: Int = 3): DataFrame = {
    val benchShingles = shingleSets(benchmarks, benchIdCol, textCol, n)
      .select(col(benchIdCol), explode(col("__set")).as("shingle"))
      .distinct()
    shingles(corpus, idCol, textCol, n)
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col(idCol), col(benchIdCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Cross-document duplicated span mining: n-gram shingles occurring in
    * at least `minDocs` DISTINCT documents, with document frequency and
    * total occurrence count — the boilerplate/template detector (CCNet's
    * duplicated-line analysis generalized to n-grams). Shingle multiplicity
    * within one document counts toward `n_occurrences` but once toward
    * `n_docs`.
    *
    * 100 TB shape: one explode → two-level hash aggregation — the first
    * collapses within-doc repeats (partial aggs shrink the pair space
    * map-side before the only large shuffle); the second rolls the already
    * collapsed distinct `(shingle, doc)` pairs up to the shingle, so its
    * exchange moves a strict subset of the first one's output.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, minDocs: Int = 2): DataFrame = {
    // multiplicity-preserving n-grams (shingles() is per-doc DISTINCT, which
    // would collapse n_occurrences down to n_docs)
    val base = df.select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= n)
    val grams = transform(sequence(lit(1), size(col("__t")) - lit(n - 1)), i =>
      concat_ws(" ", (0 until n).map(j => element_at(col("__t"), i + lit(j))): _*))
    base.select(col(idCol), explode(grams).as("shingle"))
      .groupBy(col("shingle"), col(idCol))
      .agg(count(lit(1)).as("__in_doc"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__in_doc")).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Substring-level dedup (the passage-removal half of Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better"): REMOVE
    * from each document every token covered by an n-gram that also occurs
    * in ≥ `minDocs` documents — except in the gram's CANONICAL document
    * (min id among the docs containing it), which keeps its occurrence.
    * Whole-document dedup ([[dedupCorpus]]) cannot touch boilerplate
    * passages shared by otherwise-distinct pages; this operator cuts the
    * passages themselves and returns the rebuilt corpus
    * `(id, text, n_removed)` — text re-joined from surviving tokens (one
    * space; a fully-covered document comes back as the empty string),
    * `n_removed` the token count cut. Null-text rows are dropped (the
    * [[graft.operators.TextAnalysis.chunkDocuments]] contract).
    *
    * Semantics notes, pinned in DedupSpec: canonicality is per-gram and
    * document-level — a doc that is the canonical home of gram X keeps
    * ALL its occurrences of X, a non-canonical doc loses all of its
    * occurrences; overlapping duplicated grams with different canonical
    * homes can still cut tokens from a gram's own canonical doc (each
    * gram's cover is decided independently). An exact duplicate of a
    * lower-id doc is fully covered and comes back empty — run
    * [[dedupCorpus]] first in production.
    *
    * 100 TB shape (the Spark re-expression of the paper's suffix-array
    * pass): positioned grams are a per-row transform+posexplode carrying a
    * 16-byte salted-hash-pair key, never a gram string; the duplicated-
    * gram table is a two-level hash aggregation (within-doc repeats
    * collapse map-side, exactly [[duplicatedSpans]]); the cover join keys
    * on the hash pair with the (small) duplicated-gram table as the build
    * side (AQE broadcasts it when it fits); covered positions collapse to
    * ONE per-doc position set (collect_set partial-aggregates the
    * overlapping covers map-side); the rebuild is a single corpus-sized
    * equi-join plus a per-row indexed filter over the original token
    * array. No stage ever holds more than one document's tokens in a
    * single row, and document text crosses exactly one exchange.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__t"))
    // Gram identity is a SALTED xxhash64 PAIR computed straight off the
    // token slots — no per-gram string is ever allocated (the concat_ws
    // formulation spent the plurality of the operator's wall building
    // 22M ~25-byte gram strings twice), and the join/group key is 16
    // fixed bytes instead of a variable-length string. Equality through
    // two independently-salted 64-bit hashes mis-identifies two distinct
    // grams with probability ~2⁻¹²⁸ — the [[exactGroups]] sha2 precedent:
    // cryptographically negligible, documented rather than re-verified.
    def gramKeys(salt: Int) =
      transform(sequence(lit(1), size(col("__t")) - lit(n - 1)), i =>
        xxhash64((lit(salt) +: (0 until n).map(j =>
          element_at(col("__t"), i + lit(j)))): _*))
    val keyArr = arrays_zip(gramKeys(0).as("h1"), gramKeys(1).as("h2"))
    val withGrams = base.filter(size(col("__t")) >= n)
    // duplicated-gram table from the per-doc DISTINCT key sets: the
    // within-doc collapse happens per-ROW (array_distinct) instead of as a
    // first aggregation level — gram keys are near-distinct per doc, so a
    // (gram, doc) hash aggregation would build a map as large as its input
    // (pure spill pressure) just to drop a handful of repeats. One
    // aggregation remains, and its partial phase genuinely collapses the
    // cross-doc hot grams map-side.
    val dup = withGrams
      .select(col(idCol), explode(array_distinct(keyArr)).as("__k"))
      .groupBy(col("__k.h1").as("__h1"), col("__k.h2").as("__h2"))
      .agg(count(lit(1)).as("__nd"), min(col(idCol)).as("__canon"))
      .filter(col("__nd") >= minDocs)
      .select("__h1", "__h2", "__canon")
    // (id, 0-based token start, h1, h2) — multiplicity preserved: a doc
    // repeating a gram it does not own must lose EVERY occurrence
    val pg = withGrams
      .select(col(idCol), posexplode(keyArr))
      .select(col(idCol), col("pos"), col("col.h1").as("__h1"), col("col.h2").as("__h2"))
    // per-doc duplicated-gram START set (collect_set partial-aggregates
    // map-side; only gram starts cross the exchange — the n-token cover
    // expansion happens per-row at rebuild, never in a shuffle)
    val cov = pg.join(dup, Seq("__h1", "__h2"))
      .filter(col(idCol) =!= col("__canon"))
      .groupBy(col(idCol)).agg(collect_set(col("pos")).as("__starts"))
    // expand starts to the covered-position set once per row, then rebuild
    // with one indexed filter over the original token array — never a
    // token-level anti-join or a per-token collect_list reassembly
    val covSet = array_distinct(flatten(transform(col("__starts"),
      s => sequence(s, s + lit(n - 1)))))
    base.join(cov, Seq(idCol), "left_outer")
      .select(col(idCol), col("__t"),
        when(col("__starts").isNull, lit(null)).otherwise(covSet).as("__cov"))
      .select(col(idCol),
        when(col("__cov").isNull, array_join(col("__t"), " "))
          .otherwise(array_join(
            filter(col("__t"), (_, i) => !array_contains(col("__cov"), i)), " "))
          .as(textCol),
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")).as("n_removed"))
  }

  /** SimHash near-dup pairs with EXACT pigeonhole blocking: split the
    * 60-bit signature into `maxHamming + 1` chunks — any pair within the
    * Hamming threshold must agree on at least one full chunk, so blocking
    * on (chunk index, chunk value) is LOSSLESS (unlike probabilistic LSH):
    * the blocked join provably returns the same pairs a cross join would,
    * at a fraction of the pair space. Verification is one xor + popcount
    * per candidate.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 59,
      s"maxHamming out of [0,59]: $maxHamming")
    pigeonholePairs(df.select(col(idCol),
        graft.functions.MinHashKernel.md5SimHash60Col(split(col(textCol), " ")).as("__sh")),
      idCol, "__sh", 60, maxHamming)
  }

  /** The pigeonhole Hamming join over a `bits`-wide hash column, shared
    * by [[simhashNearDups]] (60 bits) and
    * [[graft.operators.Multimodal.hammingNearDups]] (64): the hash splits
    * into `maxHamming + 1` disjoint chunks (the last absorbs the
    * remainder), two hashes within `maxHamming` MUST agree on at least
    * one whole chunk, so the (chunk index, chunk value) equi-join has
    * perfect recall and `bit_count(xor)` verifies candidates exactly.
    * Emits `(doc_a, doc_b, hamming)`, `doc_a < doc_b`. `hashes` feeds
    * both join sides: a caller whose hash table is costly to recompute
    * materializes it first.
    */
  private[operators] def pigeonholePairs(hashes: DataFrame, idCol: String,
                                         hashCol: String, bits: Int,
                                         maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val width = bits / chunks
    val chunkStructs = (0 until chunks).map { c =>
      val w = if (c == chunks - 1) bits - c * width else width
      struct(lit(c).as("ck"),
        shiftright(col("__h"), c * width).bitwiseAND(lit((1L << w) - 1)).as("cv"))
    }
    val banded = hashes.select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .select(col("__id"), col("__h"), explode(array(chunkStructs: _*)).as("__c"))
      .select(col("__id"), col("__h"), col("__c.ck").as("ck"), col("__c.cv").as("cv"))
    val a = banded.select(col("__id").as("doc_a"), col("__h").as("__ha"), col("ck"), col("cv"))
    val b = banded.select(col("__id").as("doc_b"), col("__h").as("__hb"), col("ck"), col("cv"))
    a.join(b, Seq("ck", "cv"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** The cluster-audit tail of the embedding and image dedups: weld
    * `edges` `(doc_a, doc_b)` into components ([[connectedComponents]]:
    * driver union-find under [[DriverCcMaxEdges]], RDD hash-min beyond),
    * keep each component's smallest id, and left-join every row of
    * `df`'s `idCol` back to the [[dedupAudit]] shape
    * `(idCol, status ∈ kept|dropped, winner_id)`.
    */
  private[operators] def clusterAudit(df: DataFrame, idCol: String, edges: DataFrame,
                                      dropped: String): DataFrame = {
    val comp = connectedComponents(edges)
    df.select(col(idCol))
      .join(comp.select(col("node").as(idCol), col("component")), Seq(idCol), "left")
      .select(col(idCol),
        when(col("component").isNotNull && col("component") =!= col(idCol),
          lit(dropped)).otherwise(lit("kept")).as("status"),
        coalesce(col("component"), col(idCol)).as("winner_id"))
  }

  /** Edge-count ceiling for the driver union-find fast path of
    * [[connectedComponents]]: 4M edges ≈ 64 MB of long pairs — the same
    * order as a broadcast-join small side. Above it, the distributed
    * RDD loop runs.
    */
  val DriverCcMaxEdges: Long = 4L * 1000 * 1000

  /** Connected components over a near-dup pair graph — the cluster-
    * canonicalization step of corpus dedup (keep `min(id)` per component,
    * drop the rest). Output: (node, component), component = min node id
    * reachable, in the node column's original type.
    *
    * The iteration runs on RDDs, not DataFrames: an iterative fixpoint
    * re-plans the SAME logical shape every round, and Catalyst/AQE
    * re-execution semantics around checkpointed plans proved pathological
    * (per-round cost grew without bound even with eager localCheckpoint /
    * persist / reliable checkpoint — measured, not assumed). RDDs with
    * explicit `persist`/`unpersist` are the canonical Spark substrate for
    * iterative graph algorithms (GraphX's Pregel is built exactly this
    * way) and give constant per-round cost.
    *
    * Each round is hash-min + pointer jumping:
    *   1. every node takes the min label over its closed neighborhood;
    *   2. the parent forest the labels form is collapsed by pointer
    *      jumping — when the frontier is dense, by repeated SQUARING of
    *      the label table (lab, lab∘lab, lab⁴ …: depth halves per
    *      node-sized job, so a depth-d chain collapses fully inside ONE
    *      edge round); when sparse, by two frontier-sized lookups into
    *      the static table. Plain min-propagation (GraphX
    *      `connectedComponents`) needs O(diameter) edge rounds instead.
    * Labels decrease monotonically, so an unchanged per-round label sum
    * (exact BigInt, no overflow at any scale) is an exact fixpoint test,
    * read from the one action each round already needs.
    *
    * Integral node ids (the corpus contract) are used DIRECTLY — min over
    * original ids needs no translation, so the integral path pays no
    * node sort and no translation joins. Node ids of any other orderable
    * type are densified to longs through a rank-preserving
    * (sort + zipWithIndex) map, so `min(dense) = rank of min(original)`
    * and the representative contract survives the translation. All joins
    * share one HashPartitioner — per round only node-sized re-keyed
    * sides shuffle, never the adjacency list.
    *
    * Size-adaptive, like a broadcast join: when the counted edge list is
    * under [[DriverCcMaxEdges]] the components come from driver-side
    * array union-find instead (same min representative, microseconds);
    * the iterative machinery is reserved for graphs that earn it.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_a",
                          dstCol: String = "doc_b", maxIter: Int = 50,
                          driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    val nodeType = edges.schema(srcCol).dataType
    // materialize the edge list ONCE: the upstream pipeline may be a full
    // near-dup verification, and the plans below would otherwise each
    // recompute it (~4 evaluations measured on q58 — the single
    // localCheckpoint here cut that query 2.5×). Null-endpoint edges are
    // dropped up front (the densified path's translation equi-joins used
    // to drop them implicitly; the direct integral path would NPE on
    // getLong instead).
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint()
    val integral = nodeType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    // INTEGRAL IDS RUN DIRECTLY (no sort, no translation joins): min over
    // the original ids is already the representative contract. Other
    // orderable types densify through a rank-preserving map first.
    val (eLong, mapDf) =
      if (integral)
        (e0.select(col("src").cast("long").as("ia"), col("dst").cast("long").as("ib")), None)
      else {
        val nodesDf = e0.select(col("src").as("node"))
          .union(e0.select(col("dst").as("node"))).distinct()
        val mapSchema = StructType(Seq(StructField("node", nodeType),
          StructField("nid", LongType, nullable = false)))
        val m = spark.createDataFrame(
          nodesDf.orderBy("node").rdd.zipWithIndex().map { case (r, i) => Row(r.get(0), i) },
          mapSchema).persist(StorageLevel.MEMORY_AND_DISK)
        (e0.select(col("src").as("na"), col("dst").as("nb"))
          .join(m.select(col("node").as("na"), col("nid").as("ia")), "na")
          .join(m.select(col("node").as("nb"), col("nid").as("ib")), "nb")
          .select("ia", "ib"), Some(m))
      }

    val labSchema = StructType(Seq(StructField("nid", LongType, nullable = false),
      StructField("cid", LongType, nullable = false)))
    val nEdges = e0.count()
    val labDf =
      if (nEdges <= driverMaxEdges) {
        // SMALL-GRAPH FAST PATH: the edge list provably fits on the driver
        // (counted above, ≤ ~64 MB of long pairs — broadcast-join-sized),
        // so union-find with path halving resolves components in O(E·α)
        // microseconds where the distributed loop would pay seconds of
        // per-round job scheduling. Parents live in a LongMap keyed by the
        // (arbitrary) long ids; unioning the larger root under the smaller
        // keeps every root the component minimum — the same representative
        // the distributed path yields.
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) {
            val pp = parent.getOrElse(p, p)
            parent.update(x, pp); x = p; p = pp
          }
          x
        }
        eLong.collect().foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.update(rb, ra) else if (rb < ra) parent.update(ra, rb)
        }
        val rows: Seq[Row] = parent.keys.toSeq.map(n => Row(n, find(n)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, (rows.size / 500000 + 1)), labSchema)
      } else {
        // DISTRIBUTED PATH: FRONTIER hash-min + pointer jumping on RDDs.
        // Partition count scales with the edge list; one shared partitioner
        // keeps the adjacency list in place. Per round the ONLY shuffles
        // are (a) frontier-incident edge announcements and (b) the jump
        // lookups of freshly-improved nodes — both shrink as regions
        // converge, so a graph of many small components (the dedup shape)
        // pays near-zero network after round 2, where the previous
        // formulation re-shuffled the full edge + label tables every round
        // (recv.union(parent).reduceByKey dropped the partitioner and
        // re-exchanged E + N pairs per round — measured 166 s at 10M chain
        // edges). Label folds are co-partitioned leftOuterJoins: zero
        // shuffle.
        //
        // Frontier correctness: a node announces its label the round after
        // it changes (round 0: everyone), so "no label changed" implies
        // every edge has seen both endpoints' final labels — at the exact
        // changed == 0 fixpoint labels are component-constant, hence the
        // component min. Restricting jumps to freshly-improved nodes skips
        // only no-op jumps while they are at their local fixpoint; a node
        // re-enters the frontier the moment either path improves it.
        val part = new HashPartitioner(
          math.max(spark.sparkContext.defaultParallelism, (nEdges / 4000000L).toInt))
        val adj: RDD[(Long, Long)] = eLong.rdd
          .flatMap { r =>
            val a = r.getLong(0); val b = r.getLong(1)
            if (a == b) Iterator.empty else Iterator((a, b), (b, a))
          }
          .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK_SER)

        // state: node -> (label, changed-last-round); every endpoint
        // (self-loop-only nodes included) starts as its own label, changed.
        // All loop persists are SERIALIZED (MEMORY_AND_DISK_SER): the boxed
        // nested-tuple form of a 10M-node label table is ~5× its serialized
        // bytes, and the loop holds two generations plus the adjacency
        // list.
        var state: RDD[(Long, (Long, Boolean))] = eLong.rdd
          .flatMap { r =>
            val a = r.getLong(0); val b = r.getLong(1)
            Iterator((a, a), (b, b))
          }
          .reduceByKey(part, (x, _) => x)
          .mapValues(l => (l, true))
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        var converged = false
        var i = 0
        // frontier size drives the jump strategy below; round 0 treats
        // every node as changed (it is), so seed with the node count
        val nNodes = state.count()
        var lastChanged = nNodes
        while (!converged && i < maxIter) {
          val parent = state.mapValues(_._1)
          val frontier = state.filter(_._2._2).mapValues(_._1)
          // 1. frontier nodes announce their label to their neighbors —
          //    the only edge-sized work, proportional to the frontier
          val recv = adj.join(frontier, part).map { case (_, (v, lu)) => (v, lu) }
          val cand = recv.reduceByKey(part, math.min(_: Long, _: Long))
          // 2. fold improvements into the labels — co-partitioned narrow
          //    cogroup, no shuffle. PERSISTED because three downstream
          //    reads (jump request, jump lookup, final fold) would
          //    otherwise each re-embed this cogroup's hash map inside
          //    their own fused tasks — the stacked-map formulation OOM'd
          //    an 8g heap at 10M edges.
          val m1 = parent.leftOuterJoin(cand, part).mapValues {
            case (cur, opt) => opt.filter(_ < cur) match {
              case Some(l) => (l, true)
              case None => (cur, false)
            }
          }.persist(StorageLevel.MEMORY_AND_DISK_SER)
          // 3. pointer jump against the post-fold labels. Two regimes:
          //
          //    DENSE frontier (> nNodes/5 changed last round — the chain /
          //    high-diameter mass-propagation shape): repeatedly SQUARE the
          //    label table to a fixpoint — lab, lab∘lab, lab⁴, lab⁸ … Each
          //    composition joins the freshly-composed table with ITSELF, so
          //    parent-chain depth HALVES per step and a depth-d forest
          //    collapses in ⌈log₂ d⌉ node-sized jobs with zero edge
          //    participation. (The previous chained-lookup form — jump
          //    twice into the STATIC post-fold table — only subtracts a
          //    constant depth per round, so a chain of length 1000 paid
          //    ~log₃ 1000 full EDGE-sized announce rounds; squaring pays
          //    the edge round once, collapses the whole chain inline, and
          //    converges the round after.) Labels are node ids and every
          //    node is a key, so the composition join is total; label(x) ≤ x
          //    is a min-fold invariant, so the composed label never grows
          //    and an unchanged round (accumulator, only ever compared to
          //    zero — task retries can only inflate a genuinely nonzero
          //    count) is an exact inner fixpoint.
          //
          //    SPARSE frontier: the old shape — jump only freshly-improved
          //    nodes, twice, against the static table. Squaring would drag
          //    every converged node through two full-N shuffles per step;
          //    chained lookups stay frontier-sized.
          val next = if (lastChanged > nNodes / 5) {
            var lab: RDD[(Long, Long)] = m1.mapValues(_._1)
            var labPersisted = false // initial lab is a view over cached m1
            var innerDone = false
            var j = 0
            while (!innerDone && j < 64) {
              val acc = spark.sparkContext.longAccumulator
              val nxt = lab.map { case (n, l) => (l, n) }
                .join(lab, part)
                .map { case (l, (n, ll)) => if (ll != l) acc.add(1); (n, ll) }
                .persist(StorageLevel.MEMORY_AND_DISK_SER)
              nxt.count()
              if (acc.value == 0) { nxt.unpersist(blocking = false); innerDone = true }
              else {
                if (labPersisted) lab.unpersist(blocking = false)
                lab = nxt; labPersisted = true
              }
              j += 1
            }
            val folded = parent.join(lab, part).mapValues {
              case (cur, fin) => (fin, fin < cur)
            }.persist(StorageLevel.MEMORY_AND_DISK_SER)
            // materialize BEFORE dropping the last squaring table — folded's
            // lineage reads it, and recomputing it means replaying every
            // squaring
            folded.count()
            if (labPersisted) lab.unpersist(blocking = false)
            folded
          } else {
            val jumped = m1.filter(_._2._2).map { case (n, (l, _)) => (l, n) }
              .join(m1, part).map { case (_, (n, (ll, _))) => (n, ll) }
            val jumped2 = jumped.map { case (n, ll) => (ll, n) }
              .join(m1, part).map { case (_, (n, (lll, _))) => (n, lll) }
            m1.leftOuterJoin(jumped2, part).mapValues {
              case ((cur, ch), opt) => opt.filter(_ < cur) match {
                case Some(l) => (l, true)
                case None => (cur, ch)
              }
            }.persist(StorageLevel.MEMORY_AND_DISK_SER)
          }
          // labels decrease monotonically, so changed == 0 (read from the
          // one action each round already needs) is an exact fixpoint test
          val changed = next.filter(_._2._2).count()
          converged = changed == 0
          lastChanged = changed
          state.unpersist(blocking = false)
          m1.unpersist(blocking = false)
          state = next
          i += 1
        }
        adj.unpersist(blocking = false)
        // a silent non-converged return would hand back wrong (split)
        // components with no signal — fail loudly instead
        require(converged,
          s"connectedComponents did not converge in $maxIter rounds " +
            "(component diameter exceeds maxIter); raise maxIter")
        spark.createDataFrame(state.map { case (n, c) => Row(n, c._1) }, labSchema)
      }
    mapDf match {
      case None =>
        labDf.select(col("nid").cast(nodeType).as("node"),
          col("cid").cast(nodeType).as("component"))
      case Some(m) =>
        labDf
          .join(m.select(col("nid"), col("node")), "nid")
          .join(m.select(col("nid").as("cid"), col("node").as("component")), "cid")
          .select(col("node"), col("component"))
    }
  }

  /** Paragraph-level exact dedup — the industry-standard passage dedup
    * (the Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" substring methodology, reduced to paragraph granularity, as
    * every production pipeline runs it): split each document on `sep`,
    * drop every paragraph that is an exact copy of an earlier occurrence
    * anywhere in the corpus — the FIRST occurrence by (doc id, position)
    * survives — and reassemble each document from its surviving
    * paragraphs in original order. Whitespace-only paragraphs are
    * dropped up front (they carry no content and would otherwise all
    * collapse into one global survivor). Documents with no surviving
    * paragraph disappear from the output.
    *
    * Output: (idCol, textCol deduped, n_kept).
    *
    * 100 TB shape: the winner table groups compact (digest,
    * struct(id, pos)) rows with a partial-aggregated `min` — a
    * boilerplate paragraph duplicated across millions of documents
    * collapses map-side, never materializing its occurrence list (the
    * same mega-cluster discipline as [[dedupCorpusKeeping]]'s exact
    * edges). Paragraph text shuffles exactly twice: once keyed by digest
    * for the winner join, once keyed by document for reassembly; both
    * aggregations are bounded by a single document's size.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .select(col("__id"), col("pos").as("__pos"), col("col").as("__u"))
      // a paragraph must contain at least one non-whitespace character
      // (trim() strips only spaces, not tabs/newlines, in both engines)
      .filter(col("__u").rlike("\\S"))
    firstOccurrenceRebuild(paras, idCol, textCol, sep)
  }

  /** Per-document boilerplate report — the READ-ONLY companion of
    * [[dedupParagraphs]] a corpus owner runs BEFORE deciding to rewrite
    * anything: for every doc, its paragraph count, how many of its
    * paragraphs also occur elsewhere in the corpus (by digest), and the
    * duplicated fraction. A doc with `dup_frac` near 1 is boilerplate; a
    * SOURCE whose docs trend high is a template-heavy feed.
    *
    * 100 TB shape: paragraph digests aggregate map-side to corpus-wide
    * occurrence counts ((digest, n) rows — a paragraph on millions of
    * pages collapses before its exchange); the count joins back on the
    * digest and rolls up per document. Paragraph text never shuffles —
    * only digests travel.
    */
  def boilerplateReport(df: DataFrame, idCol: String, textCol: String,
                        sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("__id"),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("__u"))
      .filter(col("__u").rlike("\\S"))
      .select(col("__id"), sha2(col("__u"), 256).as("__h"))
    val occ = paras.groupBy("__h").agg(count(lit(1)).as("__n"))
    paras.join(occ, "__h")
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_paras"))
      .withColumn("dup_frac",
        col("n_dup_paras") / col("n_paras").cast("double"))
  }

  /** Shared core of [[dedupParagraphs]] and [[dedupChunks]]: corpus-wide
    * first occurrence by (doc id, position) over unit rows
    * `(__id, __pos, __u)`, then per-doc ordered reassembly with `sep`.
    * The winner table groups compact (digest, struct(id, pos)) rows with
    * a partial-aggregated `min` — a unit duplicated across millions of
    * documents collapses map-side, never materializing its occurrence
    * list (the mega-cluster discipline). Unit text shuffles exactly
    * twice: once keyed by digest for the winner join, once keyed by
    * document for reassembly.
    */
  private def firstOccurrenceRebuild(units: DataFrame, idCol: String,
                                     textCol: String, sep: String): DataFrame = {
    val keyed = units.withColumn("__h", sha2(col("__u"), 256))
    val winners = keyed
      .groupBy("__h")
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"))
    keyed.join(winners, "__h")
      .filter(struct(col("__id"), col("__pos")) === col("__w"))
      .groupBy(col("__id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__u")))),
            x => x.getField("__u")),
          sep).as("__text"),
        count(lit(1)).as("n_kept"))
      .select(col("__id").as(idCol), col("__text").as(textCol), col("n_kept"))
  }

  /** Chunk-level exact dedup: [[dedupParagraphs]]'s corpus-wide
    * first-occurrence semantics at CONTENT-DEFINED chunk granularity —
    * [[graft.operators.TextAnalysis.contentDefinedChunks]] supplies the
    * chunking, so duplicated passages land on the same chunk boundaries
    * in every document that carries them (a re-crawled page, a quoted
    * paragraph mid-document) and collapse by plain digest equality, no
    * similarity machinery. This is why CDC beats fixed-size chunking for
    * dedup: a one-token prefix edit re-frames every fixed-size chunk but
    * only the chunks up to the next content boundary here.
    *
    * Output: (idCol, textCol rebuilt from surviving chunks, n_kept);
    * documents whose chunks all lose disappear (the [[dedupParagraphs]]
    * contract).
    *
    * 100 TB shape: inherited end to end — CDC is a zero-exchange narrow
    * pass; the winner table partial-aggregates compact (digest,
    * struct(id, idx)) rows so a mega-duplicated chunk collapses map-side;
    * chunk text shuffles exactly twice (digest join, doc reassembly).
    */
  def dedupChunks(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, avgTokens: Int = 8): DataFrame = {
    val chunks = TextAnalysis.contentDefinedChunks(df, idCol, textCol, n, avgTokens)
      .select(col(idCol).as("__id"), col("chunk_idx").as("__pos"),
        col("chunk_text").as("__u"))
    firstOccurrenceRebuild(chunks, idCol, textCol, sep = " ")
  }

  /** Paragraph-level NEAR-dup dedup: [[dedupParagraphs]]'s corpus-wide
    * first-occurrence semantics, but clusters are exact ∪ Jaccard-verified
    * near-duplicate paragraphs (the full [[dedupCorpus]] machinery at
    * paragraph granularity) — boilerplate that varies a token per site
    * (timestamps, session ids in a cookie banner) still collapses to its
    * first occurrence. Each document keeps its surviving paragraphs in
    * order; docs whose every paragraph loses vanish from the output (the
    * [[dedupParagraphs]] contract). Returns `(id, text, n_kept)`.
    *
    * The paragraph key is `id · 2²⁰ + pos` — order-isomorphic to
    * (doc, pos), so min-per-cluster IS the corpus-wide first occurrence.
    * Preconditions (loud): integral `idCol` with |id| < 2⁴³, fewer than
    * 2²⁰ paragraphs per document (assert_true in the plan).
    *
    * 100 TB shape: inherited — paragraphs are rows, so exact edges are
    * a digest aggregation, near edges run the banded-LSH pipeline, and
    * reassembly is the one per-doc collect bounded by document size.
    */
  def dedupParagraphsNear(df: DataFrame, idCol: String, textCol: String,
                          minJaccard: Double, sep: String = "\n\n",
                          n: Int = 2, k: Int = 8,
                          rowsPerBand: Int = 2): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"dedupParagraphsNear needs an integral id column, got ${idType.catalogString}")
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .select(col(idCol), col("pos").as("__pos"), col("col").as("__para"))
      .filter(col("__para").rlike("\\S"))
      .filter(coalesce(assert_true(col("__pos") < (1 << 20),
        lit("dedupParagraphsNear: more than 2^20 paragraphs in one document")),
        lit(true)))
      // the other half of the packed-key precondition: id·2²⁰ must not
      // overflow a long, so id ∈ (-2⁴³, 2⁴³) — a RANGE check, not abs():
      // abs(Long.MinValue) overflows back to Long.MinValue and would slip
      // a sentinel id straight through (hash/snowflake ids would otherwise
      // silently corrupt first-occurrence survivors)
      .filter(coalesce(assert_true(
        col(idCol).cast("long") > lit(-(1L << 43)) &&
          col(idCol).cast("long") < lit(1L << 43),
        lit(s"dedupParagraphsNear: |$idCol| >= 2^43 would overflow the packed paragraph key")),
        lit(true)))
      .withColumn("__pid", col(idCol).cast("long") * lit(1L << 20) + col("__pos"))
    val kept = dedupCorpus(paras, "__pid", "__para", minJaccard, n, k, rowsPerBand)
    kept.groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
            x => x.getField("__para")),
          sep).as(textCol),
        count(lit(1)).as("n_kept"))
  }

  /** Full near-dup pipeline: MinHash → LSH candidates → exact Jaccard ≥ t.
    * Verification joins candidate ids against the per-doc shingle-set table
    * and computes `|A ∩ B|` with a per-pair `array_intersect` — the
    * (doc, shingle) pair space is never shuffled. Zero-intersection
    * candidates are dropped (Jaccard 0 is never a near-dup), keeping the
    * output identical to the join-count formulation for any threshold.
    */
  def nearDups(df: DataFrame, idCol: String, textCol: String, minJaccard: Double,
               n: Int = 2, k: Int = 8, rowsPerBand: Int = 2,
               maxBucketDocs: Int = DefaultMaxBucketDocs): DataFrame = {
    // the shingle-set table feeds THREE subtrees (signature pipeline + both
    // verify-join sides); a leak-free A/B (tools.DedupProfile) measured the
    // lazy recompute, an internal localCheckpoint, and an explicit persist
    // within noise of each other at sf0.1 — the kernel is cheap next to the
    // candidate join — so the lazy form stays (no eager materialization, no
    // leaked checkpoint blocks in long-lived sessions). A caller whose
    // corpus scan IS the dominant cost can persist the set table and use
    // [[nearDupsOn]] to control its lifecycle.
    nearDupsOn(shingleSets(df, idCol, textCol, n), idCol, minJaccard,
      k, rowsPerBand, maxBucketDocs)
  }

  /** CONTAINMENT near-dup pairs: `|A ∩ B| / min(|A|, |B|)` over the LSH
    * candidate set — the asymmetric twin of [[nearDups]]. Jaccard misses
    * the "short doc embedded in a long doc" case (a fully-contained
    * quote's Jaccard is only |A|/|B|); containment scores it 1.0. Output
    * adds `contained`: the id of the SMALLER side (the doc a dedup pass
    * would drop as subsumed), ties to `doc_a`.
    *
    * Same 100 TB shape as [[nearDupsOn]]: banded candidates (never
    * all-pairs), two-pointer intersect on pre-sorted sets, one band-bucket
    * exchange. Note the recall asymmetry is inherited from MinHash
    * banding — a tiny doc inside a huge one has low Jaccard, so its
    * band-collision probability is low; raise `k`/lower `rowsPerBand`
    * (or shingle the long side in windows) when hunting extreme-ratio
    * containments.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       minContainment: Double, n: Int = 2, k: Int = 8,
                       rowsPerBand: Int = 2,
                       maxBucketDocs: Int = DefaultMaxBucketDocs): DataFrame = {
    // lazy like nearDups' three-consumer fanout: an eager materialization
    // A/B'd as a WASH here and a regression on the nearDups path this
    // round (serializing the set arrays costs what the kernel replay
    // costs) — only jaccardPrefixParts' FIVE-consumer fanout paid off
    val sets = shingleSets(df, idCol, textCol, n)
    setPairs(bandCandidates(sets, idCol, k, rowsPerBand, maxBucketDocs), sets, sets, idCol)
      // BIGINT / BIGINT: exact IEEE division, engine-identical
      .withColumn("containment",
        col("n_inter") / least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= minContainment)
      .withColumn("contained",
        when(col("sz_a") <= col("sz_b"), col("doc_a")).otherwise(col("doc_b")))
      .select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b", "containment", "contained")
  }

  /** Per-document novelty: the fraction of a doc's shingles that appear
    * NOWHERE else in the corpus — the redundancy/novelty signal data
    * curation ranks by (novel docs teach more than re-hashes; a
    * 0-novelty doc is pure boilerplate recombination). Exact BIGINT
    * division; `n` per the gram-space rule (trigrams for small-vocab
    * corpora).
    *
    * 100 TB shape: one shingle df aggregation (map-side-combinable,
    * gram-keyed) joined back onto the (doc, shingle) pairs co-keyed on
    * the gram, then a per-doc rollup — text itself never shuffles, only
    * grams.
    */
  def noveltyReport(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val f = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    sh.join(f, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("__df") === 1).cast("long")).as("n_novel"))
      .withColumn("novelty",
        col("n_novel") / col("n_shingles").cast("double"))
  }

  /** Duplicate-family size histogram: for each exact-duplicate family
    * size k, how many families have exactly k copies — the one-glance
    * duplication shape of a corpus (a heavy tail here means mirror
    * floods; all-1 means dedup is a no-op). Two map-side-combinable
    * aggregations; output is bounded by the largest family size.
    */
  def dupFamilyHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("__dig"))
      .groupBy(col("__dig")).agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size")).agg(count(lit(1)).as("n_families"))

  /** Per-stratum duplication profile: document count, distinct-text
    * count and the duplicate fraction for each stratum (source, lang,
    * shard…) — the "which feeds are flooding us with copies" table read
    * before choosing dedup keep-policies. `dup_frac` is exact
    * BIGINT-derived IEEE division.
    *
    * 100 TB shape: ONE aggregation over (stratum, digest) — digests
    * project out immediately, text never shuffles — then a groups-sized
    * rollup; distinct-counting rides the digest key, never raw text.
    */
  def duplicationProfile(df: DataFrame, stratumCol: String,
                         textCol: String): DataFrame =
    df.select(col(stratumCol), md5(col(textCol)).as("__dig"))
      .groupBy(col(stratumCol), col("__dig")).agg(count(lit(1)).as("__n"))
      .groupBy(col(stratumCol))
      .agg(sum(col("__n")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        ((sum(col("__n")) - count(lit(1))).cast("double")
          / sum(col("__n")).cast("double")).as("dup_frac"))

  /** Cross-stratum exact-overlap matrix: for every stratum pair, how
    * many distinct texts appear in BOTH — the content-sharing report
    * behind source-level provenance audits (mirror sites, syndication,
    * scraped re-posts). Symmetric, emitted once per unordered pair.
    *
    * 100 TB shape: distinct (stratum, digest) projection, then a
    * digest-keyed self equi-join (never all-pairs across strata — only
    * digests present in ≥2 strata produce rows) and a strata²-bounded
    * rollup. A digest shared by k strata fans out k·(k−1)/2 — bounded
    * by strata², which is tiny by construction.
    */
  def strataOverlap(df: DataFrame, stratumCol: String,
                    textCol: String): DataFrame = {
    val sd = df.select(col(stratumCol).as("__s"), md5(col(textCol)).as("__dig"))
      .distinct()
    sd.join(sd.select(col("__s").as("__s2"), col("__dig")), Seq("__dig"))
      .filter(col("__s") < col("__s2"))
      .groupBy(col("__s"), col("__s2"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("__s").as("stratum_a"), col("__s2").as("stratum_b"),
        col("n_shared"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family's core filter, Xiao et al. 2008): every pair of docs whose
    * DISTINCT-token Jaccard is ≥ `minJaccardPermille`/1000 — no LSH
    * recall loss. Tokens get a global rarest-first order (df asc, token
    * asc); each doc's candidate-generating PREFIX is its first
    * `|s| − ⌈t·|s|⌉ + 1` tokens in that order, and any pair at or above
    * the threshold provably shares a prefix token, so the gram equi-join
    * over prefixes has perfect recall; exact intersection counts then
    * verify candidates only.
    *
    * The threshold is a PERMILLE integer and every filter is integer
    * arithmetic — `⌈t·|s|⌉` as `(|s|·p + 999) div 1000`, the final gate
    * as `n_inter·1000 ≥ p·(|A|+|B|−n_inter)` — so there is no float
    * boundary anywhere (a `0.7·|s|` double is 7.000…001-shaped exactly
    * where ceil matters, which would silently shorten the prefix and
    * break the recall proof).
    *
    * 100 TB shape: df-rank join and prefix equi-join are token-keyed;
    * rarest-FIRST ordering makes prefix tokens the LOW-df ones, which
    * bounds per-token join fan-out (the high-df head never enters a
    * prefix at realistic thresholds); the per-doc position window runs
    * over doc-sized groups. Complements [[nearDups]]: LSH when
    * approximate recall at minimum cost is fine, this when the contract
    * is exact (eval-set decontamination, legal dedup).
    */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
                       minJaccardPermille: Int, n: Int = 2): DataFrame = {
    val p = minJaccardPermille
    // materialize the shingle-set table ONCE for the FULL verb: its five
    // consumers (toks→df-rank, prefix sizes, both verify-join sides)
    // each replayed the scan+kernel — measured 6.2→4.1 s at sf0.1 and
    // 27.7→24.0 s at the 500k guard. The checkpoint lives HERE and not
    // in jaccardPrefixParts: the candidates-only consumer (the 500k
    // guard's cands stage) has too few replays to amortize serializing
    // the arrays (A/B'd +10 s at 500k) — same verdict as nearDups' lazy
    // form.
    val (sets, cands) = jaccardPrefixParts(df, idCol, textCol, p, n,
      materializeSets = true)
    // verification = two doc-keyed joins + the codegen'd two-pointer
    // merge on the pre-sorted sets (the shared [[setPairs]] join) — NOT a
    // token-level re-join: the earlier cands⋈toks⋈toks + count-groupBy
    // formulation re-evaluated the exploded token table twice and paid a
    // token-keyed shuffle per side. Measured end-to-end (this rewrite +
    // the narrow `sizes` below): 500k guard 23.3 s → 12.1 s (1.9×);
    // sf0.1 q133 5.96 s → 5.26 s (the small corpus sits near the
    // scheduling floor). shingleSets itself is a zero-exchange per-row
    // kernel, so each set-side reference is one narrow corpus scan.
    setPairs(cands, sets, sets, idCol)
      .filter(col("n_inter") * 1000 >= lit(p.toLong) * (col("sz_a") + col("sz_b") - col("n_inter")))
      .withColumn("jaccard", jaccard)
      .select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b", "jaccard")
  }

  /** The [[jaccardJoinExact]] pipeline up to (and including) prefix
    * candidate generation: `(sets, cands)`. Candidate volume is
    * the operator's scale-sensitive quantity (corpus-shape-dependent —
    * the gram-space sizing rule in q133's scaladoc), so the candidate
    * frame is exposed `private[graft]` for the 500k/5M guard stage to
    * count and trend independently of verification cost.
    */
  private[graft] def jaccardPrefixParts(df: DataFrame, idCol: String,
                                        textCol: String, p: Int,
                                        n: Int, materializeSets: Boolean = false)
      : (DataFrame, DataFrame) = {
    require(p >= 1 && p <= 1000, s"minJaccardPermille out of [1,1000]: $p")
    // word n-gram shingle sets, like the rest of the dedup family —
    // unigram sets degenerate on small-vocabulary corpora (every doc
    // shares most of the vocabulary and pair density explodes).
    // `materializeSets` is the full verb's five-consumer amortization
    // (see jaccardJoinExact); the candidates-only path stays lazy
    val sets0 = shingleSets(df, idCol, textCol, n)
    val sets = if (materializeSets) sets0.localCheckpoint() else sets0
    val toks = sets.select(col(idCol), explode(col("__set")).as("__t"))
    // per-doc distinct-gram count reads off the set array NARROWLY — the
    // earlier toks.groupBy(id).count paid a doc-keyed shuffle for a
    // number the per-row kernel already knows
    val sizes = sets.select(col(idCol), size(col("__set")).cast("long").as("__sz"))
    val freq = toks.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("__t"))
    val pref = toks.join(freq, Seq("__t"))
      .withColumn("__pos", row_number().over(w))
      .join(sizes, Seq(idCol))
      .filter(col("__pos") <= col("__sz") - expr(s"(__sz * $p + 999) div 1000") + 1)
    val ca = pref.select(col(idCol).as("doc_a"), col("__t"))
    val cb = pref.select(col(idCol).as("doc_b"), col("__t"))
    val cands = ca.join(cb, Seq("__t"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    (sets, cands)
  }

  /** [[nearDups]] over a PRE-BUILT shingle-set table (`(idCol, __set)`,
    * sets sorted ascending as [[shingleSets]] emits them). At cluster scale
    * the set table feeds three subtrees — persist it before calling and
    * unpersist after the action, and the corpus text is scanned once.
    */
  def nearDupsOn(sets: DataFrame, idCol: String, minJaccard: Double,
                 k: Int = 8, rowsPerBand: Int = 2,
                 maxBucketDocs: Int = DefaultMaxBucketDocs): DataFrame = {
    setPairs(bandCandidates(sets, idCol, k, rowsPerBand, maxBucketDocs), sets, sets, idCol)
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b", "jaccard")
  }

  /** Exact verification's join, shared by every shingle-set verb: the
    * candidate pairs `(doc_a, doc_b)` joined to `a`'s and `b`'s sorted
    * shingle sets (`(idCol, __set)`, as [[shingleSets]] emits them), the
    * intersection counted by a codegen'd two-pointer merge in
    * O(|A|+|B|) (no per-pair hash set, and the (doc, shingle) pair space
    * never shuffles). Emits `(doc_a, doc_b, n_inter, sz_a, sz_b)` for the
    * pairs sharing at least one shingle — a pair sharing none is a
    * near-dup under no verb's predicate; each verb states its own.
    */
  private def setPairs(cands: DataFrame, a: DataFrame, b: DataFrame,
                       idCol: String): DataFrame = {
    def side(sets: DataFrame, s: String): DataFrame =
      sets.select(col(idCol).as(s"doc_$s"), col("__set").as(s"__s$s"),
        size(col("__set")).cast("long").as(s"sz_$s"))
    cands.join(side(a, "a"), "doc_a").join(side(b, "b"), "doc_b")
      .withColumn("n_inter",
        graft.functions.MinHashKernel.sortedIntersectCount(col("__sa"), col("__sb")))
      .filter(col("n_inter") > 0)
      .select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b")
  }

  /** `|A ∩ B| / |A ∪ B|` of a [[setPairs]] row: BIGINT / BIGINT, exact
    * IEEE division, engine-identical.
    */
  private def jaccard: Column =
    col("n_inter") / (col("sz_a") + col("sz_b") - col("n_inter")).cast("double")

  /** Duplicate-cluster size histogram — `(sz, n_clusters)`: how many
    * verified duplicate clusters (exact ∪ near, [[dedupCorpus]]'s graph)
    * have exactly sz members, with unclustered docs reported as the
    * sz = 1 row (graph components always have ≥ 2 nodes, so the row
    * never collides). The shape diagnostic behind dedup budgeting: a
    * long tail of pair-clusters means near-dup noise; a few giant
    * clusters mean boilerplate/mirrors that source-level action
    * ([[crossSourceOverlap]]) handles cheaper than per-doc dedup.
    *
    * 100 TB shape: the graph is the shared [[dedupCorpus]] machinery;
    * the histogram is two node-sized map-side-combinable aggregations
    * plus a broadcast-scalar subtraction for the singleton row.
    */
  def clusterSizeHistogram(df: DataFrame, idCol: String, textCol: String,
                           minJaccard: Double, n: Int = 2, k: Int = 8,
                           rowsPerBand: Int = 2): DataFrame = {
    val (_, cc) = corpusDupGraph(df, idCol, textCol, minJaccard, n, k, rowsPerBand)
    val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
    val clustered = cc.agg(count(lit(1)).as("__cn"))
    val singles = df.agg(count(lit(1)).as("__n"))
      .crossJoin(broadcast(clustered))
      .select(lit(1L).as("sz"), (col("__n") - col("__cn")).as("n_clusters"))
    sizes.unionByName(singles)
  }

  /** Shared exact-first scaffolding for the pair-census reports
    * ([[crossSourceOverlap]], [[thresholdSweep]]): `(digestGroups,
    * canonDocs)` where digestGroups is one row per content digest
    * (null-safe, the [[dedupCorpusKeeping]] convention) carrying the
    * min-id representative, the member count, and whether the content
    * shingles at all (`tokens ≥ n` — shingle-less docs never band, so
    * their identical copies never pair in the naive semantics either),
    * and canonDocs is the corpus restricted to representatives.
    *
    * This is the mega-cluster guard applied to CENSUS queries: running
    * LSH over the raw corpus would put a byte-identical boilerplate
    * cluster of k docs into one band bucket (the maxBucketDocs abort —
    * and a giant identical cluster is exactly what these reports exist
    * to surface). Instead LSH sees one representative per content and
    * the member counts multiply the results back EXACTLY: an identical
    * copy has its canon's shingle set verbatim, so every naive pair
    * (a, b) is the canon pair (cA, cB) with the same Jaccard, counted
    * |A|·|B| times across digests and C(|A|, 2) times within one.
    */
  private def exactFirstGroups(df: DataFrame, idCol: String,
                               textCol: String, n: Int)
      : (DataFrame, DataFrame) = {
    val hashed = df.select(col(idCol), sha2(col(textCol), 256).as("__h"),
      (size(split(col(textCol), " ")) >= n).as("__elig"))
    val digestGroups = hashed.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__cnt"),
        max(when(col("__elig"), 1).otherwise(0)).as("__e"))
    val canonDocs = df.select(col(idCol), col(textCol))
      .join(digestGroups.select(col("__rep").as(idCol)), Seq(idCol))
    (digestGroups, canonDocs)
  }

  /** Cross-source duplication matrix — the provenance diagnostic behind
    * source-level mixing decisions: verified near-dup pair counts per
    * unordered source pair (`least/greatest` canonical order, so A↔B
    * copies land in one cell). A heavy off-diagonal cell is a mirror or
    * scraped re-post between two feeds — evidence to drop or down-weight
    * one side wholesale instead of paying per-doc dedup for it; the
    * diagonal is within-source duplication.
    *
    * 100 TB shape: LSH runs over one representative per content digest
    * ([[exactFirstGroups]] — a million-copy boilerplate mirror is ONE
    * banded doc, not a maxBucketDocs abort), and member counts multiply
    * the canon pairs back exactly: within-digest cells from the
    * digest×source count table alone (`C(c_s,2)` diagonal, `c_s·c_t`
    * off-diagonal — no pair materialization at all), cross-digest cells
    * from the canon pair table joined to both sides' source-count
    * vectors (fanout bounded by sources per digest). The corpus text is
    * scanned by the digest pass and the canon shingle pass; everything
    * else is digest- or pairs-sized. Output is bounded by sources².
    */
  def crossSourceOverlap(df: DataFrame, idCol: String, textCol: String,
                         srcCol: String, minJaccard: Double, n: Int = 2,
                         k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val (digestGroups, canonDocs) = exactFirstGroups(df, idCol, textCol, n)
    val dsCounts = df.select(sha2(col(textCol), 256).as("__h"),
        col(srcCol).as("__src"))
      .groupBy(col("__h"), col("__src")).agg(count(lit(1)).as("__c"))
    // within-digest member pairs, straight from the count table
    val elig = digestGroups.filter(col("__e") === 1).select("__h")
    val dsElig = dsCounts.join(elig, Seq("__h"))
    val sameSrc = dsElig.filter(col("__c") >= 2)
      .select(col("__src").as("source_a"), col("__src").as("source_b"),
        expr("__c * (__c - 1) div 2").as("__w"))
    val crossSrc = dsElig.select(col("__h"), col("__src").as("__sx"), col("__c").as("__cx"))
      .join(dsElig.select(col("__h"), col("__src").as("__sy"), col("__c").as("__cy")),
        Seq("__h"))
      .filter(col("__sx") < col("__sy"))
      .select(col("__sx").as("source_a"), col("__sy").as("source_b"),
        (col("__cx") * col("__cy")).as("__w"))
    // cross-digest canon pairs × both sides' source-count vectors
    val canonDigest = digestGroups.select(col("__rep"), col("__h"))
    val crossDigest = nearDups(canonDocs, idCol, textCol, minJaccard, n, k, rowsPerBand)
      .select("doc_a", "doc_b")
      .join(canonDigest.select(col("__rep").as("doc_a"), col("__h").as("__ha")), "doc_a")
      .join(canonDigest.select(col("__rep").as("doc_b"), col("__h").as("__hb")), "doc_b")
      .join(dsCounts.select(col("__h").as("__ha"), col("__src").as("__sa"),
        col("__c").as("__ca")), "__ha")
      .join(dsCounts.select(col("__h").as("__hb"), col("__src").as("__sb"),
        col("__c").as("__cb")), "__hb")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        (col("__ca") * col("__cb")).as("__w"))
    sameSrc.unionByName(crossSrc).unionByName(crossDigest)
      .groupBy("source_a", "source_b").agg(sum(col("__w")).as("n_pairs"))
  }

  /** Dedup threshold-sweep report — the tuning artifact for picking
    * `minJaccard`: verified pair counts per Jaccard band among
    * LSH-surfaced candidates, with the descending-cumulative count of
    * pairs a threshold at each band's lower edge would merge. One run
    * answers "how much more would 0.7 merge than 0.8?" instead of a
    * re-run per candidate threshold. Scoped to LSH-surfaced pairs by
    * construction (band recall falls off below ~0.4 Jaccard at the
    * default k=8/rowsPerBand=2 — the sweep ranks thresholds ABOVE the
    * floor against each other; it is not a census of all low-similarity
    * pairs, which no sub-quadratic method can provide).
    *
    * Band assignment is INTEGER-exact: `least(bins·n_inter div union,
    * bins-1)` over the intersect/size counts — no floating-point
    * boundary can disagree cross-engine.
    *
    * 100 TB shape: [[exactFirstGroups]] mega-cluster guard — LSH bands
    * one representative per content digest; identical-copy pairs land in
    * the TOP band (Jaccard exactly 1) as `C(cnt, 2)` weights straight
    * from the digest count table, and each cross-digest canon pair
    * carries weight `cntA·cntB` into its band. The sweep itself is one
    * map-side-combinable weighted count to ≤ `bins` rows, and the
    * cumulative window runs over that bins-sized frame (a single task by
    * design — the frame can never exceed `bins` rows).
    */
  def thresholdSweep(df: DataFrame, idCol: String, textCol: String,
                     floor: Double = 0.05, bins: Int = 20, n: Int = 2,
                     k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    require(floor > 0 && floor <= 1, s"floor out of (0,1]: $floor")
    val (digestGroups, canonDocs) = exactFirstGroups(df, idCol, textCol, n)
    val cnts = digestGroups.select(col("__rep"), col("__cnt"))
    val crossBins = nearDups(canonDocs, idCol, textCol, floor, n, k, rowsPerBand)
      .withColumn("bin",
        least(expr(s"($bins * n_inter) div (sz_a + sz_b - n_inter)"),
          lit(bins - 1L)).cast("int"))
      .join(cnts.select(col("__rep").as("doc_a"), col("__cnt").as("__ca")), "doc_a")
      .join(cnts.select(col("__rep").as("doc_b"), col("__cnt").as("__cb")), "doc_b")
      .select(col("bin"), (col("__ca") * col("__cb")).as("__w"))
    val withinBins = digestGroups
      .filter(col("__e") === 1 && col("__cnt") >= 2)
      .select(lit(bins - 1).cast("int").as("bin"),
        expr("__cnt * (__cnt - 1) div 2").as("__w"))
    crossBins.unionByName(withinBins)
      .groupBy("bin").agg(sum(col("__w")).as("n_pairs"))
      .withColumn("bin_lo", round(col("bin").cast("double") / bins, 4))
      .withColumn("cum_pairs",
        sum(col("n_pairs")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("bin").desc)))
      .select("bin", "bin_lo", "n_pairs", "cum_pairs")
  }
}
