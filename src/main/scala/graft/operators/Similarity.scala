package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType}

import graft.functions.{TopKOps, VectorOps}
import graft.functions.Rounding.zround

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale shape (the 100 TB contract):
  *   - on the QUERY-vs-CORPUS operators (brute-force/LSH/IVF/rerank
  *     top-k) the corpus side never shuffles: bucket/cell assignment is a
  *     per-row expression over a broadcast (or literal) codebook,
  *     candidate joins broadcast the small query side, and ranking is a
  *     partial-aggregated bounded-heap top-k
  *     ([[graft.functions.BoundedTopK]]) — the only exchange carries
  *     `queries × partitions × k` heap entries, never the candidate set;
  *   - the two-stage (filter-then-refine) verbs — int8, 1-bit, prefix-dim,
  *     IVF-PQ and cell-pruned binary — share one skeleton: a cheap
  *     stage-1 score feeds [[survivors]] (self-exclusion plus a bounded
  *     `rerank` heap per query), and [[exactRerank]] is the one exact
  *     cosine tail. The cell-pruned serves share [[probedCells]] and
  *     [[rerankVectors]] (a stored `vec` payload or the corpus);
  *   - IVF-PQ and binary search each have ONE path: the inline verbs
  *     ([[ivfPqTopK]], [[ivfPqResidualTopK]], [[binaryRerankTopK]])
  *     build an index and search it. Every IVF-PQ search and the
  *     operating-point planner share one query side ([[ivfPqProbes]]),
  *     and a build and an add share one encode pass ([[encodeCodes]]);
  *   - all-pairs near-dup is LSH-bucketed, not a cross join: one
  *     candidate step ([[bucketPairs]] over the compact
  *     [[bandedBuckets]] table) and one verification join
  *     ([[vectorPairs]]) serve [[nearDupPairs]] (single table + 1-bit
  *     multi-probe, explicit-knob; its planes cap binds past ~5M
  *     vectors), [[nearDupPairsBanded]] (multiple independent tables,
  *     OR-amplified recall, whose planes knob ([[bandedPlanesFor]])
  *     tracks any corpus size), [[dropNearDupsAgainst]],
  *     [[contrastiveTriples]] and [[semanticDedupBanded]]; each verb
  *     keeps its own threshold predicate. These are the operators here
  *     whose corpus side does shuffle: compact (id, bucket) keys ride the
  *     candidate self-joins, and the vector payload shuffles exactly
  *     twice for candidate verification. The O(n²)
  *     [[nearDupPairsExhaustive]] survives solely as the SimilaritySpec
  *     recall cross-check.
  *
  * All float math is widened to double FIRST and folded sequentially
  * (native codegen'd [[VectorOps.dotProduct]]) so results are
  * bit-deterministic and engine-portable.
  */
object Similarity {

  /** Elementwise widen to double. */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** The vector column in a kernel-ready element type: every numeric
    * element type passes through untouched — the dot kernel reads
    * double/float/integral arrays natively, widening each element to
    * double exactly (so the int8 codes [[quantizeInt8]] emits as
    * `array<bigint>` work everywhere, including direct [[lshBucket]]
    * calls, with no per-reference cast transform). Only non-numeric
    * element types (e.g. decimal) widen to double here.
    */
  private def kernelVec(df: DataFrame, vecCol: String): Column =
    df.schema(vecCol).dataType match {
      case ArrayType(DoubleType | FloatType | LongType | IntegerType |
                     ShortType | ByteType, _) => col(vecCol)
      case _ => asDouble(col(vecCol))
    }

  /** Sequential left-to-right dot product — a native codegen'd expression
    * (bit-identical to the `aggregate(zip_with(...))` fold it replaces).
    */
  def dot(a: Column, b: Column): Column = VectorOps.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Raw cosine — a PURE expression helper: it divides by the norms
    * unguarded, so callers own the zero-norm policy (every operator in
    * this file filters norm-positive first — the [[cosinePairs]]
    * policy; ad-hoc callers should too, or guard with `when`).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** `topk(k, score, id)` result exploded back to ranked rows
    * `(query_id, neighbor_id, [cos,] rn)` — rn 1-based, best-first;
    * `withScore` additionally emits the 6-dp heap score as `cos`.
    */
  private def explodeRanks(pairs: DataFrame, k: Int, score: Column, id: Column,
                           withScore: Boolean = false): DataFrame = {
    val exploded = pairs.groupBy("query_id")
      .agg(TopKOps.topK(k, score, id).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
    val base = Seq(col("query_id"), col("col.id").as("neighbor_id"))
    val tail = Seq((col("pos") + 1).cast("long").as("rn"))
    val cols =
      if (withScore) base ++ Seq(zround(col("col.score"), 6).as("cos")) ++ tail
      else base ++ tail
    exploded.select(cols: _*)
  }

  /** All (query, corpus) cosine pairs, self-matches excluded — the
    * corpus stays fully partitioned, queries broadcast; norms computed
    * once per row on each side so the per-pair kernel is ONE native dot
    * product plus two multiplies, not three interpreted folds.
    *
    * ZERO-NORM POLICY (every cosine consumer in this file): a zero-norm
    * vector has no cosine direction, so it is DROPPED from both roles by
    * an explicit norm-positive filter stated on the relation BEFORE any
    * division — the division then never sees a zero denominator (on
    * ANSI engines that is the difference between a dropped row and a
    * query-killing error; on IEEE engines it removes NaN rows whose sort
    * position is engine-defined). Pinned by the SimilaritySpec planted
    * zero-vector suite.
    */
  private def cosinePairs(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String): DataFrame =
    normed(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .crossJoin(broadcast(normed(queries, idCol, vecCol, "query_id", "__qv", "__qn")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))

  /** `(id, v, n)`: `df`'s ids, its vectors widened to double, and their
    * norms — norm-positive rows only (the [[cosinePairs]] policy). Both
    * sides of every exact cosine in this file.
    */
  private def normed(df: DataFrame, idCol: String, vecCol: String,
                     id: String, v: String, n: String): DataFrame =
    df.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
      .withColumn(n, norm(col(v)))
      .filter(col(n) > 0)

  /** Stage 1 of every two-stage (filter-then-refine) verb: from
    * `(query_id, neighbor_id, …)` candidate pairs, drop self-matches,
    * keep each query's top `rerank` by `score` (id ties) in a bounded
    * heap, and explode the survivors to `(query_id, neighbor_id)` —
    * ≤ queries·rerank rows. Stage 1's exchange carries
    * queries×partitions×rerank heap entries, never the candidate set.
    */
  private def survivors(cand: DataFrame, score: Column, rerank: Int): DataFrame =
    survivorHeaps(cand, score, rerank)
      .select(col("query_id"),
        explode(transform(col("__top"), e => e.getField("id"))).as("neighbor_id"))

  /** [[survivors]] before the explode: `(by…, query_id, __top)`, each
    * group's best-first top-`rerank` heap. Best-first under one total
    * order, so a prefix of `__top` is the group's top of a tighter rerank.
    */
  private def survivorHeaps(cand: DataFrame, score: Column, rerank: Int,
                            by: Seq[String] = Nil): DataFrame =
    cand.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__score", score)
      .groupBy((by :+ "query_id").map(col): _*)
      .agg(TopKOps.topK(rerank, col("__score"), col("neighbor_id")).as("__top"))

  /** Stage 2's pairs: the stage-1 `survivors` (with any grouping keys
    * they carry) joined to their rerank vectors `rerankVecs`
    * `(neighbor_id, __cv, __cn)` and to the norm-positive query vectors,
    * scored by the exact float `cos`. Both joins broadcast the bounded
    * side: the ≤ queries·rerank survivor list onto the partitioned rerank
    * vectors, the query vectors onto the survivors.
    */
  private def rerankPairs(survivors: DataFrame, rerankVecs: DataFrame,
                          queries: DataFrame, idCol: String,
                          vecCol: String): DataFrame =
    rerankVecs
      .join(broadcast(survivors), "neighbor_id")     // <= Q·rerank survivors
      .join(broadcast(normed(queries, idCol, vecCol, "query_id", "__qv", "__qn")),
        "query_id")
      .withColumn("cos", dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))

  /** The exact stage-2 tail of every two-stage verb: [[rerankPairs]]
    * ranked (cos desc, id) into the final top-`k` per query
    * ([[explodeRanks]]; `withScore` adds the 6-dp `cos`). One tail, so
    * the rerank arithmetic cannot drift between the verbs.
    */
  private def exactRerank(survivors: DataFrame, rerankVecs: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          k: Int, withScore: Boolean = false): DataFrame =
    explodeRanks(rerankPairs(survivors, rerankVecs, queries, idCol, vecCol), k,
      col("cos"), col("neighbor_id"), withScore)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (self-match excluded), rank-deterministic via (cos desc, id).
    * Ranking is a bounded-heap partial aggregate, so no task ever sorts a
    * query's full candidate set.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame =
    explodeRanks(cosinePairs(corpus, queries, idCol, vecCol), k,
      col("cos"), col("neighbor_id"))

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k corpus neighbors whose cosine falls in `[minCos, maxCos)`
    * — similar enough to be HARD (the model must work to separate them),
    * but capped below the near-duplicate ceiling so positives never leak
    * into the negative set (the q25 near-dup band is exactly what
    * `maxCos` excludes). Output `(query_id, neighbor_id, cos, rn)` —
    * cos at 6 dp, rn 1-based best-first, rank-deterministic via
    * (raw cos desc, id asc) through the same bounded-heap aggregate as
    * [[bruteForceTopK]].
    *
    * This is the EVAL/bounded-query-side operator (the q153 contract):
    * queries are expected to be a bounded sample — corpus-side cost is
    * one broadcast-join pass, never corpus × corpus.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, minCos: Double, maxCos: Double): DataFrame = {
    require(minCos < maxCos, s"empty cosine band [$minCos, $maxCos)")
    val banded = cosinePairs(corpus, queries, idCol, vecCol)
      .filter(col("cos") >= minCos && col("cos") < maxCos)
    explodeRanks(banded, k, col("cos"), col("neighbor_id"), withScore = true)
  }

  /** Every bucket-XOR probe mask of popcount ≤ min(probeBits, planes),
    * ascending — generated COMBINATORIALLY from bit-position choices
    * (Σ_{i≤probeBits} C(planes, i) masks, O(planes^probeBits) work), so
    * the mask list never enumerates the 2^planes bucket space: banded
    * plane counts (up to the 62-bit bucket width) stay enumerable at any
    * probe radius, where the filtered 0..2^planes range burned ~1 B
    * driver iterations for a handful of masks past planes ≈ 30.
    * probeBits = 0 yields exactly the identity mask; probeBits ≥ planes
    * clamps to the full mask space (the pre-round-12 enumeration
    * semantics — callers may legally over-probe, within the cap).
    *
    * DRIVER-SIZE CAP: the cumulative count Σ_{i≤probeBits} C(planes, i)
    * must stay ≤ [[MaxProbeMasks]] — each mask is a driver-held literal
    * AND a branch of the probe `explode(array(...))` expression, so an
    * unbounded count (e.g. planes = 40, probeBits = 20 ≈ 10¹¹ masks)
    * would hang the driver long before the executors saw a row. The
    * count is checked incrementally, so the guard itself never
    * overflows or enumerates.
    */
  private[operators] val MaxProbeMasks = 4096L

  private[operators] def probeMasks(planes: Int, probeBits: Int): Seq[Long] = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    require(probeBits >= 0, s"probeBits must be >= 0, got $probeBits")
    var total = 0L
    var choose = 1L // C(planes, b), built incrementally
    (0 to math.min(probeBits, planes)).foreach { b =>
      if (b > 0) choose = choose * (planes - b + 1) / b
      total += choose
      require(total <= MaxProbeMasks,
        s"probe mask count exceeds $MaxProbeMasks at popcount $b " +
          s"(planes=$planes, probeBits=$probeBits): lower probeBits or " +
          s"planes — a mask list this size is driver-side work, not recall")
    }
    (0 to math.min(probeBits, planes)).iterator
      .flatMap(b => (0 until planes).combinations(b)
        .map(_.foldLeft(0L)((m, i) => m | (1L << i))))
      .toSeq.sorted
  }

  /** All pairs with cosine above a threshold (embedding near-dup), the
    * GRADED plan: hyperplane-LSH bucket equi-join with `probeBits`-bit
    * multi-probe. A pair is a candidate iff its bucket ids differ in at
    * most `probeBits` sign bits — each such pair joins on exactly ONE
    * probed bucket (the probe mask is forced to `bucket_a XOR bucket_b`),
    * so no post-join dedup is needed. In-bucket verification applies the
    * exact cosine threshold. Recall < 1 by construction (pairs whose
    * buckets differ in more bits are unseen); the probe radius trades
    * recall for candidate count. The corpus never cross-joins itself —
    * candidates scale with bucket occupancy, not n².
    *
    * SCALE KNOB — the candidate join's key has only `2^planes` distinct
    * values, so at most `2^planes` reducers expand candidates: with the
    * default `planes = 4` that is 16 tasks, fine at fixture scale and a
    * hard parallelism ceiling at corpus scale (verification itself is
    * id-keyed and fully parallel). Size `planes` with the corpus —
    * [[planesFor]] keeps the probe-multiplied per-vector candidate load
    * under budget; measured growth numbers and guidance live in
    * SCALE.md §"Embedding near-dup pair growth".
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
                   planes: Int = 4, probeBits: Int = 1): DataFrame = {
    // CANDIDATES ON COMPACT KEYS: the bucket self-join sees only
    // (id, bucket) — 16 bytes per probe row — never the vectors. The
    // probe explode multiplies rows by the mask count (planes + 1 at
    // probeBits = 1), so carrying the payload through it would shuffle
    // the corpus (planes + 1)× by value; this shape shuffles compact keys
    // (planes + 1)× and the payload exactly twice (the verification
    // joins), which is what survives 100 TB. Measured at 500k×64d:
    // 106 s → 15.3 s together with the probe-aware [[planesFor]] and the
    // decorrelated plane weights (SCALE.md §Embedding near-dup). The
    // masks come first: a bad probe radius fails before the bucket pass.
    val masks = probeMasks(planes, probeBits)
    strictCosine(vectorPairs(bucketPairs(bandedBuckets(df, idCol, vecCol, planes, 1),
      tables = 1, masks), df, df, idCol, vecCol), threshold)
  }

  /** Candidate pairs `(id_a, id_b)` of every hyperplane-LSH generator:
    * [[bandedBuckets]] rows of `a` and `b` that agree on every `keys`
    * column and share a bucket in at least one of `tables` tables, side
    * b probing each `masks` XOR of its bucket (popcount ≤ probeBits — the
    * identity mask alone is no probing). `b = None` self-joins `a` and
    * keeps `id_a < id_b`; `Some(b)` pairs the two sides only. Within one
    * table a pair joins on exactly ONE probed bucket (the mask is forced
    * to `bucket_a XOR bucket_b`), so only a union of several tables needs
    * the `distinct`.
    */
  private def bucketPairs(a: DataFrame, tables: Int, masks: Seq[Long] = Seq(0L),
                          keys: Seq[String] = Nil,
                          b: Option[DataFrame] = None): DataFrame = {
    val perTable = (0 until tables).map { t =>
      val probed =
        if (masks == Seq(0L)) col(s"__b$t")
        else explode(array(masks.map(m => col(s"__b$t").bitwiseXOR(lit(m))): _*))
      val pairs = a.select(col("__id").as("id_a") +: keys.map(col) :+
          col(s"__b$t").as("bucket"): _*)
        .join(b.getOrElse(a).select(col("__id").as("id_b") +: keys.map(col) :+
          probed.as("bucket"): _*), keys :+ "bucket")
      (if (b.isEmpty) pairs.filter(col("id_a") < col("id_b")) else pairs)
        .select("id_a", "id_b")
    }
    if (tables == 1) perTable.head else perTable.reduce(_ unionByName _).distinct()
  }

  /** Exact cosine verification's join, shared by every LSH generator:
    * the candidate pairs `(id_a, id_b)` joined back to `a`'s and `b`'s
    * vectors (`__va`, `__vb`) and norms (`__na`, `__nb`) — candidates
    * only, like the shingle-set verify in Dedup. Vectors ride the joins
    * in their SOURCE element type ([[kernelVec]]: the dot kernel takes
    * float arrays natively, widening is exact and results bit-identical),
    * so float32 embeddings shuffle at half the bytes a cast-to-double
    * projection would cost. Zero-norm rows drop first ([[cosinePairs]]
    * policy); each verb states its own threshold predicate on the result.
    */
  private def vectorPairs(cands: DataFrame, a: DataFrame, b: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame =
      df.select(col(idCol).as(s"id_$s"), kernelVec(df, vecCol).as(s"__v$s"))
        .withColumn(s"__n$s", norm(col(s"__v$s")))
        .filter(col(s"__n$s") > 0)
    cands.join(side(a, "a"), "id_a").join(side(b, "b"), "id_b")
  }

  /** The near-dup generators' strict predicate on [[vectorPairs]]:
    * `dot > t·‖a‖·‖b‖`, cosine above `threshold` with no per-pair
    * division. Emits `(id_a, id_b)`.
    */
  private def strictCosine(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.filter(dot(col("__va"), col("__vb")) > lit(threshold) * col("__na") * col("__nb"))
      .select("id_a", "id_b")

  /** All pairs with cosine above a threshold via `tables` INDEPENDENT
    * hyperplane-LSH tables (OR-amplification / banding — the MinHash-LSH
    * band structure applied to sign-bit sketches): table `t` hashes with
    * its own `planes` hyperplanes (disjoint plane index ranges, so tables
    * are independent draws), and a pair is a candidate iff it lands in the
    * SAME bucket in ANY table. This is the past-5M scale plan that retires
    * the single-table multi-probe generator's 24-plane cap:
    *
    *   - per-table recall for a pair at angle θ is `(1 − θ/π)^planes`, and
    *     the union over tables amplifies it as `1 − (1 − r)^tables` — so
    *     recall decays only GEOMETRICALLY SLOWLY in planes (at cos ≥ 0.999,
    *     3 tables hold ≥ 95% recall through planes ≈ 33, i.e. corpora in
    *     the BILLIONS), where 1-bit probing fell below 95% past 24 planes;
    *   - candidate load per vector is `tables · n / 2^planes` — the planes
    *     knob tracks n with NO cap, and there is no probe explode: each
    *     vector contributes `tables` compact (id, bucket) rows, not
    *     `planes + 1`, so the candidate join shuffles ~8× fewer bytes than
    *     1-bit probing at 24 planes;
    *   - the per-table self-joins read a localCheckpointed compact
    *     `(id, bucket₀..bucketₜ)` table — all tables' buckets come from ONE
    *     pass over the corpus vectors, and the joins re-read
    *     `8·(tables+1)`-byte rows, never the vectors;
    *   - candidates found by several tables collapse through one
    *     `distinct` on the compact id pair before the exact verification
    *     joins ([[vectorPairs]] — same exact-threshold contract as
    *     [[nearDupPairs]], so precision is exact; only candidate recall is
    *     probabilistic).
    *
    * Size `planes` with [[bandedPlanesFor]]; `tables` is the recall knob
    * (3 ⇒ ≥ 95% at cos ≥ 0.999 through billions of vectors, 4 buys ≥ 98%).
    * Measured 500k/5M growth: SCALE.md §"Embedding near-dup pair growth".
    */
  def nearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, planes: Int, tables: Int = 3): DataFrame =
    strictCosine(vectorPairs(bucketPairs(bandedBuckets(df, idCol, vecCol, planes, tables),
      tables), df, df, idCol, vecCol), threshold)

  /** The localCheckpointed compact `(id, bucket₀..bucketₜ)` table of the
    * banded generator: one pass over the corpus vectors, `8·(tables+1)`
    * bytes per row through every downstream join.
    */
  private def bandedBuckets(df: DataFrame, idCol: String, vecCol: String,
                            planes: Int, tables: Int): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val v = kernelVec(df, vecCol)
    val bucketCols = (0 until tables).map(t => lshBucket(v, planes, t * planes).as(s"__b$t"))
    df.select(col(idCol).as("__id") +: bucketCols: _*).localCheckpoint()
  }

  /** Cross-side embedding near-dup drop — the daily-ingest / semantic-
    * decontamination shape for vectors ([[graft.operators.Dedup
    * .dropDuplicatesAgainst]]'s embedding twin): remove from `incoming`
    * every vector whose cosine with SOME `existing` vector exceeds
    * `threshold`. Candidates are banded-LSH collisions BETWEEN the sides
    * only (never incoming × incoming — intra-batch dedup composes as
    * `nearDupPairsBanded` over the batch), verification is the exact
    * threshold on candidates only. At scale the existing side's compact
    * bucket table is per-row artifact data — materialize it once at
    * ingest and every batch joins against it; per-batch cost is
    * proportional to the batch, not the corpus.
    */
  def dropNearDupsAgainst(incoming: DataFrame, existing: DataFrame,
                          idCol: String, vecCol: String, threshold: Double,
                          planes: Int, tables: Int = 3): DataFrame = {
    val cands = bucketPairs(bandedBuckets(incoming, idCol, vecCol, planes, tables), tables,
      b = Some(bandedBuckets(existing, idCol, vecCol, planes, tables)))
    val losers = strictCosine(vectorPairs(cands, incoming, existing, idCol, vecCol), threshold)
      .select(col("id_a").as(idCol)).distinct()
    incoming.join(losers, Seq(idCol), "left_anti")
  }

  /** `planes` sizing for [[nearDupPairsBanded]]: smallest plane count
    * keeping the expected per-vector candidate load
    * `tables · n / 2^planes` under `pairBudgetPerVec` (uniform-occupancy
    * model, same as [[planesFor]]). Unlike the probing generator there is
    * no recall cliff forcing a cap — recall is amplified across tables —
    * so the ceiling (62, the bucket id's long width) is structural, not a
    * recall guard, and the budget default drops from 8 to 3: banding has
    * no probe multiplier, so a tighter budget costs nothing.
    */
  def bandedPlanesFor(n: Long, pairBudgetPerVec: Long = 3L, tables: Int = 3,
                      maxPlanes: Int = 62): Int = {
    require(pairBudgetPerVec > 0, "pairBudgetPerVec must be positive")
    require(tables >= 1, s"tables must be >= 1, got $tables")
    require(maxPlanes >= 4 && maxPlanes <= 62,
      s"maxPlanes must be in [4, 62], got $maxPlanes")
    (4 to maxPlanes).find { p =>
      tables * n.toDouble / (1L << p) <= pairBudgetPerVec || p == maxPlanes
    }.get
  }

  /** Hyperplane-banding RECALL planner —
    * [[graft.operators.Dedup.bandingPlan]]'s twin for the EMBEDDING
    * banded generators ([[nearDupPairsBanded]], [[semanticDedupBanded]]):
    * [[bandedPlanesFor]] bounds COST but says nothing about quality;
    * this relation states the quality side of each candidate `planes`
    * value so the (planes, tables) point is chosen with both eyes open.
    * For a pair at angle fraction `t = θ/π ∈ (0,1)`, per-plane agreement
    * is `1 − t` (the hyperplane-LSH identity), one-table collision
    * `(1−t)^planes`, any-of-`tables` collision
    * `p(t) = 1 − (1 − (1−t)^planes)^tables`. Midpoint-Riemann masses
    * over a `grid`-point angle grid give a false-positive mass ABOVE
    * `angleThreshold` (dissimilar pairs still colliding — wasted
    * verification) and a false-negative mass at or below it (near-dups
    * missed); the planes value minimizing `fpWeight·fp + fnWeight·fn`
    * is flagged `chosen`, score ties breaking to MORE planes (fewer
    * candidates at equal quality). One row per grid value:
    * `(planes, tables, fp, fn, score, chosen)`, 6 dp.
    *
    * `angleThreshold` is the caller's cosine threshold mapped through
    * `acos(c)/π` ONCE on the caller side (e.g. cos 0.4 → ≈ 0.369) — the
    * relation itself stays rational-plus-`pow` arithmetic, the same
    * cross-engine recipe as `bandingPlan` (9-dp curve points, DECIMAL
    * Riemann sums, 6-dp masses). Pure closed-form over grid×planes rows
    * — no corpus access, broadcast-size at any scale.
    */
  def bandedRecallPlan(spark: org.apache.spark.sql.SparkSession,
                       angleThreshold: Double, planesGrid: Seq[Int],
                       tables: Int = 3, grid: Int = 100,
                       fpWeight: Double = 0.5, fnWeight: Double = 0.5): DataFrame = {
    require(angleThreshold > 0 && angleThreshold < 1,
      s"angleThreshold out of (0,1): $angleThreshold")
    require(planesGrid.nonEmpty && planesGrid == planesGrid.distinct &&
      planesGrid.forall(p => p >= 1 && p <= 62),
      s"planesGrid must be distinct values in [1, 62]: $planesGrid")
    require(tables >= 1 && grid >= 10, s"need tables >= 1, grid >= 10")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      "weights must be non-negative and not both zero")
    import spark.implicits._
    val pts = planesGrid.toDF("planes")
      .crossJoin(spark.range(grid).select(col("id").as("__i")))
      .withColumn("__t", (col("__i").cast("double") + 0.5) / grid)
      .withColumn("__p", round(lit(1.0) -
        pow(lit(1.0) - pow(lit(1.0) - col("__t"), col("planes")), lit(tables)), 9))
    pts.groupBy(col("planes"))
      .agg(
        round(sum(when(col("__t") > angleThreshold, col("__p")).otherwise(lit(0.0))
          .cast("decimal(28,12)")).cast("double") / grid, 6).as("fp"),
        round(sum(when(col("__t") <= angleThreshold, lit(1.0) - col("__p"))
          .otherwise(lit(0.0)).cast("decimal(28,12)")).cast("double") / grid, 6)
          .as("fn"))
      .withColumn("tables", lit(tables))
      .withColumn("score",
        round(lit(fpWeight) * col("fp") + lit(fnWeight) * col("fn"), 6))
      .withColumn("chosen",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score"), col("planes").desc)) === 1)
      .select("planes", "tables", "fp", "fn", "score", "chosen")
  }

  /** `planes` sizing for [[nearDupPairs]]: smallest plane count keeping
    * the EXPECTED verification load under `pairBudgetPerVec` candidate
    * pairs per vector. Under uniform occupancy, same-bucket candidates
    * per vector ≈ `n / 2^planes`, and the multi-probe multiplies that by
    * the probe-mask count (`planes + 1` at probeBits = 1) — so the load
    * is `maskCount(planes) · n / 2^planes` and `2^planes` must GROW
    * (slightly super-)LINEARLY with n to keep per-vector work flat;
    * fixing planes makes total pairs O(n²). `2^planes` also bounds
    * reducer parallelism for the bucket self-join. Floor 4 (the
    * fixture-scale default), cap 24. Recall falls as planes grow (a
    * qualifying pair must differ in ≤ probeBits sign bits) but stays
    * high for true near-dups: at cos ≥ 0.999 the per-plane flip
    * probability is acos(0.999)/π ≈ 1.4%, giving ~96% recall even at
    * 24 planes with 1-bit probing. The `maxPlanes` cap (default 24)
    * marks where 1-bit recall starts to sag — PAST it (corpora beyond
    * ~5M vectors), raise `maxPlanes` TOGETHER with `probeBits`: e.g.
    * 28 planes at 2-bit probing recovers ≈99% recall at cos ≥ 0.999
    * while still shrinking per-vector load (probe masks grow ~p²/2,
    * the bucket space 2^p). Measured pairs/vec at 500k and 5M vectors:
    * SCALE.md §"Embedding near-dup pair growth".
    */
  def planesFor(n: Long, pairBudgetPerVec: Long = 8L, probeBits: Int = 1,
                maxPlanes: Int = 24): Int = {
    require(pairBudgetPerVec > 0, "pairBudgetPerVec must be positive")
    require(maxPlanes >= 4, s"maxPlanes must be >= 4, got $maxPlanes")
    // |{m < 2^p : popcount(m) <= probeBits}| = Σ_{i<=probeBits} C(p, i)
    def maskCount(p: Int): Long =
      (0 to probeBits).map(i =>
        (0 until i).foldLeft(1L)((acc, j) => acc * (p - j) / (j + 1))).sum
    (4 to maxPlanes).find { p =>
      maskCount(p) * n.toDouble / (1L << p) <= pairBudgetPerVec || p == maxPlanes
    }.get
  }

  /** O(n²) all-pairs near-dup — SPEC-ONLY recall baseline for
    * [[nearDupPairs]] (SimilaritySpec asserts the bucketed result is a
    * subset of this one at sf scale). Never the graded plan: a cross join
    * of the corpus with itself does not survive any scale-up.
    */
  def nearDupPairsExhaustive(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), asDouble(col(vecCol)).as("__va"))
      .withColumn("__na", norm(col("__va")))
    val b = df.select(col(idCol).as("id_b"), asDouble(col(vecCol)).as("__vb"))
      .withColumn("__nb", norm(col("__vb")))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("__va"), col("__vb")) > lit(threshold) * col("__na") * col("__nb"))
      .select("id_a", "id_b")
  }

  /** Per-label mean vector (cluster/class profile): one row per
    * (label, dimension) with the 6-dp-rounded coordinate mean and the
    * member count — the centroid table driving medoid selection, drift
    * monitoring, and per-class prototypes.
    *
    * 100 TB shape: `posexplode` is a narrow pass; the single exchange
    * carries (label, dim) partial (sum, count) pairs — map-side-combined
    * to labels × dims rows per partition regardless of corpus size.
    * 6-dp rounding absorbs the partial-aggregation float-sum order (the
    * [[graft.operators.TextAnalysis.tfidfKeywords]] rule).
    */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol), posexplode(asDouble(col(vecCol))).as(Seq("dim", "v")))
      .withColumn("dim", col("dim").cast("long"))
      .groupBy(col(labelCol), col("dim"))
      .agg(zround(avg("v"), 6).as("centroid"), count(lit(1)).as("n_vecs"))

  /** Per-label embedding dispersion: `E‖x − c‖² = mean(‖x‖²) − ‖c‖²`
    * with `c` the 6-dp label centroid — the spread/collapse monitor for
    * embedding quality (a label whose dispersion → 0 has collapsed onto
    * one point; one ≫ the others is incoherent). Uses the centroid trick,
    * so NO pairwise distances are ever computed.
    *
    * Determinism: each row's ‖x‖² is an ORDERED left fold over the
    * vector (identical in any engine), quantized to DECIMAL(28,12) so the
    * per-label mean sums exactly regardless of aggregation order; the
    * centroid norm derives from 6-dp coordinates; the final dispersion
    * rounds to 6 dp.
    *
    * 100 TB shape: two corpus passes, both map-side-combinable — the
    * (label, dim) centroid aggregation (labels × dims exchange) and a
    * per-row norm fold aggregated per label (labels-sized exchange);
    * the labels-sized join at the end is broadcast.
    */
  def labelDispersion(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val cnorm = labelCentroids(df, vecCol, labelCol)
      .groupBy(col(labelCol))
      .agg(sum(col("centroid") * col("centroid")).as("__c2"),
        max(col("n_vecs")).as("n_vecs"))
    val norms = df.select(col(labelCol),
      aggregate(asDouble(col(vecCol)), lit(0.0), (a, x) => a + x * x)
        .cast("decimal(28,12)").as("__n2"))
      .groupBy(col(labelCol))
      .agg((sum(col("__n2")).cast("double") / count(lit(1))).as("__avg2"))
    norms.join(broadcast(cnorm), Seq(labelCol))
      .select(col(labelCol), col("n_vecs"),
        zround(col("__avg2") - col("__c2"), 6).as("dispersion"))
  }

  /** Per-label MEDOID: the member vector most cosine-similar to its
    * label's centroid — the "most representative real example" picker
    * (cluster naming, prototype mining, eval-set seeding). Ties on the
    * 6-dp-rounded similarity break to the smallest id.
    *
    * Zero-norm policy ([[cosinePairs]]): zero-norm MEMBERS drop from
    * medoid candidacy, and a label whose centroid is exactly the zero
    * vector (e.g. perfectly cancelling members v and −v) emits NO
    * medoid row — there is no direction to be similar to. Both drops
    * happen in a filter BEFORE the cosine division.
    *
    * 100 TB shape: exactly TWO corpus passes — one builds the centroid
    * table ([[labelCentroids]], labels × dims, riding the (label, dim)
    * join as a small side), one computes per-member similarities as a
    * map-side-combinable aggregation over exploded coordinates. The
    * argmax is a single `max_by` over the unique key `(sim, −id)` —
    * NOT a max-join-back, which would plan the whole similarity subtree
    * twice (Catalyst does not reuse shared subtrees; the
    * [[graft.engine.Summaries.transitionMatrix]] lesson).
    */
  def labelMedoids(df: DataFrame, idCol: String, vecCol: String,
                   labelCol: String): DataFrame = {
    val cen = labelCentroids(df, vecCol, labelCol)
      .select(col(labelCol), col("dim"), col("centroid"))
    val ex = df.select(col(labelCol), col(idCol),
      posexplode(asDouble(col(vecCol))).as(Seq("dim", "v")))
      .withColumn("dim", col("dim").cast("long"))
    val sims = ex.join(cen, Seq(labelCol, "dim"))
      .groupBy(col(labelCol), col(idCol))
      .agg(
        sum(col("v") * col("centroid")).as("__dot"),
        sum(col("v") * col("v")).as("__vv"),
        sum(col("centroid") * col("centroid")).as("__cc"))
      // zero-norm members (or a zero centroid) have no cosine direction:
      // dropped from medoid candidacy before the division — the
      // [[cosinePairs]] policy
      .filter(col("__vv") > 0 && col("__cc") > 0)
      .withColumn("sim",
        zround(col("__dot") / (sqrt(col("__vv")) * sqrt(col("__cc"))), 6))
      .select(col(labelCol), col(idCol), col("sim"))
    // (sim, −id) is unique (ids are unique), so max_by is deterministic:
    // max sim first, smallest id on rounded-sim ties
    sims.groupBy(col(labelCol))
      .agg(
        max_by(col(idCol), struct(col("sim"), (-col(idCol)).as("__neg"))).as("medoid_id"),
        max(col("sim")).as("sim"))
      .select(col(labelCol), col("medoid_id"), col("sim"))
  }

  /** Symmetric int8 quantization: scale each vector by 127/max|x| and
    * round half-up via an explicit floor(x·s + 0.5) — floor is defined
    * identically in every engine, unlike round()'s half-up/half-even split.
    * 4× smaller embeddings for the ANN candidate stage; exact rerank can
    * read the float column. All-zero vectors get scale 0 (all-zero codes),
    * not the 127/0 = Infinity → NaN a naive scale would produce.
    */
  def quantizeScale(vec: Column): Column = {
    val maxAbs = array_max(transform(asDouble(vec), x => abs(x)))
    when(maxAbs > 0, lit(127.0) / maxAbs).otherwise(lit(0.0))
  }

  def quantizeInt8(vec: Column): Column = {
    val scale = quantizeScale(vec)
    transform(asDouble(vec), x => floor(x * scale + lit(0.5)).cast("long"))
  }

  /** Deterministic pseudo-random integer plane weight in [-500, 500]:
    * pure 64-bit arithmetic, identical in any engine (no RNG, no hashing).
    *
    * The mixer is SQUARE-then-multiply mod P = 2³¹−1: the square's cross
    * term makes the weight jointly nonlinear in (plane, dim). The previous
    * affine form `(A·p + B·j) mod 1001` made every plane the SAME sawtooth
    * in j shifted by a constant — sign bits correlated so strongly that
    * 500k uniform vectors at 16 planes occupied 3.5k of the 65k buckets
    * (max bucket 21.5k vecs, 2.07e9 same-bucket pairs — the
    * pipe_embedding_neardup guard caught it as an OOM). Every intermediate
    * stays under 2³¹ so products fit in a long in ANY engine (DuckDB
    * errors on BIGINT overflow; Spark ANSI mode too).
    */
  private def planeWeight(plane: Int, dim: Column): Column = {
    val P = 2147483647L // 2^31 - 1, prime
    val w1 = (lit((plane + 1).toLong * 1566083941L) + dim * 1812433253L) % P
    val w2 = (w1 * w1) % P
    (w2 * 1103515245L) % P % 1001L - 500L
  }

  /** Random-hyperplane LSH bucket id from `planes` sign bits. The plane
    * weight array is generated to the VECTOR'S own length — a hard-coded
    * dimension would make `dot` return NULL on any other embedding width
    * (ragged-length HOF semantics), silently collapsing every vector into
    * bucket 0 and the bucket join into a full cross product. The vector
    * feeds the dot kernel directly in its source element type — the kernel
    * reads float AND integral arrays natively with exact per-element
    * widening, so int8-code embeddings work here too and no cast transform
    * is re-evaluated per plane reference.
    */
  def lshBucket(vec: Column, planes: Int = 4): Column =
    lshBucket(vec, planes, 0)

  /** [[lshBucket]] hashing with planes `planeOffset until planeOffset +
    * planes` — disjoint offsets give INDEPENDENT tables (the
    * [[nearDupPairsBanded]] amplification needs independent draws; the
    * plane-weight mixer is jointly nonlinear in (plane, dim), so distinct
    * index ranges decorrelate). Offset 0 is bit-identical to the classic
    * single-table bucket.
    *
    * Evaluates through the fused codegen'd
    * [[graft.functions.LshBucketExpr]] kernel — bit-identical to
    * [[lshBucketDeclarative]] (spec-pinned), minus the per-row per-plane
    * interpreted weight-array generation that dominated bucket-assignment
    * wall time.
    */
  def lshBucket(vec: Column, planes: Int, planeOffset: Int): Column =
    graft.functions.LshBucketExpr.lshBucket(vec, planes, planeOffset)

  /** The declarative formulation of [[lshBucket]] — the shape the DuckDB
    * oracle twins state, kept as the SimilaritySpec parity baseline for
    * the fused kernel.
    */
  private[operators] def lshBucketDeclarative(vec: Column, planes: Int,
                                              planeOffset: Int): Column =
    (0 until planes).map { p =>
      val w = transform(sequence(lit(0), size(vec) - 1),
        j => planeWeight(planeOffset + p, j).cast("double"))
      when(dot(vec, w) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The collected IVF codebook: (cell id, centroid vector) pairs. Tiny by
    * construction (`nCentroids` rows) — the ONE deliberate driver-side
    * materialization in this file, so assignment can be folded into a
    * per-row literal expression instead of a join.
    */
  private def collectCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                              nCentroids: Int): Array[(Long, Seq[Double])] =
    corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** Cosine distance of `v` (with precomputed norm `n`) to every codebook
    * centroid, probe list as `array<long>` best-first — the NATIVE
    * top-nProbe kernel ([[graft.functions.NearestCellsExpr]]): the
    * sorted-struct-array form it replaces grew its expression tree (and
    * generated method) with the codebook, the same bytecode cliff the
    * assignment side hit; the kernel's partial selection keeps the
    * (dist asc, cell asc, NaN-largest) order exactly. ZERO exchanges:
    * probing costs one expression per query row.
    */
  private def nearestCells(codebook: Array[(Long, Seq[Double])],
                           v: Column, nProbe: Int): Column =
    graft.functions.NearestCentroidOps.nearestCells(v, lit(0),
      Array(codebook.map(_._2.toArray)), Array(codebook.map(_._1)),
      cosine = true, nProbe)

  /** Assignment argmin WITHOUT building + sorting a per-row array — the
    * NATIVE cosine-mode kernel: one runtime loop over the codebook,
    * generated code constant-size in nCentroids (the earlier least-of-
    * structs form — itself 40% of q37's wall vs array_sort — still grew
    * its method with the codebook; IVF at corpus scale wants thousands
    * of cells). Ties and NaN order exactly like the struct form
    * (NearestCentroidSpec), and a zero-norm vector assigns to the
    * smallest cell instead of ANSI-crashing the division. The
    * sorted-array form survives only on the query side, which genuinely
    * needs the `nProbe` best cells.
    */
  private def nearestCell(codebook: Array[(Long, Seq[Double])],
                          v: Column, n: Column): Column =
    graft.functions.NearestCentroidOps.nearestCentroid(v, lit(0),
      Array(codebook.map(_._2.toArray)), Array(codebook.map(_._1)),
      cosine = true)

  /** The ONE corpus-side pass every IVF-family operator starts from:
    * `(neighbor_id, __cv, __cn, cell)` — widened vector, norm, and the
    * literal-codebook cell assignment; zero-norm rows drop here (the
    * [[cosinePairs]] policy), so every downstream norm division is
    * structurally nonzero.
    */
  private def ivfCells(corpus: DataFrame, idCol: String, vecCol: String,
                       codebook: Array[(Long, Seq[Double])],
                       keepRaw: Boolean = false): DataFrame =
    corpus.select(
        col(idCol).as("neighbor_id") +: asDouble(col(vecCol)).as("__cv") +:
          (if (keepRaw) Seq(col(vecCol).as("__raw")) else Nil): _*)
      .withColumn("__cn", norm(col("__cv")))
      .filter(col("__cn") > 0)
      .withColumn("cell", nearestCell(codebook, col("__cv"), col("__cn")))

  /** IVF-style ANN: a coarse quantizer assigns every vector to its nearest
    * centroid cell; queries probe only the `nProbe` nearest cells. Centroids
    * here are a deterministic sample (first `nCentroids` corpus vectors by
    * id) — any other codebook is plug-compatible via the overload below,
    * the Spark plan is identical. At 100 TB the corpus NEVER shuffles:
    * cell assignment is a per-row argmin over the literal codebook, the
    * probe join broadcasts the (tiny) exploded query side, and the final
    * ranking is a bounded-heap partial top-k.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    ivfTopK(corpus, queries, idCol, vecCol, k,
      collectCodebook(corpus, idCol, vecCol, nCentroids), nProbe)

  /** [[ivfTopK]] over an explicit codebook — e.g. one loaded from a
    * previous run.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, codebook: Array[(Long, Seq[Double])], nProbe: Int): DataFrame = {
    require(codebook.nonEmpty, "codebook must be non-empty")
    // assign each corpus vector to its nearest centroid — per-row, no
    // join; zero-norm rows drop (the cosinePairs policy)
    val cells = ivfCells(corpus, idCol, vecCol, codebook)
    // each query probes its nProbe nearest cells — per-row slice + explode
    val probes = normed(queries, idCol, vecCol, "query_id", "__qv", "__qn")
      .withColumn("cell", explode(nearestCells(codebook, col("__qv"), nProbe)))
    val pairs = cells.join(broadcast(probes), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
    explodeRanks(pairs, k, col("cos"), col("neighbor_id"))
  }

  /** Distributed Lloyd k-means over the FULL corpus (fixed-iteration,
    * engine-reproducible) — unlike the IVF codebooks (a bounded driver
    * sample), every row participates in every update, so the final
    * `(id, cluster)` assignment is the clustering a mixture-profiling /
    * stratification pipeline reports. Init is deterministic (the k
    * smallest ids' vectors); output is the assignment after `iters` full
    * assign→update steps.
    *
    * Cross-engine exactness (the Graph.scala decimal recipe): vector
    * components enter as round(double, 9); per-(cluster, dim) sums are
    * DECIMAL — exact and order-independent — so updated centroids
    * `round(sum/count, 9)` are IDENTICAL real numbers in any engine;
    * squared distances round to 6 dp before an argmin with a
    * cluster-id tiebreak, so a last-ulp summation difference can never
    * flip an assignment.
    *
    * 100 TB shape: assignment is a per-row fold over the k×dim LITERAL
    * codebook — the corpus never shuffles for it; each update is ONE
    * map-side-combinable posexplode aggregation into k×dim cells; only
    * k×dim doubles reach the driver per iteration (`iters`+1 jobs, the
    * [[graft.operators.Graph]] fixed-iteration contract). Empty
    * clusters keep their previous centroid.
    */
  def kmeansLloyd(df: DataFrame, idCol: String, vecCol: String,
                  k: Int = 4, iters: Int = 2): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0, got k=$k iters=$iters")
    val all = df
      .filter(col(vecCol).isNotNull && forall(col(vecCol), x => x.isNotNull))
      .select(col(idCol).as("__id"),
        transform(col(vecCol), x => round(x.cast("double"), 9)).as("__vd"))
    val init = all.orderBy("__id").limit(k)
      .select(col("__vd")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(init.nonEmpty, "cannot cluster an empty corpus")
    val dims = init.head.length
    // ragged vectors would null out the distance fold — drop them (the
    // first init vector's width wins). Persisted for the loop's
    // 2·iters passes (assign + update per iteration); unpersisted before
    // returning, so the final frame recomputes from source lazily — the
    // Graph.hits cache-lifetime contract
    val vecs = all.filter(size(col("__vd")) === dims)
    if (iters > 0) vecs.persist()
    var centroids: Array[Array[Double]] = init.filter(_.length == dims)

    // distance via |v|² − 2·v·c + |c|² inside the NATIVE argmin kernel
    // ([[graft.functions.NearestCentroidOps]]): constant generated-code
    // size at ANY k (a least-of-k-structs or unrolled (v−c)² chain blows
    // the JIT method limits past a few dozen centroids — measured ~3-4×
    // slower), same 6-dp quantization and ascending-id tiebreak,
    // assignment-identical (NearestCentroidSpec property parity)
    def assigned(cs: Array[Array[Double]]): DataFrame =
      vecs.withColumn("cluster",
        graft.functions.NearestCentroidOps.nearestCluster(col("__vd"), cs)
          .cast("int"))
    for (_ <- 0 until iters) {
      val cells = assigned(centroids)
        .select(col("cluster"), posexplode(col("__vd")).as(Seq("__pos", "__x")))
        .groupBy("cluster", "__pos")
        .agg(sum(col("__x").cast("decimal(28,12)")).as("__s"),
          count(lit(1)).as("__c"))
        .select(col("cluster"), col("__pos"),
          round(col("__s").cast("double") / col("__c").cast("double"), 9).as("__m"))
        .collect()
      val next = centroids.map(_.clone())
      cells.foreach { r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) }
      centroids = next
    }
    if (iters > 0) vecs.unpersist(blocking = false)
    assigned(centroids).select(col("__id").as(idCol), col("cluster"))
  }

  /** Two-stage retrieval — the production ANN pattern: a cheap QUANTIZED
    * scan ranks every (query, candidate) pair by int8 dot product and
    * keeps the top `rerank` per query; only those survivors get the exact
    * float cosine and the final top-k. The int8 stage reads 4× less data
    * per vector at scale (int8 columns vs floats); both stages are rank-
    * deterministic via id tiebreaks, so results are engine-reproducible.
    * Both rankings are bounded-heap partial top-k aggregates — stage 1's
    * exchange carries Q×P×rerank heap entries, never the N int8 codes.
    */
  def quantizedRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, k: Int, rerank: Int = 20): DataFrame = {
    // stage 1 carries ONLY ids + int8 codes (as double arrays — the native
    // codegen'd dot kernel is double-typed; values are exact small
    // integers). Float vectors are re-joined for the <= Q·rerank
    // survivors.
    def codes(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
        transform(quantizeInt8(col(vecCol)), x => x.cast("double")).as(s"__c$id"))
    val cand = codes(corpus, "neighbor_id")
      .crossJoin(broadcast(codes(queries, "query_id")))
    exactRerank(
      survivors(cand, dot(col("__cneighbor_id"), col("__cquery_id")), rerank),
      normed(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn"),
      queries, idCol, vecCol, k)
  }

  /** Sign-bit (binary) quantization: pack each vector's signs into
    * `ceil(dim/32)` 32-bit words (as longs) — 32× less stage-1 data than
    * floats, the modern vector-DB "binary quantization" trick. Word `w`
    * holds positions `[32w, 32w+31]`: bit `j-32w` is 1 iff `x_j > 0`.
    * Packing is an `aggregate` fold over the REVERSED slice
    * (`acc·2 + bit` — the high position enters first), so each word is
    * Σ bit_j·2^(j−32w) with no variable-shift expression: plain
    * codegen'd built-ins, no UDF, and every word ≤ 2³²−1 so no engine
    * hits signed-overflow semantics (an oracle can state the identical
    * `1::BIGINT << j` sum).
    */
  def signPack(vec: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    val nWords = (dim + 31) / 32
    array((0 until nWords).map { w =>
      val len = math.min(32, dim - w * 32)
      aggregate(reverse(slice(vec, w * 32 + 1, len)), lit(0L),
        (acc, x) => acc * 2 + when(x > lit(0), 1L).otherwise(0L))
    }: _*)
  }

  /** Binary-quantized two-stage retrieval — [[quantizedRerankTopK]] with
    * the stage-1 axis pushed from 8-bit to 1-bit: rank every
    * (query, candidate) pair by sign AGREEMENT count
    * (`dim − Hamming(signPack(c), signPack(q))` via `bit_count(xor)` per
    * packed word — for unit-norm embeddings agreement is a monotone
    * proxy for cosine), keep the top `rerank` per query, then exact
    * float cosine on the survivors. Stage 1 reads 8 bytes per 64-dim
    * vector instead of 256 (floats) or 64 (int8) — at 100 TB the
    * stage-1 scan is the cost, and this is its floor.
    *
    * `dim` states the vector width; rows of any other width drop from
    * stage 1 (the q253 ragged-row convention — a silent zip would rank
    * on a truncated prefix). Agreement ties (integer scores tie often)
    * break by neighbor_id ascending in the bounded heap — rank-
    * deterministic cross-engine. Stage 2 owns the zero-norm policy
    * exactly as [[quantizedRerankTopK]] (both sides norm-positive).
    *
    * The one-shot form of the pack-once/serve-many split: it is
    * [[binarySearch]] over a fresh [[binaryIndexBuild]], so the inline
    * and persisted paths are one code path.
    */
  def binaryRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, dim: Int, k: Int,
                       rerank: Int = 20): DataFrame =
    binarySearch(binaryIndexBuild(corpus, idCol, vecCol, dim), corpus, queries,
      idCol, vecCol, k, rerank)

  /** Hamming distance of two [[signPack]] word arrays of `dim`-wide
    * vectors: Σ `bit_count(xor)` per word. The binary stage-1 score is
    * the sign agreement `dim − hamming`.
    */
  private def hamming(a: Column, b: Column, dim: Int): Column =
    (0 until (dim + 31) / 32)
      .map(i => bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1)))
        .cast("long"))
      .reduce(_ + _)

  /** A persisted binary (sign-bit) index: the packed words relation
    * `(id, words)` — 8 bytes per 64 dims — plus the one scalar a loader
    * must not guess (`dim`). The pack-once/serve-many split for
    * [[binaryRerankTopK]]: at 100 TB the per-serve cost of re-reading
    * float vectors and re-packing dwarfs the stage-1 scan the packing
    * exists to shrink; persisting the words relation makes every serve
    * read 1/32 of the float bytes. The float corpus stays the stage-2
    * rerank side, exactly as [[IvfPqIndex]] keeps the corpus for exact
    * rerank.
    */
  final case class BinaryIndex(words: DataFrame, dim: Int) {

    /** One-row self-description `(dim, n_words)` — `n_words` is stated
      * redundantly with `dim` on purpose: [[binaryIndexLoad]] re-derives
      * it and fails fast on mismatch (the flag-free loader convention).
      */
    def meta: DataFrame =
      words.sparkSession.range(1)
        .select(lit(dim).as("dim"), lit((dim + 31) / 32).as("n_words"))
  }

  /** Pack the corpus ONCE — one narrow pass, no shuffle; rows not
    * `dim`-wide drop (the [[binaryRerankTopK]] ragged-row policy).
    */
  def binaryIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int): BinaryIndex =
    BinaryIndex(
      corpus.filter(size(col(vecCol)) === dim)
        .select(col(idCol).as("id"), signPack(col(vecCol), dim).as("words")),
      dim)

  /** Persist words + meta under one directory (plain parquet — any
    * engine reads the packed words).
    */
  def binaryIndexSave(index: BinaryIndex, dir: String): Unit =
    saveIndexDir(dir, index.meta,
      Seq(() => index.words.write.mode(SaveMode.Overwrite).parquet(s"$dir/words")))

  /** The one save path of every index directory (IVF-PQ, binary, sparse):
    * an old `meta/` is deleted first, the `data` writes run as concurrent
    * jobs ([[Par.run]]), and `meta` is written only after all of them
    * succeeded. So `<dir>/meta` marks a complete save: a data write that
    * throws leaves no `meta/` behind, over a fresh directory or an older
    * index alike.
    */
  private[operators] def saveIndexDir(dir: String, meta: DataFrame,
                                      data: Seq[() => Unit]): Unit = {
    val p = new Path(s"$dir/meta")
    p.getFileSystem(meta.sparkSession.sparkContext.hadoopConfiguration)
      .delete(p, true)
    Par.run(data)
    meta.write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
  }

  /** The file system of index directory `dir`, which must hold each of
    * `rels`: a missing one fails as `<dir>/<rel> is missing — a torn
    * directory`, not as Spark's path error.
    */
  private[operators] def requireRelations(spark: SparkSession, dir: String,
                                          rels: Seq[String]): FileSystem = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    rels.foreach(rel => require(fs.exists(new Path(s"$dir/$rel")),
      s"$dir/$rel is missing — a torn directory"))
    fs
  }

  /** A parquet file directly under `<dir>/<rel>`: a relation left with
    * none fails as `<dir>/<rel> holds no parquet file — a torn directory`.
    */
  private[operators] def parquetFileOf(fs: FileSystem, dir: String, rel: String): Path = {
    val file = fs.listStatus(new Path(s"$dir/$rel")).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
    require(file.isDefined, s"$dir/$rel holds no parquet file — a torn directory")
    file.get
  }

  /** Reopen a persisted binary index flag-free: `dim` comes from meta,
    * `n_words` is re-derived from it and REQUIRED to match the stored
    * value, and the words relation must hold exactly (id, words) — a
    * foreign or truncated directory fails here, not as silently wrong
    * hamming ranks. A missing `words/` or `meta/`, or one without a
    * parquet file, fails as `<dir>/<relation> … a torn directory`.
    * Metadata-priced (one-row meta read + a schema check; the words
    * relation is never scanned at open).
    */
  def binaryIndexLoad(spark: org.apache.spark.sql.SparkSession,
                      dir: String): BinaryIndex = {
    val fs = requireRelations(spark, dir, Seq("words", "meta"))
    Seq("words", "meta").foreach(parquetFileOf(fs, dir, _))
    val metaRows = spark.read.parquet(s"$dir/meta")
      .select(col("dim").cast("int"), col("n_words").cast("int")).limit(2).collect()
    require(metaRows.length == 1,
      s"$dir/meta must hold exactly one row, got ${metaRows.length}")
    val (dim, nWords) = (metaRows.head.getInt(0), metaRows.head.getInt(1))
    require(nWords == (dim + 31) / 32,
      s"meta is self-inconsistent: dim $dim needs ${(dim + 31) / 32} words " +
        s"but meta says $nWords")
    val words = spark.read.parquet(s"$dir/words")
    require(words.columns.sorted.sameElements(Array("id", "words")),
      s"$dir/words must hold exactly (id, words), got " +
        words.columns.mkString("(", ", ", ")"))
    BinaryIndex(words, dim)
  }

  /** Serve binary two-stage retrieval from a PERSISTED index — stage 1
    * reads the packed words relation (1/32 of the float bytes) and ranks
    * every (query, candidate) pair by sign agreement against the
    * `dim`-wide queries' words; stage 2 exact-reranks against the float
    * corpus. The inline [[binaryRerankTopK]] is this verb over a fresh
    * build, so the graded query reuses q270's oracle verbatim.
    */
  def binarySearch(index: BinaryIndex, corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   rerank: Int = 20): DataFrame = {
    rerankCheck(k, rerank)
    val dim = index.dim
    val qWords = queries.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("query_id"), signPack(col(vecCol), dim).as("__qw"))
    exactRerank(
      survivors(
        index.words.select(col("id").as("neighbor_id"), col("words").as("__cw"))
          .crossJoin(broadcast(qWords)),
        (lit(dim.toLong) - hamming(col("__cw"), col("__qw"), dim)).cast("double"),
        rerank),
      normed(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn"),
      queries, idCol, vecCol, k)
  }

  /** CELL-PRUNED binary serving — FAISS's IVF-with-binary-refinement
    * shape: an [[IvfPqIndex]] built with `storeSignWords = true` carries
    * each row's packed sign words beside its codes, so stage 1 becomes
    * "rank the rows of the query's `nProbe` probed cells by sign
    * agreement" instead of a full corpus scan ([[binaryRerankTopK]]'s
    * documented floor), and stage 2 exact-reranks the top `rerank`
    * survivors — from the index's `vec` payload when it carries one
    * (`storeVectors = true`; the serve then reads NO external table),
    * else from the float corpus.
    *
    * Semantics note: this is IVF candidate generation (a row outside
    * every probed cell of a query is NOT a candidate for it), so
    * results match [[binaryRerankTopK]] only at `nProbe = nCentroids`
    * (spec-pinned); at small nProbe the recall question is
    * [[annRecallReportFor]]'s job, exactly as for [[ivfPqSearch]].
    *
    * 100 TB shape: over a cell-clustered layout
    * ([[ivfPqIndexSaveClustered]]) the probed-cell predicate is a
    * PARTITION filter — stage 1 reads ~|probed|/nCentroids of the words
    * relation at 8 bytes per 64 dims: the IVF scan discount and the
    * 1-bit byte discount COMPOSE. The query relation is read twice
    * (probed-cell collect + the search) and is defensively snapshotted
    * with a lazy `localCheckpoint`, the [[ivfPqSearchPruned]] rule.
    */
  def binarySearchCells(index: IvfPqIndex, corpus: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nProbe: Int = 4, rerank: Int = 20): DataFrame = {
    rerankCheck(k, rerank)
    require(index.codes.columns.contains("words"),
      "index carries no sign words — build with storeSignWords=true, or " +
        "serve with binaryRerankTopK/binarySearch")
    val (codebook, dim) = (index.coarse, index.dim)
    val (qs, codes) = probedCells(index.codes, queries, vecCol, codebook, nProbe)
    // query side: packed words + the exploded probe cells, broadcast —
    // each (query, candidate) pair joins once because a row's cell is
    // unique and a query's probe set is distinct
    val qWords = normed(qs, idCol, vecCol, "query_id", "__qv", "__qn")
      .select(col("query_id"), signPack(col("__qv"), dim).as("__qw"),
        explode(nearestCells(codebook, col("__qv"), nProbe)).as("cell"))
    val cand = codes
      .select(col("id").as("neighbor_id"), col("cell"), col("words").as("__cw"))
      .join(broadcast(qWords), "cell")
    // stage 2: a stored vec payload serves its own rerank (the pruned
    // codes relation — corpus-free, both stages partition-pruned)
    exactRerank(
      survivors(cand,
        (lit(dim.toLong) - hamming(col("__cw"), col("__qw"), dim)).cast("double"),
        rerank),
      rerankVectors(codes, Option.unless(codes.columns.contains("vec"))(corpus),
        idCol, vecCol),
      qs, idCol, vecCol, k)
  }

  /** Operating-point planner for [[binarySearchCells]] — the q242/q262
    * convention for the binary-cells axis: sweep the full
    * (nProbe, rerank) grid against measured recall (vs exact brute
    * force on the bounded query sample) and the EXACT stage-1
    * candidate-row count (probe ranks joined to cell occupancy — not a
    * uniform estimate), choose the point meeting `targetRecall` with
    * the fewest stage-1 rows then the smallest rerank (the two cost
    * axes ordered lexicographically — hamming rows and exact-cosine
    * rows are different units, never summed into a fake composite).
    * Output `(n_probe, rerank, mean_recall, est_rows, chosen)` —
    * `est_rows` is the batch's stage-1 (query, candidate) hamming
    * evaluations before the self filter, the number the partition-
    * pruned scan actually pays, a function of nProbe alone.
    *
    * One shared chain, NO per-point search: probes rank once at the
    * WIDEST grid point (a tighter point is a prefix of the best-first
    * probe list), each candidate joins the grid points its probe rank
    * reaches — so the grid costs one stage-1 pass and one heap per
    * (n_probe, query) ([[gridHits]]), not |grid| searches. The recall
    * arm measures the REAL end-to-end relation (hamming top-rerank,
    * exact rerank top-`k`), the q271 convention —
    * which is exactly what exposes the rerank axis: a wider probe set
    * can LOWER recall at a tight rerank (heap displacement), and the
    * grid prices the fix.
    *
    * 100 TB shape: the brute-force arm is the point of the bounded
    * query sample (the [[graft.operators.Sampling.hashSampleN]]
    * contract); everything else is (queries·pMax)-sized probe
    * bookkeeping, one candidate pass, and nCentroids-sized occupancy.
    * The one window is grid-sized (the chosen pick).
    */
  def binaryCellsOperatingPlan(index: IvfPqIndex, corpus: DataFrame,
                               queries: DataFrame, idCol: String,
                               vecCol: String, k: Int, nProbes: Seq[Int],
                               reranks: Seq[Int],
                               targetRecall: Double): DataFrame = {
    require(index.codes.columns.contains("words"),
      "index carries no sign words — build with storeSignWords=true")
    require(nProbes.nonEmpty && nProbes == nProbes.distinct &&
      nProbes.forall(_ >= 1), s"bad nProbe grid: $nProbes")
    require(reranks.nonEmpty && reranks == reranks.distinct,
      s"bad rerank grid: $reranks")
    require(k >= 1 && reranks.forall(_ >= k),
      s"every rerank must be >= k=$k >= 1: $reranks")
    require(targetRecall >= 0.0 && targetRecall <= 1.0,
      s"targetRecall out of [0,1]: $targetRecall")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (codebook, dim) = (index.coarse, index.dim)
    val pMax = nProbes.max
    val qs = queries.localCheckpoint(false)
    val bf = bruteForceTopK(corpus, qs, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val probes = normed(qs, idCol, vecCol, "query_id", "__qv", "__qn")
      .select(col("query_id"), signPack(col("__qv"), dim).as("__qw"),
        posexplode(nearestCells(codebook, col("__qv"), pMax))
          .as(Seq("__pos", "cell")))
      .select(col("query_id"), col("__qw"), col("cell"),
        (col("__pos") + 1).as("__prn"))
    // read once, by the grid's one stage-1 aggregation ([[gridHits]]):
    // the "one stage-1 pass plus grid-sized rollups" contract
    val cand = index.codes
      .select(col("id").as("neighbor_id"), col("cell"), col("words").as("__cw"))
      .join(broadcast(probes), "cell")
      .withColumn("__agree",
        (lit(dim.toLong) - hamming(col("__cw"), col("__qw"), dim)).cast("double"))
    val combos = for { p <- nProbes; r <- reranks } yield (p, r)
    val hits = gridHits(nProbes, reranks, cand, col("__agree"),
      rerankVectors(index.codes,
        Option.unless(index.codes.columns.contains("vec"))(corpus), idCol, vecCol),
      qs, bf, idCol, vecCol, k)
    // EXACT per-point stage-1 rows: probe ranks joined to cell
    // occupancy (empty cells contribute 0) — grid-sized one-row rollups
    val occ = index.codes.groupBy(col("cell")).agg(count(lit(1)).as("__occ"))
    val probeOcc = probes.select(col("cell"), col("__prn"))
      .join(occ, Seq("cell"), "left")
      .select(col("__prn"), coalesce(col("__occ"), lit(0L)).as("__occ"))
    val est = probeOcc.withColumn("n_probe", probePoints(nProbes))
      .groupBy(col("n_probe")).agg(sum(col("__occ")).as("est_rows"))
    val nq = bf.agg(countDistinct(col("query_id")).as("__nq"))
    // chosen: among meeting points the fewest stage-1 rows then the
    // smallest rerank (the two cost axes, un-mixed — hamming rows and
    // exact-cosine rows are different units, so they order
    // lexicographically instead of summing into a fake composite);
    // no meeting point → best recall, then cheapest
    val meets = col("mean_recall") >= targetRecall
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      meets.desc, when(meets, col("est_rows")).asc_nulls_last,
      when(meets, col("rerank")).asc_nulls_last,
      col("mean_recall").desc, col("est_rows").asc,
      col("n_probe").asc, col("rerank").asc)
    combos.toDF("n_probe", "rerank")
      .join(hits, Seq("n_probe", "rerank"), "left")
      .join(est, Seq("n_probe"), "left")
      .withColumn("est_rows", coalesce(col("est_rows"), lit(0L)))
      .crossJoin(broadcast(nq))
      .withColumn("mean_recall",
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          (lit(k.toLong) * col("__nq")).cast("double"), 6))
      .withColumn("chosen", row_number().over(w) === 1)
      .select("n_probe", "rerank", "mean_recall", "est_rows", "chosen")
  }

  /** The grid tail both operating-point planners share, one aggregation
    * per stage whatever the grid's size (a union of one heap per point
    * would grow the serialized plan, and so every job's task binary, by
    * ~1 MiB per point). Each stage-1 candidate of `cand` is exploded to the
    * `n_probe` points whose probe set holds it ([[probePoints]]), and ONE
    * [[survivorHeaps]] heap of the widest rerank runs per
    * `(n_probe, query_id)`; each rerank point keeps a prefix of it, the
    * same set as its own heap by `score`. ONE
    * exact-cosine pass ([[rerankPairs]]) then reranks every point's
    * survivors, the per-point top-`k` heap grouped by the grid keys — the
    * [[explodeRanks]] score and (cos desc, id asc) tie rule, so the same
    * top-k sets as a per-point search. Output: the hits against brute
    * force `bf` per point, `(n_probe, rerank, __hits)`.
    */
  private def gridHits(nProbes: Seq[Int], reranks: Seq[Int], cand: DataFrame,
                       score: Column, rerankVecs: DataFrame, qs: DataFrame,
                       bf: DataFrame, idCol: String, vecCol: String,
                       k: Int): DataFrame = {
    val anns = survivorHeaps(cand.withColumn("n_probe", probePoints(nProbes)),
        score, reranks.max, Seq("n_probe"))
      .withColumn("rerank", explode(typedLit(reranks)))
      .select(col("n_probe"), col("rerank"), col("query_id"),
        explode(transform(slice(col("__top"), lit(1), col("rerank")),
          e => e.getField("id"))).as("neighbor_id"))
    rerankPairs(anns, rerankVecs, qs, idCol, vecCol)
      .groupBy(col("n_probe"), col("rerank"), col("query_id"))
      .agg(TopKOps.topK(k, col("cos"), col("neighbor_id")).as("__top"))
      .select(col("n_probe"), col("rerank"), col("query_id"),
        explode(transform(col("__top"), e => e.getField("id"))).as("neighbor_id"))
      .join(bf, Seq("query_id", "neighbor_id"))
      .groupBy(col("n_probe"), col("rerank")).agg(count(lit(1)).as("__hits"))
  }

  /** A row's grid points: the `n_probe` values of `nProbes` whose
    * best-first probe set reaches its probe rank `__prn`, exploded.
    */
  private def probePoints(nProbes: Seq[Int]): Column =
    explode(filter(typedLit(nProbes), p => p >= col("__prn")))

  /** Matryoshka (prefix-dimension) two-stage retrieval — the MRL serving
    * pattern: rank every (query, candidate) pair by the cosine of the
    * FIRST `prefixDim` dims only (an MRL-trained embedding front-loads
    * its information, so the prefix is a faithful cheap rank), keep the
    * top `rerank` per query, then exact full-dim cosine on the
    * survivors. The [[quantizedRerankTopK]] skeleton with the truncation
    * axis being DIMENSIONS instead of precision — stage 1 touches
    * prefixDim/dim of the data per vector at scale (store the prefix as
    * its own column and the scan prunes to it physically).
    *
    * Zero-norm policy, extended to the truncation: stage 1 drops rows
    * whose PREFIX norm is zero (a zero prefix has no stage-1 direction;
    * a nonzero prefix implies a nonzero full vector, so this subsumes
    * the [[cosinePairs]] drop). Both rankings are bounded-heap
    * aggregates with id tiebreaks — rank-deterministic cross-engine.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, prefixDim: Int,
                     rerank: Int = 20): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    def pre(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
        slice(asDouble(col(vecCol)), 1, prefixDim).as(s"__p$id"))
        .withColumn(s"__pn$id", norm(col(s"__p$id")))
        .filter(col(s"__pn$id") > 0)
    val cand = pre(corpus, "neighbor_id")
      .crossJoin(broadcast(pre(queries, "query_id")))
    exactRerank(
      survivors(cand,
        dot(col("__pneighbor_id"), col("__pquery_id")) /
          (col("__pnneighbor_id") * col("__pnquery_id")),
        rerank),
      normed(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn"),
      queries, idCol, vecCol, k)
  }

  /** Bucketed ANN top-k: equi-join on LSH bucket instead of a cross join.
    * Recall < 1 by construction; `probeBits` > 0 adds multi-probe: each
    * query also searches every bucket within that Hamming distance of its
    * own (union of single-bit flips for probeBits = 1).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 4, probeBits: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"),
      lshBucket(kernelVec(corpus, vecCol), planes).as("bucket"))
      .withColumn("__cn", norm(col("__cv")))
      .filter(col("__cn") > 0)
    val q0 = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"),
      lshBucket(kernelVec(queries, vecCol), planes).as("bucket"))
      .withColumn("__qn", norm(col("__qv")))
      .filter(col("__qn") > 0)
    // multi-probe: explode each query over its own bucket plus every bucket
    // within Hamming distance `probeBits` — recall rises, candidates stay few
    val q = if (probeBits <= 0) q0 else {
      val masks = probeMasks(planes, probeBits).filter(_ != 0L)
      val flips = masks.map(m => col("bucket").bitwiseXOR(lit(m)))
      q0.withColumn("bucket", explode(array(col("bucket") +: flips: _*)))
    }
    val pairs = c.join(broadcast(q), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
    explodeRanks(pairs, k, col("cos"), col("neighbor_id"))
  }

  /** [[lshTopK]] with `planes` DERIVED from the corpus size — the
    * query-vs-corpus twin of the near-dup planes sizing: under
    * uniform occupancy a query meets `maskCount(planes) · n / 2^planes`
    * candidates, so [[planesFor]] picks the smallest planes holding
    * that at `candidateBudgetPerQuery` — a FIXED planes knob makes
    * per-query serving work grow linearly with the corpus (the
    * pipe_hybrid_rrf guard's dense arm measured exactly that before
    * this sizing). Costs one `count()` up front; recall is the knob the
    * budget trades away — gate with [[annRecallReport]] before
    * production trusts a budget.
    */
  def lshTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, probeBits: Int = 1,
                  candidateBudgetPerQuery: Long = 4096L,
                  maxPlanes: Int = 24): DataFrame =
    lshTopK(corpus, queries, idCol, vecCol, k,
      planesFor(corpus.count(), candidateBudgetPerQuery, probeBits, maxPlanes),
      probeBits)

  /** ANN quality evaluation: per query, how many of the EXACT cosine
    * top-`k` ([[bruteForceTopK]]) the LSH-bucketed path ([[lshTopK]])
    * recovered — `(query_id, n_hit, recall)` with `recall = n_hit/k`,
    * 6 dp. The self-check every approximate index needs before a
    * pipeline trusts it: run on a query SAMPLE, read the mean recall,
    * then tune `planes`/`probeBits` until it clears the bar.
    *
    * 100 TB shape: the brute-force arm is the expensive half — it exists
    * here precisely because this is an EVALUATION operator meant for a
    * bounded query sample (hundreds), where exact top-k over a
    * broadcast query set is one corpus scan; the LSH arm is the
    * production path being graded. The overlap join and rollup are
    * (queries × k)-sized.
    */
  def annRecallReport(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, planes: Int = 4,
                      probeBits: Int = 0): DataFrame =
    annRecallReportFor(corpus, queries, idCol, vecCol, k,
      lshTopK(corpus, queries, idCol, vecCol, k, planes, probeBits))

  /** [[annRecallReport]] against an EXPLICIT approximate result relation
    * `ann` (`(query_id, neighbor_id, …)` — any of this file's top-k
    * operators, e.g. [[ivfPqTopK]] or [[ivfPqSearch]]): the graded way
    * to put a composed index's recall-vs-brute on the oracle surface
    * instead of spec-only. Same `(query_id, n_hit, recall)` output and
    * bounded-query-sample cost contract.
    *
    * PRECONDITION: `ann` must have been computed over the SAME `queries`
    * relation (or a superset) — the report left-joins the brute-force
    * side, so a query missing from `ann` silently grades as recall 0,
    * which is indistinguishable from a genuinely recall-0 index. Pass
    * the identical query sample to both arms (every graded caller here
    * derives both from one hash-sample relation).
    */
  def annRecallReportFor(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, k: Int, ann: DataFrame): DataFrame = {
    val bf = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val ap = ann.select(col("query_id"), col("neighbor_id"))
    bf.join(ap.withColumn("__hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / lit(k.toDouble), 6))
  }

  /** Embedding-space ANISOTROPY report — the Ethayarajh-style geometry
    * diagnostic: over all pairs of the supplied (SAMPLE) relation, the
    * mean and mean-absolute 6-dp cosine, as ONE row
    * `(n_vectors, n_pairs, mean_cos, mean_abs_cos)`. A healthy embedding
    * space for retrieval has mean pairwise cosine near 0; a high mean
    * says every vector shares a dominant direction, and cosine scores
    * compress into a narrow band — thresholds tuned elsewhere stop
    * transferring. Zero-norm rows drop under the [[cosinePairs]] policy;
    * per-pair cosines land on DECIMAL(9,6) so the means are
    * order-independent and engine-exact.
    *
    * BOUNDED-SAMPLE CONTRACT (the [[nearDupRecallReport]] convention):
    * the all-pairs arm is O(m²) in the INPUT relation by design — the
    * caller passes a deterministic hash sample sized in ABSOLUTE rows
    * ([[graft.operators.Sampling.hashSampleN]] — a proportional permille
    * sample regrows the pair join at corpus scale), never the corpus;
    * pair count, not corpus size, is what the operator scales with.
    *
    * `dim` is the expected vector width: rows whose vector is null,
    * contains nulls, or is not exactly `dim` wide are dropped (the
    * [[signProject]]/[[kmeansLloyd]] width rule — a ragged vector would
    * silently zip the pair dot to the shorter width and skew the mean).
    */
  def anisotropyReport(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val v = df
      .filter(col(vecCol).isNotNull && forall(col(vecCol), x => x.isNotNull))
      .filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .filter(col("__n") > 0)
    val a = v.select(col("__id").as("__ida"), col("__v").as("__va"),
      col("__n").as("__na"))
    val b = v.select(col("__id").as("__idb"), col("__v").as("__vb"),
      col("__n").as("__nb"))
    val pairs = a.crossJoin(b).filter(col("__ida") < col("__idb"))
      .select(zround(dot(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")), 6).cast("decimal(9,6)").as("__cos"))
    val nv = v.agg(count(lit(1)).as("n_vectors"))
    // zround: a near-isotropic sample's mean lands in (−5e-7, 0) — the
    // exact regime this gate exists for — and must not hash-split on
    // the −0.0 sign (the Rounding.scala rule)
    val pr = pairs.agg(
      count(lit(1)).as("n_pairs"),
      zround(sum(col("__cos")).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean_cos"),
      round(sum(abs(col("__cos"))).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean_abs_cos"))
    nv.crossJoin(pr)
  }

  /** [[anisotropyReport]] PER GROUP — the slice view: pairs are formed
    * WITHIN each group (label, source, language …) and the report is
    * one row per group `(group, n_vectors, n_pairs, mean_cos,
    * mean_abs_cos)` — "which slice's embedding region collapsed", the
    * per-source drift audit the one-row corpus view can't localize.
    * Groups with fewer than two usable vectors still appear, with
    * `n_pairs` 0 and null means (a LEFT join from the per-group vector
    * counts). Same bounded-sample contract, zero-norm policy, width
    * rule (`dim`), and DECIMAL(9,6) pair-cosine exactness as the
    * corpus form.
    */
  def anisotropyReportByGroup(df: DataFrame, idCol: String, vecCol: String,
                              groupCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val v = df
      .filter(col(vecCol).isNotNull && forall(col(vecCol), x => x.isNotNull))
      .filter(size(col(vecCol)) === dim)
      .select(col(groupCol).as("__grp"), col(idCol).as("__id"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .filter(col("__n") > 0)
    val a = v.select(col("__grp"), col("__id").as("__ida"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = v.select(col("__grp"), col("__id").as("__idb"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    val pr = a.join(b, Seq("__grp")).filter(col("__ida") < col("__idb"))
      .select(col("__grp"), zround(dot(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")), 6).cast("decimal(9,6)").as("__cos"))
      .groupBy(col("__grp"))
      .agg(count(lit(1)).as("n_pairs"),
        zround(sum(col("__cos")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_cos"),
        round(sum(abs(col("__cos"))).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_abs_cos"))
    v.groupBy(col("__grp")).agg(count(lit(1)).as("n_vectors"))
      .join(pr, Seq("__grp"), "left")
      .select(col("__grp").as(groupCol), col("n_vectors"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("mean_cos"), col("mean_abs_cos"))
  }

  /** [[planeWeight]]'s driver-side twin — the identical square-then-
    * multiply mod 2³¹−1 integer mixer evaluated in Scala, so projection
    * operators can bake the weight MATRIX into literal arrays once
    * instead of re-generating per-row weight arrays per plane (the
    * interpreted-generation cost [[graft.functions.LshBucketExpr]]
    * exists to avoid). Bit-equal to the Column form by construction
    * (same arithmetic, every intermediate < 2⁶²; SimilaritySpec pins
    * the parity).
    */
  private[operators] def planeWeightScala(plane: Int, dim: Int): Long = {
    val P = 2147483647L
    val w1 = ((plane + 1).toLong * 1566083941L + dim.toLong * 1812433253L) % P
    val w2 = (w1 * w1) % P
    w2 * 1103515245L % P % 1001L - 500L
  }

  /** Deterministic random-projection DIMENSIONALITY REDUCTION at a
    * KNOWN width — [[randomProjection]]'s literal-weight production
    * form and the value-preserving twin of [[lshBucket]]: project each
    * `dim`-wide vector onto `outDim` pseudo-random integer hyperplanes
    * (the [[planeWeight]] mixer, planes `planeOffset until planeOffset +
    * outDim`) and keep the 6-dp projection VALUES instead of their sign
    * bits — the Achlioptas/JL-class reduction run before ANN when the
    * native width is too expensive to scan (cosine structure is
    * approximately preserved; gate with [[annRecallReportFor]] over the
    * projected relation before production trusts a width). At offset 0
    * the values are bit-identical to [[randomProjection]]'s
    * (SimilaritySpec parity) — this form trades its width-agnosticism
    * for skipping the per-row per-plane interpreted weight-array build
    * (the cost [[graft.functions.LshBucketExpr]] exists to avoid on the
    * sign path). Output `(id, proj array<double>)` — an array column, so
    * the projected relation feeds [[bruteForceTopK]]/[[lshBucket]]/
    * [[kmeansLloyd]] directly; rows whose vector is null, contains
    * nulls, or is not exactly `dim` wide are dropped (the
    * [[kmeansLloyd]] width rule — a ragged vector would null the fold).
    *
    * 100 TB shape: the weight matrix is outDim·dim literal doubles baked
    * driver-side ([[planeWeightScala]]) — ZERO joins, zero per-row weight
    * generation; the projection is one narrow map pass (outDim native
    * dot kernels per row), embarrassingly parallel, no exchange
    * (PlanSpec-pinned).
    */
  def signProject(df: DataFrame, idCol: String, vecCol: String,
                  outDim: Int, dim: Int, planeOffset: Int = 0): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(planeOffset >= 0, s"planeOffset must be >= 0, got $planeOffset")
    val w: Array[Array[Double]] = Array.tabulate(outDim, dim)((p, j) =>
      planeWeightScala(planeOffset + p, j).toDouble)
    df.filter(col(vecCol).isNotNull && forall(col(vecCol), x => x.isNotNull))
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .filter(size(col("__v")) === dim)
      .select(col(idCol),
        array((0 until outDim).map(p =>
          zround(dot(col("__v"), lit(w(p))), 6)): _*).as("proj"))
  }

  /** The (nProbe, rerank) operating-point PLANNER —
    * [[graft.operators.Dedup.bandingPlan]]'s ANN twin: sweep the probe/
    * rerank grid against [[annRecallReportFor]]'s recall on a bounded
    * query sample and emit ONE relation
    * `(n_probe, rerank, mean_recall, est_cost, chosen)`, so an index's
    * operating point is MEASURED on the caller's own data instead of
    * guessed. `mean_recall` is `Σ hits / (k · |queries|)` at 6 dp (the
    * per-query recalls' mean, since every query contributes exactly k
    * brute-force rows); `est_cost` is the uniform-occupancy per-query
    * work model at 6 dp:
    * `nProbe · subspaces · nCodes / nCentroids` stage-1 ADC adds plus
    * `rerank · subspaces · subDim` exact-dot FLOPs — a RANKING cost
    * proxy (right ordering, not microseconds). `chosen` flags the
    * cheapest point meeting `targetRecall`, falling back to the highest
    * recall when none does; ties break (est_cost, mean_recall desc,
    * n_probe, rerank) — fully deterministic.
    *
    * One shared chain, NO per-point search (round 17 — the
    * [[binaryCellsOperatingPlan]] convention brought to the PQ axis):
    * probes rank once at the WIDEST grid point (a tighter point's probe
    * set is a PREFIX of the best-first cell ranking, and the 6-dp ADC
    * score depends only on the (query, candidate) pair — never on
    * nProbe or rerank), the stage-1 candidates are read once, one
    * bounded heap per (n_probe, query) serves every rerank as a prefix
    * ([[gridHits]]), and ONE exact-cosine pass reranks every point's
    * survivors grouped by the grid keys. Results are identical to running
    * [[ivfPqSearch]] per point (same candidate sets, same heaps, same
    * tie rules — spec-pinned against the per-point recall report).
    *
    * 100 TB shape: the eval-operator contract — queries are a bounded
    * hash sample ([[graft.operators.Sampling.hashBucket]]); the
    * brute-force arm COMPUTES once (localCheckpointed before the
    * hit-join and the query count both read it — reuse by
    * materialization, not by hoping AQE dedups the subtree); the
    * codebooks and their sizes are the index's fields, never a job; the
    * whole grid costs ONE pass
    * over the persisted codes (it previously cost |grid| passes), one
    * stage-1 aggregation (its input bounded by the batch's probed-cell
    * occupancy at pMax times |nProbes|), and everything after the heaps
    * is (grid × queries × k)-sized.
    */
  def ivfPqOperatingPointPlan(index: IvfPqIndex, corpus: DataFrame,
                              queries: DataFrame, idCol: String, vecCol: String,
                              k: Int, nProbes: Seq[Int], reranks: Seq[Int],
                              targetRecall: Double): DataFrame = {
    require(nProbes.nonEmpty && reranks.nonEmpty, "empty operating-point grid")
    require(nProbes == nProbes.distinct && reranks == reranks.distinct,
      "duplicate grid points")
    require(reranks.forall(_ >= k), s"every rerank must be >= k=$k: $reranks")
    require(targetRecall >= 0.0 && targetRecall <= 1.0,
      s"targetRecall out of [0,1]: $targetRecall")
    val spark = corpus.sparkSession
    import spark.implicits._
    val combos = for { p <- nProbes; r <- reranks } yield (p, r)
    // the query relation feeds both arms (brute force + probes) — the
    // defensive lazy snapshot keeps them reading the same rows (the
    // ivfPqSearchPruned rule)
    val qs = queries.localCheckpoint(false)
    val bf = bruteForceTopK(corpus, qs, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val subspaces = index.pq.length
    // query side ONCE at the widest probe count: the search's
    // [[ivfPqProbes]], whose `__prn` rank the prefix filters read
    val probes = ivfPqProbes(index, qs, idCol, vecCol, nProbes.max)
    val coded = codedSide(index.codes, subspaces)
    // read once, by the grid's one stage-1 aggregation ([[gridHits]])
    val cand = coded.join(broadcast(probes), "cell")
      .select(col("query_id"), col("neighbor_id"), col("__prn"),
        adcScore(subspaces, index.residual).as("__approx"))
    val hits = gridHits(nProbes, reranks, cand, col("__approx"),
      normed(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn"),
      qs, bf, idCol, vecCol, k)
    // one-row: |queries|, |codes|
    val stats = bf.agg(countDistinct(col("query_id")).as("__nq"))
      .crossJoin(index.codes.agg(count(lit(1)).as("__ncodes")))
    val meets = col("mean_recall") >= targetRecall
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      meets.desc, when(meets, col("est_cost")).asc_nulls_last,
      col("mean_recall").desc, col("est_cost").asc,
      col("n_probe").asc, col("rerank").asc)
    combos.toDF("n_probe", "rerank")
      .join(hits, Seq("n_probe", "rerank"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("mean_recall",
        round(coalesce(col("__hits"), lit(0L)).cast("double") /
          (lit(k.toLong) * col("__nq")).cast("double"), 6))
      .withColumn("est_cost", round(
        col("n_probe").cast("double") * lit(subspaces.toDouble) *
          col("__ncodes").cast("double") / lit(index.coarse.length.toDouble) +
          col("rerank").cast("double") * lit(subspaces.toDouble) *
            lit(index.subDim.toDouble), 6))
      .withColumn("chosen", row_number().over(w) === 1)
      .select("n_probe", "rerank", "mean_recall", "est_cost", "chosen")
  }

  /** Banded near-dup RECALL gate — [[annRecallReport]]'s twin for the
    * all-pairs generators: on a deterministic hash SAMPLE of the corpus
    * (the [[graft.operators.Sampling.hashBucket]] permille contract),
    * compare [[nearDupPairsBanded]]'s pair set against the exhaustive
    * exact-threshold pair set and report ONE row
    * `(n_exact, n_banded, recall)` — "is my `planes`/`tables` sizing
    * safe on MY data", measured before a full dedup run trusts it.
    * Banded pairs are a SUBSET of exact pairs by construction (same
    * division-free `dot > t·‖a‖·‖b‖` verification), so recall is the
    * one number that can move; NULL when the sample holds no exact pair.
    *
    * 100 TB shape: the O(m²) exhaustive arm is the point of the sample
    * bound, and the bound is ABSOLUTE — `sampleRows` winners of the
    * [[graft.operators.Sampling.hashSampleN]] lottery, so the pair join
    * is pinned at sampleRows²/2 no matter the corpus size (a permille
    * sample regrew it linearly); the banded arm runs the production
    * candidate path on the same sample. Bucket-collision rates on a
    * uniform hash sample are unbiased for the corpus's rates at equal
    * `planes` LOAD, so evaluate with the planes the sample's size
    * implies and extrapolate by the [[bandedPlanesFor]] model, or
    * simply gate the recall knob (`tables`), which is size-independent.
    */
  def nearDupRecallReport(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, planes: Int, tables: Int = 3,
                          sampleRows: Int = 4096,
                          salt: String = "us"): DataFrame = {
    val sample = graft.operators.Sampling.hashSampleN(df, idCol, sampleRows, salt)
    val exact = nearDupPairsExhaustive(sample, idCol, vecCol, threshold)
    val banded = nearDupPairsBanded(sample, idCol, vecCol, threshold, planes, tables)
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(banded.agg(count(lit(1)).as("n_banded")))
      .withColumn("recall",
        round(col("n_banded").cast("double") /
          when(col("n_exact") > 0, col("n_exact").cast("double")), 6))
  }

  /** k-NN label consistency — the SUPERVISED embedding-quality probe
    * ([[annRecallReport]]'s labeled twin): per label, the fraction of
    * query vectors whose k nearest corpus neighbors (exact cosine,
    * self excluded) majority-vote the query's own label. Low
    * consistency for a label means the embedding does not separate it —
    * the standard "is this embedding good enough to train on" gate
    * before a pipeline trusts the vectors. Output
    * `(label, n_queries, n_match, consistency)` — consistency 6 dp.
    *
    * Determinism: neighbors rank (cos desc, id asc) through the
    * bounded heap; the majority vote breaks count ties to the
    * LEXICOGRAPHICALLY SMALLEST label (min_by over (−count, label)).
    * NULL neighbor labels are excluded from the vote (Spark's struct
    * ordering puts nulls first where SQL row_number tie-breaks put them
    * last — filtering is the one convention both engines state
    * identically); a query whose every neighbor label is null drops.
    * Zero-norm queries/corpus rows drop ([[cosinePairs]] policy); a
    * query with no scorable neighbor drops from its label's tally.
    *
    * 100 TB shape: the eval-operator contract ([[annRecallReport]]) —
    * queries are a bounded sample, the corpus pays one broadcast-join
    * pass; everything after the heap is (queries × k)-sized.
    */
  def knnLabelConsistency(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, labelCol: String,
                          k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val nn = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val votes = nn
      .join(corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl")),
        "neighbor_id")
      .filter(col("__nl").isNotNull)
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__c"))
    val majority = votes.groupBy(col("query_id"))
      .agg(min_by(col("__nl"), struct((-col("__c")).as("nc"), col("__nl")))
        .as("knn_label"))
    queries.select(col(idCol).as("query_id"), col(labelCol).as("label"))
      .join(majority, "query_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("knn_label") === col("label"), 1L).otherwise(0L))
          .as("n_match"))
      .withColumn("consistency",
        round(col("n_match").cast("double") / col("n_queries").cast("double"), 6))
  }

  /** Two-NN intrinsic-dimension estimate (Facco et al. 2017, the
    * "TwoNN" MLE): for each query point, μ = d₂/d₁ — the ratio of its
    * second- to first-nearest-neighbor EUCLIDEAN distance — and the
    * corpus's intrinsic dimension is `n / Σ ln μ`. The "how many
    * degrees of freedom do these embeddings really use" diagnostic: a
    * 64-wide embedding cloud living on a ~9-D manifold dedups, clusters,
    * and quantizes like 9-D data, and a COLLAPSING embedding model shows
    * up as the estimate trending to ~1 long before retrieval metrics
    * sag. Output ONE row `(n_queries, sum_log_mu, id_estimate)`.
    *
    * Cross-engine exactness: squared distances enter at 6 dp (the
    * kmeans quantization recipe — also makes the (d asc, id asc) NN
    * ranking tie-stable), `ln μ = 0.5·ln(d₂²/d₁²)` rounds to 9 dp and
    * sums as DECIMAL (the q79 log-sum recipe), the estimate is one
    * terminal division at 6 dp. Queries with d₁ = 0 (an exact duplicate
    * neighbor — μ undefined) drop, documented; NULL estimate if every
    * μ = 1 (all mass at equal distance).
    *
    * Zero-norm vectors are LEGITIMATE here (Euclidean geometry, no
    * norm division) — no drop. Eval-operator contract: bounded query
    * sample, one broadcast pass over the partitioned corpus, bounded
    * top-2 heap per query.
    */
  def intrinsicDimensionTwoNN(corpus: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__c2", dot(col("__cv"), col("__cv")))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__q2", dot(col("__qv"), col("__qv")))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      // |a−b|² = |a|² − 2ab + |b|², 6-dp quantized for rank stability
      .withColumn("__d2",
        round(col("__c2") - lit(2.0) * dot(col("__cv"), col("__qv")) + col("__q2"), 6))
    val two = pairs.groupBy(col("query_id"))
      .agg(TopKOps.topK(2, -col("__d2"), col("neighbor_id")).as("__top"))
      .filter(size(col("__top")) === 2)
      .select(col("query_id"),
        (-element_at(col("__top"), 1).getField("score")).as("__d1"),
        (-element_at(col("__top"), 2).getField("score")).as("__d2"))
      // d₁ = 0 ⇒ an exact duplicate sits closest: μ is undefined — drop
      .filter(col("__d1") > 0)
      .withColumn("__logmu", round(lit(0.5) * log(col("__d2") / col("__d1")), 9))
    two.agg(
      count(lit(1)).as("n_queries"),
      round(sum(col("__logmu").cast("decimal(28,12)")).cast("double"), 6)
        .as("sum_log_mu"),
      round(count(lit(1)).cast("double") /
        when(sum(col("__logmu").cast("decimal(28,12)")) > 0,
          sum(col("__logmu").cast("decimal(28,12)")).cast("double")), 6)
        .as("id_estimate"))
  }

  /** Embedding covariance matrix `(i, j, cov)`, `cov = (Σxᵢxⱼ −
    * ΣxᵢΣxⱼ/n)/n` rounded 6 dp — the d² moment table behind PCA,
    * whitening, and drift monitors, computed from RAW moments so the
    * corpus is scanned ONCE (the centered two-pass formulation reads it
    * twice).
    *
    * Cross-engine exactness: embedding elements are floats (dyadic
    * rationals), each product is one exact-input double multiply, and
    * both moment sums aggregate as DECIMAL(38,12) — exact and
    * order-independent; the divisions happen once, in double, on both
    * engines' identical sums.
    *
    * 100 TB shape: the explode pair generates d² rows per vector but
    * only the UPPER-TRIANGLE d(d+1)/2 survive to the aggregation (the
    * j ≥ i filter halves the map-side combine work); the lower triangle
    * is MIRRORED from the aggregated cells — symmetric-cell equality
    * holds by construction, not by floating-point luck. `d` is an embedding dimension (≤ a few
    * k by meaning): d² sits in one executor comfortably; n never does —
    * nothing n-sized shuffles or reaches the driver.
    *
    * The rounded value is [[graft.functions.Rounding.zround]]-normalized
    * (and the oracle twin states the same `+ 0.0`): a tiny-negative cell
    * otherwise emits `-0.0` from DuckDB's round but `0.0` from Spark's —
    * numerically equal, hash-different (the round-10 q162 defect).
    */
  def covarianceMatrix(df: DataFrame, vecCol: String): DataFrame = {
    val upper = df.select(asDouble(col(vecCol)).as("__v"))
      .select(col("__v"), posexplode(col("__v")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("__v")).as(Seq("j", "xj")))
      // upper triangle: the filter sits between the generate and the
      // aggregation, halving the agg input. (A column-bounded slice()
      // before the second explode would halve GENERATION too, but its
      // per-output-row array copy measured 37× slower at sf0.1 — the
      // full explode is allocation-free.)
      .where(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      // the first moments ride the SAME (i, j) aggregation — within one
      // cell every row contributes its xᵢ exactly once, so the cell's
      // Σxᵢ IS the global Σxᵢ; a separate d-sized moment table would
      // mean a second corpus scan plus two broadcast joins
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,12)")).cast("double")
        .as("__sxy"),
        sum(col("xi").cast("decimal(38,12)")).cast("double").as("__sx"),
        sum(col("xj").cast("decimal(38,12)")).cast("double").as("__sy"),
        count(lit(1)).as("__n"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        zround((col("__sxy") - col("__sx") * col("__sy") / col("__n"))
          / col("__n"), 6).as("cov"))
    // mirror: cov is symmetric in (xi, xj) — double multiplication
    // commutes and the moment sums swap roles exactly, so the mirrored
    // cell is bit-identical to its source. The mirror EXPLODES the
    // aggregated cells (off-diagonal rows emit both coordinate
    // orientations), so the plan keeps exactly ONE corpus scan — no
    // second branch, no exchange-reuse reliance. `cov` rides OUTSIDE
    // the exploded structs: carrying it inside the CASE arrays made the
    // optimizer inline the whole rounded-moment expression into every
    // struct field — measured 35× slower at sf0.1 (CovBisect V2 vs V5).
    upper.select(col("cov"), explode(when(col("i") === col("j"),
        array(struct(col("i"), col("j"))))
      .otherwise(array(
        struct(col("i"), col("j")),
        struct(col("j").as("i"), col("i").as("j"))))).as("__c"))
      .select(col("__c.i").as("i"), col("__c.j").as("j"), col("cov"))
  }

  /** Johnson–Lindenstrauss random projection: `outDims` deterministic
    * pseudo-random hyperplane projections per vector — the cheap
    * dimensionality reduction in front of ANN/clustering (JL: pairwise
    * distances survive within (1±ε) for outDims = O(log n / ε²)). The
    * weights are the [[lshBucket]] plane-weight generator (the nonlinear
    * integer mixer whose sign bits those buckets keep; here the full dot
    * value is kept instead), so any engine stating the same integer
    * arithmetic and fold order reproduces the projections bit-for-bit
    * at 6 dp.
    *
    * This is the WIDTH-AGNOSTIC declarative form (weights generated
    * per row to the vector's own length — works on any embedding
    * width, costs a per-row per-plane interpreted array build). The
    * production form at a KNOWN width is [[signProject]]: the same
    * mixer baked into literal weight arrays once, value-identical
    * (SimilaritySpec parity) — the [[lshBucketDeclarative]]-vs-kernel
    * relationship.
    *
    * 100 TB shape: a pure narrow per-row kernel — `outDims` codegen'd
    * dot products, ZERO exchanges; column output `proj_0..proj_{k-1}`.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       outDims: Int): DataFrame = {
    require(outDims >= 1 && outDims <= 64, s"outDims out of [1,64]: $outDims")
    val v = col(vecCol)
    val projs = (0 until outDims).map { p =>
      val w = transform(sequence(lit(0), size(v) - 1),
        j => planeWeight(p, j).cast("double"))
      zround(dot(v, w), 6).as(s"proj_$p")
    }
    df.select(col(idCol) +: projs: _*)
  }

  /** Product-quantization encoding — the ANN compression standard: the
    * vector splits into `subspaces` contiguous `subDim`-wide slices and
    * each slice is k-means-coded independently (the [[kmeansLloyd]]
    * semantics per subspace: same first-k seeds, 9-dp component entry,
    * decimal-exact updates, 6-dp + id tie argmin — cell-for-cell the
    * suffixed q183 oracle chains), giving `subspaces · log2(k)` bits per
    * vector. Output `(id, code_0 … code_{subspaces−1})`.
    *
    * FUSED iteration (the q144 barrier-fusion precedent): the subspace
    * slices union into ONE (id, subspace, slice) relation and a single
    * Lloyd loop runs over it with (subspace, cluster)-keyed centroids —
    * each iteration is ONE corpus pass and ONE bounded
    * subspaces×k×subDim codebook collect, where the naive per-subspace
    * chains pay `subspaces` sequential driver barriers per iteration.
    * Per-subspace assignment picks its own codebook through a
    * short-circuiting `when` chain, so a row still folds only its k
    * centroids. The code pivot is one id-keyed aggregation, not
    * `subspaces − 1` self-joins.
    *
    * 100 TB shape: the slice explosion is a narrow pass (subspaces rows
    * per vector, each subDim wide — the same bytes as the input vector);
    * updates are map-side-combinable into subspaces×k×subDim cells; only
    * the codebook reaches the driver, `iters` times not
    * `subspaces · iters` times.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              subspaces: Int, subDim: Int, k: Int = 4, iters: Int = 2): DataFrame = {
    pqArgsCheck(subspaces, subDim, k, iters)
    probeWidth(df, vecCol).foreach(pqWidthCheck(subspaces, subDim, _))
    val slices = pqSlices(df, idCol, vecCol, subspaces, subDim)
    if (iters > 0) slices.persist()
    val centroids = pqTrainOn(slices, subspaces, k, iters)
    if (iters > 0) slices.unpersist(blocking = false)
    // code pivot: one id-keyed aggregation; an id missing any subspace
    // (per-slice validity) drops, matching the inner joins it replaces
    val codeCols = (0 until subspaces).map(sp =>
      max(when(col("__sp") === sp, col("cluster"))).as(s"code_$sp"))
    pqAssigned(slices, centroids)
      .groupBy(col("__id"))
      .agg(codeCols.head, codeCols.tail: _*)
      .filter((0 until subspaces).map(sp => col(s"code_$sp").isNotNull).reduce(_ && _))
      .select(col("__id").as(idCol) +:
        (0 until subspaces).map(sp => col(s"code_$sp")): _*)
  }

  /** The PQ codebooks alone — `centroids(subspace)(cluster)(dim)`, the
    * [[pqCodes]] training loop without the code pivot; [[ivfPqIndexBuild]]
    * folds these back as LITERAL lookup tables and has checked the
    * geometry against the coarse codebook's width, on the driver.
    */
  private def pqTrain(df: DataFrame, idCol: String, vecCol: String,
                      subspaces: Int, subDim: Int, k: Int,
                      iters: Int): Array[Array[Array[Double]]] = {
    val slices = pqSlices(df, idCol, vecCol, subspaces, subDim)
    if (iters > 0) slices.persist()
    val centroids = pqTrainOn(slices, subspaces, k, iters)
    if (iters > 0) slices.unpersist(blocking = false)
    centroids
  }

  /** PQ arguments out of range fail here, before any job runs. */
  private def pqArgsCheck(subspaces: Int, subDim: Int, k: Int, iters: Int): Unit = {
    require(subspaces >= 1 && subspaces <= 64,
      s"subspaces out of [1,64]: $subspaces")
    require(subDim >= 1, s"subDim must be positive: $subDim")
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0, got k=$k iters=$iters")
  }

  /** Fail fast on a geometry mismatch: an out-of-range slice returns
    * EMPTY arrays and every code silently collapses to cluster 0. `dim`
    * is a collected codebook's width (free) or a [[probeWidth]] (one job).
    */
  private def pqWidthCheck(subspaces: Int, subDim: Int, dim: Int): Unit =
    require(subspaces * subDim <= dim,
      s"subspaces*subDim = ${subspaces * subDim} exceeds vector length $dim")

  /** The width of one non-null vector of `df` — one bounded limit(1)
    * probe job; None when `df` holds no non-null vector. Null vectors are
    * skipped: `size(null)` is NULL under ANSI, and every encode and
    * training pass drops them anyway.
    */
  private def probeWidth(df: DataFrame, vecCol: String): Option[Int] =
    df.filter(col(vecCol).isNotNull).select(size(col(vecCol))).limit(1)
      .collect().headOption.map(_.getInt(0))

  /** One (id, subspace, 9-dp slice) relation — kmeansLloyd's entry
    * rounding and validity rules applied PER SLICE, so a vector invalid
    * in one subspace (null element in that range) drops from that
    * subspace only, exactly like the per-subspace chains this replaces.
    */
  private def pqSlices(df: DataFrame, idCol: String, vecCol: String,
                       subspaces: Int, subDim: Int): DataFrame = {
    val rawSlices = (0 until subspaces).map(sp =>
      slice(col(vecCol), sp * subDim + 1, subDim))
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(array(rawSlices: _*)).as(Seq("__sp", "__raw")))
      .filter(forall(col("__raw"), x => x.isNotNull) &&
        size(col("__raw")) === subDim)
      .select(col("__id"), col("__sp"),
        transform(col("__raw"), x => round(x.cast("double"), 9)).as("__vd"))
  }

  /** 9-dp slice `sp` of a kernel-ready double vector column — the PQ
    * training space restated inline for per-row coding. `sp` is a column
    * so [[adcTable]] can pass its lambda's subspace index; a literal
    * constant-folds to the fixed-offset slice.
    */
  private def pqSliceExpr(v: Column, sp: Column, subDim: Int): Column =
    transform(slice(v, sp * subDim + 1, lit(subDim)), x => round(x, 9))

  /** The per-query ADC lookup table
    * `adc[sp][c] = q_sp(9 dp) · centroid(sp, c)` as ONE expression whose
    * size does not grow with the codebook: the codebooks ride a single
    * nested-array literal (a subspace with fewer than `pqK` codes is
    * padded with zero vectors) and two nested `transform`s dot each
    * subspace's 9-dp query slice with each of its centroids at run time —
    * `subspaces·pqK` subDim-wide dots per query. A short or null-holding
    * query slice dots to NULL.
    */
  private[operators] def adcTable(qv: Column,
                                  cents: Array[Array[Array[Double]]],
                                  subDim: Int, pqK: Int): Column = {
    val padded = cents.toSeq.map(cs => (0 until pqK).map(c =>
      if (c < cs.length) cs(c).toSeq else Seq.fill(subDim)(0.0)))
    transform(typedlit(padded), (cb, sp) =>
      transform(cb, cv => dot(pqSliceExpr(qv, sp, subDim), cv)))
  }

  /** The kmeansLloyd argmin over ONE subspace codebook as a per-row
    * expression — the native kernel, bit-identical to [[pqAssigned]]'s
    * arm (same 6-dp quantization + id tiebreak).
    */
  private def pqCodeExpr(slice9: Column, cents: Array[Array[Double]]): Column =
    graft.functions.NearestCentroidOps.nearestCluster(slice9, cents).cast("int")

  /** `slices` with a `cluster` column: the kmeansLloyd distance shape
    * through the NATIVE per-subspace argmin kernel — generated code is
    * constant-size in BOTH k and the subspace count (the first fusion
    * attempt's when-chain over subspaces and its literal-lookup
    * successor both kept k structs inline; the kernel loops at runtime
    * instead). Ragged codebooks (a subspace with fewer than k clusters)
    * need no padding — the kernel scans each subspace's own length.
    */
  private def pqAssigned(slices: DataFrame,
                         cs: Array[Array[Array[Double]]]): DataFrame =
    slices.withColumn("cluster",
      graft.functions.NearestCentroidOps.nearestCentroid(
        col("__vd"), col("__sp"), cs,
        cs.map(cb => cb.indices.map(_.toLong).toArray), cosine = false)
        .cast("int"))

  /** The fused Lloyd loop over a [[pqSlices]] relation: per-subspace
    * first-k seeds (kmeansLloyd's orderBy(id).limit(k) rule — `subspaces`
    * bounded TakeOrdered jobs, once), then `iters` iterations of ONE
    * corpus pass + ONE bounded subspaces×k×subDim codebook collect.
    */
  private def pqTrainOn(slices: DataFrame, subspaces: Int, k: Int,
                        iters: Int): Array[Array[Array[Double]]] = {
    // seed every subspace in ONE bounded-heap job (bottomk_vec — k
    // smallest ids per subspace with their slices, map-side partial, the
    // TopKOps scale contract) instead of `subspaces` TakeOrdered jobs,
    // each a full pass over the slices relation. Same rows, same order
    // (id ascending = orderBy(__id).limit(k)); non-long id types keep
    // the per-subspace path (the aggregate is hard-typed, like topk)
    var centroids: Array[Array[Array[Double]]] =
      if (slices.schema("__id").dataType == LongType) {
        val bySp = slices.groupBy(col("__sp"))
          .agg(graft.functions.BottomKOps.bottomKVec(k, col("__id"),
            col("__vd")).as("__seeds"))
          .collect()
          .map(r => r.getInt(0) ->
            r.getSeq[org.apache.spark.sql.Row](1)
              .map(_.getSeq[Double](1).toArray).toArray)
          .toMap
        (0 until subspaces).map { sp =>
          val init = bySp.getOrElse(sp, Array.empty[Array[Double]])
          require(init.nonEmpty, s"cannot PQ-train subspace $sp on an empty corpus")
          init
        }.toArray
      } else (0 until subspaces).map { sp =>
        val init = slices.where(col("__sp") === sp).orderBy("__id").limit(k)
          .select("__vd").collect().map(_.getSeq[Double](0).toArray)
        require(init.nonEmpty, s"cannot PQ-train subspace $sp on an empty corpus")
        init
      }.toArray
    for (_ <- 0 until iters) {
      val cells = pqAssigned(slices, centroids)
        .select(col("__sp"), col("cluster"), posexplode(col("__vd")).as(Seq("__pos", "__x")))
        .groupBy("__sp", "cluster", "__pos")
        .agg(sum(col("__x").cast("decimal(28,12)")).as("__s"),
          count(lit(1)).as("__c"))
        .select(col("__sp"), col("cluster"), col("__pos"),
          round(col("__s").cast("double") / col("__c").cast("double"), 9).as("__m"))
        .collect()
      // empty (subspace, cluster) cells keep their previous centroid —
      // the kmeansLloyd rule
      val next = centroids.map(_.map(_.clone()))
      cells.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      centroids = next
    }
    centroids
  }

  /** The IVF-PQ query side, shared by the search and the operating-point
    * planner: per norm-positive query (the [[cosinePairs]] policy) the
    * ADC lookup table `__adc[sp][c] = q_sp(9 dp) · centroid(sp, c)`
    * ([[adcTable]]: one constant-size expression, evaluated once per
    * QUERY and broadcast with the probes), then one row per probe cell
    * `cell` of its `nProbe` best-first cells with their 1-based rank
    * `__prn` (the planner's prefix filters read it; the search ignores
    * it), and for a residual index the per-probe base term
    * `__base = q · centroid(cell)`.
    */
  private def ivfPqProbes(index: IvfPqIndex, queries: DataFrame, idCol: String,
                          vecCol: String, nProbe: Int): DataFrame = {
    val probes = normed(queries, idCol, vecCol, "query_id", "__qv", "__qn")
      .withColumn("__adc", adcTable(col("__qv"), index.pq, index.subDim, index.pqK))
      .select(col("query_id"), col("__qv"), col("__adc"),
        posexplode(nearestCells(index.coarse, col("__qv"), nProbe))
          .as(Seq("__pos", "cell")))
      .withColumn("__prn", col("__pos") + 1)
    if (index.residual)
      probes.withColumn("__base",
        dot(col("__qv"), element_at(typedlit(index.coarse.toMap), col("cell"))))
    else probes
  }

  /** The 6-dp stage-1 ADC score of a probed `(query, candidate)` pair:
    * the sum of `subspaces` lookups `__adc[sp][__code_sp]` approximates
    * q·reconstruction(n) (plus the per-probe `__base` dot under
    * `residual` encoding), and dividing by the candidate norm `__cn`
    * makes the ranking COSINE-consistent with stage 2 (the query norm is
    * constant per query, so it cannot change any per-query ranking and
    * stays out); 6-dp absorbs summation-order ulps, id breaks ties — the
    * kmeans assignment determinism recipe.
    */
  private def adcScore(subspaces: Int, residual: Boolean): Column = {
    val adcSum = (0 until subspaces).map(sp =>
      element_at(element_at(col("__adc"), sp + 1), col(s"__code_$sp") + 1))
      .reduce(_ + _)
    round((if (residual) col("__base") + adcSum else adcSum) / col("__cn"), 6)
  }

  /** An index's codes relation as the stage-1 side
    * `(neighbor_id, cell, __cn, __code_0…)` of the search and the planner.
    */
  private def codedSide(codes: DataFrame, subspaces: Int): DataFrame =
    codes.select(
      col("id").as("neighbor_id") +: col("cell") +: col("nrm").as("__cn") +:
        (0 until subspaces).map(sp => col(s"code_$sp").as(s"__code_$sp")): _*)

  /** IVF-PQ ANN search — the production 100 TB retrieval pattern
    * composed from this file's parts: IVF coarse cells ([[ivfTopK]]'s
    * quantizer) prune the corpus, PQ codes ([[pqCodes]]' training loop)
    * rank the surviving candidates by ASYMMETRIC DISTANCE (a per-query
    * lookup table of query-slice × PQ-centroid dots — the candidate's
    * contribution is `subspaces` table lookups, never a `d`-wide dot),
    * and only the top `rerank` per query pay the exact float cosine.
    * Output `(query_id, neighbor_id, rn)` — rn 1-based best-first,
    * rank-deterministic at both stages (6-dp approx score + id, then
    * raw cosine + id, the [[quantizedRerankTopK]] contract).
    *
    * The one-shot form of the build/search split: it is [[ivfPqSearch]]
    * over a fresh [[ivfPqIndexBuild]], so it pays the build's `pqIters`
    * bounded codebook collects on EVERY call. The production lifecycle
    * builds once, saves, and searches the index retrain-free. 100 TB
    * shape: the build's and the search's.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                subspaces: Int = 4, subDim: Int = 16, pqK: Int = 4,
                pqIters: Int = 2, rerank: Int = 20): DataFrame = {
    // fail argument errors BEFORE the pqIters training barriers run
    rerankCheck(k, rerank)
    ivfPqSearch(ivfPqIndexBuild(corpus, idCol, vecCol, nCentroids, subspaces,
      subDim, pqK, pqIters), corpus, queries, idCol, vecCol, k, nProbe, rerank)
  }

  /** IVF-PQ with RESIDUAL encoding — the full FAISS-style recipe:
    * PQ codebooks train on `v − centroid(cell)` instead of raw vectors
    * (residuals are smaller and better centered, so the same code
    * budget quantizes finer), and the stage-1 score decomposes as
    * `q·v ≈ q·centroid(cell) + q·recon(residual codes)` — a per-probe
    * BASE dot plus the same `subspaces` ADC lookups, still divided by
    * the candidate norm for cosine consistency with the exact rerank.
    * Same output and determinism contract as [[ivfPqTopK]] (6-dp
    * stage-1 score + id ties, raw cosine + id at stage 2), and the same
    * one-shot form: [[ivfPqSearch]] over a fresh residual
    * [[ivfPqIndexBuild]].
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nCentroids: Int = 16,
                        nProbe: Int = 4, subspaces: Int = 4, subDim: Int = 16,
                        pqK: Int = 4, pqIters: Int = 2,
                        rerank: Int = 20): DataFrame = {
    // fail argument errors BEFORE the pqIters training barriers run
    rerankCheck(k, rerank)
    ivfPqSearch(ivfPqIndexBuild(corpus, idCol, vecCol, nCentroids, subspaces,
      subDim, pqK, pqIters, residual = true), corpus, queries, idCol, vecCol,
      k, nProbe, rerank)
  }

  /** A persisted-form IVF-PQ index — the build/search split every
    * production ANN deployment runs (FAISS's train → add → search):
    * trained once, written once (parquet) and searched many times, so the
    * `pqIters` training barriers amortize to ZERO per query batch instead
    * of recurring on every call.
    *
    *   - `codes`: one row per corpus vector —
    *     `(id, cell, nrm, code_0 … code_{s−1})` (zero-norm rows already
    *     dropped under the [[cosinePairs]] policy);
    *   - `coarse`: the IVF quantizer, nCentroids `(cell, centroid)` pairs
    *     in cell order;
    *   - `pq`: the PQ codebooks, `pq(subspace)(code)` a centroid
    *     (residual-space when `residual`).
    *
    * The codebooks are driver-side values, never relations: a build hands
    * over the arrays it trained and a load the arrays its validation
    * collect parsed, and every search, encode and report reads them as
    * plan literals, so no verb over any index value runs a codebook job.
    * `residual` and `subDim` are fields too, and [[ivfPqIndexSave]]
    * writes all of it as four relations (`codes/`, `coarse/`, `pq/` and
    * the one-row [[IvfPqIndex.meta]]). [[ivfPqIndexLoad]] reopens them and
    * takes NO flags: `residual` at load time is read from meta (a
    * mis-stated residual flag is a silent mis-search, not an error — so
    * there is no flag to mis-state), and every meta field that is ALSO
    * derivable from the relations is re-derived and cross-checked,
    * failing fast on a mixed or tampered directory.
    */
  final case class IvfPqIndex(codes: DataFrame,
                              coarse: Array[(Long, Seq[Double])],
                              pq: Array[Array[Array[Double]]],
                              residual: Boolean, subDim: Int) {
    require(coarse.nonEmpty, "the coarse codebook is empty")
    require(coarse.indices.drop(1).forall(i => coarse(i - 1)._1 <= coarse(i)._1),
      "the coarse codebook is not in cell order")
    require(pq.nonEmpty && pq.forall(_.nonEmpty), "the pq codebook has an empty subspace")

    /** The vector width: the coarse centroids'. */
    def dim: Int = coarse.head._2.length

    /** Codes per subspace (a subspace trained on fewer rows holds fewer). */
    def pqK: Int = pq.map(_.length).max

    /** The index's one-row self-description
      * `(residual, sub_dim, dim, subspaces, pq_k, n_centroids)` — scalar
      * lifecycle metadata AS A RELATION, so persisting the index loses
      * nothing that reopening needs. `dim`, `subspaces`, `pq_k` and
      * `n_centroids` are stated redundantly with the codebook relations
      * on purpose: [[ivfPqIndexLoad]] re-derives them and fails fast on
      * mismatch.
      */
    def meta: DataFrame =
      codes.sparkSession.createDataFrame(
        java.util.List.of(Row(residual, subDim, dim, pq.length, pqK, coarse.length)),
        IvfPqMetaSchema)
  }

  /** [[IvfPqIndex.meta]]'s schema. Nullability is included because the
    * parquet footer records it: it is part of the on-disk format.
    */
  private val IvfPqMetaSchema = StructType(Seq(
    StructField("residual", BooleanType, nullable = false),
    StructField("sub_dim", IntegerType, nullable = false),
    StructField("dim", IntegerType),
    StructField("subspaces", IntegerType),
    StructField("pq_k", IntegerType),
    StructField("n_centroids", IntegerType, nullable = false)))

  /** Persist the index under one directory as four plain parquet
    * relations: `codes/`, the codebooks as `coarse/` `(cell, centroid)`
    * and `pq/` `(subspace, code, centroid)`, and `meta/` — the durable
    * half of the build/search lifecycle. Any engine can read the codes,
    * [[ivfPqIndexLoad]] reopens flag-free, and `meta/` is written last
    * ([[saveIndexDir]]), so it marks a complete save.
    */
  def ivfPqIndexSave(index: IvfPqIndex, dir: String): Unit =
    saveIvfPq(index, dir, _.write)

  /** Persist an index with the codes relation CLUSTERED BY CELL —
    * `partitionBy("cell")`, so the on-disk layout is one directory per
    * coarse cell and a cell-equality (or cell-IN) predicate prunes the
    * SCAN to the probed partitions instead of filtering after reading
    * everything. The serving layout for [[ivfPqSearchPruned]]: at 100 TB
    * the codes relation is the index's bulk, and a search probing
    * `nProbe` of `nCentroids` cells should READ ~nProbe/nCentroids of
    * it — with the flat layout parquet row-group stats on an unsorted
    * `cell` column prune nothing. Coarse/pq/meta write exactly as
    * [[ivfPqIndexSave]]; [[ivfPqIndexLoad]] reopens either layout
    * flag-free (the partition-column read type normalizes there).
    * Trade: ONE exchange by cell paid at save (without it every writer
    * task opens a file per cell it sees — nCentroids × tasks small
    * files; with it, ~one file per cell), like [[graft.operators
    * .Bucketing]]'s writeBucketed trade.
    */
  def ivfPqIndexSaveClustered(index: IvfPqIndex, dir: String): Unit =
    saveIvfPq(index, dir, _.repartition(col("cell")).write.partitionBy("cell"))

  /** The two IVF-PQ saves, which differ only in how `codes` is written.
    * The codebook relations are made from the index's fields as
    * `(cell long, centroid array<double>)` and
    * `(subspace int, code int, centroid array<double>)`.
    */
  private def saveIvfPq(index: IvfPqIndex, dir: String,
                        codesWriter: DataFrame => DataFrameWriter[Row]): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val coarse = index.coarse.toSeq.toDF("cell", "centroid")
    val pq = (for {
      sp <- index.pq.indices
      c <- index.pq(sp).indices
    } yield (sp, c, index.pq(sp)(c).toSeq)).toDF("subspace", "code", "centroid")
    saveIndexDir(dir, index.meta, Seq(
      () => codesWriter(index.codes).mode(SaveMode.Overwrite).parquet(s"$dir/codes"),
      () => coarse.write.mode(SaveMode.Overwrite).parquet(s"$dir/coarse"),
      () => pq.write.mode(SaveMode.Overwrite).parquet(s"$dir/pq")))
  }

  /** Reopen a persisted index — NO caller-supplied parameters, by
    * design: `residual` and `sub_dim` come from the meta relation (the
    * two scalars a caller could previously mis-state, silently
    * mis-searching), and everything meta states redundantly with the
    * codebook relations (`subspaces`, `pq_k`, `n_centroids`, plus the
    * pq centroid widths vs `sub_dim` and the codes relation's code
    * columns) is re-derived and REQUIRED to match — a stale meta, a
    * mixed directory, or a truncated codebook fails here, not as
    * plausible-looking wrong neighbors. A missing relation, or one with
    * no parquet file where one is read, fails as
    * `<dir>/<relation> … a torn directory`. Cost: one bounded collect of
    * the codebook relations and the one-row meta. A `coarse` or `pq`
    * relation over [[IvfPqCodebookCapBytes]] on disk is refused before
    * anything is collected.
    */
  def ivfPqIndexLoad(spark: org.apache.spark.sql.SparkSession,
                     dir: String): IvfPqIndex =
    ivfPqIndexLoad(spark, dir, IvfPqCodebookCapBytes)

  /** The on-disk size cap for each of an index's `coarse` and `pq`
    * relations: [[ivfPqIndexLoad]] collects both onto the driver and every
    * search inlines them as plan literals, so a larger codebook is refused
    * at load instead of exhausting driver memory.
    */
  private val IvfPqCodebookCapBytes: Long = 64L << 20

  /** [[ivfPqIndexLoad]] with an explicit codebook size cap. */
  private[operators] def ivfPqIndexLoad(spark: org.apache.spark.sql.SparkSession,
                                        dir: String,
                                        codebookCapBytes: Long): IvfPqIndex = {
    val fs = requireRelations(spark, dir, Seq("codes", "coarse", "pq", "meta"))
    Seq("coarse", "pq", "meta").foreach(parquetFileOf(fs, dir, _))
    // a cell-clustered layout ([[ivfPqIndexSaveClustered]]) reads `cell`
    // back as the partition directory's INFERRED type (int); read with
    // the cell field REQUESTED as long so both layouts expose ONE codes
    // schema to every downstream join/union. A requested schema — not a
    // cast — on purpose: a cast(cell) wrapper on the partition column
    // can defeat the partition pruning the clustered layout exists for
    // ([[ivfPqSearchPruned]]'s cell-IN predicate must land on the raw
    // partition column). The requested schema is assembled from ONE
    // leaf footer (data columns) + the long cell, so the full directory
    // is partition-discovered exactly once — an infer-then-re-read
    // would list the nCentroids partition directories twice, and that
    // listing measured as the DOMINANT cost of opening a large
    // clustered index (7 s of a 9 s open at 1118 cells).
    val codes = {
      val entries = fs.listStatus(new Path(s"$dir/codes"))
      val cellDirs = entries.filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("cell="))
      if (cellDirs.isEmpty) {
        parquetFileOf(fs, dir, "codes")
        spark.read.parquet(s"$dir/codes")
      } else {
        val first = cellDirs.map(_.getPath).minBy(_.getName)
        val leaf = parquetFileOf(fs, dir, s"codes/${first.getName}")
        val fileSchema = spark.read.parquet(leaf.toString).schema
        require(!fileSchema.fieldNames.contains("cell"),
          s"$dir/codes mixes a cell= directory layout with in-file cell " +
            "columns — a torn or foreign directory")
        val full = StructType(fileSchema.fields :+ StructField("cell", LongType))
        spark.read.schema(full).parquet(s"$dir/codes")
      }
    }
    // size-bound the codebook collect below BEFORE it runs: the files'
    // on-disk length comes from one driver-side FS summary per relation
    // (no Spark job)
    Seq("coarse", "pq").foreach { rel =>
      val bytes = fs.getContentSummary(new Path(s"$dir/$rel")).getLength
      require(bytes <= codebookCapBytes,
        s"$dir/$rel holds $bytes bytes, over the $codebookCapBytes-byte cap " +
          "on codebooks collected onto the driver")
    }
    // ONE bounded collect both VALIDATES and KEEPS the codebooks: the
    // one-row meta unions with the FULL coarse and pq relations
    // (nCentroids + subspaces·pqK rows), every derivable meta field is
    // re-checked driver-side from the full rows (an analysis/read error
    // in pq/coarse, e.g. a missing 'centroid' column, surfaces at the
    // collect, before the meta row-count require), and the parsed
    // codebooks become the returned index's fields.
    val rows = spark.read.parquet(s"$dir/meta")
      .select(col("residual").cast("boolean"), col("sub_dim").cast("int"),
        col("dim").cast("int"), col("subspaces").cast("int"),
        col("pq_k").cast("int"), col("n_centroids").cast("int"))
      .select(lit(2).as("__kind"), lit(0L).as("__a"), lit(0L).as("__b"),
        array(when(col("residual"), 1.0).otherwise(0.0),
          col("sub_dim").cast("double"), col("dim").cast("double"),
          col("subspaces").cast("double"), col("pq_k").cast("double"),
          col("n_centroids").cast("double")).as("__c"))
      .unionByName(spark.read.parquet(s"$dir/coarse").select(lit(0).as("__kind"),
        col("cell").cast("long").as("__a"), lit(0L).as("__b"),
        col("centroid").cast("array<double>").as("__c")))
      .unionByName(spark.read.parquet(s"$dir/pq").select(lit(1).as("__kind"),
        col("subspace").cast("long").as("__a"),
        col("code").cast("long").as("__b"),
        col("centroid").cast("array<double>").as("__c")))
      .collect()
    val metaRows = rows.filter(_.getInt(0) == 2)
    require(metaRows.length == 1,
      s"$dir/meta must hold exactly one row, got ${metaRows.length}")
    val m = metaRows.head.getSeq[Double](3)
    val (residual, subDim, dim) = (m(0) == 1.0, m(1).toInt, m(2).toInt)
    val (mSub, mPqK, mCents) = (m(3).toInt, m(4).toInt, m(5).toInt)
    val coarsePairs = rows.filter(_.getInt(0) == 0)
      .map(r => (r.getLong(1), r.getSeq[Double](3)))
    val pqTriples = rows.filter(_.getInt(0) == 1)
      .map(r => (r.getLong(1), r.getLong(2), r.getSeq[Double](3)))
    require(pqTriples.nonEmpty, s"$dir/pq holds no codebook rows — a torn directory")
    require(coarsePairs.nonEmpty,
      s"$dir/coarse holds no centroids — a torn directory")
    val pqS = pqTriples.map(_._1).max.toInt + 1
    val pqKGot = pqTriples.map(_._2).max.toInt + 1
    val (pqLo, pqHi) = (pqTriples.map(_._3.size).min, pqTriples.map(_._3.size).max)
    require(pqS == mSub,
      s"meta says $mSub subspaces but $dir/pq holds $pqS")
    require(pqKGot == mPqK,
      s"meta says pq_k $mPqK but $dir/pq holds $pqKGot codes")
    require(pqLo == subDim && pqHi == subDim,
      s"meta says sub_dim $subDim but $dir/pq centroids span " +
        s"[$pqLo, $pqHi] dims")
    require(pqS * subDim <= dim,
      s"meta is self-inconsistent: $pqS subspaces x sub_dim $subDim " +
        s"exceeds dim $dim")
    require(coarsePairs.length.toLong == mCents.toLong,
      s"meta says $mCents coarse centroids but $dir/coarse holds ${coarsePairs.length}")
    val (cLo, cHi) = (coarsePairs.map(_._2.size).min, coarsePairs.map(_._2.size).max)
    require(cLo == dim && cHi == dim,
      s"meta says dim $dim but $dir/coarse centroids span " +
        s"[$cLo, $cHi] dims — a mixed directory")
    (0 until pqS).foreach(sp => require(codes.columns.contains(s"code_$sp"),
      s"$dir/codes is missing column code_$sp for the $pqS-subspace codebook"))
    val cents = Array.tabulate(pqS) { sp =>
      pqTriples.filter(_._1 == sp).sortBy(_._2).map(_._3.toArray)
    }
    require(cents.forall(_.nonEmpty), s"$dir/pq has an empty subspace — a torn directory")
    IvfPqIndex(codes, coarsePairs.sortBy(_._1), cents, residual, subDim)
  }

  /** Train and encode ONCE — the index half of the IVF-PQ split. One
    * corpus pass encodes every vector ([[encodeCodes]]: cell + PQ codes +
    * norm, all per-row expressions over literal codebooks, nothing
    * shuffles); training is [[pqTrain]]'s fused loop (`pqIters` bounded
    * codebook collects, the LAST time they run for this corpus), over
    * the [[residualVec]] relation when `residual`. The index holds the
    * trained codebooks as they are; save it with [[ivfPqIndexSave]] and
    * search with [[ivfPqSearch]] — the inline
    * [[ivfPqTopK]]/[[ivfPqResidualTopK]] are exactly that composition
    * (and q232's oracle IS q219's).
    * `storeVectors` keeps the raw vector as a `vec` payload column (the
    * [[ivfPqSearchStored]] corpus-free serve); `storeSignWords` packs
    * each row's sign bits as a `words` payload (8 B per 64 dims — the
    * [[binarySearchCells]] cell-pruned binary stage 1).
    */
  def ivfPqIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int = 16, subspaces: Int = 4,
                      subDim: Int = 16, pqK: Int = 4, pqIters: Int = 2,
                      residual: Boolean = false,
                      storeVectors: Boolean = false,
                      storeSignWords: Boolean = false): IvfPqIndex = {
    // fail argument errors BEFORE the codebook and training jobs run
    pqArgsCheck(subspaces, subDim, pqK, pqIters)
    val codebook = collectCodebook(corpus, idCol, vecCol, nCentroids)
    require(codebook.nonEmpty, "codebook must be non-empty")
    pqWidthCheck(subspaces, subDim, codebook.head._2.length)
    val cents =
      if (residual)
        pqTrain(ivfCells(corpus, idCol, vecCol, codebook)
          .select(col("neighbor_id"), residualVec(codebook).as("__r")),
          "neighbor_id", "__r", subspaces, subDim, pqK, pqIters)
      else pqTrain(corpus, idCol, vecCol, subspaces, subDim, pqK, pqIters)
    IvfPqIndex(encodeCodes(corpus, idCol, vecCol, codebook, cents, residual,
      subDim, storeVectors, storeSignWords), codebook.sortBy(_._1), cents,
      residual, subDim)
  }

  /** Search a PERSISTED IVF-PQ index — retrain-free by construction:
    * the index's codebooks go into literal-codebook expressions, and no
    * Spark job runs before the search's own (reading an index is not
    * training; no Lloyd barrier can occur because no training code is
    * reachable from here). The corpus appears only for the stage-2 exact
    * rerank vectors; stage 1 runs entirely on the index's `codes`
    * relation. Output and determinism contract as [[ivfPqTopK]], which
    * is this verb over a fresh build; `withScore = true` appends the
    * exact rerank cosine as a 6-dp `cos` column (the
    * [[graft.operators.Selection.fuseScoresMinMax]] input shape).
    *
    * 100 TB shape: the corpus NEVER shuffles — the probe join
    * broadcasts the exploded query side ([[ivfPqProbes]]); both rankings
    * are bounded-heap partial top-k aggregates (stage 1's exchange
    * carries queries×partitions×rerank heap entries, never the candidate
    * set); the rerank joins broadcast the queries×rerank survivor list
    * against the partitioned corpus.
    */
  def ivfPqSearch(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
                  rerank: Int = 20, withScore: Boolean = false): DataFrame =
    ivfPqSearchWith(index, Some(corpus), queries, idCol, vecCol, k, nProbe,
      rerank, withScore)

  /** [[ivfPqSearch]] with the batch's probed-cell set pushed into the
    * codes SCAN as a static `cell IN (…)` predicate — result-identical
    * by construction (stage 1 equi-joins on cell, so a row outside every
    * query's probe set can never match), but over a cell-clustered
    * layout ([[ivfPqIndexSaveClustered]]) the predicate is a PARTITION
    * filter: the scan reads ~|probed|/nCentroids of the codes relation
    * instead of all of it. On a flat layout it still skips row groups
    * whose cell stats exclude the set. Cost: one extra bounded collect —
    * the DISTINCT probed cells of the query batch (≤ queries × nProbe
    * rows; the serving contract bounds the batch), a superset of the
    * norm-positive queries' probes, so the filter never removes a
    * matchable row. The query relation is read TWICE (probed-cell
    * collect + the search), so it is defensively snapshotted with a
    * lazy `localCheckpoint` here — the collect materializes it once and
    * the search reuses the same rows, so a nondeterministic or
    * expensive query side can neither desynchronize the probe set from
    * the search's probes nor re-scan its source. Production callers
    * still SHOULD hand in a materialized batch (the serving contract);
    * the snapshot is the safety net, not the sizing rule.
    */
  def ivfPqSearchPruned(index: IvfPqIndex, corpus: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nProbe: Int = 4, rerank: Int = 20): DataFrame = {
    rerankCheck(k, rerank)
    val (qs, codes) = probedCells(index.codes, queries, vecCol, index.coarse, nProbe)
    ivfPqSearchWith(index.copy(codes = codes), Some(corpus), qs, idCol,
      vecCol, k, nProbe, rerank)
  }

  /** Serve ENTIRELY from a stored-vector index — no corpus argument:
    * stage 2's exact rerank reads the `vec` payload the index carries
    * ([[ivfPqIndexBuild]] `storeVectors = true` — FAISS's IVF-with-
    * stored-vectors shape) instead of scanning the float corpus, and
    * the batch's probed cells prune the codes scan exactly as
    * [[ivfPqSearchPruned]]. The END-TO-END small-batch serving shape:
    * over a cell-clustered layout BOTH stages read only the probed
    * partitions — nothing in the plan touches more than
    * ~|probed|/nCentroids of the index, and no external table is read
    * at all. Results are bit-identical to [[ivfPqSearch]] over the
    * build corpus at the same parameters (the rerank reads the same
    * vector values from a different relation; spec-pinned, graded
    * against the same oracle). Storage trade: the index carries the
    * vectors (the corpus bytes move INTO the codes relation) — the
    * usual vector-DB deal, stated on the build knob. The query relation
    * is read twice (probed-cell collect + the search) and so is
    * defensively snapshotted with a lazy `localCheckpoint`, exactly as
    * [[ivfPqSearchPruned]] — the probe set and the search always see
    * the same query rows.
    */
  def ivfPqSearchStored(index: IvfPqIndex, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nProbe: Int = 4,
                        rerank: Int = 20, withScore: Boolean = false): DataFrame = {
    require(index.codes.columns.contains("vec"),
      "index carries no stored vectors — build with storeVectors=true, " +
        "or serve with ivfPqSearch(index, corpus, ...)")
    rerankCheck(k, rerank)
    val (qs, codes) = probedCells(index.codes, queries, vecCol, index.coarse, nProbe)
    ivfPqSearchWith(index.copy(codes = codes), None, qs, idCol, vecCol,
      k, nProbe, rerank, withScore)
  }

  /** The search all three IVF-PQ serving verbs share: the
    * [[ivfPqProbes]] query side joined to the index's codes on `cell`,
    * stage 1 the 6-dp ADC score ([[adcScore]]) into [[survivors]], and
    * stage 2 the exact cosine rerank against [[rerankVectors]] — the
    * `corpus` when given, else the index's own `vec` payload.
    */
  private def ivfPqSearchWith(index: IvfPqIndex, corpus: Option[DataFrame],
                              queries: DataFrame, idCol: String, vecCol: String,
                              k: Int, nProbe: Int, rerank: Int,
                              withScore: Boolean = false): DataFrame = {
    rerankCheck(k, rerank)
    val subspaces = index.pq.length
    exactRerank(
      survivors(codedSide(index.codes, subspaces)
          .join(broadcast(ivfPqProbes(index, queries, idCol, vecCol, nProbe)), "cell"),
        adcScore(subspaces, index.residual), rerank),
      rerankVectors(index.codes, corpus, idCol, vecCol), queries, idCol,
      vecCol, k, withScore)
  }

  /** A two-stage verb's `k`/`rerank` pair out of range fails here,
    * before any job: the cell-pruned serves check it ahead of their
    * probed-cell collect.
    */
  private def rerankCheck(k: Int, rerank: Int): Unit =
    require(k >= 1 && rerank >= k, s"need rerank >= k >= 1, got k=$k rerank=$rerank")

  /** Stage-2 rerank vectors `(neighbor_id, __cv, __cn)`: the
    * norm-positive float `corpus` when given, else the `vec` payload
    * stored beside `codes` — rows norm-positive by the build's
    * [[ivfCells]] drop, the stored `nrm` reused, and over a pruned
    * `codes` every stage-1 survivor is from a probed cell by
    * construction.
    */
  private def rerankVectors(codes: DataFrame, corpus: Option[DataFrame],
                            idCol: String, vecCol: String): DataFrame =
    corpus.fold(codes.select(col("id").as("neighbor_id"),
        asDouble(col("vec")).as("__cv"), col("nrm").as("__cn")))(
      normed(_, idCol, vecCol, "neighbor_id", "__cv", "__cn"))

  /** The batch's probed-cell prune, shared by the cell-pruned verbs:
    * `queries` is read twice (the collect here and the search), so it is
    * snapshotted with a lazy `localCheckpoint` and both see the same
    * rows; the DISTINCT cells its rows probe come back in one bounded
    * collect (≤ queries × nProbe rows, a superset of the norm-positive
    * queries' probes), and `codes` is filtered to them by a static
    * `cell IN (…)` — a partition filter over a cell-clustered layout.
    * Returns `(snapshot, prunedCodes)`.
    */
  private def probedCells(codes: DataFrame, queries: DataFrame, vecCol: String,
                          codebook: Array[(Long, Seq[Double])],
                          nProbe: Int): (DataFrame, DataFrame) = {
    val qs = queries.localCheckpoint(false)
    val probed = qs
      .select(explode(nearestCells(codebook, asDouble(col(vecCol)), nProbe))
        .as("cell"))
      .distinct().collect().map(_.getLong(0))
    (qs, if (probed.isEmpty) codes else codes.filter(col("cell").isin(probed: _*)))
  }

  /** Encode a batch against an index's FROZEN codebooks — FAISS's `add`
    * step as a relation: one narrow per-row pass (coarse cell, norm,
    * `subspaces` PQ codes — residual-space when the index is residual)
    * over the index's literal codebooks, emitting rows in
    * the codes-relation shape `(id, cell, nrm, code_0 …)`. NO training
    * is reachable from here (the [[ivfPqSearch]] retrain-free
    * guarantee): encoding row-for-row matches what [[ivfPqIndexBuild]]
    * would have produced had the batch been in the build corpus, so
    * incremental growth is bit-identical to a rebuild over the same
    * codebooks — the [[ivfPqIndexAdd]] contract. Zero-norm rows drop
    * ([[cosinePairs]] policy), exactly as at build.
    */
  def ivfPqEncode(index: IvfPqIndex, batch: DataFrame, idCol: String,
                  vecCol: String): DataFrame = {
    // fail fast on a geometry mismatch — the silent-poison class the
    // flag-free loader exists to kill: a batch narrower than the
    // index's vectors (embeddings from a different model) would slice
    // EMPTY PQ subspaces, collapsing every code to cluster 0, and dot
    // against mismatched coarse centroids — plausible-looking wrong
    // neighbors forever after. One bounded [[probeWidth]] job, the
    // [[pqCodes]] convention.
    val dim = index.dim
    probeWidth(batch, vecCol).foreach { d =>
      require(d == dim,
        s"batch vectors are $d-dim but the index holds $dim-dim " +
          "vectors — refusing to encode a batch that would poison the codes")
    }
    // a stored-vector index ([[ivfPqIndexBuild]] storeVectors=true)
    // encodes its deltas WITH the vector payload, so add/union keeps one
    // codes schema (a vec-less delta would refuse loudly at union) —
    // and a sign-words index ([[ivfPqIndexBuild]] storeSignWords=true)
    // likewise packs its deltas' words
    encodeCodes(batch, idCol, vecCol, index.coarse, index.pq, index.residual,
      index.subDim, storeVectors = index.codes.columns.contains("vec"),
      storeSignWords = index.codes.columns.contains("words"))
  }

  /** The one IVF-PQ encode pass, shared by [[ivfPqIndexBuild]] and
    * [[ivfPqEncode]]: per norm-positive row of `df` ([[ivfCells]]) its
    * coarse cell, its norm and `pq.length` PQ codes of its 9-dp slices —
    * of the raw vector, or of its [[residualVec]] when `residual` — all
    * per-row expressions over literal codebooks (cells: nCentroids dots;
    * codes: subspaces·pqK dots of subDim), as the codes relation
    * `(id, cell, nrm, code_0 …)` plus the optional `vec` payload and the
    * `words` sign words. Sign words pack the RAW vector (not the
    * residual): binary refinement ranks raw sign agreement
    * ([[binarySearchCells]]).
    */
  private def encodeCodes(df: DataFrame, idCol: String, vecCol: String,
                          coarse: Array[(Long, Seq[Double])],
                          pq: Array[Array[Array[Double]]], residual: Boolean,
                          subDim: Int, storeVectors: Boolean,
                          storeSignWords: Boolean): DataFrame = {
    val cells = ivfCells(df, idCol, vecCol, coarse, keepRaw = storeVectors)
    val src = if (residual) cells.withColumn("__r", residualVec(coarse)) else cells
    val vec = col(if (residual) "__r" else "__cv")
    src.select(
      col("neighbor_id").as("id") +: col("cell") +: col("__cn").as("nrm") +:
        (pq.indices.map(sp =>
          pqCodeExpr(pqSliceExpr(vec, lit(sp), subDim), pq(sp)).as(s"code_$sp")) ++
          (if (storeVectors) Seq(col("__raw").as("vec")) else Nil) ++
          (if (storeSignWords)
            Seq(signPack(col("__cv"), coarse.head._2.length).as("words"))
          else Nil)): _*)
  }

  /** A row's residual `__cv − centroid(cell)` against its coarse cell
    * (over an [[ivfCells]] relation) — the space a residual index's PQ
    * codebooks train, code and report in.
    */
  private def residualVec(coarse: Array[(Long, Seq[Double])]): Column =
    zip_with(col("__cv"), element_at(typedlit(coarse.toMap), col("cell")),
      (x, c) => x - c)

  /** Grow a persisted index WITHOUT retraining: [[ivfPqEncode]] the new
    * batch against the frozen codebooks and union it into the codes
    * relation — coarse/pq/meta unchanged. Searching the grown index is
    * bit-identical to searching a rebuild that reuses the same
    * codebooks over base ∪ batch (spec-pinned, and q241 grades the
    * composition end-to-end against a from-scratch SQL oracle). The
    * caller owns dedup semantics: adding an id that is already in the
    * codes relation simply duplicates it, exactly like FAISS `add`.
    *
    * 100 TB shape: the add path is one narrow batch pass plus a
    * union-all — no shuffle, no training barrier, no full-corpus read;
    * the quantization-drift question ("are the frozen codebooks still
    * good for the new data?") is [[annRecallReportFor]]'s job, graded
    * per batch on a hash sample.
    */
  def ivfPqIndexAdd(index: IvfPqIndex, batch: DataFrame, idCol: String,
                    vecCol: String): IvfPqIndex =
    index.copy(codes =
      index.codes.unionByName(ivfPqEncode(index, batch, idCol, vecCol)))

  /** PQ RECONSTRUCTION-ERROR report — the quantizer-quality diagnostic
    * beside [[ivfCellOccupancy]]'s balance one: per subspace, the mean
    * squared error between each coded row's 9-dp slice and the PQ
    * centroid its code reconstructs to, `(subspace, n_vectors, mse)` —
    * 6-dp per-row errors, DECIMAL sums, one terminal division (the
    * kmeans distance recipe). Rising MSE after [[ivfPqIndexAdd]]
    * batches is the measured form of "the frozen codebooks no longer
    * fit the data" — the retrain trigger, caught without a brute-force
    * recall run. Residual indexes report in residual space (the space
    * the codes actually quantize). Only CODED rows report (zero-norm
    * rows drop, the codes-relation membership).
    *
    * 100 TB shape: one narrow corpus pass — slice, code, literal
    * centroid lookup, one codegen'd dot per subspace — into a
    * subspaces-sized aggregate. No joins, no shuffle beyond the final
    * bounded groupBy.
    */
  def ivfPqReconError(index: IvfPqIndex, corpus: DataFrame, idCol: String,
                      vecCol: String): DataFrame = {
    val (codebook, cents, subspaces) = (index.coarse, index.pq, index.pq.length)
    val cells = ivfCells(corpus, idCol, vecCol, codebook)
    val vec = if (index.residual) residualVec(codebook) else col("__cv")
    val errCols = (0 until subspaces).map { sp =>
      val slice9 = pqSliceExpr(vec, lit(sp), index.subDim)
      val code = pqCodeExpr(slice9, cents(sp))
      val centArr = element_at(typedlit(cents(sp).map(_.toSeq)), code + 1)
      val diff = zip_with(slice9, centArr, (x, c) => x - c)
      round(dot(diff, diff), 6)
    }
    cells.select(posexplode(array(errCols: _*)).as(Seq("__sp", "__e")))
      .groupBy(col("__sp"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("__e").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mse"))
      .select(col("__sp").cast("int").as("subspace"), col("n_vectors"), col("mse"))
  }

  /** Remove ids from a persisted index — FAISS's `remove_ids`:
    * ONE anti-join on the codes relation, codebooks and
    * meta untouched (removal never needs retraining — quantization of
    * the surviving rows is unchanged by construction). Searching the
    * shrunk index equals searching an index whose codes never held
    * those rows (q245's oracle states exactly that as a candidate
    * filter on the from-scratch chain); add-then-remove of the same
    * batch is an exact identity (spec-pinned).
    *
    * 100 TB shape: compact keys only — the anti-join ships (id) against
    * the codes relation's ids, no vectors, no training, no full-corpus
    * read. After heavy removal the cell balance question is
    * [[ivfCellOccupancy]]'s job.
    */
  def ivfPqIndexRemove(index: IvfPqIndex, ids: DataFrame,
                       idCol: String): IvfPqIndex =
    index.copy(codes = index.codes.join(
      ids.select(col(idCol).cast("long").as("id")).distinct(),
      Seq("id"), "left_anti"))

  /** IVF cell-occupancy HEALTH report — "is the coarse quantizer still
    * balanced on what the index now holds": one row per coarse cell,
    * `(cell, n_vectors, frac, load_factor)` with
    * `load_factor = n · nCells / total` (1 = perfectly uniform), 6 dp,
    * EMPTY cells included as zero rows (a dead centroid is a finding,
    * not an absence — it silently halves the effective nProbe). The
    * after-every-[[ivfPqIndexAdd]] gate: a drifting corpus shows up as
    * load skew long before recall sags, because probe cost scales with
    * the probed cells' occupancy and a mega-cell defeats the IVF
    * pruning entirely.
    *
    * 100 TB shape: one compact-key groupBy over the codes relation,
    * nCentroids-sized output — runs in the time of a count.
    */
  def ivfCellOccupancy(index: IvfPqIndex): DataFrame = {
    val occ = index.codes.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    val tot = index.codes.agg(count(lit(1)).as("__t"))
    cellsOf(index)
      .join(occ, Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell"),
        coalesce(col("__n"), lit(0L)).as("n_vectors"),
        round(coalesce(col("__n"), lit(0L)).cast("double") /
          col("__t").cast("double"), 6).as("frac"),
        round(coalesce(col("__n"), lit(0L)).cast("double") *
          lit(index.coarse.length.toDouble) / col("__t").cast("double"), 6)
          .as("load_factor"))
  }

  /** The index's coarse cells as a one-column `cell` relation. */
  private def cellsOf(index: IvfPqIndex): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.coarse.map(_._1).toSeq.toDF("cell")
  }

  /** QUANTIZATION-DRIFT gate — [[ivfCellOccupancy]]'s two-sample twin and
    * the measured answer to "are the frozen codebooks still right for the
    * data arriving NOW": encode an incoming batch against the index's
    * frozen codebooks ([[ivfPqEncode]] — no training reachable) and
    * compare its coarse-cell occupancy SHARE against what the index
    * already holds. One row per coarse cell
    * `(cell, n_index, n_batch, frac_index, frac_batch, drift, tv,
    * retrain)`: fracs at 6 dp, `drift = |Δfrac|` at 9 dp (unrounded
    * divisions inside the abs — IEEE division of integer-valued doubles
    * is bit-identical in any engine), `tv` the total-variation distance
    * `0.5·Σ drift` (9-dp DECIMAL sum, one terminal double multiply)
    * stamped on every row, and `retrain = tv > tvThreshold` — the gate
    * bit. A drifting corpus moves mass between cells long before recall
    * sags, so this catches codebook rot without a brute-force recall run;
    * an empty (or all-zero-norm) batch yields null fracs/tv rather than a
    * divide — feed it real rows.
    *
    * 100 TB shape: one narrow batch encode + one compact-key groupBy per
    * side; the per-cell table is nCentroids-sized and localCheckpointed
    * once (both the tv rollup and the output read it without re-encoding
    * the batch); totals derive from the per-cell table itself — no second
    * pass over codes or batch.
    */
  def ivfDriftReport(index: IvfPqIndex, batch: DataFrame, idCol: String,
                     vecCol: String, tvThreshold: Double = 0.25): DataFrame = {
    val baseOcc = index.codes.groupBy(col("cell")).agg(count(lit(1)).as("__nb"))
    val deltaOcc = ivfPqEncode(index, batch, idCol, vecCol)
      .groupBy(col("cell")).agg(count(lit(1)).as("__nd"))
    val per = cellsOf(index)
      .join(baseOcc, Seq("cell"), "left")
      .join(deltaOcc, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("__nb"), lit(0L)).as("n_index"),
        coalesce(col("__nd"), lit(0L)).as("n_batch"))
      .localCheckpoint()
    val tots = per.agg(sum(col("n_index")).as("__tb"),
      sum(col("n_batch")).as("__td"))
    val withF = per.crossJoin(broadcast(tots))
      .withColumn("frac_index", when(col("__tb") > 0,
        round(col("n_index").cast("double") / col("__tb").cast("double"), 6)))
      .withColumn("frac_batch", when(col("__td") > 0,
        round(col("n_batch").cast("double") / col("__td").cast("double"), 6)))
      .withColumn("drift", when(col("__tb") > 0 && col("__td") > 0,
        round(abs(col("n_index").cast("double") / col("__tb").cast("double") -
          col("n_batch").cast("double") / col("__td").cast("double")), 9)))
    val tv = withF.agg(
      round(sum(col("drift").cast("decimal(28,12)")).cast("double") * 0.5, 6)
        .as("tv"))
    withF.crossJoin(broadcast(tv))
      .select(col("cell"), col("n_index"), col("n_batch"),
        col("frac_index"), col("frac_batch"), col("drift"), col("tv"),
        (col("tv") > tvThreshold).as("retrain"))
  }

  /** Contrastive training-triple assembly — the "make embedding training
    * data" composition: one LSH-bucketed candidate pass (the
    * [[nearDupPairs]] machinery, cosine kept) yields BOTH sides of the
    * triple — pairs above `posThreshold` become (anchor, positive) in
    * both orientations, and each anchor's bucket-cohabitants inside
    * `[negMin, negMax)` become its hard negatives (top `negPerAnchor` by
    * cosine desc, id ties — the near-misses LSH surfaces naturally,
    * which is exactly the hard-negative band: random negatives are below
    * `negMin`, positives are capped out by `negMax ≤ posThreshold`).
    * Output `(anchor_id, positive_id, negative_id, neg_cos, rn)`.
    *
    * 100 TB shape: ONE candidate generation (compact-key bucket
    * self-join + two payload joins, the nearDupPairs contract) over the
    * [[bandedBuckets]] compact table — ALL tables' buckets come from a
    * single localCheckpointed corpus pass, and every per-table join
    * re-reads `8·(tables+1)`-byte rows (the round-11 shape recomputed
    * per-table buckets from raw vectors on each join side ≈ 2·tables
    * corpus passes); the scored candidate table localCheckpointed once
    * and read by both consumers; negative ranking is the bounded-heap
    * topK; the final weld is an anchor-keyed equi-join of two
    * candidate-bounded tables. Nothing corpus×corpus, no windows.
    * Zero-norm vectors drop before scoring ([[cosinePairs]] policy) —
    * they can never anchor, positive, or negative.
    */
  def contrastiveTriples(df: DataFrame, idCol: String, vecCol: String,
                         posThreshold: Double, negMin: Double, negMax: Double,
                         negPerAnchor: Int, planes: Int = 4,
                         probeBits: Int = 1, tables: Int = 1): DataFrame = {
    require(negMin < negMax && negMax <= posThreshold,
      s"need negMin < negMax <= posThreshold, got [$negMin, $negMax) vs $posThreshold")
    require(negPerAnchor >= 1 && negPerAnchor <= 1000,
      s"negPerAnchor out of [1,1000]: $negPerAnchor")
    require(tables >= 1 && tables <= 16, s"tables out of [1,16]: $tables")
    // candidate generation mirrors the two near-dup generators: one
    // multi-probed table (small-corpus knob) or `tables` independent
    // plane sets OR-amplifying recall (the corpus-scale knob — at
    // bandedPlanesFor sizing, multi-probe would explode planes+1 probe
    // masks per row, measured 212 s vs banded's table union at 5M);
    // masks generate combinatorially, so any banded plane count stays
    // enumerable at any probe radius
    val masks = probeMasks(planes, probeBits)
    val cands = bucketPairs(bandedBuckets(df, idCol, vecCol, planes, tables), tables, masks)
    // scored once, read twice (positives + negatives) — localCheckpoint
    // like the q58 dup graph, or each consumer would replan the whole
    // candidate generation
    val scored = vectorPairs(cands, df, df, idCol, vecCol)
      .select(col("id_a"), col("id_b"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("__cos"))
      .localCheckpoint()
    val both = scored.select(col("id_a").as("anchor_id"), col("id_b").as("other"), col("__cos"))
      .unionByName(scored.select(col("id_b").as("anchor_id"), col("id_a").as("other"), col("__cos")))
    val negs = both.filter(col("__cos") >= negMin && col("__cos") < negMax)
      .groupBy(col("anchor_id"))
      .agg(TopKOps.topK(negPerAnchor, col("__cos"), col("other")).as("__top"))
      .select(col("anchor_id"), posexplode(col("__top")))
      .select(col("anchor_id"), col("col.id").as("negative_id"),
        zround(col("col.score"), 6).as("neg_cos"),
        (col("pos") + 1).cast("long").as("rn"))
    val positives = scored.filter(col("__cos") > posThreshold)
    val posBoth = positives
      .select(col("id_a").as("anchor_id"), col("id_b").as("positive_id"))
      .unionByName(positives
        .select(col("id_b").as("anchor_id"), col("id_a").as("positive_id")))
    posBoth.join(negs, "anchor_id")
      .select("anchor_id", "positive_id", "negative_id", "neg_cos", "rn")
  }

  /** SemDeDup — SEMANTIC deduplication, the embedding-space production
    * recipe: k-means partitions the corpus into clusters, candidate
    * pairs form ONLY within a cluster (that is the whole point — the
    * clustering replaces an all-pairs or LSH candidate stage with a
    * learned one), pairs at or above the cosine `threshold` weld into
    * components, and each component keeps its smallest id. Output
    * `(idCol, status ∈ kept|dropped_semantic, winner_id)` — the
    * q58 / [[graft.operators.Multimodal.imageDedup]] audit shape.
    *
    * Recall contract: a near-dup pair SPLIT ACROSS clusters is unseen by
    * design (SemDeDup trades that tail for a candidate set the clusters
    * bound); within a cluster, verification is exact. The spec pins both
    * directions: every emitted edge passes the exhaustive threshold, and
    * every same-cluster exhaustive pair is found.
    *
    * 100 TB shape: clustering is [[kmeansLloyd]] (narrow literal-codebook
    * assignment, bounded collects); candidate generation is ONE
    * cluster-keyed equi-self-join — Σ|cluster|² candidate pairs, so `k`
    * must scale with the corpus to keep clusters bounded (the paper
    * sizes k ≈ √n); verification is one codegen'd dot per candidate; the
    * closure is [[graft.operators.Dedup.connectedComponents]] (driver
    * union-find under 4M edges, RDD hash-min pointer jumping beyond).
    *
    * THE Σ|cluster|² CONTRACT IS SUPER-LINEAR (~n^1.5 at k ≈ √n; the 5M
    * guard measured 13.7× wall at 10× input) — this flat operator is the
    * exact-within-cluster SEMANTICS baseline. Past the point where
    * clusters outgrow their pair budget, use [[semanticDedupBanded]]:
    * same clustering, same verification and audit, but in-cluster LSH
    * banding caps every cluster's candidate load (pipe_semantic_dedup
    * vs pipe_semantic_dedup_banded in the 500k/5M guard).
    *
    * k ceiling: assignment runs through the NATIVE argmin kernel
    * ([[graft.functions.NearestCentroidOps]] — constant generated-code
    * size, one runtime loop), so k is bounded by the per-iteration
    * k×dim codebook collect and broadcast (k ≈ √n at 10⁹ vectors is a
    * ~32k×64 ≈ 16 MB codebook — broadcast-class), not by bytecode
    * limits — and the banded path removes the pressure to grow k at all.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, k: Int = 4, iters: Int = 2): DataFrame = {
    val assigned = kmeansLloyd(df, idCol, vecCol, k, iters)
      .select(col(idCol).as("__id"), col("cluster"))
    // zero-norm vectors have no cosine direction: dropped from candidacy
    // here ([[cosinePairs]] policy — the threshold division below is then
    // structurally nonzero), so they can never weld and always audit as
    // `kept` through the final left join
    val vecs = df.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .filter(col("__n") > 0)
      .join(assigned, "__id")
    val a = vecs.select(col("__id").as("doc_a"), col("__v").as("__va"),
      col("__n").as("__na"), col("cluster"))
    val b = vecs.select(col("__id").as("doc_b"), col("__v").as("__vb"),
      col("__n").as("__nb"), col("cluster"))
    val edges = a.join(b, Seq("cluster"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
        >= threshold)
      .select("doc_a", "doc_b")
    Dedup.clusterAudit(df, idCol, edges, "dropped_semantic")
  }

  /** [[semanticDedup]] with the candidate stage BOUNDED by in-cluster
    * LSH banding — the code path that retires the flat operator's
    * Σ|cluster|² contract (~n^1.5 candidates at the paper's k ≈ √n; the
    * 5M guard measured 13.7× wall at 10× input): candidates must share
    * a k-means cluster AND an LSH band bucket in at least one of
    * `tables` independent tables, so per-vector candidate load is
    * `tables · |cluster| / 2^planes` — the `planes` knob caps any
    * cluster's pair budget regardless of its size (size it with
    * [[bandedPlanesFor]] against the EXPECTED cluster occupancy n/k).
    * Exact verification, welding, and the audit output are byte-for-
    * byte [[semanticDedup]]'s.
    *
    * Recall contract (two-stage, both directions spec-pinned): a
    * near-dup pair must land in the same cluster (the SemDeDup trade)
    * AND collide in some band table (1 − (1 − (1 − θ/π)^planes)^tables,
    * the [[nearDupPairsBanded]] amplification — ≥ 95% at cos ≥ 0.999
    * with 3 tables through billions of vectors); every emitted edge
    * still passes the exact threshold. Banding can only REMOVE
    * candidates, so the banded drop set is a subset of the flat one.
    *
    * 100 TB shape: clustering is [[kmeansLloyd]] (k stays MODEST — the
    * quality knob, no longer forced to √n for cost); buckets are ONE
    * [[bandedBuckets]] pass (compact localCheckpointed table); the
    * per-table self-joins key on (cluster, bucket) — compact ids only;
    * verification joins the vector payload for candidates only.
    */
  def semanticDedupBanded(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, k: Int = 4, iters: Int = 2,
                          planes: Int = 4, tables: Int = 3): DataFrame = {
    val assigned = kmeansLloyd(df, idCol, vecCol, k, iters)
      .select(col(idCol).as("__id"), col("cluster"))
    val keyed = assigned.join(bandedBuckets(df, idCol, vecCol, planes, tables), "__id")
    val edges = vectorPairs(bucketPairs(keyed, tables, keys = Seq("cluster")), df, df,
        idCol, vecCol)
      // same inclusive-threshold division as semanticDedup — boundary
      // behavior identical between the flat and banded paths
      .filter(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")) >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    Dedup.clusterAudit(df, idCol, edges, "dropped_semantic")
  }

  /** [[semanticDedupBanded]] with `planes` SIZED FROM THE DATA — the
    * no-hand-tuning entry point (costs one count() job up front): the
    * bounded path stays bounded at any corpus size because
    * [[semanticBandedPlanes]] re-derives the plane count from the
    * measured n, instead of a fixed default that is right at one scale
    * and super-linear at another.
    */
  def semanticDedupBandedAuto(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, k: Int = 4, iters: Int = 2,
                              tables: Int = 3,
                              pairBudgetPerVec: Long = 3L): DataFrame =
    semanticDedupBanded(df, idCol, vecCol, threshold, k, iters,
      semanticBandedPlanes(df.count(), k, pairBudgetPerVec, tables), tables)

  /** `planes` sizing for [[semanticDedupBanded]]: [[bandedPlanesFor]]
    * against the EXPECTED CLUSTER OCCUPANCY ⌈n/k⌉, not the corpus n —
    * banding there runs INSIDE a k-means cluster, so the per-vector
    * candidate load is `tables · |cluster| / 2^planes` and sizing
    * against the full corpus would overshoot planes by ~log₂(k) bits,
    * paying recall for headroom the clustering already bought.
    * Uniform-occupancy model: a skewed mega-cluster exceeds n/k, which
    * is exactly the case the planes cap exists to bound — its budget
    * overrun is the `pairBudgetPerVec` slack, not a blowup.
    */
  def semanticBandedPlanes(n: Long, k: Int, pairBudgetPerVec: Long = 3L,
                           tables: Int = 3): Int = {
    require(k >= 1, s"k must be >= 1, got $k")
    bandedPlanesFor(math.max(1L, (n + k - 1) / k), pairBudgetPerVec, tables)
  }
}
