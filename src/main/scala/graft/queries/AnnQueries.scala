package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Par, Similarity, TextAnalysis}
import graft.queries.Shared._

/** ANN and hybrid retrieval over [[graft.operators.Similarity]]: brute-force,
  * LSH, IVF and IVF-PQ (indexes, stored, pruned, residual), binary
  * codes, sparse + dense hybrid search and their recall reports.
  */
private[graft] object AnnQueries {

  val all: Seq[Query] = Seq(

    // ── brute-force cosine top-k ANN (queries broadcast, corpus partitioned).
    Query("q26_ann_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      """WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS cos
        |      FROM c, q WHERE neighbor_id <> query_id),
        |r AS (SELECT query_id, neighbor_id,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
        |      FROM s)
        |SELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ── random-hyperplane LSH bucket assignment (the ANN scale path).
    Query("q27_ann_lsh_bucket", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.lshBucket(col("embedding")).as("bucket"))
        .orderBy("vec_id"),
      Oracle.Sql(
      """SELECT vec_id, (""" +
        (0 until 4).map { p =>
          s"""CASE WHEN list_reduce(list_transform(range(1, 65),
             | j -> CAST(embedding[j] AS DOUBLE) * CAST(${planeWeightSql(p)} AS DOUBLE)),
             | (a, b) -> a + b) > 0 THEN ${1L << p} ELSE 0 END""".stripMargin
        }.mkString(" + ") +
        """)::BIGINT AS bucket FROM embeddings ORDER BY vec_id""")),

    // ── IVF-style ANN: the full deterministic pipeline (first-16 centroid
    // codebook, cosine cell assignment, 4-probe search) is restated as the
    // DuckDB oracle, so partial-probe results are hash-checked too.
    Query("q37_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
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
        |SELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ── two-stage ANN: int8-quantized candidate scan, exact float rerank
    // (the production retrieval pattern; both stages rank-deterministic).
    Query("q54_ann_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedRerankTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
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
        |SELECT query_id, neighbor_id, rn FROM stage2 WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ── ANN recall@5 evaluation: LSH-bucketed top-k graded against the
    // exact cosine top-k on a 1-in-50 query sample.
    Query("q153_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annRecallReport(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id")
    }, Oracle.Sql(
      // Both ANN arms restated: the q26 exact top-5 and the q27 bucket
      // pipeline ranked the same way; recall = overlap/5.
      {
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
    })),

    // ── Johnson–Lindenstrauss random projection to 8 dims: the
    // dimensionality-reduction front of ANN/clustering, a pure narrow
    // kernel over the lshBucket plane-weight generator (full dot values
    // instead of sign bits). Served by the literal-weight form
    // (signProject — 7× the declarative randomProjection's throughput
    // at 500k in the pipe_jl guard pair; value parity spec-pinned),
    // reshaped to the q199 wide-column contract.
    Query("q199_jl_projection", (s, dir) => {
      val proj = Similarity.signProject(t(s, dir, "embeddings"), "vec_id",
        "embedding", outDim = 8, dim = 64)
      proj.select(col("vec_id") +:
        (0 until 8).map(p => element_at(col("proj"), p + 1).as(s"proj_$p")): _*)
        .orderBy("vec_id")
    }, Oracle.Sql(
      // JL projection: the lshBucketSql plane-weight arithmetic with the
      // full dot value kept (same left-to-right fold as the native
      // kernel), 6 dp.
      {
      val projs = (0 until 8).map { p =>
        s"""round(list_reduce(list_transform(range(1, 65),
           | j -> CAST(embedding[j] AS DOUBLE) * CAST(${planeWeightSql(p)} AS DOUBLE)),
           | (a, b) -> a + b), 6) + 0.0 AS proj_$p""".stripMargin
      }
      s"""SELECT vec_id,\n${projs.mkString(",\n")}\nFROM embeddings\n${jlWidthGuardSql()}\nORDER BY vec_id"""
    })),

    // ── product quantization: 4 subspaces × 16 dims, k=4 codes each (8
    // bits per vector) — four independent Lloyd chains on slices, the
    // ANN compression standard; oracle = four suffixed q183 CTE chains.
    Query("q207_pq_codes", (s, dir) =>
      Similarity.pqCodes(t(s, dir, "embeddings"), "vec_id", "embedding",
        subspaces = 4, subDim = 16, k = 4, iters = 2)
        .orderBy("vec_id"),
      Oracle.Sql(
      // PQ: four suffixed kmeans chains over 16-dim slices (offsets
      // 0/16/32/48), codes joined on vec_id.
      {
      val chains = (0 until 4).map(sp => kmeansCtes(4, 2, 16, sp * 16, s"_s$sp"))
      val codeCols = (0 until 4)
        .map(sp => s"CAST(s$sp.cluster AS INT) AS code_$sp").mkString(", ")
      val joins = (1 until 4)
        .map(sp => s"JOIN a3_s$sp s$sp ON s$sp.vec_id = s0.vec_id").mkString(" ")
      "WITH " + chains.mkString(",\n") + "\n" +
        s"SELECT s0.vec_id, $codeCols FROM a3_s0 s0 $joins ORDER BY s0.vec_id"
    })),

    // ── IVF-PQ ANN search — the production retrieval composition: IVF
    // coarse cells (q37's quantizer) prune, PQ codes (q207's fused
    // training) rank candidates by a per-query asymmetric-distance
    // lookup table, exact cosine reranks only the top-20 survivors.
    // Corpus never shuffles: cells + codes are per-row expressions over
    // literal codebooks; both rankings are bounded heaps.
    Query("q219_ivf_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
        subspaces = 4, subDim = 16, pqK = 4, pqIters = 2, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // IVF-PQ: the q37 cell/probe CTEs + four suffixed q183 chains (the
      // q207 composition) + per-query ADC tables (query 9-dp slice ·
      // final centroid, the chains' own v/c relations), stage-1 rank on
      // the 6-dp ADC sum over the candidate norm (id ties), exact-cosine
      // rerank of the top 20. Every CTE is MATERIALIZED: the chains are
      // referenced by training, ADC, AND the code pivot, and DuckDB's
      // default inlining re-evaluates multiply-referenced CTEs — measured
      // >25 min at sf0.1 inlined vs 0.9 s materialized, same result.
      ivfPqRawOracleSql)),

    // ── residual IVF-PQ: the full FAISS recipe — PQ trains on
    // v − centroid(cell), stage 1 scores base + residual-ADC over the
    // candidate norm; same bounded-heap/broadcast shape as q219.
    Query("q231_ivf_pq_residual", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqResidualTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
        subspaces = 4, subDim = 16, pqK = 4, pqIters = 2, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Residual IVF-PQ: the q219 skeleton with a residual relation
      // (v − centroid(assigned cell)) feeding the suffixed chains, a raw
      // 9-dp query-slice relation for the ADC, and the per-probe base
      // dot added before the norm division. Every CTE MATERIALIZED.
      ivfPqResidualOracleSql)),

    // ── IVF-PQ index LIFECYCLE: build once (codes + codebooks, written
    // as relations on save — the FAISS train→add→search split), then
    // search retrain-free over the index's codebooks, amortizing the
    // pqIters training barriers across every query batch. Same
    // parameters as q219 ⇒ bit-identical results, graded against the
    // same oracle.
    Query("q232_ivf_pq_index", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqSearch(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Persisted-index IVF-PQ search: ivfPqSearch over ivfPqIndexBuild is
      // what the inline ivfPqTopK runs at the same parameters (one search
      // path; spec-pinned), so the lifecycle query grades against the
      // SAME SQL.
      ivfPqRawOracleSql)),

    // ── recall of the composed IVF-PQ stack vs exact brute force — the
    // index-quality gate as a GRADED relation (annRecallReportFor), not
    // a spec-only check: (query_id, n_hit, recall) per query.
    Query("q234_ivf_pq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val ann = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
        pqIters = 2, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }, Oracle.Sql(
      // IVF-PQ recall vs brute force: the shared CTE chain + an exact
      // brute-force top-5 CTE + the left-join recall rollup.
      ivfPqRecallOracleSql)),

    // ── the residual stack's index lifecycle: build with residual
    // encoding, search retrain-free — bit-identical to q231 (the inline
    // residual verb is this build-then-search), graded against the same
    // oracle.
    Query("q236_ivf_pq_residual_index", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        residual = true)
      Similarity.ivfPqSearch(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Persisted-index residual search: bit-identical to the inline q231
      // (ivfPqResidualTopK is this build-then-search), so it grades
      // against the same SQL — the q232/q219 relationship for the
      // residual stack.
      ivfPqResidualOracleSql)),

    // ── the residual stack's recall twin: q231's ANN relation through
    // the same graded recall report.
    Query("q235_ivf_pq_residual_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val ann = Similarity.ivfPqResidualTopK(emb, qs, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16,
        pqK = 4, pqIters = 2, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }, Oracle.Sql(
      // Residual IVF-PQ recall vs brute force: the residual CTE chain +
      // the same brute-force top-5 / recall rollup tail as q234.
      ivfPqResidualRecallOracleSql)),

    // ── incremental index ADD (FAISS's add verb): build on the ~half
    // hash-split base, encode the delta against the FROZEN codebooks
    // (no retrain — zero training aggregations in the add path,
    // PlanSpec-pinned), union the codes relation, search the grown
    // index over the full corpus. The oracle states the equivalent
    // rebuild from scratch: train on the base, code EVERYTHING against
    // the final codebooks — bit-identical by the ivfPqEncode contract.
    Query("q241_ivf_pq_index_add", (s, dir) => {
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
    }, Oracle.Sql(
      // Incremental index add: the engine encodes the delta against the
      // FROZEN base-trained codebooks and unions the codes; the oracle is
      // the from-scratch rebuild over the same codebooks (train on base,
      // code everything, q219's search tail).
      ivfPqAddOracleSql)),

    // ── (nProbe, rerank) operating-point planner — bandingPlan's ANN
    // twin: each grid point searches the SAME built index retrain-free,
    // recall grades against one shared brute-force arm, est_cost is the
    // uniform-occupancy work model, chosen = cheapest point meeting the
    // 0.9 recall target (max recall if none does).
    Query("q242_ivf_pq_operating_plan", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqOperatingPointPlan(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbes = Seq(2, 4),
        reranks = Seq(10, 20), targetRecall = 0.9)
        .orderBy("n_probe", "rerank")
    }, Oracle.Sql(
      // Operating-point planner: one shared training chain + per-grid-
      // point search tails + the shared brute-force top-5, then recall/
      // cost arithmetic and the deterministic chosen window.
      ivfPqPlanOracleSql)),

    // ── index REMOVE (FAISS's remove_ids, the last lifecycle verb):
    // anti-join the top hash decile out of the codes relation — no
    // retrain, codebooks untouched — and search what remains; the
    // oracle states the never-held-those-rows index as a stage-1
    // candidate filter on the from-scratch chain.
    Query("q245_ivf_pq_index_remove", (s, dir) => {
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
    }, Oracle.Sql(
      // Index remove: q219's chain with the kept-rows predicate as a
      // stage-1 candidate filter — codebooks still train on EVERYTHING
      // (removal does not retrain), only candidacy shrinks.
      "WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "", candPred = evalSampleSql("a.vec_id", 900)) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── PQ reconstruction-error report: per subspace, the MSE between
    // each coded row's 9-dp slice and its code's centroid — the
    // quantizer-quality diagnostic; rising MSE after adds is the
    // measured retrain trigger, no brute-force recall run needed.
    Query("q246_ivf_pq_recon_error", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqReconError(idx, emb, "vec_id", "embedding")
        .orderBy("subspace")
    }, Oracle.Sql(
      // PQ reconstruction error: the shared training chains' final
      // assignments joined back to their own centroids — 6-dp per-row
      // squared-error sums over each subspace's slices (the kmeans
      // distance recipe), decimal-summed, one terminal division.
      ivfPqReconOracleSql)),

    // ── IVF cell-occupancy health report: one row per coarse cell with
    // count/fraction/load_factor (1 = uniform), DEAD cells included as
    // zero rows — the after-every-add quantizer-balance gate. pqIters=0:
    // occupancy depends only on the coarse assignment, so the stage
    // skips the Lloyd barriers entirely.
    Query("q243_ivf_cell_occupancy", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
      Similarity.ivfCellOccupancy(idx).orderBy("cell")
    }, Oracle.Sql(
      // IVF cell occupancy: the q37 first-16 centroid pick + argmin
      // assignment, zero-norm rows excluded from the counts (the codes
      // relation's drop policy), dead cells preserved by the left join.
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
        |ORDER BY ct.cell""".stripMargin)),

    // ── Matryoshka (prefix-dimension) two-stage ANN: stage 1 ranks by
    // the cosine of the first 16 of 64 dims (the MRL truncation), the
    // top-20 survivors get the exact full-dim cosine — q54's skeleton
    // with dimensions, not precision, as the cheap axis. The fixture
    // embeddings are not MRL-trained, so prefix recall is low HERE by
    // construction — the graded contract is the two-stage composition's
    // determinism; recall on real MRL vectors is annRecallReportFor's
    // job (q234's convention).
    Query("q250_matryoshka", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, prefixDim = 16, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Matryoshka two-stage: q54's oracle skeleton with list slicing as
      // the cheap stage — prefix cosine (zero-prefix rows dropped on both
      // sides) ranks the top-20 window, full cosine ranks the survivors.
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
        |ORDER BY query_id, rn""".stripMargin)),

    // ── quantization-drift gate: build on the 90% hash slice, encode the
    // 10% complement against the FROZEN codebooks, compare per-cell
    // occupancy shares — tv = total-variation distance, retrain = the
    // gate bit. pqIters=0: drift reads only the coarse assignment.
    Query("q249_ivf_drift", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = evalSample(emb, "vec_id", 900)
      val delta = emb.filter(
        graft.operators.Sampling.hashBucket(col("vec_id")) >= 900)
      val idx = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
      Similarity.ivfDriftReport(idx, delta, "vec_id", "embedding",
        tvThreshold = 0.1)
        .orderBy("cell")
    }, Oracle.Sql(
      // Quantization drift: q243's assignment skeleton with centroids from
      // the 90% BASE slice, every norm-positive vector assigned and split
      // base/batch by the same hash predicate, per-cell share deltas at
      // 9 dp, the DECIMAL total-variation sum, and the gate bit.
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
        |FROM wf w, tv t ORDER BY w.cell""".stripMargin)),

    // ── hybrid dense+sparse retrieval: brute-force cosine top-5 over the
    // embeddings and TF-IDF sparse top-5 over the texts of the SAME 1%
    // hash-sampled ids, fused with reciprocal-rank fusion (dense term
    // first, k0=60) — the production hybrid-search serving pattern as
    // one graded relation.
    Query("q252_hybrid_rrf", (s, dir) =>
      hybridFused(s, dir)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id")),
      Oracle.Sql(
      // Hybrid RRF: the q247 sparse chain's top-5 full-joined with a
      // dense brute-force top-5 over the same hash-sampled ids, then the
      // fixed-order 1/(60+rank) sum (dense term first) at 6 dp.
      "WITH " + hybridFusionCtes +
        "\nSELECT query_id, doc_id, rank_1, rank_2, rrf FROM fz" +
        "\nORDER BY query_id, rrf DESC, doc_id")),

    // ── the composed hybrid-SERVING verb over BOTH index lifecycles:
    // IVF-PQ search (retrain-free, q232's parameters) + sparse search
    // over the index's build-time capped prune (cap=25, the q248-priced
    // knob), RRF-fused — the production retrieval shape q252 rebuilds
    // inline. Query postings derive from the UNCAPPED postings (the
    // query's full weight profile); both arms on 16-winner samples.
    Query("q260_hybrid_index_search", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text", minDf = 2, cap = Some(25)))
      val qp = sIdx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      graft.operators.Retrieval.hybridSearch(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }, Oracle.Sql(
      // Hybrid index serving: the q219 IVF-PQ chain with the 16-winner
      // query sample + the q247 sparse chain scored over the cap-25
      // pruned postings (q248's cpost recipe) + the q252 fusion tail —
      // the engine serves both arms from persisted index relations,
      // bit-identical to these inline chains by construction (the
      // q232-vs-q219 / q258-vs-q247 convention, composed).
      "WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparsePostingCtes + ",\n" + hybridIndexFusionTail)),

    // ── binary (sign-bit) quantized two-stage ANN: stage 1 ranks every
    // pair by sign-AGREEMENT over packed 32-bit words (bit_count(xor) —
    // 8 bytes per 64-dim vector instead of 256), exact cosine reranks
    // the top-20 survivors. q54's two-stage axis pushed from int8 to
    // 1-bit — the stage-1 scan floor.
    Query("q270_binary_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.binaryRerankTopK(emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", dim = 64, k = 5, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Binary (sign-bit) two-stage ANN: 32-bit sign-word packing
      // (1::BIGINT << j sums — the engine's reversed acc·2 fold states the
      // same Σ bit_j·2^j), hamming-ASC stage-1 rank (≡ agreement DESC),
      // exact cosine rerank — q54's two-stage statement at the 1-bit axis.
      "WITH " + binaryRerankCtes(rerank = 20) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── binary-quantization recall gate: the q270 relation graded
    // against exact brute force on the same 16-winner sample (the q234
    // convention for the 1-bit stage) — "is 1-bit stage-1 safe on MY
    // data at THIS rerank", measured before a deployment trusts it.
    Query("q271_binary_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val ann = Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
        dim = 64, k = 5, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }, Oracle.Sql(
      // Binary-quantization recall gate: the q270 chain + the q256-style
      // exact brute-force top-5 over the same winners + the left-join
      // recall rollup.
      "WITH " + binaryRerankCtes(rerank = 20) + ",\n" +
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
          |GROUP BY 1 ORDER BY bf.query_id""".stripMargin)),

    // ── scan-pruned IVF-PQ serving: the batch's distinct probed cells
    // pushed into the codes scan as a static cell-IN predicate —
    // result-identical to q232 by construction (stage 1 equi-joins on
    // cell), graded against the SAME SQL; over the cell-clustered
    // persisted layout (ivfPqIndexSaveClustered) the predicate is a
    // PARTITION filter and the scan reads ~nProbe/nCentroids of the
    // index (spec-pinned physically; guarded at 500k/5M).
    Query("q272_ivf_pq_pruned", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
      Similarity.ivfPqSearchPruned(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Scan-pruned IVF-PQ serving: the probed-cell scan predicate is
      // result-invariant (stage 1 equi-joins on cell), so the query grades
      // against q232's oracle VERBATIM — the parity contract.
      ivfPqRawOracleSql)),

    // ── stored-vector IVF-PQ serving: the index carries the rerank
    // vectors (storeVectors=true — FAISS's IVF-with-stored-vectors), so
    // the serve reads NO external table: probed cells prune stage 1 and
    // stage 2 reranks from the same pruned codes relation. Bit-identical
    // to q232 at the same parameters — graded against its oracle
    // VERBATIM (the parity convention).
    Query("q277_ivf_pq_stored", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true)
      Similarity.ivfPqSearchStored(idx, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Stored-vector IVF-PQ serving: the rerank reads the same vector
      // values from the index's vec payload — bit-identical to q232, so
      // it grades against the same SQL (the parity convention).
      ivfPqRawOracleSql)),

    // ── binary index lifecycle: pack once (binaryIndexBuild), serve via
    // binarySearch — the very path q270's binaryRerankTopK runs, so the
    // lifecycle query grades against the SAME SQL (the q232/q272 parity
    // convention). The persisted words relation is the 1/32-bytes
    // stage-1 scan; the float corpus appears only for the exact rerank.
    Query("q275_binary_index", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.binaryIndexBuild(emb, "vec_id", "embedding",
        dim = 64)
      Similarity.binarySearch(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Binary index lifecycle: the inline q270 is this build-then-search
      // (spec-pinned), so it grades against the same SQL.
      "WITH " + binaryRerankCtes(rerank = 20) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── the tuned-alpha hybrid: q260's persisted-index arms fused at
    // dense 0.7 / sparse 0.3 through the composed verb's weights knob
    // (rrfFuseRanksWeighted's one fusion tail — q269's coefficients
    // inside the serving verb instead of hand-wired around it).
    Query("q279_hybrid_weighted", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text", minDf = 2, cap = Some(25)))
      val qp = sIdx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      graft.operators.Retrieval.hybridSearch(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20, weights = Seq(0.7, 0.3))
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }, Oracle.Sql(
      // Weighted hybrid serving: q260's exact oracle with the q269
      // coefficients in the fusion tail (dense 0.7, sparse 0.3, both CAST
      // to DOUBLE so the engines divide identical IEEE values).
      "WITH " + ivfPqTrainCtes() + ",\n" +
        ivfPqSearchTailCtes(4, 20, "") + ",\n" +
        sparsePostingCtes + ",\n" +
        hybridIndexFusionTailWeighted("0.7", "0.3"))),

    // ── CELL-PRUNED binary serving (FAISS's IVF-with-binary-refine):
    // the index carries packed sign words AND the vec payload, so
    // stage 1 hamming-ranks only each query's 4 probed cells and
    // stage 2 reranks from the index's own vectors — NO external table
    // read (the corpus argument is unread), and over the clustered
    // layout both stages are partition-pruned. IVF semantics by
    // construction: candidates come from the query's probed cells.
    Query("q280_binary_cell_pruned", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true, storeSignWords = true)
      Similarity.binarySearchCells(idx, emb, evalSampleN(emb, "vec_id", 16),
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Cell-pruned binary serving: the q219 coarse-quantizer statement
      // (first-16 centroids, cosine-distance assignment, per-query top-4
      // probes) composed with the q270 sign-word hamming rank — stage-1
      // candidates are the query's probed cells' rows (IVF semantics),
      // stage 2 the exact-cosine rerank.
      "WITH " + binaryCellCtes(nProbe = 4, rerank = 20) +
        "\nSELECT query_id, neighbor_id, rn FROM r WHERE rn <= 5" +
        "\nORDER BY query_id, rn")),

    // ── the cell-pruned binary RECALL gate (the q271 convention for
    // the IVF axis): q280's relation graded against exact brute force
    // on the same 16-winner sample — "is 1-bit stage-1 at nProbe=4 safe
    // on MY data", measured before a deployment trusts the composed
    // scan discount.
    Query("q284_binary_cells_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true, storeSignWords = true)
      val ann = Similarity.binarySearchCells(idx, emb, qs,
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }, Oracle.Sql(
      // Cell-pruned binary recall gate: the q280 chain + the q271-style
      // exact brute-force top-5 over the same winners + the left-join
      // recall rollup.
      "WITH " + binaryCellCtes(nProbe = 4, rerank = 20) + ",\n" +
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
          |GROUP BY 1 ORDER BY bf.query_id""".stripMargin)),

    // ── the binary-cells OPERATING-POINT planner (the q242/q262
    // convention for the new axis): sweep the (nProbe, rerank) grid
    // against measured recall and the EXACT stage-1 row count (probe
    // ranks × cell occupancy), chosen = fewest stage-1 rows then
    // smallest rerank among points meeting 0.8 — the measured answer to
    // q284's "0.43 at nProbe 4 is too low: what DO I need" (on this
    // fixture the rerank-20 arm never meets — heap displacement — and
    // the rerank-100 arm does: the grid prices the fix).
    Query("q285_binary_cells_plan", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        storeVectors = true, storeSignWords = true)
      Similarity.binaryCellsOperatingPlan(idx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        k = 5, nProbes = Seq(2, 4, 8, 16), reranks = Seq(20, 100),
        targetRecall = 0.8)
        .orderBy("n_probe", "rerank")
    }, Oracle.Sql(
      // Binary-cells operating-point plan: ONE shared coarse/words chain,
      // ranked probes at the widest grid point, one suffixed two-stage
      // tail per nProbe, the shared brute-force arm, EXACT per-point
      // stage-1 rows from probe-rank × occupancy, and the deterministic
      // (meets, rows, recall desc, rows, probe) chosen window — the q242
      // statement shape on the binary axis.
      binaryCellsPlanOracleSql)),

    // ── SCORE-fused hybrid serving: q260's persisted-index arms fused
    // by CombMNZ over their exact scores (the dense arm's 6-dp rerank
    // cosine via withScore, the sparse arm's exact-decimal dot) — the
    // q268 normalization inside the composed serving verb, for
    // deployments where score VALUES carry signal the ranks flatten.
    Query("q282_hybrid_score_serving", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val (dIdx, sIdx) = Par.par2(
        Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2),
        TextAnalysis.sparseIndexBuild(docs, "doc_id", "text", minDf = 2, cap = Some(25)))
      val qp = sIdx.postings
        .join(evalSampleN(docs, "doc_id", 16).select("doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "query_id")
      graft.operators.Retrieval.hybridSearchScores(dIdx, emb,
        evalSampleN(emb, "vec_id", 16), "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight",
        k = 5, nProbe = 4, rerank = 20, mnz = true)
        .orderBy(col("query_id"), col("fused").desc, col("doc_id"))
    }, Oracle.Sql(
      // Score-fused hybrid serving: the q232 dense chain with the rerank
      // cosine VALUES restated through the exact dot/norm fold (the q211
      // convention), the q248 capped sparse scoring chain, and the q268
      // min-max CombMNZ tail over the two top-5 lists.
      hybridScoreOracleSql)),

    // ── the SCORE verb over the full stored+clustered deployment
    // (q278's lifecycle × q282's fusion): dense index storeVectors=true,
    // saved clustered, both indexes reloaded, dense arm corpus-free with
    // the 6-dp rerank cosine read from the vec payload — bit-identical
    // scores by the q277 contract, so this grades against q282's oracle
    // verbatim. Closes the verb×deployment matrix: every fusion strategy
    // is graded over the production index layout, not only inline builds.
    Query("q283_hybrid_score_stored", (s, dir) => {
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
              minDf = 2, cap = Some(25)),
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
    }, Oracle.Sql(
      // The score verb over the stored+clustered deployment: rerank
      // cosine VALUES bit-identical by the q277 stored-rerank contract,
      // the rest of the parity chain as q278 — q282's oracle verbatim.
      hybridScoreOracleSql)),

    // ── deterministic random projection 64 → 16 dims: the LSH
    // hyperplane mixer's value-preserving twin (Achlioptas/JL-class),
    // exploded to (vec_id, p, value) so every projected coordinate is
    // hash-graded.
    Query("q255_jl_project", (s, dir) =>
      Similarity.signProject(t(s, dir, "embeddings"), "vec_id", "embedding",
        outDim = 16, dim = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("p", "value")))
        .withColumn("p", col("p").cast("long"))
        .orderBy("vec_id", "p"),
      Oracle.Sql(
      // JL projection: the 16 plane-weight folds as a zipped unnest —
      // identical left-to-right product folds, round 6 + 0.0 (zround).
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings ${jlWidthGuardSql()}),
         |pr AS (SELECT vec_id, unnest(range(0, 16)) AS p,
         |        unnest(${jlProjListSql(16, 64)}) AS value FROM v)
         |SELECT vec_id, CAST(p AS BIGINT) AS p, value FROM pr
         |ORDER BY vec_id, p""".stripMargin)),

    // ── JL-projection recall gate: brute-force top-5 in the PROJECTED
    // 16-dim space graded against exact full-dim top-5 on a 2% hash
    // sample — the "is this width safe on MY data" pre-run (the q240
    // convention for the projection).
    Query("q256_jl_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = evalSampleN(emb, "vec_id", 16)
      val proj = Similarity.signProject(emb, "vec_id", "embedding",
        outDim = 16, dim = 64)
      val projQ = proj.join(qs.select("vec_id"), "vec_id")
      val ann = Similarity.bruteForceTopK(proj, projQ, "vec_id", "proj", 5)
      Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
        .orderBy("query_id")
    }, Oracle.Sql(
      // JL recall gate: projected-space brute-force top-5 (the rounded
      // 16-dim lists) vs exact full-dim top-5 on the 2% hash sample, the
      // q234 left-join recall rollup.
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
         |GROUP BY 1 ORDER BY bf.query_id""".stripMargin))
  )
}
