package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed retrieval SERVING over persisted indexes — the production
  * hybrid-search shape: both retrieval arms open pre-built index
  * relations and the fusion touches only top-k lists. The build verbs
  * ([[Similarity.ivfPqIndexBuild]], [[TextAnalysis.sparseIndexBuild]])
  * run once, offline; this file is the online half.
  */
object Retrieval {

  /** HYBRID dense+sparse top-`k` retrieval from two PERSISTED indexes —
    * the serving verb the inline q252 composition amortizes into: the
    * dense arm is [[Similarity.ivfPqSearch]] over an IVF-PQ index
    * (retrain-free by construction — the codebooks are the index's
    * own fields, so no codebook job runs), the sparse arm is
    * [[TextAnalysis.sparseIndexSearch]] over a [[TextAnalysis
    * .SparseIndex]]'s SERVING relation (the build-time capped prune
    * when the index carries one), and the two rank lists fuse with
    * [[Selection.rrfFuseRanks]] (dense term first, `1/(k0+rank)` at
    * 6 dp). Output `(query_id, doc_id, rank_1, rank_2, rrf)` — rank_1
    * dense, rank_2 sparse, null where an arm missed the doc.
    *
    * Queries arrive in each arm's native shape — `queryVecs` as
    * `(id, vector)` rows for the dense arm, `queryPostings` as
    * `(query_id, term, weight)` rows for the sparse arm (for
    * find-similar-documents, derive them from the sparse index's own
    * UNCAPPED postings — the query's full weight profile, q247's
    * convention) — both bounded by the eval/serving contract.
    *
    * The dense arm serves from the corpus by default; `denseStored =
    * true` is the EXPLICIT opt-in for an index built with
    * `storeVectors = true` — the arm then reads NO corpus table (the
    * `corpus` argument goes unread) and both stages prune to the
    * probed cells ([[Similarity.ivfPqSearchStored]]'s bit-identity
    * contract). Explicit, not inferred from the index schema: a stale
    * vec payload must never silently override a fresher corpus the
    * caller handed in. `weights` is the per-arm RRF coefficient pair
    * (dense, sparse) — the tuned-alpha knob
    * ([[Selection.rrfFuseRanksWeighted]]; the all-ones default IS
    * plain RRF, one fusion tail, spec-pinned).
    *
    * 100 TB shape: NO training or weight-chain job is reachable from
    * here (the [[Similarity.ivfPqSearch]] retrain-free guarantee plus
    * the sparse index's materialized posting relations — PlanSpec pins
    * zero Lloyd barriers and zero tokenize/df scans in the serve plan);
    * the corpus never shuffles in either arm (literal-codebook
    * expressions + broadcast probes on the dense side, broadcast query
    * postings on the sparse side, bounded-heap ranks in both); the
    * fusion full-joins two ≤ queries·k relations — noise against the
    * retrievals.
    */
  def hybridSearch(dense: Similarity.IvfPqIndex, corpus: DataFrame,
                   queryVecs: DataFrame, idCol: String, vecCol: String,
                   sparse: TextAnalysis.SparseIndex,
                   queryPostings: DataFrame, queryIdCol: String,
                   termCol: String, weightCol: String,
                   k: Int, nProbe: Int = 4, rerank: Int = 20,
                   k0: Int = 60, denseStored: Boolean = false,
                   weights: Seq[Double] = Seq(1.0, 1.0)): DataFrame = {
    val dn = denseArm(dense, corpus, queryVecs, idCol, vecCol, k, nProbe,
      rerank, denseStored, withScore = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn"))
    val sp = TextAnalysis.sparseIndexSearch(sparse, queryPostings,
      queryIdCol, termCol, weightCol, k)
      .select(col("query_id"), col("doc_id"), col("rn"))
    Selection.rrfFuseRanksWeighted(Seq(dn, sp), "query_id", "doc_id", "rn",
      weights, k0)
  }

  /** [[hybridSearch]] with SCORE-based fusion — CombSUM/CombMNZ
    * ([[Selection.fuseScoresMinMax]]) instead of rank RRF, for
    * deployments where the arms' score VALUES carry signal the ranks
    * flatten: the dense arm's exact rerank cosine (6 dp) and the sparse
    * arm's exact-decimal dot product each min-max normalize per query,
    * sum in fixed (dense, sparse) order, and CombMNZ multiplies by the
    * agreement count. Output `(query_id, doc_id, n_lists, fused)`.
    * Same serving skeleton as [[hybridSearch]] — same persisted-index
    * arms, same `denseStored` opt-in, one fusion tail shared with the
    * graded standalone verb.
    */
  def hybridSearchScores(dense: Similarity.IvfPqIndex, corpus: DataFrame,
                         queryVecs: DataFrame, idCol: String, vecCol: String,
                         sparse: TextAnalysis.SparseIndex,
                         queryPostings: DataFrame, queryIdCol: String,
                         termCol: String, weightCol: String,
                         k: Int, nProbe: Int = 4, rerank: Int = 20,
                         mnz: Boolean = true,
                         denseStored: Boolean = false): DataFrame = {
    val dn = denseArm(dense, corpus, queryVecs, idCol, vecCol, k, nProbe,
      rerank, denseStored, withScore = true)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cos").as("score"))
    val sp = TextAnalysis.sparseIndexSearch(sparse, queryPostings,
      queryIdCol, termCol, weightCol, k)
      .select(col("query_id"), col("doc_id"), col("score"))
    Selection.fuseScoresMinMax(Seq(dn, sp), "query_id", "doc_id", "score", mnz)
  }

  /** The one dense-arm dispatch both hybrid verbs share: corpus-served
    * by default, [[Similarity.ivfPqSearchStored]] on the explicit
    * `denseStored` opt-in (which refuses loudly when the index carries
    * no `vec` payload).
    */
  private def denseArm(dense: Similarity.IvfPqIndex, corpus: DataFrame,
                       queryVecs: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int, rerank: Int,
                       denseStored: Boolean, withScore: Boolean): DataFrame =
    if (denseStored)
      Similarity.ivfPqSearchStored(dense, queryVecs, idCol, vecCol,
        k, nProbe, rerank, withScore)
    else
      Similarity.ivfPqSearch(dense, corpus, queryVecs, idCol, vecCol,
        k, nProbe, rerank, withScore)

  /** The HYBRID serving stack's health gate — one relation composing
    * both arms' drift monitors over a shared incoming batch: the dense
    * arm's coarse-cell occupancy drift
    * ([[Similarity.ivfDriftReport]] rolled to its one-row summary) and
    * the sparse arm's vocabulary drift
    * ([[TextAnalysis.sparseDriftReport]]), each as a row
    * `(arm, oov_mass, tv, gate)` — `oov_mass` is the sparse arm's
    * metric and NULL on the dense row — plus `rebuild_any`, the OR of
    * the two gate bits repeated on both rows: the single operational
    * dashboard row-pair for a [[hybridSearch]] deployment ("is EITHER
    * index stale for what is arriving?").
    *
    * `vecBatch`/`docBatch` are the same logical batch in each arm's
    * native shape (vectors / raw text) — the two id domains need not
    * match, exactly as [[hybridSearch]]'s two query shapes.
    *
    * 100 TB shape: both drift reports are batch-pass + index-metadata
    * priced by their own contracts (the dense side re-aggregates the
    * codes relation per cell, the sparse side reads the index's `vocab`
    * — never a corpus rescan); the composition adds only
    * two-row unions and one-row broadcasts.
    */
  def hybridHealthReport(dense: Similarity.IvfPqIndex,
                         vecBatch: DataFrame, vecIdCol: String,
                         vecCol: String,
                         sparse: TextAnalysis.SparseIndex,
                         docBatch: DataFrame, docIdCol: String,
                         textCol: String,
                         denseTvThreshold: Double = 0.25,
                         oovThreshold: Double = 0.2,
                         sparseTvThreshold: Double = 0.25): DataFrame = {
    val dRow = Similarity.ivfDriftReport(dense, vecBatch, vecIdCol, vecCol,
        denseTvThreshold)
      .agg(max(col("tv")).as("tv"), max(col("retrain")).as("gate"))
      .select(lit("dense").as("arm"),
        lit(null).cast("double").as("oov_mass"), col("tv"), col("gate"))
    val sRow = TextAnalysis.sparseDriftReport(sparse, docBatch, docIdCol,
        textCol, oovThreshold, sparseTvThreshold)
      .select(lit("sparse").as("arm"), col("oov_mass"), col("tv"),
        col("rebuild").as("gate"))
    // two rows, read twice (output + the rebuild_any rollup) —
    // materialize once so neither drift pass runs twice
    val both = dRow.unionByName(sRow).localCheckpoint()
    both.crossJoin(broadcast(both.agg(max(col("gate")).as("rebuild_any"))))
  }
}
