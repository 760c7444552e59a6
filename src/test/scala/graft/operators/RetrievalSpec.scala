package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    self.collect(pf) ++ self.subqueries.flatMap(collectAll(_)(pf))
  }

  test("hybridSearch: arm parity, lifecycle transparency, serve-plan pins") {
    val dIdx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val sIdx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
      minDf = 2, cap = Some(10))
    val qv = Sampling.hashSampleN(emb, "vec_id", 8)
    val qp = sIdx.postings
      .join(Sampling.hashSampleN(docs, "doc_id", 8).select("doc_id"), "doc_id")
      .withColumnRenamed("doc_id", "query_id")

    val fusedRows = Retrieval.hybridSearch(dIdx, emb, qv, "vec_id", "embedding",
      sIdx, qp, "query_id", "token", "weight", k = 5, nProbe = 4, rerank = 20)
      .select("query_id", "doc_id", "rank_1", "rank_2", "rrf")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), r.getDouble(4))).toSet
    assert(fusedRows.nonEmpty)

    // arm parity: rank_1 IS the ivfPqSearch ranking, rank_2 IS the
    // capped sparseTopK ranking — the fusion invents no ranks
    val dn = Similarity.ivfPqSearch(dIdx, emb, qv, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)
      .select(col("query_id"), col("neighbor_id"), col("rn"))
      .as[(Long, Long, Long)].collect().toSet
    val sp = TextAnalysis.sparseTopK(
      TextAnalysis.cappedPostings(sIdx.postings, "doc_id", "token", "weight", 10),
      "doc_id", qp, "query_id", "token", "weight", k = 5)
      .select(col("query_id"), col("doc_id"), col("rn"))
      .as[(Long, Long, Long)].collect().toSet
    assert(fusedRows.filter(_._3.isDefined)
      .map(r => (r._1, r._2, r._3.get.asInstanceOf[Long])) == dn)
    assert(fusedRows.filter(_._4.isDefined)
      .map(r => (r._1, r._2, r._4.get.asInstanceOf[Long])) == sp)

    // lifecycle transparency: serving from SAVED+RELOADED indexes is
    // bit-identical to serving from the in-memory builds
    val base = java.nio.file.Files.createTempDirectory("hybrid").toString
    Similarity.ivfPqIndexSave(dIdx, s"$base/dense")
    TextAnalysis.sparseIndexSave(sIdx, s"$base/sparse")
    val dRe = Similarity.ivfPqIndexLoad(spark, s"$base/dense")
    val sRe = TextAnalysis.sparseIndexLoad(spark, s"$base/sparse")
    val qpRe = sRe.postings
      .join(Sampling.hashSampleN(docs, "doc_id", 8).select("doc_id"), "doc_id")
      .withColumnRenamed("doc_id", "query_id")
    val served = Retrieval.hybridSearch(dRe, emb, qv, "vec_id", "embedding",
      sRe, qpRe, "query_id", "token", "weight", k = 5, nProbe = 4, rerank = 20)
    assert(served.select("query_id", "doc_id", "rank_1", "rank_2", "rrf")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), r.getDouble(4))).toSet == fusedRows)

    // serve-plan pins (the q232 retrain-free rule, composed): no
    // window, no cartesian, the ONLY merge join is the full-outer
    // fusion, and the plan never scans documents.text — no tokenize /
    // weight chain is reachable from a loaded index
    val p = served.queryExecution.executedPlan
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1 && smj.forall(_.joinType.sql == "FULL OUTER"),
      s"only the eval-sized fusion full-join may merge, got ${smj.size}")
    val scannedText = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("ReadSchema").exists(_.contains("text")) => f
    }
    assert(scannedText.isEmpty, "serving must not re-read documents.text")
  }

  test("hybridSearch stored dense arm is an EXPLICIT opt-in: corpus unread when on, respected when off, refused without a payload") {
    val sIdx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
      minDf = 2, cap = Some(10))
    val qv = Sampling.hashSampleN(emb, "vec_id", 8)
    val qp = sIdx.postings
      .join(Sampling.hashSampleN(docs, "doc_id", 8).select("doc_id"), "doc_id")
      .withColumnRenamed("doc_id", "query_id")
    def fused(dIdx: Similarity.IvfPqIndex, corpus: org.apache.spark.sql.DataFrame,
              stored: Boolean) =
      Retrieval.hybridSearch(dIdx, corpus, qv, "vec_id", "embedding",
        sIdx, qp, "query_id", "token", "weight", k = 5, nProbe = 4, rerank = 20,
        denseStored = stored)
        .select("query_id", "doc_id", "rrf")
        .as[(Long, Long, Double)].collect().toSet
    val plain = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val stored = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeVectors = true)
    val want = fused(plain, emb, stored = false)
    // opted IN, the dense arm ignores the corpus argument entirely:
    // pass a POISONED corpus — identical fusion proves it is never read
    val poisoned = emb.select($"vec_id",
      transform($"embedding", x => x * 0.0f).as("embedding"))
    assert(fused(stored, poisoned, stored = true) == want && want.nonEmpty)
    // NOT opted in, a vec-carrying index still serves from the corpus
    // the caller handed in (a stale payload must never silently win):
    // the poisoned corpus now CHANGES the result — it was read
    assert(fused(stored, emb, stored = false) == want)
    assert(fused(stored, poisoned, stored = false) != want)
    // opting in without a payload refuses loudly
    val e = intercept[IllegalArgumentException](
      fused(plain, emb, stored = true))
    assert(e.getMessage.contains("no stored vectors"))
  }

  test("hybridSearch weights knob: the tuned-alpha fusion IS rrfFuseRanksWeighted over the arms; all-ones IS the default") {
    val dIdx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val sIdx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
      minDf = 2, cap = Some(10))
    val qv = Sampling.hashSampleN(emb, "vec_id", 8)
    val qp = sIdx.postings
      .join(Sampling.hashSampleN(docs, "doc_id", 8).select("doc_id"), "doc_id")
      .withColumnRenamed("doc_id", "query_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "rrf")
      .as[(Long, Long, Double)].collect().toSet
    val weighted = rows(Retrieval.hybridSearch(dIdx, emb, qv, "vec_id",
      "embedding", sIdx, qp, "query_id", "token", "weight",
      k = 5, nProbe = 4, rerank = 20, weights = Seq(0.7, 0.3)))
    // parity with the hand-wired composition the knob replaces
    val dn = Similarity.ivfPqSearch(dIdx, emb, qv, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rn"))
    val sp = TextAnalysis.sparseIndexSearch(sIdx, qp, "query_id",
      "token", "weight", k = 5)
      .select(col("query_id"), col("doc_id"), col("rn"))
    val manual = rows(Selection.rrfFuseRanksWeighted(Seq(dn, sp),
      "query_id", "doc_id", "rn", weights = Seq(0.7, 0.3), k0 = 60))
    assert(weighted == manual && weighted.nonEmpty)
    // all-ones weights ≡ the unweighted default (one fusion tail)
    val allOnes = rows(Retrieval.hybridSearch(dIdx, emb, qv, "vec_id",
      "embedding", sIdx, qp, "query_id", "token", "weight",
      k = 5, nProbe = 4, rerank = 20, weights = Seq(1.0, 1.0)))
    val default = rows(Retrieval.hybridSearch(dIdx, emb, qv, "vec_id",
      "embedding", sIdx, qp, "query_id", "token", "weight",
      k = 5, nProbe = 4, rerank = 20))
    assert(allOnes == default)
  }

  test("hybridSearchScores: CombMNZ over the arms' exact scores IS fuseScoresMinMax of the scored lists") {
    val dIdx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val sIdx = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
      minDf = 2, cap = Some(10))
    val qv = Sampling.hashSampleN(emb, "vec_id", 8)
    val qp = sIdx.postings
      .join(Sampling.hashSampleN(docs, "doc_id", 8).select("doc_id"), "doc_id")
      .withColumnRenamed("doc_id", "query_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "n_lists", "fused")
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = rows(Retrieval.hybridSearchScores(dIdx, emb, qv, "vec_id",
      "embedding", sIdx, qp, "query_id", "token", "weight",
      k = 5, nProbe = 4, rerank = 20, mnz = true))
    val dn = Similarity.ivfPqSearch(dIdx, emb, qv, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20, withScore = true)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cos").as("score"))
    val sp = TextAnalysis.sparseIndexSearch(sIdx, qp, "query_id",
      "token", "weight", k = 5)
      .select(col("query_id"), col("doc_id"), col("score"))
    val manual = rows(Selection.fuseScoresMinMax(Seq(dn, sp),
      "query_id", "doc_id", "score", mnz = true))
    assert(got == manual && got.nonEmpty)
    // withScore appends the 6-dp rerank cosine without disturbing the
    // rank contract: same (query, neighbor, rn) set as the plain search
    val scored = Similarity.ivfPqSearch(dIdx, emb, qv, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20, withScore = true)
    assert(scored.columns.toSeq == Seq("query_id", "neighbor_id", "cos", "rn"))
    val plainRanks = Similarity.ivfPqSearch(dIdx, emb, qv, "vec_id",
      "embedding", k = 5, nProbe = 4, rerank = 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(scored.select("query_id", "neighbor_id", "rn")
      .as[(Long, Long, Long)].collect().toSet == plainRanks)
  }

  test("out-of-corpus hybrid serving: raw text + vector queries against persisted indexes, no corpus scan") {
    val base = java.nio.file.Files.createTempDirectory("hybrid-oos").toString
    Similarity.ivfPqIndexSave(
      Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 1),
      s"$base/dense")
    TextAnalysis.sparseIndexSave(
      TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
        minDf = 2, cap = Some(10)),
      s"$base/sparse")
    val dRe = Similarity.ivfPqIndexLoad(spark, s"$base/dense")
    val sRe = TextAnalysis.sparseIndexLoad(spark, s"$base/sparse")

    // a BRAND-NEW query: an id outside the corpus, raw text built from
    // the frozen vocabulary, a literal 64-dim vector — nothing about it
    // exists in either index
    val toks = sRe.vocab.orderBy(col("df").desc, col("token"))
      .limit(3).collect().map(_.getString(0))
    val qDocs = Seq((9000001L, toks.mkString(" "))).toDF("doc_id", "text")
    val qVecs = Seq((9000001L, Array.fill(64)(0.1f)))
      .toDF("vec_id", "embedding")
    val qp = TextAnalysis.queryPostings(sRe, qDocs, "doc_id", "text")
    val served = Retrieval.hybridSearch(dRe, emb, qVecs, "vec_id", "embedding",
      sRe, qp, "query_id", "token", "weight", k = 5, nProbe = 4, rerank = 20)
    val rows = served.select("query_id", "doc_id", "rank_1", "rank_2")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3))))
    assert(rows.nonEmpty && rows.forall(_._1 == 9000001L))
    // BOTH arms answered the never-seen query
    assert(rows.exists(_._3.isDefined), "dense arm must place the literal vector")
    assert(rows.exists(_._4.isDefined), "sparse arm must serve the reconstructed profile")

    // the serve plan tokenizes ONLY the literal query batch: zero file
    // scans of a text column, zero windows, no corpus weight chain
    val p = served.queryExecution.executedPlan
    assert(collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("ReadSchema").exists(_.contains("text")) => f
    }.isEmpty, "out-of-corpus serving must never scan a text file")
    assert(collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
  }

  test("full stored+clustered deployment: an out-of-corpus query serves reading ONLY the two index directories, both dense stages partition-pruned") {
    val base = java.nio.file.Files.createTempDirectory("hybrid-sto-").toString
    Similarity.ivfPqIndexSaveClustered(
      Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 1,
        storeVectors = true),
      s"$base/dense")
    TextAnalysis.sparseIndexSave(
      TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
        minDf = 2, cap = Some(10)),
      s"$base/sparse")
    val dRe = Similarity.ivfPqIndexLoad(spark, s"$base/dense")
    val sRe = TextAnalysis.sparseIndexLoad(spark, s"$base/sparse")

    // a literal out-of-corpus query in both shapes (the q265-spec recipe)
    val toks = sRe.vocab.orderBy(col("df").desc, col("token"))
      .limit(3).collect().map(_.getString(0))
    val qDocs = Seq((9000001L, toks.mkString(" "))).toDF("doc_id", "text")
    val qVecs = Seq((9000001L, Array.fill(64)(0.1f)))
      .toDF("vec_id", "embedding")
    val qp = TextAnalysis.queryPostings(sRe, qDocs, "doc_id", "text")
    // the corpus argument is POISONED — with denseStored it must go unread
    val poisoned = emb.select($"vec_id",
      transform($"embedding", x => x * 0.0f).as("embedding"))
    val served = Retrieval.hybridSearch(dRe, poisoned, qVecs, "vec_id",
      "embedding", sRe, qp, "query_id", "token", "weight",
      k = 5, nProbe = 4, rerank = 20, denseStored = true)
    val rows = served.select("query_id", "doc_id", "rank_1", "rank_2")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3))))
    assert(rows.nonEmpty && rows.forall(_._1 == 9000001L))
    assert(rows.exists(_._3.isDefined), "dense arm must place the literal vector")
    assert(rows.exists(_._4.isDefined), "sparse arm must serve the reconstructed profile")

    // the WHOLE serve plan reads only the two index directories — no
    // corpus table, no text file, no window; and every dense-index scan
    // (stage-1 codes AND the stage-2 vec rerank) is partition-filtered
    // to the probed cells
    val p = served.queryExecution.executedPlan
    val scans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(
      _.relation.location.rootPaths.exists(_.toString.contains(base))),
      "no file source outside the two index directories")
    val denseScans = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/dense")))
    assert(denseScans.nonEmpty && denseScans.forall(_.partitionFilters.nonEmpty),
      "both dense stages carry the probed-cell partition filter")
    assert(denseScans.exists(_.schema.fieldNames.contains("vec")),
      "stage 2 reranks from the index's vec payload")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("hybridHealthReport: self-batches read zero drift; an alien sparse batch trips rebuild_any on BOTH rows") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry")).toDF("doc_id", "text")
    val dIdx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
    // keep-all knobs: self-drift is exactly zero on both arms
    val sIdx = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("arm", "oov_mass", "tv", "gate", "rebuild_any")
      .collect().map(r => (r.getString(0), Option(r.get(1)),
        r.getDouble(2), r.getBoolean(3), r.getBoolean(4))).toSet
    val healthy = rows(Retrieval.hybridHealthReport(
      dIdx, emb, "vec_id", "embedding", sIdx, corpus, "doc_id", "text"))
    assert(healthy == Set(
      ("dense", None, 0.0, false, false),
      ("sparse", Some(0.0), 0.0, false, false)))

    // an all-OOV document batch gates the sparse arm; rebuild_any
    // repeats on the (healthy) dense row too — the dashboard contract
    val alien = Seq((10L, "durian elderberry")).toDF("doc_id", "text")
    val tripped = rows(Retrieval.hybridHealthReport(
      dIdx, emb, "vec_id", "embedding", sIdx, alien, "doc_id", "text"))
    assert(tripped.map(t => (t._1, t._4, t._5)) ==
      Set(("dense", false, true), ("sparse", true, true)))
    assert(tripped.find(_._1 == "sparse").get._2 == Some(1.0))
  }
}
