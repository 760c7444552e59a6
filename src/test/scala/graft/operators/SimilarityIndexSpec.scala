package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-12 robustness + lifecycle suite for the ANN family:
  *   - the zero-norm policy (a planted all-zeros embedding must be
  *     DROPPED by every cosine consumer, never crash a division or
  *     float to an engine-defined NaN rank);
  *   - the IVF-PQ build/search split (bit-identical to the inline
  *     operators, retrain-free through a parquet round-trip);
  *   - combinatorial probe-mask generation;
  *   - banded semantic dedup's subset + recall contracts.
  */
class SimilarityIndexSpec extends SparkSpec {
  import spark.implicits._

  // 12 deterministic 8-d vectors + one all-zeros row (id 99); ids 0 and
  // 1 are a planted near-dup pair (cosine ≈ 1)
  private lazy val vec0 = Array.tabulate(8)(j => math.cos(j + 1).toFloat + 1.5f)
  private lazy val zed = (
    Seq((0L, vec0),
        (1L, vec0.zipWithIndex.map { case (x, j) =>
          x + (if (j == 0) 0.01f else 0f) })) ++
      (2 until 12).map { i =>
        (i.toLong, Array.tabulate(8)(j =>
          math.sin(i * 8 + j + 1).toFloat * 2f + (if (j == i % 8) 3f else 0f)))
      } :+ ((99L, Array.fill(8)(0.0f)))
  ).toDF("vec_id", "embedding")

  test("zero-norm policy: every cosine consumer drops the planted zero vector, no crash") {
    val qs = zed // the zero vector also queries
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
      df.select(col(c).cast("long")).as[Long].collect().toSet

    val brute = Similarity.bruteForceTopK(zed, qs, "vec_id", "embedding", 3)
    assert(!ids(brute, "neighbor_id").contains(99L) &&
      !ids(brute, "query_id").contains(99L))

    val lsh = Similarity.lshTopK(zed, qs, "vec_id", "embedding", 3, planes = 2, probeBits = 1)
    assert(!ids(lsh, "neighbor_id").contains(99L) && !ids(lsh, "query_id").contains(99L))

    val ivf = Similarity.ivfTopK(zed, qs, "vec_id", "embedding", 3, nCentroids = 4, nProbe = 4)
    assert(!ids(ivf, "neighbor_id").contains(99L) && !ids(ivf, "query_id").contains(99L))

    val qr = Similarity.quantizedRerankTopK(zed, qs, "vec_id", "embedding", 3, rerank = 10)
    assert(!ids(qr, "neighbor_id").contains(99L) && !ids(qr, "query_id").contains(99L))

    val pq = Similarity.ivfPqTopK(zed, qs, "vec_id", "embedding", k = 3,
      nCentroids = 4, nProbe = 4, subspaces = 2, subDim = 4, pqK = 2,
      pqIters = 1, rerank = 10)
    assert(!ids(pq, "neighbor_id").contains(99L) && !ids(pq, "query_id").contains(99L))

    val pqr = Similarity.ivfPqResidualTopK(zed, qs, "vec_id", "embedding", k = 3,
      nCentroids = 4, nProbe = 4, subspaces = 2, subDim = 4, pqK = 2,
      pqIters = 1, rerank = 10)
    assert(!ids(pqr, "neighbor_id").contains(99L) && !ids(pqr, "query_id").contains(99L))

    val sd = Similarity.semanticDedup(zed, "vec_id", "embedding",
      threshold = 0.9, k = 2, iters = 1)
      .as[(Long, String, Long)].collect()
    val sd99 = sd.find(_._1 == 99L).get
    assert(sd99._2 == "kept" && sd99._3 == 99L,
      "the zero-norm row audits as kept — it can never be a candidate")
    assert(sd.exists(r => r._2 == "dropped_semantic"),
      "the planted (0,1) near-dup still welds")

    val sdb = Similarity.semanticDedupBanded(zed, "vec_id", "embedding",
      threshold = 0.9, k = 2, iters = 1, planes = 1, tables = 3)
      .as[(Long, String, Long)].collect()
    val sdb99 = sdb.find(_._1 == 99L).get
    assert(sdb99._2 == "kept" && sdb99._3 == 99L)

    val ct = Similarity.contrastiveTriples(zed, "vec_id", "embedding",
      posThreshold = 0.9, negMin = -0.5, negMax = 0.5, negPerAnchor = 3,
      planes = 1, probeBits = 1)
    val ctIds = ct.select(col("anchor_id")).as[Long].collect().toSet ++
      ct.select(col("positive_id")).as[Long].collect().toSet ++
      ct.select(col("negative_id")).as[Long].collect().toSet
    assert(!ctIds.contains(99L), "zero-norm rows never anchor, positive, or negative")

    val med = Similarity.labelMedoids(zed.withColumn("label", col("vec_id") % 2),
      "vec_id", "embedding", "label")
      .as[(Long, Long, Double)].collect()
    assert(med.length == 2 && !med.map(_._2).contains(99L),
      "a zero-norm member is never a medoid")
  }

  test("probeMasks equals the exhaustive enumeration, combinatorially") {
    for (planes <- 1 to 12; probeBits <- 0 to math.min(3, planes)) {
      val exhaustive = (0 until (1 << planes))
        .filter(m => Integer.bitCount(m) <= probeBits).map(_.toLong)
      assert(Similarity.probeMasks(planes, probeBits) == exhaustive,
        s"planes=$planes probeBits=$probeBits")
    }
    // banded plane counts stay enumerable: 62 planes, 1-bit probing is
    // 63 masks, not a 2^62 range scan
    val wide = Similarity.probeMasks(62, 1)
    assert(wide.size == 63 && wide.head == 0L && wide.contains(1L << 61))
    assert(Similarity.probeMasks(30, 0) == Seq(0L))
    // over-probing clamps to the full mask space (pre-round-12 semantics)
    assert(Similarity.probeMasks(3, 7) == (0L until 8L))
  }

  test("knnLabelConsistency: separable labels score 1.0; vote count ties break to the smallest label") {
    // two tight, well-separated clusters — every query's 2 neighbors
    // share its label
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.01f), "a"), (1L, Array(1.0f, 0.01f, 0.0f), "a"),
      (2L, Array(0.99f, 0.0f, 0.0f), "a"),
      (3L, Array(0.0f, 1.0f, 0.01f), "b"), (4L, Array(0.0f, 1.0f, 0.0f), "b"),
      (5L, Array(0.01f, 0.99f, 0.0f), "b")
    ).toDF("vec_id", "embedding", "label")
    val rep = Similarity.knnLabelConsistency(df, df, "vec_id", "embedding", "label", 2)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(rep.toSeq == Seq(("a", 3L, 3L, 1.0), ("b", 3L, 3L, 1.0)))

    // k=2 over a 1-vs-1 vote: the majority window must pick the
    // LEXICOGRAPHICALLY SMALLEST label on the count tie
    val tie = Seq(
      (0L, Array(1.0f, 0.0f), "z"),
      (1L, Array(0.99f, 0.1f), "b"),   // nearest to 0
      (2L, Array(0.98f, 0.15f), "a")   // second-nearest to 0
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelConsistency(tie, tie.filter($"vec_id" === 0),
      "vec_id", "embedding", "label", 2)
      .as[(String, Long, Long, Double)].collect()
    // votes are {a: 1, b: 1} → majority "a" ≠ "z" → no match
    assert(got.toSeq == Seq(("z", 1L, 0L, 0.0)))
  }

  test("intrinsicDimensionTwoNN: closed-form line fixture; duplicate-neighbor queries drop") {
    // 3 points on a line — squared NN distances (1,9), (1,4), (4,9):
    // sum_log_mu = round(.5 ln9,9)+round(.5 ln4,9)+round(.5 ln(9/4),9)
    val line = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (3L, Array(3.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.intrinsicDimensionTwoNN(line, line, "vec_id", "embedding")
      .as[(Long, Double, Double)].head()
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s = BigDecimal(r9(0.5 * math.log(9.0))) + BigDecimal(r9(0.5 * math.log(4.0))) +
      BigDecimal(r9(0.5 * math.log(9.0 / 4.0)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._1 == 3L && got._2 == r6(s.toDouble) && got._3 == r6(3.0 / s.toDouble))

    // a planted exact duplicate makes d1 = 0 for both copies — they drop
    val withDup = line.unionByName(Seq((7L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val n = Similarity.intrinsicDimensionTwoNN(withDup, withDup, "vec_id", "embedding")
      .select($"n_queries").as[Long].head()
    assert(n == 2L, "the duplicate pair (0, 7) drops; 1 and 3 remain")
  }

  test("labelMedoids: zero-norm members drop; a zero-centroid label emits no medoid") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0L),   // label 0: v and -v — centroid = 0
      (1L, Array(-1.0f, 0.0f), 0L),
      (2L, Array(0.0f, 1.0f), 1L),   // label 1: one real + one zero member
      (3L, Array(0.0f, 0.0f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val med = Similarity.labelMedoids(df, "vec_id", "embedding", "label")
      .as[(Long, Long, Double)].collect()
    assert(med.toSeq == Seq((1L, 2L, 1.0)),
      "label 0 (zero centroid) emits nothing; label 1's medoid skips the zero member")
  }

  test("ivfPqSearch over a built index is bit-identical to the inline operators") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet

    val raw = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    assert(rows(Similarity.ivfPqSearch(raw, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)) ==
      rows(Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
        pqIters = 2, rerank = 20)))

    val res = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      residual = true)
    assert(rows(Similarity.ivfPqSearch(res, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)) ==
      rows(Similarity.ivfPqResidualTopK(emb, qs, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
        pqIters = 2, rerank = 20)))
  }

  test("the index survives a parquet round-trip and searches retrain-free") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val built = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val dir = Files.createTempDirectory("graft-ivfpq-").toString
    // save → load takes NO caller-supplied flags: residual/sub_dim come
    // from the meta relation, so a wrong-flag load cannot exist
    Similarity.ivfPqIndexSave(built, dir)
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    assert(!loaded.residual && loaded.subDim == 16,
      "meta round-trips the scalar fields")
    val got = Similarity.ivfPqSearch(loaded, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)
    val want = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
      pqIters = 2, rerank = 20)
    assert(got.as[(Long, Long, Long)].collect().toSet ==
      want.as[(Long, Long, Long)].collect().toSet)
    // retrain-free structurally: the search plan aggregates EXACTLY the
    // two bounded-heap topK stages (partial+final each) — a Lloyd
    // iteration in the lineage would add per-(cluster, dim) hash
    // aggregations here
    val root = got.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val aggs = root.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.size == 4, s"search plan must hold only the 2x(partial+final) " +
      s"topK aggregates, got ${aggs.size}")
  }

  test("clustered save: one codes schema across layouts; pruned search is bit-identical and partition-prunes the scan") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val built = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val dir = Files.createTempDirectory("graft-ivfpq-clu-").toString
    Similarity.ivfPqIndexSaveClustered(built, dir)
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    // the partition column reads back LONG (requested schema, not a
    // cast — a cast wrapper would defeat partition pruning below)
    assert(loaded.codes.schema("cell").dataType ==
      org.apache.spark.sql.types.LongType)

    // parity: pruned search over the clustered layout ≡ plain search ≡
    // the inline operator (the q272 grading contract)
    val want = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
      pqIters = 2, rerank = 20).as[(Long, Long, Long)].collect().toSet
    val plain = Similarity.ivfPqSearch(loaded, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20).as[(Long, Long, Long)].collect().toSet
    val pruned = Similarity.ivfPqSearchPruned(loaded, emb, qs, "vec_id",
      "embedding", k = 5, nProbe = 4, rerank = 20)
    val got = pruned.as[(Long, Long, Long)].collect().toSet
    assert(plain == want && got == want && want.nonEmpty)

    // physical: the cell-IN predicate lands as a PARTITION filter on the
    // codes scan and the scan reads fewer files than the layout holds
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val probe = loaded.codes.filter($"cell".isin(0L, 1L))
    probe.collect()
    val scan = unwrap(probe.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty,
      "the cell predicate must prune partitions, not filter after the read")
    val totalFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/codes"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(scan.metrics("numFiles").value < totalFiles,
      s"pruned scan read ${scan.metrics("numFiles").value} of $totalFiles files")

    // the search plan itself carries the pruned scan
    val searchScans = unwrap(pruned.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    }
    assert(searchScans.exists(_.partitionFilters.nonEmpty),
      "ivfPqSearchPruned over the clustered layout must partition-prune the codes scan")

    // flat-layout parity of the SAME verb: pruning is result-invariant
    // wherever the codes live — in memory too
    val gotFlat = Similarity.ivfPqSearchPruned(built, emb, qs, "vec_id",
      "embedding", k = 5, nProbe = 4, rerank = 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotFlat == want)
  }

  test("stored-vector index: corpus-free serve is bit-identical; clustered layout prunes both stages; add keeps the vec payload") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val stored = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeVectors = true)
    assert(stored.codes.columns.contains("vec"))
    val want = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
      pqIters = 2, rerank = 20).as[(Long, Long, Long)].collect().toSet
    val got = Similarity.ivfPqSearchStored(stored, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20).as[(Long, Long, Long)].collect().toSet
    assert(got == want && want.nonEmpty,
      "the rerank over the stored vec payload reproduces the corpus rerank bit-for-bit")

    // through the clustered persisted layout: no external table read,
    // and the one parquet source (the codes relation) partition-prunes
    val dir = Files.createTempDirectory("graft-ivfpq-sto-").toString
    Similarity.ivfPqIndexSaveClustered(stored, dir)
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    val served = Similarity.ivfPqSearchStored(loaded, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)
    assert(served.as[(Long, Long, Long)].collect().toSet == want)
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val scans = unwrap(served.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val (idxScans, otherScans) = scans.partition(
      _.relation.location.rootPaths.exists(_.toString.contains(dir)))
    // stage 1 reads the codes (code_* columns), stage 2 the vec payload —
    // BOTH from the index directory, both partition-filtered; the only
    // other file source is the query side's fixture read
    assert(idxScans.exists(_.schema.fieldNames.contains("vec")),
      "the rerank reads the index's vec payload")
    assert(idxScans.exists(_.schema.fieldNames.contains("code_0")),
      "stage 1 reads the index's codes")
    assert(idxScans.forall(_.partitionFilters.nonEmpty),
      "both stages' index scans carry the probed-cell partition filter")
    assert(otherScans.forall(
      _.relation.location.rootPaths.exists(_.toString.contains("embeddings"))),
      "no file source besides the index and the query relation")

    // a vector-less index refuses the stored serve loudly
    val plain = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfPqSearchStored(plain, qs, "vec_id", "embedding", k = 5))
    assert(e.getMessage.contains("no stored vectors"))

    // add encodes the delta WITH the payload: grown index still serves
    // corpus-free and bit-identically to a stored rebuild over base+delta
    val base = emb.filter($"vec_id" < 400)
    val delta = emb.filter($"vec_id" >= 400)
    val sBase = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeVectors = true)
    val grown = Similarity.ivfPqIndexAdd(sBase, delta, "vec_id", "embedding")
    assert(grown.codes.columns.contains("vec"))
    val gotGrown = Similarity.ivfPqSearchStored(grown, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20).as[(Long, Long, Long)].collect().toSet
    val wantGrown = Similarity.ivfPqSearch(grown, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20).as[(Long, Long, Long)].collect().toSet
    assert(gotGrown == wantGrown && gotGrown.nonEmpty)
  }

  test("binary index: round-trip parity with the inline operator; loader refuses torn or foreign directories") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val built = Similarity.binaryIndexBuild(emb, "vec_id", "embedding", dim = 64)
    val dir = Files.createTempDirectory("graft-bin-").toString
    Similarity.binaryIndexSave(built, dir)
    val loaded = Similarity.binaryIndexLoad(spark, dir)
    assert(loaded.dim == 64)
    val want = Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
      dim = 64, k = 5, rerank = 20).as[(Long, Long, Long)].collect().toSet
    val got = Similarity.binarySearch(loaded, emb, qs, "vec_id", "embedding",
      k = 5, rerank = 20).as[(Long, Long, Long)].collect().toSet
    assert(got == want && want.nonEmpty,
      "serving from the persisted words relation is bit-identical to inline packing")

    // self-inconsistent meta refuses (dim says 2 words, meta says 1)
    val torn = Files.createTempDirectory("graft-bin-torn-").toString
    Similarity.binaryIndexSave(built, torn)
    import spark.implicits._
    Seq((64, 1)).toDF("dim", "n_words").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$torn/meta")
    val e1 = intercept[IllegalArgumentException](
      Similarity.binaryIndexLoad(spark, torn))
    assert(e1.getMessage.contains("self-inconsistent"))

    // a foreign words relation (wrong columns) refuses at open
    val alien = Files.createTempDirectory("graft-bin-alien-").toString
    Similarity.binaryIndexSave(built, alien)
    emb.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$alien/words")
    val e2 = intercept[IllegalArgumentException](
      Similarity.binaryIndexLoad(spark, alien))
    assert(e2.getMessage.contains("must hold exactly (id, words)"))

    // a directory missing a relation, or its parquet files, names it
    for (rel <- Seq("words", "meta"); whole <- Seq(true, false)) {
      val partial = Files.createTempDirectory(s"graft-bin-no-$rel-").toString
      Similarity.binaryIndexSave(built, partial)
      val relDir = new java.io.File(s"$partial/$rel")
      if (whole) org.apache.commons.io.FileUtils.deleteDirectory(relDir)
      else relDir.listFiles.filter(_.isFile).foreach(_.delete())
      val e = intercept[IllegalArgumentException](Similarity.binaryIndexLoad(spark, partial))
      val fault = if (whole) "is missing" else "holds no parquet file"
      assert(e.getMessage.contains(s"$partial/$rel $fault — a torn directory"),
        s"$rel/ $fault: ${e.getMessage}")
    }

    // the ivfPqTopK argument-guard convention, extended to the binary
    // entry points: rerank < k refuses instead of silently under-filling
    val e3 = intercept[IllegalArgumentException](
      Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
        dim = 64, k = 5, rerank = 3))
    assert(e3.getMessage.contains("rerank >= k"))
    val e4 = intercept[IllegalArgumentException](
      Similarity.binarySearch(loaded, emb, qs, "vec_id", "embedding",
        k = 5, rerank = 3))
    assert(e4.getMessage.contains("rerank >= k"))
  }

  test("binarySearchCells: full-probe parity with the flat scan, cell-pruned stage 1 over the clustered layout, stored payload serves corpus-free") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0).localCheckpoint()
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeSignWords = true)
    assert(idx.codes.columns.contains("words"))

    // at nProbe = nCentroids every cell is probed — candidates are the
    // whole (norm-positive) corpus, so the result IS the flat binary
    // two-stage scan (the fixture holds no zero-norm rows)
    val want = Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
      dim = 64, k = 5, rerank = 20).as[(Long, Long, Long)].collect().toSet
    val full = Similarity.binarySearchCells(idx, emb, qs, "vec_id",
      "embedding", k = 5, nProbe = 16, rerank = 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(full == want && want.nonEmpty)

    // at small nProbe the serve still fills k rows per query and every
    // neighbor sits in one of that query's probed cells (IVF semantics)
    val pruned = Similarity.binarySearchCells(idx, emb, qs, "vec_id",
      "embedding", k = 5, nProbe = 4, rerank = 20)
    val prunedRows = pruned.as[(Long, Long, Long)].collect()
    assert(prunedRows.nonEmpty)
    assert(prunedRows.groupBy(_._1).forall(_._2.length == 5))

    // clustered layout: the probed-cell predicate is a PARTITION filter
    // on the words scan (the ivfPqSearchPruned physical contract)
    val dir = Files.createTempDirectory("graft-binc-").toString
    Similarity.ivfPqIndexSaveClustered(idx, dir)
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    val served = Similarity.binarySearchCells(loaded, emb, qs, "vec_id",
      "embedding", k = 5, nProbe = 4, rerank = 20)
    assert(served.as[(Long, Long, Long)].collect().toSet ==
      prunedRows.toSet)
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val idxScans = unwrap(served.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    }
    assert(idxScans.nonEmpty && idxScans.forall(_.partitionFilters.nonEmpty),
      "the probed-cell predicate must prune partitions on the index scans")

    // a words+vec index serves BOTH stages from its own payload: the
    // poisoned-corpus proof that no external table is read
    val both = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeVectors = true, storeSignWords = true)
    val poisoned = emb.select($"vec_id",
      transform($"embedding", x => x * 0.0f).as("embedding"))
    val corpusFree = Similarity.binarySearchCells(both, poisoned, qs,
      "vec_id", "embedding", k = 5, nProbe = 4, rerank = 20)
      .as[(Long, Long, Long)].collect().toSet
    assert(corpusFree == prunedRows.toSet,
      "a stored vec payload makes the corpus argument unread")

    // encode parity: a grown words index packs its deltas' words too
    val base = Similarity.ivfPqIndexBuild(emb.filter($"vec_id" < 400),
      "vec_id", "embedding", nCentroids = 16, subspaces = 4, subDim = 16,
      pqK = 4, pqIters = 2, storeSignWords = true)
    val grown = Similarity.ivfPqIndexAdd(base, emb.filter($"vec_id" >= 400),
      "vec_id", "embedding")
    assert(grown.codes.columns.contains("words"))
    assert(grown.codes.count() == idx.codes.count())

    // guards: rerank < k, and a words-less index refuses loudly
    val e1 = intercept[IllegalArgumentException](
      Similarity.binarySearchCells(idx, emb, qs, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 3))
    assert(e1.getMessage.contains("rerank >= k"))
    val plain = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val e2 = intercept[IllegalArgumentException](
      Similarity.binarySearchCells(plain, emb, qs, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20))
    assert(e2.getMessage.contains("no sign words"))
  }

  test("binaryCellsOperatingPlan: exact row accounting, one chosen, full-probe recall equals the flat scan's") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0).localCheckpoint()
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeVectors = true, storeSignWords = true)
    val plan = Similarity.binaryCellsOperatingPlan(idx, emb, qs,
      "vec_id", "embedding", k = 5, nProbes = Seq(2, 4, 16),
      reranks = Seq(20, 100), targetRecall = 0.8)
      .as[(Int, Int, Double, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2))
    assert(plan.map(r => (r._1, r._2)).toSeq ==
      (for { p <- Seq(2, 4, 16); r <- Seq(20, 100) } yield (p, r)))
    // exactly one chosen; est_rows depends on nProbe alone and grows
    // with the probe width
    assert(plan.count(_._5) == 1)
    assert(plan.groupBy(_._1).forall(_._2.map(_._4).distinct.size == 1),
      "est_rows is a function of nProbe alone")
    val estByProbe = plan.map(r => (r._1, r._4)).distinct.sortBy(_._1)
    assert(estByProbe.map(_._2).toSeq == estByProbe.map(_._2).toSeq.sorted)
    // full-probe row accounting is exact arithmetic: every norm-positive
    // query probes every cell, so est = nQueries x |codes|
    val nq = qs.count()                       // fixture has no zero norms
    val nCodes = idx.codes.count()
    assert(estByProbe.last._2 == nq * nCodes)
    // full-probe recall IS the flat binary scan's recall at the same
    // (k, rerank): candidates are the whole corpus in both
    val bf = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val flat = Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
      dim = 64, k = 5, rerank = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val wantRecall = math.round(
      (flat & bf).size.toDouble / bf.size * 1e6) / 1e6
    val full20 = plan.find(r => r._1 == 16 && r._2 == 20).get
    assert(math.abs(full20._3 - wantRecall) < 1e-9,
      s"plan recall ${full20._3} vs flat-scan recall $wantRecall")
    // at a fixed nProbe a larger rerank never lowers recall: the
    // stage-1 top-100 CONTAINS the top-20 (same total order), so the
    // exact rerank sees a superset of candidates
    assert(plan.groupBy(_._1).forall { case (_, rows) =>
      val byR = rows.sortBy(_._2).map(_._3)
      byR.zip(byR.tail).forall { case (a, b) => b >= a - 1e-9 }
    })
    // when any point meets the target, the chosen one does
    if (plan.exists(_._3 >= 0.8)) assert(plan.find(_._5).get._3 >= 0.8)
    // guards: duplicate grids, words-less index, bad target, rerank < k
    intercept[IllegalArgumentException](
      Similarity.binaryCellsOperatingPlan(idx, emb, qs, "vec_id",
        "embedding", 5, Seq(4, 4), Seq(20), 0.8))
    intercept[IllegalArgumentException](
      Similarity.binaryCellsOperatingPlan(idx, emb, qs, "vec_id",
        "embedding", 5, Seq(4), Seq(20, 20), 0.8))
    val plain = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    intercept[IllegalArgumentException](
      Similarity.binaryCellsOperatingPlan(plain, emb, qs, "vec_id",
        "embedding", 5, Seq(4), Seq(20), 0.8))
    intercept[IllegalArgumentException](
      Similarity.binaryCellsOperatingPlan(idx, emb, qs, "vec_id",
        "embedding", 5, Seq(4), Seq(20), 1.5))
    intercept[IllegalArgumentException](
      Similarity.binaryCellsOperatingPlan(idx, emb, qs, "vec_id",
        "embedding", 5, Seq(4), Seq(3), 0.8))
  }

  test("semanticDedupBanded: drops are a subset of flat; full recall at planes=0-equivalent") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val flat = Similarity.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.4, k = 4, iters = 2)
      .as[(Long, String, Long)].collect()
    val banded = Similarity.semanticDedupBanded(emb, "vec_id", "embedding",
      threshold = 0.4, k = 4, iters = 2, planes = 4, tables = 3)
      .as[(Long, String, Long)].collect()
    val flatDropped = flat.filter(_._2 == "dropped_semantic").map(_._1).toSet
    val bandedDropped = banded.filter(_._2 == "dropped_semantic").map(_._1).toSet
    assert(bandedDropped.subsetOf(flatDropped),
      "banding only removes candidates — banded drops are a subset of flat drops")
    assert(banded.length == flat.length, "every input row audits in both")

    // recall contract, both directions, against a driver-side reference:
    // candidate = same cluster AND same bucket in >= 1 table; edge =
    // candidate with cosine >= threshold; weld = min-id component
    val clusters = Similarity.kmeansLloyd(emb, "vec_id", "embedding", 4, 2)
      .as[(Long, Int)].collect().toMap
    val buckets = emb.select($"vec_id",
        Similarity.lshBucket($"embedding", 4, 0).as("b0"),
        Similarity.lshBucket($"embedding", 4, 4).as("b1"),
        Similarity.lshBucket($"embedding", 4, 8).as("b2"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
    val v = emb.select($"vec_id", Similarity.asDouble($"embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val idsSorted = v.keys.toSeq.sorted
    val parent = scala.collection.mutable.Map(idsSorted.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for {
      i <- idsSorted; j <- idsSorted if i < j
      if clusters(i) == clusters(j)
      if buckets(i).zip(buckets(j)).exists { case (x, y) => x == y }
      if cos(v(i), v(j)) >= 0.4
    } {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val expected = idsSorted.map { i =>
      val root = find(i)
      (i, if (root != i) "dropped_semantic" else "kept", root)
    }.toSet
    assert(banded.toSet == expected,
      "banded dedup must match the same-cluster same-bucket exact-threshold reference")
  }

  test("nearDupRecallReport: banded count is bounded by exact; recall matches the pair sets") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (nExact, nBanded, recall) = Similarity.nearDupRecallReport(emb,
      "vec_id", "embedding", threshold = 0.4, planes = 4, tables = 3,
      sampleRows = 256)
      .as[(Long, Long, Double)].head()
    assert(nBanded <= nExact && nExact > 0)
    // cross-check against the raw pair sets on the same sample
    val sample = graft.operators.Sampling.hashSampleN(emb, "vec_id", 256)
    val exact = Similarity.nearDupPairsExhaustive(sample, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect().toSet
    val banded = Similarity.nearDupPairsBanded(sample, "vec_id", "embedding", 0.4,
      planes = 4, tables = 3).as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(exact), "banded pairs all pass the exact threshold")
    assert(nExact == exact.size && nBanded == banded.size)
    assert(recall == BigDecimal(banded.size.toDouble / exact.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    intercept[IllegalArgumentException](Similarity.nearDupRecallReport(
      emb, "vec_id", "embedding", 0.4, 4, sampleRows = 0))
  }

  test("annRecallReportFor grades an explicit ANN relation against brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 50 === 0)
    val ann = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
      pqIters = 2, rerank = 20)
    val rep = Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5, ann)
      .as[(Long, Long, Double)].collect()
    assert(rep.nonEmpty && rep.forall(r => r._2 >= 0 && r._2 <= 5 &&
      r._3 >= 0.0 && r._3 <= 1.0 && math.abs(r._3 - r._2 / 5.0) < 1e-9))
    // cross-check one query by hand
    val q0 = rep.head._1
    val bf = Similarity.bruteForceTopK(emb, qs.filter($"vec_id" === q0),
      "vec_id", "embedding", 5)
      .select($"neighbor_id").as[Long].collect().toSet
    val ap = ann.filter($"query_id" === q0)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(rep.find(_._1 == q0).get._2 == (bf & ap).size.toLong)
  }

  test("a residual index round-trips; a tampered or mixed directory fails fast at load") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val res = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      residual = true)
    val dir = Files.createTempDirectory("graft-ivfpq-res-").toString
    Similarity.ivfPqIndexSave(res, dir)
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    assert(loaded.residual && loaded.subDim == 16,
      "residual=true comes back from meta, not from a caller flag")
    assert(Similarity.ivfPqSearch(loaded, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20).as[(Long, Long, Long)].collect().toSet ==
      Similarity.ivfPqResidualTopK(emb, qs, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
        pqIters = 2, rerank = 20).as[(Long, Long, Long)].collect().toSet)

    // tamper: meta claiming a different subspace count than the pq
    // relation — the load must refuse, not silently mis-search
    val bad = Files.createTempDirectory("graft-ivfpq-bad-").toString
    Similarity.ivfPqIndexSave(res, bad)
    val badMeta = spark.read.parquet(s"$bad/meta")
      .withColumn("subspaces", lit(8))
    badMeta.write.mode("overwrite").parquet(s"$bad/meta2")
    spark.read.parquet(s"$bad/meta2").write.mode("overwrite").parquet(s"$bad/meta")
    val e = intercept[IllegalArgumentException](Similarity.ivfPqIndexLoad(spark, bad))
    assert(e.getMessage.contains("subspaces"))
    // mixed directory: a pq relation from a subDim=8 build under a
    // subDim=16 meta — refused on the derived centroid width
    val mixed = Files.createTempDirectory("graft-ivfpq-mixed-").toString
    Similarity.ivfPqIndexSave(res, mixed)
    val sub8 = Files.createTempDirectory("graft-ivfpq-sub8-").toString
    Similarity.ivfPqIndexSave(Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 8, pqK = 4, pqIters = 1), sub8)
    spark.read.parquet(s"$sub8/pq").write.mode("overwrite").parquet(s"$mixed/pq")
    val e2 = intercept[IllegalArgumentException](Similarity.ivfPqIndexLoad(spark, mixed))
    assert(e2.getMessage.contains("sub_dim"))
    // mixed coarse: centroids of a different dimensionality under this
    // index's meta — refused on the coarse width, not a mid-search crash
    val mixedC = Files.createTempDirectory("graft-ivfpq-mixedc-").toString
    Similarity.ivfPqIndexSave(res, mixedC)
    spark.read.parquet(s"$mixedC/coarse")
      .withColumn("centroid", slice(col("centroid"), 1, 32))
      .write.mode("overwrite").parquet(s"$mixedC/coarse2")
    spark.read.parquet(s"$mixedC/coarse2").write.mode("overwrite")
      .parquet(s"$mixedC/coarse")
    val e3 = intercept[IllegalArgumentException](Similarity.ivfPqIndexLoad(spark, mixedC))
    assert(e3.getMessage.contains("mixed directory"))
  }

  test("ivfPqIndexAdd is bit-identical to a rebuild over the same frozen codebooks") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val base = emb.filter(Sampling.hashBucket($"vec_id") < 500)
    val delta = emb.filter(Sampling.hashBucket($"vec_id") >= 500)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    for (residual <- Seq(false, true)) {
      val idx = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        residual = residual)
      val grown = Similarity.ivfPqIndexAdd(idx, delta, "vec_id", "embedding")
      // the rebuild that reuses the same codebooks: re-encode EVERYTHING
      // against the frozen relations and swap the codes wholesale
      val rebuilt = idx.copy(codes =
        Similarity.ivfPqEncode(idx, emb, "vec_id", "embedding"))
      val got = Similarity.ivfPqSearch(grown, emb, qs, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20)
      assert(rows(got) ==
        rows(Similarity.ivfPqSearch(rebuilt, emb, qs, "vec_id", "embedding",
          k = 5, nProbe = 4, rerank = 20)),
        s"residual=$residual: add(base, delta) must equal the frozen-codebook rebuild")
      // the add path is retrain-free STRUCTURALLY: searching the grown
      // index still aggregates exactly the 2x(partial+final) topK
      // stages — a Lloyd iteration anywhere in the add lineage would
      // surface extra hash aggregations here
      val root = got.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      val aggs = root.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
      }
      assert(aggs.size == 4,
        s"residual=$residual: add-path search must hold only the 2x(partial+final) " +
          s"topK aggregates, got ${aggs.size}")
    }
    // batching is free of semantics: adding in two batches yields the
    // SAME codes relation as one batch (encode is per-row over frozen
    // literals, so no batch boundary can leak into a code)
    val idxB = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 1)
    val d1 = delta.filter($"vec_id" % 2 === 0)
    val d2 = delta.filter($"vec_id" % 2 =!= 0)
    def codeRows(i: Similarity.IvfPqIndex) =
      i.codes.collect().map(_.toSeq).toSet
    assert(codeRows(Similarity.ivfPqIndexAdd(
        Similarity.ivfPqIndexAdd(idxB, d1, "vec_id", "embedding"),
        d2, "vec_id", "embedding")) ==
      codeRows(Similarity.ivfPqIndexAdd(idxB, delta, "vec_id", "embedding")),
      "two-batch add == one-batch add, row for row")

    // a batch from a different embedding model (wrong width) is refused,
    // never encoded: narrower vectors would slice empty PQ subspaces and
    // silently collapse every code to cluster 0
    val idx64 = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 1)
    val narrow = Seq((9001L, Array.fill(32)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.ivfPqIndexAdd(idx64, narrow, "vec_id", "embedding"))
    assert(e.getMessage.contains("poison"))
  }

  test("ivfPqOperatingPointPlan: recall matches the per-point recall report; cost model and chosen are deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(Sampling.hashBucket($"vec_id") < 100)
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val plan = Similarity.ivfPqOperatingPointPlan(idx, emb, qs, "vec_id",
      "embedding", k = 5, nProbes = Seq(2, 4), reranks = Seq(10, 20),
      targetRecall = 0.9)
      .as[(Int, Int, Double, Double, Boolean)].collect().sortBy(r => (r._1, r._2))
    assert(plan.length == 4 && plan.count(_._5) == 1, "full grid, exactly one chosen")
    // one grid point cross-checked against the graded recall report
    val (p, r) = (4, 20)
    val rep = Similarity.annRecallReportFor(emb, qs, "vec_id", "embedding", 5,
      Similarity.ivfPqSearch(idx, emb, qs, "vec_id", "embedding", 5, p, r))
      .as[(Long, Long, Double)].collect()
    val want = BigDecimal(rep.map(_._2).sum.toDouble / (5.0 * rep.length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(plan.find(x => x._1 == p && x._2 == r).get._3 == want)
    // the stated uniform-occupancy cost model, recomputed by hand
    val nCodes = idx.codes.count()
    plan.foreach { case (np, rr, _, cost, _) =>
      val wantCost = BigDecimal(np.toDouble * 4 * nCodes / 16 + rr.toDouble * 4 * 16)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(cost == wantCost, s"est_cost at ($np, $rr)")
    }
    // recall cannot exceed 1; more rerank at fixed probes never hurts here
    assert(plan.forall(x => x._3 >= 0.0 && x._3 <= 1.0))
    intercept[IllegalArgumentException](Similarity.ivfPqOperatingPointPlan(
      idx, emb, qs, "vec_id", "embedding", k = 5, Seq(2), Seq(3), 0.9))
  }

  test("probeMasks refuses a driver-breaking cumulative mask count") {
    val e = intercept[IllegalArgumentException](Similarity.probeMasks(40, 20))
    assert(e.getMessage.contains("probe mask count"))
    // the cap is on the CUMULATIVE count, checked incrementally — wide
    // planes at small radius stay legal
    assert(Similarity.probeMasks(62, 2).size == 1 + 62 + 62 * 61 / 2)
  }

  test("knnLabelConsistency excludes NULL neighbor labels from the vote") {
    // query 0's two nearest neighbors: id 1 (label NULL) and id 2
    // (label "b") — the null must not out-vote or tie "b"
    val df = Seq(
      (0L, Array(1.0f, 0.0f), Some("b")),
      (1L, Array(0.999f, 0.02f), None),
      (2L, Array(0.99f, 0.1f), Some("b")),
      (3L, Array(0.0f, 1.0f), Some("z"))
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelConsistency(df, df.filter($"vec_id" === 0),
      "vec_id", "embedding", "label", 2)
      .as[(String, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(("b", 1L, 1L, 1.0)),
      "the null-labeled nearest neighbor drops; 'b' carries the vote")
  }

  test("ivfPqIndexRemove: removed ids never surface; add-then-remove is an identity") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(Sampling.hashBucket($"vec_id") < 100)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val gone = emb.filter(Sampling.hashBucket($"vec_id") >= 900)
    val goneIds = gone.select($"vec_id").as[Long].collect().toSet
    assert(goneIds.nonEmpty)
    val shrunk = Similarity.ivfPqIndexRemove(idx, gone, "vec_id")
    val got = Similarity.ivfPqSearch(shrunk, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)
    assert(got.select($"neighbor_id").as[Long].collect()
      .forall(!goneIds.contains(_)), "a removed id can never be retrieved")
    // codebooks untouched: the codes shrink by exactly the removed rows
    assert(shrunk.codes.count() ==
      idx.codes.count() - idx.codes.join(gone.select($"vec_id".as("id")), "id").count())

    // add-then-remove of the same batch round-trips to the base index
    val base = emb.filter(Sampling.hashBucket($"vec_id") < 500)
    val delta = emb.filter(Sampling.hashBucket($"vec_id") >= 500)
    val baseIdx = Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2)
    val roundTrip = Similarity.ivfPqIndexRemove(
      Similarity.ivfPqIndexAdd(baseIdx, delta, "vec_id", "embedding"),
      delta, "vec_id")
    assert(rows(Similarity.ivfPqSearch(roundTrip, emb, qs, "vec_id", "embedding",
      k = 5, nProbe = 4, rerank = 20)) ==
      rows(Similarity.ivfPqSearch(baseIdx, emb, qs, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20)))
  }

  test("ivfPqReconError: zero on a self-codebook fixture; coded-row counts and report shape") {
    // 8 rows, pqK = 8, iters = 0: every slice IS a centroid, so the
    // reconstruction is exact and every subspace's MSE is 0
    val tiny = (0L until 8L).map(i =>
      (i, Array.tabulate(8)(j => (math.sin(i * 8 + j + 1) * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val selfIdx = Similarity.ivfPqIndexBuild(tiny, "vec_id", "embedding",
      nCentroids = 4, subspaces = 2, subDim = 4, pqK = 8, pqIters = 0)
    val zero = Similarity.ivfPqReconError(selfIdx, tiny, "vec_id", "embedding")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(zero.toSeq == Seq((0, 8L, 0.0), (1, 8L, 0.0)))

    // fixture-scale: one row per subspace, counts = coded rows, mse >= 0;
    // residual reporting runs in residual space without error
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for (residual <- Seq(false, true)) {
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
        residual = residual)
      val rep = Similarity.ivfPqReconError(idx, emb, "vec_id", "embedding")
        .as[(Int, Long, Double)].collect().sortBy(_._1)
      val coded = idx.codes.count()
      assert(rep.map(_._1).toSeq == Seq(0, 1, 2, 3) &&
        rep.forall(r => r._2 == coded && r._3 >= 0.0), s"residual=$residual")
    }
  }

  test("ivfCellOccupancy reports dead cells as zero rows and exact load arithmetic") {
    // a hand-built index: 4 coarse cells, cell 2 dead, occupancy 3/2/0/1
    val codes = Seq((10L, 0L, 1.0), (11L, 0L, 1.0), (12L, 0L, 1.0),
      (13L, 1L, 1.0), (14L, 1L, 1.0), (15L, 3L, 1.0))
      .toDF("id", "cell", "nrm")
    val coarse = Array((0L, Seq(1.0)), (1L, Seq(2.0)), (2L, Seq(3.0)), (3L, Seq(4.0)))
    val pq = Array(Array(Array(0.0)))
    val idx = Similarity.IvfPqIndex(codes, coarse, pq, residual = false, subDim = 1)
    val got = Similarity.ivfCellOccupancy(idx)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (0L, 3L, 0.5, 2.0), (1L, 2L, BigDecimal(2.0 / 6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, BigDecimal(8.0 / 6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      (2L, 0L, 0.0, 0.0), (3L, 1L, BigDecimal(1.0 / 6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, BigDecimal(4.0 / 6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // fractions partition the corpus; load averages to 1 over live+dead
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9)
  }

  test("bandedRecallPlan: driver-reference masses; more planes trades fn for fp; one chosen") {
    val plan = Similarity.bandedRecallPlan(spark, angleThreshold = 0.369,
      planesGrid = Seq(2, 4, 6, 8), tables = 3, grid = 100)
      .as[(Int, Int, Double, Double, Double, Boolean)].collect().sortBy(_._1)
    assert(plan.length == 4 && plan.count(_._6) == 1)
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal) = x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    plan.foreach { case (p, tb, fp, fn, score, _) =>
      assert(tb == 3)
      val pts = (0 until 100).map { i =>
        val t = (i + 0.5) / 100
        (t, r9(1.0 - math.pow(1.0 - math.pow(1.0 - t, p), 3)))
      }
      val wantFp = r6(pts.filter(_._1 > 0.369).map(_._2).sum / 100)
      val wantFn = r6(pts.filter(_._1 <= 0.369).map(x => BigDecimal(1.0) - x._2).sum / 100)
      assert(fp == wantFp && fn == wantFn, s"planes=$p")
      assert(score == BigDecimal(0.5 * fp + 0.5 * fn)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the collision curve falls pointwise as planes grow: fp can only
    // fall, fn can only rise
    assert(plan.map(_._3).sliding(2).forall(w => w(1) <= w(0)))
    assert(plan.map(_._4).sliding(2).forall(w => w(1) >= w(0)))
    intercept[IllegalArgumentException](
      Similarity.bandedRecallPlan(spark, 0.369, Seq(2, 2)))
    intercept[IllegalArgumentException](
      Similarity.bandedRecallPlan(spark, 1.5, Seq(2)))
  }

  test("semanticDedupBandedAuto sizes planes from the expected cluster occupancy") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val planes = Similarity.semanticBandedPlanes(n, k = 4)
    assert(planes == Similarity.bandedPlanesFor((n + 3) / 4),
      "sizing is bandedPlanesFor against ceil(n/k), not the corpus n")
    val auto = Similarity.semanticDedupBandedAuto(emb, "vec_id", "embedding",
      threshold = 0.4, k = 4, iters = 2)
      .as[(Long, String, Long)].collect().toSet
    val explicit = Similarity.semanticDedupBanded(emb, "vec_id", "embedding",
      threshold = 0.4, k = 4, iters = 2, planes = planes, tables = 3)
      .as[(Long, String, Long)].collect().toSet
    assert(auto == explicit)
  }

  test("ivfDriftReport: a batch drawn from the index's own rows measures zero drift") {
    val real = zed.filter(col("vec_id") =!= 99L)
    val idx = Similarity.ivfPqIndexBuild(real, "vec_id", "embedding",
      nCentroids = 4, subspaces = 2, subDim = 4, pqK = 2, pqIters = 0)
    val rep = Similarity.ivfDriftReport(idx, real, "vec_id", "embedding",
      tvThreshold = 0.1)
      .orderBy("cell").collect()
    assert(rep.length == 4, "one row per coarse cell, dead cells included")
    rep.foreach { r =>
      assert(r.getAs[Long]("n_index") == r.getAs[Long]("n_batch"))
      assert(r.getAs[Double]("frac_index") == r.getAs[Double]("frac_batch"))
      assert(r.getAs[Double]("drift") == 0.0)
      assert(r.getAs[Double]("tv") == 0.0)
      assert(!r.getAs[Boolean]("retrain"))
    }
    // per-cell base counts are exactly the codes relation's occupancy
    val occ = idx.codes.groupBy("cell").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    rep.foreach(r => assert(
      r.getAs[Long]("n_index") == occ.getOrElse(r.getAs[Long]("cell"), 0L)))
  }

  test("ivfDriftReport: a single-cell batch trips the retrain gate; zero-norm rows drop") {
    val real = zed.filter(col("vec_id") =!= 99L)
    val idx = Similarity.ivfPqIndexBuild(real, "vec_id", "embedding",
      nCentroids = 4, subspaces = 2, subDim = 4, pqK = 2, pqIters = 0)
    // many copies of one vector (all land in one cell) + one zero-norm
    // row that must vanish from the batch counts
    val one = zed.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val skewed = ((100 until 110).map(i => (i.toLong, one)) :+
      ((999L, Array.fill(8)(0.0f)))).toDF("vec_id", "embedding")
    val rep = Similarity.ivfDriftReport(idx, skewed, "vec_id", "embedding",
      tvThreshold = 0.05)
      .orderBy("cell").collect()
    assert(rep.map(_.getAs[Long]("n_batch")).sum == 10L,
      "the zero-norm row never encodes")
    assert(rep.count(_.getAs[Long]("n_batch") > 0) == 1,
      "identical vectors share one coarse cell")
    val tv = rep.head.getAs[Double]("tv")
    assert(tv > 0.05 && rep.forall(_.getAs[Boolean]("retrain")))
    // tv is the decimal half-sum of the per-cell 9-dp drifts
    val want = BigDecimal(rep.map(r =>
      BigDecimal(r.getAs[Double]("drift")).setScale(12)).sum.toDouble * 0.5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(tv == want)
  }

  test("ivfDriftReport: an empty batch reports null batch fracs, not a divide") {
    val real = zed.filter(col("vec_id") =!= 99L)
    val idx = Similarity.ivfPqIndexBuild(real, "vec_id", "embedding",
      nCentroids = 4, subspaces = 2, subDim = 4, pqK = 2, pqIters = 0)
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val rep = Similarity.ivfDriftReport(idx, empty, "vec_id", "embedding")
      .orderBy("cell").collect()
    assert(rep.length == 4)
    rep.foreach { r =>
      assert(r.getAs[Long]("n_batch") == 0L)
      assert(r.isNullAt(r.fieldIndex("frac_batch")))
      assert(r.isNullAt(r.fieldIndex("drift")))
      assert(r.isNullAt(r.fieldIndex("tv")))
      assert(!r.isNullAt(r.fieldIndex("frac_index")))
    }
  }

  /** The ADC table as it was written before [[Similarity.adcTable]]: one
    * inline `dot(9-dp query slice, literal centroid)` column per
    * (subspace, code), zero vectors padding a short subspace.
    */
  private def inlineAdc(qv: org.apache.spark.sql.Column,
                        cents: Array[Array[Array[Double]]], subDim: Int,
                        pqK: Int): org.apache.spark.sql.Column =
    array(cents.indices.map(sp =>
      array((0 until pqK).map { c =>
        val cv = if (c < cents(sp).length) cents(sp)(c).toSeq
                 else Seq.fill(subDim)(0.0)
        Similarity.dot(
          transform(slice(qv, sp * subDim + 1, subDim), x => round(x, 9)),
          typedlit(cv))
      }: _*)): _*)

  private def dotsIn(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case p =>
      p.expressions.map(_.collect {
        case d: graft.functions.DotProductExpr => d
      }.size).sum
    }.sum

  test("adcTable is bit-identical to the inline per-(subspace, code) dots: ragged subspace, short query, null element") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // subspace 1 holds 2 of pqK = 3 codes (zero-padded); values off the
    // 9-dp grid exercise the slice rounding
    val cents = Array(
      Array(Array(1.0, 2.0), Array(0.5, -1.25), Array(3.0, 0.1 + 0.2)),
      Array(Array(-2.0, 1.5), Array(1e-10, 7.0)))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("qv", ArrayType(DoubleType, containsNull = true))))
    val qs = spark.createDataFrame(java.util.Arrays.asList(
      Row(0L, Seq(0.1, 0.2, 0.3, 0.4)),
      Row(1L, Seq(1.0000000004, -3.5, 2.0 / 3.0, 1e-12)),
      Row(2L, Seq(1.0, 2.0, 3.0)),              // short: subspace 1 slice is 1 wide
      Row(3L, Seq[Any](1.0, null, 2.0, 4.0)),   // null element in subspace 0
      Row(4L, null)), schema)
    def bits(r: Row): Seq[Seq[Option[Long]]] =
      if (r.isNullAt(0)) Seq.empty
      else r.getSeq[scala.collection.Seq[Any]](0).map(_.toSeq.map(x =>
        Option(x).map(d => java.lang.Double.doubleToRawLongBits(
          d.asInstanceOf[Double]))))
    val got = qs.orderBy("id")
      .select(Similarity.adcTable(col("qv"), cents, 2, 3)).collect().map(bits)
    val want = qs.orderBy("id")
      .select(inlineAdc(col("qv"), cents, 2, 3)).collect().map(bits)
    assert(got.toSeq == want.toSeq)
    assert(got(0).map(_.size) == Seq(3, 3), "every subspace padded to pqK")
    assert(got(0)(1)(2).contains(0L), "a padded code dots to +0.0")
    assert(got(2)(0).forall(_.isDefined) && got(2)(1).forall(_.isEmpty),
      "a short query's missing subspace is NULL")
    assert(got(3)(0).forall(_.isEmpty) && got(3)(1).forall(_.isDefined),
      "a null element nulls only its own subspace")
  }

  test("adcTable: the search plan's dot-product count does not grow with pqK") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    def search(pqK: Int) = {
      val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
        nCentroids = 8, subspaces = 4, subDim = 16, pqK = pqK, pqIters = 0)
      (idx.pqK, Similarity.ivfPqSearch(idx, emb, qs, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20))
    }
    val (k4, s4) = search(4)
    val (k32, s32) = search(32)
    assert(k4 == 4 && k32 == 32)
    assert(dotsIn(s4) == dotsIn(s32),
      s"pqK=4: ${dotsIn(s4)} dots, pqK=32: ${dotsIn(s32)} dots")
    assert(dotsIn(s4) < 4 * 4, "the ADC table is not spelled out per code")
  }

  test("a batch that leads with a null vector encodes exactly the batch without it") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val batch = emb.filter($"vec_id" % 10 === 0)
    // one partition with the null row first: the row a width probe reads
    val led = Seq((-1L, null: Array[Float])).toDF("vec_id", "embedding")
      .union(batch).coalesce(1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 4, pqIters = 1)
    assert(rows(Similarity.ivfPqIndexAdd(idx, led, "vec_id", "embedding").codes) ==
      rows(Similarity.ivfPqIndexAdd(idx, batch, "vec_id", "embedding").codes))
    assert(rows(Similarity.pqCodes(led, "vec_id", "embedding", subspaces = 4,
      subDim = 16, k = 4, iters = 1)) ==
      rows(Similarity.pqCodes(batch, "vec_id", "embedding", subspaces = 4,
        subDim = 16, k = 4, iters = 1)))
  }

  test("IvfPqIndex holds its codebooks: a copy ranks with the codebooks it carries, no search collects") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    def search(idx: Similarity.IvfPqIndex) =
      rows(Similarity.ivfPqSearch(idx, emb, qs, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 5))
    // same coarse quantizer, different PQ codebooks (and codes)
    val a = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 8, pqIters = 0)
    val b = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 8, subspaces = 4, subDim = 16, pqK = 8, pqIters = 3)
    assert(search(a.copy(codes = b.codes)) != search(b),
      "the fixture's two codebooks rank differently")
    assert(search(a.copy(codes = b.codes, pq = b.pq)) == search(b),
      "a copy carrying b's pq ranks with b's codebooks")
    val dir = Files.createTempDirectory("graft-ivfpq-fields-").toString
    Similarity.ivfPqIndexSave(b, dir)
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    val direct = Similarity.IvfPqIndex(b.codes, b.coarse, b.pq, residual = false,
      subDim = 16)
    assert(search(loaded) == search(b) && search(direct) == search(b))
    // building a search over any index value runs no codebook job
    for ((name, idx) <- Seq("built" -> a, "loaded" -> loaded,
        "codes copy" -> a.copy(codes = a.codes.filter(col("cell") < 4)),
        "codebook swap" -> a.copy(pq = b.pq), "directly constructed" -> direct))
      assert(jobsRunBy(Similarity.ivfPqSearch(idx, emb, qs, "vec_id",
        "embedding", k = 5)).isEmpty, name)
  }

  test("ivfPqIndexLoad: an empty coarse relation fails as a torn directory") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 4, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
    val dir = Files.createTempDirectory("graft-ivfpq-torn-").toString
    Similarity.ivfPqIndexSave(idx, dir)
    spark.read.parquet(s"$dir/coarse").limit(0).write.mode("overwrite")
      .parquet(s"$dir/coarse2")
    spark.read.parquet(s"$dir/coarse2").write.mode("overwrite").parquet(s"$dir/coarse")
    val e = intercept[IllegalArgumentException](Similarity.ivfPqIndexLoad(spark, dir))
    assert(e.getMessage.contains(s"$dir/coarse holds no centroids"), e.getMessage)
  }

  test("ivfPqIndexLoad refuses a codebook over the size cap before collecting it") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 4, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
    val dir = Files.createTempDirectory("graft-ivfpq-cap-").toString
    Similarity.ivfPqIndexSave(idx, dir)
    var e: IllegalArgumentException = null
    val jobs = jobsRunBy {
      e = intercept[IllegalArgumentException](
        Similarity.ivfPqIndexLoad(spark, dir, codebookCapBytes = 1000L))
    }
    assert(e.getMessage.contains(s"$dir/coarse") &&
      e.getMessage.contains("1000-byte cap"), e.getMessage)
    assert(!jobs.exists(_.contains("collect at")),
      s"refused before the codebook collect, ran: ${jobs.mkString("; ")}")
    // the default cap admits it
    assert(Similarity.ivfPqIndexLoad(spark, dir).subDim == 16)
  }

  test("a save whose data write throws leaves no meta/ behind (IVF-PQ flat and clustered, sparse)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 4, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
    val sparse = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text")
    // the injected failure sits in one data column, so only the data
    // write evaluates it
    def poisoned(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, when(col(c).isNotNull, raise_error(lit("injected write failure")))
        .otherwise(col(c)))
    val badIdx = idx.copy(codes = poisoned(idx.codes, "nrm"))
    val badSparse = sparse.copy(postings = poisoned(sparse.postings, "weight"))
    val saves: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("ivfPqIndexSave", Similarity.ivfPqIndexSave(idx, _),
        Similarity.ivfPqIndexSave(badIdx, _)),
      ("ivfPqIndexSaveClustered", Similarity.ivfPqIndexSaveClustered(idx, _),
        Similarity.ivfPqIndexSaveClustered(badIdx, _)),
      ("sparseIndexSave", TextAnalysis.sparseIndexSave(sparse, _),
        TextAnalysis.sparseIndexSave(badSparse, _)))
    def hasMeta(dir: String) = new java.io.File(s"$dir/meta").exists
    for ((name, good, failing) <- saves) {
      val fresh = Files.createTempDirectory("graft-save-fresh-").toString
      intercept[Exception](failing(fresh))
      assert(!hasMeta(fresh), s"$name into a fresh directory left a meta/")
      val over = Files.createTempDirectory("graft-save-over-").toString
      good(over)
      assert(hasMeta(over), s"$name: a complete save writes meta/")
      intercept[Exception](failing(over))
      assert(!hasMeta(over), s"$name over a complete save left its old meta/")
    }
  }

  test("ivfPqIndexLoad names the torn relation of a partial directory") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 4, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    def files(dir: String) =
      Option(new java.io.File(dir).listFiles).toSeq.flatten.filter(_.isFile)
    def cellDirs(dir: String) =
      new java.io.File(s"$dir/codes").listFiles.filter(_.getName.startsWith("cell=")).toSeq
    // (case, clustered save, how the directory is torn, the relation named)
    val cases: Seq[(String, Boolean, String => Unit, String => String)] = Seq(
      ("no codes/", false, d => rm(new java.io.File(s"$d/codes")), d => s"$d/codes is missing"),
      ("no coarse/", false, d => rm(new java.io.File(s"$d/coarse")), d => s"$d/coarse is missing"),
      ("no pq/", false, d => rm(new java.io.File(s"$d/pq")), d => s"$d/pq is missing"),
      ("no meta/", false, d => rm(new java.io.File(s"$d/meta")), d => s"$d/meta is missing"),
      ("flat codes/ without a parquet file", false, d => files(s"$d/codes").foreach(rm),
        d => s"$d/codes holds no parquet file"),
      ("coarse/ without a parquet file", false, d => files(s"$d/coarse").foreach(rm),
        d => s"$d/coarse holds no parquet file"),
      ("pq/ without a parquet file", false, d => files(s"$d/pq").foreach(rm),
        d => s"$d/pq holds no parquet file"),
      ("meta/ without a parquet file", false, d => files(s"$d/meta").foreach(rm),
        d => s"$d/meta holds no parquet file"),
      ("cell= directories without a parquet file", true,
        d => cellDirs(d).foreach(c => files(c.getPath).foreach(rm)),
        d => s"$d/codes/cell="))
    for ((name, clustered, tear, relation) <- cases) {
      val dir = Files.createTempDirectory("graft-ivfpq-torn-").toString
      if (clustered) Similarity.ivfPqIndexSaveClustered(idx, dir)
      else Similarity.ivfPqIndexSave(idx, dir)
      tear(dir)
      val e = intercept[IllegalArgumentException](Similarity.ivfPqIndexLoad(spark, dir))
      assert(e.getMessage.contains(relation(dir)) &&
        e.getMessage.endsWith("a torn directory"), s"$name: ${e.getMessage}")
    }
  }
}
