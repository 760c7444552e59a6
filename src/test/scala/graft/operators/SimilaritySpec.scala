package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f))   // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine is exact on unit vectors") {
    val c = vecs.filter($"vec_id" === 0).crossJoin(
      vecs.filter($"vec_id" === 2).select($"embedding".as("e2")))
      .select(Similarity.cosine(
        Similarity.asDouble($"embedding"), Similarity.asDouble($"e2")).as("c"))
      .as[Double].head()
    assert(c == 0.0)
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak, self excluded") {
    val topk = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
      "vec_id", "embedding", 3)
      .orderBy("rn").as[(Long, Long, Long)].collect()
    assert(topk.map(_._2).toSeq == Seq(1L, 2L, 3L)) // closest → orthogonal → opposite
    assert(!topk.map(_._2).contains(0L))
  }

  test("nearDupPairsExhaustive finds only pairs above threshold") {
    val pairs = Similarity.nearDupPairsExhaustive(vecs, "vec_id", "embedding", 0.9)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("bucketed nearDupPairs is a subset of exhaustive, and exact within probe radius") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bucketed = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect().toSet
    val all = Similarity.nearDupPairsExhaustive(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(all), "bucketed pairs must all pass the exact threshold")
    assert(bucketed.nonEmpty)
    // losslessness within the probe radius: every exhaustive pair whose
    // buckets differ in <= 1 bit must be found (the blocking drops ONLY
    // pairs outside the radius, never candidates inside it)
    val buckets = emb.select($"vec_id",
      Similarity.lshBucket($"embedding").as("b")).as[(Long, Long)].collect().toMap
    val inRadius = all.filter { case (x, y) =>
      java.lang.Long.bitCount(buckets(x) ^ buckets(y)) <= 1 }
    assert(bucketed == inRadius)
  }

  test("nearDupPairs planes knob: more planes = more buckets, still subset-exact") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val all = Similarity.nearDupPairsExhaustive(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect().toSet
    // planes = 8 -> 256 buckets (the 100 TB widening of the self-join key
    // space); candidates shrink, every survivor still passes the exact
    // threshold, and same-bucket pairs are still found
    val wide = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4, planes = 8)
      .as[(Long, Long)].collect().toSet
    val narrow = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4, planes = 4)
      .as[(Long, Long)].collect().toSet
    assert(wide.subsetOf(all))
    assert(wide.nonEmpty)
    // recall shrinks monotonically in expectation but never gains pairs
    // outside the exhaustive truth; both probe radii stay threshold-exact
    assert(narrow.subsetOf(all))
  }

  test("banded nearDupPairs is a subset of exhaustive and exact within the table union") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val banded = Similarity.nearDupPairsBanded(emb, "vec_id", "embedding", 0.4,
      planes = 4, tables = 3)
      .as[(Long, Long)].collect().toSet
    val all = Similarity.nearDupPairsExhaustive(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(all), "banded pairs must all pass the exact threshold")
    assert(banded.nonEmpty)
    // losslessness within the candidate contract: every exhaustive pair
    // sharing a bucket in ANY of the 3 tables must be found — blocking
    // drops ONLY pairs colliding in no table
    val buckets = emb.select(($"vec_id" +:
      (0 until 3).map(t => Similarity.lshBucket($"embedding", 4, t * 4).as(s"b$t"))): _*)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
    val inUnion = all.filter { case (x, y) =>
      buckets(x).zip(buckets(y)).exists { case (a, b) => a == b } }
    assert(banded == inUnion)
  }

  test("one banded table emits each pair once: nearDupPairsBanded at tables = 1 is unprobed nearDupPairs") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val banded = Similarity.nearDupPairsBanded(emb, "vec_id", "embedding", 0.4,
      planes = 4, tables = 1).as[(Long, Long)].collect().toSeq
    assert(banded.nonEmpty && banded.distinct.size == banded.size)
    assert(banded.toSet == Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4,
      planes = 4, probeBits = 0).as[(Long, Long)].collect().toSet)
  }

  test("bandedPlanesFor: planes track n with no cap; tables amplify, not multiply, the load") {
    assert(Similarity.bandedPlanesFor(0) == 4)  // floor: the fixture default
    // smallest p with 3·n/2^p <= 3, i.e. 2^p >= n
    assert(Similarity.bandedPlanesFor(500000) == 19)
    assert(Similarity.bandedPlanesFor(5000000) == 23)
    // the probing generator's 24-plane recall cap is GONE: 5e9 vectors
    // size to 33 planes (recall is amplified across tables instead)
    assert(Similarity.bandedPlanesFor(5000000000L) == 33)
    assert(Similarity.bandedPlanesFor(Long.MaxValue) == 62) // structural ceiling only
    // doubling n adds one plane: 2^planes tracks n at any scale
    assert(Similarity.bandedPlanesFor(1000000) == Similarity.bandedPlanesFor(500000) + 1)
    // more tables -> more candidate rows -> more planes for the same budget
    assert(Similarity.bandedPlanesFor(500000, tables = 6) >
      Similarity.bandedPlanesFor(500000, tables = 3))
  }

  test("dropNearDupsAgainst removes cross-side near-dups only, never intra-batch pairs") {
    val existing = Seq(
      (100L, Array.fill(64)(0.25f)),
      (101L, Array.tabulate(64)(j => if (j % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val incoming = Seq(
      (1L, Array.fill(64)(0.25f)),                                   // dup of 100
      (2L, Array.fill(64)(0.26f)),                                   // near-dup of 100
      (3L, Array.tabulate(64)(j => if (j % 2 == 0) -1.0f else 1.0f)),// opposite of 101
      (4L, Array.fill(64)(0.27f))                                    // near-dup of 100 AND of 1/2
    ).toDF("vec_id", "embedding")
    val kept = Similarity.dropNearDupsAgainst(incoming, existing,
      "vec_id", "embedding", 0.9, planes = 4, tables = 3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // 1, 2, 4 all collide with existing 100 (identical direction); 3 is
    // anti-parallel to 101 (cosine -1) and must SURVIVE — and intra-batch
    // near-dups (1~2~4) are never dropped against each other
    assert(kept == Seq(3L))
    // against an existing side with no parallel vector, the whole batch
    // survives — 1~2~4 are near-dups of EACH OTHER but intra-batch pairs
    // are out of contract (dedup them with nearDupPairsBanded first)
    val survivors = Similarity.dropNearDupsAgainst(
      incoming, existing.filter($"vec_id" === 101L),
      "vec_id", "embedding", 0.9, planes = 4, tables = 3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 2L, 3L, 4L))
  }

  test("fused lshBucket kernel matches the declarative formulation exactly") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for ((planes, off) <- Seq((4, 0), (4, 4), (8, 0), (20, 7), (1, 33))) {
      val mism = emb.select(
        Similarity.lshBucket($"embedding", planes, off).as("fused"),
        Similarity.lshBucketDeclarative($"embedding", planes, off).as("decl"))
        .filter($"fused" =!= $"decl").count()
      assert(mism == 0, s"planes=$planes offset=$off: $mism mismatches")
    }
    // null vector and null slot fold to bucket 0, like the declarative form
    val edge = Seq((0L, Some(Seq(Some(1.0), Some(2.0)))),
      (1L, Some(Seq(Some(1.0), None))), (2L, None))
      .toDF("id", "v")
    val got = edge.select($"id", Similarity.lshBucket($"v", 4, 0).as("b"),
      Similarity.lshBucketDeclarative($"v", 4, 0).as("d"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.forall(r => r._2 == r._3))
    assert(got.filter(_._1 >= 1).forall(_._2 == 0L))
  }

  test("lshBucket accepts integral-element arrays (quantizeInt8 shape) and widens exactly") {
    // public contract: array<long>/array<int> inputs — the int8-quantized
    // pipeline's shape — bucket identically to their double-widened twins
    val q = Seq((0L, Array(127L, -64L, 3L)), (1L, Array(5L, 5L, 5L)))
      .toDF("id", "v")
    val got = q.select($"id",
      Similarity.lshBucket($"v", 6, 0).as("b"),
      Similarity.lshBucket(Similarity.asDouble($"v"), 6, 0).as("bd"),
      Similarity.lshBucket($"v".cast("array<int>"), 6, 0).as("bi"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.forall(r => r._2 == r._3 && r._2 == r._4))
  }

  test("lshBucket kernel survives CODEGEN_ONLY factory mode") {
    val prev = (spark.conf.getOption("spark.sql.codegen.factoryMode"),
      spark.conf.getOption("spark.sql.codegen.fallback"))
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val b = Seq((0L, Array.fill(64)(0.5f)), (1L, Array.fill(64)(0.5f)))
        .toDF("vec_id", "embedding")
        .select(Similarity.lshBucket($"embedding", 6, 3).as("b")).as[Long].collect()
      assert(b(0) == b(1))
    } finally {
      prev._1.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prev._2.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }

  test("lshBucket plane offset: table 0 is the classic bucket; tables are decorrelated") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rows = emb.select(
      Similarity.lshBucket($"embedding").as("legacy"),
      Similarity.lshBucket($"embedding", 4, 0).as("t0"),
      Similarity.lshBucket($"embedding", 4, 4).as("t1"),
      Similarity.lshBucket($"embedding", 4, 8).as("t2"))
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.forall(r => r._1 == r._2), "offset 0 must equal the classic bucket")
    // independent tables: bucket values must not be copies of table 0
    assert(rows.exists(r => r._2 != r._3) && rows.exists(r => r._2 != r._4))
    // identical vectors agree per table (determinism across the offset space)
    val dup = Seq((0L, Array.fill(64)(0.3f)), (1L, Array.fill(64)(0.3f)))
      .toDF("vec_id", "embedding")
    val b = dup.select(Similarity.lshBucket($"embedding", 20, 7).as("b")).as[Long].collect()
    assert(b(0) == b(1))
  }

  test("integer-element vectors (quantized codes) still work through the bucketed operators") {
    val codes = Seq(
      (0L, Array(100L, -50L, 25L, 0L)),
      (1L, Array(100L, -50L, 25L, 0L)),
      (2L, Array(-100L, 50L, -25L, 1L))
    ).toDF("vec_id", "embedding") // array<bigint>, the quantizeInt8 shape
    val pairs = Similarity.nearDupPairs(codes, "vec_id", "embedding", 0.9)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
    assert(Similarity.lshTopK(codes, codes.filter($"vec_id" === 0), "vec_id",
      "embedding", k = 1, probeBits = 1).count() >= 1)
  }

  test("planesFor keeps the probe-multiplied per-vector load under budget") {
    assert(Similarity.planesFor(0) == 4)       // floor: the fixture default
    // smallest p with (p+1)·n/2^p <= 8 (probeBits=1 => p+1 probe masks)
    assert(Similarity.planesFor(5000) == 14)   // 15·5000/2^14 = 4.6
    assert(Similarity.planesFor(500000) == 21) // 22·500k/2^21 = 5.2
    assert(Similarity.planesFor(5000000) == 24) // cap
    assert(Similarity.planesFor(Long.MaxValue) == 24) // cap
    // doubling n adds one plane while under the cap: 2^planes tracks n
    assert(Similarity.planesFor(1000000) == Similarity.planesFor(500000) + 1)
    // wider probing costs more masks, so the same n needs more planes
    assert(Similarity.planesFor(500000, probeBits = 2) >
      Similarity.planesFor(500000, probeBits = 1))
    // past-the-cap corpora: raising maxPlanes alongside probeBits keeps
    // sizing (the documented 28/2-bit recipe for >5M vectors)
    assert(Similarity.planesFor(50000000L, probeBits = 2, maxPlanes = 28) == 28)
    assert(Similarity.planesFor(5000000) == 24) // default cap unchanged
  }

  test("identical vectors always share a bucket, so bucketed near-dup finds them") {
    val df = Seq(
      (0L, Array.fill(64)(0.25f)),
      (1L, Array.fill(64)(0.25f)),
      (2L, Array.tabulate(64)(j => if (j % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.99)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("lshBucket is deterministic and stable") {
    val dim = 64
    val df = Seq((0L, Array.fill(dim)(0.5f)), (1L, Array.fill(dim)(0.5f)))
      .toDF("vec_id", "embedding")
    val buckets = df.select(Similarity.lshBucket($"embedding").as("b")).as[Long].collect()
    assert(buckets(0) == buckets(1))        // identical vectors ⇒ same bucket
    assert(buckets(0) >= 0 && buckets(0) < 16)
  }

  test("ivfTopK with nProbe = nCentroids equals brute force exactly") {
    val dim = 16
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(dim)(j => ((i * 7 + j * 3) % 11 - 5) * 0.1f))
    }
    val df = base.toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" < 3)
    val ivf = Similarity.ivfTopK(df, qs, "vec_id", "embedding", k = 5,
      nCentroids = 4, nProbe = 4)
      .orderBy("query_id", "rn").as[(Long, Long, Long)].collect().toSeq
    val brute = Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", 5)
      .orderBy("query_id", "rn").as[(Long, Long, Long)].collect().toSeq
    assert(ivf == brute)
  }

  test("ivfTopK with nProbe < nCentroids returns a brute-force-consistent subset") {
    val dim = 16
    val base = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(dim)(j => ((i * 7 + j * 3) % 11 - 5) * 0.1f))
    }
    val df = base.toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" === 0)
    val ivf = Similarity.ivfTopK(df, qs, "vec_id", "embedding", k = 5,
      nCentroids = 8, nProbe = 2)
      .orderBy("rn").as[(Long, Long, Long)].collect().map(_._2).toSeq
    val brute = Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", 29)
      .orderBy("rn").as[(Long, Long, Long)].collect().map(_._2).toSeq
    // returned neighbors appear in brute-force order
    assert(ivf == brute.filter(ivf.contains(_)).take(ivf.length))
    assert(ivf.nonEmpty)
  }

  test("multi-probe lshTopK widens the candidate set, still brute-force-consistent") {
    val dim = 64
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i % 4) 1.0f else 0.01f * ((i + j) % 7)))
    }
    val df = base.toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" === 0)
    def neighbors(probeBits: Int): Seq[Long] =
      Similarity.lshTopK(df, qs, "vec_id", "embedding", k = 39, probeBits = probeBits)
        .orderBy("rn").as[(Long, Long, Long)].collect().map(_._2).toSeq
    val n0 = neighbors(0)
    val n1 = neighbors(1)
    assert(n1.size >= n0.size)
    assert(n0.toSet.subsetOf(n1.toSet))
    val brute = Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", 39)
      .orderBy("rn").as[(Long, Long, Long)].collect().map(_._2).toSeq
    assert(n1 == brute.filter(n1.contains(_)).take(n1.length))
  }

  test("lshTopK returns same-bucket neighbors ranked like brute force") {
    val dim = 64
    val base = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i % 4) 1.0f else 0.01f * ((i + j) % 7)))
    }
    val df = base.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(df, df.filter($"vec_id" === 0), "vec_id", "embedding", 5)
      .as[(Long, Long, Long)].collect()
    // candidates restricted to bucket ⇒ a subset of brute-force ranking
    val brute = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0),
      "vec_id", "embedding", 19).as[(Long, Long, Long)].collect()
      .map(_._2).toSeq
    val got = out.sortBy(_._3).map(_._2).toSeq
    assert(got == brute.filter(got.contains(_)).take(got.length))
  }

  test("quantizeInt8 maps max-abs component to +/-127 and stays in range") {
    val df = Seq((1L, Seq(0.5, -1.0, 0.25))).toDF("id", "v")
    val q = df.select(Similarity.quantizeInt8($"v").as("q"))
      .as[Seq[Long]].head()
    assert(q == Seq(64L, -127L, 32L))
    assert(q.forall(x => x >= -127 && x <= 127))
  }

  test("quantizedRerankTopK with full rerank budget equals brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val full = Similarity.quantizedRerankTopK(emb, qs, "vec_id", "embedding",
      k = 5, rerank = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(full == brute && brute.nonEmpty)
  }

  test("quantizedRerankTopK at a tight budget keeps high recall vs brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val approx = Similarity.quantizedRerankTopK(emb, qs, "vec_id", "embedding",
      k = 5, rerank = 20).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("signPack packs sign bits into 32-bit words, hand-checked") {
    // x_0 > 0 → w0 bit 0; x_33 > 0 → w1 bit 1; everything else negative
    val one = Seq((0L, Array.tabulate(64)(i =>
      if (i == 0 || i == 33) 1.0f else -1.0f))).toDF("vec_id", "v")
    assert(one.select(Similarity.signPack($"v", 64).as("w"))
      .as[Seq[Long]].head() == Seq(1L, 2L))
    // zero is NOT positive (x > 0): an all-zeros vector packs to 0-words;
    // all-positive fills every bit of both words
    val edges = Seq(
      (1L, Array.fill(64)(0.0f)),
      (2L, Array.fill(64)(0.5f))).toDF("vec_id", "v")
      .select($"vec_id", Similarity.signPack($"v", 64).as("w"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(edges(1L) == Seq(0L, 0L))
    assert(edges(2L) == Seq(4294967295L, 4294967295L),
      "32 set bits per word = 2^32 - 1, never a signed-overflow value")
    // non-multiple-of-32 width: dim=40 → 2 words, the tail word holds
    // only positions 32..39
    val tail = Seq((3L, Array.tabulate(40)(i =>
      if (i == 39) 1.0f else -1.0f))).toDF("vec_id", "v")
    assert(tail.select(Similarity.signPack($"v", 40).as("w"))
      .as[Seq[Long]].head() == Seq(0L, 128L)) // bit 39-32=7 → 2^7
  }

  test("binaryRerankTopK with full rerank budget equals brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val full = Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
      dim = 64, k = 5, rerank = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(full == brute && brute.nonEmpty)
  }

  test("binaryRerankTopK recall grows with the rerank budget and is usable at 1 bit") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(r: Int): Double = {
      val approx = Similarity.binaryRerankTopK(emb, qs, "vec_id", "embedding",
        dim = 64, k = 5, rerank = r)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (approx & brute).size.toDouble / brute.size
    }
    val (r20, r100) = (recallAt(20), recallAt(100))
    assert(r20 > 0.0 && r100 >= r20, s"recall@20=$r20 recall@100=$r100")
    assert(r100 >= 0.8, s"a 100-candidate rerank should recover most of " +
      s"brute force on 500 vectors, got $r100")
  }

  test("binaryRerankTopK drops ragged-width rows from both roles") {
    // id 7 is 3-wide in a dim=64 corpus: a silent zip would rank it on a
    // truncated prefix; the width filter must drop it from stage 1
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .limit(20).as[(Long, Array[Float], Int)].collect().toSeq
      .map(t => (t._1, t._2))
    val mixed = (base :+ ((9999L, Array(1.0f, 1.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.binaryRerankTopK(mixed, mixed, "vec_id", "embedding",
      dim = 64, k = 3, rerank = 10)
    val ids = out.select($"neighbor_id").as[Long].collect().toSet ++
      out.select($"query_id").as[Long].collect().toSet
    assert(!ids.contains(9999L) && ids.nonEmpty)
  }

  test("matryoshkaTopK at full prefix and budget equals brute force; tight budget keeps recall") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val dim = emb.select($"embedding").head().getSeq[Float](0).length
    val full = Similarity.matryoshkaTopK(emb, qs, "vec_id", "embedding",
      k = 5, prefixDim = dim, rerank = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(full == brute && brute.nonEmpty,
      "prefix = dim makes stage 1 the exact rank, so the composition is brute force")
    // the fixture embeddings are NOT MRL-trained (information is spread
    // uniformly across dims), so a quarter-width prefix is a weak rank
    // here by construction — the contract to pin is that recall is real
    // and the rerank budget buys it back monotonically, not a bar an
    // untrained fixture can't meet
    def recallAt(rerank: Int): Double = {
      val approx = Similarity.matryoshkaTopK(emb, qs, "vec_id", "embedding",
        k = 5, prefixDim = dim / 4, rerank = rerank)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val bruteP = brute.map(t => (t._1, t._2))
      (approx & bruteP).size.toDouble / bruteP.size
    }
    val (r20, r80) = (recallAt(20), recallAt(80))
    assert(r20 > 0.0 && r80 >= r20, s"recall@20=$r20 recall@80=$r80")
    intercept[IllegalArgumentException](
      Similarity.matryoshkaTopK(emb, qs, "vec_id", "embedding",
        k = 5, prefixDim = 0))
    intercept[IllegalArgumentException](
      Similarity.matryoshkaTopK(emb, qs, "vec_id", "embedding",
        k = 5, prefixDim = 8, rerank = 3))
  }

  test("matryoshkaTopK drops zero-PREFIX vectors from both roles") {
    // id 7 is nonzero overall but all-zero in the first 2 dims — it has
    // no stage-1 direction at prefixDim=2 and must vanish entirely
    val mixed = (vecs.as[(Long, Array[Float])].collect().toSeq :+
      ((7L, Array(0.0f, 0.0f, 5.0f)))).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaTopK(mixed, mixed, "vec_id", "embedding",
      k = 4, prefixDim = 2, rerank = 10)
    val ids = out.select($"neighbor_id").as[Long].collect().toSet ++
      out.select($"query_id").as[Long].collect().toSet
    assert(!ids.contains(7L))
    // at prefixDim = 3 (the full width) it ranks again
    val fullw = Similarity.matryoshkaTopK(mixed, mixed, "vec_id", "embedding",
      k = 4, prefixDim = 3, rerank = 10)
    assert(fullw.filter($"query_id" === 7L).count() > 0)
  }

  test("labelCentroids averages coordinates per (label, dim) with member counts") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 0),
      (2L, Array(2.0f, 4.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(vecs, "embedding", "label")
      .orderBy("label", "dim")
      .as[(Int, Long, Double, Long)].collect().toSeq
    assert(out == Seq(
      (0, 0L, 0.5, 2L), (0, 1L, 0.5, 2L),
      (1, 0L, 2.0, 1L), (1, 1L, 4.0, 1L)))
  }

  test("labelMedoids picks the member closest to the centroid; ties break to min id") {
    val vecs = Seq(
      // label 0: symmetric pair — both sims are the identical rounded
      // double, so the tie must break to vec_id 0
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 0),
      // label 1: v12 points closer to the centroid direction than v11
      (11L, Array(1.0f, 0.0f), 1),
      (12L, Array(1.0f, 0.2f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelMedoids(vecs, "vec_id", "embedding", "label")
      .orderBy("label")
      .as[(Int, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((0, 0L), (1, 12L)))
    // label-0 sim is cos(45°) rounded: 0.707107
    assert(out.head._3 == 0.707107)
    // label-1 medoid sim beats the runner-up and sits near 1
    assert(out(1)._3 > 0.995 && out(1)._3 <= 1.0)
  }

  test("labelDispersion: collapsed label reads 0, symmetric pair reads its radius²") {
    val df = Seq(
      (0, Array(0.5f, 0.5f)), (0, Array(0.5f, 0.5f)), (0, Array(0.5f, 0.5f)),
      (1, Array(1.0f, 0.0f)), (1, Array(-1.0f, 0.0f))
    ).toDF("label", "embedding")
    val out = Similarity.labelDispersion(df, "embedding", "label")
      .orderBy("label")
      .as[(Int, Long, Double)].collect().toSeq
    // label 0: identical vectors → E||x−c||² = 0; label 1: centroid at the
    // origin, both members at distance 1 → dispersion exactly 1
    assert(out == Seq((0, 3L, 0.0), (1, 2L, 1.0)))
  }

  test("annRecallReport equals the driver-side overlap of its own two arms") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = df.filter($"vec_id" % 40 === 0)
    val k = 5
    val got = Similarity.annRecallReport(df, qs, "vec_id", "embedding", k)
      .orderBy("query_id").as[(Long, Long, Double)].collect().toSeq
    // reference: overlap of the two arms' own outputs, set math on the driver
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = pairs(Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", k))
    val ap = pairs(Similarity.lshTopK(df, qs, "vec_id", "embedding", k))
    assert(got.map(_._1) == bf.keys.toSeq.sorted)
    got.foreach { case (q, nHit, recall) =>
      val overlap = (bf(q) & ap.getOrElse(q, Set.empty)).size
      assert(nHit == overlap, s"query $q: $nHit vs $overlap")
      val expect = BigDecimal(overlap.toDouble / k)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(recall == expect)
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // one bucket = perfect recall: identical-direction vectors all collide
    val tight = (0L until 20L).map(i => (i, Array.fill(4)(1.0f + i * 1e-4f)))
      .toDF("vec_id", "embedding")
    val perfect = Similarity.annRecallReport(tight,
      tight.filter($"vec_id" === 0), "vec_id", "embedding", 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(perfect == Seq((0L, 3L, 1.0)))
  }

  test("covarianceMatrix: hand-computed 2x2 moments, symmetric, one-pass raw moments") {
    // x = (1,2,3), y = (2,4,7): var(x) = 2/3, var(y) = 38/9,
    // cov(x,y) = (1·2+2·4+3·7 − 6·13/3)/3 = (31 − 26)/3 = 5/3
    val df = Seq(Array(1.0f, 2.0f), Array(2.0f, 4.0f), Array(3.0f, 7.0f))
      .toDF("embedding")
    val got = Similarity.covarianceMatrix(df, "embedding")
      .orderBy("i", "j").as[(Long, Long, Double)].collect().toSeq
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (0L, 0L, r6(2.0 / 3)), (0L, 1L, r6(5.0 / 3)),
      (1L, 0L, r6(5.0 / 3)), (1L, 1L, r6(38.0 / 9))))
  }

  test("kmeansLloyd recovers planted clusters and matches a driver-side Lloyd") {
    // three tight planted clusters far apart; ids interleaved so the
    // min-id init starts with one seed in each of clusters 0/1/2
    val centers = Seq(Array(10.0f, 0.0f, 0.0f), Array(0.0f, 10.0f, 0.0f),
      Array(0.0f, 0.0f, 10.0f))
    val rows = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      (i, centers(c).zipWithIndex.map { case (x, j) =>
        x + ((i * 7 + j) % 5) * 0.01f })
    }
    val got = Similarity.kmeansLloyd(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, iters = 2)
      .as[(Long, Int)].collect().toMap
    // planted recovery: cluster label == id mod 3 (init seeds 0,1,2)
    rows.foreach { case (i, _) =>
      assert(got(i) == (i % 3).toInt, s"vec $i landed in ${got(i)}")
    }
    // driver-side Lloyd with the operator's exact rounding contract
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pts = rows.map { case (i, v) => i -> v.map(x => r(x.toDouble, 9)) }
    var cs = pts.sortBy(_._1).take(3).map(_._2.clone())
    def assign(p: Array[Double]) =
      cs.zipWithIndex.map { case (c, ci) =>
        (r(p.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, 6), ci)
      }.min._2
    for (_ <- 0 until 2) {
      val byC = pts.groupBy { case (_, p) => assign(p) }
      cs = cs.zipWithIndex.map { case (c, ci) =>
        byC.get(ci).fold(c) { members =>
          val n = members.size
          // decimal-exact sum → double, then ONE IEEE division — the
          // operator's exact expression shape
          Array.tabulate(c.length)(j =>
            r(members.map { case (_, p) => BigDecimal(p(j)) }.sum.toDouble / n, 9))
        }
      }
    }
    pts.foreach { case (i, p) => assert(got(i) == assign(p), s"ref mismatch vec $i") }
    // empty-cluster edge: k larger than distinct points — survivors keep
    // their seed centroid, every row still gets a label in [0, k)
    val tiny = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(5.0f, 5.0f))).toDF("vec_id", "embedding")
    val lbl = Similarity.kmeansLloyd(tiny, "vec_id", "embedding", k = 3, iters = 3)
      .as[(Long, Int)].collect().toMap
    assert(lbl.values.forall(c => c >= 0 && c < 3))
    assert(lbl(0L) == lbl(1L) && lbl(0L) != lbl(2L))
  }

  test("randomProjection: signs agree with lshBucket bits; zero vector projects to 0") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 20L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val k = 8
    val proj = Similarity.randomProjection(vecs, "vec_id", "embedding", k)
      .orderBy("vec_id").collect()
    val buckets = vecs.select($"vec_id", Similarity.lshBucket($"embedding", k).as("b"))
      .orderBy("vec_id").as[(Long, Long)].collect()
    // plane p's bucket bit is set iff the full projection is positive —
    // the two operators share the plane-weight generator by contract
    proj.zip(buckets).foreach { case (row, (_, b)) =>
      for (p <- 0 until k) {
        val v = row.getDouble(1 + p)
        assert((v > 0) == ((b & (1L << p)) != 0), s"plane $p: proj=$v bucket=$b")
      }
    }
    val z = Seq((0L, Array.fill(16)(0.0f))).toDF("vec_id", "embedding")
    val zr = Similarity.randomProjection(z, "vec_id", "embedding", 4).head()
    assert((1 to 4).forall(i => zr.getDouble(i) == 0.0))
    intercept[IllegalArgumentException](
      Similarity.randomProjection(z, "vec_id", "embedding", 0))
  }

  test("pqCodes: each subspace codes like kmeansLloyd on its slice") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val got = Similarity.pqCodes(vecs, "vec_id", "embedding",
      subspaces = 2, subDim = 4, k = 3, iters = 2)
      .orderBy("vec_id")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got.forall(r => r._2 >= 0 && r._2 < 3 && r._3 >= 0 && r._3 < 3))
    // subspace 1 must equal a standalone Lloyd run on the second slice
    val sliced = vecs.select($"vec_id",
      org.apache.spark.sql.functions.slice($"embedding", 5, 4).as("sub"))
    val solo = Similarity.kmeansLloyd(sliced, "vec_id", "sub", k = 3, iters = 2)
      .orderBy("vec_id").as[(Long, Int)].collect().toSeq
    assert(got.map(r => (r._1, r._3)) == solo)
    intercept[IllegalArgumentException](
      Similarity.pqCodes(vecs, "vec_id", "embedding", 0, 4))
  }

  test("hardNegatives: the cosine band keeps hard candidates, drops dups and randoms") {
    // query (1,0); cos against it: id1 = 1.0 (near-dup), id3 = 0.8,
    // id2 = 0.6, id4 = 0.0, id5 = −1.0
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(3f, 4f)),
      (3L, Seq(4f, 3f)), (4L, Seq(0f, 1f)), (5L, Seq(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L)
    val got = Similarity.hardNegatives(vecs, q, "vec_id", "embedding",
      k = 5, minCos = 0.1, maxCos = 0.95)
      .as[(Long, Long, Double, Long)].collect().toSeq.sortBy(_._4)
    // dup (1.0) capped out, randoms (0.0, −1.0) floored out; best-first
    assert(got == Seq((0L, 3L, 0.8, 1L), (0L, 2L, 0.6, 2L)))
    // k truncates
    assert(Similarity.hardNegatives(vecs, q, "vec_id", "embedding",
      k = 1, minCos = 0.1, maxCos = 0.95).count() == 1)
    intercept[IllegalArgumentException](
      Similarity.hardNegatives(vecs, q, "vec_id", "embedding", 5, 0.9, 0.1))
  }

  test("hardNegatives with an unbounded band reproduces bruteForceTopK's ranking") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = vecs.filter($"vec_id" % 10 === 0)
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 3)
      .as[(Long, Long, Long)].collect().toSet
    val wide = Similarity.hardNegatives(vecs, q, "vec_id", "embedding",
      k = 3, minCos = -2.0, maxCos = 2.0)
      .select($"query_id", $"neighbor_id", $"rn")
      .as[(Long, Long, Long)].collect().toSet
    assert(wide == brute && wide.nonEmpty)
  }

  test("ivfPqTopK with full probes and an unbounded rerank budget equals brute force") {
    // every cell probed ⇒ every non-self pair is a stage-1 candidate;
    // rerank >= corpus ⇒ every candidate reaches the exact stage ⇒ the
    // composition degrades gracefully to bruteForceTopK exactly
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val full = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 16, subspaces = 4, subDim = 16, pqK = 4,
      pqIters = 2, rerank = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(full == brute && brute.nonEmpty)
  }

  test("ivfPqTopK recall tracks the IVF probe ceiling; a bigger rerank budget closes the PQ gap") {
    // the probe bound (4/16 cells over UNCLUSTERED random vectors — ANN's
    // worst case) is the recall ceiling, set by ivfTopK itself; PQ's
    // 2-bit ADC gate only reorders WITHIN the probed candidates, so the
    // composed recall must stay a bounded fraction of the IVF ceiling at
    // a tight rerank and recover the ceiling as rerank grows
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, qs, "vec_id", "embedding", k = 5,
      nCentroids = 16, nProbe = 4).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    def pqRecall(rerank: Int): Double = {
      val got = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16, pqK = 4,
        pqIters = 2, rerank = rerank).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      (got & brute).size.toDouble / brute.size
    }
    val ivfRecall = (ivf & brute).size.toDouble / brute.size
    val tight = pqRecall(20)
    val wide = pqRecall(200)
    assert(ivfRecall > 0, s"ivf ceiling $ivfRecall")
    // rerank=20 keeps ~16% of the ~125 probed candidates per query, so a
    // RANDOM stage-1 gate would retain ~0.16× the ceiling; the 2-bit ADC
    // measures 0.36× on this fixture — assert it stays decisively above
    // the random baseline (0.3×), and that a wide budget recovers the
    // ceiling (the gate loses nothing the probes found)
    assert(tight >= 0.3 * ivfRecall,
      s"tight-rerank recall $tight fell below 0.3x the IVF ceiling $ivfRecall")
    assert(wide >= 0.95 * ivfRecall,
      s"wide-rerank recall $wide must recover the IVF ceiling $ivfRecall")
  }

  test("contrastiveTriples: positives from the near-dup set, negatives band-bounded and ranked") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val triples = Similarity.contrastiveTriples(emb, "vec_id", "embedding",
      posThreshold = 0.4, negMin = 0.05, negMax = 0.35, negPerAnchor = 2)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(triples.nonEmpty)
    // (anchor, positive) pairs are exactly the q25 near-dup pair set, in
    // both orientations (anchors that have no in-band negative drop out)
    val posPairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    triples.foreach { case (a, p, n, c, rn) =>
      assert(posPairs.contains((a, p)), s"($a, $p) not a near-dup pair")
      assert(c >= 0.05 && c < 0.35, s"neg_cos $c outside the band")
      assert(rn >= 1 && rn <= 2)
      assert(n != a && n != p || n == p, s"negative $n equals anchor $a")
    }
    // per (anchor, positive), ranks are dense from 1 and cos non-increasing
    triples.groupBy(t => (t._1, t._2)).foreach { case (_, ts) =>
      val byRn = ts.sortBy(_._5)
      assert(byRn.map(_._5).toSeq == (1L to byRn.size).toSeq)
      assert(byRn.map(_._4).zip(byRn.map(_._4).tail).forall { case (x, y) => x >= y })
    }
    // every negative really is a bucket cohabitant within the probe
    // radius of its anchor (the LSH-surfaced hard-negative contract)
    val buckets = emb.select($"vec_id", Similarity.lshBucket($"embedding").as("b"))
      .as[(Long, Long)].collect().toMap
    triples.foreach { case (a, _, n, _, _) =>
      assert(java.lang.Long.bitCount(buckets(a) ^ buckets(n)) <= 1,
        s"negative $n not in anchor $a's probe radius")
    }
  }

  test("semanticDedup: planted semantic clusters collapse to min-id winners") {
    // two tight direction-clusters far apart (+axis0-ish vs +axis1-ish)
    // plus one isolated vector: each tight cluster welds to ONE winner,
    // the isolated vector survives untouched
    val dim = 8
    def v(axis: Int, wiggle: Int): Array[Float] =
      Array.tabulate(dim)(j =>
        (if (j == axis) 1.0f else 0.0f) + (if (j == (axis + 1) % dim) wiggle * 0.01f else 0.0f))
    // ids 0/1/2 are one member of each group: kmeansLloyd seeds on the
    // first k ids, so each group gets exactly one seed
    val df = Seq(
      (0L, v(0, 0)), (3L, v(0, 1)), (4L, v(0, 2)),   // cluster A
      (1L, v(3, 0)), (10L, v(3, 1)),                  // cluster B
      (2L, Array.tabulate(dim)(j => if (j % 2 == 0) 1.0f else -1.0f))) // loner
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
      threshold = 0.9, k = 3, iters = 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) == ("kept", 0L))
    assert(out(3L) == ("dropped_semantic", 0L))
    assert(out(4L) == ("dropped_semantic", 0L))
    assert(out(1L) == ("kept", 1L))
    assert(out(10L) == ("dropped_semantic", 1L))
    assert(out(2L) == ("kept", 2L))
  }

  test("semanticDedup matches a driver-side reference: within-cluster exact, cross-cluster unseen") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.4, k = 4, iters = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // reference: trusted kmeansLloyd assignments + brute-force
    // within-cluster cosine edges + union-find, all on the driver
    val cl = Similarity.kmeansLloyd(emb, "vec_id", "embedding", k = 4, iters = 2)
      .as[(Long, Int)].collect().toMap
    val vecs = emb.select($"vec_id",
      Similarity.asDouble($"embedding")).as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var j = 0
      while (j < x.length) { d += x(j) * y(j); nx += x(j) * x(j); ny += y(j) * y(j); j += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val ids = vecs.keys.toSeq.sorted
    for {
      i <- ids.indices; j <- (i + 1) until ids.size
      if cl(ids(i)) == cl(ids(j))                       // same cluster only
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.4
    } union(ids(i), ids(j))
    ids.foreach { id =>
      val w = find(id)
      val exp = if (w == id) ("kept", id) else ("dropped_semantic", w)
      assert(got(id) == exp, s"id $id: got ${got(id)}, expected $exp")
    }
    assert(got.values.count(_._1 == "dropped_semantic") > 0,
      "fixture must exercise at least one semantic drop")
  }

  test("ivfPqResidualTopK: full probes + unbounded rerank equals brute force; residual ADC competitive") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 20 === 0)
    // the residual decomposition is still only a GATE: with every cell
    // probed and every candidate reranked, output ≡ bruteForceTopK
    val full = Similarity.ivfPqResidualTopK(emb, qs, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 16, subspaces = 4, subDim = 16,
      pqK = 4, pqIters = 2, rerank = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(full == brute && brute.nonEmpty)
    // at the production knobs, residual-ADC recall stays competitive
    // with the raw-ADC gate (classically it is finer; random vectors
    // only guarantee the same ballpark)
    def recall(got: Set[(Long, Long)]): Double = {
      val b5 = brute.map(t => (t._1, t._2))
      (got & b5).size.toDouble / b5.size
    }
    val res = recall(Similarity.ivfPqResidualTopK(emb, qs, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16,
      pqK = 4, pqIters = 2, rerank = 20).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet)
    val raw = recall(Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4, subspaces = 4, subDim = 16,
      pqK = 4, pqIters = 2, rerank = 20).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet)
    assert(res >= 0.8 * raw, s"residual recall $res fell far below raw $raw")
  }

  test("ivfPqTopK stage-1 ADC ranking actually gates: tiny rerank still returns k rows") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter($"vec_id" === 0)
    val out = Similarity.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 3,
      nCentroids = 8, nProbe = 8, subspaces = 4, subDim = 16, pqK = 4,
      pqIters = 1, rerank = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.size == 3)
    assert(out.map(_._3).sorted == Seq(1L, 2L, 3L))
    // self-match never surfaces
    assert(out.forall(_._2 != 0L))
  }

  test("bad ANN arguments fail before any Spark job runs") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 4, subspaces = 4, subDim = 16, pqK = 4, pqIters = 0,
      storeVectors = true)
    val calls = Seq[(String, String, () => Any)](
      ("ivfPqTopK", "rerank >= k", () => Similarity.ivfPqTopK(emb, emb,
        "vec_id", "embedding", k = 5, rerank = 4)),
      ("ivfPqResidualTopK", "rerank >= k", () => Similarity.ivfPqResidualTopK(
        emb, emb, "vec_id", "embedding", k = 5, rerank = 4)),
      ("binaryRerankTopK", "rerank >= k", () => Similarity.binaryRerankTopK(emb,
        emb, "vec_id", "embedding", dim = 64, k = 5, rerank = 4)),
      ("ivfPqIndexBuild", "subspaces out of", () => Similarity.ivfPqIndexBuild(
        emb, "vec_id", "embedding", subspaces = 0)),
      // the cell-pruned serves check before their probed-cell collect
      ("ivfPqSearchPruned", "rerank >= k", () => Similarity.ivfPqSearchPruned(idx,
        emb, emb, "vec_id", "embedding", k = 5, rerank = 4)),
      ("ivfPqSearchStored", "rerank >= k", () => Similarity.ivfPqSearchStored(idx,
        emb, "vec_id", "embedding", k = 5, rerank = 4)))
    for ((name, want, call) <- calls) {
      var msg = ""
      val jobs = jobsRunBy {
        msg = intercept[IllegalArgumentException](call()).getMessage
      }
      assert(msg.contains(want), s"$name: $msg")
      assert(jobs.isEmpty, s"$name ran ${jobs.mkString("; ")}")
    }
  }

  test("lshTopKAuto equals explicit lshTopK at the planesFor-derived sizing") {
    val df = Seq.tabulate(40)(i =>
      (i.toLong, Array(math.cos(i * 0.17).toFloat, math.sin(i * 0.17).toFloat,
        math.cos(i * 0.05).toFloat))).toDF("vec_id", "embedding")
    val qs = df.filter($"vec_id" % 7 === 0)
    val derived = Similarity.planesFor(40L, 8L, probeBits = 1)
    val auto = Similarity.lshTopKAuto(df, qs, "vec_id", "embedding",
      k = 3, probeBits = 1, candidateBudgetPerQuery = 8L)
      .as[(Long, Long, Long)].collect().toSet
    val explicit = Similarity.lshTopK(df, qs, "vec_id", "embedding",
      k = 3, planes = derived, probeBits = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(auto == explicit && auto.nonEmpty)
  }

  test("anisotropyReport: hand-computed pair means, zero-norm drop, one-row shape") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(2.0f, 0.0f)),    // same direction as 0
      (3L, Array(0.0f, 0.0f)),    // zero-norm: dropped
      (4L, Array(1.0f, 0.0f, 0.0f)) // ragged (3-wide): the width rule drops it
    ).toDF("vec_id", "embedding")
    val row = Similarity.anisotropyReport(df, "vec_id", "embedding", dim = 2)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(row.size == 1)
    val (nv, np, mean, meanAbs) = row.head
    assert(nv == 3L && np == 3L)
    // pairs: (0,1)=0, (0,2)=1, (1,2)=0 → mean = 1/3 at 6 dp
    val third = BigDecimal(1.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mean == third && meanAbs == third)

    // anti-parallel pair: mean −1, mean-abs 1 — abs is the second signal
    val anti = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (_, np2, m2, ma2) = Similarity.anisotropyReport(anti, "vec_id", "embedding", dim = 2)
      .as[(Long, Long, Double, Double)].head()
    assert(np2 == 1L && m2 == -1.0 && ma2 == 1.0)
  }

  test("anisotropyReportByGroup: within-group pairs only; single-member group kept with null means") {
    val df = Seq(
      (0L, "a", Array(1.0f, 0.0f)),
      (1L, "a", Array(2.0f, 0.0f)),    // same direction as 0
      (2L, "a", Array(0.0f, 1.0f)),
      (3L, "b", Array(1.0f, 1.0f)),    // alone in b: no pairs
      (4L, "c", Array(0.0f, 0.0f))     // zero-norm: c vanishes entirely
    ).toDF("vec_id", "grp", "embedding")
    val got = Similarity.anisotropyReportByGroup(df, "vec_id", "embedding", "grp", dim = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
      .sortBy(_._1)
    val third = BigDecimal(1.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a: pairs (0,1)=1, (0,2)=0, (1,2)=0 → mean 1/3; cross-group pairs
    // (e.g. 0↔3) never form
    assert(got.toSeq == Seq(
      ("a", 3L, 3L, Some(third), Some(third)),
      ("b", 1L, 0L, None, None)))
  }

  test("signProject: signs reproduce lshBucket at matching offsets; width rule; hand value") {
    // integral vectors keep projections far from the 6-dp rounding edge
    val df = Seq(
      (0L, Array(3.0f, -1.0f, 2.0f, 5.0f, -2.0f, 1.0f, 4.0f, -3.0f)),
      (1L, Array(-2.0f, 4.0f, -1.0f, 3.0f, 2.0f, -5.0f, 1.0f, 2.0f)),
      (2L, Array(1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    for (offset <- Seq(0, 4)) {
      val proj = Similarity.signProject(df, "vec_id", "embedding",
        outDim = 4, dim = 8, planeOffset = offset)
        .select($"vec_id", $"proj").as[(Long, Seq[Double])].collect().toMap
      val buckets = df.select($"vec_id",
        Similarity.lshBucket($"embedding", 4, offset).as("b"))
        .as[(Long, Long)].collect().toMap
      // bucket bit p set ⟺ projection p strictly positive (the Column
      // planeWeight and the Scala twin agree plane by plane)
      for ((id, ps) <- proj) {
        val fromSigns = ps.zipWithIndex
          .collect { case (v, p) if v > 0 => 1L << p }.sum
        assert(fromSigns == buckets(id), s"vec $id offset $offset")
      }
    }
    // hand value: proj_0(vec 2) = round(Σ_j planeWeight(0, j), 6)
    val expected = BigDecimal(
      (0 until 8).map(j => Similarity.planeWeightScala(0, j).toDouble).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p0 = Similarity.signProject(df, "vec_id", "embedding", outDim = 1, dim = 8)
      .filter($"vec_id" === 2).select(element_at($"proj", 1))
      .as[Double].head()
    assert(p0 == expected)

    // value parity with the width-agnostic declarative form: at offset 0
    // the literal-weight kernel reproduces randomProjection bit for bit
    val viaLit = Similarity.signProject(df, "vec_id", "embedding",
      outDim = 4, dim = 8)
      .select($"vec_id", $"proj").as[(Long, Seq[Double])].collect().toMap
    val viaDecl = Similarity.randomProjection(df, "vec_id", "embedding", 4)
      .collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getDouble)))
      .toMap
    assert(viaLit.keySet == viaDecl.keySet)
    for ((id, vs) <- viaLit) assert(vs == viaDecl(id), s"vec $id")

    // ragged and null-element vectors drop under the kmeans width rule
    val ragged = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.signProject(ragged, "vec_id", "embedding",
      outDim = 2, dim = 2).select("vec_id").as[Long].collect().toSeq == Seq(0L))

    intercept[IllegalArgumentException](
      Similarity.signProject(df, "vec_id", "embedding", outDim = 0, dim = 8))
    intercept[IllegalArgumentException](
      Similarity.signProject(df, "vec_id", "embedding", outDim = 2, dim = 0))
    intercept[IllegalArgumentException](
      Similarity.signProject(df, "vec_id", "embedding", outDim = 2, dim = 8,
        planeOffset = -1))
  }
}
