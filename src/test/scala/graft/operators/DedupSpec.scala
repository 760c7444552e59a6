package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (3L, "completely different words entirely here now"),
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("exactGroups collapses identical texts to one group") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 4)
    val dup = g.filter($"n_copies" === 2).select("canonical_id").as[Long].collect()
    assert(dup.toSeq == Seq(0L))
  }

  test("shingles builds distinct word n-grams") {
    val sh = Dedup.shingles(docs.filter($"doc_id" === 4), "doc_id", "text", 2)
    assert(sh.as[(Long, String)].collect().toSet == Set((4L, "short text")))
  }

  test("minhash signatures are identical for identical docs") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val s0 = sigs.filter($"doc_id" === 0).drop("doc_id").collect()(0)
    val s2 = sigs.filter($"doc_id" === 2).drop("doc_id").collect()(0)
    assert(s0 == s2)
  }

  test("lshCandidates surfaces the exact-dup and near-dup pairs, not the unrelated doc") {
    val cands = Dedup.lshCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 2L)))       // identical ⇒ all bands collide
    assert(!cands.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("nearDups verifies candidates with exact Jaccard") {
    val nd = Dedup.nearDups(docs, "doc_id", "text", minJaccard = 0.99)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(nd == Set((0L, 2L)))            // only the exact dup has J = 1.0
    val loose = Dedup.nearDups(docs, "doc_id", "text", minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(loose.contains((0L, 1L)) || !Dedup.lshCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet.contains((0L, 1L)))
    // (0,1) share 7/9 bigrams ⇒ J ≈ 0.78 — included iff LSH banded them
  }

  test("connectedComponents resolves chains, cliques and isolated self-edges") {
    // chain 1-2-3-4 (needs multi-round propagation), pair 10-11, self-loop 20
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    val cc = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(cc == expected)
    // driverMaxEdges = -1 forces the distributed hash-min + pointer-jump
    // loop; both paths must yield the same min-id representatives
    val dist = Dedup.connectedComponents(edges, driverMaxEdges = -1L)
      .as[(Long, Long)].collect().toMap
    assert(dist == expected)
  }

  test("connectedComponents distributed path matches union-find on a random graph") {
    // 400 nodes, sparse random edges incl. a 60-long chain — enough
    // structure to need several pointer-jump rounds
    val rnd = new scala.util.Random(7)
    val chain = (0 until 60).map(i => (1000L + i, 1001L + i))
    val rand = (0 until 300).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    val edges = (chain ++ rand).toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(edges, driverMaxEdges = -1L)
      .as[(Long, Long)].collect().toMap
    assert(dist == fast)
    assert(fast.nonEmpty && fast.forall { case (n, c) => c <= n })
  }

  test("connectedComponents dense-regime pointer squaring matches union-find") {
    // a 3000-node sequential-id chain keeps the frontier dense (every node
    // improves every round — the regime routed to the inner squaring loop,
    // which needs ~log2(3000) compositions to a fixpoint), while the small
    // pairs converge immediately and drive later rounds into the sparse
    // chained-jump branch; both branches must agree with driver union-find
    val chain = (0 until 3000).map(i => (5000L + i, 5001L + i))
    val pairs = (0 until 50).map(i => (i.toLong * 2, i.toLong * 2 + 1))
    val edges = (chain ++ pairs).toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(edges, driverMaxEdges = -1L)
      .as[(Long, Long)].collect().toMap
    assert(dist == fast)
    assert((5000L until 8001L).forall(n => fast(n) == 5000L))
  }

  test("dropDuplicatesAgainst removes exact and near dups of the existing corpus only") {
    val existing = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 100
      (1L, "the quick brown fox jumps over the lazy cat"),  // near dup of 100
      (2L, "unrelated fresh content about other topics"),   // genuinely new
      (3L, "also unrelated fresh content about matters")    // near dup of NOTHING existing
    ).toDF("doc_id", "text")
    val kept = Dedup.dropDuplicatesAgainst(incoming, existing, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(0L))                    // exact dup dropped
    assert(kept.contains(2L) && kept.contains(3L)) // intra-batch near-dups NOT touched
    // doc 1 may survive only if LSH never banded it with 100
    if (!kept.contains(1L)) succeed
    else {
      val cross = Dedup.lshCandidates(incoming.union(existing), "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      assert(!cross.contains((1L, 100L)))
    }
  }

  test("simhashNearDups pigeonhole blocking is lossless vs brute-force cross join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sh = docs.select($"doc_id",
      graft.functions.MinHashKernel.md5SimHash60Col(split($"text", " ")).as("sh"))
    val brute = sh.as("a").crossJoin(sh.as("b")).filter($"a.doc_id" < $"b.doc_id")
      .withColumn("hamming", bit_count($"a.sh".bitwiseXOR($"b.sh")).cast("long"))
      .filter($"hamming" <= 3)
      .select($"a.doc_id", $"b.doc_id", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    val blocked = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty && blocked == brute)
  }

  test("simhashNearDups rejects a maxHamming outside [0, 59] by name") {
    for (bad <- Seq(-1, -2, -60, 60)) {
      val e = intercept[IllegalArgumentException](
        Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = bad))
      assert(e.getMessage.contains("maxHamming"), s"$bad: ${e.getMessage}")
    }
    // the edges of the range stay legal and lossless: one 60-bit chunk,
    // sixty 1-bit ones
    val sh = docs.select($"doc_id",
        graft.functions.MinHashKernel.md5SimHash60Col(split($"text", " ")))
      .as[(Long, Long)].collect()
    for (m <- Seq(0, 59)) {
      val brute = (for ((ia, ha) <- sh; (ib, hb) <- sh if ia < ib;
        d = java.lang.Long.bitCount(ha ^ hb) if d <= m) yield (ia, ib, d.toLong)).toSet
      assert(Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = m)
        .as[(Long, Long, Long)].collect().toSet == brute, s"maxHamming = $m")
    }
  }

  test("lshBands rejects a rowsPerBand that does not divide k") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", k = 8)
    for (bad <- Seq(0, 3, 5, 9, -2)) {
      val e = intercept[IllegalArgumentException](
        Dedup.lshBands(sigs, "doc_id", k = 8, rowsPerBand = bad))
      assert(e.getMessage.contains("rowsPerBand"), s"$bad: ${e.getMessage}")
    }
    // every split bandingPlan offers still bands all k hashes
    for (r <- Seq(1, 2, 4, 8))
      assert(Dedup.lshBands(sigs, "doc_id", k = 8, rowsPerBand = r)
        .select("band_id").distinct().count() == 8 / r)
  }

  test("dedupCorpus keeps one survivor per exact/near-dup cluster") {
    val survivors = Dedup.dedupCorpus(docs, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // doc 1 is a near-dup of 0; any exact dups collapse too; unrelated
    // docs survive untouched — survivor of each cluster is its min id
    assert(survivors.contains(0L) && !survivors.contains(1L))
    val all = docs.select("doc_id").as[Long].collect().toSet
    assert(survivors.toSet.subsetOf(all))
    // idempotent: deduping the deduped corpus changes nothing
    val again = Dedup.dedupCorpus(
      docs.join(survivors.toDF("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again == survivors)
  }

  test("dedupAudit attributes every removal; kept set equals dedupCorpus exactly") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),  // exact copy of 0
      (2L, "the quick brown fox jumps over the lazy cat"),  // near-dup of 0
      (7L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val audit = Dedup.dedupAudit(d, "doc_id", "text", minJaccard = 0.5)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(audit == Seq(
      (0L, "kept", 0L),
      (1L, "dropped_exact", 0L),
      (2L, "dropped_near", 0L),
      (7L, "kept", 7L)))
    // consistency: audit's kept ids == dedupCorpus survivors, always
    val kept = audit.filter(_._2 == "kept").map(_._1).toSet
    val survivors = Dedup.dedupCorpus(d, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == survivors)
    // and on the shared fixture too
    val auditBig = Dedup.dedupAudit(docs, "doc_id", "text", 0.5)
      .as[(Long, String, Long)].collect()
    val keptBig = auditBig.filter(_._2 == "kept").map(_._1).toSet
    val survBig = Dedup.dedupCorpus(docs, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptBig == survBig)
    // every dropped doc names a kept winner that is not itself
    auditBig.filter(_._2 != "kept").foreach { case (id, _, w) =>
      assert(w != id && keptBig.contains(w))
    }
  }

  test("dedupCorpusKeeping keeps the max-rank row per cluster instead of min id") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", 5L),
      (2L, "the quick brown fox jumps over the lazy dog", 9L),  // same text, higher rank
      (7L, "completely different words entirely here now", 1L)
    ).toDF("doc_id", "text", "rank")
    val minId = Dedup.dedupCorpus(d, "doc_id", "text", 0.99)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(0L, 7L))
    val byRank = Dedup.dedupCorpusKeeping(d, "doc_id", "text", 0.99, Some("rank"))
      .select("doc_id").as[Long].collect().toSet
    assert(byRank == Set(2L, 7L))
  }

  test("mega-cluster: exact-first dedup bridges exact and near edges transitively") {
    // 200 byte-identical docs (one mega-cluster) + a NEAR-dup of one of its
    // NON-canonical members + an unrelated doc. Exact-first means only one
    // representative of the identical cluster reaches LSH — the near-dup
    // edge to doc 42's text must still connect through the exact edges
    // (the lossless-ness argument in dedupCorpusKeeping's scaladoc),
    // collapsing all 202 docs into one component with survivor 0.
    val boiler = "the same cookie banner boilerplate text on every single page"
    val cluster = (0L until 200L).map(i => (i, boiler))
    val near = Seq((500L, boiler + " extra")) // near-dup of the cluster text
    val other = Seq((900L, "completely unrelated content words here"))
    val d = (cluster ++ near ++ other).toDF("doc_id", "text")
    val survivors = Dedup.dedupCorpus(d, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(0L, 900L))
    // keep-strategy on the same shape: longest text wins the merged cluster
    val withLen = d.withColumn("n_chars", length($"text").cast("long"))
    val keepLongest = Dedup.dedupCorpusKeeping(withLen, "doc_id", "text",
      minJaccard = 0.5, keepBy = Some("n_chars"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keepLongest == Seq(500L, 900L)) // the near-dup variant is longest
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    // bench doc 10 shares the trigram "the quick brown" with docs 0/1/2;
    // doc 3 is clean; doc 4 has no trigram at all (2 tokens) and must
    // survive — shingle-less docs are never contaminated
    val bench = Seq((10L, "the quick brown owl")).toDF("doc_id", "text")
    val clean = Dedup.decontaminate(docs, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(clean == Seq(3L, 4L))
    // n = 4: no 4-gram of bench appears in the corpus -> nothing dropped
    val clean4 = Dedup.decontaminate(docs, bench, "doc_id", "text", n = 4)
    assert(clean4.count() == docs.count())
  }

  test("decontaminationReport labels per-(doc, suite) hits with distinct-shingle counts") {
    // suiteA shares "the quick brown" + "quick brown fox" with docs 0/1/2
    // (two rows of suiteA carry overlapping text — shingles dedup per
    // suite); suiteB shares nothing with the corpus
    val benches = Seq(
      ("suiteA", "the quick brown fox"),
      ("suiteA", "the quick brown owl"),   // same suite, overlapping shingles
      ("suiteB", "completely disjoint benchmark content today")
    ).toDF("bench_id", "text")
    val rep = Dedup.decontaminationReport(docs, benches, "doc_id", "text", "bench_id", n = 3)
      .orderBy("doc_id", "bench_id")
      .as[(Long, String, Long)].collect().toSeq
    // docs 0/1/2 contain both suiteA trigrams; docs 3/4 are clean; no
    // suiteB rows at all (suite labels never cross-contaminate)
    assert(rep == Seq(
      (0L, "suiteA", 2L), (1L, "suiteA", 2L), (2L, "suiteA", 2L)))
  }

  test("raw lshCandidates fails fast on a mega-cluster bucket; dedupCorpus sails through") {
    // 120 byte-identical docs + 2 distinct ones: every copy lands every
    // band in one bucket, so the raw path's pair expansion is O(120²)
    val boiler = (0L until 120L).map(i => (i, "the same cookie banner on every page here"))
    val corpus = (boiler :+ (200L -> "a completely different document body text")
      :+ (201L -> "another unrelated piece of content entirely")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.lshCandidates(corpus, "doc_id", "text", maxBucketDocs = 50).count()
    }
    assert(e.getMessage.contains("maxBucketDocs = 50") &&
      e.getMessage.contains("dedupCorpus"),
      s"error must diagnose the cap and name the safe entry point: ${e.getMessage.take(200)}")
    // the corpus-dedup entry point anti-joins exact duplicates before
    // banding, so the same corpus succeeds (at most one representative
    // per content ever reaches a bucket): one survivor for the cluster,
    // both distinct docs kept
    val kept = Dedup.dedupCorpus(corpus, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 200L, 201L))
  }

  test("dedupCorpus groups null texts as one cluster, distinct from empty texts") {
    val corpus = Seq(
      (1L, null), (2L, null), (3L, null),     // null-text cluster -> min id 1
      (4L, ""), (5L, ""),                     // empty-text cluster -> min id 4
      (6L, "real content survives untouched")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(corpus, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 6L))
  }

  test("dedupParagraphs keeps first occurrence corpus-wide, reassembles in order") {
    val corpus = Seq(
      (1L, "alpha\n\nbeta\n\ngamma"),       // all first occurrences
      (2L, "beta\n\ndelta\n\nbeta"),        // beta dup (cross-doc AND in-doc)
      (3L, "alpha\n\nbeta"),                // nothing survives -> doc dropped
      (4L, "  \n\nepsilon\n\n\t")           // whitespace-only paras dropped
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(corpus, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "alpha\n\nbeta\n\ngamma", 3L),
      (2L, "delta", 1L),
      (4L, "epsilon", 1L)))
    // position, not id, breaks ties when the same doc holds the first two
    // occurrences: the earlier position survives
    val inDoc = Dedup.dedupParagraphs(
      Seq((7L, "x\n\ny\n\nx")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, String, Long)].head()
    assert(inDoc == ((7L, "x\n\ny", 2L)))
    // custom separator
    val sep = Dedup.dedupParagraphs(
      Seq((1L, "a|b|a"), (2L, "b|c")).toDF("doc_id", "text"), "doc_id", "text", "|")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(sep == Seq((1L, "a|b", 2L), (2L, "c", 1L)))
  }

  test("dedupParagraphsNear collapses near-dup paragraph clusters to the first occurrence") {
    // p1 ~ p1' (one token differs over 9 shingles: J = 8/10 ≥ 0.5);
    // p2 is exactly duplicated; "unique ..." paragraphs survive everywhere
    val p1 = "a b c d e f g h i j"
    val p1v = "a b c d e f g h i CHANGED"
    val p2 = "same exact boilerplate paragraph"
    val corpus = Seq(
      (1L, s"$p1\n\n$p2"),
      (2L, s"$p1v\n\nunique text of doc two"),
      (3L, s"$p2\n\nunique text of doc three")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphsNear(corpus, "doc_id", "text", minJaccard = 0.5)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, s"$p1\n\n$p2", 2L),                  // first occurrences of both clusters
      (2L, "unique text of doc two", 1L),       // near-dup of p1 removed
      (3L, "unique text of doc three", 1L)))    // exact dup of p2 removed
    // non-integral id columns are rejected loudly
    intercept[IllegalArgumentException] {
      Dedup.dedupParagraphsNear(
        corpus.withColumn("doc_id", col("doc_id").cast("string")),
        "doc_id", "text", 0.5)
    }
  }

  test("dedupChunks collapses shared passages on CDC boundaries; exact dups vanish") {
    val shared = (1 to 40).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, s"own one two three $shared"),
      (2L, s"$shared tail four five"),    // shares the 40-token span with doc 1
      (3L, s"own one two three $shared")  // exact dup of doc 1 -> fully collapsed
    ).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(corpus, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // doc 1 survives whole (it is the first occurrence of everything it has)
    assert(byId(1L)._2 == s"own one two three $shared")
    // doc 2 loses the shared span's interior chunks but keeps its own tail:
    // strictly fewer tokens than it started with, and the tail survives
    assert(byId.contains(2L) && byId(2L)._2.endsWith("tail four five"))
    assert(byId(2L)._2.split(" ").length < s"$shared tail four five".split(" ").length)
    // doc 3 is chunk-for-chunk identical to doc 1 -> no surviving chunks
    assert(!byId.contains(3L))
    // deterministic under repartitioning
    val re = Dedup.dedupChunks(corpus.repartition(5), "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(re == out)
  }

  test("dedupParagraphsNear fails loudly on ids >= 2^43 (packed-key overflow)") {
    // a snowflake/hash-scale id would overflow id·2²⁰+pos and silently
    // corrupt first-occurrence survivors; the plan must refuse instead
    val corpus = Seq(
      (1L << 44, "alpha beta gamma\n\ndelta epsilon zeta"),
      (7L, "alpha beta gamma\n\nunrelated text here")
    ).toDF("doc_id", "text")
    val e = intercept[Throwable] {
      Dedup.dedupParagraphsNear(corpus, "doc_id", "text", 0.5).collect()
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("2^43"), s"expected the 2^43 assert, got: $messages")
    // ADVICE r8: abs(Long.MinValue) overflows back to Long.MinValue and
    // would slip through an abs()-based guard — the range check must not
    val minCorpus = Seq(
      (Long.MinValue, "alpha beta gamma\n\ndelta epsilon zeta"),
      (7L, "alpha beta gamma\n\nunrelated text here")
    ).toDF("doc_id", "text")
    val e2 = intercept[Throwable] {
      Dedup.dedupParagraphsNear(minCorpus, "doc_id", "text", 0.5).collect()
    }
    val m2 = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(m2.contains("2^43"), s"expected the 2^43 assert on Long.MinValue, got: $m2")
  }

  test("bloom sketch is NOT clamped past the 4M-item runtime-filter cap (size + measured FPR)") {
    // 4.5M distinct shingles × 20 bits/item = 90M bits — past Spark's
    // silent 64M-bit / 4M-item BloomFilterAggregate clamp. The sized
    // sketch must come back at full width with working FPR, and the
    // session confs must be restored afterwards.
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsBefore = spark.conf.get(itemsKey)
    val bitsBefore = spark.conf.get(bitsKey)
    val nItems = 4500000L
    val shingles = spark.range(nItems).select(concat(lit("shingle_"), col("id")).as("shingle"))
    val bits = Dedup.shingleBloomBits(shingles, bitsPerItem = 20)
    assert(bits.length.toLong * 8 > 67108864L,
      s"sketch is ${bits.length * 8L} bits — clamped to the 64M default cap")
    assert(spark.conf.get(itemsKey) == itemsBefore && spark.conf.get(bitsKey) == bitsBefore,
      "runtime-filter confs were not restored")
    // measured FPR on 100k probes disjoint from the inserted set: at
    // 20 bits/item the theoretical FPR is ~7e-5; a clamped 64M-bit sketch
    // would sit near 2% (overloaded). Assert an order below the clamp.
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val nProbes = 100000L
    val probes = spark.range(nItems, nItems + nProbes)
      .select(concat(lit("shingle_"), col("id")).as("shingle"))
    val mightContain = column(new BloomFilterMightContain(
      expression(lit(bits)), expression(xxhash64(col("shingle")))))
    val fp = probes.filter(mightContain).count()
    assert(fp < nProbes / 500,
      s"$fp false positives in $nProbes probes — sketch FPR degraded (clamp back?)")
  }

  test("removeDuplicatedSpans cuts shared passages everywhere but the canonical doc") {
    val corpus = Seq(
      // docs 1 and 2 share the 3-gram "q r s"; doc 1 (min id) keeps it
      (1L, "a b c q r s d e"),
      (2L, "x y q r s z w v"),
      (3L, "p q r t u v w x"),     // no duplicated 3-gram — untouched
      (4L, "x y q r s z w v"),     // exact dup of 2 -> fully covered, empty
      (5L, "m n")                  // shorter than n — no grams, untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c q r s d e", 0L),  // canonical home of "q r s": keeps it
      (2L, "x y z w v", 3L),        // loses "q r s" (canon 1), keeps own grams
      (3L, "p q r t u v w x", 0L),
      (4L, "", 8L),                 // exact dup of 2: every gram canon elsewhere
      (5L, "m n", 0L)))
  }

  test("boilerplateReport counts corpus-duplicated paragraphs per doc (incl. in-doc repeats)") {
    val corpus = Seq(
      (1L, "unique one\n\nshared banner"),
      (2L, "unique two\n\nshared banner\n\nunique three"),
      (3L, "solo\n\nsolo"),          // in-doc repeat IS duplication
      (4L, "  \n\nonly this")        // blank paragraph dropped
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateReport(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 3L, 1L, 1.0 / 3.0),
      (3L, 2L, 2L, 1.0),
      (4L, 1L, 0L, 0.0)))
  }

  test("containmentPairs scores an embedded short doc 1.0 and flags it as contained") {
    // doc 11 is literally doc 10's text embedded in a longer doc:
    // Jaccard(10, 11) = |A|/|B| < 1, but containment = 1.0.
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (12L, "phi chi psi omega one two three four five six")
    ).toDF("doc_id", "text")
    // rowsPerBand = 1 maximizes banding recall (the knob the scaladoc
    // prescribes for extreme-ratio containments — Jaccard(10, 11) is only
    // ~0.26, so the default 2-row bands can legitimately miss the pair)
    val out = Dedup.containmentPairs(corpus, "doc_id", "text",
      minContainment = 0.9, rowsPerBand = 1)
      .select("doc_a", "doc_b", "containment", "contained")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(out == Seq((10L, 11L, 1.0, 10L)))
    // the symmetric Jaccard formulation scores the same pair well below 1
    val jac = Dedup.nearDups(corpus, "doc_id", "text", minJaccard = 0.0,
      rowsPerBand = 1)
      .filter($"doc_a" === 10L && $"doc_b" === 11L)
      .select("jaccard").as[Double].collect()
    assert(jac.forall(_ < 0.5))
    // below-threshold pairs are dropped
    val none = Dedup.containmentPairs(corpus, "doc_id", "text",
      minContainment = 1.01, rowsPerBand = 1)
    assert(none.count() == 0)
  }

  test("duplicationProfile: per-stratum doc/unique counts and exact dup fraction") {
    val df = Seq(
      ("a", "t1"), ("a", "t1"), ("a", "t2"), ("a", "t3"), // 4 docs, 3 unique
      ("b", "t4"), ("b", "t5")                            // no dups
    ).toDF("source", "text")
    val out = Dedup.duplicationProfile(df, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("a", 4L, 3L, 0.25), ("b", 2L, 2L, 0.0)))
  }

  test("strataOverlap counts distinct shared texts once per unordered pair") {
    val df = Seq(
      ("a", "shared1"), ("a", "shared1"), // in-stratum dup counts ONCE
      ("a", "shared2"), ("a", "onlyA"),
      ("b", "shared1"), ("b", "shared2"), ("b", "onlyB"),
      ("c", "shared1")
    ).toDF("source", "text")
    val out = Dedup.strataOverlap(df, "source", "text")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)))
  }

  test("noveltyReport: corpus-unique shingle fractions, exact division") {
    val df = Seq(
      (1L, "a b c d"),   // trigrams: "a b c", "b c d"
      (2L, "a b c e"),   // shares "a b c" with doc 1
      (3L, "x y z w")    // fully novel
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyReport(df, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 0.5),   // "b c d" unique, "a b c" shared
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 2L, 1.0)))
  }

  test("dupFamilyHistogram buckets exact-duplicate family sizes") {
    val df = Seq("t1", "t1", "t1", "t2", "t2", "t3", "t4")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = Dedup.dupFamilyHistogram(df, "text")
      .orderBy("family_size")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("jaccardJoinExact equals the brute-force all-pairs join (perfect recall)") {
    // real corpus + prepended-token copies: enough natural similarity and
    // guaranteed high-Jaccard pairs to exercise both sides of the gate
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val corpus = real.unionByName(
      real.filter($"doc_id" % 4 === 0)
        .select(($"doc_id" + 5000L).as("doc_id"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("xx "), $"text").as("text")))
    val p = 600
    val got = Dedup.jaccardJoinExact(corpus, "doc_id", "text", p)
      .select("doc_a", "doc_b", "n_inter").as[(Long, Long, Long)]
      .collect().toSet

    // driver-side brute force over the same word-bigram shingle sets
    val sets = corpus.as[(Long, String)].collect().map { case (id, t) =>
      val w = t.split(" ")
      id -> w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val expect = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      if inter * 1000 >= p * (sa.size + sb.size - inter)
    } yield (a, b, inter.toLong)).toSet
    assert(got == expect, s"got ${got.size} pairs, brute force ${expect.size}")
    assert(got.nonEmpty, "fixture must produce at least the synthetic pairs")
    intercept[IllegalArgumentException](
      Dedup.jaccardJoinExact(corpus, "doc_id", "text", 0))
  }

  test("crossSourceOverlap counts verified pairs per canonical source cell") {
    // sources over the shared fixture: pairs (0,1) s1↔s2, (0,2) s1↔s2,
    // (1,2) s2↔s2 — doc 2 is byte-identical to 0, so it pairs with 1 the
    // same way 0 does; docs 3/4 are unrelated and must not appear
    val srcd = docs.withColumn("source",
      when(col("doc_id").isin(0L, 3L), "s1").otherwise("s2"))
    val got = Dedup.crossSourceOverlap(srcd, "doc_id", "text", "source",
      minJaccard = 0.3)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("s1", "s2", 2L), ("s2", "s2", 1L)))
  }

  test("clusterSizeHistogram reports component sizes plus the singleton row") {
    // fixture: {0,1,2} is one 3-cluster (exact 0~2, near 0~1); docs 3/4
    // unclustered → sz=1 row of 2
    val got = Dedup.clusterSizeHistogram(docs, "doc_id", "text", minJaccard = 0.1)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 1L), (1L, 2L)))
  }

  test("exact-first expansion counts identical-copy clusters without banding them") {
    // 30 byte-identical copies across two sources (18 s1 + 12 s2) plus
    // one near-dup in s2: LSH must band ONE representative, yet the
    // matrix and the sweep must count every member pair exactly
    val copies = (0 until 30).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog",
        if (i < 18) "s1" else "s2"))
    val corpus = (copies :+
      ((99L, "the quick brown fox jumps over the lazy cat", "s2")))
      .toDF("doc_id", "text", "source")
    val cells = Dedup.crossSourceOverlap(corpus, "doc_id", "text", "source",
      minJaccard = 0.3)
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // within-cluster: C(18,2)=153 (s1,s1), C(12,2)=66 (s2,s2), 18·12=216 (s1,s2)
    // near-dup 99 pairs with all 30 copies: 18 → (s1,s2), 12 → (s2,s2)
    assert(cells == Map(("s1", "s1") -> 153L, ("s2", "s2") -> (66L + 12L),
      ("s1", "s2") -> (216L + 18L)))
    val sweep = Dedup.thresholdSweep(corpus.select("doc_id", "text"),
      "doc_id", "text", floor = 0.05, bins = 20)
      .as[(Int, Double, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // top bin: C(30,2)=435 identical pairs; near pair j=7/9≈0.78 → bin 15
    // expanded ×30 (once per copy)
    assert(sweep(19) == 435L)
    assert(sweep(15) == 30L)
  }

  test("thresholdSweep bins and cumulative counts match a driver-side fold of the verified pairs") {
    val docsT = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val sweep = Dedup.thresholdSweep(docsT, "doc_id", "text", floor = 0.05, bins = 20)
      .as[(Int, Double, Long, Long)].collect().sortBy(_._1)
    assert(sweep.nonEmpty, "fixture corpus must surface verified pairs at floor 0.05")
    // reference: the same verified pairs, binned and cumulated driver-side
    val pairs = Dedup.nearDups(docsT, "doc_id", "text", 0.05)
      .select("n_inter", "sz_a", "sz_b").as[(Long, Long, Long)].collect()
    val expBins = pairs.groupBy { case (ni, sa, sb) =>
        math.min(20L * ni / (sa + sb - ni), 19L).toInt }
      .view.mapValues(_.length.toLong).toMap
    assert(sweep.map(r => r._1 -> r._3).toMap == expBins)
    sweep.foreach { case (bin, lo, _, cum) =>
      assert(cum == expBins.filter(_._1 >= bin).values.sum, s"cum at bin $bin")
      assert(math.abs(lo - bin / 20.0) < 1e-9)
    }
    intercept[IllegalArgumentException](
      Dedup.thresholdSweep(docsT, "doc_id", "text", floor = 0.05, bins = 0))
  }

  test("clusterSafeSplit co-locates near-dup clusters; singletons get the plain hash split") {
    val out = Dedup.clusterSafeSplit(docs, "doc_id", "text",
      minJaccard = 0.1, testPermille = 300, salt = "s")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.size == 5)
    // the plain per-id hash labels each doc would get with no clustering
    val plain = docs.select(col("doc_id"),
        when(Sampling.hashBucket(col("doc_id"), "s") < 300, lit("test"))
          .otherwise(lit("train")).as("e"))
      .as[(Long, String)].collect().toMap
    // {0,1,2} is ONE cluster (exact 0~2, verified near 0~1): every member
    // gets the representative's (doc 0's) fate — including the near-copy
    // doc 1, the row exact-only splitting would hash independently
    assert(Set(out(0L), out(1L), out(2L)) == Set(plain(0L)))
    // docs in no cluster degrade to the plain per-id split
    assert(out(3L) == plain(3L) && out(4L) == plain(4L))
    intercept[IllegalArgumentException](
      Dedup.clusterSafeSplit(docs, "doc_id", "text", 0.1, 1500))
  }

  test("bandingPlan matches a driver-side reference and flags exactly one minimum-score split") {
    val got = Dedup.bandingPlan(spark, threshold = 0.5, k = 8)
      .as[(Int, Int, Double, Double, Double, Boolean)].collect()
      .sortBy(_._2)
    assert(got.map(r => (r._1, r._2)).toSeq ==
      Seq((8, 1), (4, 2), (2, 4), (1, 8)), "every (bands, rows) split of k = 8")
    // driver reference: the same 9-dp curve points and decimal Riemann sums
    def r(x: Double, dp: Int) =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
    val ref = got.map { case (b, rr, _, _, _, _) =>
      var fp = BigDecimal(0); var fn = BigDecimal(0)
      for (i <- 0 until 100) {
        val s = (i + 0.5) / 100
        val p = r(1.0 - math.pow(1.0 - math.pow(s, rr), b), 9)
        if (s < 0.5) fp += p else fn += (BigDecimal(1) - p)
      }
      ((b, rr), (r(fp.toDouble / 100, 6).toDouble, r(fn.toDouble / 100, 6).toDouble))
    }.toMap
    got.foreach { case (b, rr, fp, fn, score, _) =>
      assert((fp, fn) == ref((b, rr)), s"masses for ($b, $rr)")
      assert(score == r(0.5 * fp + 0.5 * fn, 6).toDouble)
      assert(fp >= 0 && fn >= 0 && fp <= 1 && fn <= 1)
    }
    // exactly one chosen row, and it carries the minimum score
    val chosen = got.filter(_._6)
    assert(chosen.length == 1 && chosen.head._5 == got.map(_._5).min)
    intercept[IllegalArgumentException](Dedup.bandingPlan(spark, 1.5))
    intercept[IllegalArgumentException](
      Dedup.bandingPlan(spark, 0.5, fpWeight = 0.0, fnWeight = 0.0))
  }
}
