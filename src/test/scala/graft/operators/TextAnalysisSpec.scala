package graft.operators

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "der hund und die katze"),
    (2L, "xyzzy plugh")
  ).toDF("doc_id", "text")

  test("textStats counts tokens, chars, stopwords") {
    val s = TextAnalysis.textStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r0 = s(0)
    assert(r0.getAs[Long]("n_chars") == 22L)
    assert(r0.getAs[Long]("n_tokens") == 6L)
    assert(r0.getAs[Long]("n_stopwords") == 2L)   // "the" ×2
    assert(math.abs(r0.getAs[Double]("stopword_ratio") - 2.0 / 6.0) < 1e-15)
  }

  test("langId picks the max-scoring language with deterministic ties") {
    val out = TextAnalysis.langId(docs, "doc_id", "text")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out(0L) == "en")
    assert(out(1L) == "de")   // der/und/die = 3 German markers
    assert(out(2L) == "und")  // no markers at all
  }

  test("fingerprint is stable for identical docs and differs across docs") {
    val two = Seq((0L, "a b c d e"), (1L, "a b c d e"), (2L, "v w x y z"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(two, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(fps(0L) == fps(1L))
    assert(fps(0L) != fps(2L))
  }

  test("scrub redacts emails, urls and phone numbers; counts removed chars") {
    val d = Seq(
      (1L, "mail me at bob@example.com or visit https://x.io/page now"),
      (2L, "call 555-123-4567 twice: 555-123-4567"),
      (3L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrub(d, "doc_id", "text")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out(0)._2 == "mail me at <EMAIL> or visit <URL> now")
    assert(out(1)._2 == "call <PHONE> twice: <PHONE>")
    assert(out(2)._2 == "nothing sensitive here" && out(2)._3 == 0L)
    assert(out(0)._3 > 0L)
  }

  test("tokenCorpusStats counts total and per-doc frequencies") {
    val three = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c"))
      .toDF("doc_id", "text")
    val st = TextAnalysis.tokenCorpusStats(three, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(st == Map("a" -> (3L, 2L), "b" -> (1L, 1L), "c" -> (3L, 2L)))
  }

  test("vocabSize HLL estimate tracks the exact count") {
    val v = TextAnalysis.vocabSize(docs, "text")
      .as[(Long, Long)].collect().head
    val (exact, approx) = v
    assert(exact > 0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("chunkDocuments covers every token with stride overlap and a ragged tail") {
    val d = Seq((1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 tokens
                (2L, "a b c")).toDF("doc_id", "text")           // shorter than one chunk
    val out = TextAnalysis.chunkDocuments(d, "doc_id", "text", chunkTokens = 8, strideTokens = 4)
      .as[(Long, Long, String, Long)].collect().sortBy(c => (c._1, c._2)).toSeq
    val doc1 = out.filter(_._1 == 1L)
    // starts 0,4,8,12: last window t13..t20 — every token covered, 4-token overlap
    assert(doc1.map(_._2) == Seq(0L, 1L, 2L, 3L))
    assert(doc1.head._3 == (1 to 8).map(i => s"t$i").mkString(" "))
    assert(doc1.last._3 == (13 to 20).map(i => s"t$i").mkString(" "))
    assert(doc1.forall(_._4 == 8L))
    // short doc: exactly one (ragged) chunk
    assert(out.filter(_._1 == 2L) == Seq((2L, 0L, "a b c", 3L)))
    // null text is dropped, never a (null, -1) chunk row
    val withNull = Seq((1L, Some("a b")), (2L, None)).toDF("doc_id", "text")
    assert(TextAnalysis.chunkDocuments(withNull, "doc_id", "text", 8, 4)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("unigramLogLikelihood scores common-token docs above rare-token docs") {
    val corpus = Seq(
      (1L, "the the the the"),   // only the corpus's most common token
      (2L, "the the the rare"),  // one rare token
      (3L, "the zzz qqq xxx")    // mostly singletons
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogLikelihood(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._2) == Seq(4L, 4L, 4L)) // n_tokens
    val score = out.map(t => t._1 -> t._3).toMap
    // total 12 tokens, "the" appears 8x: doc 1 avg = ln(8/12)
    assert(math.abs(score(1L) - math.round(math.log(8.0 / 12) * 1e6) / 1e6) < 1e-9)
    assert(score(1L) > score(2L) && score(2L) > score(3L))
  }

  test("dedupLines keeps first occurrence in order, within each doc only") {
    val docs = Seq(
      (1L, "menu\ncontent one\nmenu\nfooter\nfooter"),
      (2L, "menu\nother content"),         // cross-doc repeats untouched
      (3L, "a|b|a")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, "menu\ncontent one\nfooter"),
      (2L, "menu\nother content"),
      (3L, "a|b|a")))
    val sep = TextAnalysis.dedupLines(docs.filter($"doc_id" === 3), "doc_id", "text", "|")
      .as[(Long, String)].head()
    assert(sep == ((3L, "a|b")))
  }

  test("qualityClassify: hand-computed sigmoid, and real text gates above garbage") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "#### $$$$ %%%% &&&& ####")   // no alphabetic word -> gated
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityClassify(docs, "doc_id", "text")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    // doc 1 by hand: 12 words, 48 letters, all alphabetic, 10/12 unique,
    // max len 5
    val z = -2.2 + 0.8 * (12.0 / 100) + 0.15 * (48.0 / 12) + 2.0 * 1.0 +
      1.5 * (10.0 / 12) - 0.3 * (5.0 / 20)
    val expected = math.round(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6.toDouble
    assert(out.head._2 == expected && out.head._3 == (expected > 0.5))
    // garbage: zero alphabetic words -> below the 0.5 gate
    assert(out(1)._2 < out.head._2 && !out(1)._3)
    // the in-place gate keeps exactly the classify-then-join kept set
    // (one shared score expression — the two cannot disagree)
    val gated = TextAnalysis.qualityGate(docs, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(gated == out.filter(_._3).map(_._1).toSet && gated == Set(1L))
  }

  test("bigramLogLikelihood: bigram hits, stupid backoff, and OOV floor, by hand") {
    // reference = doc 0 only: tokens a,b,a,c; bigrams (a,b),(b,a),(a,c);
    // vocab a:2 b:1 c:1, total 4
    val corpus = Seq((0L, "a b a c"), (1L, "a b d")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogLikelihood(corpus,
      corpus.filter($"doc_id" === 0), "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    def r6(x: Double) = math.round(x * 1e6) / 1e6.toDouble
    // doc 0 self-scores: ln(2/4) + ln(bcnt(a,b)/cnt(a)=1/2) + ln(1/1) + ln(1/2)
    val d0 = r6((r6(math.log(0.5)) * 3 + r6(math.log(1.0))) / 4)
    // doc 1: first ln(2/4); (a,b) seen ln(1/2); (b,d) UNSEEN, d OOV:
    // ln(0.4 * (0.4/4))
    val d1 = r6((r6(math.log(0.5)) * 2 + r6(math.log(0.4 * 0.1))) / 3)
    assert(out == Seq((0L, 4L, d0), (1L, 3L, d1)))
    // backoff must be a penalty: the unseen-bigram doc scores lower
    assert(out(1)._3 < out(0)._3)
  }

  test("repetitionSignals flags repeated bigrams") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),   // "spam spam" x4 of 4 grams
      (2L, "all words here are unique"),  // every bigram once
      (3L, "one")                         // <2 tokens -> dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out(0) == ((1L, 4L, 4L, 1.0)))
    assert(out(1) == ((2L, 4L, 1L, 0.25)))
  }

  test("tfidfKeywords ranks corpus-distinctive terms above ubiquitous ones") {
    val corpus = Seq(
      (0L, "shared shared rare0 rare0 rare0"),
      (1L, "shared rare1"),
      (2L, "shared rare0"),
      (3L, "shared noise")
    ).toDF("doc_id", "text")
    // minDf = 1 keeps every term; N = 4
    val out = TextAnalysis.tfidfKeywords(corpus, "doc_id", "text", k = 2)
      .select("doc_id", "rn", "token", "tf", "df")
      .as[(Long, Long, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // doc 0: rare0 (tf=3, df=2 -> 3·ln2) beats shared (tf=2, df=4 -> 0)
    assert(out(0L) == Seq("rare0", "shared"))
    // doc 1: rare1 df=1 -> ln4 beats shared's 0; ubiquitous term ranks last
    assert(out(1L) == Seq("rare1", "shared"))
    // shared appears in ALL docs -> idf = ln(1) = 0 everywhere
    val shared = TextAnalysis.tfidfKeywords(corpus, "doc_id", "text", k = 2)
      .filter($"token" === "shared").select("score").as[Double].collect()
    assert(shared.nonEmpty && shared.forall(_ == 0.0))
  }

  test("tfidfKeywords minDf prunes hapax terms from the vocabulary") {
    val corpus = Seq(
      (0L, "common hapax0"),
      (1L, "common hapax1")
    ).toDF("doc_id", "text")
    val toks = TextAnalysis.tfidfKeywords(corpus, "doc_id", "text", k = 5, minDf = 2)
      .select("token").as[String].collect().toSet
    assert(toks == Set("common"))
  }

  test("bm25Rank: more query terms and rarer terms rank higher; misses rank nowhere") {
    val corpus = Seq(
      (0L, "spark shuffle join"),          // both query terms, rare 'shuffle'
      (1L, "spark join join join spark"),  // only common terms, high tf
      (2L, "spark other words here"),      // one common term
      (3L, "nothing relevant at all")      // no query terms -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(corpus, "doc_id", "text",
      queryTerms = Seq("shuffle", "join"), k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(0L, 1L))          // doc 3 and 2 match nothing
    assert(out.head._2 == 2L && out(1)._2 == 1L)  // term-coverage counts
    assert(out.head._3 > out(1)._3)               // rare 'shuffle' dominates tf
  }

  test("bm25Rank saturates with tf (k1 bound): tf=100 scores < (k1+1) x idf") {
    val corpus = Seq(
      (0L, Seq.fill(100)("join").mkString(" ")),
      (1L, "join x"),
      (2L, "x y")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(corpus, "doc_id", "text", Seq("join"), k = 10)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6); saturation bound (k1+1)*idf
    val bound = 2.2 * math.log(1.6)
    assert(out(0L) < bound && out(0L) > out(1L))
  }

  test("corpusProfile buckets by clamped length, counts docs/tokens, shares sum to 1") {
    val corpus = Seq(
      (0L, "en", "a b"),                          // 3 chars  -> bucket 0
      (1L, "en", "x" * 120),                      // 120 chars -> bucket 2
      (2L, "de", ("y " * 400).trim),              // 799 chars -> clamped to 9
      (3L, "en", "c d e")                         // 5 chars  -> bucket 0
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.corpusProfile(corpus, "text", "lang")
      .orderBy("lang", "len_bucket")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("de", 9L, 1L, 400L, 0.25),
      ("en", 0L, 2L, 5L, 0.5),     // 2 docs, 2+3 tokens
      ("en", 2L, 1L, 1L, 0.25)))
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-15)
  }

  test("corpusProfile excludes null-text docs (ADVICE r8: least() null semantics)") {
    // length(NULL) is NULL and least(NULL, 9) skips nulls in Spark but has
    // version-dependent semantics in other engines — null docs must never
    // reach the bucket expression at all
    val corpus = Seq(
      (0L, "en", "a b"),
      (1L, "en", null.asInstanceOf[String]),
      (2L, "de", "x y z")
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.corpusProfile(corpus, "text", "lang")
      .orderBy("lang", "len_bucket")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // the null doc is absent everywhere: counts AND the share denominator
    assert(out == Seq(("de", 0L, 1L, 3L, 0.5), ("en", 0L, 1L, 2L, 0.5)))
  }

  test("contentDefinedChunks: lossless reassembly, edit-stable boundaries, short docs intact") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val corpus = Seq((0L, base), (1L, "a b"), (2L, "one two three")).toDF("doc_id", "text")
    val out = TextAnalysis.contentDefinedChunks(corpus, "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, String, Long)].collect().toSeq
    // chunks concatenate back to the exact document, indices are dense
    for ((id, text) <- Seq(0L -> base, 1L -> "a b", 2L -> "one two three")) {
      val chunks = out.filter(_._1 == id)
      assert(chunks.map(_._2) == (0L until chunks.length))
      assert(chunks.map(_._3).mkString(" ") == text)
      assert(chunks.map(_._4).sum == text.split(" ").length)
    }
    // docs shorter than n tokens are one whole chunk
    assert(out.count(_._1 == 1L) == 1)
    // 60 tokens at ~8/chunk must actually cut somewhere
    val doc0 = out.filter(_._1 == 0L)
    assert(doc0.length > 1, "expected at least one content-defined boundary")
    // THE CDC property: prepend a token and every chunk after the first
    // boundary survives byte-identical (fixed-size chunking re-frames all)
    val edited = Seq((0L, "INSERTED " + base)).toDF("doc_id", "text")
    val editedChunks = TextAnalysis.contentDefinedChunks(edited, "doc_id", "text")
      .orderBy("chunk_idx").as[(Long, Long, String, Long)].collect().map(_._3)
    val shared = doc0.map(_._3).drop(1).toSet & editedChunks.drop(1).toSet
    assert(shared.nonEmpty == doc0.drop(1).nonEmpty && shared == doc0.map(_._3).drop(1).toSet,
      "chunks after the first boundary must be stable under a prefix edit")
    // the non-portable xxhash64 fast path keeps every CDC property
    // (lossless reassembly, dense indices); only boundary positions move
    val fast = TextAnalysis.contentDefinedChunks(corpus, "doc_id", "text", portable = false)
      .orderBy("doc_id", "chunk_idx").as[(Long, Long, String, Long)].collect().toSeq
    for ((id, text) <- Seq(0L -> base, 1L -> "a b", 2L -> "one two three")) {
      val chunks = fast.filter(_._1 == id)
      assert(chunks.map(_._2) == (0L until chunks.length))
      assert(chunks.map(_._3).mkString(" ") == text)
    }
  }

  test("sourceReport counts exact duplicates per source") {
    val corpus = Seq(
      (0L, "feedA", "same text"),
      (1L, "feedA", "same text"),
      (2L, "feedA", "other text"),
      (3L, "feedB", "unique here")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceReport(corpus, "doc_id", "text", "source")
      .orderBy("source").as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("feedA", 3L, 2L, 28L, 1.0 / 3.0),
      ("feedB", 1L, 1L, 11L, 0.0)))
  }

  test("piiSignals counts emails, phones and IPv4s per document") {
    val corpus = Seq(
      (0L, "write to alice.smith+x@mail.example.org or bob@ex.co today"),
      (1L, "call 555-123-4567 or 555.987.6543 from 10.0.0.1"),
      (2L, "no pii here at all"),
      (3L, "v4 addr 192.168.001.254 but 1.2.3 is not one and 555-12-3456 is not a phone")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiSignals(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Int)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 0L, 0L, 2L, 1),
      (1L, 0L, 2L, 1L, 3L, 1),
      (2L, 0L, 0L, 0L, 0L, 0),
      (3L, 0L, 0L, 1L, 1L, 1)))
  }

  test("urlHost and registeredDomain parse scheme://host and fold subdomains") {
    val rows = Seq(
      (0L, "https://cdn.images.example.com/a/b?q=1"),
      (1L, "http://example.org"),
      (2L, "ftp://files.mirror.net/pub"),
      (3L, "localhost"),             // no scheme: not URL-shaped
      (4L, "https://intranet/page")  // single-label host: domain = host
    ).toDF("doc_id", "url")
    val out = rows.select($"doc_id",
      TextAnalysis.urlHost($"url").as("host"))
      .withColumn("domain", TextAnalysis.registeredDomain($"host"))
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (0L, "cdn.images.example.com", "example.com"),
      (1L, "example.org", "example.org"),
      (2L, "files.mirror.net", "mirror.net"),
      (3L, "", ""),
      (4L, "intranet", "intranet")))
  }

  test("dropBlockedDomains anti-joins on the registered domain, keeping the rest") {
    val rows = Seq(
      (0L, "https://a.bad.com/x"),
      (1L, "https://good.com/y"),
      (2L, "https://www.bad.com/z"),
      (3L, "https://bad.com.good.net/w")  // domain com.good.net? no: good.net — kept
    ).toDF("doc_id", "url")
    val kept = TextAnalysis.dropBlockedDomains(rows, "url",
      Seq("bad.com").toDF("domain"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("collocations scores adjacent pairs by PMI with exact hand-computed values") {
    // one doc "a b a b a b": N = 6, c(a) = c(b) = 3; bigrams (a,b)x3,
    // (b,a)x2 → pmi(a,b) = ln(3·6/9) = ln 2, pmi(b,a) = ln(2·6/9) = ln(4/3)
    val corpus = Seq((0L, "a b a b a b")).toDF("doc_id", "text")
    val out = TextAnalysis.collocations(corpus, "text", minCount = 2, topK = 10)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("a b", 3L, 3L, 3L, 0.693147),
      ("b a", 2L, 3L, 3L, 0.287682)))
    // the count floor prunes rare pairs
    val floored = TextAnalysis.collocations(corpus, "text", minCount = 3, topK = 10)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(floored.map(_._1) == Seq("a b"))
    // topK caps the output after the PMI ordering
    assert(TextAnalysis.collocations(corpus, "text", minCount = 1, topK = 1)
      .as[(String, Long, Long, Long, Double)].collect().map(_._1).toSeq == Seq("a b"))
  }

  test("sliceDivergence: hand-computed coverage KL per slice vs the corpus") {
    // A: "x x y", B: "x z" → corpus x=3 y=1 z=1, N_all=5, V=3
    // KL_A = (1/3)[2·ln(2·8/(3·4)) + ln(8/(3·2))] = ln(4/3) ≈ 0.287682
    // KL_B = (1/2)[ln(8/(2·4)) + ln(8/(2·2))] = ln(2)/2 ≈ 0.346574
    val corpus = Seq(
      (0L, "A", "x x y"),
      (1L, "B", "x z")
    ).toDF("doc_id", "src", "text")
    val out = TextAnalysis.sliceDivergence(corpus, "text", "src")
      .orderBy("src")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("A", 3L, 0.287682),
      ("B", 2L, 0.346574)))
  }

  test("zipfFit recovers slope -1 and r2 1 on an exact power-law corpus") {
    // counts 60/30/20/15/12/10 = 60/rank: ln(cnt) = ln 60 - 1 * ln(rank),
    // perfectly collinear, so the fit is slope -1, r2 1 to 6 dp exactly.
    val text = Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      Seq.fill(15)("d") ++ Seq.fill(12)("e") ++ Seq.fill(10)("f")
    val corpus = Seq((0L, text.mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.zipfFit(corpus, "text", topN = 200)
      .as[(Double, Double, Double, Long)].collect().head
    assert(out._1 == -1.0)
    assert(math.abs(out._2 - 4.094345) < 1e-9) // ln(60) to 6 dp
    assert(out._3 == 1.0)
    assert(out._4 == 6L)
    // topN cuts the tail deterministically
    val cut = TextAnalysis.zipfFit(corpus, "text", topN = 3)
      .as[(Double, Double, Double, Long)].collect().head
    assert(cut._4 == 3L)
    intercept[IllegalArgumentException](TextAnalysis.zipfFit(corpus, "text", topN = 1))
  }

  test("charPairStats counts adjacent in-word pairs; ties break on pair asc") {
    val df = Seq((1L, "abab ab x"), (2L, "abba")).toDF("doc_id", "text")
    // pairs: "abab"→ab,ba,ab; "ab"→ab; "x"→(none, len<2); "abba"→ab,bb,ba
    val out = TextAnalysis.charPairStats(df, "text", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("ab", 4L), ("ba", 2L), ("bb", 1L)))
    // k cuts deterministically
    assert(TextAnalysis.charPairStats(df, "text", k = 2)
      .as[(String, Long)].collect().toSeq == Seq(("ab", 4L), ("ba", 2L)))
    intercept[IllegalArgumentException](TextAnalysis.charPairStats(df, "text", 0))
  }

  test("classTerms surfaces class-characteristic terms over shared filler") {
    // 'spark' is unique to class A, 'flink' to class B; 'the' floods both.
    val df = Seq(
      ("A", "the the spark spark spark the"),
      ("A", "the spark the"),
      ("B", "the flink the flink the"),
      ("B", "the the flink")
    ).toDF("source", "text")
    val out = TextAnalysis.classTerms(df, "source", "text", k = 2)
      .orderBy("source", "rn")
      .as[(String, String, Long, Double, Long)].collect().toSeq
    // rank 1 in each class is the class-unique term, not the filler
    assert(out.filter(_._5 == 1L).map(r => (r._1, r._2)) == Seq(("A", "spark"), ("B", "flink")))
    // score arithmetic: tf * ln(1 + avgClassTokens / globalF), 6 dp
    val nTok = 6 + 3 + 5 + 3 // 17
    val avg = nTok.toDouble / 2
    def score(tf: Long, f: Long): Double =
      BigDecimal(tf.toDouble * math.log(1.0 + avg / f))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sparkRow = out.find(_._2 == "spark").get
    assert(sparkRow._3 == 4L && sparkRow._4 == score(4, 4))
    val theA = out.find(r => r._1 == "A" && r._2 == "the").get
    assert(theA._3 == 5L && theA._4 == score(5, 10))
    intercept[IllegalArgumentException](TextAnalysis.classTerms(df, "source", "text", 0))
  }

  test("chiSquareTerms ranks class-exclusive tokens by the hand-computed statistic") {
    // corpus: A = "spark spark fill", B = "flink fill fill" → N = 6,
    // classes 3 tokens each. For (A, spark): a=2, f=2, ct=3 →
    // ad−bc = 2·(6−2−3+2)−0·1 = 6; χ² = 6·36/(2·4·3·3) = 3.0
    val df = Seq(("A", "spark spark fill"), ("B", "flink fill fill"))
      .toDF("source", "text")
    val out = TextAnalysis.chiSquareTerms(df, "source", "text", k = 3)
      .orderBy("source", "rn")
      .as[(String, String, Long, Double, Long)].collect().toSeq
    val aSpark = out.find(r => r._1 == "A" && r._2 == "spark").get
    assert(aSpark._3 == 2L && aSpark._4 == 3.0 && aSpark._5 == 1L)
    // the shared filler's χ²: (A, fill): a=1, f=3, ct=3 →
    // ad−bc = 1·(6−3−3+1)−2·2 = −3; χ² = 6·9/(3·3·3·3) = 0.666667
    val aFill = out.find(r => r._1 == "A" && r._2 == "fill").get
    assert(aFill._4 == 0.666667)
    // class-exclusive tokens rank 1 in both classes
    assert(out.filter(_._5 == 1L).map(r => (r._1, r._2)) ==
      Seq(("A", "spark"), ("B", "flink")))
    intercept[IllegalArgumentException](TextAnalysis.chiSquareTerms(df, "source", "text", 0))
  }

  test("oovRate scores multiplicity against the (freq desc, token asc) vocab cut") {
    // freqs: the=4, cat=2, dog=2, zeb=1 → vocab(2) = {the, cat} (cat
    // beats dog on the token-asc tiebreak at equal freq 2)
    val df = Seq(
      (1L, "the cat the cat"),
      (2L, "the dog zeb"),
      (3L, "dog the"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.oovRate(df, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 0L, 0.0),
      (2L, 3L, 2L, 0.666667), // dog, zeb
      (3L, 2L, 1L, 0.5)))     // dog
    intercept[IllegalArgumentException](TextAnalysis.oovRate(df, "doc_id", "text", 0))
  }

  test("readability computes the vowel-run Flesch arithmetic exactly") {
    val df = Seq(
      (1L, "the cat sat. it ran."), // 5 words, 2 sentences, syllables 1+1+1+1+1=5
      (2L, "aeiou xyz"),            // 2 words, 1 (floor) sentence, syll 1+1=2
      (3L, ""),                     // zero words → excluded
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.readability(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect().toSeq
    def flesch(w: Long, s: Long, y: Long): Double =
      BigDecimal(206.835 - 1.015 * (w.toDouble / s) - 84.6 * (y.toDouble / w))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 5L, 2L, 5L, flesch(5, 2, 5)),
      (2L, 2L, 1L, 2L, flesch(2, 1, 2))))
  }

  test("filterAttribution: independent per-rule fail counts, (any) shrink row, NULL fails") {
    import org.apache.spark.sql.functions.{col, length}
    val df = Seq(
      (1L, Some("good long doc here")),   // passes both
      (2L, Some("x")),                    // fails len only
      (3L, Some("zz")),                   // fails len AND the no-z rule
      (4L, None: Option[String])          // NULL → fails both (cannot prove)
    ).toDF("doc_id", "text")
    val rules = Seq(
      "len_ok" -> (length(col("text")) >= 3),
      "no_z" -> !col("text").contains("z"))
    val got = TextAnalysis.filterAttribution(df, rules)
      .orderBy("rule").as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("(any)", 3L, 0.75),   // only doc 1 passes everything
      ("len_ok", 3L, 0.75),
      ("no_z", 2L, 0.5)))
    intercept[IllegalArgumentException](
      TextAnalysis.filterAttribution(df, Seq.empty))
    intercept[IllegalArgumentException](
      TextAnalysis.filterAttribution(df, Seq("a'b" -> col("text").isNotNull)))
  }

  test("bpeTrainMerges matches a driver-side BPE reference") {
    // corpus exercising multiplicity ("low" ×3 beats ×1 words),
    // overlap ("aaaa" merges non-overlapping → "aa","aa"), and the
    // lexicographic tiebreak
    val docs = Seq("low low lower", "low aaaa newest", "widest newest aaaa")
      .toDF("text")
    val got = TextAnalysis.bpeTrainMerges(docs, "text", merges = 4)
      .orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq

    // reference: classic Sennrich loop on the word-frequency table
    var words: Map[Vector[String], Long] = docs.as[String].collect()
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        w.toVector.map(_.toString) -> ws.length.toLong
      }
    val exp = (1 to 4).map { step =>
      val pairs = words.toSeq.flatMap { case (syms, cnt) =>
        syms.zip(syms.tail).map(p => p -> cnt)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val ((l, r), pc) = pairs.minBy { case ((a, b), c) => (-c, a, b) }
      words = words.toSeq.map { case (syms, cnt) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result() -> cnt
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (step, l, r, pc)
    }
    assert(got == exp)
    intercept[IllegalArgumentException](
      TextAnalysis.bpeTrainMerges(docs, "text", merges = 0))
  }

  test("bpeTokenCounts applies the trained segmentation per document") {
    // vocab: "aa"×3, "ab"×1 (the pipe word is excluded from training AND
    // encoding); merge 1 = (a,a): "aa"→1 piece, "ab"→2 pieces
    val docs = Seq((1L, "aa ab"), (2L, "aa aa"), (3L, "|x"))
      .toDF("doc_id", "text")
    val got1 = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", merges = 1)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got1 == Seq((1L, 2L, 3L), (2L, 2L, 2L), (3L, 0L, 0L)))
    // merge 2 = (a,b): "ab" collapses to 1 piece
    val got2 = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", merges = 2)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got2 == Seq((1L, 2L, 2L), (2L, 2L, 2L), (3L, 0L, 0L)))
    // NULL text is excluded entirely (not reported as 0/0)
    val withNull = Seq((1L, "aa"), (2L, null)).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTokenCounts(withNull, "doc_id", "text", 1)
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 1L, 1L)))
    // merge exhaustion: the vocab collapses after round 1 ("ab" is a
    // single symbol) — later empty rounds must KEEP the state, not
    // zero it (the review-found oracle divergence, mirrored by the
    // LEFT JOIN + coalesce rounds in the DuckDB twin)
    val tiny = Seq((1L, "ab ab"), (2L, "ab")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTokenCounts(tiny, "doc_id", "text", merges = 3)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("vocabGrowthCurve: nested subsets match the driver-side bucket reference") {
    val docs = Seq(
      (1L, "red blue"), (2L, "red green"), (3L, "blue blue yellow"),
      (4L, "red"), (5L, "purple green"), (6L, null))
      .toDF("doc_id", "text")
    val fractions = Seq(250, 500, 1000)
    val got = TextAnalysis.vocabGrowthCurve(docs, "doc_id", "text", fractions)
      .orderBy("permille").as[(Int, Long, Long, Long)].collect().toSeq
    // reference: same hash bucket per doc, nested membership
    val buckets = docs.filter($"text".isNotNull)
      .select($"doc_id", Sampling.hashBucket($"doc_id").as("bk"))
      .as[(Long, Long)].collect().toMap
    val texts = Map(1L -> "red blue", 2L -> "red green",
      3L -> "blue blue yellow", 4L -> "red", 5L -> "purple green")
    val exp = fractions.map { p =>
      val in = buckets.filter(_._2 < p).keySet
      val toks = in.toSeq.flatMap(id => texts(id).split(" ").filter(_.nonEmpty))
      (p, in.size.toLong, toks.size.toLong, toks.distinct.size.toLong)
    }
    assert(got == exp)
    // the full fraction sees the whole corpus
    assert(got.last == ((1000, 5L, 10L, 5L)))
    // every column is monotone non-decreasing (true nesting)
    assert(got.sliding(2).forall { case Seq(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4 })
    intercept[IllegalArgumentException](
      TextAnalysis.vocabGrowthCurve(docs, "doc_id", "text", Seq.empty))
    intercept[IllegalArgumentException](
      TextAnalysis.vocabGrowthCurve(docs, "doc_id", "text", Seq(100, 100)))
    intercept[IllegalArgumentException](
      TextAnalysis.vocabGrowthCurve(docs, "doc_id", "text", Seq(0)))
  }

  test("tfidfPostings: q71 weight formula; minDf and maxDfFrac prune as stated") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry"),
      (3L, "durian durian")).toDF("doc_id", "text")
    val all = TextAnalysis.tfidfPostings(corpus, "doc_id", "text")
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        r.getAs[java.math.BigDecimal]("weight").doubleValue))
      .toMap
    // N=4; df(apple)=2 → weight(d0, apple) = round(2·ln(2), 6)
    def w(tf: Int, df: Int): Double =
      BigDecimal(tf * math.log(4.0 / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(all((0L, "apple")) == w(2, 2))
    assert(all((3L, "durian")) == w(2, 1))
    assert(all.size == 7)
    // minDf=2 drops the df-1 token; maxDfFrac=0.4 keeps ONLY df ≤ 1.6
    val noHapax = TextAnalysis.tfidfPostings(corpus, "doc_id", "text", minDf = 2)
      .select("token").as[String].collect().toSet
    assert(noHapax == Set("apple", "banana", "cherry"))
    val rareOnly = TextAnalysis.tfidfPostings(corpus, "doc_id", "text",
      maxDfFrac = 0.4).select("token").as[String].collect().toSet
    assert(rareOnly == Set("durian"))
    intercept[IllegalArgumentException](
      TextAnalysis.tfidfPostings(corpus, "doc_id", "text", minDf = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.tfidfPostings(corpus, "doc_id", "text", maxDfFrac = 1.5))
  }

  private lazy val postings = Seq(
    (1L, "t1", 1.0), (1L, "t2", 2.0),
    (2L, "t1", 3.0),
    (3L, "t2", 1.5), (3L, "t3", 1.0)).toDF("doc_id", "token", "weight")

  test("sparseTopK: hand-checked dot products, deterministic rank, self exclusion") {
    val queries = Seq((10L, "t1", 2.0), (10L, "t2", 1.0))
      .toDF("query_id", "token", "weight")
    val got = TextAnalysis.sparseTopK(postings, "doc_id", queries, "query_id",
      "token", "weight", k = 3)
      .orderBy("rn")
      .as[(Long, Long, Double, Long)].collect().toSeq
    // d1 = 1·2 + 2·1 = 4; d2 = 3·2 = 6; d3 = 1.5·1 = 1.5
    assert(got == Seq((10L, 2L, 6.0, 1L), (10L, 1L, 4.0, 2L), (10L, 3L, 1.5, 3L)))

    // querying AS document 1 drops the self hit by default, keeps it on demand
    val selfQ = Seq((1L, "t1", 1.0), (1L, "t2", 2.0))
      .toDF("query_id", "token", "weight")
    val noSelf = TextAnalysis.sparseTopK(postings, "doc_id", selfQ, "query_id",
      "token", "weight", k = 3).select("doc_id").as[Long].collect().toSet
    assert(!noSelf.contains(1L))
    val withSelf = TextAnalysis.sparseTopK(postings, "doc_id", selfQ, "query_id",
      "token", "weight", k = 3, excludeSelf = false)
      .select("doc_id").as[Long].collect().toSet
    assert(withSelf.contains(1L))

    // equal scores rank by doc_id asc
    val tied = Seq((7L, "t", 1.0), (8L, "t", 1.0)).toDF("doc_id", "token", "weight")
    val tq = Seq((10L, "t", 1.0)).toDF("query_id", "token", "weight")
    val tr = TextAnalysis.sparseTopK(tied, "doc_id", tq, "query_id",
      "token", "weight", k = 2).orderBy("rn")
      .select("doc_id").as[Long].collect().toSeq
    assert(tr == Seq(7L, 8L))
  }

  test("cappedPostings: cap=1 keeps each term's best doc; a loose cap is the identity") {
    val cap1 = TextAnalysis.cappedPostings(postings, "doc_id", "token", "weight", 1)
      .collect().map(r => (r.getString(1),
        (r.getLong(0), r.getAs[java.math.BigDecimal]("weight").doubleValue)))
      .toMap
    assert(cap1 == Map("t1" -> ((2L, 3.0)), "t2" -> ((1L, 2.0)), "t3" -> ((3L, 1.0))))
    val loose = TextAnalysis.cappedPostings(postings, "doc_id", "token", "weight", 10)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.math.BigDecimal]("weight").doubleValue)).toSet
    assert(loose == Set((1L, "t1", 1.0), (1L, "t2", 2.0), (2L, "t1", 3.0),
      (3L, "t2", 1.5), (3L, "t3", 1.0)))
  }

  test("sparseRecallReport: loose cap is recall 1; cap=1 loses the doc reachable only through a pruned posting") {
    val queries = Seq((10L, "t1", 2.0), (10L, "t2", 1.0))
      .toDF("query_id", "token", "weight")
    val full = TextAnalysis.sparseRecallReport(postings, "doc_id",
      queries, "query_id", "token", "weight", k = 3, cap = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(full == Seq((10L, 3L, 1.0)))
    // cap=1: t1 keeps only d2, t2 keeps only d1 → d3 (reachable only via
    // the pruned t2 tail) disappears from the capped arm
    val cut = TextAnalysis.sparseRecallReport(postings, "doc_id",
      queries, "query_id", "token", "weight", k = 3, cap = 1)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cut == Seq((10L, 2L,
      BigDecimal(2.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("bm25Postings: Okapi weights hand-checked; unit-weight sparseTopK equals bm25Rank; prunes and guards") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry"),
      (3L, "durian durian")).toDF("doc_id", "text")
    // N=4, lengths 3/2/2/2 → avgdl = 9/4 = 2.25
    val k1 = 1.2; val b = 0.75
    def w(tf: Int, df: Int, len: Int): Double = {
      val idf = math.log((4L - df + 0.5) / (df + 0.5) + 1.0)
      BigDecimal(idf * tf * (k1 + 1.0) /
        (tf + k1 * ((1.0 - b) + b * len.toDouble / 2.25)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val all = TextAnalysis.bm25Postings(corpus, "doc_id", "text")
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        r.getAs[java.math.BigDecimal]("weight").doubleValue))
      .toMap
    assert(all.size == 7)
    assert(all((0L, "apple")) == w(tf = 2, df = 2, len = 3))
    assert(all((3L, "durian")) == w(tf = 2, df = 1, len = 2))
    assert(all((2L, "banana")) == w(tf = 1, df = 2, len = 2))

    // unit-weight sparse retrieval over the BM25 index IS bm25Rank:
    // same per-term 6-dp decimal contributions, same decimal sum
    val ranked = TextAnalysis.bm25Rank(corpus, "doc_id", "text",
      Seq("apple", "cherry"), k = 4)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val post = TextAnalysis.bm25Postings(corpus, "doc_id", "text")
    val q = Seq((10L, "apple"), (10L, "cherry")).toDF("query_id", "token")
      .withColumn("weight",
        org.apache.spark.sql.functions.lit(1).cast("decimal(18,6)"))
    val sparse = TextAnalysis.sparseTopK(post, "doc_id", q, "query_id",
      "token", "weight", k = 4)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(sparse == ranked)

    // minDf prunes the hapax durian; maxDfFrac keeps only rare tokens
    val noHapax = TextAnalysis.bm25Postings(corpus, "doc_id", "text", minDf = 2)
      .select("token").as[String].collect().toSet
    assert(noHapax == Set("apple", "banana", "cherry"))
    val rareOnly = TextAnalysis.bm25Postings(corpus, "doc_id", "text",
      maxDfFrac = 0.4).select("token").as[String].collect().toSet
    assert(rareOnly == Set("durian"))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Postings(corpus, "doc_id", "text", k1 = 0.0))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Postings(corpus, "doc_id", "text", b = 1.5))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Postings(corpus, "doc_id", "text", minDf = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25Postings(corpus, "doc_id", "text", maxDfFrac = 0.0))
  }

  test("sparseDriftReport: self-batch zero at keep-all knobs; disjoint vocab trips the gate") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry")).toDF("doc_id", "text")
    val idx = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text")
    // keep-all knobs: the index's own corpus has zero drift EXACTLY
    val self = TextAnalysis.sparseDriftReport(idx, corpus, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Boolean)].head()
    assert(self == ((3L, 3L, 0L, 0.0, 0.0, false)))
    // disjoint vocabulary: all batch df-mass is OOV → gate trips
    val alien = Seq((9L, "durian elderberry"), (10L, "durian fig"))
      .toDF("doc_id", "text")
    val d = TextAnalysis.sparseDriftReport(idx, alien, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Boolean)].head()
    assert(d._1 == 3L && d._2 == 3L && d._3 == 3L)
    assert(d._4 == 1.0 && d._5 == 1.0 && d._6)
    // a pruning build makes even self-drift nonzero by the pruned mass:
    // minDf=2 drops the hapax "durian", whose batch df-mass becomes OOV
    val hapaxCorpus = Seq(
      (0L, "apple banana"),
      (1L, "apple cherry"),
      (2L, "banana cherry durian")).toDF("doc_id", "text")
    val pruned = TextAnalysis.sparseIndexBuild(hapaxCorpus, "doc_id", "text",
      minDf = 2)
    val pd = TextAnalysis.sparseDriftReport(pruned, hapaxCorpus, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Boolean)].head()
    // index vocab {apple,banana,cherry}; batch adds durian (df 1 of 7)
    assert(pd._1 == 3L && pd._2 == 4L && pd._3 == 1L)
    assert(pd._4 == BigDecimal(1.0 / 7.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    intercept[IllegalArgumentException](
      TextAnalysis.sparseDriftReport(idx, corpus, "doc_id", "text",
        oovThreshold = 1.5))
  }

  test("sparseCapPlan: recall saturates at the list-length cap; exact sizes; deterministic chosen") {
    val corpus = Seq(
      (0L, "apple banana"),
      (1L, "apple banana cherry"),
      (2L, "apple cherry"),
      (3L, "banana cherry"),
      (4L, "apple banana cherry")).toDF("doc_id", "text")
    val post = TextAnalysis.tfidfPostings(corpus, "doc_id", "text")
      .localCheckpoint()
    val qp = post.filter(col("doc_id") === 0L)
      .withColumnRenamed("doc_id", "query_id")
    val plan = TextAnalysis.sparseCapPlan(post, "doc_id", "token", "weight",
      qp, "query_id", k = 3, caps = Seq(1, 5), targetRecall = 0.9)
      .as[(Int, Double, Long, Boolean)].collect().sortBy(_._1)
    assert(plan.length == 2)
    // cap 5 >= every posting-list length: the capped index IS the full
    // index — recall 1, size = |postings|
    val full = plan.find(_._1 == 5).get
    assert(full._2 == 1.0 && full._3 == post.count() && full._4)
    // cap 1: sizes are Σ min(len_t, 1) = |vocab|
    val one = plan.find(_._1 == 1).get
    assert(one._3 == post.select("token").distinct().count() && !one._4)
    intercept[IllegalArgumentException](
      TextAnalysis.sparseCapPlan(post, "doc_id", "token", "weight",
        qp, "query_id", 3, Seq(2, 2), 0.9))
    intercept[IllegalArgumentException](
      TextAnalysis.sparseCapPlan(post, "doc_id", "token", "weight",
        qp, "query_id", 3, Seq.empty, 0.9))
    // a query relation that yields NO exact-arm rows refuses up front
    // (fail-fast, not NaN flowing into the chosen window)
    val noMatch = Seq((9L, "zebra")).toDF("query_id", "token")
      .withColumn("weight", lit(1).cast("decimal(18,6)"))
    val ex = intercept[IllegalArgumentException](
      TextAnalysis.sparseCapPlan(post, "doc_id", "token", "weight",
        noMatch, "query_id", 3, Seq(1, 5), 0.9))
    assert(ex.getMessage.contains("no exact-arm rows"))
  }

  test("sparseCapPlan normalizes each query by its ACTUAL exact-row count, not k") {
    // doc 0's only co-term neighbor is doc 1 (the zebra pair shares
    // nothing with it): the exact arm has ONE row at k=3, and a cap
    // that recovers it must score recall 1.0 — the old k·nq
    // denominator read 1/3 here
    val corpus = Seq(
      (0L, "apple"),
      (1L, "apple"),
      (2L, "zebra lion"),
      (3L, "zebra lion")).toDF("doc_id", "text")
    val post = TextAnalysis.tfidfPostings(corpus, "doc_id", "text")
      .localCheckpoint()
    val qp = post.filter(col("doc_id") === 0L)
      .withColumnRenamed("doc_id", "query_id")
    val plan = TextAnalysis.sparseCapPlan(post, "doc_id", "token", "weight",
      qp, "query_id", k = 3, caps = Seq(5), targetRecall = 0.9)
      .as[(Int, Double, Long, Boolean)].collect()
    assert(plan.length == 1 && plan.head._2 == 1.0 && plan.head._4)
  }

  test("queryPostings: in-corpus reconstruction is bit-exact; out-of-corpus and OOV behave; bm25 unit form") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry"),
      (3L, "apple banana")).toDF("doc_id", "text")
    val idx = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text",
      minDf = 2)
    def rows(p: org.apache.spark.sql.DataFrame) = p
      .select("query_id", "token", "weight").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.math.BigDecimal](2).doubleValue)).toSet
    // in-corpus parity: reconstructed profiles ARE the index postings
    val recon = TextAnalysis.queryPostings(idx, corpus, "doc_id", "text")
    assert(rows(recon) == rows(idx.postings
      .withColumnRenamed("doc_id", "query_id")
      .select("query_id", "token", "weight")))
    // out-of-corpus query: frozen N/df, OOV term ("durian") drops
    val oos = Seq((99L, "apple durian")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.queryPostings(idx, oos, "doc_id", "text"))
    val w = BigDecimal(1.0 * math.log(4.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set((99L, "apple", w)))
    // the reconstructed profile SERVES: the out-of-corpus doc retrieves
    // apple-bearing documents through the loaded lifecycle
    val dir = java.nio.file.Files.createTempDirectory("sparseq").toString
    TextAnalysis.sparseIndexSave(idx, dir)
    val re = TextAnalysis.sparseIndexLoad(spark, dir)
    assert(re.nDocs == 4L)
    val qp = TextAnalysis.queryPostings(re, oos, "doc_id", "text")
    val hits = TextAnalysis.sparseIndexSearch(re, qp, "query_id",
      "token", "weight", k = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(0L, 1L, 3L)) // exactly the apple docs
    // bm25: unit weights on distinct in-vocabulary terms
    val bidx = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text",
      weighting = TextAnalysis.Bm25(), minDf = 2)
    val bq = rows(TextAnalysis.queryPostings(bidx,
      Seq((7L, "apple apple durian cherry")).toDF("doc_id", "text"),
      "doc_id", "text"))
    assert(bq == Set((7L, "apple", 1.0), (7L, "cherry", 1.0)))
  }

  test("SparseIndex cap lifecycle: build-time prune round-trips; serving honors it; mismatch refusals") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry"),
      (3L, "apple banana")).toDF("doc_id", "text")
    val idx = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text",
      minDf = 2, cap = Some(2))
    assert(idx.cap == Some(2) && idx.capped.isDefined)
    // serving = the capped relation; the uncapped postings persist beside
    assert(idx.serving.count() ==
      TextAnalysis.cappedPostings(idx.postings, "doc_id", "token", "weight", 2).count())
    assert(idx.postings.count() >= idx.serving.count())
    val dir = java.nio.file.Files.createTempDirectory("sparsecap").toString
    TextAnalysis.sparseIndexSave(idx, dir)
    val re = TextAnalysis.sparseIndexLoad(spark, dir)
    assert(re.cap == Some(2) && re.capped.isDefined)
    def rows(p: org.apache.spark.sql.DataFrame) = p
      .select("doc_id", "token", "weight").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.math.BigDecimal](2).doubleValue)).toSet
    assert(rows(re.serving) == rows(idx.serving))
    assert(rows(re.postings) == rows(idx.postings))
    // search parity through the reloaded capped serve path
    val q = Seq((10L, "apple"), (10L, "banana")).toDF("query_id", "token")
      .withColumn("weight", lit(1).cast("decimal(18,6)"))
    assert(TextAnalysis.sparseIndexSearch(re, q, "query_id", "token", "weight", 3)
      .as[(Long, Long, Double, Long)].collect().toSet ==
      TextAnalysis.sparseIndexSearch(idx, q, "query_id", "token", "weight", 3)
        .as[(Long, Long, Double, Long)].collect().toSet)

    val mode = org.apache.spark.sql.SaveMode.Overwrite
    val goodMeta = spark.read.parquet(s"$dir/meta")
    // meta says uncapped but a capped dir exists → mixed directory
    val mixed = s"$dir/mixed"
    re.postings.write.mode(mode).parquet(s"$mixed/postings")
    re.vocab.write.mode(mode).parquet(s"$mixed/vocab")
    re.capped.get.write.mode(mode).parquet(s"$mixed/capped")
    goodMeta.withColumn("cap", lit(null).cast("int"))
      .withColumn("n_capped", lit(null).cast("long"))
      .write.mode(mode).parquet(s"$mixed/meta")
    val eMixed = intercept[IllegalArgumentException](
      TextAnalysis.sparseIndexLoad(spark, mixed))
    assert(eMixed.getMessage ==
      s"requirement failed: $mixed/meta says uncapped but $mixed/capped exists — a mixed directory")
    // meta says capped but the capped dir is missing
    val missing = s"$dir/missing"
    re.postings.write.mode(mode).parquet(s"$missing/postings")
    re.vocab.write.mode(mode).parquet(s"$missing/vocab")
    goodMeta.write.mode(mode).parquet(s"$missing/meta")
    val eMissing = intercept[IllegalArgumentException](
      TextAnalysis.sparseIndexLoad(spark, missing))
    assert(eMissing.getMessage ==
      s"requirement failed: $missing/capped is missing — a torn directory")
    // tampered n_capped
    val tampered = s"$dir/tampered_cap"
    re.postings.write.mode(mode).parquet(s"$tampered/postings")
    re.vocab.write.mode(mode).parquet(s"$tampered/vocab")
    re.capped.get.write.mode(mode).parquet(s"$tampered/capped")
    goodMeta.withColumn("n_capped", lit(99L)).write.mode(mode)
      .parquet(s"$tampered/meta")
    val eTampered = intercept[IllegalArgumentException](
      TextAnalysis.sparseIndexLoad(spark, tampered))
    assert(eTampered.getMessage == "requirement failed: meta says 99 capped " +
      s"postings but $tampered/capped holds ${re.capped.get.count()}")
    // cap without n_capped (half-populated pair)
    val half = s"$dir/half"
    re.postings.write.mode(mode).parquet(s"$half/postings")
    re.vocab.write.mode(mode).parquet(s"$half/vocab")
    re.capped.get.write.mode(mode).parquet(s"$half/capped")
    goodMeta.withColumn("n_capped", lit(null).cast("long"))
      .write.mode(mode).parquet(s"$half/meta")
    val eHalf = intercept[IllegalArgumentException](
      TextAnalysis.sparseIndexLoad(spark, half))
    assert(eHalf.getMessage == s"requirement failed: $half/meta: cap/n_capped " +
      "must travel together, got cap=Some(2) n_capped=None")
    // the case-class invariants themselves
    intercept[IllegalArgumentException](
      TextAnalysis.SparseIndex(idx.postings, TextAnalysis.Tfidf, 1, 1.0,
        nDocs = 4L, vocab = idx.vocab, cap = Some(2), capped = None))
    intercept[IllegalArgumentException](
      TextAnalysis.SparseIndex(idx.postings, TextAnalysis.Tfidf, 1, 1.0,
        nDocs = 0L, vocab = idx.vocab))

    // re-saving an UNCAPPED index over a directory that previously held
    // a capped one must not leave the stale capped/ subdir behind (save
    // deletes it so Overwrite semantics hold for the whole directory —
    // the loader would otherwise refuse the fresh valid save as mixed)
    val uncapped = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text",
      minDf = 2)
    TextAnalysis.sparseIndexSave(uncapped, dir)
    val reUn = TextAnalysis.sparseIndexLoad(spark, dir)
    assert(reUn.cap.isEmpty && reUn.capped.isEmpty)
  }

  test("sparseIndexLoad: a stray capped/ with a foreign schema is a mixed directory under an uncapped meta") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry")).toDF("doc_id", "text")
    val foreign = Seq((1, "x")).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("sparsestray").toString
    TextAnalysis.sparseIndexSave(
      TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text", minDf = 2), dir)
    foreign.write.parquet(s"$dir/capped")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.sparseIndexLoad(spark, dir))
    assert(e.getMessage.contains(
      s"$dir/meta says uncapped but $dir/capped exists — a mixed directory"),
      e.getMessage)
    // a capped/ holding a non-parquet file is the same mixed directory,
    // not a parquet footer error
    val garbage = java.nio.file.Files.createTempDirectory("sparsegarbage").toString
    TextAnalysis.sparseIndexSave(
      TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text", minDf = 2), garbage)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$garbage/capped"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$garbage/capped/part-0.parquet"), "not parquet")
    val eg = intercept[IllegalArgumentException](
      TextAnalysis.sparseIndexLoad(spark, garbage))
    assert(eg.getMessage.contains(
      s"$garbage/meta says uncapped but $garbage/capped exists — a mixed directory"),
      eg.getMessage)
    // under a capped meta the same foreign relation is refused on its schema
    val capped = java.nio.file.Files.createTempDirectory("sparseforeign").toString
    TextAnalysis.sparseIndexSave(TextAnalysis.sparseIndexBuild(corpus, "doc_id",
      "text", minDf = 2, cap = Some(2)), capped)
    foreign.write.mode("overwrite").parquet(s"$capped/capped")
    val e2 = intercept[IllegalArgumentException](
      TextAnalysis.sparseIndexLoad(spark, capped))
    assert(e2.getMessage.contains(s"$capped/capped must hold (doc_id, token, weight)"),
      e2.getMessage)
  }

  test("SparseIndex lifecycle: flag-free round-trip, search parity, fail-fast refusals") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry"),
      (3L, "durian durian")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sparseidx").toString

    val idx = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text",
      weighting = TextAnalysis.Bm25(), minDf = 2)
    TextAnalysis.sparseIndexSave(idx, dir)
    val re = TextAnalysis.sparseIndexLoad(spark, dir)
    assert(re.minDf == 2 && re.maxDfFrac == 1.0)
    assert(re.weighting == TextAnalysis.Bm25(1.2, 0.75))
    def rows(p: org.apache.spark.sql.DataFrame) = p
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.math.BigDecimal]("weight").doubleValue)).toSet
    assert(rows(re.postings.select("doc_id", "token", "weight")) ==
      rows(idx.postings.select("doc_id", "token", "weight")))
    val q = Seq((10L, "apple"), (10L, "cherry")).toDF("query_id", "token")
      .withColumn("weight",
        org.apache.spark.sql.functions.lit(1).cast("decimal(18,6)"))
    def served(i: TextAnalysis.SparseIndex) =
      TextAnalysis.sparseIndexSearch(i, q, "query_id", "token", "weight", 4)
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(served(re) == served(idx))

    // tfidf records its knobs as ABSENT, not as leftover defaults
    val tdir = java.nio.file.Files.createTempDirectory("sparseidx_t").toString
    TextAnalysis.sparseIndexSave(
      TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text", minDf = 2), tdir)
    val tre = TextAnalysis.sparseIndexLoad(spark, tdir)
    assert(tre.weighting == TextAnalysis.Tfidf)
    assert(spark.read.parquet(s"$tdir/meta").select("weighting", "k1", "b")
      .collect().map(_.toSeq).toSeq == Seq(Seq("tfidf", null, null)))

    // refusals at load, each over an otherwise complete directory: a
    // weighting meta cannot state, tampered counts, a double meta row
    // and a wrong posting schema
    val mode = org.apache.spark.sql.SaveMode.Overwrite
    val goodMeta = spark.read.parquet(s"$dir/meta")
    def refused(name: String, meta: org.apache.spark.sql.DataFrame,
                postings: org.apache.spark.sql.DataFrame = re.postings): (String, String) = {
      val d = s"$dir/$name"
      postings.write.mode(mode).parquet(s"$d/postings")
      re.vocab.write.mode(mode).parquet(s"$d/vocab")
      meta.write.mode(mode).parquet(s"$d/meta")
      (d, intercept[IllegalArgumentException](TextAnalysis.sparseIndexLoad(spark, d)).getMessage)
    }
    val (lsa, eLsa) = refused("lsa", goodMeta.withColumn("weighting", lit("lsa")))
    assert(eLsa == s"""$lsa/meta must state weighting "tfidf" without k1/b or "bm25" """ +
      "with both, got weighting=lsa k1=Some(1.2) b=Some(0.75)", eLsa)
    val (halfK, eHalfK) = refused("half_k1b",
      goodMeta.withColumn("b", lit(null).cast("double")))
    assert(eHalfK.startsWith(s"$halfK/meta must state weighting") &&
      eHalfK.endsWith("got weighting=bm25 k1=Some(1.2) b=None"), eHalfK)
    val (tampered, eTampered) = refused("tampered",
      goodMeta.withColumn("n_postings", lit(99L)))
    assert(eTampered == "requirement failed: meta says 99 postings but " +
      s"$tampered/postings holds ${re.postings.count()}", eTampered)
    val (doubled, eDoubled) = refused("doubled", goodMeta.union(goodMeta))
    assert(eDoubled == s"requirement failed: $doubled/meta must hold exactly one row, got 2",
      eDoubled)
    val (badSchema, eBadSchema) = refused("badschema", goodMeta,
      postings = re.postings.withColumnRenamed("token", "term"))
    assert(eBadSchema.startsWith(
      s"requirement failed: $badSchema/postings must hold (doc_id, token, weight), got "),
      eBadSchema)
  }

  test("sparseIndexBuild refuses cap < 1 before any Spark job") {
    val corpus = Seq((0L, "apple banana"), (1L, "apple cherry")).toDF("doc_id", "text")
    var err: Option[Throwable] = None
    val jobs = jobsRunBy {
      err = scala.util.Try(TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text",
        cap = Some(0))).failed.toOption
    }
    assert(err.exists(_.getMessage == "requirement failed: cap must be >= 1, got 0"), err)
    assert(jobs.isEmpty, s"ran before refusing: ${jobs.mkString("; ")}")
  }

  test("sparseIndexLoad names the torn relation of a partial directory") {
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana cherry"),
      (3L, "apple banana")).toDF("doc_id", "text")
    val idx = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text", minDf = 2)
    val capped = TextAnalysis.sparseIndexBuild(corpus, "doc_id", "text", minDf = 2,
      cap = Some(2))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    def files(dir: String) =
      Option(new java.io.File(dir).listFiles).toSeq.flatten.filter(_.isFile)
    // (case, capped save, how the directory is torn, the message's start)
    val cases: Seq[(String, Boolean, String => Unit, String => String)] = Seq(
      ("no postings/", false, d => rm(new java.io.File(s"$d/postings")),
        d => s"$d/postings is missing"),
      ("no vocab/", false, d => rm(new java.io.File(s"$d/vocab")), d => s"$d/vocab is missing"),
      ("no meta/", false, d => rm(new java.io.File(s"$d/meta")), d => s"$d/meta is missing"),
      ("a capped meta without capped/", true, d => rm(new java.io.File(s"$d/capped")),
        d => s"$d/capped is missing"),
      ("postings/ without a parquet file", false, d => files(s"$d/postings").foreach(rm),
        d => s"$d/postings holds no parquet file"),
      ("vocab/ without a parquet file", false, d => files(s"$d/vocab").foreach(rm),
        d => s"$d/vocab holds no parquet file"),
      ("meta/ without a parquet file", false, d => files(s"$d/meta").foreach(rm),
        d => s"$d/meta holds no parquet file"),
      ("capped/ without a parquet file", true, d => files(s"$d/capped").foreach(rm),
        d => s"$d/capped holds no parquet file"))
    for ((name, isCapped, tear, relation) <- cases) {
      val dir = java.nio.file.Files.createTempDirectory("graft-sparse-torn-").toString
      TextAnalysis.sparseIndexSave(if (isCapped) capped else idx, dir)
      tear(dir)
      val e = intercept[IllegalArgumentException](TextAnalysis.sparseIndexLoad(spark, dir))
      assert(e.getMessage == s"requirement failed: ${relation(dir)} — a torn directory",
        s"$name: ${e.getMessage}")
    }
  }
}
