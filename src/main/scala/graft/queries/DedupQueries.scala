package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.queries.Shared._

/** Queries over [[graft.operators.Dedup]]: exact, MinHash/LSH, SimHash,
  * paragraph and cluster deduplication.
  */
private[graft] object DedupQueries {

  val all: Seq[Query] = Seq(

    // ── exact dedup via content digest.
    Query("q20_dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("text_hash"),
      Oracle.Sql(
      """SELECT sha256(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── MinHash signatures (8 permutations over word-bigram shingles).
    Query("q21_minhash_sigs", (s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Sql(minhashSigSql + " ORDER BY doc_id")),

    // ── LSH banding: candidate near-dup pairs without the O(n²) pair space.
    Query("q22_lsh_candidates", (s, dir) =>
      Dedup.lshCandidates(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b"),
      Oracle.Sql(
      s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── exact n-gram Jaccard, verified only on LSH candidates.
    Query("q23_jaccard_pairs", (s, dir) =>
      Dedup.nearDups(t(s, dir, "documents"), "doc_id", "text", 0.1)
        .orderBy("doc_a", "doc_b"),
      Oracle.Sql(
      s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        | i.n_inter / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
        |WHERE i.n_inter / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── dedup cluster canonicalization: connected components over the LSH
    // candidate graph (min-label propagation; recursive-CTE oracle).
    Query("q52_dedup_components", (s, dir) =>
      Dedup.connectedComponents(
        Dedup.lshCandidates(t(s, dir, "documents"), "doc_id", "text"))
        .orderBy("node"),
      Oracle.Sql(
      s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |nodes(n) AS (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand),
         |und(a, b) AS (SELECT doc_a, doc_b FROM cand UNION SELECT doc_b, doc_a FROM cand),
         |cc(node, label) AS (
         | SELECT n, n FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b)
        |SELECT node, min(label) AS component FROM cc GROUP BY node ORDER BY node""".stripMargin)),

    // ── end-to-end corpus dedup: surviving doc ids after exact + verified
    // near-dup cluster canonicalization.
    Query("q58_dedup_corpus", (s, dir) =>
      Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text", minJaccard = 0.1)
        .select("doc_id")
        .orderBy("doc_id"),
      Oracle.Sql(
      s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM losers) ORDER BY doc_id""".stripMargin)),

    // ── keep-strategy corpus dedup: the survivor of each duplicate cluster
    // is the LONGEST variant (char count, highest-id tiebreak) instead of
    // the min id — the "keep the best copy" production shape.
    Query("q70_dedup_keep_longest", (s, dir) =>
      Dedup.dedupCorpusKeeping(
        t(s, dir, "documents").withColumn("n_chars", length(col("text")).cast("long")),
        "doc_id", "text", minJaccard = 0.1, keepBy = Some("n_chars"))
        .select("doc_id")
        .orderBy("doc_id"),
      Oracle.Sql(
      s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         |keep AS (SELECT node FROM (
         | SELECT c.node, row_number() OVER (PARTITION BY c.comp
         |   ORDER BY length(d.text) DESC, c.node DESC) AS krn
         | FROM comp c JOIN documents d ON d.doc_id = c.node) WHERE krn = 1),
         |losers AS (SELECT node FROM comp WHERE node NOT IN (SELECT node FROM keep))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM losers) ORDER BY doc_id""".stripMargin)),

    // ── incremental dedup (daily-ingest shape): drop incoming docs that
    // exact/near-duplicate the existing corpus; cross-side LSH only.
    Query("q67_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dropDuplicatesAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", minJaccard = 0.1)
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle.Sql(
      s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_in, b.doc_id AS doc_ex
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey
         | WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |inter AS (
         | SELECT c.doc_in, c.doc_ex, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_in
         |  JOIN sh sb ON sb.doc_id = c.doc_ex AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near_losers AS (
         | SELECT DISTINCT i.doc_in FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_in JOIN sz zb ON zb.doc_id = i.doc_ex
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exact_losers AS (
         | SELECT DISTINCT doc_id FROM documents
         | WHERE doc_id % 2 = 1 AND sha256(text) IN
         |  (SELECT sha256(text) FROM documents WHERE doc_id % 2 = 0))
        |SELECT doc_id FROM documents WHERE doc_id % 2 = 1
        | AND doc_id NOT IN (SELECT doc_id FROM exact_losers)
        | AND doc_id NOT IN (SELECT doc_in FROM near_losers)
        |ORDER BY doc_id""".stripMargin)),

    // ── SimHash near-dup pairs: pigeonhole chunk blocking (lossless for
    // the Hamming threshold), verified against a DuckDB cross join.
    Query("q53_simhash_neardup", (s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b"),
      Oracle.Sql(
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT AS h FROM toks),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, (SELECT unnest(range(0,60)) AS j) GROUP BY 1,2),
        |sim AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh
        |        FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── benchmark decontamination (the eval-leakage guard): drop corpus
    // docs sharing any trigram shingle with the benchmark slice. The
    // benchmark's shingle set broadcasts; the corpus text never shuffles.
    Query("q76_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle.Sql(
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT c.doc_id FROM tri c JOIN bench b USING (shingle)
        |        WHERE c.doc_id % 97 <> 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin)),

    // ── paragraph-level dedup (Lee et al.-style passage dedup at
    // paragraph granularity): multi-paragraph docs are derived from the
    // fixture by pairing each doc's text with its successor's (the
    // fixture's docs are single-paragraph), so every interior paragraph
    // occurs twice corpus-wide; first occurrence by (doc, pos) survives.
    Query("q82_paragraph_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
      Dedup.dedupParagraphs(twos, "doc_id", "text").orderBy("doc_id")
    }, Oracle.Sql(
      """WITH two AS (SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
        |             FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |sp AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM two),
        |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, parts[i+1] AS para
        |      FROM sp, unnest(range(len(parts))) AS t(i)
        |      WHERE regexp_matches(parts[i+1], '\S')),
        |w AS (SELECT doc_id, pos, para,
        |             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |      FROM p)
        |SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
        |       count(*) AS n_kept
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── bloom-prefiltered decontamination: same RESULT as q76 (exact
    // verify absorbs bloom false positives), but the benchmark side ships
    // as a BloomFilterAggregate sketch over xxhash64(shingle) — megabytes
    // of bits instead of a broadcast hash table of shingle strings.
    Query("q87_bloom_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle.Sql(
      // identical semantics to q76 — the bloom sketch is a pure prefilter
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % 97 = 0),
        |bad AS (SELECT DISTINCT c.doc_id FROM tri c JOIN bench b USING (shingle)
        |        WHERE c.doc_id % 97 <> 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin)),

    // ── fuzzy contamination fraction (PaLM/Llama-style): per-doc share of
    // distinct trigrams also present in the benchmark slice; the drop
    // decision thresholds this instead of q76's drop-on-any-hit.
    Query("q88_contamination_frac", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationFraction(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .select("doc_id", "n_shingles", "n_contaminated", "frac")
        .orderBy("doc_id")
    }, Oracle.Sql(
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |tri AS (SELECT DISTINCT doc_id, shingle FROM tri0),
        |bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % 97 = 0),
        |c AS (SELECT t.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_contaminated
        |      FROM tri t LEFT JOIN bench b ON t.shingle = b.shingle
        |      WHERE t.doc_id % 97 <> 0 GROUP BY 1)
        |SELECT doc_id, n_shingles, n_contaminated,
        |  CAST(n_contaminated AS DOUBLE) / n_shingles AS frac
        |FROM c ORDER BY doc_id""".stripMargin)),

    // ── cross-document duplicated span mining (boilerplate detector):
    // 5-grams occurring in ≥2 distinct docs, with doc frequency and total
    // occurrence count; multiplicity within a doc counts toward
    // n_occurrences only.
    Query("q89_dup_spans", (s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2)
        .select("shingle", "n_docs", "n_occurrences")
        .orderBy("shingle"),
      Oracle.Sql(
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS shingle
        |      FROM sp)
        |SELECT shingle, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        |FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY shingle""".stripMargin)),

    // ── substring-level dedup (Lee et al. passage removal): tokens covered
    // by a cross-document duplicated 5-gram are cut everywhere except the
    // gram's canonical (min-id) document; docs come back rebuilt, exact
    // duplicates fully emptied.
    Query("q92_remove_dup_spans", (s, dir) =>
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2)
        .select("doc_id", "text", "n_removed")
        .orderBy("doc_id"),
      Oracle.Sql(
      """WITH sp AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
        |            WHERE text IS NOT NULL),
        |g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |         i -> {'pos': i, 'gram': t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]})) AS s
        |       FROM sp),
        |pg AS (SELECT doc_id, struct_extract(s, 'pos') AS pos,
        |              struct_extract(s, 'gram') AS gram FROM g0),
        |dup AS (SELECT gram, min(doc_id) AS canon
        |        FROM (SELECT DISTINCT gram, doc_id FROM pg)
        |        GROUP BY 1 HAVING count(*) >= 2),
        |cov0 AS (SELECT pg.doc_id, unnest(range(pg.pos, pg.pos + 5)) AS tp
        |         FROM pg JOIN dup USING (gram) WHERE pg.doc_id <> dup.canon),
        |cov AS (SELECT DISTINCT doc_id, tp FROM cov0),
        |tok AS (SELECT doc_id, generate_subscripts(t,1) AS tp, unnest(t) AS tok FROM sp),
        |keep AS (SELECT tok.doc_id, tok.tp, tok.tok FROM tok ANTI JOIN cov USING (doc_id, tp)),
        |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text,
        |               count(*) AS kept FROM keep GROUP BY 1)
        |SELECT sp.doc_id, coalesce(reb.text, '') AS text,
        |  CAST(len(sp.t) - coalesce(reb.kept, 0) AS BIGINT) AS n_removed
        |FROM sp LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ── paragraph-level NEAR-dup dedup: q82's corpus-wide first-occurrence
    // cut, with exact ∪ Jaccard-verified near-dup paragraph clusters (the
    // full dedupCorpus machinery at paragraph granularity).
    Query("q93_paragraph_neardup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
      Dedup.dedupParagraphsNear(twos, "doc_id", "text", minJaccard = 0.1)
        .orderBy("doc_id")
    }, Oracle.Sql(
      s"""WITH RECURSIVE
         |two AS (SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
         |        FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
         |sp AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM two),
         |paras AS (SELECT sp.doc_id AS odoc, CAST(i AS BIGINT) AS pos,
         |                 sp.doc_id * 1048576 + CAST(i AS BIGINT) AS doc_id,
         |                 parts[i+1] AS text
         |          FROM sp, unnest(range(len(parts))) AS t(i)
         |          WHERE regexp_matches(parts[i+1], '\\S')),
         |sig AS (${minhashSigSqlOver("paras")}), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (${shingleSqlOver("paras")}),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM paras GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, p.doc_id AS doc_b
         |           FROM paras p JOIN exactg g ON sha256(p.text) = g.h
         |           WHERE p.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label)),
         |kept AS (SELECT odoc, pos, text FROM paras
         |         WHERE doc_id NOT IN (SELECT node FROM losers))
        |SELECT odoc AS doc_id, string_agg(text, chr(10) || chr(10) ORDER BY pos) AS text,
        |       count(*) AS n_kept
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── multi-benchmark decontamination REPORT: screen the corpus against
    // two labeled eval suites in ONE corpus pass; per-(doc, suite) distinct
    // contaminated-shingle counts, suites' shingles broadcast together.
    Query("q94_decontam_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val benches = docs.filter(col("doc_id") % 97 === 0)
        .select(lit("suiteA").as("bench_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 89 === 0)
          .select(lit("suiteB").as("bench_id"), col("text")))
      Dedup.decontaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0),
        benches, "doc_id", "text", "bench_id", n = 3)
        .orderBy("doc_id", "bench_id")
    }, Oracle.Sql(
      """WITH sp AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |tri AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM sp),
        |bench AS (
        | SELECT DISTINCT 'suiteA' AS bench_id, shingle FROM tri WHERE doc_id % 97 = 0
        | UNION
        | SELECT DISTINCT 'suiteB' AS bench_id, shingle FROM tri WHERE doc_id % 89 = 0)
        |SELECT c.doc_id, b.bench_id, count(*) AS n_hits
        |FROM tri c JOIN bench b USING (shingle)
        |WHERE c.doc_id % 97 <> 0 AND c.doc_id % 89 <> 0
        |GROUP BY 1, 2 ORDER BY doc_id, bench_id""".stripMargin)),

    // ── chunk-level dedup over CDC boundaries: each doc carries its own
    // text plus its successor's (the q82 overlap construction), so the
    // shared region chunks identically in both docs and collapses by
    // digest — the edit-resilient chunk dedup production pipelines run.
    Query("q100_dedup_chunks", (s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit(" "), col("__t2")).as("text"))
      Dedup.dedupChunks(twos, "doc_id", "text").orderBy("doc_id")
    }, Oracle.Sql(
      """WITH two AS (SELECT a.doc_id, a.text || ' ' || b.text AS text
        |             FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |sp AS (SELECT doc_id, string_split(text,' ') AS t FROM two),
        |c AS (SELECT doc_id, t, len(t) AS m,
        |       list_filter(range(3, len(t)),
        |        i -> ('0x' || substr(md5(t[i-2] || ' ' || t[i-1] || ' ' || t[i]), 1, 15))::BIGINT % 8 = 0) AS cuts
        |      FROM sp),
        |x AS (SELECT doc_id, t, m, cuts, unnest(range(0, len(cuts) + 1)) AS j FROM c),
        |y AS (SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
        |       CASE WHEN j = 0 THEN 0 ELSE cuts[j] END AS s,
        |       CASE WHEN j = len(cuts) THEN m ELSE cuts[j + 1] END AS e, t FROM x),
        |ch AS (SELECT doc_id, chunk_idx, array_to_string(t[s+1:e], ' ') AS ctext FROM y),
        |w AS (SELECT doc_id, chunk_idx, ctext,
        |       row_number() OVER (PARTITION BY ctext ORDER BY doc_id, chunk_idx) AS rn
        |      FROM ch)
        |SELECT doc_id, string_agg(ctext, ' ' ORDER BY chunk_idx) AS text,
        |       count(*) AS n_kept
        |FROM w WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── containment near-dup (asymmetric): corpus ∪ synthetic extensions
    // (every even doc also appears concatenated with its successor), so
    // genuine short-in-long containments exist; banded LSH candidates,
    // containment = |A∩B| / min(|A|,|B|), the smaller side flagged as
    // `contained`. Oracle restates the identical banded pipeline.
    Query("q107_containment_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ext = docs.filter(col("doc_id") % 2 === 0)
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" "), col("__t2")).as("text"))
      val corpus = docs.select("doc_id", "text").unionByName(ext)
      Dedup.containmentPairs(corpus, "doc_id", "text", minContainment = 0.5)
        .orderBy("doc_a", "doc_b")
    }, Oracle.Sql(
      s"""WITH corpus AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT a.doc_id + 100000 AS doc_id, a.text || ' ' || b.text AS text
         | FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         | WHERE a.doc_id % 2 = 0),
         |sig AS (${minhashSigSqlOver("corpus")}), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (${shingleSqlOver("corpus")}),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        | i.n_inter / CAST(least(za.sz, zb.sz) AS DOUBLE) AS containment,
        | CASE WHEN za.sz <= zb.sz THEN i.doc_a ELSE i.doc_b END AS contained
        |FROM inter i JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
        |WHERE i.n_inter / CAST(least(za.sz, zb.sz) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── per-doc boilerplate fraction: the q82 two-paragraph corpus, but
    // as a READ-ONLY report — paragraph digests aggregate to occurrence
    // counts, count joins back, per-doc rollup; paragraph text never
    // shuffles.
    Query("q121_boilerplate_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val twos = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2")),
          Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
      Dedup.boilerplateReport(twos, "doc_id", "text").orderBy("doc_id")
    }, Oracle.Sql(
      """WITH two AS (SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
        |             FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id),
        |p AS (SELECT doc_id, sha256(u) AS h
        |      FROM (SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS u
        |            FROM two)
        |      WHERE regexp_matches(u, '\S')),
        |occ AS (SELECT h, count(*) AS n FROM p GROUP BY 1)
        |SELECT p.doc_id, count(*) AS n_paras,
        | CAST(sum(CASE WHEN occ.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
        | sum(CASE WHEN occ.n > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM p JOIN occ USING (h)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ── EXACT prefix-filtered Jaccard self-join at 0.600 over corpus ∪
    // one-token-prepended copies of every 4th doc (guaranteed
    // high-Jaccard pairs) — all-integer thresholds, no LSH recall loss.
    // 3-gram shingles: the gram-space sizing rule again — this corpus's
    // tiny vocabulary makes every BIGRAM high-df (prefixes stop
    // discriminating and the candidate join quadratics), while the
    // trigram space (vocab³) keeps prefix grams rare.
    Query("q133_jaccard_exact", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("xqzw "), col("text")).as("text")))
      Dedup.jaccardJoinExact(corpus, "doc_id", "text", minJaccardPermille = 600,
        n = 3)
        .orderBy("doc_a", "doc_b")
    }, Oracle.Sql(
      // Identical prefix-filter semantics: rarest-first (df asc, token asc)
      // order, integer prefix length |s| - (|s|*600+999)//1000 + 1,
      // integer final gate n*1000 >= 600*(union).
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'xqzw ' || text AS text
        |  FROM documents WHERE doc_id % 4 = 0),
        |toks AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |         || ' ' || string_split(text, ' ')[i+2])) AS t
        |  FROM corpus WHERE len(string_split(text, ' ')) >= 3),
        |sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
        |f AS (SELECT t, count(*) AS df FROM toks GROUP BY 1),
        |pos AS (SELECT doc_id, t,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY df, t) AS pos
        |  FROM toks JOIN f USING (t)),
        |pref AS (SELECT p.doc_id, p.t FROM pos p JOIN sz USING (doc_id)
        |         WHERE p.pos <= sz - ((sz * 600 + 999) // 1000) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id),
        |i AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        |      FROM cand c JOIN toks ta ON ta.doc_id = c.doc_a
        |                  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.t = ta.t
        |      GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter, za.sz AS sz_a, zb.sz AS sz_b,
        | i.n_inter / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) AS jaccard
        |FROM i JOIN sz za ON za.doc_id = i.doc_a
        |       JOIN sz zb ON zb.doc_id = i.doc_b
        |WHERE i.n_inter * 1000 >= 600 * (za.sz + zb.sz - i.n_inter)
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── per-source duplication profile over corpus ∪ same-source copies
    // of every 5th doc: digests aggregate, text never shuffles.
    Query("q136_dup_profile", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("source"), col("text")))
      Dedup.duplicationProfile(corpus, "source", "text")
        .orderBy("source")
    }, Oracle.Sql(
      // Identical digest profile: md5 groups, BIGINT counts, exact division.
      """WITH corpus AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, source, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |g AS (SELECT source, md5(text) AS dig, count(*) AS n
        |      FROM corpus GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        | count(*) AS n_unique,
        | CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_frac
        |FROM g GROUP BY 1 ORDER BY source""".stripMargin)),

    // ── cross-source exact-overlap matrix: every 3rd doc mirrored into a
    // synthetic 'mirror' source — digest-keyed self-join, strata²-bounded.
    Query("q137_source_overlap", (s, dir) => {
      val docs = t(s, dir, "documents").select("source", "text")
      val corpus = docs.unionByName(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
          .select(lit("mirror").as("source"), col("text")))
      Dedup.strataOverlap(corpus, "source", "text")
        .orderBy("stratum_a", "stratum_b")
    }, Oracle.Sql(
      // Identical overlap matrix: distinct (stratum, digest), digest-keyed
      // self-join, unordered pairs once.
      """WITH corpus AS (SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 3 = 0),
        |sd AS (SELECT DISTINCT source AS s, md5(text) AS dig FROM corpus)
        |SELECT a.s AS stratum_a, b.s AS stratum_b, count(*) AS n_shared
        |FROM sd a JOIN sd b ON a.dig = b.dig AND a.s < b.s
        |GROUP BY 1, 2 ORDER BY stratum_a, stratum_b""".stripMargin)),

    // ── per-doc novelty: fraction of trigram shingles unique to the doc
    // corpus-wide — gram df joined back, exact BIGINT division.
    Query("q138_novelty", (s, dir) =>
      Dedup.noveltyReport(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id"),
      Oracle.Sql(
      // Identical trigram novelty: distinct per-doc shingles, corpus df,
      // exact BIGINT division.
      """WITH sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |         || ' ' || string_split(text, ' ')[i+2])) AS shingle
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |f AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        | CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS novelty
        |FROM sh JOIN f USING (shingle)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ── duplicate-family size histogram over corpus ∪ copies of every
    // 5th doc ∪ second copies of every 10th: families of size 1/2/3.
    Query("q140_dup_histogram", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"), col("text")))
      Dedup.dupFamilyHistogram(corpus, "text")
        .orderBy("family_size")
    }, Oracle.Sql(
      // Identical digest histogram over the same synthetic family sizes.
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 10 = 0),
        |fam AS (SELECT md5(text) AS dig, count(*) AS family_size
        |        FROM corpus GROUP BY 1)
        |SELECT family_size, count(*) AS n_families
        |FROM fam GROUP BY 1 ORDER BY family_size""".stripMargin)),

    // ── dedup audit over corpus ∪ exact copies of every 5th doc: one row
    // per doc with kept / dropped_exact / dropped_near and the cluster
    // survivor — every removal attributable; kept set ≡ dedupCorpus.
    Query("q156_dedup_audit", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.dedupAudit(corpus, "doc_id", "text", minJaccard = 0.1)
        .orderBy("doc_id")
    }, Oracle.Sql(
      // The q58 duplicate-graph chain over the copy-seeded corpus, with the
      // per-doc status/winner projection instead of the survivor filter.
      s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 5 = 0),
         |sig AS (${minhashSigSqlOver("corpus")}), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS (${shingleSqlOver("corpus")}),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM corpus GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM corpus d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node)
        |SELECT d.doc_id,
        | CASE WHEN d.doc_id IN (SELECT doc_b FROM exacte) THEN 'dropped_exact'
        |      WHEN c.comp IS NOT NULL AND c.comp <> d.doc_id THEN 'dropped_near'
        |      ELSE 'kept' END AS status,
        | coalesce(c.comp, d.doc_id) AS winner_id
        |FROM corpus d LEFT JOIN comp c ON c.node = d.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ── cluster-aware leakage-safe split: q126 extended to NEAR dups —
    // every doc in a verified duplicate cluster (the q58 graph) follows
    // its cluster representative's hash into train/test, closing the
    // near-copy contamination path exact-only splitting leaves open.
    Query("q171_cluster_split", (s, dir) =>
      Dedup.clusterSafeSplit(t(s, dir, "documents"), "doc_id", "text",
        minJaccard = 0.1, testPermille = 200, salt = "cs")
        .select("doc_id", "split")
        .orderBy("doc_id"),
      Oracle.Sql(
      // The q58 duplicate-graph chain, then the q126 permille hash on the
      // CLUSTER representative (coalesce(component, doc_id)) instead of
      // the exact-digest group representative.
      s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node)
        |SELECT d.doc_id,
        | CASE WHEN ('0x' || substr(md5('cs' || CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)),1,15))::BIGINT % 1000 < 200
        |      THEN 'test' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ── dedup threshold sweep: verified pairs per Jaccard band among
    // LSH-surfaced candidates + the descending-cumulative merge count —
    // the one-run tuning artifact for picking minJaccard. Integer-exact
    // band assignment (bins·n_inter div union).
    Query("q172_threshold_sweep", (s, dir) =>
      Dedup.thresholdSweep(t(s, dir, "documents"), "doc_id", "text",
        floor = 0.05, bins = 20)
        .orderBy("bin"),
      Oracle.Sql(
      // The q58 candidate/intersect chain at floor 0.05, then the
      // integer-exact band assignment and a bins-sized cumulative window.
      s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |pairs AS (
         | SELECT i.n_inter, za.szz AS sz_a, zb.szz AS sz_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.05),
         |b AS (
         | SELECT CAST(least((20 * n_inter) // (sz_a + sz_b - n_inter), 19) AS INT) AS bin,
         |        count(*) AS n_pairs
         | FROM pairs GROUP BY 1)
        |SELECT bin, round(CAST(bin AS DOUBLE) / 20, 4) AS bin_lo, n_pairs,
        | CAST(sum(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pairs
        |FROM b ORDER BY bin""".stripMargin)),

    // ── cross-source duplication matrix: verified near-dup pair counts
    // per unordered source pair — the mirror-detection diagnostic behind
    // drop-the-feed (vs per-doc dedup) mixing decisions.
    Query("q174_source_overlap", (s, dir) =>
      Dedup.crossSourceOverlap(t(s, dir, "documents"), "doc_id", "text",
        "source", minJaccard = 0.3)
        .orderBy("source_a", "source_b"),
      Oracle.Sql(
      // The q58 candidate/intersect chain at 0.3, sources joined on both
      // pair sides, least/greatest canonical cell order.
      s"""WITH sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.3)
        |SELECT least(da.source, db.source) AS source_a,
        | greatest(da.source, db.source) AS source_b,
        | count(*) AS n_pairs
        |FROM near p
        |JOIN documents da ON da.doc_id = p.doc_a
        |JOIN documents db ON db.doc_id = p.doc_b
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),

    // ── duplicate-cluster size histogram over the q58 graph: the dedup
    // budgeting diagnostic (pair-noise tail vs boilerplate giants);
    // unclustered docs are the sz=1 row.
    Query("q179_cluster_sizes", (s, dir) =>
      Dedup.clusterSizeHistogram(t(s, dir, "documents"), "doc_id", "text",
        minJaccard = 0.1)
        .orderBy("sz"),
      Oracle.Sql(
      // The q58 duplicate-graph chain, then component-size counts; the
      // singleton row is total docs minus clustered nodes.
      s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         |csize AS (SELECT comp, count(*) AS sz FROM comp GROUP BY 1),
         |hist AS (SELECT sz, count(*) AS n_clusters FROM csize GROUP BY 1),
         |singles AS (
         | SELECT CAST(1 AS BIGINT) AS sz,
         |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_clusters)
        |SELECT sz, CAST(n_clusters AS BIGINT) AS n_clusters FROM hist
        |UNION ALL SELECT sz, CAST(n_clusters AS BIGINT) FROM singles
        |ORDER BY sz""".stripMargin)),

    // ── MinHash-LSH banding planner: the datasketch optimal-(b, r)
    // search as a relation over the engine's own 8-hash signature —
    // fp/fn Riemann masses per split, minimum-score split flagged.
    Query("q239_banding_plan", (s, dir) =>
      graft.operators.Dedup.bandingPlan(s, threshold = 0.5, k = 8,
        grid = 100, fpWeight = 0.5, fnWeight = 0.5)
        .orderBy("rows_per_band"),
      Oracle.Sql(
      // Banding planner: identical splits, midpoint grid, 9-dp curve
      // points, decimal Riemann masses, 6-dp score, (score, bands DESC)
      // chosen window.
      """WITH sp AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8))
        |            AS t(bands, rows_per_band)),
        |g AS (SELECT (CAST(i AS DOUBLE) + 0.5) / 100 AS s FROM range(100) r(i)),
        |p AS (SELECT bands, rows_per_band, s,
        |  round(1.0 - pow(1.0 - pow(s, rows_per_band), bands), 9) AS p
        | FROM sp, g),
        |agg AS (SELECT bands, rows_per_band,
        |  round(CAST(sum(CASE WHEN s < 0.5 THEN CAST(p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fp,
        |  round(CAST(sum(CASE WHEN s >= 0.5 THEN CAST(1.0 - p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fn
        | FROM p GROUP BY 1, 2),
        |sc AS (SELECT bands, rows_per_band, fp, fn,
        |  round(0.5 * fp + 0.5 * fn, 6) AS score FROM agg)
        |SELECT bands, rows_per_band, fp, fn, score,
        | row_number() OVER (ORDER BY score, bands DESC) = 1 AS chosen
        |FROM sc ORDER BY rows_per_band""".stripMargin)),

    // ── dedup ROI: the q58 duplicate graph's per-doc verdicts rolled up
    // into the "what did dedup actually buy" report — docs and tokens
    // kept vs dropped, per source.
    Query("q230_dedup_roi", (s, dir) => {
      val docs = t(s, dir, "documents")
      val audit = Dedup.dedupAudit(docs.select("doc_id", "text"),
        "doc_id", "text", minJaccard = 0.1)
      val toks = docs.select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("__toks"))
      audit.join(toks, "doc_id")
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("n_tokens"))
        .orderBy("source", "status")
    }, Oracle.Sql(
      // Dedup ROI: the q58 chain verbatim (bands → Jaccard-verified near
      // edges ∪ exact-digest edges → recursive min-label closure), labels
      // exactly like q156, rolled up with the token counts.
      s"""WITH RECURSIVE sig AS ($minhashSigSql), bands AS ($bandsSql),
         |cand AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleSql),
         |sz AS (SELECT doc_id, count(*) AS szz FROM sh GROUP BY 1),
         |inter AS (
         | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         | FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         | GROUP BY 1, 2),
         |near AS (
         | SELECT i.doc_a, i.doc_b FROM inter i
         | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
         | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
         |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM documents GROUP BY 1),
         |exacte AS (SELECT g.canon AS doc_a, d.doc_id AS doc_b
         |           FROM documents d JOIN exactg g ON sha256(d.text) IS NOT DISTINCT FROM g.h
         |           WHERE d.doc_id <> g.canon),
         |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
         |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
         |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
         |cc(node, label) AS (
         | SELECT nn, nn FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
         |comp AS (SELECT node, min(label) AS comp FROM cc GROUP BY node),
         |lab AS (
         | SELECT d.doc_id, d.source,
         |  CAST(len(list_filter(string_split(d.text, ' '), t -> t <> '')) AS BIGINT) AS toks,
         |  CASE WHEN d.doc_id IN (SELECT doc_b FROM exacte) THEN 'dropped_exact'
         |       WHEN c.comp IS NOT NULL AND c.comp <> d.doc_id THEN 'dropped_near'
         |       ELSE 'kept' END AS status
         | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT source, status, count(*) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM lab GROUP BY 1, 2 ORDER BY source, status""".stripMargin))
  )
}
