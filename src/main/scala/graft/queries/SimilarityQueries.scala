package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity}
import graft.queries.Shared._

/** Queries over [[graft.operators.Similarity]] other than ANN retrieval:
  * embedding near-dups, centroids, k-means, geometry and eval reports.
  */
private[graft] object SimilarityQueries {

  val all: Seq[Query] = Seq(

    // ── embedding near-dup: cosine-threshold pairs, LSH-BUCKETED (the
    // scale plan — candidates are same-or-1-bit-adjacent hyperplane
    // buckets, never an all-pairs cross join; the oracle restates the
    // identical bucketed pipeline).
    Query("q25_embedding_neardup", (s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b"),
      Oracle.Sql(
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM v)
        |SELECT a.vec_id AS id_a, c.vec_id AS id_b
        |FROM b a JOIN b c ON a.vec_id < c.vec_id
        |WHERE bit_count(xor(a.bucket, c.bucket)) <= 1
        |  AND list_cosine_similarity(a.v, c.v) > 0.4
        |ORDER BY 1, 2""".stripMargin)),

    // ── SEMANTIC dedup: the two operator families composed — embedding
    // near-dup edges (LSH-bucketed cosine pairs, the q25 pipeline) fed
    // through connected components; survivors = min vec_id per cluster.
    // The "dedup by meaning, not text" production shape.
    Query("q73_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      emb.select(col("vec_id"))
        .join(Dedup.connectedComponents(edges)
          .filter(col("node") =!= col("component"))
          .select(col("node").as("vec_id")), Seq("vec_id"), "left_anti")
        .orderBy("vec_id")
    }, Oracle.Sql(
      s"""WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM v),
         |pairs AS (
         | SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
         | FROM b a JOIN b c ON a.vec_id < c.vec_id
         | WHERE bit_count(xor(a.bucket, c.bucket)) <= 1
         |   AND list_cosine_similarity(a.v, c.v) > 0.4),
         |nodes(n) AS (SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs),
         |und(ua, ub) AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         |cc(node, label) AS (
         | SELECT n, n FROM nodes
         | UNION
         | SELECT u.ub, cc.label FROM cc JOIN und u ON u.ua = cc.node WHERE cc.label < u.ub),
         |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label))
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT node FROM losers) ORDER BY vec_id""".stripMargin)),

    // ── embedding int8 quantization (training-data prep): per-vector
    // scale + quantized summary stats (scalar outputs keep the oracle
    // hash-comparable).
    Query("q48_embed_quantize", (s, dir) => {
      val q = Similarity.quantizeInt8(col("embedding"))
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.quantizeScale(col("embedding")).as("scale"),
          aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(q).as("q_min"), array_max(q).as("q_max"))
        .orderBy("vec_id")
    }, Oracle.Sql(
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
        |  THEN 127.0 / list_max(list_transform(v, x -> abs(x))) ELSE 0.0 END AS scale FROM v),
        |q AS (SELECT vec_id, scale, list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv FROM s)
        |SELECT vec_id, scale, CAST(list_sum(qv) AS BIGINT) AS q_sum,
        | CAST(list_min(qv) AS BIGINT) AS q_min, CAST(list_max(qv) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin)),

    // ── embedding near-dup, BANDED generator (the past-5M scale plan):
    // 3 independent 4-plane hyperplane tables, candidates = same bucket
    // in ANY table, one distinct, exact cosine verify — the oracle
    // restates the identical banded pipeline.
    Query("q81_neardup_banded", (s, dir) =>
      Similarity.nearDupPairsBanded(t(s, dir, "embeddings"), "vec_id", "embedding",
        0.4, planes = 4, tables = 3)
        .orderBy("id_a", "id_b"),
      Oracle.Sql(
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v", 4, 0)} AS b0,
         |             ${lshBucketSql("v", 4, 4)} AS b1,
         |             ${lshBucketSql("v", 4, 8)} AS b2 FROM v)
        |SELECT a.vec_id AS id_a, c.vec_id AS id_b
        |FROM b a JOIN b c ON a.vec_id < c.vec_id
        |WHERE (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2)
        |  AND list_cosine_similarity(a.v, c.v) > 0.4
        |ORDER BY 1, 2""".stripMargin)),

    // ── cross-side embedding near-dup drop (semantic decontamination /
    // vector daily-ingest): every third vector is the "incoming" batch,
    // the rest the corpus; candidates via banded LSH BETWEEN sides only.
    Query("q85_embed_drop_against", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.dropNearDupsAgainst(
        emb.filter(col("vec_id") % 3 === 0), emb.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", 0.4, planes = 4, tables = 3)
        .select("vec_id").orderBy("vec_id")
    }, Oracle.Sql(
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v", 4, 0)} AS b0,
         |             ${lshBucketSql("v", 4, 4)} AS b1,
         |             ${lshBucketSql("v", 4, 8)} AS b2 FROM v),
        |inc AS (SELECT * FROM b WHERE vec_id % 3 = 0),
        |ex AS (SELECT * FROM b WHERE vec_id % 3 <> 0),
        |losers AS (SELECT DISTINCT i.vec_id FROM inc i JOIN ex e
        |  ON (i.b0 = e.b0 OR i.b1 = e.b1 OR i.b2 = e.b2)
        | WHERE list_cosine_similarity(i.v, e.v) > 0.4)
        |SELECT vec_id FROM inc WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id""".stripMargin)),

    // ── per-label embedding centroids: labels × dims mean-coordinate
    // table (map-side-combined partial sums; 6-dp rounding absorbs float
    // sum order).
    Query("q112_label_centroids", (s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"), "embedding", "label")
        .orderBy("label", "dim"),
      Oracle.Sql(
      """SELECT label, CAST(j - 1 AS BIGINT) AS dim,
        | round(avg(CAST(embedding[j] AS DOUBLE)), 6) + 0.0 AS centroid,
        | count(*) AS n_vecs
        |FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin)),

    // ── per-label medoid: the member vector most cosine-similar to its
    // label centroid — argmax via labels-sized agg + equi-join back, ties
    // on the rounded sim break to the smallest id. No member window.
    Query("q113_label_medoids", (s, dir) =>
      Similarity.labelMedoids(t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("label"),
      Oracle.Sql(
      """WITH cen AS (
        | SELECT label, CAST(j - 1 AS BIGINT) AS dim,
        |  round(avg(CAST(embedding[j] AS DOUBLE)), 6) + 0.0 AS centroid
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g GROUP BY 1, 2),
        |ex AS (
        | SELECT label, vec_id, CAST(j - 1 AS BIGINT) AS dim,
        |  CAST(embedding[j] AS DOUBLE) AS v
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g),
        |sims AS (
        | SELECT e.label, e.vec_id,
        |  round(sum(e.v * c.centroid)
        |        / (sqrt(sum(e.v * e.v)) * sqrt(sum(c.centroid * c.centroid))), 6) + 0.0 AS sim
        | FROM ex e JOIN cen c ON c.label = e.label AND c.dim = e.dim
        | GROUP BY 1, 2),
        |best AS (SELECT label, max(sim) AS sim FROM sims GROUP BY 1)
        |SELECT s.label, min(s.vec_id) AS medoid_id, s.sim
        |FROM sims s JOIN best USING (label, sim)
        |GROUP BY s.label, s.sim ORDER BY label""".stripMargin)),

    // ── per-label embedding dispersion E||x−c||² via the centroid trick
    // — no pairwise distances; decimal-summed row norms, 6-dp out.
    Query("q139_label_dispersion", (s, dir) =>
      graft.operators.Similarity.labelDispersion(
        t(s, dir, "embeddings"), "embedding", "label")
        .orderBy("label"),
      Oracle.Sql(
      // Identical centroid-trick dispersion: ordered-fold row norms
      // quantized to DECIMAL(28,12) (exact mean), 6-dp centroids, 6-dp out.
      """WITH cen AS (SELECT label, j AS dim,
        |  round(avg(CAST(embedding[j] AS DOUBLE)), 6) AS c, count(*) AS n
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS j) g
        |  GROUP BY 1, 2),
        |cn AS (SELECT label, sum(c * c) AS c2, max(n) AS n_vecs FROM cen GROUP BY 1),
        |nr AS (SELECT label,
        |  CAST(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |    (a, b) -> a + b) AS DECIMAL(28,12)) AS n2
        |  FROM embeddings),
        |av AS (SELECT label, CAST(sum(n2) AS DOUBLE) / count(*) AS avg2
        |       FROM nr GROUP BY 1)
        |SELECT av.label, cn.n_vecs, round(av.avg2 - cn.c2, 6) + 0.0 AS dispersion
        |FROM av JOIN cn USING (label)
        |ORDER BY label""".stripMargin)),

    // ── embedding covariance matrix: raw-moment single-pass d² table,
    // decimal-exact sums (the PCA/whitening/drift input).
    Query("q162_embedding_cov", (s, dir) =>
      graft.operators.Similarity.covarianceMatrix(
        t(s, dir, "embeddings"), "embedding")
        .orderBy("i", "j"),
      Oracle.Sql(
      // Same raw-moment formulation, same DECIMAL(38,12) order-independent
      // sums, same one-shot double arithmetic — DuckDB's 1-based list
      // indexing offset by the range() zero base. The trailing `+ 0.0`
      // matches the Spark arm's zround: DuckDB's round keeps IEEE -0.0 for
      // tiny-negative cells, Spark's BigDecimal round has no signed zero —
      // both arms canonicalize to +0.0 (the round-10 q162 hash defect).
      """SELECT r1.i AS i, r2.j AS j,
        | round((CAST(sum(CAST(CAST(embedding[CAST(r1.i AS INT) + 1] AS DOUBLE)
        |                   * CAST(embedding[CAST(r2.j AS INT) + 1] AS DOUBLE)
        |                   AS DECIMAL(38,12))) AS DOUBLE)
        |        - CAST(sum(CAST(CAST(embedding[CAST(r1.i AS INT) + 1] AS DOUBLE)
        |                        AS DECIMAL(38,12))) AS DOUBLE)
        |          * CAST(sum(CAST(CAST(embedding[CAST(r2.j AS INT) + 1] AS DOUBLE)
        |                          AS DECIMAL(38,12))) AS DOUBLE)
        |          / count(*)) / count(*),
        |       6) + 0.0 AS cov
        |FROM embeddings, range(64) r1(i), range(64) r2(j)
        |GROUP BY r1.i, r2.j
        |ORDER BY i, j""".stripMargin)),

    // ── distributed Lloyd k-means over the full embedding corpus
    // (k=4, 2 full assign→update steps, deterministic min-id init):
    // per-row argmin over the literal codebook, decimal-exact centroid
    // updates, 6-dp distance rounding + id tiebreak so assignments are
    // engine-identical — the mixture-profiling clustering.
    Query("q183_kmeans", (s, dir) =>
      Similarity.kmeansLloyd(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2)
        .orderBy("vec_id"),
      Oracle.Sql(
      // The identical Lloyd chain unrolled as CTEs: 9-dp component entry,
      // decimal-exact per-(cluster, pos) centroid sums, 6-dp distance +
      // cluster-id tiebreak argmin — iter CTEs generated to match the
      // operator's iters exactly.
      kmeansOracleSql(k = 4, iters = 2, dim = 64))),

    // ── corpus similarity structure: cosine histogram (0.05 bins) over
    // the deterministic (i, i+137) pair sample — the "is my embedding
    // space collapsing" diagnostic, linear in rows via an equi-join
    // (never all-pairs; the offset is coprime-ish to the id space).
    Query("q195_cos_histogram", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id"), col("embedding").as("va"))
      val b = e.select((col("vec_id") - 137L).as("id"), col("embedding").as("vb"))
      a.join(b, Seq("id"))
        .select(round(Similarity.cosine(col("va"), col("vb")), 6).as("cos"))
        .select(floor(col("cos") * 20).cast("int").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }, Oracle.Sql(
      // Deterministic (i, i+137) pair sample, 6-dp cosine, 0.05-wide bins.
      """WITH v AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |p AS (SELECT a.v AS va, b.v AS vb
        |      FROM v a JOIN v b ON b.vec_id = a.vec_id + 137),
        |c AS (SELECT round(list_cosine_similarity(va, vb), 6) AS cos FROM p)
        |SELECT CAST(floor(cos * 20) AS INT) AS bin, count(*) AS n
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── hard-negative mining: per sampled query vector, top-5 corpus
    // neighbors with cosine in [0.05, 0.6) — similar enough to be hard,
    // capped below the near-positive band so positives never leak into
    // the negative set. Bounded-query eval contract (q153); ranking via
    // the q26 bounded-heap aggregate.
    Query("q211_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, minCos = 0.05, maxCos = 0.6)
        .orderBy("query_id", "rn")
    }, Oracle.Sql(
      // Hard negatives: the q26 exact-cosine chain with the dot/norm
      // fold stated in Spark's exact shape (in-order list_reduce sums,
      // √·√ per side) so the band filter sees identical doubles; per-query
      // rank over the banded pairs only.
      """WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |       list_reduce(list_transform(range(1, 65), j -> cv[j] * qv[j]), (a, b) -> a + b)
        |        / (sqrt(list_reduce(list_transform(range(1, 65), j -> cv[j] * cv[j]), (a, b) -> a + b))
        |           * sqrt(list_reduce(list_transform(range(1, 65), j -> qv[j] * qv[j]), (a, b) -> a + b))) AS cos
        |      FROM c, q WHERE neighbor_id <> query_id),
        |b AS (SELECT * FROM s WHERE cos >= 0.05 AND cos < 0.6),
        |r AS (SELECT query_id, neighbor_id, cos,
        |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
        |      FROM b)
        |SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cos, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ── banded SemDeDup: q220's clustering/verify/audit with the
    // candidate stage BOUNDED by in-cluster LSH banding — candidates
    // must share a k-means cluster AND a band bucket in >= 1 of 3
    // tables, so per-cluster pair budgets cap at tables·|cluster|/2^planes
    // (the scale path that retires the flat Σ|cluster|² contract).
    Query("q233_semantic_dedup_banded", (s, dir) =>
      Similarity.semanticDedupBanded(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, k = 4, iters = 2, planes = 4,
        tables = 3)
        .orderBy("vec_id"),
      Oracle.Sql(
      // Banded SemDeDup: the q220 oracle with the candidate stage
      // additionally gated on sharing an LSH band bucket in >= 1 of the 3
      // independent tables (the q81 lshBucketSql twins at plane offsets
      // 0/4/8) — same exact-threshold verification, same recursive
      // min-label closure, same audit shape.
      {
      val chain = kmeansCtes(4, 2, 64, off = 0, sfx = "")
        .replaceAll("AS \\(", "AS MATERIALIZED (")
      s"""WITH RECURSIVE $chain,
         |vv AS MATERIALIZED (
         | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         | FROM embeddings),
         |nn AS MATERIALIZED (
         | SELECT vec_id,
         |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
         | FROM vv),
         |bk AS MATERIALIZED (
         | SELECT vec_id, ${lshBucketSql("v", 4, 0)} AS b0,
         |        ${lshBucketSql("v", 4, 4)} AS b1,
         |        ${lshBucketSql("v", 4, 8)} AS b2 FROM vv),
         |ed AS MATERIALIZED (
         | SELECT aa.vec_id AS doc_a, ab.vec_id AS doc_b
         | FROM a3 aa JOIN a3 ab
         |   ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
         | JOIN bk ba ON ba.vec_id = aa.vec_id
         | JOIN bk bb ON bb.vec_id = ab.vec_id
         | JOIN vv va ON va.vec_id = aa.vec_id
         | JOIN vv vb ON vb.vec_id = ab.vec_id
         | JOIN nn na ON na.vec_id = aa.vec_id
         | JOIN nn nb ON nb.vec_id = ab.vec_id
         | WHERE (ba.b0 = bb.b0 OR ba.b1 = bb.b1 OR ba.b2 = bb.b2)
         |   AND na.n > 0 AND nb.n > 0
         |   AND list_reduce(list_transform(range(1, 65), j -> va.v[j] * vb.v[j]),
         |        (a, b) -> a + b) / (na.n * nb.n) >= 0.4),
         |nodes(nd) AS (SELECT doc_a FROM ed UNION SELECT doc_b FROM ed),
         |und(a, b) AS (SELECT doc_a, doc_b FROM ed
         |              UNION SELECT doc_b, doc_a FROM ed),
         |cc(node, label) AS (
         | SELECT nd, nd FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node
         | WHERE cc.label < u.b),
         |m AS (SELECT node, min(label) AS component FROM cc GROUP BY node)
         |SELECT e.vec_id,
         | CASE WHEN m.component IS NOT NULL AND m.component <> e.vec_id
         |      THEN 'dropped_semantic' ELSE 'kept' END AS status,
         | coalesce(m.component, e.vec_id) AS winner_id
         |FROM embeddings e LEFT JOIN m ON m.node = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    })),

    // ── k-NN label consistency: per label, the fraction of query
    // vectors whose 5 nearest neighbors majority-vote the query's own
    // label — the supervised embedding-quality gate (count ties break
    // to the lexicographically smallest label).
    Query("q237_knn_label_consistency", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnLabelConsistency(emb, evalSampleN(emb, "vec_id", 64),
        "vec_id", "embedding", "label", k = 5)
        .orderBy("label")
    }, Oracle.Sql(
      // k-NN label consistency: the q26 brute-force ranking (cos desc, id
      // ties, zero-norm drops on both sides) + per-query vote counts +
      // the (count DESC, label ASC) majority window + per-label rollup.
      s"""WITH ${evalSampleNCte("qse64", "embeddings", "vec_id", 64)},
        |c AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nm
        | FROM c),
        |q AS (SELECT c.vec_id, c.label, c.v FROM c
        |      JOIN n ON n.vec_id = c.vec_id
        |      WHERE c.vec_id IN (SELECT vec_id FROM qse64) AND n.nm > 0),
        |nn AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, cn.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(cn.v, q.v) DESC, cn.vec_id) AS rn
        |  FROM q JOIN c cn ON cn.vec_id <> q.vec_id
        |  JOIN n nc ON nc.vec_id = cn.vec_id AND nc.nm > 0) WHERE rn <= 5),
        |votes AS (SELECT nn.query_id, cl.label AS nl, count(*) AS c
        |          FROM nn JOIN c cl ON cl.vec_id = nn.neighbor_id
        |          WHERE cl.label IS NOT NULL GROUP BY 1, 2),
        |maj AS (SELECT query_id, nl AS knn_label FROM (
        |  SELECT query_id, nl,
        |   row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nl ASC) AS vr
        |  FROM votes) WHERE vr = 1)
        |SELECT q.label, count(*) AS n_queries,
        | CAST(sum(CASE WHEN m.knn_label = q.label THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        | round(CAST(sum(CASE WHEN m.knn_label = q.label THEN 1 ELSE 0 END) AS DOUBLE)
        |       / count(*), 6) AS consistency
        |FROM q JOIN maj m ON m.query_id = q.vec_id
        |GROUP BY 1 ORDER BY q.label""".stripMargin)),

    // ── two-NN intrinsic dimension (Facco et al. MLE): one row —
    // n / Σ ln(d2/d1) over the query sample, 6-dp distances, 9-dp
    // decimal log sums; duplicate-neighbor queries (d1 = 0) drop.
    Query("q238_intrinsic_dimension", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.intrinsicDimensionTwoNN(emb,
        evalSampleN(emb, "vec_id", 64), "vec_id", "embedding")
    }, Oracle.Sql(
      // Two-NN intrinsic dimension: squared distances via the SAME
      // |a|^2 - 2ab + |b|^2 fold order at 6 dp, (d2 asc, id asc) ranks,
      // 9-dp decimal log-mu sums (the q79 recipe), one terminal division.
      s"""WITH c AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |${evalSampleNCte("qse64", "embeddings", "vec_id", 64)},
        |q AS (SELECT vec_id, v FROM c JOIN qse64 USING (vec_id)),
        |d AS (SELECT q.vec_id AS query_id, cn.vec_id AS neighbor_id,
        |  round(list_reduce(list_transform(range(1, 65), j -> cn.v[j] * cn.v[j]), (a, b) -> a + b)
        |   - 2.0 * list_reduce(list_transform(range(1, 65), j -> cn.v[j] * q.v[j]), (a, b) -> a + b)
        |   + list_reduce(list_transform(range(1, 65), j -> q.v[j] * q.v[j]), (a, b) -> a + b), 6) AS d2
        | FROM q JOIN c cn ON cn.vec_id <> q.vec_id),
        |r AS (SELECT query_id, d2,
        |  row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rn
        | FROM d),
        |tw AS (SELECT a.query_id, a.d2 AS d1, b.d2 AS dd2
        |       FROM r a JOIN r b ON a.query_id = b.query_id AND a.rn = 1 AND b.rn = 2
        |       WHERE a.d2 > 0),
        |lm AS (SELECT query_id, round(0.5 * ln(dd2 / d1), 9) AS logmu FROM tw)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | round(CAST(sum(CAST(logmu AS DECIMAL(28,12))) AS DOUBLE), 6) AS sum_log_mu,
        | round(CAST(count(*) AS DOUBLE) /
        |  (CASE WHEN sum(CAST(logmu AS DECIMAL(28,12))) > 0
        |        THEN CAST(sum(CAST(logmu AS DECIMAL(28,12))) AS DOUBLE) END), 6)
        |  AS id_estimate
        |FROM lm""".stripMargin)),

    // ── banded near-dup recall gate: exhaustive vs banded pair counts
    // on the 256-winner absolute sample — "is my planes/tables sizing
    // safe on MY data", one row; the O(m²) arm is pinned at 256²/2
    // pairs at any corpus size.
    Query("q240_neardup_recall", (s, dir) =>
      Similarity.nearDupRecallReport(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, planes = 4, tables = 3,
        sampleRows = 256),
      Oracle.Sql(
      // Near-dup recall gate: the q60 md5-permille sample + the q25-style
      // division-free exact pairs + the q81 three-table bucket collision
      // (banded pairs = exact pairs that collide in >= 1 table).
      s"""WITH ${evalSampleNCte("qse", "embeddings", "vec_id", 256)},
         |s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings JOIN qse USING (vec_id)),
         |n AS (SELECT vec_id,
         |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nm FROM s),
         |ex AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         | FROM s a JOIN s b ON a.vec_id < b.vec_id
         | JOIN n na ON na.vec_id = a.vec_id
         | JOIN n nb ON nb.vec_id = b.vec_id
         | WHERE list_reduce(list_transform(range(1, 65), j -> a.v[j] * b.v[j]),
         |        (x, y) -> x + y) > 0.4 * na.nm * nb.nm),
         |bk AS (SELECT vec_id, ${lshBucketSql("v", 4, 0)} AS b0,
         |       ${lshBucketSql("v", 4, 4)} AS b1,
         |       ${lshBucketSql("v", 4, 8)} AS b2 FROM s),
         |bd AS (SELECT e.id_a, e.id_b FROM ex e
         | JOIN bk x ON x.vec_id = e.id_a
         | JOIN bk y ON y.vec_id = e.id_b
         | WHERE x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2)
         |SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         | CAST((SELECT count(*) FROM bd) AS BIGINT) AS n_banded,
         | round(CAST((SELECT count(*) FROM bd) AS DOUBLE) /
         |  (CASE WHEN (SELECT count(*) FROM ex) > 0
         |        THEN CAST((SELECT count(*) FROM ex) AS DOUBLE) END), 6) AS recall""".stripMargin)),

    // ── embedding anisotropy: mean (and mean-absolute) 6-dp pairwise
    // cosine over a 5% hash sample — one row; near-zero mean = healthy
    // isotropic geometry, high mean = a shared dominant direction
    // compressing every cosine score into a narrow band.
    Query("q253_anisotropy", (s, dir) =>
      Similarity.anisotropyReport(
        evalSampleN(t(s, dir, "embeddings"), "vec_id", 64),
        "vec_id", "embedding", dim = 64),
      Oracle.Sql(
      // Anisotropy: all pairs of the 64-winner absolute hash sample, the
      // Spark-shaped explicit cosine fold (products fold / norm-fold
      // product) rounded onto DECIMAL(9,6), exact decimal sums, one
      // terminal division each. The 64-wide width guard states the
      // operator's dim rule (the jlWidthGuardSql precedent) — the
      // range(1, 65) fold below assumes it.
      s"""WITH ${evalSampleNCte("qse", "embeddings", "vec_id", 64)},
         |v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |            FROM embeddings JOIN qse USING (vec_id)
         |            ${jlWidthGuardSql()}),
         |n AS (SELECT vec_id, v,
         |       sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nn
         |      FROM v0),
         |p AS (SELECT CAST(round(
         |        list_reduce(list_transform(range(1, 65), j -> a.v[j] * b.v[j]), (x, y) -> x + y)
         |         / (a.nn * b.nn), 6) AS DECIMAL(9,6)) AS c
         |      FROM n a JOIN n b ON a.vec_id < b.vec_id
         |      WHERE a.nn > 0 AND b.nn > 0)
         |SELECT (SELECT count(*) FROM n WHERE nn > 0) AS n_vectors,
         | count(*) AS n_pairs,
         | round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_cos,
         | round(CAST(sum(abs(c)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_abs_cos
         |FROM p""".stripMargin)),

    // ── per-label anisotropy: q253's slice view — within-group pair
    // cosines only, one row per label, single-member groups kept with
    // zero pairs and null means; "which slice's embedding region
    // collapsed" as a relation.
    Query("q259_anisotropy_by_label", (s, dir) =>
      Similarity.anisotropyReportByGroup(
        evalSampleN(t(s, dir, "embeddings"), "vec_id", 64),
        "vec_id", "embedding", "label", dim = 64)
        .orderBy("label"),
      Oracle.Sql(
      // Per-label anisotropy: the q253 fold chain (same 64-winner sample
      // and width guard) with the pair join keyed on label, per-group
      // rollup, and the left join that keeps single-member labels as
      // zero-pair rows.
      s"""WITH ${evalSampleNCte("qse", "embeddings", "vec_id", 64)},
         |v0 AS (SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |            FROM embeddings JOIN qse USING (vec_id)
         |            ${jlWidthGuardSql()}),
         |g AS (SELECT label, vec_id, v,
         |       sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nn
         |      FROM v0
         |      WHERE sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) > 0),
         |p AS (SELECT a.label, CAST(round(
         |        list_reduce(list_transform(range(1, 65), j -> a.v[j] * b.v[j]), (x, y) -> x + y)
         |         / (a.nn * b.nn), 6) AS DECIMAL(9,6)) AS c
         |      FROM g a JOIN g b ON a.label = b.label AND a.vec_id < b.vec_id),
         |pr AS (SELECT label, count(*) AS n_pairs,
         |        round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_cos,
         |        round(CAST(sum(abs(c)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_abs_cos
         |       FROM p GROUP BY 1),
         |nv AS (SELECT label, count(*) AS n_vectors FROM g GROUP BY 1)
         |SELECT nv.label, nv.n_vectors, coalesce(pr.n_pairs, 0) AS n_pairs,
         | pr.mean_cos, pr.mean_abs_cos
         |FROM nv LEFT JOIN pr USING (label) ORDER BY nv.label""".stripMargin)),

    // ── cluster-balanced (diversity) selection: k-means assignment
    // bounds the strata, then a uniform content-hash lottery keeps 5 per
    // cluster — the coreset/SemDeDup-adjacent "cover the space, not the
    // density" curation pick.
    Query("q254_cluster_balanced", (s, dir) => {
      val assigned = Similarity.kmeansLloyd(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2)
      Sampling.uniformKPerGroup(assigned, "vec_id", "cluster", k = 5)
        .orderBy("cluster", "rn")
    }, Oracle.Sql(
      // Cluster-balanced selection: the q183 k-means chain (k=8, 2
      // iterations, 64 dims) + the q205 content-hash lottery per cluster.
      "WITH " + kmeansCtes(8, 2, 64, off = 0, sfx = "") + ",\n" +
        """h AS (SELECT cluster, vec_id,
          |  ('0x' || substr(md5('us' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
          |   % 1125899906842624 AS hv
          | FROM a3),
          |rk AS (SELECT cluster, vec_id,
          |  CAST(row_number() OVER (PARTITION BY cluster ORDER BY hv, vec_id) AS BIGINT) AS rn
          | FROM h)
          |SELECT CAST(cluster AS INT) AS cluster, vec_id, rn
          |FROM rk WHERE rn <= 5 ORDER BY cluster, rn""".stripMargin)),

    // ── hyperplane-banding recall planner: bandingPlan's embedding twin
    // — fp/fn Riemann masses of the any-of-3-tables collision curve in
    // angle space per candidate planes value; 0.369 ≈ acos(0.4)/π, the
    // q240 family's cosine threshold restated as an angle fraction.
    Query("q244_banded_recall_plan", (s, dir) =>
      Similarity.bandedRecallPlan(s, angleThreshold = 0.369,
        planesGrid = Seq(2, 4, 6, 8), tables = 3, grid = 100,
        fpWeight = 0.5, fnWeight = 0.5)
        .orderBy("planes"),
      Oracle.Sql(
      // Banded recall planner: identical angle grid, 9-dp collision curve
      // points, decimal Riemann masses, 6-dp score, (score, planes DESC)
      // chosen window — the q239 recipe in angle space.
      """WITH sp AS (SELECT * FROM (VALUES (2), (4), (6), (8)) t(planes)),
        |g AS (SELECT (CAST(i AS DOUBLE) + 0.5) / 100 AS t FROM range(100) r(i)),
        |p AS (SELECT planes, t,
        |  round(1.0 - pow(1.0 - pow(1.0 - t, planes), 3), 9) AS p
        | FROM sp, g),
        |agg AS (SELECT planes,
        |  round(CAST(sum(CASE WHEN t > 0.369 THEN CAST(p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fp,
        |  round(CAST(sum(CASE WHEN t <= 0.369 THEN CAST(1.0 - p AS DECIMAL(28,12))
        |                      ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE) / 100, 6) AS fn
        | FROM p GROUP BY 1),
        |sc AS (SELECT planes, 3 AS tables, fp, fn,
        |  round(0.5 * fp + 0.5 * fn, 6) AS score FROM agg)
        |SELECT planes, tables, fp, fn, score,
        | row_number() OVER (ORDER BY score, planes DESC) = 1 AS chosen
        |FROM sc ORDER BY planes""".stripMargin)),

    // ── SemDeDup: k-means clusters bound the candidate set, exact cosine
    // welds within-cluster pairs, components keep their smallest id —
    // the embedding-space dedup production recipe (q58's audit shape).
    Query("q220_semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, k = 4, iters = 2)
        .orderBy("vec_id"),
      Oracle.Sql(
      // SemDeDup: the q183 kmeans chain (MATERIALIZED — multiply
      // referenced) + within-cluster pairs through the q211 exact cosine
      // fold + the q197 recursive min-label closure (recursive members
      // stay plain — DuckDB cannot materialize them).
      {
      val chain = kmeansCtes(4, 2, 64, off = 0, sfx = "")
        .replaceAll("AS \\(", "AS MATERIALIZED (")
      s"""WITH RECURSIVE $chain,
         |vv AS MATERIALIZED (
         | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         | FROM embeddings),
         |nn AS MATERIALIZED (
         | SELECT vec_id,
         |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
         | FROM vv),
         |ed AS MATERIALIZED (
         | SELECT aa.vec_id AS doc_a, ab.vec_id AS doc_b
         | FROM a3 aa JOIN a3 ab
         |   ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
         | JOIN vv va ON va.vec_id = aa.vec_id
         | JOIN vv vb ON vb.vec_id = ab.vec_id
         | JOIN nn na ON na.vec_id = aa.vec_id
         | JOIN nn nb ON nb.vec_id = ab.vec_id
         | WHERE na.n > 0 AND nb.n > 0
         |   AND list_reduce(list_transform(range(1, 65), j -> va.v[j] * vb.v[j]),
         |        (a, b) -> a + b) / (na.n * nb.n) >= 0.4),
         |nodes(nd) AS (SELECT doc_a FROM ed UNION SELECT doc_b FROM ed),
         |und(a, b) AS (SELECT doc_a, doc_b FROM ed
         |              UNION SELECT doc_b, doc_a FROM ed),
         |cc(node, label) AS (
         | SELECT nd, nd FROM nodes
         | UNION
         | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node
         | WHERE cc.label < u.b),
         |m AS (SELECT node, min(label) AS component FROM cc GROUP BY node)
         |SELECT e.vec_id,
         | CASE WHEN m.component IS NOT NULL AND m.component <> e.vec_id
         |      THEN 'dropped_semantic' ELSE 'kept' END AS status,
         | coalesce(m.component, e.vec_id) AS winner_id
         |FROM embeddings e LEFT JOIN m ON m.node = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    })),

    // ── contrastive training triples from ONE LSH candidate pass:
    // cos > 0.4 pairs anchor↔positive (both orientations), bucket
    // cohabitants in [0.05, 0.35) are the hard negatives (top-2 per
    // anchor via the bounded heap).
    Query("q226_contrastive_triples", (s, dir) =>
      Similarity.contrastiveTriples(t(s, dir, "embeddings"), "vec_id",
        "embedding", posThreshold = 0.4, negMin = 0.05, negMax = 0.35,
        negPerAnchor = 2)
        .orderBy("anchor_id", "positive_id", "rn"),
      Oracle.Sql(
      // Contrastive triples: the q25 bucket candidates with the q211
      // exact cosine fold kept, band negatives ranked per anchor, both
      // pair orientations, anchor-keyed weld.
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, ${lshBucketSql("v")} AS bucket FROM v
         |      WHERE sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) > 0),
         |cand AS (
         | SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  list_reduce(list_transform(range(1, 65), j -> a.v[j] * c.v[j]), (x, y) -> x + y)
         |   / (sqrt(list_reduce(list_transform(range(1, 65), j -> a.v[j] * a.v[j]), (x, y) -> x + y))
         |      * sqrt(list_reduce(list_transform(range(1, 65), j -> c.v[j] * c.v[j]), (x, y) -> x + y))) AS cos
         | FROM b a JOIN b c ON a.vec_id < c.vec_id
         | WHERE bit_count(xor(a.bucket, c.bucket)) <= 1),
         |bo AS (SELECT id_a AS anchor_id, id_b AS other, cos FROM cand
         |       UNION ALL SELECT id_b, id_a, cos FROM cand),
         |negs AS (
         | SELECT anchor_id, other AS negative_id, round(cos, 6) + 0.0 AS neg_cos,
         |  CAST(row_number() OVER (PARTITION BY anchor_id
         |   ORDER BY cos DESC, other) AS BIGINT) AS rn
         | FROM bo WHERE cos >= 0.05 AND cos < 0.35),
         |pos AS (SELECT id_a AS anchor_id, id_b AS positive_id FROM cand WHERE cos > 0.4
         |        UNION ALL SELECT id_b, id_a FROM cand WHERE cos > 0.4)
         |SELECT p.anchor_id, p.positive_id, n.negative_id, n.neg_cos, n.rn
         |FROM pos p JOIN negs n USING (anchor_id) WHERE n.rn <= 2
         |ORDER BY anchor_id, positive_id, rn""".stripMargin))
  )
}
