package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.SimHash64Expr
import graft.operators.{Dedup, Multimodal, Regression}
import graft.streaming.EventStreams
import graft.queries.Shared._

/** Queries over the smaller operator families: graphs, multimodal
  * payloads, export, event streams, linkage, packing, regression and
  * the single-query expression kernels.
  */
private[graft] object OperatorQueries {

  val all: Seq[Query] = Seq(

    // ── multimodal: opaque binary payload + typed metadata projection.
    Query("q28_multimodal_meta", (s, dir) =>
      Multimodal.fakeMediaTable(t(s, dir, "documents")).toDF()
        .select(col("doc_id"), col("media_type"),
          length(col("blob")).cast("long").as("n_bytes"),
          expr("CAST(length(blob) DIV 256 AS BIGINT)").as("n_chunks"))
        .orderBy("doc_id"),
      Oracle.Sql(
      """SELECT doc_id, (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(CAST(text AS BLOB)) // 256 AS BIGINT) AS n_chunks
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── tumbling-window aggregation (batch twin of the streaming path).
    Query("q29_windowed_agg", (s, dir) =>
      EventStreams.windowedAgg(events(s, dir)).orderBy("ws", "event_type"),
      Oracle.Sql(
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── sliding windows: 2h windows every 1h — each event in two
    // overlapping windows via one Expand pass (no self-union).
    Query("q68_sliding_agg", (s, dir) =>
      EventStreams.slidingAgg(events(s, dir)).orderBy("ws", "event_type"),
      Oracle.Sql(
      """WITH e AS (
        | SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type, value FROM events),
        |x AS (SELECT h AS ws, event_type, value FROM e
        |      UNION ALL
        |      SELECT h - INTERVAL 1 HOUR AS ws, event_type, value FROM e)
        |SELECT ws, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── codegen'd SimHash64 Catalyst expression (rows-only check: XxHash64
    // is not reproducible in DuckDB; validated by ScalaTest golden +
    // interpreted-vs-codegen cross-check).
    Query("q31_simhash64", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), SimHash64Expr.simhash64(split(col("text"), " ")).as("simhash"))
        .orderBy("doc_id"),
      Oracle.Golden),

    // ── sessionization (gaps-and-islands twin of session_window; the two
    // formulations are cross-checked in EventStreamsSpec).
    Query("q36_sessionize", (s, dir) =>
      EventStreams.sessionizeGapsAndIslands(events(s, dir), gapSeconds = 1800L)
        .orderBy("user_id", "session_start"),
      Oracle.Sql(
      """SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        | SELECT user_id, ts, value,
        |  sum(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM (SELECT user_id, event_id, ts, value,
        |        lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |       FROM events))
        |GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // ── sequence packing (concat-then-chunk): shard by content hash,
    // greedy running-sum bin assignment per shard — parallel packing.
    Query("q65_seq_packing", (s, dir) =>
      graft.operators.Packing.packSequences(t(s, dir, "documents"),
        "doc_id", "text", capacity = 256, shards = 8)
        .orderBy("doc_id"),
      Oracle.Sql(
      """WITH sharded AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |b AS (
        | SELECT doc_id, shard, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        | FROM sharded)
        |SELECT doc_id, shard, n_tokens, CAST(bef // 256 AS BIGINT) AS bin_id
        |FROM b ORDER BY doc_id""".stripMargin)),

    // ── salted skew-resistant aggregation: two-phase groupBy through a
    // content+partition-id salt; result identical to the plain groupBy the
    // oracle runs (salting is purely physical).
    Query("q91_salted_agg", (s, dir) =>
      graft.operators.Skew.saltedSumCount(
        t(s, dir, "lineitem").select(col("l_suppkey"),
          col("l_quantity").cast("decimal(18,2)").as("qty")),
        "l_suppkey", "qty", salts = 16)
        .select(col("l_suppkey"), col("sum_value").cast("double").as("sum_qty"),
          col("n_rows"))
        .orderBy("l_suppkey"),
      Oracle.Sql(
      """SELECT l_suppkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── audio decode ROUND-TRIP: synthesize a WAV per doc (square wave
    // whose amplitude and frame count are closed-form in doc_id, chosen
    // dyadic-exact), decode through the REAL javax.sound.sampled kernel,
    // and let the oracle state the decoded facts analytically — an
    // end-to-end correctness gate on the WAV decoder itself. Narrow plan:
    // synth + decode are one typed map pass, payloads never shuffle.
    Query("q105_audio_roundtrip", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.operators.Multimodal.MediaRow(id, "audio",
          graft.operators.Multimodal.syntheticWav(
            amplitude = (256 * (1 + id % 31)).toInt,
            nFrames = (800 + (id % 7) * 80).toInt)))
      graft.operators.Multimodal.audioMeta(media).toDF()
        .orderBy("doc_id")
    }, Oracle.Sql(
      // The decoded facts of q105's synthesized square-wave WAVs, stated in
      // closed form: rate/channels are the container's; n_frames and
      // amplitude are the synthesis parameters; duration = frames/rate and
      // rms = amplitude/32768 are IEEE-exact (dyadic amplitude, equal +/-
      // halves), so no rounding is needed for cross-engine equality.
      """SELECT doc_id,
        | CAST(8000 AS DOUBLE) AS sample_rate,
        | CAST(1 AS INTEGER) AS channels,
        | CAST(800 + (doc_id % 7) * 80 AS BIGINT) AS n_frames,
        | CAST(800 + (doc_id % 7) * 80 AS DOUBLE) / CAST(8000 AS DOUBLE) AS duration_sec,
        | CAST(256 * (1 + doc_id % 31) AS DOUBLE) / CAST(32768 AS DOUBLE) AS rms
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── BUCKETIZED point-in-interval join: clicks landing inside the
    // 2-hour window after each same-user error. The naive non-equi
    // join plans a nested loop; bucketizing time turns it into a hash
    // equi-join on (user, bucket) + exact re-check — PlanSpec pins the
    // absence of nested-loop/cartesian nodes.
    Query("q117_interval_join", (s, dir) => {
      val ev = events(s, dir)
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      val points = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      graft.operators.Intervals.pointInInterval(points, intervals, "user_id",
        "ts", "start_ts", "end_ts", bucketSeconds = 3600L)
        .select("user_id", "error_id", "click_id")
        .orderBy("error_id", "click_id")
    }, Oracle.Sql(
      """SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id
        |FROM events e JOIN events c ON c.user_id = e.user_id
        |WHERE e.event_type = 'error' AND c.event_type = 'click'
        |  AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 2 HOUR
        |ORDER BY error_id, click_id""".stripMargin)),

    // ── blocked fuzzy record linkage: customers vs a noisy twin (one
    // char deleted at custkey mod length) — trigram blocking with a
    // df-50 stop-gram cap, Levenshtein verify on candidates only.
    Query("q125_fuzzy_link", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val noisy = cust.select(
        (col("c_custkey") + 1000000L).as("n_key"),
        concat(
          expr("substring(c_name, 1, CAST(c_custkey % length(c_name) AS INT))"),
          expr("substring(c_name, CAST(c_custkey % length(c_name) AS INT) + 2, 1000)"))
          .as("n_name"))
      graft.operators.Linkage.fuzzyJoin(cust, noisy,
        "c_custkey", "c_name", "n_key", "n_name",
        maxDist = 1, q = 3, maxGramDf = 50)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("c_custkey", "n_key")
    }, Oracle.Sql(
      // Identical blocked semantics: per-side distinct trigrams, df ≤ 50
      // stop-gram cap on BOTH sides, candidates from the gram equi-join,
      // Levenshtein ≤ 1 verify on candidates only.
      """WITH cust AS (SELECT c_custkey, c_name FROM customer),
        |noisy AS (SELECT c_custkey + 1000000 AS n_key,
        |  substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) ||
        |  substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2, 1000) AS n_name
        |  FROM customer),
        |lg AS (SELECT DISTINCT c_custkey AS idl, substr(c_name, i, 3) AS g
        |       FROM cust, UNNEST(generate_series(1, length(c_name) - 2)) AS u(i)),
        |lgf AS (SELECT idl, g FROM lg
        |        WHERE g IN (SELECT g FROM lg GROUP BY g HAVING count(*) <= 50)),
        |rg AS (SELECT DISTINCT n_key AS idr, substr(n_name, i, 3) AS g
        |       FROM noisy, UNNEST(generate_series(1, length(n_name) - 2)) AS u(i)),
        |rgf AS (SELECT idr, g FROM rg
        |        WHERE g IN (SELECT g FROM rg GROUP BY g HAVING count(*) <= 50)),
        |cand AS (SELECT DISTINCT idl, idr FROM lgf JOIN rgf USING (g))
        |SELECT c.idl AS c_custkey, c.idr AS n_key,
        | CAST(levenshtein(l.c_name, r.n_name) AS BIGINT) AS dist
        |FROM cand c JOIN cust l ON l.c_custkey = c.idl
        |            JOIN noisy r ON r.n_key = c.idr
        |WHERE levenshtein(l.c_name, r.n_name) <= 1
        |ORDER BY c_custkey, n_key""".stripMargin)),

    // ── PageRank over a closed-form doc link graph (doc i → (7i+k) mod N,
    // k = 1..3): 5 damped iterations, 12-dp per-iteration re-quantization
    // so any engine stating the recurrence reproduces ranks bit-for-bit.
    Query("q127_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % n).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst",
        damping = 0.85, iters = 5)
        .orderBy("node")
    }, Oracle.Sql(
      // The identical recurrence, 5 unrolled iterations (aggregates are
      // not allowed in a recursive CTE term): teleport stated as
      // (1 - 0.85) in DOUBLE so the IEEE subtraction matches the Spark
      // driver's, 12-dp re-quantization per iteration.
      {
      def iter(i: Int): String =
        s"""p$i AS (SELECT n.v AS node,
           | round((1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           |   + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE), 12) AS rank
           | FROM nodes n LEFT JOIN (
           |   SELECT w.dst, sum(p.rank * w.w) AS s
           |   FROM p${i - 1} p JOIN w ON w.src = p.node GROUP BY 1) c
           | ON c.dst = n.v)""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k) % (SELECT n FROM nn) AS dst
         |      FROM documents, UNNEST([1, 2, 3]) AS t(k)),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         |w AS (SELECT e.src, e.dst, 1.0::DOUBLE / d AS w FROM e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
         |p0 AS (SELECT v AS node, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank FROM p5 ORDER BY node""".stripMargin
    })),

    // ── per-doc character entropy (gibberish signal) via the codegen'd
    // CharEntropyExpr kernel — one histogram pass per row, no per-char
    // explode; the oracle states the exploded entropy() formulation.
    Query("q129_char_entropy", (s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          round(graft.functions.CharEntropyExpr.charEntropy(col("text")), 6)
            .as("char_entropy"))
        .withColumn("is_low", (col("char_entropy") < 3.0).cast("int"))
        .orderBy("doc_id"),
      Oracle.Sql(
      // The exploded formulation of the same entropy: one row per char,
      // DuckDB's entropy() aggregate (log2-based), 6-dp round.
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |           FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |e AS (SELECT doc_id, round(entropy(ch), 6) AS char_entropy
        |      FROM c GROUP BY 1)
        |SELECT doc_id, char_entropy,
        | CAST(char_entropy < 3.0 AS INT) AS is_low
        |FROM e ORDER BY doc_id""".stripMargin)),

    // ── REAL spectral round-trip: square waves at period 5+id%6 frames
    // (fundamental 8000/(2·period) Hz, 5040 frames = integer cycles for
    // every period, so no leakage) must Goertzel-argmax back to their own
    // fundamental among all six candidates (square waves have no even
    // harmonics, so the 2× candidate can never win).
    Query("q141_audio_dominant", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => graft.operators.Multimodal.MediaRow(id, "audio",
          graft.operators.Multimodal.syntheticWav(
            amplitude = (256 * (1 + id % 31)).toInt,
            nFrames = 5040,
            period = (5 + id % 6).toInt)))
      val cands = (5 to 10).map(p => 8000.0 / (2 * p))
      graft.operators.Multimodal.audioDominantFrequency(media, cands)
        .toDF().orderBy("doc_id")
    }, Oracle.Sql(
      // Closed-form spectral truth: the detected dominant frequency must
      // equal each wave's own fundamental, stated directly.
      """SELECT doc_id, CAST(5040 AS BIGINT) AS n_frames,
        | 8000.0::DOUBLE / (2 * (5 + doc_id % 6)) AS dominant_hz
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── per-node triangles / degree / clustering coefficient over the
    // rare-shingle similarity graph (docs sharing a trigram with
    // corpus df in [2,4] — ≤6 pairs per gram, never all-pairs).
    Query("q143_triangles", (s, dir) => {
      val edges = trigramEdges(s, dir)
      graft.operators.Graph.triangleStats(edges, "a", "b")
        .orderBy("node")
    }, Oracle.Sql(
      // Identical degree-oriented triangle enumeration over the same
      // rare-trigram edge list: wedges from the (deg, id)-oriented edges,
      // closed by the canonical edge, credited to all three vertices.
      """WITH sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |         || ' ' || string_split(text, ' ')[i+2])) AS shingle
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |f AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |      WHERE df BETWEEN 2 AND 4),
        |r AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN f USING (shingle)),
        |e AS (SELECT DISTINCT a.doc_id AS lo, b.doc_id AS hi
        |      FROM r a JOIN r b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |deg AS (SELECT node, count(*) AS degree FROM
        |  (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e) GROUP BY 1),
        |o AS (SELECT
        |  CASE WHEN dl.degree < dh.degree
        |        OR (dl.degree = dh.degree AND e.lo < e.hi) THEN e.lo ELSE e.hi END AS u,
        |  CASE WHEN dl.degree < dh.degree
        |        OR (dl.degree = dh.degree AND e.lo < e.hi) THEN e.hi ELSE e.lo END AS v
        |  FROM e JOIN deg dl ON dl.node = e.lo JOIN deg dh ON dh.node = e.hi),
        |wg AS (SELECT e1.u, e1.v AS v, e2.v AS w
        |       FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v),
        |tri AS (SELECT wg.u, wg.v, wg.w FROM wg
        |        JOIN e ON e.lo = wg.v AND e.hi = wg.w),
        |pn AS (SELECT node, count(*) AS triangles FROM
        |  (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
        |   UNION ALL SELECT w FROM tri) GROUP BY 1)
        |SELECT deg.node, deg.degree,
        | CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
        | CASE WHEN deg.degree >= 2
        |  THEN round(2.0::DOUBLE * coalesce(pn.triangles, 0) / (deg.degree * (deg.degree - 1)), 6)
        |  ELSE 0.0::DOUBLE END AS coeff
        |FROM deg LEFT JOIN pn USING (node) ORDER BY node""".stripMargin)),

    // ── HITS hubs/authorities over the q127 closed-form link graph:
    // 5 iterations, 12-dp half-step re-quantization, decimal-exact
    // global mass — bit-reproducible in any engine stating the recurrence.
    Query("q144_hits", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % n).as("dst"))
      graft.operators.Graph.hits(edges, "src", "dst", iters = 5)
        .orderBy("node")
    }, Oracle.Sql(
      // HITS unrolled 5 iterations: every sum (link sums AND the global
      // mass) aggregates DECIMAL(38,12)-quantized scores — exact and
      // order-independent — then one decimal→double cast feeds the
      // division and the score re-quantizes to 12 dp, exactly the Spark
      // recurrence. Multiply-referenced CTEs are MATERIALIZED — DuckDB
      // inlines by default, and the iteration chain's repeated references
      // would otherwise expand exponentially (the same blow-up the Spark
      // side avoids by re-rooting each half-step as a LogicalRDD).
      {
      def iter(i: Int): String =
        s"""ar$i AS MATERIALIZED (SELECT n.v AS node, coalesce(c.s, 0.0::DOUBLE) AS auth
           | FROM nodes n LEFT JOIN (
           |   SELECT e.dst, CAST(sum(CAST(p.hub AS DECIMAL(38,12))) AS DOUBLE) AS s
           |   FROM h${i - 1} p JOIN e ON e.src = p.node GROUP BY 1) c ON c.dst = n.v),
           |am$i AS MATERIALIZED (SELECT CAST(sum(CAST(auth AS DECIMAL(38,12))) AS DOUBLE) AS m FROM ar$i),
           |a$i AS MATERIALIZED (SELECT node, round(auth / (SELECT m FROM am$i), 12) AS auth FROM ar$i),
           |hr$i AS MATERIALIZED (SELECT n.v AS node, coalesce(c.s, 0.0::DOUBLE) AS hub
           | FROM nodes n LEFT JOIN (
           |   SELECT e.src, CAST(sum(CAST(p.auth AS DECIMAL(38,12))) AS DOUBLE) AS s
           |   FROM a$i p JOIN e ON e.dst = p.node GROUP BY 1) c ON c.src = n.v),
           |hm$i AS MATERIALIZED (SELECT CAST(sum(CAST(hub AS DECIMAL(38,12))) AS DOUBLE) AS m FROM hr$i),
           |h$i AS MATERIALIZED (SELECT node, round(hub / (SELECT m FROM hm$i), 12) AS hub FROM hr$i)""".stripMargin
      s"""WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
         |e AS MATERIALIZED (SELECT DISTINCT doc_id AS src, (doc_id * 7 + k) % (SELECT n FROM nn) AS dst
         |      FROM documents, UNNEST([1, 2, 3]) AS t(k)),
         |nodes AS MATERIALIZED (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
         |h0 AS MATERIALIZED (SELECT v AS node,
         |  round(1.0::DOUBLE / (SELECT count(*) FROM nodes), 12) AS hub FROM nodes),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT h5.node, h5.hub, a5.auth FROM h5 JOIN a5 USING (node)
         |ORDER BY node""".stripMargin
    })),

    // ── DEFLATE compression-ratio quality signals (engine-specific
    // kernel values → rows-only at the gate, like q31/q75; the
    // mapPartitions plumbing is spec-pinned against a driver-side
    // single-string reference in CompressionSpec).
    Query("q147_compress_ratio", (s, dir) =>
      graft.operators.Compression.compressionSignals(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Oracle.Golden),

    // ── personalized PageRank over the q127 link graph, teleport
    // concentrated on the doc_id % 100 = 0 seed set: 5 iterations,
    // 12-dp per-iteration re-quantization, seeds broadcast.
    Query("q154_personalized_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"), ((col("src") * 7 + col("k")) % n).as("dst"))
      graft.operators.Graph.personalizedPageRank(edges, "src", "dst",
        docs.filter(col("doc_id") % 100 === 0), "doc_id",
        damping = 0.85, iters = 5)
        .orderBy("node")
    }, Oracle.Sql(
      // q127's unrolled recurrence with the teleport term swapped for the
      // seed indicator: (1−d)·e(v) + d·Σ, e(v) = 1/|S| on doc_id%100=0.
      {
      def iter(i: Int): String =
        s"""p$i AS (SELECT n.node,
           | round((1::DOUBLE - 0.85::DOUBLE) * n.e
           |   + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE), 12) AS rank
           | FROM base n LEFT JOIN (
           |   SELECT w.dst, sum(p.rank * w.w) AS s
           |   FROM p${i - 1} p JOIN w ON w.src = p.node GROUP BY 1) c
           | ON c.dst = n.node)""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |ns AS (SELECT count(*) AS n FROM documents WHERE doc_id % 100 = 0),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k) % (SELECT n FROM nn) AS dst
         |      FROM documents, UNNEST([1, 2, 3]) AS t(k)),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         |w AS (SELECT e.src, e.dst, 1.0::DOUBLE / d AS w FROM e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
         |base AS (SELECT v AS node,
         |  CASE WHEN v % 100 = 0 THEN 1.0::DOUBLE / (SELECT n FROM ns)
         |   ELSE 0.0::DOUBLE END AS e FROM nodes),
         |p0 AS (SELECT node, round(e, 12) AS rank FROM base),
         |${(1 to 5).map(iter).mkString(",\n")}
         |SELECT node, rank FROM p5 ORDER BY node""".stripMargin
    })),

    // ── REAL multi-frame decode round-trip: animated GIFs with
    // 2 + id%4 solid frames, gray (10 + 7·(id%20) + 13·i) % 256 — every
    // stride-2 sampled frame must decode back to its own closed-form
    // dimensions and mean luminance v/255 (GIF palettes store ≤256
    // distinct colors losslessly; JDK reader/writer, codec-free).
    Query("q155_gif_frames", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          graft.operators.Multimodal.MediaRow(id, "video",
            graft.operators.Multimodal.syntheticGif(
              nFrames = (2 + id % 4).toInt, width = 8, height = 6,
              grayOf = i => ((10 + 7 * (id % 20) + 13 * i) % 256).toInt))
        }
      graft.operators.Multimodal.gifFrameMeta(media, stride = 2)
        .toDF().orderBy("doc_id", "frame_idx")
    }, Oracle.Sql(
      // Closed-form GIF truth: each sampled frame's decoded mean luminance
      // must equal its own generator gray / 255.
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        | CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        | round(CAST((10 + 7 * (doc_id % 20) + 13 * f) % 256 AS DOUBLE) / 255.0, 6)
        |   AS mean_lum
        |FROM documents, UNNEST(range(0, 2 + doc_id % 4, 2)) AS t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ── image perceptual near-dup: REAL PNG encode/decode → 8×8 aHash →
    // pigeonhole Hamming join. Fixture: every doc gets a unique two-level
    // block image (SplitMix64 bijection → no pattern collisions); every
    // 4th doc also gets a one-block-flipped copy at +300000, which lands
    // at aHash Hamming EXACTLY 1 (blocks sit far from the two-level
    // mean — Multimodal.syntheticBlockImage scaladoc), so the pair set
    // and distances are closed-form and the oracle is a plain SQL twin.
    Query("q157_image_near_dup", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val p0 = graft.operators.Multimodal.mix64(id)
          // exclude the degenerate patterns whose base or flipped copy
          // would not land at Hamming 1: all-dark (hash collides with
          // all-bright) and popcount >= 63 (a flip on the single dark
          // block yields an all-bright copy at Hamming 63, not 1 — the
          // q217 audio gate's rule). mix64 is a bijection so no in-range
          // id realistically maps there, but the popcount gate makes the
          // fixture TOTAL rather than probabilistic
          val pattern =
            if (p0 == 0L || java.lang.Long.bitCount(p0) >= 63) 1L else p0
          val base = graft.operators.Multimodal.MediaRow(id, "image",
            graft.operators.Multimodal.syntheticBlockImage(pattern))
          if (id % 4 == 0)
            Seq(base, graft.operators.Multimodal.MediaRow(id + 300000L, "image",
              graft.operators.Multimodal.syntheticBlockImage(pattern,
                flipBlock = (id % 64).toInt)))
          else Seq(base)
        }
      graft.operators.Multimodal.imageNearDups(media, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }, Oracle.Sql(
      // The q157 fixture's pair set in closed form: ONLY the planted
      // one-block-flipped copies pair up (SplitMix64 patterns are a
      // bijection of doc_id — unique — and unrelated well-mixed 64-bit
      // patterns sit ~32 bits apart in expectation, never within the
      // Hamming-3 gate), and each flip lands at aHash distance EXACTLY 1
      // (two-level blocks sit far from the grid mean; see
      // Multimodal.syntheticBlockImage). DuckDB cannot decode PNGs — it
      // does not need to: the decode→hash→join pipeline must REPRODUCE
      // this closed form from real pixels, which is a stronger check than
      // re-stating the hash arithmetic.
      """SELECT doc_id AS doc_a, doc_id + 300000 AS doc_b,
        | CAST(1 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── end-to-end image dedup: the q157 hash→pair machinery composed
    // with connected components and min-id survivors — every 3rd doc
    // gains a one-block-flipped re-encode at +400000, each perceptual
    // cluster is exactly {original, copy}, so the audit is closed-form.
    Query("q158_image_dedup", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val p0 = graft.operators.Multimodal.mix64(id)
          // same total popcount gate as q157 (see comment there)
          val pattern =
            if (p0 == 0L || java.lang.Long.bitCount(p0) >= 63) 1L else p0
          val base = graft.operators.Multimodal.MediaRow(id, "image",
            graft.operators.Multimodal.syntheticBlockImage(pattern))
          if (id % 3 == 0)
            Seq(base, graft.operators.Multimodal.MediaRow(id + 400000L, "image",
              graft.operators.Multimodal.syntheticBlockImage(pattern,
                flipBlock = ((id / 3) % 64).toInt)))
          else Seq(base)
        }
      graft.operators.Multimodal.imageDedup(media, maxHamming = 3)
        .orderBy("doc_id")
    }, Oracle.Sql(
      // q158's clusters in closed form (the q157 argument, composed
      // through connected components): each planted copy pairs with its
      // original and nothing else, so originals are all kept and each
      // copy is dropped_near onto its source.
      """SELECT doc_id, 'kept' AS status, doc_id AS winner_id
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 400000, 'dropped_near', doc_id
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin)),

    // ── synchronous label propagation over the q143 rare-shingle
    // similarity graph, 5 iterations: communities finer than connected
    // components (a bridge edge can't outvote a family's own labels).
    // Deterministic by the smallest-label tie rule — oracle unrolls it.
    Query("q187_label_prop", (s, dir) => {
      val edges = trigramEdges(s, dir)
      graft.operators.Graph.labelPropagation(edges, "a", "b", iters = 5)
        .orderBy("node")
    }, Oracle.Sql(
      // Synchronous LPA unrolled 5 iterations over the q143 trigram edge
      // graph: per-iteration argmax = most-frequent neighbor label, ties
      // to the SMALLEST label — row_number states the same tiebreak the
      // Spark max(struct(cnt, -label)) computes.
      {
      // NB: trigramEdgeSql and the step CTEs are concatenated OUTSIDE
      // any stripMargin — interpolating multi-line SQL into a
      // stripMargin template would eat the first pipe of every `||`
      def step(i: Int): String =
        s"""l$i AS (
           | SELECT v AS node, label FROM (
           |  SELECT nb.v, l.label, count(*) AS cnt,
           |   row_number() OVER (PARTITION BY nb.v
           |     ORDER BY count(*) DESC, l.label) AS rn
           |  FROM nb JOIN l${i - 1} l ON l.node = nb.u
           |  GROUP BY nb.v, l.label)
           | WHERE rn = 1)""".stripMargin
      "WITH " + trigramEdgeSql + ",\n" +
        "nb AS (SELECT lo AS v, hi AS u FROM e UNION ALL SELECT hi, lo FROM e),\n" +
        "l0 AS (SELECT DISTINCT v AS node, CAST(v AS BIGINT) AS label FROM nb),\n" +
        (1 to 5).map(step).mkString(",\n") + "\n" +
        "SELECT node, label FROM l5 ORDER BY node"
    })),

    // ── multi-source BFS: exact hop distance from the doc_id%50=0 seed
    // docs over the same similarity graph, ≤4 hops — the hard-radius
    // curation query (personalized PageRank is the soft version).
    Query("q188_bfs_hops", (s, dir) => {
      val edges = trigramEdges(s, dir)
      val seeds = t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
        .select("doc_id")
      graft.operators.Graph.bfsHops(edges, "a", "b", seeds, "doc_id", maxHops = 4)
        .orderBy("node")
    }, Oracle.Sql(
      // Multi-source BFS unrolled 4 hops: d_{t+1} = min(d_t, 1 + min over
      // neighbors' d_t), seeds at 0 (including seeds absent from the graph).
      {
      // same concatenation rule as q187 (stripMargin vs interpolated `||`)
      def hop(i: Int): String =
        s"""d$i AS (
           | SELECT node, CAST(min(hops) AS INT) AS hops FROM (
           |  SELECT node, hops FROM d${i - 1}
           |  UNION ALL
           |  SELECT nb.v AS node, d.hops + 1 AS hops
           |  FROM nb JOIN d${i - 1} d ON d.node = nb.u)
           | GROUP BY node)""".stripMargin
      "WITH " + trigramEdgeSql + ",\n" +
        "nb AS (SELECT lo AS v, hi AS u FROM e UNION ALL SELECT hi, lo FROM e),\n" +
        "d0 AS (SELECT DISTINCT doc_id AS node, CAST(0 AS INT) AS hops\n" +
        "       FROM documents WHERE doc_id % 50 = 0),\n" +
        (1 to 4).map(hop).mkString(",\n") + "\n" +
        "SELECT node, hops FROM d4 ORDER BY node"
    })),

    // ── sorted-neighborhood near-dup pairs: rank by text within 8-char
    // prefix blocks, compare each row to its 10 successors, Levenshtein
    // ≤ 30 — the sort-order blocking twin of q125's q-gram blocking.
    Query("q190_snm_pairs", (s, dir) =>
      graft.operators.Linkage.sortedNeighborhood(
        t(s, dir, "documents"), "doc_id", "text",
        window = 10, prefixLen = 8, maxDist = 30)
        .orderBy("idA", "idB"),
      Oracle.Sql(
      // Sorted-neighborhood: identical (key, id) rank within 8-char prefix
      // blocks, ≤10-rank candidates, Levenshtein ≤ 30 on candidates only.
      """WITH r AS (
        | SELECT doc_id AS id, text AS k, substr(text, 1, 8) AS blk,
        |  row_number() OVER (PARTITION BY substr(text, 1, 8)
        |    ORDER BY text, doc_id) AS rn
        | FROM documents WHERE text IS NOT NULL)
        |SELECT a.id AS idA, b.id AS idB, CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn - a.rn <= 10
        |WHERE levenshtein(a.k, b.k) <= 30
        |ORDER BY idA, idB""".stripMargin)),

    // ── degree assortativity of the q143 similarity graph: Pearson r of
    // endpoint degrees over both edge orientations, integer-exact moment
    // sums — positive r = hubs link hubs (one dup family's shingles
    // dominating), the one-number graph health reading next to q143's
    // per-node clustering.
    Query("q196_assortativity", (s, dir) => {
      val edges = trigramEdges(s, dir)
      graft.operators.Graph.degreeAssortativity(edges, "a", "b")
    }, Oracle.Sql(
      // Assortativity over the q143 graph: both-orientation DECIMAL(38,0)
      // moment sums, the symmetric closed form, 6 dp.
      "WITH " + trigramEdgeSql + ",\n" +
        """deg AS (SELECT node, count(*) AS degree FROM
          |  (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e) GROUP BY 1),
          |o AS (SELECT dl.degree AS x, dh.degree AS y
          |      FROM e JOIN deg dl ON dl.node = e.lo JOIN deg dh ON dh.node = e.hi),
          |b AS (SELECT x, y FROM o UNION ALL SELECT y, x FROM o),
          |m AS (SELECT count(*) AS n,
          |  sum(CAST(x AS DECIMAL(38,0))) AS sx,
          |  sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sx2,
          |  sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
          | FROM b)
          |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
          | CASE WHEN n * sx2 - sx * sx > 0
          |  THEN round(CAST(n * sxy - sx * sx AS DOUBLE)
          |             / CAST(n * sx2 - sx * sx AS DOUBLE), 6) + 0.0
          | END AS assortativity
          |FROM m""".stripMargin)),

    // ── entity resolution: SNM near-dup pairs (q190) welded into
    // entities by connected components, canonical id = smallest member
    // — the linkage pipeline's final step.
    Query("q197_entity_resolution", (s, dir) => {
      val pairs = graft.operators.Linkage.sortedNeighborhood(
        t(s, dir, "documents"), "doc_id", "text",
        window = 10, prefixLen = 8, maxDist = 30)
        .select(col("idA").as("doc_a"), col("idB").as("doc_b"))
      val cc = Dedup.connectedComponents(pairs)
      val sizes = cc.groupBy(col("component"))
        .agg(count(lit(1)).as("entity_size"))
      cc.join(sizes, Seq("component"))
        .select(col("node").as("doc_id"), col("component").as("entity"),
          col("entity_size"))
        .orderBy("doc_id")
    }, Oracle.Sql(
      // SNM pairs (q190 verbatim) welded by the q52 recursive min-label
      // closure; entity = smallest member, plus its size.
      """WITH RECURSIVE r AS (
        | SELECT doc_id AS id, text AS k, substr(text, 1, 8) AS blk,
        |  row_number() OVER (PARTITION BY substr(text, 1, 8)
        |    ORDER BY text, doc_id) AS rn
        | FROM documents WHERE text IS NOT NULL),
        |cand AS (
        | SELECT a.id AS doc_a, b.id AS doc_b
        | FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn - a.rn <= 10
        | WHERE levenshtein(a.k, b.k) <= 30),
        |nodes(n) AS (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand),
        |und(a, b) AS (SELECT doc_a, doc_b FROM cand UNION SELECT doc_b, doc_a FROM cand),
        |cc(node, label) AS (
        | SELECT n, n FROM nodes
        | UNION
        | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
        |m AS (SELECT node, min(label) AS entity FROM cc GROUP BY node),
        |sz AS (SELECT entity, count(*) AS entity_size FROM m GROUP BY 1)
        |SELECT m.node AS doc_id, m.entity, CAST(sz.entity_size AS BIGINT) AS entity_size
        |FROM m JOIN sz USING (entity) ORDER BY doc_id""".stripMargin)),

    // ── per-day top-3 event types via the streaming operator's batch
    // twin (graft.streaming.EventStreams.heavyHittersPerWindow): MG in
    // the exact regime (capacity ≫ the event-type domain), tumbling
    // 1-day windows — the oracle anchor for the streaming family.
    Query("q198_hh_per_window", (s, dir) =>
      graft.streaming.EventStreams.heavyHittersPerWindow(
        events(s, dir), "event_type", "1 day", capacity = 1024, emit = 3)
        .orderBy("ws", "rn"),
      Oracle.Sql(
      // Exact-regime MG per 1-day tumbling window = plain per-window
      // counts with the sketch's (est desc, item asc) rank, top 3; rn is
      // the 0-based posexplode ordinal.
      """WITH c AS (
        | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
        |  event_type AS item, count(*) AS est
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT ws, item, CAST(est AS BIGINT) AS est,
        |  CAST(row_number() OVER (PARTITION BY ws ORDER BY est DESC, item) - 1 AS INT) AS rn
        | FROM c)
        |SELECT ws, rn, item, est FROM r WHERE rn < 3 ORDER BY ws, rn""".stripMargin)),

    // ── closed-form OLS: predict distinct-token count from (n_chars,
    // n_tokens) — ONE map-side-combinable pass to integer-exact
    // DECIMAL(38,0) moments, then the 3×3 Cramer solve as scalar math
    // on the single moment row. The whole "training run" is one scan.
    Query("q208_linear_fit", (s, dir) => {
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val feats = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("n_chars"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
      Regression.linearFit2(feats, "n_chars", "n_tokens", "n_distinct")
    }, Oracle.Sql(
      // OLS: integer-exact DECIMAL(38,0) moments, the same canonical
      // cofactor expansion (det3Sql mirrors Regression.det3 verbatim —
      // identical IEEE evaluation), SSE via Σy² − βᵀXᵀy, 6-dp outputs.
      {
      val det = det3Sql("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
      val det0 = det3Sql("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
      val det1 = det3Sql("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
      val det2 = det3Sql("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
      s"""WITH f AS (
         | SELECT n_chars AS x1,
         |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS x2,
         |  CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS y
         | FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |mm AS (
         | SELECT count(*) AS nn,
         |  sum(CAST(x1 AS DECIMAL(38,0))) AS ds1, sum(CAST(x2 AS DECIMAL(38,0))) AS ds2,
         |  sum(CAST(y AS DECIMAL(38,0))) AS dsy,
         |  sum(CAST(x1 * x1 AS DECIMAL(38,0))) AS ds11, sum(CAST(x2 * x2 AS DECIMAL(38,0))) AS ds22,
         |  sum(CAST(x1 * x2 AS DECIMAL(38,0))) AS ds12, sum(CAST(x1 * y AS DECIMAL(38,0))) AS ds1y,
         |  sum(CAST(x2 * y AS DECIMAL(38,0))) AS ds2y, sum(CAST(y * y AS DECIMAL(38,0))) AS dsyy
         | FROM f),
         |m AS (
         | SELECT nn, CAST(nn AS DOUBLE) AS n, CAST(ds1 AS DOUBLE) AS s1,
         |  CAST(ds2 AS DOUBLE) AS s2, CAST(dsy AS DOUBLE) AS sy,
         |  CAST(ds11 AS DOUBLE) AS s11, CAST(ds22 AS DOUBLE) AS s22,
         |  CAST(ds12 AS DOUBLE) AS s12, CAST(ds1y AS DOUBLE) AS s1y,
         |  CAST(ds2y AS DOUBLE) AS s2y, CAST(dsyy AS DOUBLE) AS syy
         | FROM mm),
         |dets AS (SELECT *, $det AS det, $det0 AS det0, $det1 AS det1, $det2 AS det2 FROM m),
         |bs AS (SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM dets),
         |e AS (SELECT *, syy - (b0 * sy + b1 * s1y + b2 * s2y) AS sse,
         |             syy - sy * sy / n AS sst FROM bs)
         |SELECT CAST(nn AS BIGINT) AS n,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(b0, 6) + 0.0 END AS b0,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(b1, 6) + 0.0 END AS b1,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(b2, 6) + 0.0 END AS b2,
         | CASE WHEN nn > 0 AND det <> 0 AND sst <> 0 THEN round(1.0 - sse / sst, 6) + 0.0 END AS r2,
         | CASE WHEN nn > 0 AND det <> 0 THEN round(sqrt(greatest(sse, 0.0) / n), 6) END AS rmse
         |FROM e""".stripMargin
    })),

    // ── streaming DAU sketch, batch twin: per-day distinct-user HLL
    // (the q202 hash/estimate per tumbling window; register maxes ride
    // ONE aggregate as m conditional max columns — state is m ints per
    // window on an unbounded stream), joined against the exact per-day
    // count(DISTINCT) the stream could never afford.
    Query("q216_stream_cardinality", (s, dir) => {
      val ev = events(s, dir)
      val est = graft.streaming.EventStreams.cardinalityPerWindow(
        ev, "user_id", "1 day", m = 64)
      val exact = ev.filter(col("user_id").isNotNull)
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count_distinct(col("user_id")).as("exact"))
        .select(col("w.start").as("ws"), col("exact"))
      est.join(exact, Seq("ws")).orderBy("ws")
    }, Oracle.Sql(
      // Streaming-DAU batch twin: the q202 HLL chain PER day window
      // (same md5/reg/rho, same decimal harmonic sum, same 4-dp ln
      // correction), plus the exact per-window distinct.
      """WITH h AS (
        | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
        |  ('0x' || substr(md5('hll' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM events WHERE user_id IS NOT NULL),
        |rr AS (
        | SELECT ws, h % 64 AS reg,
        |  CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
        | FROM h),
        |sk AS (SELECT ws, reg, max(rho) AS max_rho FROM rr GROUP BY 1, 2),
        |wins AS (SELECT DISTINCT ws FROM h),
        |f AS (
        | SELECT w.ws, r.reg, coalesce(sk.max_rho, 0) AS rho
        | FROM wins w CROSS JOIN range(64) r(reg)
        | LEFT JOIN sk ON sk.ws = w.ws AND sk.reg = r.reg),
        |agg AS (
        | SELECT ws, sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS zeros,
        |  sum(CAST((1::BIGINT << (60 - rho)) AS DECIMAL(38,0))) AS s
        | FROM f GROUP BY 1),
        |e AS (
        | SELECT ws, CAST(64 AS INT) AS m, CAST(zeros AS BIGINT) AS n_zero_regs,
        |  round(0.709 * 64 * 64 * 1152921504606846976.0 / CAST(s AS DOUBLE), 4) AS est_raw
        | FROM agg),
        |ex AS (
        | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT e.ws, e.m, e.n_zero_regs, e.est_raw,
        | CASE WHEN e.n_zero_regs > 0 AND e.est_raw <= 160.0
        |  THEN round(64.0 * ln(64.0 / CAST(e.n_zero_regs AS DOUBLE)), 4)
        |  ELSE e.est_raw END AS est,
        | ex.exact
        |FROM e JOIN ex ON ex.ws = e.ws ORDER BY e.ws""".stripMargin)),

    // ── audio perceptual near-dup: REAL WAV encode/decode → 64-segment
    // energy fingerprint → the q157 pigeonhole Hamming join. Fixture:
    // unique tone-burst pattern per doc (SplitMix64 bijection); every
    // 4th doc also gets a one-segment-flipped copy at +500000, landing
    // at fingerprint Hamming EXACTLY 1 (loud-segment energies sit far
    // from the mean — Multimodal.audioFingerprint64's closed form), so
    // the pair set is closed-form. The gate excludes patterns whose flip
    // could reach the degenerate ALL-LOUD regime (popcount ≥ 63).
    Query("q217_audio_near_dup", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val p0 = graft.operators.Multimodal.mix64(id)
          val pattern =
            if (p0 == -1L || java.lang.Long.bitCount(p0) >= 63) 1L else p0
          val base = graft.operators.Multimodal.MediaRow(id, "audio",
            graft.operators.Multimodal.syntheticToneBurstWav(pattern))
          if (id % 4 == 0)
            Seq(base, graft.operators.Multimodal.MediaRow(id + 500000L, "audio",
              graft.operators.Multimodal.syntheticToneBurstWav(pattern,
                flipSegment = (id % 64).toInt)))
          else Seq(base)
        }
      graft.operators.Multimodal.audioNearDups(media, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }, Oracle.Sql(
      // The q217 fixture's pair set in closed form — the q157 argument for
      // waveforms: SplitMix64 tone-burst patterns are unique per doc and
      // well-mixed unrelated fingerprints sit ~32 bits apart (never within
      // the Hamming-3 gate); each planted one-segment flip lands at
      // fingerprint distance EXACTLY 1. DuckDB cannot decode WAVs — it
      // does not need to: the encode→decode→fingerprint→join pipeline must
      // REPRODUCE this closed form from real samples.
      """SELECT doc_id AS doc_a, doc_id + 500000 AS doc_b,
        | CAST(1 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // ── the end-to-end TRAINING EXPORT composition: quality gate (q84's
    // classifier) → exact content dedup (q20's digest canonical pick) →
    // token accounting → deterministic shard layout (q97's deal) — the
    // "corpus in, training shards out" shape, stage order pinned. The
    // graded corpus PLANTS work for every stage (the q156 convention):
    // exact copies of every 5th doc (the dedup stage must keep the
    // lower-id original) and digit-junk rows for every 7th (no letters,
    // 1/40 unique words — the gate must drop them).
    Query("q273_training_export", (s, dir) =>
      graft.operators.Export.trainingExport(exportCorpus(s, dir),
        "doc_id", "text", nShards = 8, salt = "epoch1")
        .orderBy("shard", "pos"),
      Oracle.Sql(
      // Training export: q84's z formula gates, q20's sha-256 min-id
      // canonical pick dedups, q97's md5 hash60 deal shards — the three
      // graded conventions composed in one statement.
      "WITH " + exportCtes +
        """SELECT doc_id, shard,
          | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
          |   AS BIGINT) AS pos,
          | n_tokens
          |FROM sh ORDER BY shard, pos""".stripMargin)),

    // ── the export with the PRODUCTION dedup stage: q58's full near-dup
    // machinery (exact digest edges ∪ Jaccard-verified LSH near edges →
    // components → min-id survivors) between the q84 gate and the q97
    // deal — the complete "corpus in, training shards out" shape.
    Query("q276_training_export_near", (s, dir) =>
      graft.operators.Export.trainingExportNearDup(exportCorpus(s, dir),
        "doc_id", "text", minJaccard = 0.1, nShards = 8, salt = "epoch1")
        .orderBy("shard", "pos"),
      Oracle.Sql(
      // Near-dup training export: the gate CTEs + q58's dedup chain
      // restated over the gated relation g (sig/bands/verify/exact edges/
      // recursive components/min-label survivors) + the q97 deal tail.
      "WITH RECURSIVE " + exportGateCtes + ",\n" +
        s"sig AS (${minhashSigSqlOver("g")}), bands AS ($bandsSql),\n" +
        s"""cand AS (
           | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           | FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |shv AS (${shingleSqlOver("g")}),
           |sz AS (SELECT doc_id, count(*) AS szz FROM shv GROUP BY 1),
           |inter AS (
           | SELECT c.doc_a, c.doc_b, count(*) AS n_inter
           | FROM cand c JOIN shv sa ON sa.doc_id = c.doc_a JOIN shv sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
           | GROUP BY 1, 2),
           |near AS (
           | SELECT i.doc_a, i.doc_b FROM inter i
           | JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
           | WHERE i.n_inter / CAST(za.szz + zb.szz - i.n_inter AS DOUBLE) >= 0.1),
           |exactg AS (SELECT sha256(text) AS h, min(doc_id) AS canon FROM g GROUP BY 1),
           |exacte AS (SELECT gg.canon AS doc_a, d.doc_id AS doc_b
           |           FROM g d JOIN exactg gg ON sha256(d.text) IS NOT DISTINCT FROM gg.h
           |           WHERE d.doc_id <> gg.canon),
           |edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exacte),
           |nodes(nn) AS (SELECT doc_a FROM edges UNION SELECT doc_b FROM edges),
           |und(a, b) AS (SELECT doc_a, doc_b FROM edges UNION SELECT doc_b, doc_a FROM edges),
           |cc(node, label) AS (
           | SELECT nn, nn FROM nodes
           | UNION
           | SELECT u.b, cc.label FROM cc JOIN und u ON u.a = cc.node WHERE cc.label < u.b),
           |losers AS (SELECT node FROM cc GROUP BY node HAVING node <> min(label)),
           |surv AS (SELECT doc_id, text FROM g
           |         WHERE doc_id NOT IN (SELECT node FROM losers)),
           |s2 AS (SELECT doc_id,
           |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |        md5('epoch1' || CAST(doc_id AS VARCHAR)) AS h
           |       FROM surv),
           |deal AS (SELECT doc_id, n_tokens,
           |          ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard, h
           |         FROM s2)
           |SELECT doc_id, shard,
           | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
           |   AS BIGINT) AS pos,
           | n_tokens
           |FROM deal ORDER BY shard, pos""".stripMargin)),

    // ── the export's per-shard QA table: (shard, n_docs, n_tokens) —
    // what a data-loader owner reads before a run.
    Query("q274_export_shard_report", (s, dir) =>
      graft.operators.Export.exportShardReport(
        graft.operators.Export.trainingExport(exportCorpus(s, dir),
          "doc_id", "text", nShards = 8, salt = "epoch1"))
        .orderBy("shard"),
      Oracle.Sql(
      // Export shard report: the same chain rolled to per-shard counts.
      "WITH " + exportCtes +
        """SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ── the physical shard layout graded end-to-end: writeShards
    // materializes q273's export as one shard=<k>/ directory per shard,
    // and the query READS THE LAYOUT BACK (shard requested as LONG —
    // the partition-column convention) — the loader-facing artifact
    // oracle-checked against q273's statement (the store round-trip
    // convention the EPSS side established).
    Query("q281_export_roundtrip", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-q281-")
        .toString + "/shards"
      graft.operators.Export.writeShards(
        graft.operators.Export.trainingExport(exportCorpus(s, dir),
          "doc_id", "text", nShards = 8, salt = "epoch1"), out)
      val raw = s.read.parquet(out)
      val schema = org.apache.spark.sql.types.StructType(raw.schema.map(f =>
        if (f.name == "shard")
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
      s.read.schema(schema).parquet(out)
        .select("doc_id", "shard", "pos", "n_tokens")
        .orderBy("shard", "pos")
    }, Oracle.Sql(
      // Export round-trip: reading the written shard=<k>/ layout back
      // reproduces the export relation row-for-row — graded against
      // q273's statement verbatim (the store round-trip convention).
      "WITH " + exportCtes +
        """SELECT doc_id, shard,
          | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
          |   AS BIGINT) AS pos,
          | n_tokens
          |FROM sh ORDER BY shard, pos""".stripMargin)),

    // ── padding-waste accounting: pad-to-max batches of 8 per source,
    // length-sorted vs arrival order — the delta is what length
    // bucketing saves; exact integers until one terminal division.
    Query("q229_padding_waste", (s, dir) =>
      graft.operators.Packing.paddingWasteByGroup(
        t(s, dir, "documents"), "doc_id", "n_chars", "source", batchSize = 8)
        .orderBy("source"),
      Oracle.Sql(
      // Padding waste: identical rank windows and batch floors, exact
      // integer n·max sums, one terminal division (+0.0: a pre-sorted
      // arrival order makes the saving an exact signed zero).
      """WITH nn AS (
        | SELECT source, doc_id, CAST(n_chars AS BIGINT) AS len
        | FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |b AS (
        | SELECT source, len,
        |  CAST(floor((row_number() OVER (PARTITION BY source
        |    ORDER BY len, doc_id) - 1) / 8.0) AS BIGINT) AS bs,
        |  CAST(floor((row_number() OVER (PARTITION BY source
        |    ORDER BY doc_id) - 1) / 8.0) AS BIGINT) AS ba
        | FROM nn),
        |ps AS (
        | SELECT source, sum(n) AS n_rows, count(*) AS n_batches,
        |  sum(sm) AS tokens, sum(n * mx) AS padded_sorted
        | FROM (SELECT source, bs, count(*) AS n, max(len) AS mx,
        |        sum(len) AS sm FROM b GROUP BY 1, 2)
        | GROUP BY 1),
        |pa AS (
        | SELECT source, sum(n * mx) AS padded_arrival
        | FROM (SELECT source, ba, count(*) AS n, max(len) AS mx
        |        FROM b GROUP BY 1, 2)
        | GROUP BY 1)
        |SELECT ps.source, CAST(ps.n_rows AS BIGINT) AS n_rows,
        | CAST(ps.n_batches AS BIGINT) AS n_batches,
        | CAST(ps.tokens AS BIGINT) AS tokens,
        | CAST(ps.padded_sorted AS BIGINT) AS padded_sorted,
        | CAST(pa.padded_arrival AS BIGINT) AS padded_arrival,
        | round(1.0 - CAST(ps.padded_sorted AS DOUBLE)
        |   / CAST(pa.padded_arrival AS DOUBLE), 6) + 0.0 AS saving_frac
        |FROM ps JOIN pa USING (source) ORDER BY source""".stripMargin))
  )
}
