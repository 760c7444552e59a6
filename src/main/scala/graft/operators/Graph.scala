package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.Rounding.zround
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics over document/reference graphs (citation ranking
  * for corpus curation: rank pages by link authority before quality
  * filtering, the web-corpus analogue of the reference's score-ordered
  * exports).
  *
  * Iteration discipline (SCALE.md §iterative fixpoints): open-ended
  * FIXPOINT loops must not stack DataFrame plans — per-round planning
  * cost grows without bound under Catalyst/AQE (measured; see
  * [[Dedup.connectedComponents]] for the RDD fixpoint pattern). PageRank
  * here is the other regime: a FIXED, small, caller-chosen iteration
  * count (5-20 in practice), so the plan depth is bounded by contract
  * and the declarative formulation stays — Catalyst sees the whole
  * unrolled pipeline and AQE sizes each iteration's exchanges.
  */
object Graph {

  /** PageRank with damping `d` over `iters` fixed iterations:
    * `r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u) / outdeg(u)`, uniform
    * init `1/N`. Nodes = src ∪ dst of the edge list; nodes without
    * in-links keep the teleport term (the left join below); dangling
    * nodes (no OUT-links) simply leak their mass to the teleport term —
    * the rank mass is then no longer exactly 1, the standard simplified
    * treatment (callers needing stochastic-exact PageRank should add
    * self-loops or a dangling-mass redistribution pass).
    *
    * Every iteration's rank is rounded to 12 dp: in-contributions sum in
    * engine-chosen order, and without the per-iteration re-quantization
    * double-sum ordering noise would compound across iterations — with
    * it, any engine stating this recurrence reproduces the ranks
    * bit-for-bit (the DuckDB oracle does).
    *
    * 100 TB shape: the weighted edge list (src, dst, 1/outdeg) is built
    * once — one src-keyed co-shuffled join against the outdegree
    * aggregate — and persisted, so each iteration costs exactly two
    * exchanges: ranks join edges on src, contributions aggregate on dst
    * (map-side combinable). Ranks are node-sized, edges edge-sized;
    * nothing is ever collected or broadcast (node counts at web scale
    * dwarf broadcast limits). `N` is one driver-side scalar count.
    *
    * Cache lifetime: the returned ranks frame reads the persisted
    * weighted-edge table LAZILY (iters references in the unrolled plan,
    * PlanSpec q127 pins the cache scan), so the operator cannot release
    * it before the caller's action — the cache is caller-owned; a
    * long-lived session that calls pageRank repeatedly should
    * `spark.catalog.clearCache()` or re-plan off a materialized copy
    * between calls ([[hits]] eagerly self-releases instead, which it can
    * only because its contract materializes per-round).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               damping: Double = 0.85, iters: Int = 5): DataFrame = {
    require(damping > 0 && damping < 1, s"damping out of (0,1): $damping")
    require(iters >= 1 && iters <= 50,
      s"iters out of [1,50] (fixed-iteration contract, see scaladoc): $iters")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node"))).distinct()
    val n = nodes.count()
    val outDeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
    val weighted = e.join(outDeg, Seq("__src"))
      .select(col("__src"), col("__dst"),
        (lit(1.0) / col("__deg").cast("double")).as("__w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val teleport = (1.0 - damping) / n.toDouble
    var ranks = nodes.withColumn("rank", lit(1.0 / n.toDouble))
    for (_ <- 1 to iters) {
      val contribs = ranks.join(weighted, ranks("node") === weighted("__src"))
        .groupBy(col("__dst"))
        .agg(sum(col("rank") * col("__w")).as("__in"))
      ranks = nodes.join(contribs, nodes("node") === contribs("__dst"), "left")
        .select(col("node"),
          round(lit(teleport) + lit(damping) * coalesce(col("__in"), lit(0.0)), 12)
            .as("rank"))
    }
    ranks
  }

  /** Personalized PageRank: [[pageRank]] with the teleport mass
    * concentrated on a SEED set instead of uniform — "rank pages by
    * authority relative to these trusted domains / this topic's seed
    * docs", the curation variant that biases the crawl frontier toward a
    * quality neighborhood. `r_{t+1}(v) = (1−d)·e(v) + d·Σ_{u→v}
    * r_t(u)/outdeg(u)` with `e(v) = 1/|S|` on seeds, 0 elsewhere; init
    * `r_0 = e`. Same fixed-iteration contract, per-iteration 12-dp
    * re-quantization, and dangling-mass treatment as [[pageRank]].
    *
    * 100 TB shape: identical to [[pageRank]] (persisted weighted edges,
    * two exchanges per iteration) plus one node-sized seed membership
    * joined into the teleport term — seeds broadcast (seed sets are
    * small by meaning: trusted-domain lists, topic exemplars). Cache
    * lifetime of `weighted`/`base` is caller-owned, as in [[pageRank]].
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           damping: Double = 0.85, iters: Int = 5): DataFrame = {
    require(damping > 0 && damping < 1, s"damping out of (0,1): $damping")
    require(iters >= 1 && iters <= 50,
      s"iters out of [1,50] (fixed-iteration contract, see scaladoc): $iters")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node"))).distinct()
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("__seed", lit(1))
    val nSeeds = seedSet.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    val outDeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__deg"))
    val weighted = e.join(outDeg, Seq("__src"))
      .select(col("__src"), col("__dst"),
        (lit(1.0) / col("__deg").cast("double")).as("__w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = nodes.join(broadcast(seedSet), Seq("node"), "left")
      .select(col("node"),
        when(col("__seed").isNotNull, lit(1.0 / nSeeds.toDouble))
          .otherwise(lit(0.0)).as("__e"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = base.select(col("node"), round(col("__e"), 12).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = ranks.join(weighted, ranks("node") === weighted("__src"))
        .groupBy(col("__dst"))
        .agg(sum(col("rank") * col("__w")).as("__in"))
      ranks = base.join(contribs, base("node") === contribs("__dst"), "left")
        .select(col("node"),
          round(lit(1.0 - damping) * col("__e")
            + lit(damping) * coalesce(col("__in"), lit(0.0)), 12).as("rank"))
    }
    ranks
  }

  /** Per-node triangle count, degree, and local clustering coefficient
    * over an UNDIRECTED simple graph (the similarity-graph health report
    * a dedup pipeline reads before trusting its near-dup clusters: a
    * high-clustering component is a genuine duplicate family, a hub with
    * zero clustering is a shingle collision).
    *
    * Input edges may be directed/duplicated/self-looped; they are
    * canonicalized first (lo < hi, distinct). A triangle {a,b,c} is
    * counted once and credited to each of its three vertices;
    * `coeff = 2·tri / (deg·(deg−1))`, 0 when deg < 2, rounded 6 dp.
    *
    * 100 TB shape — degree orientation, the standard arboricity bound:
    * wedges are enumerated from edges oriented LOW-DEGREE → HIGH-DEGREE
    * (ties by id), so a hub of degree d generates zero wedges as a
    * source unless its neighbors are even higher-degree; per-node wedge
    * fan-out is bounded by the graph's degeneracy, not its max degree
    * (id-oriented joins quadratically explode on high-id hubs). The
    * wedge→closing-edge probe is an equi-join on the canonical (lo, hi)
    * pair key; nothing is ever all-pairs. Degrees are one
    * map-side-combinable aggregation; the orientation join is edge-sized.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val deg = canon.select(col("lo").as("node"))
      .unionByName(canon.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient each canonical edge from (deg, id)-smaller to larger endpoint
    val oriented = canon
      .join(deg.select(col("node").as("lo"), col("degree").as("__dl")), Seq("lo"))
      .join(deg.select(col("node").as("hi"), col("degree").as("__dh")), Seq("hi"))
      .select(
        when(col("__dl") < col("__dh") ||
          (col("__dl") === col("__dh") && col("lo") < col("hi")), col("lo"))
          .otherwise(col("hi")).as("u"),
        when(col("__dl") < col("__dh") ||
          (col("__dl") === col("__dh") && col("lo") < col("hi")), col("hi"))
          .otherwise(col("lo")).as("v"))
    // wedges u→v, u→w with v < w: each unordered neighbor pair of u is
    // enumerated exactly once, and — both edges being oriented AWAY from
    // u — each triangle is found from exactly one of its three vertices
    val e1 = oriented.select(col("u"), col("v"))
    val e2 = oriented.select(col("u").as("u2"), col("v").as("w"))
    val wedges = e1.join(e2, col("u") === col("u2") && col("v") < col("w"))
      .select(col("u"), col("v"), col("w"))
    val tris = wedges
      .join(canon.select(col("lo").as("v"), col("hi").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("coeff",
        when(col("degree") >= 2,
          round(lit(2.0) * col("triangles").cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)))
  }

  /** A hits half-step's observed `__mass` as a double literal Column: a
    * java.lang.Double, or (zero-row half-step, edge-free degenerate graphs)
    * the metric row's NULL — the same NULL the one-row sum aggregate
    * produced, so the division semantics are unchanged. The metric is set
    * when the half-step's eager checkpoint returns, so the wait is bounded:
    * a metric that never fires fails naming the half-step instead of
    * blocking forever.
    */
  private[operators] def observedMass(obs: Observation, halfStep: String,
                                      wait: FiniteDuration = 2.minutes): Column =
    try lit(Await.result(obs.future, wait).getAs[Any]("__mass")).cast("double")
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"hits: the $halfStep half-step's mass metric did not arrive within $wait")
    }

  /** HITS hubs/authorities over a DIRECTED edge list, `iters` fixed
    * iterations of the sum-normalized (L1) recurrence:
    * `a(v) ∝ Σ_{u→v} h(u)`, `h(u) ∝ Σ_{u→v} a(v)`, uniform init, each
    * half-step divided by the global score mass so scores stay a
    * distribution. Same fixed-iteration contract as [[pageRank]].
    *
    * Cross-engine exactness: every sum in the recurrence — the per-node
    * in/out link sums AND the global mass — aggregates the 12-dp-quantized
    * scores as DECIMAL(38,12), which is exact and ORDER-INDEPENDENT (an
    * engine-order double sum can differ in the last ulp and straddle a
    * rounding boundary); one decimal→double cast then feeds the division
    * and the result re-quantizes to 12 dp. Any engine stating this
    * recurrence reproduces the scores bit-for-bit (the DuckDB oracle
    * does).
    *
    * 100 TB shape: edges are persisted once; each iteration is two
    * edge-sized co-keyed joins + two map-side-combinable aggregations
    * (node-sized). Each half-step's global mass rides the half-step's
    * own materializing job as an `observe` metric and normalizes as a
    * scalar LITERAL — no mass aggregate job, no broadcast build, and no
    * EXTRA driver barrier (the checkpoint already blocks; the metric is
    * ready when it returns). History: two collect heads/iter 8.54 s →
    * one 6.99 s → in-plan broadcast mass 5.60 s on the sf0.1 graph
    * (pipe_hits 500k 31.3 s → 20.5 s) → observed-literal mass, −2
    * jobs/iter. Nothing node- or edge-sized is ever collected.
    *
    * Iteration discipline — the [[pageRank]] caveat does NOT transfer:
    * unlike PageRank (whose loop references the previous ranks ONCE, so
    * the unrolled plan grows linearly), each half-step's raw link-sum
    * frame is referenced TWICE (its global mass + its rows), which
    * doubles the logical subtree per round — exponential Catalyst
    * analysis time by iteration 4-5 (measured: minutes at 1k nodes). So
    * each half-step's raw link-sum frame is `localCheckpoint()`ed —
    * the Catalyst plan stays constant-depth, the frame's two consumers
    * read one materialized RDD, and (unlike the previous
    * `createDataFrame(df.rdd, schema)` re-root, which drops
    * outputPartitioning) the checkpoint's `LogicalRDD` KEEPS the
    * half-step's hash partitioning, so the next iteration's node-keyed
    * join does not re-exchange the score side (round 17: q144's plan
    * lost 5 of its exchanges and ~40 of its 101 Spark jobs this way).
    *
    * The loop state is the SPARSE hub frame alone — the dense
    * (node, hub, auth) merge the loop used to rebuild per round is only
    * needed at the very end: the auth recurrence reads ONLY hub, and a
    * node absent from the hub frame contributes an exact decimal ZERO
    * to every link sum, so dropping the full-outer merge changes no
    * value (per-round merge jobs: gone).
    *
    * Cache lifetime: the routing caches (edges, both pre-partitioned
    * copies, node table) are explicitly released once the dense result
    * materializes; the half-step localCheckpoints have no unpersist
    * handle by API design — their blocks are freed by the
    * ContextCleaner when the loop frames go out of scope, the same
    * lifecycle every other localCheckpoint in this engine (q133's set
    * table, the sparse index build) already relies on.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"iters out of [1,50] (fixed-iteration contract, see scaladoc): $iters")
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // pre-partition the edge list ONCE per join side (the GraphX routing
    // trick): every iteration's scores⋈edges join then reshuffles only
    // the node-sized side — at web scale the edge table dwarfs the score
    // table, so re-exchanging edges 2×iters times would dominate
    val eSrc = e.repartition(col("__src")).persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = e.repartition(col("__dst")).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    // SPARSE loop state: a node absent from a half-step's frame has
    // score 0 — zeros contribute nothing to link sums or the mass, so
    // carrying them through every iteration would only pay two extra
    // node-sized left-join shuffles per half-step (measured ~2× wall at
    // 5k nodes). The loop carries ONLY the hub frame (the auth
    // recurrence's sole input); the dense (node, hub, auth) view is
    // reinstated ONCE at the end from the final half-step frames.
    def massOf(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,12)")).cast("double")
    var hub = nodes.withColumn("hub", round(lit(1.0 / n.toDouble), 12))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // each raw half-step localCheckpoints: its two consumers (the mass
      // aggregate + the rows) read one materialized RDD instead of
      // replaying the join subtree, and the Catalyst plan stays
      // constant-depth. (Checkpointing only the NORMALIZED frame once
      // per round and leaving the raw half-step lazy was A/B'd: AQE does
      // NOT dedupe the doubled raw subtree across the mass and row
      // references — 73 → 123 jobs, +0.9 s. Two checkpoints per round is
      // the measured floor.) The checkpoint's LogicalRDD keeps the
      // aggregation's hash partitioning so the next node-keyed join
      // re-exchanges nothing (the old snap() re-root dropped it — one
      // extra exchange per half-step).
      // the half-step's global mass rides the CHECKPOINT'S OWN JOB as an
      // `observe` metric (CollectMetrics aggregates the rows as they
      // stream into the checkpoint — pinned by GraphSpec's observe spec:
      // eager localCheckpoint is a `withAction`, so the metric is
      // available the moment the checkpoint returns), then normalizes as
      // a LITERAL. The previous form — a one-row aggregate over the
      // checkpointed frame broadcast into a scalar cross join — paid one
      // extra Spark job + broadcast build per half-step (2·iters jobs).
      // The metric expression is the SAME decimal-sum→double massOf the
      // aggregate stated, computed over the same rows — exact and
      // order-independent, so the division input is bit-identical
      // (GraphSpec's driver-side reference pins the scores).
      val authObs = new Observation
      val authRaw = hub.join(eSrc, hub("node") === eSrc("__src"))
        .groupBy(col("__dst"))
        .agg(massOf(col("hub")).as("auth"))
        .select(col("__dst").as("node"), col("auth"))
        .observe(authObs, massOf(col("auth")).as("__mass"))
        .localCheckpoint()
      auth = authRaw
        .select(col("node"), round(col("auth") / observedMass(authObs, "auth"), 12).as("auth"))
      val hubObs = new Observation
      val hubRaw = auth.join(eDst, auth("node") === eDst("__dst"))
        .groupBy(col("__src"))
        .agg(massOf(col("auth")).as("hub"))
        .select(col("__src").as("node"), col("hub"))
        .observe(hubObs, massOf(col("hub")).as("__mass"))
        .localCheckpoint()
      hub = hubRaw
        .select(col("node"), round(col("hub") / observedMass(hubObs, "hub"), 12).as("hub"))
    }
    // reinstate the dense view ONCE: both final half-steps left-join the
    // node table (absent = exact 0, the sparse-state convention — the
    // same rows and values the old per-round full-outer merge carried),
    // materialized eagerly so the routing caches can release below
    val out = nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
      .localCheckpoint()
    Seq(e, eSrc, eDst, nodes).foreach(_.unpersist(blocking = false))
    out
  }

  /** Synchronous label propagation (community detection) over an
    * UNDIRECTED simple graph, `iters` fixed iterations — the cheap
    * community refinement a dedup pipeline runs on its similarity graph
    * when connected components are too coarse (one bridge edge welds two
    * genuine duplicate families into one CC; LPA splits them because
    * each side's labels outvote the single bridge).
    *
    * Update rule (deterministic by construction, unlike the classic
    * randomized-order LPA): every node simultaneously adopts the label
    * most frequent among its NEIGHBORS at iteration t, ties broken by
    * the SMALLEST label; `l_0(v) = v`. Isolated nodes cannot occur
    * (nodes are defined as edge endpoints). Synchronous + smallest-label
    * ties means any engine stating the rule reproduces the labels
    * exactly — the DuckDB oracle does, unrolled.
    *
    * 100 TB shape: the both-direction neighbor list is built once and
    * persisted; each iteration is ONE label-join (node-keyed) plus ONE
    * map-side-combinable aggregation — the argmax is
    * `max(struct(cnt, -label))`, a plain partial-aggregatable `max`, NOT
    * a per-node window (no second shuffle, no rank materialization).
    * Labels are node-sized; nothing is collected or broadcast. The
    * result materializes once and the internal edge cache self-releases
    * (the [[hits]] pattern); the returned cache is caller-owned.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"iters out of [1,50] (fixed-iteration contract, see scaladoc): $iters")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val nbrs = canon.select(col("lo").as("__v"), col("hi").as("__u"))
      .unionByName(canon.select(col("hi").as("__v"), col("lo").as("__u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = nbrs.select(col("__v").as("node")).distinct()
      .select(col("node"), col("node").cast("long").as("label"))
    for (_ <- 1 to iters) {
      labels = nbrs.join(labels, nbrs("__u") === labels("node"))
        .groupBy(col("__v"), col("label")).agg(count(lit(1)).as("__cnt"))
        .groupBy(col("__v"))
        .agg(max(struct(col("__cnt"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("__v").as("node"), (-col("__m.__nl")).as("label"))
    }
    // materialize once, self-release the edge cache (the hits pattern —
    // the caller has no handle on nbrs, so caller-owned would leak)
    val out = labels.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    nbrs.unpersist(blocking = false)
    out
  }

  /** Multi-source BFS hop distance: for every node reachable from the
    * SEED set within `maxHops` undirected hops, the exact minimum hop
    * count — "how far is each document from the trusted exemplars in the
    * similarity graph", the curation radius query (personalized PageRank
    * gives a soft version; this is the hard hop metric).
    *
    * Semantics: `d_0 = 0` on seeds (seeds not present in the graph are
    * still emitted at distance 0); `d_{t+1}(v) = min(d_t(v),
    * 1 + min_{u∈N(v)} d_t(u))` over undirected edges, `maxHops` fixed
    * iterations; unreached nodes are ABSENT from the result. The
    * recurrence is integer-exact — nothing to quantize.
    *
    * 100 TB shape: the both-direction neighbor list is built once and
    * persisted; each hop is one node-keyed join against the CURRENT
    * distance table plus one map-side-combinable `min` aggregation and a
    * full-outer merge — all node-sized. Distances only ever shrink, and
    * the table only grows by the new frontier, so plan depth is bounded
    * by the `maxHops` contract (same regime as [[pageRank]], not the
    * open-ended [[Dedup.connectedComponents]] fixpoint).
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int = 5): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops out of [1,50] (fixed-iteration contract, see scaladoc): $maxHops")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val nbrs = canon.select(col("lo").as("__v"), col("hi").as("__u"))
      .unionByName(canon.select(col("hi").as("__v"), col("lo").as("__u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hops", lit(0))
    for (_ <- 1 to maxHops) {
      val reach = dist.join(nbrs, dist("node") === nbrs("__u"))
        .groupBy(col("__v"))
        .agg((min(col("hops")) + 1).as("__h"))
        .select(col("__v").as("node"), col("__h"))
      dist = dist.join(reach, Seq("node"), "full")
        .select(col("node"),
          least(coalesce(col("hops"), lit(Int.MaxValue)),
            coalesce(col("__h"), lit(Int.MaxValue))).as("hops"))
    }
    // materialize once, self-release the edge cache (see labelPropagation)
    val out = dist.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    nbrs.unpersist(blocking = false)
    out
  }

  /** Degree assortativity of an UNDIRECTED simple graph: Pearson r of
    * endpoint degrees over BOTH orientations of every canonical edge
    * (the standard undirected treatment — making the moment sums
    * symmetric). Positive r = hubs attach to hubs; on a dedup
    * similarity graph that reads as one family's shingles dominating
    * the candidate space. One row: `(n_edges, assortativity)`,
    * NULL when the degree sequence is constant (zero variance).
    *
    * Integer-exact: degrees are BIGINTs, all five moment sums aggregate
    * as DECIMAL(38,0) (order-independent), one decimal→double cast
    * feeds the closed form, rounded 6 dp — engine-identical.
    *
    * 100 TB shape: degrees are one map-side-combinable aggregation;
    * attaching them to edges is two node-keyed joins; the moments are a
    * single scalar aggregate. Nothing is collected or broadcast.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val deg = canon.select(col("lo").as("node"))
      .unionByName(canon.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val oriented = canon
      .join(deg.select(col("node").as("lo"), col("degree").as("__dl")), Seq("lo"))
      .join(deg.select(col("node").as("hi"), col("degree").as("__dh")), Seq("hi"))
    val both = oriented.select(col("__dl").as("x"), col("__dh").as("y"))
      .unionByName(oriented.select(col("__dh").as("x"), col("__dl").as("y")))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    both.agg(
      count(lit(1)).as("__n"),
      sum(d(col("x"))).as("__sx"),
      sum(d(col("x")) * d(col("x"))).as("__sx2"),
      sum(d(col("x")) * d(col("y"))).as("__sxy"))
      .select((col("__n") / 2).cast("long").as("n_edges"),
        col("__n"), col("__sx"), col("__sx2"), col("__sxy"))
      // symmetry (sx = sy, sx2 = sy2) collapses the usual
      // sqrt((n·sx2−sx²)(n·sy2−sy²)) denominator to n·sx2 − sx²
      .select(col("n_edges"),
        when(col("__n") * col("__sx2") - col("__sx") * col("__sx") > 0,
          zround(((col("__n") * col("__sxy") - col("__sx") * col("__sx")).cast("double"))
            / ((col("__n") * col("__sx2") - col("__sx") * col("__sx")).cast("double")),
            6))
          .as("assortativity"))
  }
}
