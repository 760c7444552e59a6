package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank matches a driver-side reference on a small directed graph") {
    // 4-node graph: 0→1, 0→2, 1→2, 2→0, 3→2 (node 3 is a dangling
    // source for in-links; every node appears)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
      .toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", damping = 0.85, iters = 5)
      .orderBy("node").as[(Long, Double)].collect().toSeq

    // reference: same recurrence, same 12-dp re-quantization
    val out = Map(0L -> Seq(1L, 2L), 1L -> Seq(2L), 2L -> Seq(0L), 3L -> Seq(2L))
    val n = 4
    var r = Seq(0L, 1L, 2L, 3L).map(v => v -> 1.0 / n).toMap
    val teleport = (1.0 - 0.85) / n
    for (_ <- 1 to 5) {
      val contrib = out.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> r(u) / vs.size)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = r.keys.map { v =>
        val x = teleport + 0.85 * contrib.getOrElse(v, 0.0)
        v -> BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L))
    got.foreach { case (v, rank) =>
      assert(math.abs(rank - r(v)) < 1e-12, s"node $v: $rank vs ${r(v)}")
    }
    // node 2 (most in-links) must outrank the dangling node 3
    val m = got.toMap
    assert(m(2L) > m(3L))
  }

  test("an observe() metric fires on the job an eager localCheckpoint runs") {
    // hits normalizes each half-step by a mass observed on its checkpoint
    // job, which needs the metric ready as soon as localCheckpoint returns
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    def observed(n: Long): (Option[Any], Long) = {
      val obs = new Observation
      val df = spark.range(n).select((col("id") * 2).as("v"))
        .observe(obs, sum(col("v").cast("decimal(38,12)")).cast("double").as("__mass"))
        .localCheckpoint()
      // bounded wait, BEFORE any other action: a metric that never fires
      // (or fires only on a later job) fails here instead of hanging
      val mass = Await.result(Future(obs.get), 30.seconds).get("__mass")
      (mass, df.count())
    }
    assert(observed(100) == ((Some(9900.0), 100L)))
    assert(observed(0) == ((Some(null), 0L)))
  }

  test("a hits mass metric that never fires fails naming its half-step") {
    import scala.concurrent.duration._
    val never = new org.apache.spark.sql.Observation
    val e = intercept[IllegalStateException] {
      Graph.observedMass(never, "auth", 200.millis)
    }
    assert(e.getMessage.contains("auth half-step"))
  }

  test("pageRank validates damping and the fixed-iteration contract") {
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(edges, "src", "dst", 1.0, 5))
    intercept[IllegalArgumentException](Graph.pageRank(edges, "src", "dst", 0.85, 0))
    intercept[IllegalArgumentException](Graph.pageRank(edges, "src", "dst", 0.85, 51))
  }

  test("personalizedPageRank matches a driver-side reference; mass biases toward seeds") {
    // 0→1, 0→2, 1→2, 2→0, 3→2; seed set {0}
    val edgeSeq = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
    val edges = edgeSeq.toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
      damping = 0.85, iters = 5)
      .orderBy("node").as[(Long, Double)].collect().toSeq

    def q12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Map(0L -> Seq(1L, 2L), 1L -> Seq(2L), 2L -> Seq(0L), 3L -> Seq(2L))
    val e = Map(0L -> 1.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0)
    var r = e.map { case (v, ev) => v -> q12(ev) }
    for (_ <- 1 to 5) {
      val contrib = out.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> r(u) / vs.size)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = e.map { case (v, ev) =>
        v -> q12((1.0 - 0.85) * ev + 0.85 * contrib.getOrElse(v, 0.0))
      }
    }
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L))
    got.foreach { case (v, rank) =>
      assert(rank == r(v), s"node $v: $rank vs ${r(v)}")
    }
    // personalization: the non-seed source node 3 (unreachable from the
    // seed) holds zero rank; the seed's neighborhood holds all the mass
    val m = got.toMap
    assert(m(3L) == 0.0)
    assert(m(0L) > 0 && m(1L) > 0 && m(2L) > 0)
    intercept[IllegalArgumentException](
      Graph.personalizedPageRank(edges, "src", "dst",
        Seq.empty[Long].toDF("node"), "node"))
  }

  test("triangleStats counts K4-minus-an-edge exactly, through canonicalization") {
    // K4 on {0,1,2,3} minus {2,3}: triangles {0,1,2} and {0,1,3}.
    // Input is deliberately dirty: reversed duplicates and a self-loop.
    val edges = Seq(
      (0L, 1L), (1L, 0L), // dup both directions
      (0L, 2L), (0L, 3L), (1L, 2L), (3L, 1L),
      (2L, 2L) // self-loop must be dropped
    ).toDF("a", "b")
    val got = Graph.triangleStats(edges, "a", "b")
      .orderBy("node").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 3L, 2L, 0.666667), // 2·2/(3·2)
      (1L, 3L, 2L, 0.666667),
      (2L, 2L, 1L, 1.0),
      (3L, 2L, 1L, 1.0)))
  }

  test("triangleStats: triangle-free path graph reports zeros and coeff 0 at degree 1") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Graph.triangleStats(edges, "a", "b")
      .orderBy("node").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 0L, 0.0), (1L, 2L, 0L, 0.0),
      (2L, 2L, 0L, 0.0), (3L, 1L, 0L, 0.0)))
  }

  test("hits matches a driver-side reference stating the same decimal-sum recurrence") {
    // 0→1, 0→2, 1→2, 3→2: node 2 is the authority, node 0 the hub
    val edgeSeq = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 2L))
    val got = Graph.hits(edgeSeq.toDF("src", "dst"), "src", "dst", iters = 5)
      .orderBy("node").as[(Long, Double, Double)].collect().toSeq

    def q12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nodes = Seq(0L, 1L, 2L, 3L)
    // decimal(38,12) sum of 12-dp-quantized doubles == BigDecimal sum at
    // scale 12; one decimal→double cast then the IEEE division, 12-dp out
    def decSum(xs: Seq[Double]): Double =
      xs.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .foldLeft(BigDecimal(0))(_ + _).toDouble
    def normalize(raw: Map[Long, Double]): Map[Long, Double] = {
      val mass = decSum(nodes.map(raw))
      nodes.map(v => v -> q12(raw(v) / mass)).toMap
    }
    var hub = nodes.map(v => v -> q12(1.0 / 4)).toMap
    var auth = hub
    for (_ <- 1 to 5) {
      val authRaw = nodes.map(v =>
        v -> decSum(edgeSeq.filter(_._2 == v).map(e => hub(e._1)))).toMap
      auth = normalize(authRaw)
      val hubRaw = nodes.map(v =>
        v -> decSum(edgeSeq.filter(_._1 == v).map(e => auth(e._2)))).toMap
      hub = normalize(hubRaw)
    }
    assert(got.map(_._1) == nodes)
    got.foreach { case (v, h, a) =>
      assert(h == hub(v), s"hub $v: $h vs ${hub(v)}")
      assert(a == auth(v), s"auth $v: $a vs ${auth(v)}")
    }
    // structure sanity: 2 dominates authority, 0 dominates hubs
    val m = got.map(r => r._1 -> r).toMap
    assert(m(2L)._3 > m(1L)._3 && m(1L)._3 > m(3L)._3)
    assert(m(0L)._2 > m(1L)._2 && m(0L)._2 > m(3L)._2)
    intercept[IllegalArgumentException](
      Graph.hits(edgeSeq.toDF("src", "dst"), "src", "dst", iters = 0))
  }

  test("labelPropagation splits bridge-joined triangles that CC would weld") {
    // two triangles {0,1,2} and {10,11,12} joined by one bridge 2–10:
    // one connected component, but LPA's neighbor vote keeps each
    // triangle on its own (smallest-member) label
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(0L, 1L, 2L, 10L, 11L, 12L))
    assert(got(0L) == got(1L) && got(1L) == got(2L))
    assert(got(10L) == got(11L) && got(11L) == got(12L))
    assert(got(0L) != got(10L))
  }

  test("labelPropagation matches the synchronous driver-side recurrence") {
    // deterministic reference: same smallest-label tie rule, same
    // synchronous update, on an asymmetric graph with a contested node
    val edgeSeq = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val nbrs = edgeSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var l = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      l = nbrs.map { case (v, us) =>
        val votes = us.groupBy(l).view.mapValues(_.size).toSeq
        v -> votes.minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    val got = Graph.labelPropagation(edgeSeq.toDF("a", "b"), "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == l)
    intercept[IllegalArgumentException](
      Graph.labelPropagation(edgeSeq.toDF("a", "b"), "a", "b", iters = 0))
  }

  test("bfsHops: exact hop distances, off-graph seeds kept, unreached absent") {
    // path 0–1–2–3–4–5 plus isolated edge 8–9; seeds {0, 100}
    // (100 is not in the graph — emitted at distance 0 by contract)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("a", "b")
    val seeds = Seq(0L, 100L).toDF("id")
    val got = Graph.bfsHops(edges, "a", "b", seeds, "id", maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 100L -> 0))

    // two seeds: distance is the MIN over sources; direction-free
    val got2 = Graph.bfsHops(edges, "a", "b", Seq(5L, 0L).toDF("id"), "id",
      maxHops = 5).as[(Long, Int)].collect().toMap
    assert(got2 == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 2, 4L -> 1, 5L -> 0))
    intercept[IllegalArgumentException](
      Graph.bfsHops(edges, "a", "b", seeds, "id", maxHops = 0))
  }

  test("degreeAssortativity: star = -1, cycle degenerates NULL, mixed matches Pearson") {
    // star K1,4: every edge joins deg-4 hub to deg-1 leaf → r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val s = Graph.degreeAssortativity(star, "a", "b")
      .as[(Long, Option[Double])].head()
    assert(s == ((4L, Some(-1.0))))
    // 4-cycle: all degrees 2 → zero variance → NULL
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("a", "b")
    val c = Graph.degreeAssortativity(cyc, "a", "b")
      .as[(Long, Option[Double])].head()
    assert(c == ((4L, None)))
    // mixed graph vs a driver-side Pearson over both orientations
    val edgeSeq = Seq((0L, 1L), (1L, 2L), (1L, 3L), (3L, 4L), (2L, 3L))
    val deg = edgeSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val xs = edgeSeq.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = xs.size.toDouble
    val sx = xs.map(_._1).sum.toDouble
    val sx2 = xs.map(p => p._1 * p._1).sum.toDouble
    val sxy = xs.map(p => p._1 * p._2).sum.toDouble
    val expR = BigDecimal((n * sxy - sx * sx) / (n * sx2 - sx * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val m = Graph.degreeAssortativity(edgeSeq.toDF("a", "b"), "a", "b")
      .as[(Long, Option[Double])].head()
    assert(m == ((5L, Some(expR))))
  }
}
