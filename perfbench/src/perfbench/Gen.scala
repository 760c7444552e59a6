package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.engine.Schemas

/** Seeded input generators. Every value is a pure function of the seed,
  * so the same seed gives byte-identical inputs on every run and commit.
  */
object Gen {

  /** splitmix64 finalizer: decorrelates (seed, key) streams. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long): SplittableRandom = new SplittableRandom(mix(seed, stream))

  // ---------------------------------------------------------------- EPSS

  /** A dense daily score history: `cves` ids over `days` consecutive days
    * starting at `first`. Each CVE's epss (integer units of 1e-5, the
    * published 5-dp precision) holds until a change day; a day changes a
    * CVE's score with probability `changeRate`. Percentile is the share of
    * the day's CVEs scoring at or below the CVE, at 5 dp, as published.
    */
  final case class ScoreHistory(seed: Long, cves: Int, days: Int, first: LocalDate,
                                changeRate: Double) {
    val units: Array[Int] = {
      val a = new Array[Int](cves * days)
      var c = 0
      while (c < cves) {
        val r = rng(seed, 1000003L + c)
        // heavy-tailed like the real feed: most scores are tiny
        var v = math.max(1, (math.pow(r.nextDouble(), 4) * 100000).toInt)
        var d = 0
        while (d < days) {
          if (d > 0 && r.nextDouble() < changeRate) {
            val f = math.exp((r.nextDouble() - 0.5) * 1.2)
            val nv = math.min(100000, math.max(1, (v * f).toInt))
            v = if (nv == v) (if (v < 100000) v + 1 else v - 1) else nv
          }
          a(c * days + d) = v
          d += 1
        }
        c += 1
      }
      a
    }

    def cveId(c: Int): String = f"CVE-${2000 + c % 25}%d-${10000 + c}%d"
    def date(d: Int): LocalDate = first.plusDays(d.toLong)
    def last: LocalDate = date(days - 1)

    /** One day's rows as (cve, epss, percentile). */
    def day(d: Int): Iterator[(String, Double, Double)] = {
      val vals = Array.tabulate(cves)(c => units(c * days + d))
      val sorted = vals.sorted
      Iterator.range(0, cves).map { c =>
        val v = vals(c)
        (cveId(c), v / 100000.0, pct(sorted, v))
      }
    }

    private def pct(sorted: Array[Int], v: Int): Double = {
      // number of scores <= v (upper bound by binary search)
      var lo = 0
      var hi = sorted.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (sorted(m) <= v) lo = m + 1 else hi = m }
      math.round(lo.toDouble / cves * 100000) / 100000.0
    }

    /** Days [0, n) as a DataFrame in the store's schema, one partition per
      * day so the store holds one file per date like the published feed.
      */
    def frame(spark: SparkSession, n: Int): DataFrame = {
      val bc = spark.sparkContext.broadcast(this)
      val rows = spark.sparkContext.parallelize(0 until n, n).flatMap { d =>
        val h = bc.value
        val dt = java.sql.Date.valueOf(h.date(d))
        h.day(d).map { case (cve, e, p) => Row(dt, cve, e, p) }
      }
      spark.createDataFrame(rows, Schemas.scoreSchema)
    }

    /** Bytes of day `d` as a feed CSV (comment line, header, rows). */
    def csvBytes(d: Int): Long = {
      val comment = s"#model_version:v2023.03.01,score_date:${date(d)}T00:00:00+0000\n".length
      comment + "cve,epss,percentile\n".length + (0 until cves).map(c => cveId(c).length + 17L).sum
    }

    /** The published feed file for day `d`: gzipped CSV with the
      * `#model_version` comment line the post-2022 feed carries.
      */
    def writeFeed(dir: java.io.File, d: Int): Unit = {
      val f = new java.io.File(dir, s"epss_scores-${date(d)}.csv.gz")
      val w = new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8")
      try {
        w.write(s"#model_version:v2023.03.01,score_date:${date(d)}T00:00:00+0000\n")
        w.write("cve,epss,percentile\n")
        day(d).foreach { case (cve, e, p) => w.write(s"$cve,${fmt5(e)},${fmt5(p)}\n") }
      } finally w.close()
    }
  }

  /** A value in [0, 1] at exactly 5 decimals ("0.01234"), as the feed prints it. */
  def fmt5(x: Double): String = {
    val u = math.round(x * 100000)
    s"${u / 100000}.${"%05d".format(u % 100000)}"
  }

  // ------------------------------------------------------------ corpus

  val Dim = 64
  val SubClusters = 32

  /** A document corpus with a Zipf (hence Heaps-law) vocabulary, ~40
    * tokens a document, clustered 64-dim embeddings, and a planted share
    * of near-duplicates: a copy of a lower-id original with one token
    * replaced (`planted`: dup id -> original id).
    */
  final case class Corpus(seed: Long, docs: Int, vocab: Int, nearDupShare: Double,
                          clusters: Int, subSpread: Double, noise: Double) {
    private val zipfCdf: Array[Double] = {
      val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, 1.07))
      val s = w.sum
      var acc = 0.0
      w.map { x => acc += x / s; acc }
    }
    // two-level clusters, so a document's nearest neighbours are its
    // sub-cluster's members rather than noise among a whole cluster
    private val centers: Array[Array[Double]] = Array.tabulate(clusters * SubClusters) { c =>
      val r = rng(seed, 7000000L + c / SubClusters)
      val top = Array.fill(Dim)(r.nextDouble() * 2 - 1)
      val s = rng(seed, 7500000L + c)
      top.map(x => x + (s.nextDouble() - 0.5) * 2 * subSpread)
    }

    private def token(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var lo = 0
      var hi = vocab - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (zipfCdf(m) < u) lo = m + 1 else hi = m }
      "w" + lo
    }

    def text(r: SplittableRandom): String =
      Seq.fill(30 + r.nextInt(21))(token(r)).mkString(" ")

    def vec(r: SplittableRandom): Array[Double] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(Dim)(i => c(i) + (r.nextDouble() - 0.5) * 2 * noise)
    }

    /** Planted near-dup id -> its original's id (originals are never dups). */
    val planted: Map[Long, Long] = {
      val r = rng(seed, 42L)
      val n = math.max(1, (docs * nearDupShare).toInt)
      val dups = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      while (dups.size < n) {
        val d = 1L + r.nextInt(docs - 1)
        if (!dups.contains(d)) {
          var o = r.nextInt(d.toInt).toLong
          while (dups.contains(o)) o = r.nextInt(d.toInt).toLong
          dups(d) = o
        }
      }
      dups.toMap
    }

    def doc(id: Long): (String, Array[Double]) = planted.get(id) match {
      case Some(o) =>
        val (t, _) = doc(o)
        val r = rng(seed, 9000000L + id)
        val toks = t.split(" ")
        toks(r.nextInt(toks.length)) = "x" + id
        (toks.mkString(" "), vec(rng(seed, 8000000L + id)))
      case None =>
        (text(rng(seed, 5000000L + id)), vec(rng(seed, 8000000L + id)))
    }

    def frame(spark: SparkSession, parts: Int): DataFrame = {
      val bc = spark.sparkContext.broadcast(this)
      val rows = spark.sparkContext.parallelize(0L until docs.toLong, parts).map { id =>
        val (t, v) = bc.value.doc(id)
        Row(id, t, v.toSeq)
      }
      spark.createDataFrame(rows, Corpus.schema)
    }

    /** A query that is not in the corpus, drawn from the same distributions. */
    def freshQuery(stream: Long): (String, Array[Double]) = {
      val r = rng(seed, 3000000L + stream)
      (text(r), vec(r))
    }
  }

  object Corpus {
    val schema: StructType = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
  }
}
