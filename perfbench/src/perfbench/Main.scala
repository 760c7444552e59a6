package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.EpssCli
import graft.operators.{Dedup, Retrieval, Similarity, TextAnalysis}
import graft.sources.ScoreStore

/** The benchmark's JVM side: sets up one workload's inputs from the seed,
  * runs its closed loop (one client: each op starts when the previous one
  * returned) for the given seconds through the engine's public entry
  * points, checks the outputs it can check itself, and writes one result
  * JSON for `run.py`, which adds the DuckDB oracle checks and prints.
  *
  * Usage: perfbench.Main --config F --workload W --seed N --seconds S
  *        --trace 0|1 --work DIR --trace-dir DIR --result FILE
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = new ObjectMapper().readTree(new File(a("config")))
    val work = new File(a("work"))
    work.mkdirs()
    val spark = session(cfg, work)
    val trace = new Trace(spark, a("trace") == "1", cfg.get("nproc").asInt)
    val b = new Bench(spark, cfg, a("workload"), a("seed").toLong, a("seconds").toDouble, work, trace)
    val out = mutable.LinkedHashMap[String, Any]("workload" -> a("workload"), "seed" -> a("seed").toLong)
    try {
      a("workload") match {
        case "epss" => b.epss()
        case "retrieval" => b.retrieval()
        case w => sys.error(s"unknown workload: $w")
      }
    } catch {
      case NonFatal(e) => b.check("workload completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
    } finally spark.stop()
    out ++= b.summary()
    if (trace.enabled) out("trace") = b.traceSummary(new File(a("trace-dir")))
    out("peak_rss_mb") = peakRssMb()
    val f = new File(a("result"))
    java.nio.file.Files.writeString(f.toPath, Json.render(out))
    sys.exit(0) // no stray non-daemon thread may keep the JVM alive
  }

  /** `EpssCli.main`'s session conf (from config.json), with Spark's
    * scratch space kept inside the work directory.
    */
  def session(cfg: JsonNode, work: File): SparkSession = {
    val sp = cfg.get("spark")
    val b = SparkSession.builder().master(sp.get("master").asText)
    sp.get("conf").fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
    b.config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    b.config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

final class Bench(spark: SparkSession, cfg: JsonNode, workload: String, seed: Long,
                  seconds: Double, work: File, tr: Trace) {

  private val wcfg = cfg.get(workload)
  private def int(k: String): Int = wcfg.get(k).asInt
  private def dbl(k: String): Double = wcfg.get(k).asDouble
  private val reps = cfg.get("setup_reps").asInt

  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val oracle = mutable.LinkedHashMap.empty[String, Any]
  private val overhead = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var primary = ""
  private val t0 = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  /** Marks the end of a phase of the run (seconds since the session began). */
  private def phase(name: String): Unit = phases(name) = (System.nanoTime() - t0) / 1e9
  private var diskRatio = Double.NaN
  private var quality = Double.NaN

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** One op. A throw counts as a failure (op type, seed and cause go to
    * stderr) and never as a timing. `timedAs` names the series the wall
    * time joins; None for warmups.
    */
  private def op[T](kind: String, timedAs: Option[String], attrs: Map[String, String] = Map.empty,
                    traced: Boolean = tr.enabled)(body: => T): Option[T] = {
    attempted += 1
    try {
      val (r, ms) = tr.op(kind, attrs, traced)(body)
      timedAs.foreach { s =>
        times.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ms
        if (tr.enabled) overhead.getOrElseUpdate(s"$s/${traced}", mutable.ArrayBuffer.empty) += ms
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        val msg = s"op failed: workload=$workload op=$kind seed=$seed attrs=$attrs cause=" +
          s"${e.getClass.getName}: ${e.getMessage}".take(400)
        failures += msg
        System.err.println(s"[perfbench] $msg")
        None
    }
  }

  /** Closed loop for the configured seconds over op index i. */
  private def loop(step: Int => Unit): Unit = {
    phase("warmup")
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) { step(i); i += 1 }
    phase("loop")
  }

  private def setup(body: Int => Unit): Unit = {
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      body(r)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
  }

  private def cli(args: String*): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(EpssCli.run(spark, args))
    buf.toString("UTF-8")
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  private def path(name: String): String = new File(work, name).getAbsolutePath

  private def history(days: Int): Gen.ScoreHistory =
    Gen.ScoreHistory(seed, int("cves"), days, LocalDate.parse(wcfg.get("first_date").asText),
      dbl("change_rate"))

  /** Rows of a sink's output, read back outside the timed window. */
  private def rowsIn(out: String, fmt: String): Long = fmt match {
    case "parquet" => spark.read.parquet(out).count()
    case "csv" => spark.read.option("header", "true").csv(out).count()
    case "json" => new ObjectMapper().readTree(new File(out)).size().toLong
    case "xlsx" =>
      val z = new java.util.zip.ZipFile(out)
      try {
        val xml = new String(z.getInputStream(z.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
        "<row ".r.findAllMatchIn(xml).size - 1L
      } finally z.close()
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  // ---------------------------------------------------------------- epss

  private final case class Req(i: Int, kind: String, args: Seq[String], fields: Map[String, Any])

  /** One analyst session on one store: filtered `scores` requests in four
    * sink formats, full-window quantize jobs (the reference's headline
    * job) and daily `download` ingests, some of them repeats.
    */
  def epss(): Unit = {
    primary = "serve_query"
    val days = int("days")
    val feedDays = int("feed_days")
    val store = path("store")
    val feeds = new File(work, "feeds")
    val outDir = new File(work, "out")
    val quantOut = path("quantize-out.parquet")
    val formats = Seq("csv", "json", "parquet", "xlsx")
    var h: Gen.ScoreHistory = null
    var nextFeed = days
    val ingested = mutable.ArrayBuffer.empty[String]
    val served = mutable.ArrayBuffer.empty[Map[String, Any]]
    val r = Gen.rng(seed, 77L)

    // the mix is stratified (formats, filter kinds and unquantized reads
    // in fixed rotation; windows, ids and bounds drawn from the seed), so a
    // short run sees the same blend of request shapes on every seed
    def scoresReq(i: Int, n: Int): Req = {
      val fmt = formats(n % formats.size)
      val len = 1 + r.nextInt(14)
      val end = 14 + r.nextInt(days - 14)
      val (lo, hi) = (h.date(end - len + 1).toString, h.date(end).toString)
      val drop = n % 5 != 4
      def bound(lo: Double, width: Double) =
        BigDecimal(lo + width * r.nextDouble()).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val filter: (Seq[String], Map[String, Any]) =
        if (n % 2 == 0) {
          val ids = Seq.fill(1 + r.nextInt(50))(h.cveId(r.nextInt(int("cves")))).distinct
          (ids.flatMap(c => Seq("--cve", c)), Map("cves" -> ids))
        } else {
          val (name, a) = if (n % 4 == 1) ("percentile", bound(0.90, 0.09)) else ("epss", bound(0.3, 0.6))
          val b = a + (if (name == "percentile") bound(0.005, 0.025) else bound(0.01, 0.09))
          (Seq(s"--min-$name", a.toString, s"--max-$name", b.toString),
            Map(s"min_$name" -> a.toDouble, s"max_$name" -> b.toDouble))
        }
      val out = new File(outDir, s"r$i.$fmt").getAbsolutePath
      Req(i, "scores",
        Seq("scores", "--store", store, "-a", lo, "-b", hi) ++ filter._1 ++
          (if (drop) Nil else Seq("--no-drop-unchanged")) ++ Seq("--output", out),
        Map("min" -> lo, "max" -> hi, "drop_unchanged" -> drop, "format" -> fmt, "output" -> out) ++
          filter._2)
    }

    def downloadReq(i: Int, n: Int): Req = {
      val repeat = ingested.nonEmpty && (nextFeed >= days + feedDays || n % 4 == 3)
      val d = if (repeat) ingested(r.nextInt(ingested.size))
              else { nextFeed += 1; h.date(nextFeed - 1).toString }
      Req(i, "download", Seq("download", "--store", store, "--feed-dir", feeds.getAbsolutePath,
        "--date", d), Map("date" -> d, "repeat" -> repeat))
    }

    // the reference's headline job: the change log of the whole history
    def quantizeReq(i: Int): Req =
      Req(i, "quantize", Seq("scores", "--store", store, "-a", h.date(1).toString,
        "-b", h.date(days - 1).toString, "--output", quantOut), Map("format" -> "parquet"))

    def run(q: Req, timed: Boolean, traced: Boolean): Unit = q.kind match {
      case "scores" | "quantize" =>
        val fmt = q.fields("format").toString
        val series = if (!timed) None else if (q.kind == "scores") Some("serve_query") else Some("job")
        val out = if (q.kind == "scores") q.fields("output").toString else quantOut
        if (op(q.kind, series, Map("format" -> fmt), traced)(cli(q.args: _*)).isDefined) {
          if (q.kind == "scores") served += q.fields + ("i" -> q.i)
          if (traced) tr.count("rows_returned", rowsIn(out, fmt).toDouble, tr.last)
        }
      case "download" =>
        val repeat = q.fields("repeat") == true
        val d = q.fields("date").toString
        val before = if (repeat) spark.read.parquet(store).count() else 0L
        val attrs = if (repeat) Map("repeat" -> "1") else Map.empty[String, String]
        val series = if (!timed) None else if (repeat) Some("serve_repeat") else Some("write")
        op("download", series, attrs, traced)(cli(q.args: _*)).foreach { printed =>
          if (repeat) {
            val after = spark.read.parquet(store).count()
            check(s"repeat download $d is skipped", printed.contains("\"skipped\": 1") &&
              printed.contains("\"ingested\": 0") && before == after,
              s"printed=${printed.trim} rows_before=$before rows_after=$after")
          } else {
            ingested += d
            check(s"download $d ingests one file", printed.contains("\"ingested\": 1"), printed.trim)
          }
        }
    }

    // the store: a bulk write of the history, then the latest days
    // ingested from the feed the way the daily job does
    setup { rep =>
      Seq(new File(store), feeds, outDir).foreach(rm)
      feeds.mkdirs(); outDir.mkdirs()
      h = history(days + feedDays)
      ScoreStore.write(h.frame(spark, days), store)
      (days until days + feedDays).foreach(d => h.writeFeed(feeds, d))
      nextFeed = days
      ingested.clear()
      (0 until int("setup_ingests")).foreach(_ => run(downloadReq(-1, 0), timed = rep > 1, traced = rep > 1))
    }
    // warmup, untimed: one request per sink format and one quantize job
    formats.indices.foreach(n => run(scoresReq(-1 - n, n), timed = false, traced = false))
    run(quantizeReq(-9), timed = false, traced = false)
    // in every ten requests: two quantize jobs, one download (every
    // fourth download a repeat), seven filtered scores requests. A traced
    // run traces every other rotation of the four formats and every other
    // quantize job, so the untraced half prices the tracing overhead on
    // the same blend.
    var nScores = 0
    var nJobs = 0
    var nDownloads = 0
    loop { i =>
      i % 10 match {
        case 4 | 9 =>
          nJobs += 1
          run(quantizeReq(i), timed = true, traced = tr.enabled && nJobs % 2 == 0)
        case 7 =>
          nDownloads += 1
          run(downloadReq(i, nDownloads - 1), timed = true, traced = tr.enabled)
        case _ =>
          nScores += 1
          val traced = tr.enabled && ((nScores - 1) / formats.size) % 2 == 1
          run(scoresReq(i, formats.size + nScores - 1), timed = true, traced)
      }
    }

    val storeRows = int("cves").toLong * days
    times.get("job").foreach { t =>
      named("quantize_rows_per_s") = (storeRows / (Stats.median(t) / 1000.0), "rows/s")
    }
    times.get("serve_query").foreach { t =>
      named("serve_query_p50_ms") = (Stats.median(t), "ms")
      Stats.tail(t).foreach { case (p, v) => named(s"serve_query_tail_ms(p$p)") = (v, "ms") }
    }
    times.get("write").foreach(t => named("serve_ingest_p50_ms") = (Stats.median(t), "ms"))
    val dayOf = (d: String) => java.time.temporal.ChronoUnit.DAYS.between(h.first, LocalDate.parse(d)).toInt
    diskRatio = ingested.map(d => dirBytes(new File(store, s"date=$d"))).sum.toDouble /
      ingested.map(d => h.csvBytes(dayOf(d))).sum
    named("store_bytes_per_csv_byte") = (diskRatio, "ratio")
    oracle ++= Map("store" -> store, "requests" -> served, "ingested" -> ingested,
      "feed_dir" -> feeds.getAbsolutePath, "quantize_output" -> quantOut,
      "min" -> h.date(1).toString, "max" -> h.date(days - 1).toString)
  }

  // ----------------------------------------------------------- retrieval

  def retrieval(): Unit = {
    primary = "retrieval_query"
    val docs = int("docs")
    val corpus = Gen.Corpus(seed, docs, int("vocab"), dbl("near_dup_share"), int("clusters"),
      dbl("sub_spread"), dbl("noise"))
    val (k, batch) = (int("k"), int("batch"))
    val corpusDir = path("corpus")
    val keptDir = path("kept")
    val ivfDir = path("ivfpq")
    var kept: DataFrame = null
    var sparse: TextAnalysis.SparseIndex = null
    var dense: Similarity.IvfPqIndex = null
    setup { _ =>
      rm(new File(corpusDir))
      corpus.frame(spark, 4).write.parquet(corpusDir)
    }
    val input = spark.read.parquet(corpusDir)
    // the offline build, as a daily batch job runs it in a fresh JVM:
    // dedup (the corpus-wide job), then the sparse and IVF-PQ indexes
    // (the write path serving reads from), each step materializing its
    // product
    op("dedup", Some("job")) {
      tr.span("operators.dedup_ms") {
        Dedup.dedupCorpus(input, "id", "text", dbl("min_jaccard")).write.parquet(keptDir)
      }
    }
    kept = spark.read.parquet(keptDir)
    op("build", Some("write")) {
      sparse = tr.span("operators.sparse_build_ms") {
        TextAnalysis.sparseIndexBuild(kept, "id", "text", cap = Some(int("cap")))
      }
      dense = tr.span("operators.ivfpq_build_ms") {
        val ix = Similarity.ivfPqIndexBuild(kept, "id", "vec", nCentroids = int("n_centroids"),
          subspaces = int("pq_subspaces"), subDim = Gen.Dim / int("pq_subspaces"), pqK = int("pq_k"))
        Similarity.ivfPqIndexSave(ix, ivfDir)
        Similarity.ivfPqIndexLoad(spark, ivfDir)
      }
    }
    require(kept != null && dense != null, "no index build succeeded")
    if (tr.enabled) lshCounters(input, tr.ops.filter(_.kind == "dedup").toSeq)

    val original = (0L until docs.toLong).filterNot(corpus.planted.contains)
    def queries(b: Int): DataFrame = {
      val r = Gen.rng(seed, 100000L + b)
      val rows = (0 until batch).map { j =>
        val qid = 1000000000L + b.toLong * batch + j
        val (t, v) = if (j % 2 == 0) corpus.doc(original(r.nextInt(original.size)))
                     else corpus.freshQuery(qid)
        Row(qid, t, v.toSeq)
      }
      spark.createDataFrame(rows.asJava, Gen.Corpus.schema)
    }
    // one batch: raw text -> query postings (materialized, as the serving
    // contract asks of a query batch) -> hybrid search, all rows sunk
    def search(q: DataFrame): Unit = {
      val qp = tr.span("operators.query_postings_ms") {
        TextAnalysis.queryPostings(sparse, q, "id", "text").localCheckpoint()
      }
      tr.span("operators.hybrid_search_ms") {
        Retrieval.hybridSearch(dense, kept, q, "id", "vec", sparse, qp, "query_id", "token",
          "weight", k).write.format("noop").mode("overwrite").save()
      }
    }
    (0 until 2).foreach(b => op("batch", None, traced = false)(search(queries(-1 - b))))
    loop(i => op("batch", Some("retrieval_query"), traced = tr.enabled && i % 2 == 1)(search(queries(i))))

    for (j <- times.get("job"); w <- times.get("write"))
      named("retrieval_build_s") = ((Stats.median(j) + Stats.median(w)) / 1000.0, "s")
    times.get("retrieval_query").foreach { t =>
      named("retrieval_query_p50_ms") = (Stats.median(t), "ms")
      Stats.tail(t).foreach { case (p, v) => named(s"retrieval_query_tail_ms(p$p)") = (v, "ms") }
    }
    diskRatio = dirBytes(new File(ivfDir)).toDouble / (kept.count() * Gen.Dim * 8L)

    // output checks, outside the timed window
    val keptIds = kept.select("id").collect().map(_.getLong(0)).toSet
    val removed = (0L until docs.toLong).filterNot(keptIds.contains)
    check("dedup removes only planted near-dups",
      removed.nonEmpty && removed.forall(corpus.planted.contains),
      s"removed=${removed.size} planted=${corpus.planted.size} " +
        s"unplanted_removed=${removed.count(x => !corpus.planted.contains(x))}")
    val r = Gen.rng(seed, 55L)
    val self = (0 until batch).map(_ => original(r.nextInt(original.size)))
    val selfQ = spark.createDataFrame(self.zipWithIndex.map { case (id, j) =>
      Row(2000000000L + j, "", corpus.doc(id)._2.toSeq)
    }.asJava, Gen.Corpus.schema)
    val top1 = Similarity.bruteForceTopK(kept, selfQ, "id", "vec", 1).collect()
      .map(x => x.getAs[Long]("query_id") -> x.getAs[Long]("neighbor_id")).toMap
    val misses = self.zipWithIndex.count { case (id, j) => !top1.get(2000000000L + j).contains(id) }
    check("exact-arm top-1 of an in-corpus query is itself", misses == 0,
      s"queries=${self.size} misses=$misses")
    // recall@k of the IVF-PQ arm against exact cosine top-k
    val fresh = spark.createDataFrame((0 until int("recall_queries")).map { j =>
      val qid = 3000000000L + j
      Row(qid, "", corpus.freshQuery(qid)._2.toSeq)
    }.asJava, Gen.Corpus.schema)
    def topk(df: DataFrame): Map[Long, Set[Long]] = df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = topk(Similarity.bruteForceTopK(kept, fresh, "id", "vec", k))
    val approx = topk(Similarity.ivfPqSearch(dense, kept, fresh, "id", "vec", k))
    check("recall reference covers every query", exact.size == int("recall_queries"),
      s"queries=${exact.size}")
    quality = exact.toSeq.map { case (q, e) =>
      approx.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size
    }.sum / math.max(exact.size, 1)
    named("retrieval_recall") = (quality, "ratio")
  }

  /** The highest whole percentile with at least ten samples above it,
    * and its value; None when that is not above the median.
    */
  private def tail(xs: collection.Seq[Double]): Option[(Int, Double)] =
    (99 to 51 by -1).find(p => xs.count(_ > Stats.pct(xs, p)) >= 10).map(p => p -> Stats.pct(xs, p))

  /** LSH counters for the traced builds: candidate pairs from the banding
    * dedupCorpus uses, and the share of them that Jaccard verification
    * keeps. Counted once, outside every op.
    */
  private def lshCounters(input: DataFrame, builds: Seq[tr.Op]): Unit = {
    val cand = Dedup.lshCandidates(input, "id", "text").count().toDouble
    val verified = Dedup.nearDups(input, "id", "text", dbl("min_jaccard")).count().toDouble
    builds.foreach { b =>
      tr.count("operators.lsh_candidates", cand, b)
      tr.count("operators.lsh_precision", verified / math.max(cand, 1.0), b)
    }
  }

  // ------------------------------------------------------------- results

  def summary(): Map[String, Any] = {
    val t = times.getOrElse(primary, mutable.ArrayBuffer.empty[Double]).toSeq
    Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "checks" -> checks, "setup_s" -> setupS,
      "phases_s" -> (phases + ("end" -> (System.nanoTime() - t0) / 1e9)),
      "ops" -> times.map { case (k, v) => k -> v.size },
      "primary" -> primary, "primary_ms" -> t,
      "write_ms" -> times.getOrElse("write", mutable.ArrayBuffer.empty[Double]),
      "job_ms" -> times.getOrElse("job", mutable.ArrayBuffer.empty[Double]),
      "disk_bytes_ratio" -> diskRatio, "answer_quality" -> quality,
      "named" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "oracle" -> oracle)
  }

  /** Per-layer metrics: the median over traced ops of each op's value
    * (0 when no op of this workload touches the layer), plus the tracing
    * overhead, and the full span record written to one file per run.
    */
  def traceSummary(dir: File): Map[String, Any] = {
    val recs = tr.records()
    val kind = Map("serve_query" -> "scores", "retrieval_query" -> "batch")(primary)
    val kinds = recs.map(_._1.kind).toSet
    def owner(key: String): String =
      if (key.startsWith("sources.ingest_")) "download"
      else Bench.OwnedBy.collectFirst { case (k, o) if k(key) && kinds(o) => o }.getOrElse(kind)
    val keys = recs.flatMap(_._2.keys).distinct
    val metrics = keys.map(k => k -> Stats.median(
      recs.filter(_._1.kind == owner(k)).flatMap(_._2.get(k)))).filterNot(_._2.isNaN).toMap
    val traced = overhead.getOrElse(s"$primary/true", mutable.ArrayBuffer.empty[Double]).toSeq
    val untraced = overhead.getOrElse(s"$primary/false", mutable.ArrayBuffer.empty[Double]).toSeq
    val ov = Map(
      "trace.traced_p50_ms" -> Stats.median(traced),
      "trace.untraced_p50_ms" -> Stats.median(untraced),
      "trace.overhead_ms" -> (Stats.median(traced) - Stats.median(untraced)))
    val file = new File(dir, s"trace-$workload-seed$seed.json")
    java.nio.file.Files.writeString(file.toPath, Json.render(Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cfg.get("nproc").asInt,
      "overhead" -> ov, "metrics" -> metrics, "ops" -> recs.map(_._3))))
    Map("metrics" -> (metrics ++ ov), "file" -> file.getAbsolutePath)
  }
}

object Bench {
  /** Per-layer metrics read from one op kind rather than the workload's
    * primary requests: the quantize job carries the scan, shuffle, sort
    * and task-time load; dedup and index build ops carry the build side.
    */
  val OwnedBy: Seq[(Set[String], String)] = Seq(
    Set("sources.scan_bytes", "engine.shuffle_write_bytes", "engine.shuffle_read_bytes",
      "engine.spill_bytes", "engine.exchanges", "engine.sorts", "engine.changed_ratio",
      "engine.sink_tasks", "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms",
      "spark.core_busy_ratio") -> "quantize",
    Set("operators.dedup_ms", "operators.lsh_candidates", "operators.lsh_precision") -> "dedup",
    Set("operators.sparse_build_ms", "operators.ivfpq_build_ms", "operators.par_overlap_ms") -> "build")
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)

  /** The highest whole percentile with at least ten samples above it,
    * and its value; None when that is not above the median.
    */
  def tail(xs: collection.Seq[Double]): Option[(Int, Double)] =
    (99 to 51 by -1).find(p => xs.count(_ > pct(xs, p)) >= 10).map(p => p -> pct(xs, p))

  /** Linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val x = (s.size - 1) * p / 100.0
    val lo = math.floor(x).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (x - lo)
  }
}
