package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.engine.{Changes, Outputs}
import graft.sources.{ChangeLog, ScoreStore}

/** Baseline-scale self-check: synthesize an EPSS-shaped dense matrix at the
  * reference's published workload size (NOTES.md:38 — 68.9M rows: ~300k
  * CVEs × 230 days, ~0.8% daily change rate ⇒ ~556k changed rows), write it
  * to parquet, then time scan → window-diff → count, the same span the
  * reference times at ~10 s on an M1 Pro (incl. load). The
  * `scale_quantize_served` leg times what `EpssCli scores` hands back for
  * the full window: the change log written as one sorted parquet file
  * through the CLI's file sink. `scale_quantize_store` serves the same
  * change log from the `ScoreStore` layout (one `date=` dir per day) read
  * through `ScoreStore.readWithBaseline` (the window path).
  * `scale_quantize_store_build` and `scale_quantize_store_log` send the
  * same request through `scores`, which serves it from the store's change
  * log: the first builds the log, the second reads it; both report the
  * log's bytes as a share of the store's `date=` bytes. The two `count()`
  * legs stay for continuity with earlier runs.
  *
  * Usage: runMain graft.ScaleBench [nCves] [nDays] [workDir]
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val nCves = args.headOption.map(_.toInt).getOrElse(300000)
    val nDays = args.drop(1).headOption.map(_.toInt).getOrElse(230)
    val work = args.drop(2).headOption.getOrElse("/tmp/graft-scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val first = java.time.LocalDate.parse("2023-03-07")
    val spark = Session(cpus.toInt, Map("spark.sql.warehouse.dir" -> s"$work/warehouse"))

    // dense matrix: score changes only when hash(cve, day) falls under the
    // change rate; epss = deterministic function of (cve, last-change day)
    val dense = spark.range(nCves.toLong * nDays)
      .select(
        (col("id") % nDays).as("day"),
        (col("id") / nDays).cast("long").as("cveNum"))
      .select(
        date_add(lit(java.sql.Date.valueOf(first)), col("day").cast("int")).as("date"),
        concat(lit("CVE-2023-"), col("cveNum")).as("cve"),
        // piecewise-constant score: changes at pseudo-random days (~0.8%/day)
        (pmod(xxhash64(col("cveNum"),
          floor(col("day") / (lit(1) + pmod(xxhash64(col("cveNum")), lit(250))))), lit(100000L))
          / lit(100000.0)).as("epss"))
      .withColumn("percentile", col("epss"))

    val path = s"$work/dense.parquet"
    dense.write.mode(SaveMode.Overwrite).parquet(path)
    val rows = spark.read.parquet(path).count()

    val t0 = System.nanoTime()
    val changed = Changes.changedRows(
      spark.read.parquet(path), "cve", Seq("date"), "epss").count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"scale_quantize","dense_rows":$rows,"changed_rows":$changed,"value":$secs%.2f,"unit":"sec","rows_per_sec":${(rows / secs).toLong}}""")

    val served = s"$work/changes.parquet"
    val tS = System.nanoTime()
    Outputs.write(Changes.changedScores(spark.read.parquet(path)), served, "parquet",
      EpssCli.DisplayOrder)
    val secsS = (System.nanoTime() - tS) / 1e9
    val changedS = spark.read.parquet(served).count()
    require(changedS == changed, s"served change log disagrees: $changedS vs $changed")
    println(f"""{"metric":"scale_quantize_served","dense_rows":$rows,"changed_rows":$changedS,"value":$secsS%.2f,"unit":"sec","rows_per_sec":${(rows / secsS).toLong}}""")

    // ── the store layout `EpssCli scores` reads: one date= dir per day (one
    // file each, like a daily ingest), scanned over the full window
    val store = s"$work/store"
    ScoreStore.write(spark.read.parquet(path).repartition(col("date")), store)
    val served2 = s"$work/changes_store.parquet"
    val tQ = System.nanoTime()
    Outputs.write(Changes.changedScores(
      ScoreStore.readWithBaseline(spark, store, first, first.plusDays(nDays - 1))),
      served2, "parquet", EpssCli.DisplayOrder)
    val secsQ = (System.nanoTime() - tQ) / 1e9
    val changedQ = spark.read.parquet(served2).count()
    require(changedQ == changed, s"store change log disagrees: $changedQ vs $changed")
    println(f"""{"metric":"scale_quantize_store","dense_rows":$rows,"changed_rows":$changedQ,"value":$secsQ%.2f,"unit":"sec","rows_per_sec":${(rows / secsQ).toLong}}""")

    // ── the same request through `scores`, which serves it from the
    // store's change log: the first request builds the log, the second
    // reads it
    val storeFs = new org.apache.hadoop.fs.Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    storeFs.delete(new org.apache.hadoop.fs.Path(store, ChangeLog.Dir), true) // a log of an earlier run
    def bytes(p: org.apache.hadoop.fs.Path): Long = {
      val it = storeFs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getLen).sum
    }
    for ((leg, expected) <- Seq("build" -> ChangeLog.Served.Rebuilt, "log" -> ChangeLog.Served.Log)) {
      val out = s"$work/changes_store_$leg.parquet"
      val t = System.nanoTime()
      val how = EpssCli.scores(spark, EpssCli.parseArgs(Seq("scores", "--store", store,
        "-a", first.toString, "-b", first.plusDays(nDays - 1).toString, "--output", out))._2,
        Outputs.DriverMaxRows)
      val secsL = (System.nanoTime() - t) / 1e9
      require(how == expected, s"$leg leg served by ${how.name}")
      val changedL = spark.read.parquet(out).count()
      require(changedL == changed, s"$leg leg change log disagrees: $changedL vs $changed")
      val logBytes = bytes(new org.apache.hadoop.fs.Path(store, ChangeLog.Dir))
      val storeBytes = storeFs.listStatus(new org.apache.hadoop.fs.Path(store))
        .filter(_.getPath.getName.startsWith("date=")).map(s => bytes(s.getPath)).sum
      println(f"""{"metric":"scale_quantize_store_$leg","dense_rows":$rows,"changed_rows":$changedL,"value":$secsL%.2f,"unit":"sec","rows_per_sec":${(rows / secsL).toLong},"log_bytes":$logBytes,"store_bytes":$storeBytes,"log_share":${logBytes.toDouble / storeBytes}%.4f}""")
    }

    // ── bucketed layout: the window's hash distribution on `cve` is
    // satisfied by the bucketing, so quantization runs with NO exchange —
    // the shuffle is paid once at write time and amortized over every
    // subsequent range query (the 100 TB store design).
    val nBuckets = cpus.toInt
    spark.sql("DROP TABLE IF EXISTS dense_bucketed")
    // the catalog is in-memory per run but the warehouse dir persists —
    // a leftover location from a previous run would fail saveAsTable with
    // LOCATION_ALREADY_EXISTS even after the (no-op) DROP above
    val loc = new org.apache.hadoop.fs.Path(s"$work/warehouse/dense_bucketed")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.read.parquet(path)
      .repartition(nBuckets, col("cve"))            // one file per bucket
      .write.bucketBy(nBuckets, "cve").sortBy("cve", "date")
      .mode(SaveMode.Overwrite).saveAsTable("dense_bucketed")
    val t1 = System.nanoTime()
    val changedB = Changes.changedRows(
      ScoreStore.readBucketedTable(spark, "dense_bucketed", first, first.plusDays(nDays - 1)),
      "cve", Seq("date"), "epss").count()
    val secsB = (System.nanoTime() - t1) / 1e9
    require(changedB == changed, s"bucketed path disagrees: $changedB vs $changed")
    println(f"""{"metric":"scale_quantize_bucketed","dense_rows":$rows,"changed_rows":$changedB,"value":$secsB%.2f,"unit":"sec","rows_per_sec":${(rows / secsB).toLong}}""")
    spark.stop()
  }
}
