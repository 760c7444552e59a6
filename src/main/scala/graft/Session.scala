package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every value set here is a
  * DEFAULT: a key the launching SparkConf already carries (`spark-submit
  * --conf`, `spark-defaults.conf`, `-Dspark.*`) is left as the deployment
  * set it, so tuning a run never needs a code change or an env var.
  */
object Session {

  /** Shuffled-hash joins where the planner's size conditions fit (guide
    * §3.1/§9), instead of always sort-merge. Adopted in round 17 after
    * A/B at sf0.1 and the 500k PipelineScaleBench guard, rows identical in
    * every leg: −6–15% on the 24-query shuffle-heavy sf0.1 subset twice,
    * −4% net over the 500k stages (hits −14%, snm −17%, jaccard +3–9%).
    * Deployments whose per-partition build sides risk OOM (the known §3.1
    * trade) set `spark.sql.join.preferSortMergeJoin=true`. zstd shuffle
    * compression was measured in the same probe and REJECTED at both
    * scales (+20% sf0.1, +28% 500k: these shuffles are small and
    * CPU-dense, where compression CPU is pure overhead), so the codec
    * stays Spark's lz4 default.
    */
  val hashJoins: Map[String, String] = Map("spark.sql.join.preferSortMergeJoin" -> "false")

  /** The conf `Bench` times and `Verify` checks. AQE's partition
    * coalescing is BYTE-targeted (64 MB advisory by default) and blind to
    * per-byte CPU cost. This engine's hot stages are CPU-DENSE
    * text/similarity kernels (Levenshtein verification, shingle
    * intersection, posting dots) that chew ~1-5 MB/s per core, so a 64 MB
    * reduce partition is minutes of single-task CPU — at sf0.1 the SNM
    * verify stage coalesced to 2 tasks on 32 cores (q197 3.9 s -> 0.9 s
    * with a 1 MB advisory; q133 4.8 -> 2.3, q23/q58 ~2x). Scale-dependent:
    * deployments with byte-bound ETL stages should set 64-256 MB (the
    * guide §2.2 block-count regime — 1 MB at a 100 TB shuffle would be a
    * block explosion); the 1 MB default suits the CPU-dense kernel regime
    * the fixtures exercise. See OPTIMIZATION_r16.md.
    */
  val tuned: Map[String, String] = hashJoins ++ Map(
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  /** The session on `local[cores]` with `cores` shuffle partitions, UTC
    * session time zone, TIMESTAMP(NANOS) parquet columns read as longs
    * (`nanosAsLong`, which `graft.queries.Shared.events` requires along
    * with UTC), no UI and WARN logging, plus `conf` (which may override
    * any of those, e.g. `spark.master`).
    */
  def apply(cores: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    val launch = new SparkConf()
    val b = SparkSession.builder()
    (Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ conf).foreach { case (k, v) =>
      if (!launch.contains(k)) b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
