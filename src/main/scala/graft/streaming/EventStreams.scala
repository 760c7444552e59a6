package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowing over the events table. The batch aggregates
  * back oracle-checked queries: `windowedAgg` q29, `slidingAgg` q68 and
  * `sessionizeGapsAndIslands` q36, whose `session_window` reference is
  * `sessionWindows`. The two sketch aggregates (`heavyHittersPerWindow`
  * q198, `cardinalityPerWindow` q216) are single expressions that run
  * unchanged over a static frame or a watermarked stream, where their
  * state stays capacity-bounded per window (EventStreamsSpec runs both
  * through the memory sink).
  */
object EventStreams {

  /** Batch twin: tumbling-window counts + exact (decimal) value sums. */
  def windowedAgg(events: DataFrame, duration: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), duration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window aggregation: each event lands in `duration/slide`
    * overlapping windows (Spark's `window` generates the copies with one
    * Expand pass — no self-union, one aggregation). Same decimal-exact
    * money discipline as the tumbling twin.
    */
  def slidingAgg(events: DataFrame, duration: String = "2 hours",
                 slide: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), duration, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Sessionization via the built-in `session_window` (works in batch AND
    * streaming with a watermark): sessions close after `gap` of inactivity.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** The same sessions via gaps-and-islands (lag + running sum of
    * new-session flags) — engine-portable SQL shape, used as the DuckDB
    * oracle twin of `session_window` and cross-checked in tests.
    */
  def sessionizeGapsAndIslands(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev_us", lag(unix_micros(col("ts")), 1).over(w))
      // strict > matches session_window, which MERGES touching intervals:
      // an event exactly gap after the previous one extends the session
      // (boundary pinned by EventStreamsSpec)
      .withColumn("__new", when(col("__prev_us").isNull ||
        unix_micros(col("ts")) - col("__prev_us") > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("__sid", sum("__new").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select("user_id", "session_start", "n_events", "total_value")
  }

  /** Streaming heavy hitters: per tumbling window, the Misra–Gries
    * top-`emit` of `itemCol` (update mode). [[graft.functions
    * .HeavyHitters]] is a partial-aggregatable `TypedImperativeAggregate`,
    * so the streaming engine checkpoints its CAPACITY-BOUNDED buffer in
    * the state store like any builtin agg — per-window state is ≤
    * `capacity` counters no matter how many distinct items the stream
    * carries, which is the whole point on an unbounded URL/token stream
    * (the exact `groupBy(item).count()` twin's state grows with the key
    * universe). Batch twin = the same expression over a static frame
    * (q184's aggregate); in the capacity ≥ distinct-keys regime both are
    * exact and merge-order-independent, which is what the spec pins
    * across micro-batch cuts.
    */
  def heavyHittersPerWindow(events: DataFrame, itemCol: String,
                            duration: String = "1 hour",
                            capacity: Int = 4096, emit: Int = 10): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), duration).as("w"))
      .agg(graft.functions.HeavyHittersOps
        .heavyHitters(capacity, emit, col(itemCol)).as("hh"))
      .select(col("w.start").as("ws"),
        posexplode(col("hh")).as(Seq("rn", "e")))
      .select(col("ws"), col("rn"), col("e.item").as("item"),
        col("e.est").as("est"))

  /** Streaming distinct-count sketch per tumbling window — the DAU
    * counter an exact `count(DISTINCT)` cannot provide on a stream
    * (its state grows with the key universe; HLL state is `m` register
    * maxes per window, period). Hash/register/rho are EXACTLY
    * [[graft.operators.Profiling.hllSketch]]'s (md5 60-bit, `reg =
    * h mod m`, `bin()`-length rho), and the estimate EXACTLY
    * [[graft.operators.Profiling.hllEstimate]]'s (DECIMAL-exact
    * harmonic sum, 4-dp small-range ln correction) — the batch twin of
    * this operator per window hash-matches the q202 oracle chain
    * grouped by window.
    *
    * Register maxes ride ONE built-in hash aggregate as `m` conditional
    * `max` columns — partial-aggregatable map-side, mergeable across
    * micro-batch cuts by the same elementwise max (the canonical HLL
    * merge), no custom state. The estimate is a stateless projection
    * over the register array. `m ≤ 256` keeps the per-window state and
    * aggregate width bounded (±~6.5 % error at 256; this is a
    * dashboard counter, not a census).
    *
    * Output per window: `(ws, m, n_zero_regs, est_raw, est)`.
    */
  def cardinalityPerWindow(events: DataFrame, itemCol: String,
                           duration: String = "1 day", m: Int = 64): DataFrame = {
    require(m >= 16 && m <= 256 && (m & (m - 1)) == 0,
      s"m must be a power of two in [16,256] (one max column per register): $m")
    val budget = 60 - Integer.numberOfTrailingZeros(m)
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val rr = events.filter(col(itemCol).isNotNull)
      .select(col("ts"), graft.operators.Sampling.hash60(
        md5(concat(lit("hll"), col(itemCol).cast("string")))).as("__h"))
      .select(col("ts"), pmod(col("__h"), lit(m.toLong)).as("__reg"),
        expr(s"__h div ${m}L").as("__tail"))
      .select(col("ts"), col("__reg"),
        when(col("__tail") === 0L, lit(budget + 1))
          .otherwise(lit(budget + 1) - length(bin(col("__tail")))).as("__rho"))
    val maxes = (0 until m).map(i =>
      max(when(col("__reg") === i.toLong, col("__rho"))).as(s"__r$i"))
    rr.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), duration).as("w"))
      .agg(maxes.head, maxes.tail: _*)
      .withColumn("__arr",
        array((0 until m).map(i => coalesce(col(s"__r$i"), lit(0))): _*))
      .select(col("w.start").as("ws"), col("__arr"))
      .select(col("ws"), lit(m).as("m"),
        size(filter(col("__arr"), r => r === 0)).cast("long").as("n_zero_regs"),
        expr("aggregate(__arr, CAST(0 AS DECIMAL(38,0)), " +
          "(acc, r) -> acc + CAST(shiftleft(CAST(1 AS BIGINT), 60 - r) AS DECIMAL(38,0)))")
          .as("__s"))
      .select(col("ws"), col("m"), col("n_zero_regs"),
        round((lit(alpha) * m * m * math.pow(2.0, 60))
          / col("__s").cast("double"), 4).as("est_raw"))
      .select(col("ws"), col("m"), col("n_zero_regs"), col("est_raw"),
        when(col("n_zero_regs") > 0 && col("est_raw") <= lit(2.5 * m),
          round(lit(m.toDouble) * log(lit(m.toDouble) / col("n_zero_regs").cast("double")), 4))
          .otherwise(col("est_raw")).as("est"))
  }
}
