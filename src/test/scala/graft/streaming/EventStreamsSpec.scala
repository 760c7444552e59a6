package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-stream-").toString

  private lazy val batch = Seq(
    (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
    (Timestamp.valueOf("2024-01-01 00:50:00"), "click", 2.0),
    (Timestamp.valueOf("2024-01-01 01:10:00"), "view", 3.0)
  ).toDF("ts", "event_type", "value")

  test("batch windowedAgg buckets into tumbling hours") {
    val out = EventStreams.windowedAgg(batch).orderBy("ws", "event_type")
      .select($"ws".cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect()
    assert(out.toSeq == Seq(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 01:00:00", "view", 1L, 3.0)))
  }

  test("slidingAgg puts each event in duration/slide overlapping windows") {
    val out = EventStreams.slidingAgg(batch, "2 hours", "1 hour")
      .orderBy("ws", "event_type")
      .select($"ws".cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect()
    assert(out.toSeq == Seq(
      ("2023-12-31 23:00:00", "click", 2L, 3.0),
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 00:00:00", "view", 1L, 3.0),
      ("2024-01-01 01:00:00", "view", 1L, 3.0)))
    // every event counted exactly duration/slide = 2 times
    assert(out.map(_._3).sum == batch.count() * 2)
  }

  test("session_window and gaps-and-islands sessionization agree (incl. exact-gap boundary)") {
    val ev = Seq(
      (0L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 1.0),
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 1L, 2.0),  // same session
      (2L, Timestamp.valueOf("2024-01-01 01:10:00"), 1L, 3.0),  // gap > 30min → new
      (3L, Timestamp.valueOf("2024-01-01 00:05:00"), 2L, 4.0),
      (4L, Timestamp.valueOf("2024-01-01 00:35:00"), 2L, 6.0)   // EXACTLY 30min → merged
    ).toDF("event_id", "ts", "user_id", "value")
    val a = EventStreams.sessionWindows(ev, "30 minutes")
      .orderBy("user_id", "session_start")
      .select($"user_id", $"session_start".cast("string"), $"n_events", $"total_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    val b = EventStreams.sessionizeGapsAndIslands(ev, 1800L)
      .orderBy("user_id", "session_start")
      .select($"user_id", $"session_start".cast("string"), $"n_events", $"total_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(a == b)
    assert(a == Seq(
      (1L, "2024-01-01 00:00:00", 2L, 3.0),
      (1L, "2024-01-01 01:10:00", 1L, 3.0),
      (2L, "2024-01-01 00:05:00", 2L, 10.0))) // exact-gap event merged

    // the batch analytics surface (Summaries.sessionize, q123) agrees
    // with session_window on session structure — one gap semantics
    // across the batch and streaming surfaces (an event EXACTLY `gap`
    // after the previous one stays in the session: strict > boundary)
    val c = graft.engine.Summaries.sessionize(ev, "user_id", "ts", "event_id", 1800L)
      .orderBy("user_id", "session_idx")
      .select($"user_id", $"n_events")
      .as[(Long, Long)].collect().toSeq
    assert(c == a.map(r => (r._1, r._3)))
  }

  test("heavyHittersPerWindow: MG buffers merge across micro-batch cuts, batch parity") {
    val dir = s"$tmp/hh-src"
    def at(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // the same window's items split across two micro-batches: the MG
    // state-store buffer must absorb batch 2 into batch 1's counters
    val b1 = Seq((at(5), "x"), (at(6), "x"), (at(7), "y"), (at(8), "z"))
    val b2 = Seq((at(9), "x"), (at(10), "y"), (at(11), "x"))
    b1.toDF("ts", "item").coalesce(1).write.parquet(s"$dir/b1")
    b2.toDF("ts", "item").coalesce(1).write.parquet(s"$dir/b2")
    val src = spark.readStream
      .schema(StructType(Seq(StructField("ts", TimestampType),
        StructField("item", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val q = EventStreams.heavyHittersPerWindow(src, "item", "1 hour",
      capacity = 16, emit = 3).writeStream
      .outputMode("update").format("memory").queryName("hh_stream").start()
    try {
      q.processAllAvailable()
      // last update for the window: exact merged counts (capacity ≥ vocab)
      val last = spark.table("hh_stream")
        .groupBy("item").agg(max("est").as("est"), min("rn").as("rn"))
        .orderBy("rn")
        .as[(String, Long, Int)].collect().toSeq
      assert(last == Seq(("x", 4L, 0), ("y", 2L, 1), ("z", 1L, 2)))
      // batch twin over the union of both batches agrees row-for-row
      val twin = EventStreams.heavyHittersPerWindow(
        (b1 ++ b2).toDF("ts", "item"), "item", "1 hour",
        capacity = 16, emit = 3)
        .select($"item", $"est", $"rn").orderBy("rn")
        .as[(String, Long, Int)].collect().toSeq
      assert(twin == last)
    } finally q.stop()
  }

  test("cardinalityPerWindow: register maxes merge across micro-batch cuts; batch = hllEstimate") {
    val dir = s"$tmp/card-src"
    def at(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // one day window, users split across two micro-batches with overlap —
    // the streamed register maxes must equal the batch sketch's
    val b1 = (1L to 40L).map(u => (at((u % 50).toInt), u))
    val b2 = (30L to 70L).map(u => (at((u % 50).toInt), u))
    b1.toDF("ts", "user_id").coalesce(1).write.parquet(s"$dir/b1")
    b2.toDF("ts", "user_id").coalesce(1).write.parquet(s"$dir/b2")
    val src = spark.readStream
      .schema(StructType(Seq(StructField("ts", TimestampType),
        StructField("user_id", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
    val q = EventStreams.cardinalityPerWindow(src, "user_id", "1 day", m = 64)
      .writeStream.outputMode("update").format("memory")
      .queryName("card_stream").start()
    try {
      q.processAllAvailable()
      // final update row for the single day window
      val last = spark.table("card_stream")
        .orderBy($"est_raw".desc).limit(1)
        .select("m", "n_zero_regs", "est_raw", "est")
        .as[(Int, Long, Double, Double)].head()
      // batch twin on the union
      val union = (b1 ++ b2).toDF("ts", "user_id")
      val twin = EventStreams.cardinalityPerWindow(union, "user_id", "1 day", m = 64)
        .select("m", "n_zero_regs", "est_raw", "est")
        .as[(Int, Long, Double, Double)].head()
      assert(last == twin)
      // ...and the estimate must equal the q202 operator pair on the
      // same items (shared hash + estimate contract)
      val ref = graft.operators.Profiling.hllEstimate(
        graft.operators.Profiling.hllSketch(union, "user_id", m = 64), m = 64)
        .select("n_zero_regs", "est_raw", "est")
        .as[(Long, Double, Double)].head()
      assert((twin._2, twin._3, twin._4) == ref)
      // sketch tracks the exact distinct count (70 users) within HLL error
      assert(twin._4 > 40 && twin._4 < 120)
      intercept[IllegalArgumentException](
        EventStreams.cardinalityPerWindow(union, "user_id", "1 day", m = 100))
    } finally q.stop()
  }
}
