package graft.operators

import graft.SparkSpec

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences: concat-then-chunk bin math in id order (single shard)") {
    // token counts: 3, 4, 2, 5 → running before: 0, 3, 7, 9 → capacity 5
    // bins: 0, 0, 1, 1
    val docs = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"), (4L, "j k l m n"))
      .toDF("doc_id", "text")
    val out = Packing.packSequences(docs, "doc_id", "text", capacity = 5, shards = 1)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._3, r._4)).toSeq ==
      Seq((1L, 3L, 0L), (2L, 4L, 0L), (3L, 2L, 1L), (4L, 5L, 1L)))
  }

  test("packSequences covers every doc exactly once across shards") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Packing.packSequences(docs, "doc_id", "text", capacity = 256, shards = 8)
    assert(out.count() == docs.count())
    assert(out.select("doc_id").distinct().count() == docs.count())
    val shards = out.select("shard").distinct().count()
    assert(shards > 1 && shards <= 8)
  }

  test("paddingWasteByGroup: hand batches, sorted-batching savings, presorted zero") {
    // group g: lengths 1,1,1,9 in arrival order 9 first — batchSize 2:
    // arrival batches {9,1},{1,1}: padded 18+2=20; sorted {1,1},{1,9}:
    // padded 2+18=20 → saving 0 (worst case: the long doc pairs anyway)
    // group h: lengths 1,9,1,9 arrival → {1,9},{1,9}: 18+18=36;
    // sorted {1,1},{9,9}: 2+18=20 → saving 1 − 20/36
    val df = Seq(
      ("g", 1L, 9L), ("g", 2L, 1L), ("g", 3L, 1L), ("g", 4L, 1L),
      ("h", 11L, 1L), ("h", 12L, 9L), ("h", 13L, 1L), ("h", 14L, 9L))
      .toDF("grp", "id", "len")
    val out = Packing.paddingWasteByGroup(df, "id", "len", "grp", batchSize = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    assert(out("g") == ((4L, 2L, 12L, 20L, 20L, 0.0)))
    assert(java.lang.Double.doubleToRawLongBits(out("g")._6) == 0L,
      "zero saving must be POSITIVE zero")
    val h = out("h")
    assert(h._4 == 20L && h._5 == 36L)
    assert(h._6 == BigDecimal(1.0 - 20.0 / 36.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // null lengths drop
    val withNull = Seq(("g", 1L, Some(5L)), ("g", 2L, None)).toDF("grp", "id", "len")
    assert(Packing.paddingWasteByGroup(withNull, "id", "len", "grp", 2)
      .head().getLong(1) == 1L)
  }
}
