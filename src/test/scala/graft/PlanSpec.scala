package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSpec

/** Physical-plan assertions — the 100 TB posture, checked mechanically:
  * predicates reach the parquet scan, dim joins broadcast, the flagship
  * window shuffles exactly once before its sort, scans prune columns.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    self.collect(pf) ++ self.subqueries.flatMap(collectAll(_)(pf))
  }

  /** `(BroadcastExchange, ShuffleExchange, aggregate)` node counts of a
    * relation's physical plan, subqueries included.
    */
  private def census(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
    val p = df.queryExecution.executedPlan
    (collectAll(p) { case b: BroadcastExchangeExec => b }.size,
      collectAll(p) { case e: ShuffleExchangeExec => e }.size,
      collectAll(p) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.size)
  }

  private def scanMeta(name: String): Map[String, String] =
    collectAll(plan(name)) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }.head

  test("q03 pushes every range predicate into the parquet scan") {
    val pushed = scanMeta("q03_filter_range")("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"))
    assert(pushed.contains("LessThanOrEqual(l_discount,0.08)"))
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,10.0)"))
  }

  test("q03 prunes the scan to exactly the referenced columns") {
    val read = scanMeta("q03_filter_range")("ReadSchema")
    // 5 projected + 1 filter column; no other lineitem columns read
    assert(read.startsWith("struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"))
  }

  test("q06 plans a broadcast hash join for the dim side") {
    val joins = collectAll(plan("q06_join_broadcast")) { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty)
  }

  test("q01 flagship: exactly one shuffle before the window, then the sort exchange") {
    val p = plan("q01_changed_values")
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 1)
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    // hash exchange for the window partition + range exchange for orderBy
    assert(shuffles.size == 2, s"expected 2 exchanges, got ${shuffles.size}")
  }

  test("q25 near-dup pairs via bucket equi-join: NO nested-loop or cartesian scan") {
    val p = plan("q25_embedding_neardup")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "corpus-by-corpus pair generation must not be a nested-loop join")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "corpus-by-corpus pair generation must not be a cartesian product")
  }

  test("ANN ranking is a partial top-k aggregate: no per-query window anywhere") {
    for (q <- Seq("q26_ann_topk", "q37_ann_ivf", "q54_ann_rerank")) {
      assert(collectAll(plan(q)) { case w: WindowExec => w }.isEmpty,
        s"$q must rank via the bounded-heap aggregate, not a row_number window")
    }
  }

  test("q37 IVF: corpus never shuffles — only the tiny agg + orderBy exchanges remain") {
    // scan → per-row cell assignment → broadcast probe join → partial topk;
    // the sole hash exchange carries queries×partitions×k heap entries
    val shuffles = collectAll(plan("q37_ann_ivf")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"expected <=2 exchanges (final agg + orderBy), got ${shuffles.size}")
  }

  test("q33 limit compiles to TakeOrderedAndProject (no full sort materialization)") {
    assert(plan("q33_limit").toString.contains("TakeOrderedAndProject"))
  }

  test("minhash signatures are a pure narrow plan: ZERO exchanges") {
    val p = graft.operators.Dedup
      .minhashSignatures(spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan
    assert(collectAll(p) { case e: ShuffleExchangeExec => e }.isEmpty,
      "per-row minhash must not shuffle")
  }

  test("q44 semi join broadcasts at dim scale (LeftSemi BroadcastHashJoin)") {
    val joins = collectAll(plan("q44_semi_join")) { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty && joins.exists(_.joinType.sql == "LEFT SEMI"))
  }

  test("q38 rollup plans an Expand (one pass over the input, not one scan per level)") {
    assert(plan("q38_rollup").toString.contains("Expand"))
  }

  test("q47 json scan reads only the two referenced columns") {
    val read = scanMeta("q47_json")("ReadSchema")
    assert(read == "struct<event_id:bigint,props:string>", read)
  }

  test("q60 hash sampling is a narrow filter: no exchange except the output sort") {
    val p = plan("q60_hash_sample")
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    // only the final orderBy range exchange — sampling itself never shuffles
    assert(shuffles.size <= 1, s"expected <=1 exchange, got ${shuffles.size}")
  }

  test("q62 vocab aggregation shuffles token-sized data once (partial agg before exchange)") {
    val p = plan("q62_token_freq")
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    // distinct-agg plans partial + final pairs around each exchange
    assert(aggs.size >= 2, s"expected partial+final aggregates, got ${aggs.size}")
    val sorts = collectAll(p) { case s: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => s }
    assert(sorts.nonEmpty, "top-100 must compile to TakeOrderedAndProject, not a full sort")
  }

  test("q63 six-table join broadcasts every dim side (no shuffled dim join)") {
    val joins = collectAll(plan("q63_regional_revenue")) { case j: BroadcastHashJoinExec => j }
    // customer, supplier, nation, region all land as broadcast builds;
    // only the lineitem⋈orders fact join may shuffle
    assert(joins.size >= 4, s"expected >=4 broadcast joins, got ${joins.size}")
  }

  test("q59 forward fill: the fill is one window over the spine join") {
    val p = plan("q59_forward_fill")
    val windows = collectAll(p) { case w: WindowExec => w }
    // one window evaluates the change-detection lag, one the fill
    assert(windows.size == 2, s"expected 2 windows (lag + fill), got ${windows.size}")
  }

  test("q76 decontamination: benchmark shingles broadcast, nothing nested-loops") {
    val p = plan("q76_decontaminate")
    // the shingle semi-join and the final anti-join both build on the
    // (small) broadcast side — the corpus never becomes a shuffle-join input
    val bcast = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bcast.size >= 2, s"expected >=2 broadcast joins, got ${bcast.size}")
    val bnl = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.isEmpty, "decontamination must never nested-loop")
  }

  test("q94 decontam report: all suites' shingles ride ONE broadcast join, no nested-loop") {
    val p = plan("q94_decontam_report")
    val bcast = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bcast.nonEmpty, "benchmark shingles must broadcast")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // one corpus pass for every suite at once: a single window-free
    // aggregate pipeline, no per-suite scan multiplication
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q95 corpus profile: the share window runs over the aggregated table, not the corpus") {
    val p = plan("q95_corpus_profile")
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 1)
    // the window's child plan must sit ABOVE the aggregate: its input is
    // the (strata x buckets)-sized table, never raw documents rows
    val aggsBelowWindow = windows.head.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggsBelowWindow.nonEmpty, "share window must consume the aggregated table")
  }

  test("q97 shard assign: one hash exchange for the shard window plus the output sort only") {
    val p = plan("q97_shard_assign")
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 1, "exactly one per-shard window")
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    // <= bound (the other plan tests' convention): an AQE/planner change
    // that legally reuses or coalesces an exchange must not fail this
    assert(shuffles.size <= 2,
      s"expected at most shard hash exchange + output range exchange, got ${shuffles.size}")
    // the load-bearing half: the window's OWN subtree must repartition by
    // the shard hash — that exchange is what keeps each pos-sort per-shard
    val windowShuffles = windows.head.collect { case e: ShuffleExchangeExec => e }
    assert(windowShuffles.exists(_.outputPartitioning.toString.contains("shard")),
      s"window input must hash-partition on shard, saw: " +
        windowShuffles.map(_.outputPartitioning).mkString("; "))
  }

  test("q77 budget selection: the exact window runs over the boundary bucket only") {
    val p = plan("q77_budget_select")
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 1, s"expected 1 boundary window, got ${windows.size}")
    // the window's input is the bucket == cut filter, never the raw
    // corpus: a Filter on the (inlined) width_bucket expression sits
    // below the window (sort/exchange in between)
    val belowWindow = windows.head.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }
    assert(belowWindow.exists(c => c.contains("__bkt") || c.contains("width_bucket")),
      s"boundary window must consume the bucket-filtered slice, saw: $belowWindow")
  }

  test("q80 chunking is a pure narrow plan: no exchange except the output sort") {
    val shuffles = collectAll(plan("q80_chunking")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"expected <=1 (sort) exchange, got ${shuffles.size}")
  }

  test("q101 snapshot diff: one co-shuffled full-outer join, no nested loop") {
    val p = plan("q101_snapshot_diff")
    val joins = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j: org.apache.spark.sql.execution.SparkPlan
    }
    assert(joins.size == 1, s"expected exactly one id-keyed join, got ${joins.size}")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q104 funnel: per-step join/agg chain, no window, no nested loop") {
    val p = plan("q104_funnel")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q103 retention cohorts: aggregations + one co-keyed join, no window, no nested loop") {
    val p = plan("q103_retention")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q102 quantile gate: threshold table broadcasts back, no window") {
    val p = plan("q102_quantile_gate")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "per-stratum thresholds must broadcast onto the corpus")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q99 per-group top-k is a partial aggregate: no window, no per-group sort") {
    val p = plan("q99_topk_per_lang")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "top-k per group must be the bounded-heap aggregate, not a window")
    val sorts = collectAll(p) { case s: org.apache.spark.sql.execution.SortExec => s }
    // only the deterministic output orderBy may sort
    assert(sorts.size <= 1, s"expected <=1 (output) sort, got ${sorts.size}")
  }

  test("q98 CDC chunking is a pure narrow plan: no exchange except the output sort") {
    val shuffles = collectAll(plan("q98_cdc_chunks")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"expected <=1 (sort) exchange, got ${shuffles.size}")
  }

  test("q84 quality classifier is a pure narrow plan: no exchange except the output sort") {
    val shuffles = collectAll(plan("q84_quality_classifier")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"expected <=1 (sort) exchange, got ${shuffles.size}")
  }

  test("q81 banded near-dup: bucket equi-joins only — no nested-loop, cartesian, or window") {
    val p = plan("q81_neardup_banded")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "per-table candidate generation must join on bucket, not nested-loop")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "per-table candidate generation must not be a cartesian product")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q82 paragraph dedup: first occurrence is a partial min aggregate, not a window") {
    val p = plan("q82_paragraph_dedup")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "the winner table must partial-aggregate min(struct(id,pos)) — a " +
        "row_number window would funnel each digest's occurrence list into one task")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q83 bigram LM: frequency joins shuffle token rows — no cartesian scan") {
    assert(collectAll(plan("q83_bigram_lm")) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "the scalar total must ride a broadcast, never a cartesian")
  }

  test("q87 bloom decontamination: exact semi-join rides a broadcast behind the sketch probe") {
    val p = plan("q87_bloom_decontaminate")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.size >= 2,
      "shingle semi-join and final anti-join must build on broadcast sides")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // the bloom probe is a Filter on might_contain over the scan side,
    // BELOW the exact semi-join — shingles the sketch rejects never reach
    // the join
    val filters = collectAll(p) {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }
    assert(filters.exists(_.contains("might_contain")),
      s"expected a might_contain prefilter, saw: $filters")
  }

  test("q92 span removal: no window, no cartesian, no token-level sort-merge join") {
    val p = plan("q92_remove_dup_spans")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "cover/rebuild must be aggregates + joins, never a per-doc window")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // document text must cross at most one join: the final rebuild join.
    // The gram pipeline carries only (id, pos, hash-pair) — no join input
    // may carry the token array except the one rebuild join on the id.
    // Audit EVERY join exec flavor, not just SMJ — a plan regression that
    // reroutes token arrays through a broadcast or shuffled-hash join must
    // fail the same contract.
    val joins = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    val tokenCarrying = joins.count(_.output.exists(_.name == "__t"))
    assert(tokenCarrying <= 1,
      s"token arrays may ride only the rebuild join, found $tokenCarrying joins carrying __t")
  }

  test("q105 audio round-trip is a narrow typed-map pass: no exchange except the output sort") {
    val p = plan("q105_audio_roundtrip")
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"synth+decode must stay in one narrow pass (payloads never shuffle), got ${shuffles.size}")
  }

  test("snapshotDiff over two id-bucketed stores is exchange-free (q101's 100 TB claim)") {
    // VERDICT r8 #4: prove the "exchange-free on id-bucketed stores"
    // comment on q101 mechanically. Both snapshot versions written
    // bucketed+sorted on doc_id → the full-outer sort-merge join reads
    // the bucket files as its shuffle output; zero exchanges anywhere
    // (full_outer can never broadcast, so no threshold fiddling needed).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
    spark.sql("DROP TABLE IF EXISTS snap_before_b")
    spark.sql("DROP TABLE IF EXISTS snap_after_b")
    graft.operators.Bucketing.writeBucketed(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 =!= 0),
      "snap_before_b", "doc_id", 4)
    graft.operators.Bucketing.writeBucketed(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
      "snap_after_b", "doc_id", 4)
    val diff = graft.engine.Changes.snapshotDiff(
      spark.table("snap_before_b"), spark.table("snap_after_b"),
      "doc_id", Seq("text", "lang"))
    val p = diff.queryExecution.executedPlan
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"snapshotDiff on co-bucketed stores must plan zero exchanges:\n$p")
    // and the bucketed plan still computes the same diff as the plain one
    val plain = graft.engine.Changes.snapshotDiff(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
      "doc_id", Seq("text", "lang"))
    assert(diff.orderBy("doc_id").collect().toSeq ==
      plain.orderBy("doc_id").collect().toSeq)
  }

  test("q106 weighted sample is a TakeOrdered, not a global sort") {
    // Efraimidis–Spirakis top-k: per-partition heads + driver merge; a
    // global range-sort exchange of the corpus would be the wrong plan.
    val p = plan("q106_weighted_sample")
    val takes = collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takes.nonEmpty, s"expected TakeOrderedAndProject for the ES top-k:\n$p")
    // only the final output orderBy may range-shuffle (k=100 rows)
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"the corpus must not shuffle for the sample, got ${shuffles.size} exchanges")
  }

  test("q107 containment pairs: banded equi-joins only, no nested loop or cartesian") {
    val p = plan("q107_containment_pairs")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "containment candidates must come from band buckets, not a nested loop")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "containment candidates must not be a cartesian product")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "no window anywhere in the containment pipeline")
  }

  test("q108 PII report is a pure narrow plan: no exchange except the output sort") {
    val shuffles = collectAll(plan("q108_pii_report")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"regexp_count projection must not shuffle the corpus, got ${shuffles.size}")
  }

  test("q109 URL blocklist is a broadcast LEFT ANTI join; the corpus never shuffles") {
    val p = plan("q109_url_host_filter")
    val anti = collectAll(p) {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT ANTI" => j
    }
    assert(anti.nonEmpty, s"blocklist must ride as a broadcast anti-join:\n$p")
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"only the output orderBy may shuffle, got ${shuffles.size}")
  }

  test("q110 zipf fit: vocab agg + TakeOrdered cut; the window runs over topN rows only") {
    val p = plan("q110_zipf_fit")
    val takes = collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takes.nonEmpty, s"top-N cut must be TakeOrderedAndProject, not a sort:\n$p")
    // exchanges: token hash agg + the single-partition window over topN
    // rows (bounded by the limit, not by data) + final one-row agg
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 3, s"got ${shuffles.size} exchanges:\n$p")
  }

  test("q111 collocations: token-sized aggs, TakeOrdered cut, no nested loop") {
    val p = plan("q111_collocations")
    val takes = collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takes.nonEmpty, s"PMI top-k must be TakeOrderedAndProject:\n$p")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "no window anywhere in collocation mining")
    // the only nested-loop join allowed is the 1-row broadcast of N
    val loops = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(loops.size <= 1, s"got ${loops.size} nested-loop joins:\n$p")
  }

  test("q112/q113 centroid family: matrix-sized aggregations, no member window") {
    for (q <- Seq("q112_label_centroids", "q113_label_medoids")) {
      val p = plan(q)
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
        s"$q must aggregate, not window over members")
      assert(collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$q must not plan a cartesian product")
    }
    // medoid argmax is ONE max_by pass: exactly two corpus scans (centroid
    // build + similarity pass) — a max-join-back would plan three
    val scans = collectAll(plan("q113_label_medoids")) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"expected 2 corpus scans, got ${scans.size}")
  }

  test("q115 equi-depth histogram: literal boundaries; assignment is a per-row fold") {
    val p = plan("q115_equidepth_hist")
    // exact boundaries fold back as a LITERAL array (sort-assisted path)
    // — never a shuffled join or cartesian of the data
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "boundaries must broadcast, not cartesian")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "bucket assignment is a fold, not a window")
  }

  test("q116 slice divergence: no vocab x slices cross join; totals window is slice-keyed") {
    val p = plan("q116_slice_divergence")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "the corpus join must be vocabulary-keyed, not a cross join")
    // only the 1-row globals may ride a nested-loop broadcast
    val loops = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(loops.size <= 1, s"got ${loops.size} nested-loop joins:\n$p")
  }

  test("q117 interval join: bucketized into a hash equi-join — NO nested loop or cartesian") {
    // THE point of Intervals.pointInInterval: the naive non-equi join
    // plans a BroadcastNestedLoopJoin; bucketizing makes it a hash join
    val p = plan("q117_interval_join")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"interval containment must be a bucketed equi-join:\n$p")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q118 SCD2: the change lag and validity lead share one key exchange") {
    val p = plan("q118_scd2")
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 2, s"lag + lead expected, got ${windows.size}")
    // both windows partition by the same key with the same order — one
    // hash exchange feeds them; only the output sort adds another
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2,
      s"windows must share the key partitioning, got ${shuffles.size} exchanges:\n$p")
  }

  test("q119 per-group weighted sample ranks via BoundedTopK: no window, no per-group sort") {
    val p = plan("q119_weighted_per_group")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "per-group ES ranking must be the bounded-heap aggregate, not a row_number window")
  }

  test("q120 MAD outliers: both threshold tables broadcast back; no window") {
    val p = plan("q120_mad_outliers")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"median and MAD tables must broadcast, got ${bhj.size}:\n$p")
  }

  test("q121 boilerplate report: digests travel, paragraph text stays put; no window") {
    val p = plan("q121_boilerplate_report")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q122 quantile transform: literal boundaries; corpus never hash-shuffles") {
    val p = plan("q122_quantile_transform")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "bucket assignment is a fold, not a percent_rank window")
    // the only exchanges allowed: the output sort (boundaries are literals)
    val hashEx = collectAll(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.isEmpty, s"corpus must not hash-shuffle for the transform:\n$p")
  }

  test("q123 sessionize: ONE key exchange serves the window AND the session rollup") {
    val p = plan("q123_sessionize")
    assert(collectAll(p) { case w: WindowExec => w }.nonEmpty)
    val hashEx = collectAll(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    // HashPartitioning(user_id) satisfies the (user_id, session_idx)
    // aggregation's ClusteredDistribution — no second hash exchange.
    assert(hashEx.size == 1,
      s"expected exactly the window's key exchange, got ${hashEx.size}:\n$p")
  }

  test("q124 temperature resample: rate table broadcasts back; corpus never hash-shuffles") {
    val p = plan("q124_temperature_resample")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "per-group keep rates must broadcast onto the corpus")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    // corpus-side: no hash exchange carrying the documents relation — the
    // only aggregations are group-count-sized
    val corpusScanShuffled = collectAll(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    // allowed: the tiny groupBy(lang) count agg exchange(s); they carry
    // groups-sized data. Assert none carries more than the count agg by
    // checking no exchange sits ABOVE the broadcast join (corpus side).
    assert(corpusScanShuffled.size <= 2,
      s"only the group-count aggs may exchange:\n$p")
  }

  test("q125 fuzzy link: gram equi-joins only — no nested loop, cartesian, or window") {
    val p = plan("q125_fuzzy_link")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(p) { case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q126 leak-safe split: digest-keyed join/agg, no window, no nested loop") {
    val p = plan("q126_leak_safe_split")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q127 pagerank: co-keyed equi-joins per iteration; weighted edges are checkpointed") {
    val p = plan("q127_pagerank")
    assert(collectAll(p) { case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    // the checkpointed weighted-edge table must be read from its
    // checkpoint, not recomputed per iteration
    val checkpointed = collectAll(p) {
      case c: org.apache.spark.sql.execution.RDDScanExec => c
    }
    assert(checkpointed.nonEmpty, "weighted edges must come from the checkpointed table")
  }

  test("q128 class terms: rank window consumes the aggregated vocab matrix") {
    val p = plan("q128_class_terms")
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 1)
    val aggsBelowWindow = windows.head.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggsBelowWindow.nonEmpty, "rank window must consume the aggregated matrix")
  }

  test("q129 char entropy is a pure narrow plan: no exchange except the output sort") {
    val shuffles = collectAll(plan("q129_char_entropy")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"per-row kernel must not shuffle:\n$shuffles")
  }

  test("q130 decayed activity: scalar max broadcasts; one key aggregation; no window") {
    val p = plan("q130_decayed_activity")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    val hashEx = collectAll(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashEx.size <= 1, s"only the key rollup may hash-exchange:\n$p")
  }

  test("q131 bpe pairs: TakeOrdered cut over the pair aggregate, no global sort") {
    val p = plan("q131_bpe_pairs")
    assert(collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"top-k must be TakeOrderedAndProject:\n$p")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q132 sequence anomaly: the pair subtree's key exchange is physically reused") {
    // under AQE, exchange reuse is a runtime decision invisible in the
    // initial plan — assert the static ReuseExchange rule with AQE off
    // (the same dedup AQE performs at stage-materialization time)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan("q132_sequence_anomaly")
      // matrix pass and per-user pass share scan→exchange(user)→window→filter
      assert(collectAll(p) {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }.nonEmpty, s"expected ReusedExchange for the shared pair subtree:\n$p")
      assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "types²-sized matrix must broadcast back onto the pair stream")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q133 exact jaccard join: prefix equi-joins only — no nested loop or cartesian") {
    val p = plan("q133_jaccard_exact")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(p) { case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }.isEmpty)
  }

  test("q134 daily spikes: rolling window consumes the aggregated daily table") {
    val p = plan("q134_daily_spikes")
    // Spark may split the rolling stats into two Window nodes (the n*n
    // operand projects separately); all of them sit above the daily agg
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.nonEmpty)
    val aggsBelowWindow = windows.last.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggsBelowWindow.nonEmpty,
      "rolling stats must run over the (groups x days) table, not raw events")
  }

  test("q135 trend slopes: two aggregation passes + co-keyed join, window-free") {
    val p = plan("q135_trend_slopes")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q136/q137 digest reports: only digests travel, no window, no cartesian") {
    for (q <- Seq("q136_dup_profile", "q137_source_overlap")) {
      val p = plan(q)
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty, q)
      assert(collectAll(p) {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, q)
      assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, q)
    }
  }

  test("q138/q140 gram-and-digest reports: window-free, no cartesian") {
    for (q <- Seq("q138_novelty", "q140_dup_histogram")) {
      val p = plan(q)
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty, q)
      assert(collectAll(p) {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, q)
    }
  }

  test("q139 label dispersion: labels-sized join broadcasts; aggregations only") {
    val p = plan("q139_label_dispersion")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "labels-sized centroid-norm table must broadcast")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q141 audio spectral is a narrow typed-map pass: no exchange except the output sort") {
    val shuffles = collectAll(plan("q141_audio_dominant")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"payload bytes must never shuffle:\n$shuffles")
  }

  test("q142 rank fusion: bounded-heap lists, window-free, no cartesian") {
    val p = plan("q142_rank_fusion")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both rankings must come from the bounded-heap aggregate, not a window")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q143 triangles: gram/pair/wedge equi-joins only — no nested loop or cartesian") {
    val p = plan("q143_triangles")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "wedge closing must be an equi-join on the canonical pair key")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q145 oov rate: TakeOrdered vocab cut broadcast back; window-free") {
    val p = plan("q145_oov_rate")
    assert(collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, "the vocab cut must plan as TakeOrderedAndProject, not a global sort")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the vocab-sized table must broadcast onto the token stream")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q146 readability is a pure narrow plan: no exchange except the output sort") {
    val shuffles = collectAll(plan("q146_readability")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"per-row HOF pass must not shuffle:\n$shuffles")
  }

  test("q147 compression signals: narrow mapPartitions, text never shuffles") {
    val shuffles = collectAll(plan("q147_compress_ratio")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"payload text must never shuffle:\n$shuffles")
  }

  test("q148 chi2 terms: rank window consumes the aggregated vocab matrix; N broadcasts") {
    val p = plan("q148_chi2_terms")
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 1, "only the classes×vocab rank window")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q149 correlation report: one moment aggregation, window-free, no joins") {
    val p = plan("q149_corr_report")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2,
      s"group agg + output sort only, got ${shuffles.size}")
  }

  test("q150 kappa: corpus collapses to the confusion matrix; matrix-sized math after") {
    val p = plan("q150_lang_kappa")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q151 target mix: rate table broadcasts back; corpus never hash-shuffles") {
    val p = plan("q151_target_mix")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "groups-sized rate table must broadcast")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q152 trimmed stats: threshold table broadcasts; window-free") {
    val p = plan("q152_trimmed_stats")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "per-group quantile thresholds must broadcast")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("quantile family arms: per-group swap is plan-shape-identical; corpus exact arm buffer-free") {
    import graft.engine.Summaries
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), col("n_chars").cast("double").as("v"))
    def exec(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    def skeleton(df: org.apache.spark.sql.DataFrame): Seq[String] =
      exec(df).collect { case n => n.getClass.getSimpleName }
    // per-group ops: exact percentile → approx_percentile changes ONLY
    // the aggregate function, never the plan shape
    assert(skeleton(Summaries.trimmedStats(docs, "source", "v")) ==
      skeleton(Summaries.trimmedStats(docs, "source", "v", exact = false)))
    assert(skeleton(Summaries.madOutliers(docs, "source", "v")) ==
      skeleton(Summaries.madOutliers(docs, "source", "v", exact = false)))
    // corpus-wide ops: the exact arm computes boundaries by distributed
    // sort + literal fold-back — NO ObjectHashAggregate (the old
    // whole-column percentile buffer) may appear anywhere in its plan
    Seq(Summaries.equiDepthHistogram(docs, "v", 10),
        Summaries.quantileTransform(docs, "v", 100)).foreach { df =>
      val objAggs = collectAll(exec(df)) {
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
      }
      assert(objAggs.isEmpty,
        "exact arm must not buffer the corpus column in a percentile aggregate")
      assert(collectAll(exec(df)) { case w: WindowExec => w }.isEmpty)
    }
    // ...while the approx arm keeps the one-row sketch + broadcast shape
    Seq(Summaries.equiDepthHistogram(docs, "v", 10, exact = false),
        Summaries.quantileTransform(docs, "v", 100, exact = false)).foreach { df =>
      assert(collectAll(exec(df)) {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }.nonEmpty, "approx boundaries must broadcast as the scalar cross join")
    }
  }

  test("q153 ann recall: no cartesian scan — the LSH arm joins on the bucket key") {
    val p = plan("q153_ann_recall")
    // the brute-force arm is a broadcast nested loop BY DESIGN (bounded
    // query sample × corpus); what must NOT appear is an unbroadcast
    // cartesian product
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both rankings come from the bounded-heap aggregate")
  }

  test("q154 personalized pagerank: seeds broadcast into the teleport base; no cartesian") {
    val p = plan("q154_personalized_pagerank")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "seed membership must broadcast")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q155 gif frames is a narrow typed-map pass: no exchange except the output sort") {
    val shuffles = collectAll(plan("q155_gif_frames")) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"payload bytes must never shuffle:\n$shuffles")
  }

  test("q157 image near-dup: pigeonhole chunk equi-join only — no cartesian, no window") {
    val p = plan("q157_image_near_dup")
    assert(collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "the Hamming join must ride the (ck, cv) chunk equi-key, never all-pairs")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q158 image dedup: chunk equi-join + node-sized attribution, no cartesian") {
    val p = plan("q158_image_dedup")
    assert(collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q159 column profile: ONE corpus pass — a single scan, no joins, no window") {
    val p = plan("q159_column_profile")
    val scans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1,
      s"profiler must aggregate every column in one pass, got ${scans.size} scans")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty)
  }

  test("q160/q161 OLAP reports: one corpus scan, one aggregation pass, no joins") {
    Seq("q160_rollup_report", "q161_lang_pivot").foreach { q =>
      val p = plan(q)
      val scans = collectAll(p) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 1, s"$q: grouping sets/pivot must be one pass, got ${scans.size} scans")
      assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty, q)
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty, q)
    }
  }

  test("q162 embedding covariance: ONE corpus scan — raw moments in a single aggregation") {
    val p = plan("q162_embedding_cov")
    val scans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1,
      s"raw-moment formulation must scan embeddings once, got ${scans.size}")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty,
      "first moments must ride the (i, j) aggregation, not a moment-table join")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q114 transitions: single corpus scan; normalize windows the matrix only") {
    val p = plan("q114_event_transitions")
    // the corpus is read ONCE (a totals-join formulation would plan the
    // whole scan+window subtree twice — Catalyst does not reuse it)
    val scans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1, s"corpus must be scanned once, got ${scans.size}")
    // two windows: the corpus lag + the normalize over the types² matrix
    val windows = collectAll(p) { case w: WindowExec => w }
    assert(windows.size == 2, s"lag + matrix-normalize expected, got ${windows.size}")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q173/q175/q176/q177 statistics queries keep their intended plan shapes") {
    // q173 KS: the corpus never enters a window — both cumulative windows
    // run on VALUES-sized tables (the grid cum and the total cum), and
    // the values × groups evaluation grid is a broadcast NLJ of two
    // aggregate outputs, never a shuffled cross of corpus rows
    val ks = plan("q173_ks_drift")
    assert(collectAll(ks) { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "values × groups grid must be a broadcast nested-loop")
    assert(collectAll(ks) { case w: WindowExec => w }.size == 2)
    // q175 Gini: one per-group rank window, no joins anywhere
    val gini = plan("q175_gini")
    assert(collectAll(gini) { case w: WindowExec => w }.size == 1)
    assert(collectAll(gini) { case j: BroadcastHashJoinExec => j }.isEmpty)
    // q176 rank-biserial: the corpus never enters a window — the only
    // WindowExec runs on the values-sized rank table, which joins back
    // BROADCAST; no corpus-wide sort window anywhere
    val rb = plan("q176_rank_biserial")
    assert(collectAll(rb) { case w: WindowExec => w }.size == 1)
    assert(collectAll(rb) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "rank table must broadcast back onto the corpus")
    // q177 Benford: no window at all — one 9-bucket aggregation plus the
    // broadcast scalar total
    val ben = plan("q177_benford")
    assert(collectAll(ben) { case w: WindowExec => w }.isEmpty)
  }

  test("q181/q182 moment statistics: one corpus scan, windows only on aggregate tables") {
    // q181 Welch: ONE corpus pass into the per-group moment table; the
    // rest side derives by exact subtraction from window totals over
    // that GROUPS-sized table — never a second scan, never a join
    val w = plan("q181_welch_ttest")
    val wScans = collectAll(w) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(wScans.size == 1, s"corpus must be scanned once, got ${wScans.size}")
    assert(collectAll(w) { case x: WindowExec => x }.size == 1,
      "grand totals must be ONE window over the groups table")
    assert(collectAll(w) { case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(collectAll(w) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // q182 association: one corpus pass into the (a, b) cell table;
    // margins/totals are windows over that cells-sized table (the R×C
    // grid never materializes — observed-cells identity), no joins
    val a = plan("q182_cat_assoc")
    val aScans = collectAll(a) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(aScans.size == 1, s"corpus must be scanned once, got ${aScans.size}")
    assert(collectAll(a) { case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(collectAll(a) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(a) { case x: WindowExec => x }.size == 3,
      "row/col/total margins are three cells-sized windows")
  }

  test("q183 k-means assignment is a narrow per-row fold over the literal codebook") {
    // the RETURNED frame (final assignment) must never join or window —
    // cluster labels come from a per-row argmin against literal
    // centroids; the only exchange is the terminal presentation sort
    val p = plan("q183_kmeans")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    val exchanges = collectAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1,
      s"assignment must not shuffle beyond the terminal sort, got ${exchanges.size}")
  }

  test("q184 heavy hitters: capacity-bounded partial aggregate, no window, no join") {
    val p = plan("q184_heavy_hitters")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "the sketch IS the rank — a row_number window would shuffle the key universe")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty)
    // partial MG buffers combine map-side: the aggregate appears in
    // partial + final mode around ONE exchange
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.size == 2, s"expected partial+final MG aggregate, got ${aggs.size}")
  }

  test("q190/q197 sorted-neighborhood: rank-bucket equi-joins only, block-local windows") {
    for (name <- Seq("q190_snm_pairs", "q197_entity_resolution")) {
      val p = plan(name)
      assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$name: candidates must equi-join on (block, rank-bucket)")
      assert(collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$name: no cartesian")
    }
  }

  test("q192 count-min: the cell-bounded sketch broadcasts into the probe join") {
    val p = plan("q192_countmin")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the ≤ depth·width sketch must be the broadcast side")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q194 negative sampling: bucketized range join is equi — no nested loop") {
    val p = plan("q194_neg_samples")
    // the only nested-loop joins allowed are the 1-row scalar attaches
    // (crossJoin(broadcast(total)) — the house broadcast-scalar idiom);
    // the draw→interval match itself must be an equi-join on the u-bucket
    val equiOnBucket = collectAll(p) {
      case j: BroadcastHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
    }.exists(_.exists(_.toString.contains("__ub")))
    assert(equiOnBucket,
      "draw→interval matching must equi-join on the u-bucket; otherwise the " +
        "range predicate reached the join as a nested-loop condition")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    // the vocab-order prefix sum is two-level: the within-bucket window
    // partitions by the hash bucket, plus the ≤1000-row offset window —
    // never one global window over the whole vocabulary
    val parts = collectAll(p) { case w: WindowExec => w.partitionSpec }
    assert(parts.exists(_.nonEmpty),
      "within-bucket cumsum must be partitioned by the hash bucket")
  }

  test("q187/q188 graph iterations: equi-joins only, argmax is an aggregate not a window") {
    for (name <- Seq("q187_label_prop", "q188_bfs_hops")) {
      val p = plan(name)
      assert(collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$name: no cartesian")
      assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$name: neighbor joins must be keyed")
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
        s"$name: per-node argmax/min must partial-aggregate, not rank")
    }
  }

  test("q189 Kaplan-Meier: one aggregating pass; the edge branch prunes to ts only") {
    val p = plan("q189_kaplan_meier")
    val scans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("ReadSchema")
    }
    assert(scans.size == 2, s"expected lifetime pass + edge pass, got ${scans.size}")
    // the corpus-edge branch is a scalar max over the ts column alone —
    // NOT a replay of the per-user aggregation (decayedScore precedent)
    assert(scans.exists(s => s.contains("ts") && !s.contains("user_id")),
      s"edge branch must prune to the ts column, saw: $scans")
    // the at-risk suffix sum and the survival prefix fold are the only
    // windows, both over the duration-level aggregate (global order on
    // an inherently tiny table)
    assert(collectAll(p) { case w: WindowExec => w }.size == 2)
  }

  test("q196 assortativity: degree joins are keyed; one scalar moment aggregate") {
    val p = plan("q196_assortativity")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
  }

  test("q199 JL projection is a pure narrow kernel: one exchange (the output sort)") {
    val p = plan("q199_jl_projection")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    val exchanges = collectAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1,
      s"projection must not shuffle beyond the terminal sort, got ${exchanges.size}")
  }

  test("q202/q204 sketch relations: register/word-bounded aggregates, broadcast probes") {
    val hll = plan("q202_hll_relation")
    assert(collectAll(hll) { case w: WindowExec => w }.isEmpty,
      "HLL is max-per-register aggregation — no ranks anywhere")
    val bloom = plan("q204_bloom_relation")
    assert(collectAll(bloom) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the ≤ bits/32 word table must broadcast into the probe join")
    assert(collectAll(bloom) { case w: WindowExec => w }.isEmpty)
  }

  test("q205 uniform sample is a BoundedTopK partial aggregate, not a per-group window") {
    val p = plan("q205_uniform_per_group")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "k-smallest tickets must ride the bounded-heap aggregate")
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.size == 2, s"expected partial+final topK aggregate, got ${aggs.size}")
  }

  test("q206 rolling WAU: no window functions — dedup/explode/dedup/count only") {
    val p = plan("q206_rolling_wau")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "the exact rolling distinct is aggregation-shaped; a windowed " +
        "count(DISTINCT) does not exist and a rank rewrite would sort the corpus")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q208 OLS: one pruned corpus scan, one aggregate pair, no joins or windows") {
    val p = plan("q208_linear_fit")
    val scans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1, s"the whole training run is ONE scan, got ${scans.size}")
    assert(scans.head.metadata("ReadSchema")
      .startsWith("struct<text:string,n_chars:bigint"))
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "the Cramer solve is scalar math on the moment row, never a join")
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size == 2, s"expected partial+final moment aggregate, got ${aggs.size}")
  }

  test("q209/q214 bootstrap: the replicate explode partially aggregates before any exchange") {
    def subtreeHas(pl: SparkPlan)(pf: PartialFunction[SparkPlan, Boolean]): Boolean =
      pl.collect(pf).nonEmpty
    Seq("q209_bootstrap_ci", "q214_bootstrap_by_group").foreach { name =>
      val p = plan(name)
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
      assert(collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$name: the CI table joins back keyed/broadcast, never a cartesian")
      // every exchange whose subtree holds the replicate Generate must have
      // an aggregate strictly between them — the corpus×B blowup never shuffles
      val exchanges = collectAll(p) { case e: ShuffleExchangeExec => e }
      val overGenerate = exchanges.filter(e => subtreeHas(e.child) {
        case _: org.apache.spark.sql.execution.GenerateExec => true
      })
      assert(overGenerate.nonEmpty, s"$name: expected the explode below a shuffle")
      overGenerate.foreach { e =>
        val between = e.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if subtreeHas(a) { case _: org.apache.spark.sql.execution.GenerateExec => true } => a
        }
        assert(between.nonEmpty,
          s"$name: partial aggregation must fire between explode and exchange")
      }
    }
  }

  test("q215 conformal: threshold broadcasts as a scalar — no cartesian, no window") {
    val p = plan("q215_conformal_coverage")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "the calibration threshold must reach the eval pass as a broadcast scalar")
  }

  test("q210 binned MI: ONE corpus scan at runtime — margins/entropies reuse the cells exchange") {
    val df = SparkEntry.queries("q210_binned_mi")(spark, sfDir)
    df.collect() // AQE applies exchange reuse at runtime; walk the final stages
    def walk(pl: SparkPlan, out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
      pl match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, out)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, out)
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          out += "reuse"
        case _: org.apache.spark.sql.execution.FileSourceScanExec => out += "scan"
        case _ => ()
      }
      pl match {
        case _: AdaptiveSparkPlanExec |
             _: org.apache.spark.sql.execution.adaptive.QueryStageExec => ()
        case _ => pl.children.foreach(walk(_, out))
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    walk(df.queryExecution.executedPlan, out)
    assert(out.count(_ == "scan") == 1,
      s"h_x/h_y must reuse the cells exchange, not re-scan: $out")
    assert(out.count(_ == "reuse") == 2, s"expected 2 reused exchanges: $out")
  }

  test("q211 hard negatives: broadcast-query join + bounded-heap aggregate, no window") {
    val p = plan("q211_hard_negatives")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "ranking rides the TopK aggregate, never a per-query window sort")
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "the bounded query sample broadcasts against the partitioned corpus")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val topk = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(topk.size == 2, s"expected partial+final topK aggregate, got ${topk.size}")
  }

  test("q212/q213 corpus passes stay narrow: equi-joins only, no windows") {
    val enc = plan("q212_bpe_encode")
    assert(collectAll(enc) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(enc) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "the word→pieces map joins by key; merge scalars broadcast")
    val vg = plan("q213_vocab_growth")
    assert(collectAll(vg) { case w: WindowExec => w }.isEmpty)
    val scans = collectAll(vg) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2,
      s"ALL fractions come from two corpus passes (docs + token-min), got ${scans.size}")
    assert(collectAll(vg) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q219 IVF-PQ: codebooks fold as literals, all joins broadcast, rankings are heaps") {
    val p = plan("q219_ivf_pq")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both rankings ride bounded-heap TopK aggregates, never a per-query window")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "no corpus×query cartesian anywhere in the composition")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "probe/survivor/query joins all broadcast their bounded side")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.size >= 3,
      "probes, survivors, and query vectors each join on a broadcast build side")
    // stage-1 + stage-2 ranking heaps (partial + final each); the
    // 16-winner query lottery MATERIALIZES once (localCheckpoint) before
    // the search plan, so it appears here as ExistingRDD scans, not as
    // extra aggregates
    val topk = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(topk.size == 4,
      s"expected 2×(partial+final) topK aggregates, got ${topk.size}")
    assert(topk.forall(_.toString.contains("topk")),
      "every aggregate in the search plan is a bounded heap")
  }

  test("q232 persisted-index search: ZERO training aggregations — only the 2 topK stages") {
    val p = plan("q232_ivf_pq_index")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "probe/survivor/query joins all broadcast their bounded side")
    // retrain-free structurally: a Lloyd iteration in the search lineage
    // would surface as per-(cluster, dim) hash aggregations; the search
    // plan holds EXACTLY the stage-1/stage-2 ranking heap pairs (the
    // 16-winner query lottery materializes once before the plan and
    // reads back as ExistingRDD) — and nothing that is not a topk heap
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.size == 4,
      s"expected only 2×(partial+final) topK aggregates, got ${aggs.size}")
    assert(aggs.forall(_.toString.contains("topk")),
      "every aggregate in the search plan is a bounded heap — no training shape")
  }

  test("q233 banded semantic dedup: (cluster, bucket) equi-joins only — no cartesian, no window") {
    val p = plan("q233_semantic_dedup_banded")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "no per-cluster or per-bucket window anywhere")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "the candidate stage is a keyed self-join, never a cross product")
    assert(collectAll(p) {
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "no nested-loop fallback in the candidate or audit joins")
  }

  test("q234 IVF-PQ recall: rankings are heap aggregates, overlap is a keyed join") {
    val p = plan("q234_ivf_pq_recall")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "brute-force AND ANN rankings both ride bounded-heap topK aggregates")
    // the one nested-loop is the DELIBERATE brute-force corpus × bounded
    // query-sample broadcast (the eval-operator contract); nothing else
    val bnl = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size <= 1, s"only the brute-force broadcast cross join, got ${bnl.size}")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "no unbroadcast cartesian anywhere")
  }

  test("q247 sparse retrieval: query side broadcasts, rank is a heap — no window, no SMJ") {
    val p = plan("q247_sparse_retrieval")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "per-query rank rides the bounded-heap topK aggregate, never a window")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "the posting join broadcasts the bounded query side")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "postings × broadcast(queries) is the retrieval join")
  }

  test("q248 capped recall: both retrieval arms stay window-free (the cap is a heap too)") {
    val p = plan("q248_sparse_capped_recall")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "exact arm, capped arm, AND the per-token cap all ride heap aggregates")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q249 drift gate: no training in the lineage — keyed joins plus one-row broadcasts") {
    val p = plan("q249_ivf_drift")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    // the only nested-loops are one-row broadcasts onto the nCentroids-
    // sized per-cell table: totals in the output arm, totals again inside
    // the tv rollup's lineage (both read the localCheckpointed per-cell
    // table, so neither re-encodes the batch), and tv itself
    val bnl = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size <= 3, s"only the totals/tv one-row broadcasts, got ${bnl.size}")
  }

  test("signProject is a pure narrow map — ZERO exchanges, zero joins") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = graft.operators.Similarity
      .signProject(emb, "vec_id", "embedding", outDim = 16, dim = 64)
      .queryExecution.executedPlan
    assert(collectAll(p) { case e: ShuffleExchangeExec => e }.isEmpty,
      "the weight matrix is literal — projection must not exchange")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty)
    assert(collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
  }

  test("q260 hybrid index serving: retrain-free, window-free; only the fusion full-join merges") {
    val p = plan("q260_hybrid_index_search")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both arms rank on bounded heaps; the fusion is a keyed join")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1 && smj.forall(_.joinType.sql == "FULL OUTER"),
      s"only the eval-sized RRF full-join may merge, got ${smj.size}")
  }

  test("q265 out-of-corpus hybrid serving: same plan discipline as q260 — window-free, one fusion full-join") {
    val p = plan("q265_hybrid_query_serving")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both arms rank on bounded heaps; the reconstruction is a keyed vocab join")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1 && smj.forall(_.joinType.sql == "FULL OUTER"),
      s"only the eval-sized RRF full-join may merge, got ${smj.size}")
  }

  test("q266 bm25 reconstruction: heap-ranked, window-free — the q247 discipline on the Okapi index") {
    val p = plan("q266_bm25_query_profile")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q267 hybrid health: batch-pass drift algebra — no window, only one-row stat broadcasts nest") {
    val p = plan("q267_hybrid_health")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q268 score fusion: both arms heap-ranked, extrema are keyed aggs — window-free, cartesian-free") {
    val p = plan("q268_score_fusion")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "arm ranks ride bounded heaps; min-max extrema are per-query aggregates")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q269 weighted RRF: the q252 plan discipline — window-free, one fusion full-join") {
    val p = plan("q269_weighted_rrf")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1 && smj.forall(_.joinType.sql == "FULL OUTER"))
  }

  test("q270/q275 binary two-stage: window-free, heap-ranked; stage 1 is the one broadcast cross join over packed words") {
    for (q <- Seq("q270_binary_rerank", "q275_binary_index")) {
      val p = plan(q)
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
        s"$q: both rankings ride bounded-heap TopK aggregates")
      assert(collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$q: the stage-1 scan pairs against a BROADCAST query side")
      assert(collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.isEmpty, s"$q: survivor/query joins broadcast their bounded side")
      val topk = collectAll(p) {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(topk.size == 4,
        s"$q: expected 2x(partial+final) topK aggregates, got ${topk.size}")
    }
  }

  test("q272 pruned IVF-PQ serving: the q232 plan discipline survives the cell pre-filter") {
    val p = plan("q272_ivf_pq_pruned")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty)
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.size == 4,
      s"expected only 2x(partial+final) topK aggregates, got ${aggs.size}")
    assert(aggs.forall(_.toString.contains("topk")),
      "the cell pre-filter must not add any non-heap aggregate")
  }

  test("q277 stored-vector serving: the q232 discipline with the rerank fed from the codes relation") {
    val p = plan("q277_ivf_pq_stored")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty)
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.size == 4,
      s"expected only 2x(partial+final) topK aggregates, got ${aggs.size}")
    assert(aggs.forall(_.toString.contains("topk")),
      "no training shape, no extra aggregate from the stored-rerank seam")
  }

  test("q278 stored+clustered hybrid: q260's discipline AND both dense stages partition-pruned") {
    val p = plan("q278_hybrid_stored_clustered")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both arms rank on bounded heaps; the reconstruction is a keyed vocab join")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1 && smj.forall(_.joinType.sql == "FULL OUTER"),
      s"only the eval-sized RRF full-join may merge, got ${smj.size}")
    // the dense arm reads ONLY the reloaded clustered index, and every
    // index scan (stage-1 codes AND the stage-2 vec rerank) carries the
    // probed-cell PARTITION filter
    val idxScans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft-q278")) => f
    }
    assert(idxScans.nonEmpty, "the dense arm must read the persisted index")
    val denseScans = idxScans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/dense")))
    assert(denseScans.nonEmpty && denseScans.forall(_.partitionFilters.nonEmpty),
      "both dense stages must carry the probed-cell partition filter")
    assert(denseScans.exists(_.schema.fieldNames.contains("vec")),
      "stage 2 reranks from the index's vec payload")
  }

  test("q279/q282 fusion-knob hybrids: the q260 plan discipline through the weighted and score verbs") {
    for (q <- Seq("q279_hybrid_weighted", "q282_hybrid_score_serving")) {
      val p = plan(q)
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
        s"$q: arm ranks ride bounded heaps; extrema (score form) are keyed aggregates")
      assert(collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$q")
      val smj = collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.size <= 1 && smj.forall(_.joinType.sql == "FULL OUTER"),
        s"$q: only the eval-sized fusion full-join may merge, got ${smj.size}")
    }
  }

  test("q283 stored score hybrid: q282's discipline AND both dense stages partition-pruned") {
    val p = plan("q283_hybrid_score_stored")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1 && smj.forall(_.joinType.sql == "FULL OUTER"),
      s"only the fusion full-join may merge, got ${smj.size}")
    val denseScans = collectAll(p) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(p =>
          p.toString.contains("graft-q283") && p.toString.contains("/dense")) => f
    }
    assert(denseScans.nonEmpty && denseScans.forall(_.partitionFilters.nonEmpty),
      "both dense stages must carry the probed-cell partition filter")
  }

  test("q280 cell-pruned binary: window-free, broadcast-only; only the 2x(partial+final) topK heaps aggregate") {
    val p = plan("q280_binary_cell_pruned")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both rankings ride bounded-heap TopK aggregates")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty, "stage 1 joins the probed cells against a BROADCAST query side")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty)
    val aggs = collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.size == 4,
      s"expected only 2x(partial+final) topK aggregates, got ${aggs.size}")
    assert(aggs.forall(_.toString.contains("topk")),
      "the cell restriction must not add any non-heap aggregate")
  }

  test("q273 training export: JOIN-FREE — one corpus pass, one hash-agg canonical pick, one shard deal") {
    val p = plan("q273_training_export")
    assert(collectAll(p) {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }.isEmpty, "gate in-place + min_by canonical pick: nothing joins back onto the corpus")
    // the canonical pick HASH-aggregates (primitive min/min_by buffers);
    // a min(struct) form regresses to SortAggregate — two extra
    // per-partition sorts by digest at corpus scale
    assert(collectAll(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.size == 2, "partial+final digest hash aggregation")
    assert(collectAll(p) {
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s
    }.isEmpty)
    // the only window is assignShards' in-shard rank
    assert(collectAll(p) { case w: WindowExec => w }.size == 1)
  }

  test("q261 sparse drift: vocabulary-sized keyed joins + one-row broadcasts — no window, no cartesian blowup") {
    val p = plan("q261_sparse_drift")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    // the only nested-loop joins are the one-row totals/tv broadcasts
    val bnl = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size <= 3, s"only one-row stat broadcasts may nest, got ${bnl.size}")
  }

  test("q262 cap plan: every arm ranks on heaps; sizes come from one length table — window-free") {
    val p = plan("q262_sparse_cap_plan")
    // the ONLY window is the grid-sized chosen ranking (4 rows by
    // construction — the q242 planner precedent)
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.size <= 1, s"only the grid-sized chosen window, got ${wins.size}")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
  }

  test("q252 hybrid RRF: window-free, cartesian-free; the one merge join is the eval-sized fusion full-join") {
    val p = plan("q252_hybrid_rrf")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "both rankings are bounded-heap aggregates, the fusion is a keyed join")
    assert(collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }.isEmpty)
    // FullOuter can't broadcast-hash in Spark — the fusion join is an
    // SMJ over the two (queries × k)-row top-k lists, eval-sized by
    // construction (the q242 grid-join precedent). Pin that it is the
    // ONLY merge join and that it is the full-outer fusion itself.
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1, s"only the eval-sized fusion full-join, got ${smj.size}")
    assert(smj.forall(_.joinType.sql == "FULL OUTER"))
  }

  test("two-stage ANN verbs: pinned broadcast, shuffle and aggregate census per verb") {
    import graft.operators.{Retrieval, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-census-").toString
    Similarity.ivfPqIndexSave(Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeVectors = true, storeSignWords = true), dir)
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    val wordsOnly = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCentroids = 16, subspaces = 4, subDim = 16, pqK = 4, pqIters = 2,
      storeSignWords = true)
    val sparse = TextAnalysis.sparseIndexBuild(docs, "doc_id", "text",
      weighting = "tfidf", minDf = 2, cap = Some(25))
    val qp = sparse.postings
      .join(docs.filter(col("doc_id") % 50 === 0).select("doc_id"), "doc_id")
      .withColumnRenamed("doc_id", "query_id")
    val got = Map(
      "ivfPqSearch" -> census(Similarity.ivfPqSearch(loaded, emb, qs,
        "vec_id", "embedding", k = 5)),
      "ivfPqSearchStored" -> census(Similarity.ivfPqSearchStored(loaded, qs,
        "vec_id", "embedding", k = 5)),
      "hybridSearch" -> census(Retrieval.hybridSearch(loaded, emb, qs,
        "vec_id", "embedding", sparse, qp, "query_id", "token", "weight", k = 5)),
      "binarySearchCells/payload" -> census(Similarity.binarySearchCells(loaded,
        emb, qs, "vec_id", "embedding", k = 5)),
      "binarySearchCells/corpus" -> census(Similarity.binarySearchCells(wordsOnly,
        emb, qs, "vec_id", "embedding", k = 5)),
      "quantizedRerankTopK" -> census(Similarity.quantizedRerankTopK(emb, qs,
        "vec_id", "embedding", k = 5)),
      "matryoshkaTopK" -> census(Similarity.matryoshkaTopK(emb, qs,
        "vec_id", "embedding", k = 5, prefixDim = 16)))
    // stage 1 broadcasts the query side, stage 2 the survivors and the
    // query vectors; each topK heap is partial + final around one
    // shuffle. The hybrid adds the sparse arm and the fusion full-join
    val twoStage = (3, 2, 4)
    assert(got == Map(
      "ivfPqSearch" -> twoStage,
      "ivfPqSearchStored" -> twoStage,
      "hybridSearch" -> (5, 6, 8),
      "binarySearchCells/payload" -> twoStage,
      "binarySearchCells/corpus" -> twoStage,
      "quantizedRerankTopK" -> twoStage,
      "matryoshkaTopK" -> twoStage))
  }
}
