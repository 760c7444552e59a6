package graft.engine

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship transform: day-over-day change detection ("quantization") —
  * reference `get_changed_scores` (client.py:453-475) re-expressed as ONE
  * partitioned lag window over the whole date range instead of N−1 pairwise
  * frame diffs (which in the reference silently drop the (1,2) pair —
  * SURVEY.md §2.13.2).
  *
  * Semantics preserved exactly:
  *   - `prev` = previous row's value within each key partition in date order
  *     (client.py:462-466, `shift().over('cve')`);
  *   - keep rows where `value − prev ≠ 0`; a key's FIRST row in the frame is
  *     dropped too, because `lag` yields null ⇒ `null ≠ 0` ⇒ null ⇒ filtered
  *     (client.py:470; Spark's null semantics match Polars here);
  *   - baseline-day handling implements the *intent* of the reference's
  *     `min_date -= timedelta(days=-1)` bug (client.py:213-214, SURVEY.md
  *     §2.13.1): scan one day earlier than requested so the first requested
  *     day has a diff baseline, then emit only `date >= minDate`.
  *
  * Scale: one hash exchange on the partition key (~300k distinct CVEs,
  * no skew), window spills via UnsafeExternalSorter — no driver-side
  * materialization anywhere.
  */
object Changes {

  /** Generic change-only filter: keep rows whose `valueCol` differs from the
    * previous row in the (`keyCol`, ordered by `orderCol`) partition.
    */
  def changedRows(df: DataFrame, keyCol: String, orderCols: Seq[String], valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
    df.withColumn("__prev", lag(col(valueCol), 1).over(w))
      .filter(col(valueCol) - col("__prev") =!= 0)
      .drop("__prev")
  }

  /** EPSS-shaped quantization over the canonical snapshot relation, with the
    * corrected baseline-day semantics. `df` must already cover
    * [minDate − 1 day, maxDate] (ScoreStore.read handles that).
    */
  def changedScores(df: DataFrame, minDate: Option[LocalDate] = None): DataFrame = {
    val changed = changedRows(df, Schemas.Cve, Seq(Schemas.Date), Schemas.Epss)
    val clipped = minDate.fold(changed)(d => changed.filter(col(Schemas.Date) >= lit(java.sql.Date.valueOf(d))))
    clipped
      .select(Schemas.scoreColumns.map(col): _*)                       // P1
      .orderBy(col(Schemas.Date).asc, col(Schemas.Cve).desc)           // O1 intent
  }

  /** The column of a change-log row that holds its CVE's previous date. */
  val PrevDate = "prev_date"

  /** The change log's one window pass over score rows (`date, cve, epss`,
    * any more columns ride along), in the window [[changedRows]] runs: the
    * rows whose epss differs from their CVE's previous row, flagged
    * `changed` and stamped with that row's date as [[PrevDate]], and each
    * CVE's last row, flagged `last`. A row may be both; every other row is
    * dropped. The change test is [[changedRows]]' `epss − prev ≠ 0`, so a
    * CVE's first row is never a change, and quantizing `[a, b]` is the
    * changed rows with `date ∈ [a, b]` and `prev_date ≥ a − 1`.
    */
  def changeLogPass(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(Schemas.Cve).orderBy(Schemas.Date)
    df.withColumn(PrevDate, lag(col(Schemas.Date), 1).over(w))
      .withColumn("changed",
        coalesce(col(Schemas.Epss) - lag(col(Schemas.Epss), 1).over(w) =!= 0, lit(false)))
      .withColumn("last", lead(col(Schemas.Date), 1).over(w).isNull)
      .filter(col("changed") || col("last"))
  }

  /** Direct diff of two specific snapshots (the reference's pairwise
    * `get_changed_scores(a, b)` shape, client.py:453-475, as an explicit
    * API): rows of day `b` whose value differs from day `a`, plus day-`b`
    * rows with no day-`a` twin (first sightings are KEPT here — unlike the
    * windowed quantization, a two-snapshot diff has an explicit baseline,
    * so "new in b" is a change). One shuffle on the join key; at the store
    * layout's bucketing the join co-locates exchange-free.
    */
  def betweenSnapshots(a: DataFrame, b: DataFrame): DataFrame = {
    val prev = a.select(col(Schemas.Cve), col(Schemas.Epss).as("__prev_epss"))
    b.join(prev, Seq(Schemas.Cve), "left")
      .filter(col("__prev_epss").isNull || col(Schemas.Epss) =!= col("__prev_epss"))
      .select(Schemas.scoreColumns.map(col): _*)
      .orderBy(col(Schemas.Date).asc, col(Schemas.Cve).desc)
  }

  /** Generic two-snapshot diff for versioned corpora: classify every id
    * as `added` (only in `after`), `removed` (only in `before`) or
    * `changed` (present in both with any compared column differing,
    * null-safely) — unchanged ids are dropped. The corpus-versioning twin
    * of [[betweenSnapshots]]: same explicit-baseline semantics, but
    * id-generic, multi-column, and keeping removals (a training-data
    * ingest needs to retire documents, not just update them).
    *
    * 100 TB shape: ONE full-outer join co-shuffled on the id — with both
    * snapshot stores bucketed by id it co-locates exchange-free; the
    * compared columns ride the join as a single struct, no digest
    * materialization, no second pass.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, idCol: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val b = before.select(col(idCol), struct(compareCols.map(col): _*).as("__b"))
    val a = after.select(col(idCol), struct(compareCols.map(col): _*).as("__a"))
    b.join(a, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__b").isNull, "added")
          .when(col("__a").isNull, "removed")
          .when(!(col("__b") <=> col("__a")), "changed"))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** SCD2 (slowly-changing-dimension type 2) validity intervals from an
    * observation log: collapse each key's consecutive identical values,
    * then stamp every surviving change with `[valid_from, valid_to)` —
    * `valid_from` its own order position, `valid_to` the NEXT change's
    * (null = current version). Turns an event/snapshot log into the
    * warehouse dimension shape where "value at time t" is one
    * point-in-interval lookup instead of a scan-and-lag.
    *
    * 100 TB shape: the change filter and the lead stamp share ONE window
    * partitioning (same key, same order) — one hash exchange, two window
    * passes over it, no joins. First observation per key always survives
    * (null-lag ≠ value, the flagship F5 rule).
    */
  def scd2(df: DataFrame, keyCol: String, orderCol: String,
           valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
    df.select(col(keyCol), col(orderCol), col(valueCol))
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .filter(!(col(valueCol) <=> col("__prev")))
      .withColumn("valid_from", col(orderCol))
      .withColumn("valid_to", lead(col(orderCol), 1).over(w))
      .select(col(keyCol), col(valueCol), col("valid_from"), col("valid_to"))
  }

  /** Dense reconstruction from a change log: forward-fill each key's last
    * seen value onto a provided date spine — the inverse of quantization,
    * used by the property tests (SURVEY.md §5.2.3).
    */
  def forwardFill(changes: DataFrame, spine: DataFrame): DataFrame =
    forwardFillBy(changes, spine, Schemas.Cve, Schemas.Date,
      Seq(Schemas.Epss, Schemas.Percentile))

  /** Generic forward-fill core: left-join the sparse table onto the spine
    * and carry each key's last seen value forward in `orderCol` order
    * (`last(_, ignoreNulls)` over an unbounded-preceding row frame — one
    * window, one exchange on the key). Rows before a key's first sparse
    * value (still null after the fill) are dropped.
    */
  def forwardFillBy(sparse: DataFrame, spine: DataFrame, keyCol: String,
                    orderCol: String, valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(spine.join(sparse, Seq(orderCol, keyCol), "left")) {
      (acc, v) => acc.withColumn(v, last(v, ignoreNulls = true).over(w))
    }.filter(col(valueCols.head).isNotNull)
  }
}
