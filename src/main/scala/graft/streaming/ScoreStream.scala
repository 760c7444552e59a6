package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.engine.Score

/** The flagship as a stream: daily snapshot files landing in a directory
  * (the EPSS feed's append pattern) become a continuous change log.
  *
  * State = (last snapshot day, last epss) per CVE in the state store; each
  * micro-batch emits only rows whose epss differs from the carried value —
  * streaming quantization with batch-identical semantics (a CVE's first
  * sighting emits nothing, matching F5's null-drop).
  *
  * Ordering: rows are folded in date order WITHIN a batch, and rows at or
  * before the carried state date are DROPPED (late/backfilled files cannot
  * silently regress the state — batch parity holds only for in-order
  * arrival, the feed's append contract; re-run the batch flagship for
  * backfills).
  *
  * Scale: state is hash-distributed by key across executors (~300k keys ×
  * 16 bytes — trivial); each micro-batch shuffles only its own snapshot.
  */
object ScoreStream {

  /** Per-batch events may contain several dates; fold them in date order. */
  def changedScoresStream(snapshots: Dataset[Score]): Dataset[Score] = {
    val spark = snapshots.sparkSession
    import spark.implicits._
    snapshots.groupByKey(_.cve)
      .flatMapGroupsWithState[(Long, Double), Score](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (cve: String, rows: Iterator[Score], state: GroupState[(Long, Double)]) =>
          val ordered = rows.toSeq.sortBy(_.date.getTime)
          val out = scala.collection.mutable.ArrayBuffer.empty[Score]
          var prev: Option[(Long, Double)] = state.getOption
          ordered.foreach { r =>
            val day = r.date.getTime
            // guard: ignore late arrivals at or before the carried day
            if (!prev.exists(_._1 >= day)) {
              if (prev.exists(_._2 != r.epss)) out += r
              prev = Some((day, r.epss))
            }
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Sink a score stream into the date-partitioned store via foreachBatch.
    * A snapshot date may SPAN micro-batches (backfill corrections, a
    * backlog split by maxFilesPerTrigger), so each batch first merges with
    * the rows already stored for its dates — batch rows win on (date, cve),
    * existing rows survive otherwise — then rewrites those partitions with
    * dynamic overwrite. Replays of a failed batch converge to the same
    * partition contents: idempotent at the (date, cve) grain on top of the
    * at-least-once stream, without the naive overwrite's silent loss of a
    * date's earlier batches.
    */
  def appendToStore(scores: Dataset[Score], root: String,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    scores.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Score], _: Long) =>
        import org.apache.spark.sql.functions.{col, max, min}
        val b = batch.toDF()
        val span = b.agg(min(col("date")), max(col("date"))).head()
        val merged = if (span.isNullAt(0)) b else {
          // only the stored days the batch touches: ScoreStore.read scans
          // the [batch min, batch max] date= dirs with the fixed schema
          val existing = graft.sources.ScoreStore.read(batch.sparkSession, root,
              span.getDate(0).toLocalDate, span.getDate(1).toLocalDate)
            .join(b.select("date").distinct(), Seq("date"), "left_semi")
            .join(b.select("date", "cve"), Seq("date", "cve"), "left_anti")
          b.unionByName(existing)
        }
        graft.sources.ScoreStore.write(merged, root)
      }
      .start()

  /** File-source wiring: watch a directory of score parquet. */
  def fromDirectory(spark: SparkSession, dir: String): Dataset[Score] = {
    import spark.implicits._
    spark.readStream
      .schema(graft.engine.Schemas.scoreSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[Score]
  }
}
