package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Op bookkeeping for the timed loops, plus (when enabled) the per-layer
  * trace: a SparkListener and a QueryExecutionListener record jobs,
  * stages, tasks and query executions; a sampler records which graft
  * method the op thread is in; spans recorded around the benchmark's own
  * calls into each layer. Spans of one op share its id (the local
  * property [[OpKey]], which Spark copies onto every job the op submits,
  * also from `Par` threads and broadcast threads). Everything is kept in
  * memory and aggregated once the session has stopped, which drains the
  * listener bus.
  */
final class Trace(spark: SparkSession, val enabled: Boolean, cores: Int) {
  import Trace._

  final case class Span(name: String, parent: Int, startNs: Long, var endNs: Long = 0L)
  final class Op(val id: Int, val kind: String, val attrs: Map[String, String],
                 val traced: Boolean, val startNs: Long, val startMs: Long) {
    var endNs = 0L
    var endMs = 0L
    var ok = true
    val spans = mutable.ArrayBuffer.empty[Span]
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val samples = mutable.HashMap.empty[String, Long] // graft method -> sampled ns
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  val ops = mutable.ArrayBuffer.empty[Op]
  @volatile private var current: Op = _
  private var openSpan = -1

  // ---- raw events (written by the listener bus thread)
  private final case class JobRec(id: Int, op: Int, startMs: Long, execId: Option[Long],
                                  resultStage: Int, stages: Seq[Int], callShort: String,
                                  callLong: String)
  private final case class StageRec(id: Int, numTasks: Int)
  private final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                                   shWrite: Long, shRead: Long, spill: Long)
  private final case class ExecRec(id: Long, startMs: Long, details: String)
  private final case class QeRec(atMs: Long, func: String, phases: Map[String, Long],
                                 exchanges: Int, sorts: Int, scanRows: Long, scanBytes: Long,
                                 files: Long, partitions: Long, sinkScanRows: Long,
                                 writtenFiles: Long, writtenBytes: Long)

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val execEnds = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()

  private val opThread = Thread.currentThread()

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt).getOrElse(-1)
        if (op >= 0) {
          val result = e.stageInfos.maxBy(_.stageId)
          jobs.add(JobRec(e.jobId, op, e.time,
            p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
            result.stageId, e.stageIds, result.name, result.details))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(StageRec(e.stageInfo.stageId, e.stageInfo.numTasks))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.add(ExecRec(s.executionId, s.time, s.details))
        case s: SparkListenerSQLExecutionEnd => execEnds.put(s.executionId, s.time)
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
        qes.add(describe(func, qe))
      override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()
    })
    val sampler = new Thread(() => sample(), "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Run one op; returns its result and wall time in ms. A throw marks
    * the op failed (it is left out of the layer record) and propagates.
    */
  def op[T](kind: String, attrs: Map[String, String] = Map.empty, traced: Boolean = enabled)
           (body: => T): (T, Double) = {
    val o = new Op(ops.size, kind, attrs, traced && enabled, System.nanoTime(),
      System.currentTimeMillis())
    ops += o
    spark.sparkContext.setLocalProperty(OpKey, o.id.toString)
    current = o
    openSpan = -1
    try {
      val r = body
      (r, { close(o); o.wallMs })
    } catch {
      case t: Throwable => o.ok = false; close(o); throw t
    } finally {
      current = null
      spark.sparkContext.setLocalProperty(OpKey, null)
    }
  }

  private def close(o: Op): Unit = {
    o.endNs = System.nanoTime()
    o.endMs = System.currentTimeMillis()
  }

  /** A span around one call into a layer, inside the current op. */
  def span[T](name: String)(body: => T): T = {
    val o = current
    if (o == null || !o.traced) return body
    val s = Span(name, openSpan, System.nanoTime())
    o.spans += s
    val saved = openSpan
    openSpan = o.spans.size - 1
    try body finally { s.endNs = System.nanoTime(); openSpan = saved }
  }

  /** A count recorded at a layer boundary of the current (or given) op. */
  def count(name: String, v: Double, o: Op = current): Unit =
    if (o != null && o.traced) o.counters(name) = o.counters.getOrElse(name, 0.0) + v

  def last: Op = ops.last

  private def sample(): Unit = {
    var prev = System.nanoTime()
    while (true) {
      Thread.sleep(SampleMs)
      val now = System.nanoTime()
      val o = current
      if (o != null && o.traced) {
        val seen = mutable.HashSet.empty[String]
        opThread.getStackTrace.foreach { f =>
          if (f.getClassName.startsWith("graft.") && !f.getMethodName.startsWith("$")) {
            val k = f.getClassName.split('.').last.stripSuffix("$") + "." + f.getMethodName
            if (seen.add(k)) o.samples.synchronized {
              o.samples(k) = o.samples.getOrElse(k, 0L) + (now - prev)
            }
          }
        }
      }
      prev = now
    }
  }

  private def describe(func: String, qe: QueryExecution): QeRec = {
    val plan = qe.executedPlan
    val nodes = Walk.collectWithSubqueries(plan) { case p => p }
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = nodes.filter(_.nodeName.startsWith("Scan"))
    val writes = nodes.collect { case w: DataWritingCommandExec => w }
    val sinkQuery = writes.nonEmpty || Set("collect", "head", "collectAsList")(func)
    val rows = scans.map(metric(_, "numOutputRows")).sum
    val phases = qe.tracker.phases
    QeRec(if (phases.isEmpty) -1L else phases.values.map(_.endTimeMs).max, func,
      phases.map { case (k, v) => k -> v.durationMs },
      nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      nodes.count(_.isInstanceOf[SortExec]),
      rows, scans.map(metric(_, "filesSize")).sum, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numPartitions")).sum,
      if (sinkQuery) rows else 0L,
      writes.map(w => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      writes.map(w => w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)).sum)
  }

  // ------------------------------------------------------------ aggregation

  /** Per-op layer record; call after the session has stopped. */
  def records(): Seq[(Op, Map[String, Double], Map[String, Any])] = {
    val stageTasks = stages.asScala.map(s => s.id -> s.numTasks).toMap
    val taskByStage = tasks.asScala.groupBy(_.stage)
    val jobsByOp = jobs.asScala.toSeq.groupBy(_.op)
    val execOp: Map[Long, Int] = jobs.asScala.flatMap(j => j.execId.map(_ -> j.op)).toMap
    // a query execution that ran no job, and a planned query (whose
    // phases end before it executes), are placed by time
    def opAt(ms: Long): Option[Int] =
      ops.find(o => o.startMs <= ms && ms <= math.max(o.endMs, o.startMs)).map(_.id)
    val execById = execs.asScala.map(e => e.id -> e).toMap
    val qesByOp = qes.asScala.toSeq.flatMap(q => opAt(q.atMs).map(_ -> q))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val execsByOp = execs.asScala.toSeq.flatMap(e => execOp.get(e.id).orElse(opAt(e.startMs)).map(_ -> e))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

    ops.toSeq.filter(o => o.traced && o.ok).map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil).sortBy(_.id)
      val qs = qesByOp.getOrElse(o.id, Nil)
      val m = mutable.LinkedHashMap.empty[String, Double]
      def put(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
      // jobs AQE submits from Spark's own threads carry no user frame:
      // they take the call site of the query execution they belong to
      val callOf: JobRec => String = j =>
        if (j.callLong.contains("graft.") || j.callLong.contains("perfbench.")) j.callLong
        else j.execId.flatMap(execById.get).map(_.details).getOrElse(j.callLong)
      val layerOf: JobRec => String = j => layer(callOf(j), spanLayer(o, j.startMs))
      val intervals = js.map(j => (j.startMs, Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)))
      val busy = unionMs(intervals)
      val wall = o.wallMs
      val stageIds = js.flatMap(_.stages).distinct
      val ts = stageIds.flatMap(s => taskByStage.getOrElse(s, Nil))
      put("spark.jobs", js.size)
      put("spark.stages", stageIds.count(stageTasks.contains))
      put("spark.tasks", ts.size)
      put("spark.driver_gap_ms", math.max(0.0, wall - busy))
      put("spark.task_run_ms", ts.map(_.runMs).sum)
      put("spark.task_cpu_ms", ts.map(_.cpuNs).sum / 1e6)
      put("spark.gc_ms", ts.map(_.gcMs).sum)
      put("spark.core_busy_ratio", ts.map(_.runMs).sum / (wall * cores))
      put("engine.shuffle_write_bytes", ts.map(_.shWrite).sum)
      put("engine.shuffle_read_bytes", ts.map(_.shRead).sum)
      put("engine.spill_bytes", ts.map(_.spill).sum)
      Seq("sources", "engine", "operators").foreach { l =>
        val mine = js.filter(j => layerOf(j) == l)
        put(s"$l.jobs", mine.size)
        put(s"$l.job_ms",
          mine.map(j => Option(jobEnds.get(j.id)).map(_.longValue - j.startMs).getOrElse(0L)).sum)
      }
      put("operators.par_overlap_ms", math.max(0.0, intervals.map(i => i._2 - i._1).sum - busy))
      put("operators.barrier_jobs", js.count(j => layerOf(j) == "operators" &&
        BarrierCalls.exists(c => j.callShort.startsWith(c + " at "))))
      Seq("analysis", "optimization", "planning").foreach { ph =>
        put(s"catalyst.${ph}_ms", qs.map(_.phases.getOrElse(ph, 0L)).sum)
      }
      put("engine.exchanges", qs.map(_.exchanges).sum)
      put("engine.sorts", qs.map(_.sorts).sum)
      put("sources.scan_bytes", qs.map(_.scanBytes).sum)
      put("sources.files_read", qs.map(_.files).sum)
      put("sources.partitions_read", qs.map(_.partitions).sum)
      val scanRows = qs.map(_.scanRows).sum
      val sinkRows = qs.map(_.sinkScanRows).sum
      o.counters.get("rows_returned").foreach { r =>
        put("sources.rows_examined_per_row_returned", scanRows / math.max(r, 1.0))
        if (sinkRows > 0) put("engine.changed_ratio", r / sinkRows)
      }
      val smp = o.samples.synchronized(o.samples.toMap).map { case (k, v) => k -> v / 1e6 }
      def sampled(keys: String*): Double = keys.map(k => smp.getOrElse(k, 0.0)).sum
      put("sources.max_date_ms", sampled("ScoreStore.maxDate"))
      put("sources.scan_metadata_ms", sampled("ScoreStore.read"))
      o.attrs.get("format").foreach { f =>
        put(s"engine.sink_ms.$f", sampled("Outputs.write", "Outputs.writeJsonArray",
          "Outputs.writeExcel"))
        // the sink's last job is its write (or driver collect) stage
        put("engine.sink_tasks", js.filter(j => callOf(j).contains("graft.engine.Outputs"))
          .lastOption.map(j => stageTasks.getOrElse(j.resultStage, 0)).getOrElse(0).toDouble)
      }
      if (o.kind == "download" && !o.attrs.contains("repeat")) {
        put("sources.ingest_ms", sampled("ScoreStore.ingestMany"))
        put("sources.ingest_bytes_written", qs.map(_.writtenBytes).sum)
        put("sources.ingest_files_written", qs.map(_.writtenFiles).sum)
      }
      o.spans.groupBy(_.name).foreach { case (n, ss) =>
        put(n, ss.map(s => (s.endNs - s.startNs) / 1e6).sum)
      }
      o.counters.foreach { case (k, v) => if (k != "rows_returned") put(k, v) }

      val record = Map[String, Any](
        "op" -> o.id, "kind" -> o.kind, "attrs" -> o.attrs, "wall_ms" -> wall,
        "spans" -> o.spans.zipWithIndex.map { case (s, i) =>
          Map("id" -> i, "name" -> s.name, "parent" -> s.parent,
            "start_ms" -> (s.startNs - o.startNs) / 1e6, "end_ms" -> (s.endNs - o.startNs) / 1e6)
        },
        "actions" -> execsByOp.getOrElse(o.id, Nil).sortBy(_.id).map { e =>
          Map("execution_id" -> e.id, "start_ms" -> (e.startMs - o.startMs),
            "end_ms" -> Option(execEnds.get(e.id)).map(_.longValue - o.startMs),
            "call_site" -> firstFrame(e.details))
        },
        "queries" -> qs.map { q =>
          Map("func" -> q.func, "planned_at_ms" -> (q.atMs - o.startMs), "phases_ms" -> q.phases,
            "exchanges" -> q.exchanges, "sorts" -> q.sorts, "scan_rows" -> q.scanRows,
            "files_read" -> q.files, "partitions_read" -> q.partitions)
        },
        "jobs" -> js.map { j =>
          Map("job_id" -> j.id, "execution_id" -> j.execId, "layer" -> layerOf(j),
            "call_site" -> (if (callOf(j) eq j.callLong) j.callShort else firstFrame(callOf(j))),
            "start_ms" -> (j.startMs - o.startMs),
            "end_ms" -> Option(jobEnds.get(j.id)).map(_.longValue - o.startMs),
            "stages" -> j.stages.filter(stageTasks.contains).map { s =>
              val t = taskByStage.getOrElse(s, Nil)
              Map("stage_id" -> s, "tasks" -> stageTasks(s), "run_ms" -> t.map(_.runMs).sum,
                "shuffle_write_bytes" -> t.map(_.shWrite).sum,
                "shuffle_read_bytes" -> t.map(_.shRead).sum)
            })
        },
        "sampled_ms" -> smp,
        "counters" -> m)
      (o, m.toMap, record)
    }
  }

  private def spanLayer(o: Op, atMs: Long): String = {
    val at = o.startNs + (atMs - o.startMs) * 1000000L
    o.spans.filter(s => s.startNs <= at && (s.endNs == 0L || at <= s.endNs))
      .lastOption.map(_.name.takeWhile(_ != '.')).getOrElse("bench")
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val SampleMs = 5L
  val BarrierCalls = Seq("localCheckpoint", "checkpoint", "collect", "collectAsList", "head",
    "take", "first", "count", "toLocalIterator")

  private object Walk extends AdaptiveSparkPlanHelper

  /** Layer of a job from its call site: the first graft frame names the
    * module; jobs the benchmark's own files submit take the layer of the
    * span they ran in; jobs with no user frame are Spark's own.
    */
  def layer(callLong: String, bench: => String): String = {
    val frames = callLong.split('\n').map(_.trim)
    frames.find(_.startsWith("graft.")) match {
      case Some(f) =>
        val cls = f.takeWhile(_ != '(')
        if (cls.startsWith("graft.sources.ScoreStore")) "sources"
        else if (cls.startsWith("graft.operators.") || cls.startsWith("graft.functions.")) "operators"
        else "engine" // engine/, EpssCli and the sinks behind it (Outputs, IO)
      case None =>
        if (frames.exists(_.startsWith("perfbench."))) bench else "spark"
    }
  }

  def firstFrame(details: String): String =
    details.split('\n').map(_.trim).find(f => f.startsWith("graft.") || f.startsWith("perfbench."))
      .getOrElse(details.split('\n').headOption.getOrElse(""))

  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total.toDouble
  }
}
