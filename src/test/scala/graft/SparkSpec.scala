package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = Session(4, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` submits from this thread, each as
    * `job <id>: <stage names>` (a stage is named for its action's call
    * site, e.g. `collect at Similarity.scala:123`). Listeners hear job
    * starts asynchronously, in order, so a sentinel job run after `body`
    * marks the end: once the listener has seen it, it has seen every
    * earlier job.
    */
  protected def jobsRunBy(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[String]
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          val desc = e.properties.getProperty("spark.job.description")
          if (desc == "sentinel") sentinelSeen.countDown()
          else jobs.add(s"job ${e.jobId}: ${e.stageInfos.map(_.name).distinct.mkString(", ")}")
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job probe")
      body
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "listener never saw the sentinel job")
      jobs.toArray(Array.empty[String]).toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The executed physical plan of every action `body` runs in this
    * session (collects, writes, eager `localCheckpoint`s), in order.
    * Listeners hear them asynchronously, in order, so a sentinel action
    * run after `body` marks the end, as in [[jobsRunBy]].
    */
  protected def plansRunBy(body: => Unit): Seq[SparkPlan] = {
    val sentinel = s"plans_sentinel_${java.util.UUID.randomUUID.toString.replace('-', '_')}"
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val sentinelSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == sentinel)) sentinelSeen.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(sentinel).collect()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "listener never saw the sentinel action")
      plans.toArray(Array.empty[SparkPlan]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of an executed plan: through AQE's final plan and its
    * query stages, into subqueries and the plans of cached relations.
    */
  protected def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    p +: (inner ++ p.subqueries).flatMap(planNodes)
  }
}
