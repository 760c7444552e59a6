package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Driver-side concurrency for INDEPENDENT Spark actions (optimization
  * guide §2.6: Spark's scheduler runs several jobs at once inside one
  * application; actions are only sequential because driver code calls
  * them sequentially). Used where a verb or query performs several
  * actions with no data dependency — the relation writes of an index
  * save, the dense and sparse arms of a hybrid build — so the next
  * action's tasks back-fill executors freed by the current action's
  * tail instead of idling behind a sequential driver loop.
  *
  * Determinism: concurrency here NEVER reorders data — each action is
  * the same job it was sequentially, writing to its own directory or
  * collecting its own bounded result; only the wall-clock overlap
  * changes. Failures propagate: the first failed action's exception is
  * rethrown (after all actions settle, so no write is left mid-flight
  * in a half-started sibling).
  *
  * The pool is per-call and bounded by the task count (these are
  * driver-blocking actions, a handful per call site — never data-sized),
  * so a long-lived session accumulates no threads.
  */
private[graft] object Par {

  /** Run the actions concurrently; block until ALL settle; rethrow the
    * first failure.
    */
  def run(tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_()); return }
    val pool = Executors.newFixedThreadPool(tasks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = tasks.map(t => Future(t()))
      // settle everything before rethrowing, so a failure in one write
      // never races a sibling still holding file handles
      val settled = futs.map(f => Await.ready(f, Duration.Inf))
      settled.foreach(_.value.get.get)
    } finally pool.shutdown()
  }

  /** Evaluate two independent driver-side computations concurrently.
    * Mirrors [[run]]'s settle-before-rethrow guarantee: if `a` fails
    * while `b` (often a full index build+save) is still running on the
    * pool thread, `b` is awaited to completion BEFORE the failure
    * surfaces — no write is left mid-flight in a half-started sibling.
    */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fb = Future(b)
      val ra = scala.util.Try(a)
      Await.ready(fb, Duration.Inf)
      (ra.get, fb.value.get.get)
    } finally pool.shutdown()
  }
}
