package graft

import java.util.concurrent.{CompletableFuture, CompletionException,
  ExecutionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Driver-thread overlap for INDEPENDENT eager work (guide §2.6
  * "overlap independent jobs"): Spark happily runs several jobs at
  * once inside one application — actions are only sequential because
  * driver code calls them sequentially. Used where two or three build
  * chains share nothing but already-pinned inputs (a recall dial's
  * truth pass beside its chain build; a funnel's per-arm closures) and
  * by the stream follower's three per-epoch collection commits, so the
  * scheduler back-fills one stream's task tail (or driver-side gap)
  * with another's tasks. Purely a scheduling overlap: each branch is
  * deterministic on its own and none reads anything another writes,
  * so evaluation order cannot change any row.
  *
  * What a branch inherits: every branch runs on one shared daemon
  * pool through Spark's `SQLExecution.withThreadLocalCaptured`, which
  * hands it the CALLER's Spark local properties (job group, job
  * description, SQL execution id, scheduler pool), active session and
  * artifact state at call time. Pool threads are reused, and Spark's
  * local properties are inheritable thread-locals copied when a thread
  * is CREATED — a plain pool (or the ForkJoin common pool) would run a
  * branch under whatever its thread inherited back then. Capturing per
  * call is what keeps a follower epoch's jobs in its query's job group,
  * so `StreamingQuery.stop()` cancels them like any other epoch job,
  * and nests a branch's SQL executions under the caller's.
  *
  * Failure: the caller waits for EVERY branch to finish — a failed
  * branch never leaves a sibling still writing behind the caller — and
  * then rethrows the first failure in argument order, unwrapped. The
  * wait is uninterruptible (an interrupt is kept and re-asserted once
  * every branch is done): a stream stop interrupts the caller and
  * cancels the branches' jobs through their job group, so the branches
  * end promptly and the caller still never returns ahead of them.
  */
private[graft] object Par {
  // unbounded cached pool: branch width is at most three per call, and
  // a branch may itself fork (nested calls never wait on a busy pool)
  private val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool { r =>
      val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  private def fork[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark, pool)(body)

  /** Block until every branch is done (`join` waits uninterruptibly and
    * re-asserts a pending interrupt on return).
    */
  private def settle(fs: CompletableFuture[_]*): Unit =
    try CompletableFuture.allOf(fs: _*).join()
    catch { case _: CompletionException => () }

  private def result[T](f: CompletableFuture[T]): T =
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }

  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val spark = SparkSession.active
    val (fa, fb) = (fork(spark)(a), fork(spark)(b))
    settle(fa, fb)
    (result(fa), result(fb))
  }

  def concurrently3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val spark = SparkSession.active
    val (fa, fb, fc) = (fork(spark)(a), fork(spark)(b), fork(spark)(c))
    settle(fa, fb, fc)
    (result(fa), result(fb), result(fc))
  }
}
