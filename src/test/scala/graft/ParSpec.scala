package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** The one overlap primitive: branches really overlap, see the
  * caller's Spark thread state at CALL time (not whatever their pool
  * thread inherited when it was created), and a failure is rethrown
  * only after every branch has finished.
  */
class ParSpec extends SparkSpec {

  private val probe = "graft.par.probe"

  test("branches run concurrently and return in argument order") {
    val session = spark // Par captures the caller's session: create it
    val started = new CountDownLatch(3)
    def branch(n: Int): Long = {
      started.countDown()
      assert(started.await(30, TimeUnit.SECONDS), "branches did not overlap")
      session.range(n).count()
    }
    assert(Par.concurrently3(branch(1), branch(2), branch(3)) ===
      ((1L, 2L, 3L)))
  }

  test("a branch sees the caller's local properties and session, even " +
    "on a pool thread created under a different value") {
    val sc = spark.sparkContext
    // three branches held open together occupy three pool threads
    def observe(): Seq[(Thread, String, String, Boolean)] = {
      val started = new CountDownLatch(3)
      def branch() = {
        started.countDown()
        started.await(30, TimeUnit.SECONDS)
        (Thread.currentThread(), sc.getLocalProperty(probe),
          sc.getLocalProperty("spark.jobGroup.id"),
          org.apache.spark.sql.SparkSession.getActiveSession
            .exists(_ eq spark))
      }
      val (a, b, c) = Par.concurrently3(branch(), branch(), branch())
      Seq(a, b, c)
    }
    try {
      sc.setLocalProperty(probe, "first")
      sc.setJobGroup("par-first", "first call")
      val first = observe()
      sc.setLocalProperty(probe, "second")
      sc.setJobGroup("par-second", "second call")
      val second = observe()
      assert(first.map(_._2).distinct === Seq("first"))
      assert(first.map(_._3).distinct === Seq("par-first"))
      assert(second.map(_._2).distinct === Seq("second"))
      assert(second.map(_._3).distinct === Seq("par-second"))
      assert((first ++ second).forall(_._4), "active session not carried")
      // the stale case is exercised: some thread ran under "first" and
      // was reused for the "second" call
      assert(first.map(_._1).toSet.intersect(second.map(_._1).toSet)
        .nonEmpty, "no pool thread was reused across the two calls")
    } finally {
      sc.setLocalProperty(probe, null)
      sc.clearJobGroup()
    }
  }

  test("a failing branch is rethrown unwrapped only after every branch " +
    "has finished") {
    val bDone, cDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.concurrently3(
        throw new IllegalStateException("a failed"),
        { Thread.sleep(300); bDone.set(true) },
        { Thread.sleep(500); cDone.set(true) })
    }
    assert(e.getMessage === "a failed")
    assert(bDone.get && cDone.get,
      "the failure was rethrown while a branch was still running")
    val dDone = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      Par.concurrently(throw new IllegalStateException("a failed"),
        { Thread.sleep(300); dDone.set(true) })
    }
    assert(dDone.get, "the two-branch form left its second branch running")
  }

  test("several failures: the first in argument order is rethrown") {
    val e = intercept[IllegalArgumentException] {
      Par.concurrently3((),
        { Thread.sleep(200); throw new IllegalArgumentException("b") },
        throw new IllegalArgumentException("c"))
    }
    assert(e.getMessage === "b")
  }
}
