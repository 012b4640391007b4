package graft

import java.nio.file.Files

import graft.streaming.HeliumStreamFollower

/** The follower's cursor (T1-T3) from a never-run start, and its pure
  * policies without a stream: T4 retry-then-skip, the T6
  * inventory-refresh trigger and the T7 retention drop.
  */
class FollowerSpec extends SparkSpec {

  test("cursor starts at -1, advances per batch, drains to tip") {
    // -1 = never run: backfill from the chain start. The stub node has
    // no block below 100, so the first two epochs commit empty
    // partitions and the third carries every fixture block.
    StubNode.withServer() { endpoint =>
      val dir = Files.createTempDirectory("follower").toString
      def start() = HeliumStreamFollower.start(spark, endpoint,
        s"$dir/sink", s"$dir/ckpt", startHeight = -1L,
        maxHeightsPerTrigger = 50L, numPartitions = 2, maxRetries = 0,
        sleepMs = 0L)
      val q = start()
      try q.processAllAvailable() finally q.stop()
      // one partition per epoch, named by its offset end: (-1, 49],
      // (49, 99], (99, 102]
      def epochEnds() = FixtureReference.partitions(s"$dir/sink/payments")
        .map(_.stripPrefix("batch=").toLong).sorted
      assert(epochEnds() === Seq(49L, 99L, 102L))
      val payments = FixtureReference.committed(spark, s"$dir/sink",
        "payments")
      assert(payments.size === 5) // every payment edge exactly once
      // a full second run from the same checkpoint is a no-op end to end
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      assert(q2.recentProgress.forall(_.numInputRows == 0))
      assert(epochEnds() === Seq(49L, 99L, 102L))
      assert(FixtureReference.committed(spark, s"$dir/sink", "payments")
        === payments)
    }
  }

  test("T4: bounded retry succeeds late, then skips on exhaustion") {
    import graft.sources.RetryPolicy.withRetries
    var slept = 0L
    val sleeper = (ms: Long) => slept += ms
    // succeeds on the 3rd attempt (2 retries)
    var calls = 0
    val (got, tries) = withRetries(maxRetries = 50, sleepMs = 10, sleeper) {
      () => { calls += 1; if (calls >= 3) Some("block") else None }
    }
    assert(got === Some("block") && tries === 3 && slept === 20L)
    // exhausts and skips (reference: cursor advances anyway)
    val (none, used) = withRetries(maxRetries = 5, sleepMs = 10, sleeper) {
      () => None
    }
    assert(none.isEmpty && used === 6)
  }

  test("T6: inventory refresh triggers on cursor lag; missing bootstrap refreshes") {
    import HeliumStreamFollower.shouldRefreshInventory
    assert(!shouldRefreshInventory(1000L, Some(800L)))  // lag 200 <= 500
    assert(shouldRefreshInventory(1501L, Some(1000L)))  // lag 501 > 500
    assert(shouldRefreshInventory(0L, None))            // no bootstrap
  }

  test("retention drops whole expired batch partitions") {
    val dir = Files.createTempDirectory("retention").toString
    for (b <- Seq(299L, 599L, 899L, 1199L))
      spark.range(b - 299, b + 1).write.parquet(s"$dir/batch=$b")
    def sink() = spark.read.parquet(dir)
    assert(sink().select("batch").distinct().count() === 4)
    val dropped = HeliumStreamFollower.dropExpiredBatches(dir, 600L)
    assert(dropped === Seq(299L, 599L))
    assert(sink().select("batch").distinct().count() === 2)
    assert(sink().filter("batch < 600").count() === 0)
    assert(sink().count() === 600L) // the kept batches whole
  }
}
