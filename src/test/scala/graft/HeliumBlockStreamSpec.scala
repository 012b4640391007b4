package graft

import java.nio.file.Files

import graft.FixtureReference._
import graft.sources.HeliumBlockStreamProvider
import graft.streaming.HeliumStreamFollower

/** The DataSource V2 micro-batch face of the S1-S3 seam, driven by
  * Spark's own streaming engine against the stub node: offsets are
  * block heights in the engine WAL, fetches run executor-side, and the
  * rows must be EXACTLY the fixture envelopes of the same cursor range
  * ([[FixtureReference]]), payloads compared through the rows derived
  * from them.
  */
class HeliumBlockStreamSpec extends SparkSpec {

  /** The streamed envelopes equal the fixture envelopes of (99, 102]:
    * the same txns (the block listing dedups the duplicate tx1 row) and
    * the same payload-derived edges.
    */
  private def assertFixtureEnvelopes(
      streamed: org.apache.spark.sql.DataFrame): Unit = {
    val expected = envelopes(spark, 99L, 102L).distinct()
    assert(streamed.count() === expected.count())
    assert(envelopeMeta(streamed) === envelopeMeta(expected))
    assert(derived(streamed) === derived(expected))
    assert(derived(streamed).size === 8) // 5 payment + 3 receipt edges
  }

  test("streams the block range in capped micro-batches, " +
    "row-parity with the batch source") {
    StubNode.withServer() { endpoint =>
      val ckpt = Files.createTempDirectory("hbs-ckpt").toString
      val q = spark.readStream
        .format(classOf[HeliumBlockStreamProvider].getName)
        .option("endpoint", endpoint)
        .option("startHeight", "99") // exclusive cursor seed
        .option("maxHeightsPerTrigger", "1")
        .option("numPartitions", "2")
        .option("maxRetries", "2").option("sleepMs", "0")
        .load()
        .writeStream.format("memory").queryName("helium_blocks_stream")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // parity: the fixture envelopes of the same (99, 102] range
        val streamed = spark.sql("SELECT * FROM helium_blocks_stream")
        assertFixtureEnvelopes(streamed)
        // the 1-height cap forced one micro-batch per block: 3 batches
        // moved data for heights 100..102
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        assert(dataBatches === 3,
          s"expected 3 capped batches, saw $dataBatches")
        // tip reached: another poll plans no work
        val total = streamed.count()
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM helium_blocks_stream").count()
          === total)
      } finally q.stop()
    }
  }

  test("capstone: engine-driven stream → transforms → sink equals the " +
    "fixture reference, across a mid-backfill kill and WAL restart") {
    val dir = Files.createTempDirectory("hsf").toString
    def start(endpoint: String) = HeliumStreamFollower.start(spark,
      endpoint, s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
      maxHeightsPerTrigger = 1L, numPartitions = 2,
      maxRetries = 2, sleepMs = 0L)
    // run 1 against a node whose tip is still 100: the stream drains
    // exactly that height, idles, and is killed mid-backfill — the
    // WAL has committed offset 100 with heights 101..102 outstanding.
    StubNode.withServer(tipCap = 100L) { endpoint =>
      val q1 = start(endpoint)
      try q1.processAllAvailable() finally q1.stop()
    }
    val partialPayments =
      spark.read.parquet(s"$dir/sink/payments").count()
    StubNode.withServer() { endpoint =>
      // run 2: restart from the SAME checkpoint against the advanced
      // tip — must resume at the recovered offset (not the
      // startHeight seed) and drain the rest
      val q2 = start(endpoint)
      try q2.processAllAvailable() finally q2.stop()
    }
    val env = envelopes(spark, 99L, 102L)
    for (c <- Seq("payments", "poc_receipts")) {
      assert(committed(spark, s"$dir/sink", c) === rows(collection(env, c)),
        s"collection $c differs from the fixture reference")
      assert(committed(spark, s"$dir/sink", c).nonEmpty, s"collection $c empty")
    }
    // accounts: the A3 collapse-at-read distinct view
    val accounts = accountKeys(spark.read.parquet(s"$dir/sink/accounts"))
    assert(accounts === accountKeys(collection(env, "accounts")))
    assert(accounts === Set("alice", "bob", "carol", "dave"))
    // the kill really was mid-backfill: run 1 committed strictly fewer
    // payment edges than the finished stream
    assert(partialPayments <
      committed(spark, s"$dir/sink", "payments").size.toLong,
      "run 1 unexpectedly drained the whole backlog")
  }

  test("capstone wire sink: engine-driven importBulk POSTs carry the " +
    "same documents as the driver loop's") {
    import scala.jdk.CollectionConverters._
    // the driver loop committed 2-height batches; a stream capped at 2
    // heights per epoch replays that batch schedule, the 1-height
    // stream a different one. Document-set parity (insert-ignore's
    // collapse unit) is the invariant across epoch boundaries, not
    // body-level bytes.
    def posts(cap: Long): Seq[(String, String)] =
      StubNode.withServerImports() { (endpoint, imports) =>
        val dir = Files.createTempDirectory("hsf-wire").toString
        val q = HeliumStreamFollower.start(spark, endpoint,
          s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
          maxHeightsPerTrigger = cap, numPartitions = 2,
          maxRetries = 2, sleepMs = 0L,
          importTarget = Some(
            graft.sinks.GraphSink.ImportTarget(endpoint, "helium")))
        try q.processAllAvailable() finally q.stop()
        imports.asScala.toSeq
      }
    def collect(posted: Seq[(String, String)], c: String): Set[String] = {
      posted.foreach { case (path, _) =>
        assert(path.contains("&type=list&onDuplicate=ignore"))
      }
      importDocs(posted.collect {
        case (p, b) if p.contains(s"collection=$c&") => b
      })
    }
    val streamPosts = posts(1L)
    val loopPosts = posts(2L)
    val env = envelopes(spark, 99L, 102L)
    for (c <- Seq("payments", "poc_receipts", "accounts")) {
      val s = collect(streamPosts, c)
      assert(s === collect(loopPosts, c),
        s"wire documents for $c diverged from the driver loop's batches")
      assert(s === importDocs(graft.sinks.GraphSink.importBulkBodies(
        collection(env, c)).collect().toSeq),
        s"wire documents for $c differ from the fixture reference")
      assert(s.nonEmpty, s"no documents posted for $c")
    }
  }

  test("capstone housekeeping: retention drop and inventory refresh " +
    "fire per epoch, matching the driver loop") {
    // 1-height epochs (the driver loop's per-height batching), keep 1
    // block of receipts, a stale inventory (height 0) against a tiny
    // lag so the refresh trigger must fire at every epoch
    StubNode.withServer() { endpoint =>
      val dir = Files.createTempDirectory("hsf-keep").toString
      val refreshes = new java.util.concurrent.atomic.AtomicInteger
      val q = HeliumStreamFollower.start(spark, endpoint,
        s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
        maxHeightsPerTrigger = 1L, numPartitions = 2,
        maxRetries = 2, sleepMs = 0L,
        receiptRetentionBlocks = Some(1L),
        inventoryHeight = () => Some(0L),
        onInventoryRefresh = () => { refreshes.incrementAndGet(); () },
        inventoryLag = 1L)
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      // the driver loop's outcome: after the last epoch (cursor 102)
      // the cutoff 101 has dropped batch=100 and kept the rest
      assert(partitions(s"$dir/sink/poc_receipts") ===
        Seq("batch=101", "batch=102"))
      assert(committed(spark, s"$dir/sink", "poc_receipts") ===
        rows(collection(envelopes(spark, 100L, 102L), "poc_receipts")))
      assert(refreshes.get() === 3,
        "inventory refresh trigger did not fire once per epoch")
    }
  }

  test("concurrent collection legs: every epoch job carries the query's " +
    "job group, and each block and transaction is fetched once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val heights = 100L to 102L
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val listed = heights.map(h => mapper.readTree(
      graft.sources.HeliumFixtures.blockJsonByHeight(h))
      .get("transactions").size()).sum
    StubNode.withServerCalls() { (endpoint, calls) =>
      val dir = Files.createTempDirectory("hsf-legs").toString
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      val marker = "hsf-legs-drained"
      try {
        val q = HeliumStreamFollower.start(spark, endpoint,
          s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
          maxHeightsPerTrigger = 1L, numPartitions = 2,
          maxRetries = 2, sleepMs = 0L,
          importTarget = Some(
            graft.sinks.GraphSink.ImportTarget(endpoint, "helium")))
        val runId =
          try { q.processAllAvailable(); q.runId.toString }
          finally q.stop()
        assert(q.recentProgress.count(_.numInputRows > 0) === 3)
        // the listener bus delivers in order: once a marker job is
        // seen, every epoch job before it has been recorded
        sc.setJobGroup(marker, marker)
        try spark.range(1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30000000000L
        while (!groups.contains(marker) && System.nanoTime() < deadline)
          Thread.sleep(20)
        val epochJobs = groups.asScala.toSeq.takeWhile(_ != marker)
        assert(epochJobs.nonEmpty, "no epoch job recorded")
        assert(epochJobs.forall(_ == runId),
          s"epoch jobs outside the query's job group $runId: " +
            epochJobs.filterNot(_ == runId).distinct)
      } finally sc.removeSparkListener(listener)
      assert(calls.get("block_get") === heights.size.toLong)
      assert(calls.get("transaction_get") === listed.toLong)
    }
  }

  test("capstone kill/restart byte parity with the production " +
    "RocksDB conf set (this query keeps no streaming state — the " +
    "provider's stateful behavior is pinned in StreamingOpsSpec)") {
    // the production state-store config (Sessions.tuned
    // rocksdbStateStore = true), set per-query — the conf keys are
    // read at stream start, the StreamingOpsSpec discipline. The
    // follower's dropDuplicates runs batch-locally inside
    // foreachBatch, so no state store is instantiated here (ADVICE
    // r11): this pins that the production conf is HARMLESS to the
    // follower, not that RocksDB state works — StreamingOpsSpec's
    // flatMapGroupsWithState test owns that claim.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    spark.conf.set(changelogKey, "true")
    try {
      val dir = Files.createTempDirectory("hsf-rocks").toString
      def start(endpoint: String) = HeliumStreamFollower.start(spark,
        endpoint, s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
        maxHeightsPerTrigger = 1L, numPartitions = 2,
        maxRetries = 2, sleepMs = 0L)
      StubNode.withServer(tipCap = 100L) { endpoint =>
        val q1 = start(endpoint)
        try q1.processAllAvailable() finally q1.stop()
      }
      StubNode.withServer() { endpoint =>
        val q2 = start(endpoint)
        try q2.processAllAvailable() finally q2.stop()
      }
      val env = envelopes(spark, 99L, 102L)
      for (c <- Seq("payments", "poc_receipts")) {
        assert(committed(spark, s"$dir/sink", c) ===
          rows(collection(env, c)),
          s"collection $c diverged under RocksDB state store")
        assert(committed(spark, s"$dir/sink", c).nonEmpty,
          s"collection $c empty")
      }
    } finally {
      prior.fold(spark.conf.unset(providerKey))(
        spark.conf.set(providerKey, _))
      spark.conf.unset(changelogKey)
    }
  }

  test("empty-tail epoch: partition names, retention, and refresh " +
    "trigger follow the committed offset range") {
    // a tip block the node serves with ZERO transactions: the final
    // (101, 103] epoch carries data only from height 102, so a
    // data-max partition name would commit batch=102 and compute the
    // retention cutoff / refresh trigger one height short of the
    // committed offset 103
    val emptyTip = Map(103L ->
      ("""{"hash":"bh103","height":103,"prev_hash":"bh102",""" +
        """"time":1600000400,"transactions":[]}"""))
    StubNode.withServer(extraBlocks = emptyTip) { endpoint =>
      val dir = Files.createTempDirectory("hsf-tail").toString
      val refreshes = new java.util.concurrent.atomic.AtomicInteger
      val q = HeliumStreamFollower.start(spark, endpoint,
        s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
        maxHeightsPerTrigger = 2L, numPartitions = 2,
        maxRetries = 2, sleepMs = 0L,
        receiptRetentionBlocks = Some(1L),
        // fires only when the epoch end is past 102: 103 yes, 102 no
        inventoryHeight = () => Some(102L),
        onInventoryRefresh = () => { refreshes.incrementAndGet(); () },
        inventoryLag = 0L)
      try q.processAllAvailable() finally q.stop()
      // the final epoch's partition is batch=103 (the committed offset
      // end), not the data max 102
      assert(partitions(s"$dir/sink/payments") ===
        Seq("batch=101", "batch=103"))
      // retention cutoff 103 - 1 = 102 dropped the receipts of batch=101
      assert(partitions(s"$dir/sink/poc_receipts") === Seq("batch=103"))
      assert(refreshes.get() === 1, "refresh trigger missed epoch end 103")
      assert(committed(spark, s"$dir/sink", "payments") ===
        rows(collection(envelopes(spark, 99L, 103L), "payments")))
    }
  }

  test("whole-epoch block_get failure: the WAL-named empty partition " +
    "is committed") {
    // tip advanced to 103 but block_get(103) permanently fails: with
    // 1-height epochs the final (102, 103] epoch's every block fails,
    // retry-then-skip yields an empty envelope (DECISIONS DR-3)
    StubNode.withServer(prunedHeights = Set(103L)) { endpoint =>
      val dir = Files.createTempDirectory("hsf-pruned").toString
      val q = HeliumStreamFollower.start(spark, endpoint,
        s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
        maxHeightsPerTrigger = 1L, numPartitions = 2,
        maxRetries = 2, sleepMs = 0L)
      try q.processAllAvailable() finally q.stop()
      // the engine committed (102, 103], so the epoch IS processed:
      // an empty batch=103 partition, never a silent gap (the rows
      // below equal the reference, so batch=103 holds none)
      val parts = partitions(s"$dir/sink/payments")
      assert(parts.contains("batch=103"),
        s"WAL-committed failed epoch left no partition: $parts")
      assert(parts === Seq("batch=100", "batch=101", "batch=102",
        "batch=103"))
      assert(committed(spark, s"$dir/sink", "payments") ===
        rows(collection(envelopes(spark, 99L, 103L), "payments")))
    }
  }

  test("uncapped: the whole backlog arrives in one micro-batch") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val listed = (100L to 102L).map(h => mapper.readTree(
      graft.sources.HeliumFixtures.blockJsonByHeight(h))
      .get("transactions").size()).sum
    StubNode.withServerCalls() { (endpoint, calls) =>
      val ckpt = Files.createTempDirectory("hbs-ckpt2").toString
      val q = spark.readStream
        .format(classOf[HeliumBlockStreamProvider].getName)
        .option("endpoint", endpoint)
        .option("startHeight", "99")
        .option("maxRetries", "2").option("sleepMs", "0")
        .load()
        .writeStream.format("memory").queryName("helium_blocks_whole")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) === 1)
        assertFixtureEnvelopes(spark.sql("SELECT * FROM helium_blocks_whole"))
      } finally q.stop()
      // the one epoch fanned (99, 102] out over the default 4-way
      // partitioning without fetching any height or txn twice
      assert(calls.get("block_get") === 3L)
      assert(calls.get("transaction_get") === listed.toLong)
    }
  }
}
