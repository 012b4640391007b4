package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.FixtureReference._
import graft.sinks.GraphSink
import graft.streaming.HeliumStreamFollower

/** The complete reference pipeline against a live (stub) node:
  * follower.py:44-75 end to end over real HTTP, as the one follower
  * runs it — block stream → parity transforms → three collections →
  * engine WAL. Every committed table is checked against the fixtures
  * of the same height range run through the same transforms
  * ([[FixtureReference]]).
  */
class HeliumFollowerSpec extends SparkSpec {
  import spark.implicits._

  private val collections = Seq("payments", "poc_receipts", "accounts")

  /** Drain the node from the first fixture block (heights 100..102
    * pending) and stop; returns the stopped query.
    */
  private def drain(endpoint: String, dir: String, cap: Long,
                    importTarget: Option[GraphSink.ImportTarget] = None) = {
    val q = HeliumStreamFollower.start(spark, endpoint, s"$dir/sink",
      s"$dir/ckpt", startHeight = 99L, maxHeightsPerTrigger = cap,
      numPartitions = 2, maxRetries = 2, sleepMs = 0L,
      importTarget = importTarget)
    try q.processAllAvailable() finally q.stop()
    q
  }

  private def dataEpochs(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.count(_.numInputRows > 0)

  test("backfills to the node tip and materializes all collections") {
    StubNode.withServer() { endpoint =>
      val dir = Files.createTempDirectory("hfollow").toString
      val q = HeliumStreamFollower.start(spark, endpoint, s"$dir/sink",
        s"$dir/ckpt", startHeight = 99L, maxHeightsPerTrigger = 2L,
        numPartitions = 2, maxRetries = 2, sleepMs = 0L)
      try {
        q.processAllAvailable()
        assert(q.lastProgress.sources.head.endOffset === "102")
        val epochs = dataEpochs(q)
        assert(epochs === 2) // (99, 101] and (101, 102]
        q.processAllAvailable() // at the tip → poll, no new epoch (T3)
        assert(dataEpochs(q) === epochs)
      } finally q.stop()
      val sink = s"$dir/sink"
      // payments: tx1 (dedup'd) + tx2 + 3×tx3 fan-out = 5 edges
      assert(committed(spark, sink, "payments").size === 5)
      // receipts: 2 witnesses of tx4 path[0] + 1 of tx5 = 3 edges
      assert(committed(spark, sink, "poc_receipts").size === 3)
      val env = envelopes(spark, 99L, 102L)
      for (c <- Seq("payments", "poc_receipts"))
        assert(committed(spark, sink, c) === rows(collection(env, c)),
          s"collection $c differs from the fixture reference")
      // accounts view: distinct of per-batch address sets
      val accounts = accountKeys(spark.read.parquet(s"$sink/accounts"))
      assert(accounts === Set("alice", "bob", "carol", "dave"))
      assert(accounts === accountKeys(collection(env, "accounts")))
    }
  }

  test("S5: a block listing tx1 twice commits each payment key once") {
    // block 100 lists tx1 twice, as the fixture envelopes carry it, so
    // the epoch holds 3 payment_v1 rows with 2 content keys; the commit
    // must keep one row per key (insert-ignore within the batch)
    val dupListing = Map(100L ->
      ("""{"hash":"bh100","height":100,"prev_hash":"bh99",""" +
        """"time":1700000000,"transactions":[""" +
        """{"hash":"tx1","type":"payment_v1"},""" +
        """{"hash":"tx1","type":"payment_v1"},""" +
        """{"hash":"tx2","type":"payment_v1"}]}"""))
    StubNode.withServer(extraBlocks = dupListing) { endpoint =>
      val dir = Files.createTempDirectory("hfollowdup").toString
      val q = drain(endpoint, dir, 0L)
      val env = envelopes(spark, 99L, 102L)
      // the stream read every envelope row, the duplicate included
      assert(q.recentProgress.map(_.numInputRows).sum === env.count())
      val v1 = graft.operators.HeliumGraph.paymentV1Edges(env)
      assert(v1.count() === 3 && v1.dropDuplicates("_key").count() === 2)
      val payments = committed(spark, s"$dir/sink", "payments")
      assert(payments === rows(collection(env, "payments")))
      assert(payments.size === 5)
      assert(spark.read.parquet(s"$dir/sink/payments")
        .filter("hash = 'tx1'").count() === 1)
    }
  }

  test("maxHeightsPerTrigger forces multi-batch backfill, same tables") {
    StubNode.withServer() { endpoint =>
      def backfill(cap: Long) = {
        val dir = Files.createTempDirectory("hfollowcap").toString
        (s"$dir/sink", dataEpochs(drain(endpoint, dir, cap)))
      }
      val (whole, wholeEpochs) = backfill(0L)   // uncapped: one epoch
      val (capped, cappedEpochs) = backfill(1L) // 1 height per epoch
      assert(wholeEpochs === 1 && cappedEpochs === 3)
      assert(FixtureReference.partitions(s"$capped/payments") ===
        Seq("batch=100", "batch=101", "batch=102"))
      assert(FixtureReference.partitions(s"$whole/payments") ===
        Seq("batch=102"))
      // identical final collections either way: each capped epoch
      // commits atomically, so catch-up only changes batch BOUNDARIES,
      // never content
      for (c <- Seq("payments", "poc_receipts")) {
        assert(committed(spark, capped, c) === committed(spark, whole, c))
        assert(committed(spark, capped, c).nonEmpty, s"collection $c empty")
      }
      def accounts(sink: String) =
        accountKeys(spark.read.parquet(s"$sink/accounts"))
      assert(accounts(capped) === accounts(whole))
    }
  }

  test("importTarget posts byte-exact importBulk bodies per collection") {
    StubNode.withServerImports() { (endpoint, imports) =>
      val dir = Files.createTempDirectory("hfollow").toString
      drain(endpoint, dir, cap = 1L,
        importTarget = Some(GraphSink.ImportTarget(endpoint, "helium")))
      val posted = imports.asScala.toSeq
      // every POST hit the ArangoDB bulk-import path with
      // onDuplicate=ignore (the reference's insert-ignore verb)
      assert(posted.nonEmpty)
      posted.foreach { case (path, _) =>
        assert(path.startsWith("/_db/helium/_api/import?collection="))
        assert(path.contains("&type=list&onDuplicate=ignore"))
      }
      val env = envelopes(spark, 99L, 102L)
      for (c <- collections) {
        val wire = importDocs(posted.collect {
          case (p, b) if p.contains(s"collection=$c&") => b
        })
        // per collection, the documents on the wire are byte-identical
        // to importBulkBodies over the committed batch partitions...
        val parts = FixtureReference.partitions(s"$dir/sink/$c")
        assert(parts === Seq("batch=100", "batch=101", "batch=102"))
        val expected = parts.flatMap { p =>
          GraphSink.importBulkBodies(
            spark.read.parquet(s"$dir/sink/$c/$p")).collect()
        }
        assert(wire === importDocs(expected), s"collection $c wire mismatch")
        assert(wire.nonEmpty, s"collection $c posted nothing")
        // ...and, as a document set (insert-ignore's collapse unit), to
        // the fixture reference's bodies
        assert(wire === importDocs(GraphSink.importBulkBodies(
          collection(env, c)).collect().toSeq),
          s"collection $c differs from the fixture reference on the wire")
      }
    }
  }

  test("receipt retention drops expired batches; inventory refresh fires") {
    StubNode.withServer() { endpoint =>
      val dir = Files.createTempDirectory("hfollow").toString
      val refreshes = new AtomicInteger
      val q = HeliumStreamFollower.start(spark, endpoint, s"$dir/sink",
        s"$dir/ckpt", startHeight = 99L, maxHeightsPerTrigger = 1L,
        numPartitions = 2, maxRetries = 2, sleepMs = 0L,
        receiptRetentionBlocks = Some(1L),
        inventoryHeight = () => Some(-1000L),
        onInventoryRefresh = () => { refreshes.incrementAndGet(); () })
      try q.processAllAvailable() finally q.stop()
      // epochs 100..102 committed; retention=1 keeps only batches
      // >= cursor-1 = 101 → batch=100 dropped, 101/102 retained
      val names = FixtureReference.partitions(s"$dir/sink/poc_receipts")
      assert(names === Seq("batch=101", "batch=102"))
      assert(committed(spark, s"$dir/sink", "poc_receipts") ===
        rows(collection(envelopes(spark, 100L, 102L), "poc_receipts")))
      // inventory snapshot lags the cursor by far more than 500 at
      // every epoch → the T6 trigger fires once per committed epoch
      assert(refreshes.get() === 3)
      // payments are NOT subject to receipt retention
      assert(committed(spark, s"$dir/sink", "payments").size === 5)
    }
  }

  test("re-running a batch is idempotent (T5 overwrite-by-partition)") {
    // a kill between the sink commit and the WAL commit: the epoch's
    // partitions and import POSTs landed, its commits-log entry did
    // not. The restarted query must re-run exactly that epoch, and the
    // replay must leave every collection as it was.
    StubNode.withServerImports() { (endpoint, imports) =>
      val dir = Files.createTempDirectory("hfollow-replay").toString
      val target = Some(GraphSink.ImportTarget(endpoint, "helium"))
      val q1 = drain(endpoint, dir, cap = 1L, importTarget = target)
      assert(dataEpochs(q1) === 3)
      def state() = collections.map { c =>
        (FixtureReference.partitions(s"$dir/sink/$c"),
          committed(spark, s"$dir/sink", c))
      }
      val before = state()
      val postsBefore = imports.size()
      val commits = Paths.get(s"$dir/ckpt/commits")
      val last = Files.list(commits).iterator().asScala
        .map(_.getFileName.toString).filter(_.forall(_.isDigit))
        .map(_.toLong).max
      Files.delete(commits.resolve(last.toString))
      Files.deleteIfExists(commits.resolve(s".$last.crc"))
      val q2 = drain(endpoint, dir, cap = 1L, importTarget = target)
      // the engine re-ran that one epoch from its offsets entry...
      assert(dataEpochs(q2) === 1, "restart did not replay the epoch")
      assert(q2.recentProgress.filter(_.numInputRows > 0)
        .map(_.batchId).toSeq === Seq(last))
      assert(imports.size() > postsBefore, "replay posted nothing")
      // ...and overwrote its own partitions: same names, same rows
      assert(state() === before, "replayed epoch must replace, not append")
      assert(before.forall(_._2.nonEmpty))
    }
  }

  test("partition-local dedup: a 3-height epoch over 3 partitions " +
    "commits what a global dropDuplicates commits") {
    // block 100 lists tx1 twice; block 101 adds a payment_v2 whose two
    // legs are identical (one content key). One uncapped epoch, one
    // height per partition: every repeat must be dropped inside the
    // partition that holds it.
    val tx7 = """{"hash":"tx7","fee":1,"nonce":4,"payer":"erin",""" +
      """"payments":[{"amount":9,"memo":"a","payee":"bob"},""" +
      """{"amount":9,"memo":"b","payee":"bob"},""" +
      """{"amount":11,"memo":null,"payee":"frank"}]}"""
    val blocks = Map(
      100L -> ("""{"hash":"bh100","height":100,"prev_hash":"bh99",""" +
        """"time":1700000000,"transactions":[""" +
        """{"hash":"tx1","type":"payment_v1"},""" +
        """{"hash":"tx1","type":"payment_v1"},""" +
        """{"hash":"tx2","type":"payment_v1"}]}"""),
      101L -> ("""{"hash":"bh101","height":101,"prev_hash":"bh100",""" +
        """"time":1700000060,"transactions":[""" +
        """{"hash":"tx3","type":"payment_v2"},""" +
        """{"hash":"tx4","type":"poc_receipts_v1"},""" +
        """{"hash":"tx7","type":"payment_v2"}]}"""))
    StubNode.withServer(extraBlocks = blocks,
        extraPayloads = Map("tx7" -> tx7)) { endpoint =>
      val dir = Files.createTempDirectory("hfollow-local").toString
      val q = HeliumStreamFollower.start(spark, endpoint, s"$dir/sink",
        s"$dir/ckpt", startHeight = 99L, numPartitions = 3,
        maxRetries = 2, sleepMs = 0L)
      try q.processAllAvailable() finally q.stop()
      assert(dataEpochs(q) === 1)
      val env = envelopes(spark, 99L, 102L).unionByName(
        Seq((101L, 1700000060L, "tx7", "payment_v2", tx7)).toDF(
          "block", "block_time", "hash", "type", "payload"))
      assert(q.recentProgress.map(_.numInputRows).sum === env.count())
      // the repeats really are there: 2 tx1 rows, 2 equal tx7 legs
      val edges = graft.operators.HeliumGraph.paymentEdges(env)
      assert(edges.count() === 9 &&
        edges.dropDuplicates("_key").count() === 7)
      for (c <- Seq("payments", "poc_receipts"))
        assert(committed(spark, s"$dir/sink", c) === rows(collection(env, c)),
          s"collection $c differs from the global dropDuplicates")
      assert(committed(spark, s"$dir/sink", "payments").size === 7)
      val accounts = accountKeys(spark.read.parquet(s"$dir/sink/accounts"))
      assert(accounts === accountKeys(collection(env, "accounts")))
      assert(accounts === Set("alice", "bob", "carol", "dave", "erin",
        "frank"))
    }
  }
}
