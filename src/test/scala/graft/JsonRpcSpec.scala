package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sources.{HeliumBlockStreamProvider, JsonRpcClient}

/** End-to-end S1-S3 over a real HTTP round-trip: the StubNode serves
  * the Helium fixtures; the client unwraps results and maps −100 to
  * missing, and the stream reader retries a not-yet-indexed payload,
  * then skips it (T4).
  */
class JsonRpcSpec extends SparkSpec {

  private val mapper = new ObjectMapper

  test("height / block_get / transaction_get over live HTTP") {
    StubNode.withServer() { endpoint =>
      val c = new JsonRpcClient(endpoint)
      assert(c.height() === 102L)
      assert(c.blockGet(999L).isEmpty) // −100 → missing
      val b = mapper.readTree(c.blockGet(100L).get)
      assert(b.get("height").asLong() === 100L)
      assert(b.get("transactions").size() === 2) // tx1 (dedup'd), tx2
      assert(c.transactionGet("tx1").get.contains("\"payer\":\"alice\""))
      assert(c.transactionGet("zzz").isEmpty)
    }
  }

  test("T4: a not-yet-indexed txn is retried, then skipped on exhaustion") {
    // tx2 succeeds on the 3rd try; tx3 exhausts its retries → skipped.
    // Through the stream reader, which sleeps for real: sleepMs = 0.
    StubNode.withServerCalls(flaky = Map("tx2" -> 2, "tx3" -> 99)) {
      (endpoint, calls) =>
        val ckpt = Files.createTempDirectory("rpc-t4").toString
        val q = spark.readStream
          .format(classOf[HeliumBlockStreamProvider].getName)
          .option("endpoint", endpoint)
          .option("startHeight", "99")
          .option("maxRetries", "3").option("sleepMs", "0")
          .load()
          .writeStream.format("memory").queryName("helium_blocks_t4")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        val hashes = spark.sql("SELECT DISTINCT hash FROM helium_blocks_t4")
          .collect().map(_.getString(0)).toSet
        assert(hashes.contains("tx2"), "flaky txn recovered by retry")
        assert(!hashes.contains("tx3"), "exhausted txn skipped, not fatal")
        assert(hashes === Set("tx1", "tx2", "tx4", "tx5", "tx6"))
        // 6 listed txns fetched once each, plus 2 retries of tx2 and
        // all 3 retries of tx3
        assert(calls.get("transaction_get") === 6L + 2L + 3L)
    }
  }
}
