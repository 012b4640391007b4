package perfbench

import java.net.InetSocketAddress
import java.security.MessageDigest
import java.util.concurrent.Executors

import com.sun.net.httpserver.HttpServer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, from_json}

import graft.sources.{HeliumSchemas, JsonRpcClient}

/** The benchmark's own checks on its chain generator and node stub.
  * Prints one line per check and exits non-zero if any fails.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def digest(seed: Long, heights: Range): String = {
    val g = new ChainGen(seed)
    val md = MessageDigest.getInstance("SHA-256")
    heights.foreach { h =>
      md.update(g.blockJson(h).getBytes("UTF-8"))
      (0 until g.txnCount(h)).foreach(i =>
        md.update(g.txn(h, i).payload.getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def deterministic(): Unit = {
    val a = digest(7, 1 to 300)
    check("chain is byte-identical for one seed", a == digest(7, 1 to 300))
    check("another seed gives another chain", a != digest(8, 1 to 300))
    val g = new ChainGen(7)
    val counts = (1 to 2000).map(g.txnCount(_))
    check("tens of transactions per block with a heavy tail",
      counts.sum / counts.size >= 10 && counts.max >= 60,
      s"mean ${counts.sum / counts.size}, max ${counts.max}")
    val types = (1 to 300).flatMap(h => (0 until g.txnCount(h)).map(g.txnType(h, _)))
      .toSet
    check("every reference type occurs", types == Set("payment_v1",
      "payment_v2", "poc_receipts_v1", "poc_receipts_v2", "add_gateway_v1"),
      types.toString)
    val txns = (1 to 300).flatMap(h => (0 until g.txnCount(h)).map(g.txn(h, _)))
    check("payment_v2 legs repeat inside one payment",
      txns.exists(t => t.tpe == "payment_v2" &&
        t.payload.split("\"payee\"").length - 1 > t.payments.size))
    check("some PoC receipts are null",
      txns.exists(_.payload.contains("\"receipt\":null")))
  }

  /** Every payload parses under its HeliumSchemas type with no field
    * that the schema declares non-nullable left null.
    */
  def schemaValid(spark: SparkSession): Unit = {
    import spark.implicits._
    val g = new ChainGen(11)
    val rows = (1 to 150).flatMap(h =>
      (0 until g.txnCount(h)).map(i => (g.txnType(h, i), g.txn(h, i).payload)))
    val schemas = Map(
      "payment_v1" -> HeliumSchemas.paymentV1,
      "payment_v2" -> HeliumSchemas.paymentV2,
      "poc_receipts_v1" -> HeliumSchemas.pocReceipts,
      "poc_receipts_v2" -> HeliumSchemas.pocReceipts,
      "add_gateway_v1" -> HeliumSchemas.addGatewayV1)
    schemas.foreach { case (tpe, schema) =>
      val payloads = rows.filter(_._1 == tpe).map(_._2)
      val parsed = payloads.toDF("p")
        .select(from_json(col("p"), schema,
          Map("mode" -> "FAILFAST")).as("t")).select("t.*")
      val bad = parsed.collect().count(r => schema.fields.zipWithIndex.exists {
        case (f, i) => !f.nullable && r.isNullAt(i) })
      check(s"$tpe payloads (${payloads.size}) match HeliumSchemas", bad == 0,
        s"$bad rows with a required field null")
    }
    val blocks = (1L to 50L).map(g.blockJson(_)).toDF("b")
      .select(from_json(col("b"), HeliumSchemas.block,
        Map("mode" -> "FAILFAST")).as("t")).select("t.*")
    check("blocks match HeliumSchemas.block",
      blocks.collect().forall(r => (0 until r.length).forall(!r.isNullAt(_))))
  }

  /** Stub counters against a three-block chain counted by hand below. */
  def stubCounters(): Unit = {
    val node = new StubNode(3, 3)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
    server.createContext("/", ex => node.handle(ex))
    val pool = Executors.newFixedThreadPool(2)
    server.setExecutor(pool)
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val c = new JsonRpcClient(url)
      val g = new ChainGen(3)
      // hand count: one block_height; block_get for heights 1..4, of
      // which 4 is above the tip (one error); one transaction_get per
      // listed transaction plus one unknown hash (one error)
      c.height()
      val listed = (1L to 4L).flatMap(c.blockGet).map(b =>
        "\"hash\":\"([0-9xa-f]+)\"".r.findAllMatchIn(b).map(_.group(1)).toSeq
          .filter(_.contains('x')))
      val hashes = listed.flatten
      val payloads = hashes.flatMap(c.transactionGet)
      c.transactionGet("999x0x00000000")
      JsonRpcClient.httpPost(url + graft.sinks.GraphSink.importBulkPath(
        "helium", "payments").stripPrefix("/"),
        """[{"_key":"a"},{"_key":"b","x":{"y":[1]}}]""")
      val s = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(node.stats())
      def n(m: String, k: String) = s.get(m).get(k).asLong()
      val txns = (1L to 3L).map(g.txnCount(_)).sum
      check("three served blocks list every transaction",
        listed.size == 3 && hashes.size == txns, s"${listed.size} blocks, ${hashes.size} of $txns")
      check("every listed transaction is served", payloads.size == txns)
      check("block_height counted", n("block_height", "requests") == 1)
      check("block_get counted with its miss",
        n("block_get", "requests") == 4 && n("block_get", "errors") == 1,
        s.get("block_get").toString)
      check("transaction_get counted with its miss",
        n("transaction_get", "requests") == txns + 1 &&
          n("transaction_get", "errors") == 1, s.get("transaction_get").toString)
      check("distinct transactions served", s.get("distinct_txns_served").asLong() == txns)
      check("import POST and its documents counted",
        n("import", "requests") == 1 &&
          s.get("import_docs").get("payments").asLong() == 2, s.toString)
    } finally { server.stop(0); pool.shutdown() }
  }

  def main(args: Array[String]): Unit = {
    deterministic()
    stubCounters()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try schemaValid(spark) finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
