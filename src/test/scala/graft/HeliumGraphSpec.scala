package graft

import org.apache.spark.sql.functions._
import graft.operators.HeliumGraph
import graft.sources.HeliumFixtures

/** The reference's documented edge cases (SURVEY.md §5 item 2) against
  * the parity-slice transforms.
  */
class HeliumGraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val env = HeliumFixtures.txnEnvelopes(spark)

  test("N3 blockTxns: one row per listed transaction") {
    val txns = HeliumGraph.blockTxns(HeliumFixtures.blocks(spark))
    assert(txns.count() === 6) // tx1..tx6 (dup listing collapsed)
    assert(txns.filter(col("height") === 100).count() === 2)
  }

  test("payment_v1: projection, self-edge kept, duplicate collapses to one key") {
    val edges = HeliumGraph.paymentV1Edges(env)
    assert(edges.count() === 3) // dup envelope produces dup edge row
    assert(edges.dropDuplicates("_key").count() === 2) // T5 dedup
    val selfEdge = edges.filter(col("hash") === "tx2").head()
    assert(selfEdge.getAs[String]("_from") === "accounts/dave")
    assert(selfEdge.getAs[String]("_to") === "accounts/dave")
    // fee/nonce dropped (follower.py:148-155)
    assert(!edges.columns.contains("fee"))
    val e = edges.filter(col("hash") === "tx1").head()
    assert(e.getAs[Long]("amount") === 5000L)
    assert(e.getAs[Long]("timestamp") === 1700000000L) // block time
  }

  test("N1 payment_v2: one edge per inner payment, payer fan-out") {
    val edges = HeliumGraph.paymentV2Edges(env)
      .orderBy("amount").collect()
    assert(edges.length === 3)
    assert(edges.map(_.getAs[Long]("amount")).toSeq === Seq(7L, 100L, 250L))
    assert(edges.forall(_.getAs[String]("_from") === "accounts/alice"))
    assert(edges.map(_.getAs[String]("_to")).toSet ===
      Set("accounts/alice", "accounts/bob", "accounts/carol"))
  }

  test("N2/F7 receipts: witnesses of path[0] only, one edge each") {
    val edges = HeliumGraph.receiptEdges(env)
    assert(edges.count() === 3) // 2 witnesses (v1) + 1 (v2); path[1] ignored
    assert(edges.filter(col("_to") === "hotspots/hsX").count() === 0)
    val v1 = edges.filter(col("hash") === "tx4")
      .orderBy(col("timestamp")).collect()
    assert(v1.length === 2)
    assert(v1(0).getAs[String]("_from") === "hotspots/hs1")
    assert(v1(0).getAs[String]("_to") === "hotspots/hs2")
    assert(v1(0).getAs[Boolean]("is_valid") === true)
  }

  test("N4: tx_power/processing_time_s present with receipt, null without") {
    val edges = HeliumGraph.receiptEdges(env)
    val withReceipt = edges.filter(col("hash") === "tx4")
      .orderBy(col("timestamp")).head()
    assert(withReceipt.getAs[Long]("tx_power") === 27L)
    // (1250000000 ns witness - 1000000000 ns receipt) / 1e9 = 0.25 s
    assert(withReceipt.getAs[Double]("processing_time_s") === 0.25)
    val noReceipt = edges.filter(col("hash") === "tx5").head()
    assert(noReceipt.isNullAt(noReceipt.fieldIndex("tx_power")))
    assert(noReceipt.isNullAt(noReceipt.fieldIndex("processing_time_s")))
    // v2 payload has no hash field: edge carries the LISTING hash
    assert(noReceipt.getAs[String]("hash") === "tx5")
  }

  test("P1: undispatched transaction types contribute nothing") {
    val all = HeliumGraph.paymentV1Edges(env).count() +
      HeliumGraph.paymentV2Edges(env).count() +
      HeliumGraph.receiptEdges(env).count()
    assert(all === 9) // add_gateway_v1 (tx6) nowhere
  }

  test("P4: account vertex set is the distinct payer∪payee space") {
    val keys = HeliumGraph.accountVertices(env)
      .as[String].collect().toSet
    assert(keys === Set("alice", "bob", "carol", "dave"))
  }

  test("h07 witnessGraph: dangling witnesses (g03 semantics) enter " +
    "with out_degree 0; path[1] vertices never appear") {
    val g = HeliumGraph.witnessGraph(HeliumGraph.receiptEdges(env))
    val rows = g.collect().map(r => r.getAs[String]("vertex") ->
      (r.getAs[Long]("out_degree"), r.getAs[Long]("in_degree"),
        r.getAs[Long]("rank"))).toMap
    // witness graph = hs1→{hs2,hs3}, hs4→hs5 (path[0] only — F7)
    assert(rows.keySet === Set("hotspots/hs1", "hotspots/hs2",
      "hotspots/hs3", "hotspots/hs4", "hotspots/hs5"))
    assert(!rows.contains("hotspots/hs9") && !rows.contains("hotspots/hsX"))
    // dangling witnesses: in-only vertices kept, out_degree 0 — the
    // reference inserts edges without requiring endpoint vertices
    // (follower.py:199,208)
    assert(rows("hotspots/hs2") === ((0L, 1L, rows("hotspots/hs2")._3)))
    assert(rows("hotspots/hs3")._1 === 0L)
    assert(rows("hotspots/hs5")._1 === 0L)
    assert(rows("hotspots/hs1") === ((2L, 0L, rows("hotspots/hs1")._3)))
    // integer-PageRank sanity: challengee-only vertices get no inbound
    // mass → the bare teleport constant; witnesses rank above it
    assert(rows("hotspots/hs1")._3 === 150000L)
    assert(rows("hotspots/hs2")._3 > 150000L)
  }

  test("h09 witnessReach: challengee seeds at hop 0, witnesses at " +
    "their first-discovery distance; path[1] vertices unreachable") {
    val reach = HeliumGraph.witnessReach(
      HeliumGraph.receiptEdges(env))
      .as[(String, Long)].collect().toMap
    // seeds: the two path[0] challengees; their witnesses are 1 hop
    assert(reach === Map(
      "hotspots/hs1" -> 0L, "hotspots/hs4" -> 0L,
      "hotspots/hs2" -> 1L, "hotspots/hs3" -> 1L,
      "hotspots/hs5" -> 1L))
    assert(!reach.contains("hotspots/hs9") &&
      !reach.contains("hotspots/hsX"))
  }

  test("h08 accountFlow: dangling payees kept with zero outflow and " +
    "null top counterparty; self-edges count on both sides") {
    val flow = HeliumGraph.accountFlow(
      HeliumGraph.paymentV1Edges(env).dropDuplicates("_key")
        .unionByName(HeliumGraph.paymentV2Edges(env)))
    val byAcct = flow.collect()
      .map(r => r.getAs[String]("account") -> r).toMap
    assert(byAcct.keySet === Set("accounts/alice", "accounts/bob",
      "accounts/carol", "accounts/dave"))
    val alice = byAcct("accounts/alice")
    assert(alice.getAs[Long]("total_out") === 5357L) // 5000+100+250+7
    assert(alice.getAs[Long]("n_out") === 4L)
    assert(alice.getAs[Long]("total_in") === 7L) // the self-payment
    assert(alice.getAs[String]("top_counterparty") === "accounts/bob")
    assert(alice.getAs[Long]("top_total") === 5100L) // 5000 + 100
    // dangling payee (receives only): zero outflow, null top
    val bob = byAcct("accounts/bob")
    assert(bob.getAs[Long]("total_out") === 0L &&
      bob.getAs[Long]("n_out") === 0L)
    assert(bob.getAs[Long]("total_in") === 5100L)
    assert(bob.isNullAt(bob.fieldIndex("top_counterparty")))
    assert(bob.isNullAt(bob.fieldIndex("top_total")))
    // self-edge: dave→dave rides both totals
    val dave = byAcct("accounts/dave")
    assert(dave.getAs[Long]("total_out") === 42L &&
      dave.getAs[Long]("total_in") === 42L)
    assert(dave.getAs[String]("top_counterparty") === "accounts/dave")
  }

  test("a key determines its block: every payment and receipt _key " +
    "maps to one block, and a payload listed in two blocks gets two keys") {
    // the precondition for partition-local dedup: if a key could span
    // blocks, dropping duplicates per block range would keep both
    def blocksPerKey(edges: org.apache.spark.sql.DataFrame) =
      edges.groupBy(col("_key"))
        .agg(countDistinct(col("block")).as("nb"))
        .select(max(col("nb"))).head().getLong(0)
    val payments = HeliumGraph.paymentV1Edges(env)
      .select(col("_key"), col("block"))
      .unionByName(HeliumGraph.paymentV2Edges(env)
        .select(col("_key"), col("block")))
    assert(blocksPerKey(payments) === 1L)
    assert(blocksPerKey(HeliumGraph.receiptEdges(env)) === 1L)
    // the same payment_v1 payload re-listed at another height
    val one = env.filter(col("type") === "payment_v1").limit(1)
    val relisted = one.unionByName(
      one.withColumn("block", col("block") + 1L))
    val keys = HeliumGraph.paymentV1Edges(relisted)
      .select(col("_key"), col("block")).collect()
    assert(keys.length === 2)
    assert(keys.map(_.getLong(1)).distinct.length === 2)
    assert(keys.map(_.getString(0)).distinct.length === 2)
  }
}
