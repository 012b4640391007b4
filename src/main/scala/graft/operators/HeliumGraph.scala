package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.HeliumSchemas

/** The reference-domain parity slice (SURVEY.md §7.2 B / §7.3): the
  * exact transforms the reference performs per block, re-expressed as
  * column algebra over the txn-envelope ingest boundary.
  *
  *   - P1 type dispatch      → filter on envelope.type
  *   - S2 payload parse      → from_json with the declared schema
  *   - N1 explode payments   → follower.py:163-176
  *   - N2 explode witnesses  → follower.py:180-202
  *   - N3 explode block txns → follower.py:143
  *   - N4 optional receipt   → null-propagating struct access
  *   - F7 path[0] only       → element_at(path, 1) — the reference
  *     processes ONLY the first path element; preserved deliberately
  *   - P2/P3/P4 projections, F1 concat keys, F5 content-hash _key
  *
  * Scale: every transform is a map-side projection/generate — the only
  * shuffle in the whole slice is accountVertices' distinct. At 100 TB
  * the per-block loop becomes per-epoch height ranges of the block
  * stream (graft.streaming.HeliumStreamFollower) with these same plans.
  */
object HeliumGraph {

  /** F5: md5 content key over the name-sorted document fields
    * (follower.py:293-294 — sort_keys=True discipline; SURVEY §7.4(2):
    * internal consistency, not byte-parity with Python's spaced JSON).
    */
  private def docKey(cols: (String, Column)*): Column =
    md5(to_json(struct(cols.sortBy(_._1).map { case (n, c) =>
      c.as(n)
    }: _*)))

  /** N3: blocks → one row per listed transaction (with block context). */
  def blockTxns(blocks: DataFrame): DataFrame =
    blocks.select(col("height"), col("time"),
      explode(col("transactions")).as("txn"))
      .select(col("height"), col("time"),
        col("txn.hash").as("hash"), col("txn.type").as("type"))

  /** payment_v1 → edge docs (follower.py:145-158). Drops fee/nonce. */
  def paymentV1Edges(envelopes: DataFrame): DataFrame = {
    val p = envelopes.filter(col("type") === "payment_v1")
      .select(col("block"), col("block_time"),
        from_json(col("payload"), HeliumSchemas.paymentV1).as("t"))
      .select(col("block"), col("block_time"),
        col("t.hash").as("hash"), col("t.amount").as("amount"),
        col("t.payer").as("payer"), col("t.payee").as("payee"))
    edgeProjection(p)
  }

  /** payment_v2 → one edge per inner payment (N1, follower.py:160-176). */
  def paymentV2Edges(envelopes: DataFrame): DataFrame = {
    val p = envelopes.filter(col("type") === "payment_v2")
      .select(col("block"), col("block_time"),
        from_json(col("payload"), HeliumSchemas.paymentV2).as("t"))
      .select(col("block"), col("block_time"),
        col("t.hash").as("hash"), col("t.payer").as("payer"),
        explode(col("t.payments")).as("p"))
      .select(col("block"), col("block_time"), col("hash"),
        col("p.amount").as("amount"), col("payer"),
        col("p.payee").as("payee"))
    edgeProjection(p)
  }

  /** Shared payment-edge projection (P2/F1/F5): memo/fee/nonce dropped,
    * timestamp = block time in unix seconds.
    */
  private def edgeProjection(p: DataFrame): DataFrame = {
    val from = concat(lit("accounts/"), col("payer"))
    val to = concat(lit("accounts/"), col("payee"))
    p.select(
      docKey("_from" -> from, "_to" -> to, "hash" -> col("hash"),
        "amount" -> col("amount"), "block" -> col("block"),
        "timestamp" -> col("block_time")).as("_key"),
      from.as("_from"), to.as("_to"), col("hash"), col("amount"),
      col("block"), col("block_time").as("timestamp"))
  }

  /** poc_receipts_v1/v2 → one edge per witness of path[0] (N2/N4/F7,
    * follower.py:177-202). The edge hash is the LISTING hash (v2
    * payloads have no hash field, follower.py:191); tx_power and
    * processing_time_s are null when the receipt is absent
    * (follower.py:194-198 — conditional fields become nullable
    * columns, the documented semantics change from SURVEY §7.4(3)).
    */
  def receiptEdges(envelopes: DataFrame): DataFrame = {
    val p0 = envelopes
      .filter(col("type").isin("poc_receipts_v1", "poc_receipts_v2"))
      .select(col("block"), col("hash"),
        element_at( // F7: first path element ONLY
          from_json(col("payload"), HeliumSchemas.pocReceipts)
            .getField("path"), 1).as("p0"))
    val w = p0.select(col("block"), col("hash"),
      col("p0.challengee").as("challengee"),
      col("p0.receipt").as("receipt"),
      explode(col("p0.witnesses")).as("w"))
    val from = concat(lit("hotspots/"), col("challengee"))
    val to = concat(lit("hotspots/"), col("w.gateway"))
    w.select(
      docKey("_from" -> from, "_to" -> to, "hash" -> col("hash"),
        "block" -> col("block"),
        "timestamp" -> col("w.timestamp")).as("_key"),
      from.as("_from"), to.as("_to"),
      col("w.frequency").as("frequency"),
      col("w.datarate").as("datarate"),
      col("w.is_valid").as("is_valid"),
      col("w.signal").as("signal"), col("w.snr").as("snr"),
      col("w.timestamp").as("timestamp"), col("hash"), col("block"),
      col("receipt.tx_power").as("tx_power"), // N4: null-propagating
      ((col("w.timestamp") - col("receipt.timestamp")) / lit(1e9))
        .as("processing_time_s"))
  }

  /** h07 (VERDICT r19 #2): witness-graph analytics over the PARITY
    * edges — the composition the reference exists to enable. The
    * reference's stated purpose is storing adjacency data for graph
    * queries (reference README.md:2; data model follower.py:81-95),
    * so this runs the g-family's shapes over [[receiptEdges]]' output
    * instead of a star-schema analog: per hotspot vertex, distinct
    * out-/in-neighbor counts (g09's degree shape, per-vertex grain)
    * plus the 3-iteration fixed-point integer PageRank (g10's
    * operator, reused verbatim — one scoring algebra, no drift).
    * Dangling witnesses — gateways that only ever WITNESS and are
    * never challengees, so they appear only as `_to` — are included
    * with out_degree 0, per the g03 semantics (the reference inserts
    * edges without requiring both endpoint vertices,
    * follower.py:199,208).
    *
    * Scale shape: two map-side-combinable degree aggregates + g10's
    * per-round join+aggregate over a once-materialized distinct edge
    * list; the final assembly is two vertex-keyed left joins. At
    * 100 TB the edge list is the already-materialized receipt-edge
    * collection — this plan never re-reads the envelopes.
    */
  def witnessGraph(receiptEdges: DataFrame): DataFrame = {
    import graft.Materialize.MatOps
    val e = receiptEdges.select(col("_from"), col("_to"))
      .distinct().materialized
    val out = e.groupBy(col("_from").as("vertex"))
      .agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("_to").as("vertex"))
      .agg(count(lit(1)).as("in_degree"))
    GraphEtl.pageRankFixedPoint(e)
      .join(out, Seq("vertex"), "left")
      .join(in, Seq("vertex"), "left")
      .select(col("vertex"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        col("rank"))
  }

  /** h09: multi-source BFS reach over the witness graph — the k-hop
    * half of the "PageRank/k-hop over the witness graph" composition
    * (the query class the reference's adjacency model exists to
    * serve). Seeds are the CHALLENGEE side — hotspots that issue
    * challenges — and every hotspot within `maxHops` undirected hops
    * gets its exact hop distance: the blast-radius / neighborhood
    * query over PoC connectivity ("which hotspots are within k
    * witness links of an active challenger"). Delegates to
    * [[GraphEtl.bfsHopsFrom]] (g14's frontier-parallel loop, shared
    * verbatim — anti-joined settled set, per-round materialized
    * frontiers, empty-frontier short-circuit).
    */
  def witnessReach(receiptEdges: DataFrame, maxHops: Int = 3)
      : DataFrame = {
    import graft.Materialize.MatOps
    val e = receiptEdges.select(col("_from").as("a"), col("_to").as("b"))
      .distinct().materialized
    GraphEtl.bfsHopsFrom(e, e.select(col("a").as("v")), maxHops)
  }

  /** h08 (VERDICT r19 #2): per-account payment-flow rollup over the
    * UNION of both payment families' parity edges (h01 ∪ h02) —
    * in/out totals and edge counts, plus the top counterparty by
    * summed outflow via the g08 max_by shape (an aggregate, not a
    * window: partial map-side combines, shuffles at most |account
    * pairs| rows, no sort). Ties break lexicographically inside the
    * max struct — highest total first, then highest counterparty id
    * — so the winner is deterministic and oracle-mirrorable.
    * Accounts that only RECEIVE (dangling payees, the g03 class)
    * are included with zero outflow and a null top counterparty.
    *
    * Scale shape: one accounts distinct + three map-side-combinable
    * aggregates over the edge list + three account-keyed left joins
    * — everything keyed by account, nothing pairwise.
    */
  def accountFlow(paymentEdges: DataFrame): DataFrame = {
    import graft.Materialize.MatOps
    val e = paymentEdges.select(col("_from"), col("_to"), col("amount"))
      .materialized
    val accounts = e.select(col("_from").as("account"))
      .union(e.select(col("_to").as("account"))).distinct()
    val out = e.groupBy(col("_from").as("account"))
      .agg(sum(col("amount")).as("total_out"), count(lit(1)).as("n_out"))
    val in = e.groupBy(col("_to").as("account"))
      .agg(sum(col("amount")).as("total_in"), count(lit(1)).as("n_in"))
    val top = e.groupBy(col("_from").as("account"), col("_to").as("cp"))
      .agg(sum(col("amount")).as("cp_total"))
      .groupBy(col("account"))
      .agg(max(struct(col("cp_total"), col("cp"))).as("t"))
    accounts
      .join(out, Seq("account"), "left")
      .join(in, Seq("account"), "left")
      .join(top, Seq("account"), "left")
      .select(col("account"),
        coalesce(col("total_out"), lit(0L)).as("total_out"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("total_in"), lit(0L)).as("total_in"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        col("t.cp").as("top_counterparty"),
        col("t.cp_total").as("top_total"))
  }

  /** P4/U1/A3: bare account vertices from both payment families —
    * payer ∪ payee, sink-side insert-ignore becomes distinct.
    */
  def accountVertices(envelopes: DataFrame): DataFrame = {
    def parsed(tpe: String, schema: org.apache.spark.sql.types.StructType) =
      envelopes.filter(col("type") === tpe)
        .select(from_json(col("payload"), schema).as("t"))
    val v1 = parsed("payment_v1", HeliumSchemas.paymentV1)
    val v2 = parsed("payment_v2", HeliumSchemas.paymentV2)
    v1.select(col("t.payer").as("addr"))
      .union(v1.select(col("t.payee").as("addr")))
      .union(v2.select(col("t.payer").as("addr")))
      .union(v2.select(explode(col("t.payments.payee")).as("addr")))
      .select(col("addr").as("_key")).distinct()
  }
}
