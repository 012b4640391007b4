package graft

import graft.operators.HeliumGraph
import graft.sinks.GraphSink
import graft.sources.HeliumFixtures

class GraphSinkSpec extends SparkSpec {
  import spark.implicits._

  test("F8/N4: null columns become ABSENT fields in sink documents") {
    val docs = GraphSink.toDocuments(
      HeliumGraph.receiptEdges(HeliumFixtures.txnEnvelopes(spark)))
      .as[String].collect()
    val withReceipt = docs.find(_.contains("\"hash\":\"tx4\"")).get
    val noReceipt = docs.find(_.contains("\"hash\":\"tx5\"")).get
    assert(withReceipt.contains("\"tx_power\":27"))
    assert(withReceipt.contains("\"processing_time_s\":0.25"))
    assert(!noReceipt.contains("tx_power")) // absent, not null
    assert(!noReceipt.contains("processing_time_s"))
  }

  test("importBulk: request path + golden byte-shape of the body") {
    assert(GraphSink.importBulkPath("helium", "payments") ===
      "/_db/helium/_api/import?collection=payments&type=list&onDuplicate=ignore")
    // golden fixture: field order preserved with _key moved LAST
    // (reference appends the key after hashing) and nulls absent
    val df = Seq(
      ("k1", "accounts/a", "accounts/b", Some(5L)),
      ("k2", "accounts/c", "accounts/d", None: Option[Long])
    ).toDF("_key", "_from", "_to", "amount")
      .repartition(1).sortWithinPartitions("_key")
    val bodies = GraphSink.importBulkBodies(df).collect()
    assert(bodies === Array(
      """[{"_from":"accounts/a","_to":"accounts/b","amount":5,"_key":"k1"},""" +
        """{"_from":"accounts/c","_to":"accounts/d","_key":"k2"}]"""))
  }

  test("importBulk: bodies batch per batchSize executor-side") {
    val df = (0 until 7).map(i => (s"k$i", i.toLong))
      .toDF("_key", "v").repartition(1).sortWithinPartitions("_key")
    val bodies = GraphSink.importBulkBodies(df, batchSize = 3).collect()
    assert(bodies.length === 3) // 3 + 3 + 1
    assert(bodies.map(b => b.count(_ == '{')).toSeq === Seq(3, 3, 1))
  }
}
