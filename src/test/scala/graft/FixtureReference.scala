package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.HeliumGraph
import graft.sources.HeliumFixtures

/** The independent reference the follower specs check against: the
  * fixture envelopes of a height range run through the same HeliumGraph
  * transforms the follower commits, with no RPC and no commit.
  *
  * Payload strings are not compared raw: the node client re-serializes
  * every payload, which drops the fixture JSON's incidental whitespace.
  * Payloads are compared through the rows derived from them instead.
  */
object FixtureReference {

  /** Fixture envelopes with block in (fromExclusive, toInclusive]. */
  def envelopes(spark: SparkSession, fromExclusive: Long,
                toInclusive: Long): DataFrame =
    HeliumFixtures.txnEnvelopes(spark)
      .filter(col("block") > fromExclusive && col("block") <= toInclusive)

  /** The follower's per-collection transform (payments are the v1 and
    * v2 edges together, receipts the witness edges, both deduped on
    * the content key).
    */
  def collection(env: DataFrame, c: String): DataFrame = c match {
    case "payments" =>
      HeliumGraph.paymentV1Edges(env)
        .unionByName(HeliumGraph.paymentV2Edges(env))
        .dropDuplicates("_key")
    case "poc_receipts" => HeliumGraph.receiptEdges(env).dropDuplicates("_key")
    case "accounts" => HeliumGraph.accountVertices(env)
  }

  /** Rows as sorted strings, a multiset that ignores row order. */
  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** A committed collection's rows, without the `batch` partition
    * column (epoch boundaries are not part of the content).
    */
  def committed(spark: SparkSession, sinkDir: String, c: String)
      : Seq[String] =
    rows(spark.read.parquet(s"$sinkDir/$c").drop("batch"))

  /** The A3 distinct account view of a committed accounts collection. */
  def accountKeys(df: DataFrame): Set[String] =
    df.select("_key").distinct().collect().map(_.getString(0)).toSet

  /** The envelope rows without the payload, one per distinct txn. */
  def envelopeMeta(df: DataFrame): Set[String] =
    df.select("block", "block_time", "hash", "type").distinct()
      .collect().map(_.toSeq.mkString("|")).toSet

  /** Everything derived from an envelope's payloads: the payment and
    * receipt edges.
    */
  def derived(env: DataFrame): Seq[String] =
    rows(collection(env, "payments")) ++ rows(collection(env, "poc_receipts"))

  /** The documents of importBulk bodies. Compact to_json docs contain
    * no nested objects or arrays here, so splitting on "},{" recovers
    * the exact document bytes.
    */
  def importDocs(bodies: Seq[String]): Set[String] = bodies.flatMap { b =>
    assert(b.startsWith("[") && b.endsWith("]"))
    b.stripPrefix("[").stripSuffix("]").split("\\},\\{")
      .filter(_.nonEmpty)
      .map(d => (if (d.startsWith("{")) d else "{" + d) +
        (if (d.endsWith("}")) "" else "}"))
  }.toSet

  /** `batch=N` partition names under a collection directory, sorted. */
  def partitions(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).fold(Seq.empty[String])(
      _.filter(_.startsWith("batch=")).sorted.toSeq)
}
