package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Sink boundary (SURVEY.md §2.1 S5-S7, §2.8 F8): the engine-internal
  * typed rows become schemaless JSON documents only HERE — matching
  * the reference's importBulk JSON bodies (follower.py:205-207) —
  * while everything upstream stays columnar.
  *
  * `to_json` drops null fields by default, which reproduces the
  * reference's conditionally-ABSENT document fields (tx_power /
  * processing_time_s omitted when the receipt is missing,
  * follower.py:194-198) from plain nullable columns — the N4
  * semantics bridge called out in SURVEY §7.4(3).
  *
  * The follower's own commit (first row per `_key` within each
  * envelope partition, then overwrite of the epoch partition) is the
  * insert-ignore sink; this object holds the document shape and the
  * ArangoDB importBulk wire verb a real store would receive.
  * Idempotency never depends on the store: content-hash keys +
  * partition-local dedup + overwrite-by-epoch-partition give
  * insert-ignore semantics on any sink.
  */
object GraphSink {

  /** Typed rows → one JSON document string per row (F8). */
  def toDocuments(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("doc"))

  /** The ArangoDB bulk-import request path the reference's sink hits
    * (follower.py:205-207 via pyArango importBulk): one POST per
    * document batch, insert-ignore expressed as the onDuplicate query
    * parameter — the store skips any document whose `_key` already
    * exists, which with content-hash keys is exactly the engine's
    * idempotency contract (T5).
    */
  def importBulkPath(database: String, collection: String): String =
    s"/_db/$database/_api/import?collection=$collection" +
      "&type=list&onDuplicate=ignore"

  /** importBulk JSON-array bodies, one per ≤`batchSize` documents,
    * built EXECUTOR-side (each task groups its own partition's rows —
    * nothing funnels through the driver; an HTTP sink posts per
    * partition). Byte shape per document matches the reference's
    * dicts: fields in projection order with `_key` LAST (the reference
    * appends the key after hashing, follower.py:157-158,200-201) and
    * null fields absent (to_json default — the conditionally-absent
    * tx_power/processing_time_s semantics, follower.py:194-198).
    * Documented deviation: compact JSON separators, where Python's
    * json.dumps default inserts spaces — same fields, same order, same
    * absence rules.
    */
  def importBulkBodies(df: DataFrame, batchSize: Int = 1000): Dataset[String] = {
    import df.sparkSession.implicits._
    val ordered =
      if (df.columns.contains("_key"))
        df.select((df.columns.filterNot(_ == "_key") :+ "_key")
          .map(col).toIndexedSeq: _*)
      else df
    toDocuments(ordered).select(col("doc")).as[String]
      .mapPartitions(_.grouped(batchSize).map(_.mkString("[", ",", "]")))
  }

  /** Where an HTTP bulk import lands: node base URL + database (the
    * transport is injectable through the same seam as JsonRpcClient so
    * specs post to an in-process stub over real HTTP).
    */
  final case class ImportTarget(baseUrl: String, database: String,
                                batchSize: Int = 1000,
                                post: (String, String) => String =
                                  graft.sources.JsonRpcClient.httpPost)

  /** S5 over the wire: POST the importBulk bodies straight from the
    * executors — `foreachPartition`, one HTTP request per ≤batchSize
    * documents, nothing funneled through the driver (the reference
    * does the same single-process POST in follower.py:205-207; here it
    * fans out, and the store's onDuplicate=ignore keeps the fan-out
    * race-free because every document carries its content-hash _key).
    */
  def importBulkPost(df: DataFrame, target: ImportTarget,
                     collection: String): Unit = {
    val url = target.baseUrl.stripSuffix("/") +
      importBulkPath(target.database, collection)
    val post = target.post
    importBulkBodies(df, target.batchSize)
      .foreachPartition { it: Iterator[String] =>
        it.foreach(body => post(url, body))
      }
  }
}
