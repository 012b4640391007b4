package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming DataSource V2 for the JSON-RPC block stream —
  * the `readStream` face of the S1-S3 seam (SURVEY §2.1; reference
  * follower.py:44-75 is a hand-rolled poll loop; this hands the same
  * cursor semantics to Spark's micro-batch engine so the engine owns
  * offset tracking, checkpointed recovery, and trigger policy).
  *
  *   spark.readStream
  *     .format("graft.sources.HeliumBlockStreamProvider")
  *     .option("endpoint", "http://node:4467")
  *     .option("startHeight", "862739")        // exclusive cursor seed
  *     .option("maxHeightsPerTrigger", "500")  // per-batch height cap
  *     .option("numPartitions", "8")           // executor fan-out
  *     .load()                                  // txnEnvelope schema
  *
  * Semantics, mapped onto the engine's contract:
  *  - An OFFSET is a block height (the reference's sync_cursor, T1) —
  *    serialized as its decimal string in the engine's own checkpoint
  *    WAL, so recovery needs no source-side state.
  *  - The catch-up bound is ADMISSION CONTROL, Spark's own API for
  *    maxOffsetsPerTrigger-style caps ([[SupportsAdmissionControl]],
  *    the Kafka source's shape): `maxHeightsPerTrigger` becomes the
  *    default [[ReadLimit]], and `latestOffset(start, limit)` probes
  *    the node tip (S3) and clamps to `start + limit` — the engine
  *    hands in the recovered START offset, so a WAL restart resumes
  *    the cap from the committed position with no source-side state.
  *    (A plain `latestOffset()` clamped against instance state stalls
  *    on clean restart: the engine only calls `deserializeOffset`
  *    when a batch actually RUNS, so a freshly restarted capped
  *    source would clamp against its construction seed forever —
  *    found by the st09 capstone kill/restart spec.)
  *  - `planInputPartitions(start, end)` slices the (start, end] height
  *    range into `numPartitions` contiguous chunks; each task fetches
  *    its blocks + txn payloads EXECUTOR-side with its own client
  *    under the T4 retry-then-skip policy ([[RetryPolicy]]). At 1000
  *    executors the node is the bottleneck, which is where it belongs.
  *  - Exactly-once: heights are immutable and the range is half-open,
  *    so a replayed batch re-reads exactly the same blocks; the
  *    downstream content-key sinks (T5) make re-delivery idempotent.
  *
  * [[graft.streaming.HeliumStreamFollower]] runs the follower over
  * this source; [[HeliumBlockPartitionReader]] is the one place that
  * expands block → transactions → payloads.
  */
class HeliumBlockStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HeliumSchemas.txnEnvelope
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HeliumBlockTable
  override def supportsExternalMetadata(): Boolean = false
}

final class HeliumBlockTable extends Table with SupportsRead {
  override def name(): String = "helium_blocks"
  override def schema(): StructType = HeliumSchemas.txnEnvelope
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new HeliumBlockScan(options)
    }
}

final class HeliumBlockScan(options: CaseInsensitiveStringMap)
    extends Scan {
  override def readSchema(): StructType = HeliumSchemas.txnEnvelope
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new HeliumBlockMicroBatchStream(
      endpoint = Option(options.get("endpoint")).getOrElse(
        sys.error("helium-blocks: 'endpoint' option is required")),
      startHeight = options.getLong("startHeight", -1L),
      maxHeightsPerTrigger = options.getLong("maxHeightsPerTrigger", 0L),
      numPartitions = options.getInt("numPartitions", 4),
      maxRetries = options.getInt("maxRetries", 50),
      sleepMs = options.getLong("sleepMs", 10000L))
}

/** Offset = block height; json() is the engine-WAL representation. */
final case class HeightOffset(height: Long) extends Offset {
  override def json(): String = height.toString
}

final class HeliumBlockMicroBatchStream(endpoint: String,
                                        startHeight: Long,
                                        maxHeightsPerTrigger: Long,
                                        numPartitions: Int,
                                        maxRetries: Int,
                                        sleepMs: Long)
    extends MicroBatchStream with SupportsAdmissionControl {
  require(maxHeightsPerTrigger >= 0,
    s"maxHeightsPerTrigger must be >= 0 (0 = uncapped); " +
      s"got $maxHeightsPerTrigger")
  // A non-positive fan-out would plan ZERO partitions for a non-empty
  // (start, end] range while the engine still commits the offsets —
  // silent permanent height loss. Fail at stream construction instead.
  require(numPartitions > 0,
    s"numPartitions must be > 0; got $numPartitions")
  private val client = new JsonRpcClient(endpoint)
  @volatile private var probedTip: Offset = null

  override def initialOffset(): Offset = HeightOffset(startHeight)

  override def deserializeOffset(json: String): Offset =
    HeightOffset(json.trim.toLong)

  /** maxHeightsPerTrigger as the engine-owned admission limit; one
    * "row" of the limit = one block height.
    */
  override def getDefaultReadLimit: ReadLimit =
    if (maxHeightsPerTrigger > 0) ReadLimit.maxRows(maxHeightsPerTrigger)
    else ReadLimit.allAvailable()

  /** Clamp the tip probe (S3, one driver-side scalar) to `limit`
    * heights above the engine-supplied start — stateless, so restart
    * recovery is entirely the WAL's.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[HeightOffset].height
    val tip = client.height()
    probedTip = HeightOffset(tip)
    val end = limit match {
      case r: ReadMaxRows => math.min(tip, s + r.maxRows())
      case _ => tip
    }
    HeightOffset(math.max(end, s))
  }

  /** The uncapped tip of this trigger's probe (null before the first):
    * the engine calls this right after `latestOffset(start, limit)` on
    * every trigger, so re-probing here would double the per-trigger
    * `block_height` RPCs.
    */
  override def reportLatestOffset(): Offset = probedTip

  /** Never called for a SupportsAdmissionControl source: the engine
    * always routes through `latestOffset(start, limit)`.
    */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[HeightOffset].height
    val hi = end.asInstanceOf[HeightOffset].height
    val n = hi - lo
    if (n <= 0) Array.empty
    else {
      val parts = math.min(numPartitions.toLong, n).toInt
      // contiguous slices of (lo, hi]: slice i gets the heights in
      // (lo + i*n/parts, lo + (i+1)*n/parts]
      (0 until parts).map { i =>
        HeliumBlockInputPartition(
          fromExclusive = lo + i * n / parts,
          toInclusive = lo + (i + 1) * n / parts,
          endpoint = endpoint, maxRetries = maxRetries,
          sleepMs = sleepMs): InputPartition
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HeliumBlockReaderFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

final case class HeliumBlockInputPartition(fromExclusive: Long,
                                           toInclusive: Long,
                                           endpoint: String,
                                           maxRetries: Int,
                                           sleepMs: Long)
    extends InputPartition

final class HeliumBlockReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HeliumBlockInputPartition]
    new HeliumBlockPartitionReader(p)
  }
}

/** Executor-side reader: its own client + mapper per task (no closure
  * capture, isolated connections), streaming block→txn→payload
  * expansion under T4 retry-then-skip. Heights the node doesn't serve
  * produce no rows.
  */
final class HeliumBlockPartitionReader(p: HeliumBlockInputPartition)
    extends PartitionReader[InternalRow] {
  private val client = new JsonRpcClient(p.endpoint)
  private val mapper = new ObjectMapper
  private val rows: Iterator[InternalRow] =
    ((p.fromExclusive + 1) to p.toInclusive).iterator.flatMap { h =>
      client.blockGet(h).iterator.flatMap { blockJson =>
        val block = mapper.readTree(blockJson)
        val height = block.get("height").asLong()
        val time = block.get("time").asLong()
        val txns = block.get("transactions")
        (0 until txns.size()).iterator.flatMap { i =>
          val hash = txns.get(i).get("hash").asText()
          val tpe = txns.get(i).get("type").asText()
          val (payload, _) = RetryPolicy.withRetries(p.maxRetries,
            p.sleepMs)(() => client.transactionGet(hash))
          payload.map(pl => new GenericInternalRow(Array[Any](
            height, time, UTF8String.fromString(hash),
            UTF8String.fromString(tpe), UTF8String.fromString(pl)))
            : InternalRow).iterator
        }
      }
    }
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** T4 (follower.py:58-69): bounded retry with sleep, then SKIP — the
  * reference retries a not-yet-indexed payload up to 50× with 10 s
  * sleeps and then advances the cursor anyway (a failed block is
  * skipped, not fatal; T1 note in SURVEY §2.10). Pure policy so specs
  * can inject a fake clock.
  */
object RetryPolicy {
  /** Runs `attempt` until it yields Some, up to `maxRetries` retries,
    * sleeping between tries. Returns (result, attemptsUsed); None
    * means exhausted → caller records the skip and advances.
    */
  def withRetries[A](maxRetries: Int, sleepMs: Long,
                     sleep: Long => Unit = Thread.sleep)(
      attempt: () => Option[A]): (Option[A], Int) = {
    var tries = 0
    var out: Option[A] = None
    while (out.isEmpty && tries <= maxRetries) {
      out = attempt()
      tries += 1
      if (out.isEmpty && tries <= maxRetries) sleep(sleepMs)
    }
    (out, tries)
  }
}
