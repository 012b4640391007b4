package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Par
import graft.operators.HeliumGraph
import graft.sinks.GraphSink
import graft.sources.HeliumBlockStreamProvider

/** The follower — the reference's poll loop (follower.py:44-75) as one
  * Structured Streaming query, composing the three seams that are each
  * unit-tested on their own:
  *
  *   readStream(HeliumBlockStreamProvider)   — S1-S3, offsets = heights
  *     → HeliumGraph parity transforms       — P1-P4 / N1-N4
  *     → GraphSink insert-ignore commit      — S5 / F8 / T5
  *   with the engine's own WAL checkpointing — T1 / T2
  *
  * Where the reference's loop owns its cursor, retries and checkpoint
  * ordering, here Spark's micro-batch engine owns offset tracking,
  * trigger policy and recovery. HeliumFollowerSpec and
  * HeliumBlockStreamSpec check the committed tables against the
  * fixtures run through the same transforms, including across a
  * mid-backfill kill and WAL restart.
  *
  * Exactly-once effect (T5) without sink transactions: the WAL
  * serializes half-open immutable height ranges, and every epoch's
  * commit lands under `batch=<offset-range end>` via overwrite — the
  * partition name is read back from the engine's own offsets WAL
  * ([[epochEndHeight]]), so it is a deterministic function of the
  * committed range even when tail heights carry no envelope rows, and
  * a replayed epoch (crash between sink write and WAL commit)
  * REWRITES its own partition with identical content-keyed rows
  * instead of appending duplicates. Height-named partitions are also
  * the unit T7 height-based retention drops. The account collection
  * keeps the reference's insert-ignore collapse deferred to read (the
  * A3 distinct view).
  *
  * Per epoch, where the reference bulk-loads its three collections one
  * after another (follower.py:205-207), [[commitBatch]] runs the three
  * write-then-import legs concurrently and its housekeeping strictly
  * after all three. The source still runs ONCE per epoch: every leg
  * reads one persisted envelope, and the block manager's per-block
  * lock lets only one task compute each cached partition. The import
  * read-back uses the schema each leg wrote.
  */
object HeliumStreamFollower {

  /** One epoch's transform + commit — the follower.py:145-207 body
    * over an envelope micro-batch: the three collections, each
    * content-keyed, in-batch deduped, and committed by overwriting the
    * epoch's `batch=hi` partition (idempotent under epoch replay);
    * `hi` is the epoch's committed offset end ([[epochEndHeight]]).
    *
    * The three collections commit as three CONCURRENT legs over the
    * one persisted envelope ([[graft.Par]]): each leg writes its
    * `batch=hi` partition, then imports it. The legs share no output,
    * so their order cannot change a row; overlapping them makes an
    * epoch cost about its slowest leg, not the sum of all three.
    * Housekeeping (retention drop, inventory refresh) and the
    * envelope's `unpersist` run strictly after ALL three legs have
    * finished — also when one leg fails, so a failed epoch never
    * leaves a leg writing behind a replay of the same partition. The
    * legs' jobs carry the stream thread's job group, so a query stop
    * cancels them like any other epoch job.
    *
    * With an [[GraphSink.ImportTarget]], each committed partition is
    * read back and POSTed as importBulk bodies from the executors, so
    * the documents on the wire are exactly what the store of record
    * holds. The read-back passes the schema the leg just wrote instead
    * of inferring it from the files (no schema-inference job). A
    * replayed epoch re-POSTs its partition, which the store's
    * onDuplicate=ignore absorbs (every document carries its
    * content-hash `_key`) — the HTTP sink inherits T5 from the key
    * discipline, not from any sink-side transaction.
    *
    * When every block of an epoch fails block_get (a node pruned or
    * persistently erroring below its own tip), retry-then-skip leaves
    * an EMPTY envelope, indistinguishable here from a served range
    * whose blocks carry no transactions. The epoch still commits an
    * empty `batch=hi` partition and runs its housekeeping: the engine
    * committed the range, and an epoch the WAL committed must never be
    * silently un-processed on restart replay (DECISIONS DR-3).
    */
  private[streaming] def commitBatch(
      env: DataFrame, sinkDir: String, hi: Long,
      importTarget: Option[GraphSink.ImportTarget],
      receiptRetentionBlocks: Option[Long],
      inventoryHeight: () => Option[Long],
      onInventoryRefresh: () => Unit, inventoryLag: Long): Unit = {
    // ONE source evaluation per epoch: the transforms read the
    // envelope four ways (two payment variants, receipts, accounts),
    // and an un-persisted micro-batch re-runs its partition readers
    // per action — i.e. refetches every block over HTTP and burns the
    // per-task retry budget three extra times. The legs below read the
    // cache concurrently: a task that finds a cached partition being
    // computed by another waits on its block lock, then reads the copy.
    //
    // Raw `persist()` here, NOT the Materialize seam used by the batch
    // operators: the seam exists to TRUNCATE LINEAGE under iteration
    // (its localCheckpoint/write-out strategies cut the plan), and
    // cutting a micro-batch's lineage would detach the epoch's plan
    // from the streaming source it must re-derive from under task
    // retry. An epoch envelope is already bounded by the admission cap
    // — plain block caching is the whole requirement, so this one
    // site deliberately bypasses the seam.
    val cached = env.persist()
    try {
      // one leg per collection: overwrite `batch=hi`, then read back
      // what the store holds — under the schema just written, so the
      // read-back runs no schema-inference job — and POST it
      def leg(df: DataFrame, c: String): Unit = {
        val dir = s"$sinkDir/$c/batch=$hi"
        df.write.mode(SaveMode.Overwrite).parquet(dir)
        importTarget.foreach { t =>
          GraphSink.importBulkPost(
            env.sparkSession.read.schema(df.schema).parquet(dir), t, c)
        }
      }
      // returns only once all three legs have finished
      Par.concurrently3(
        leg(HeliumGraph.paymentV1Edges(cached)
          .unionByName(HeliumGraph.paymentV2Edges(cached))
          .dropDuplicates("_key"), "payments"),
        leg(HeliumGraph.receiptEdges(cached).dropDuplicates("_key"),
          "poc_receipts"),
        leg(HeliumGraph.accountVertices(cached), "accounts"))
      // reference loop housekeeping, strictly after all three legs:
      // receipt retention partition drop (T7, follower.py:210-214) and
      // the inventory-lag refresh trigger (T6, follower.py:61-62)
      receiptRetentionBlocks.foreach { keep =>
        dropExpiredBatches(s"$sinkDir/poc_receipts", hi - keep)
      }
      if (shouldRefreshInventory(hi, inventoryHeight(), inventoryLag))
        onInventoryRefresh()
    } finally { cached.unpersist(); () } // after every leg has ended
  }

  /** T7 partition drop on a batch=N-partitioned directory: removes
    * every `batch=N` with N below `cutoffBatch`, whole (metadata-only,
    * no data rewrite). Returns the dropped batch ids, ascending.
    */
  private[graft] def dropExpiredBatches(dir: String,
                                        cutoffBatch: Long): Seq[Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val expired = Files.list(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("batch="))
        .map(p => (p, p.getFileName.toString.stripPrefix("batch=").toLong))
        .filter(_._2 < cutoffBatch)
        .toSeq
      expired.foreach { case (p, _) =>
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
      }
      expired.map(_._2).sorted
    }
  }

  /** T6 (follower.py:61-62): refresh the dimension snapshot when the
    * sync cursor leads the inventory snapshot by more than `lag`.
    * A None inventory height means the bootstrap never ran — treated
    * as "always refresh" rather than reproducing the reference's
    * uncaught TypeError (SURVEY §2.10 known quirk).
    */
  private[graft] def shouldRefreshInventory(syncHeight: Long,
                                            inventoryHeight: Option[Long],
                                            lag: Long = 500L): Boolean =
    inventoryHeight.forall(h => syncHeight - h > lag)

  /** The epoch's committed end height — the (lo, hi] offset-range end
    * the engine planned for `batchId`, read back from its own offsets
    * WAL at `checkpointDir/offsets/<batchId>`. Partition names, the
    * retention cutoff and the inventory-refresh trigger follow the
    * committed range even when an epoch's tail heights yield no
    * envelope rows (a data-max probe would under-report there).
    *
    * Deterministic under replay: the engine writes the offsets entry
    * BEFORE the batch first runs and never rewrites it, so a replayed
    * epoch reads back the identical range. File shape is the engine's
    * OffsetSeqLog: a version line, the batch-metadata JSON line, then
    * one serialized offset per source — this query has exactly one
    * source, whose HeightOffset.json() is the decimal height.
    */
  private[streaming] def epochEndHeight(spark: SparkSession,
                                        checkpointDir: String,
                                        batchId: Long): Long = {
    val path = new Path(s"$checkpointDir/offsets/$batchId")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(path)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    require(lines.length == 3 && lines.head.startsWith("v"),
      s"unexpected offsets WAL shape at $path " +
        s"(${lines.length} non-empty lines)")
    val raw = lines(2).trim
    // fail fast WITH the offending content: a void offset line ('-')
    // or an OffsetSeqLog format change must name itself, not surface
    // as a bare NumberFormatException (ADVICE r11)
    try raw.toLong
    catch { case e: NumberFormatException =>
      throw new IllegalStateException(
        s"offsets WAL at $path: expected a decimal height on the " +
          s"offset line, got '$raw' (void offset or format change?)", e)
    }
  }

  /** Start the follower with the default trigger (continuous
    * micro-batch polling — the reference loop's steady state; specs
    * drain with processAllAvailable). `startHeight` is the exclusive
    * cursor seed honored only on FIRST start — a restart recovers the
    * committed offset from the WAL at `checkpointDir` and ignores it.
    */
  def start(spark: SparkSession, endpoint: String, sinkDir: String,
            checkpointDir: String, startHeight: Long,
            maxHeightsPerTrigger: Long = 0L, numPartitions: Int = 4,
            maxRetries: Int = 50, sleepMs: Long = 10000L,
            importTarget: Option[GraphSink.ImportTarget] = None,
            receiptRetentionBlocks: Option[Long] = None,
            inventoryHeight: () => Option[Long] = () => None,
            onInventoryRefresh: () => Unit = () => (),
            inventoryLag: Long = 500L)
      : StreamingQuery =
    spark.readStream
      .format(classOf[HeliumBlockStreamProvider].getName)
      .option("endpoint", endpoint)
      .option("startHeight", startHeight.toString)
      .option("maxHeightsPerTrigger", maxHeightsPerTrigger.toString)
      .option("numPartitions", numPartitions.toString)
      .option("maxRetries", maxRetries.toString)
      .option("sleepMs", sleepMs.toString)
      .load()
      .writeStream
      .foreachBatch { (env: DataFrame, batchId: Long) =>
        commitBatch(env, sinkDir,
          epochEndHeight(spark, checkpointDir, batchId), importTarget,
          receiptRetentionBlocks, inventoryHeight, onInventoryRefresh,
          inventoryLag)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
