package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration for all entrypoints (Verify, Bench,
  * tests). Keeping the session knobs in one place guarantees the
  * correctness dump, the bench, and the specs all see identical
  * semantics.
  */
object Sessions {
  /** Apply engine-required configs to a builder.
    *
    *  - nanosAsLong: parquet written as INT64 TIMESTAMP(NANOS) —
    *    which Spark 4 otherwise refuses (PARQUET_TYPE_ILLEGAL) —
    *    reads as a raw ns long. Kept on so that encoding stays
    *    readable alongside µs-TIMESTAMP files; Tables.tsUs normalizes
    *    whichever representation arrives to epoch µs at the boundary.
    *  - UTC session time zone: oracle (DuckDB) parity.
    *  - AQE on: runtime shuffle-partition coalescing + skew-join
    *    handling — the local[32] stand-in for what matters at 100 TB.
    *
    * `rocksdbStateStore = true` switches Structured Streaming state
    * (streamingDedupFirst's per-key flags, interval-join buffers,
    * session windows) from the default in-memory HDFS-backed provider
    * to RocksDB. The default provider holds every key of every state
    * partition on-heap — at 100 TB of keyed state that is executor OOM
    * by design; RocksDB keeps state off-heap + on local disk with
    * incremental changelog checkpointing. Off by default: the gate
    * suite's fixtures are tiny and the in-memory provider keeps the
    * local feedback loop fastest. (Also settable per-query before
    * stream start via the same conf key — it is read at query start,
    * which is how StreamingOpsSpec exercises both providers in one
    * session.)
    */
  def tuned(b: SparkSession.Builder,
            rocksdbStateStore: Boolean = false): SparkSession.Builder = {
    val base = if (rocksdbStateStore)
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
        // Changelog checkpointing is NOT Spark's default: without it
        // every commit uploads a full RocksDB snapshot, which at large
        // keyed state is the dominant per-batch cost. Incremental
        // changelogs upload only the delta (snapshots amortize in the
        // background maintenance task).
        .config("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled", "true")
    else b
    base
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Coalesce small post-shuffle partitions by SIZE, not up to the
      // default parallelism: the iterative operators (pagerank, pointer
      // jumping, BFS, k-core) run many rounds of node-sized shuffles,
      // and at parallelismFirst=true every one of those rounds schedules
      // `cpus` near-empty tasks per stage — pure scheduler overhead at
      // local[32], and the same pathology 1000 executors would see on a
      // 100-partition iteration table. Size-based coalescing collapses
      // them to one task while leaving genuinely large shuffles at full
      // width (they exceed advisoryPartitionSizeInBytes).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
  }

  /** Bench-session-only (VERDICT r19 #6): silence WindowExec's
    * "No Partition Defined for Window" WARN. The suite's only
    * unpartitioned windows are the ~32-row `_pid` prefix-offset
    * windows of the two-stage global-rank template (stage 2 runs over
    * ONE row per shuffle partition — TwoStage.rangeParted's whole
    * point), and PlanCheck's unpartitioned-window class already
    * traces every one of them as bounded-by-partition-count, so the
    * warning is benign here by construction — yet it fired hundreds
    * of times per bench run and buried the guard-verdict INFO lines
    * in the driver's 2000-char stdout tail (BENCH_r19.json). NOT set
    * in [[tuned]]: Verify, tests, and ad-hoc sessions keep the
    * warning, so a genuinely data-sized unpartitioned window
    * introduced by a future operator still announces itself there.
    */
  def quietBoundedWindowWarns(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** The one local session: Verify, Bench, the tools and the specs.
    * Cores default to `SPARK_GRAFT_CPUS`, else 4; shuffle partitions
    * follow the cores.
    */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
      : SparkSession = {
    val s = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
