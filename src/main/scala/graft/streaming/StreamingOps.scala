package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming-facing operators (SURVEY.md §2.10).
  *
  * The reference is a hand-rolled poll loop (follower.py:55-75) with no
  * event-time windows; the engine exposes the same transforms as
  * *unbounded* computations: every function here takes a DataFrame that
  * may be batch (parquet) or streaming (readStream) — the logical plan
  * is identical, which is exactly Spark's unified-API contract. Batch
  * runs give the DuckDB-oracle correctness anchor; streaming runs are
  * spec-tested through MemoryStream.
  */
object StreamingOps {

  /** Event-time TIMESTAMP from whatever physical encoding `ts` arrives
    * in — delegates unit normalization to [[graft.Tables.tsUs]] (ns-long
    * / TIMESTAMP / TIMESTAMP_NTZ all land on epoch µs).
    */
  def eventTime(df: DataFrame): Column =
    timestamp_micros(graft.Tables.tsUs(df))

  /** Tumbling-window stats. `exactDistinct = true` adds an exact
    * per-window user count (batch / complete-mode only — exact
    * distinct is not incrementally maintainable; streaming append mode
    * uses approx_count_distinct instead).
    *
    * The exact path is TWO-STAGE — pre-aggregate per (window, user),
    * then count the survivors per window — instead of
    * count(*) + countDistinct in one agg: Catalyst plans that pair via
    * an Expand that doubles every input row before the shuffle,
    * whereas here the map-side partial combine reduces stage one to
    * ≤|windows × active users| rows and stage two is a per-window
    * rollup of those.
    */
  def tumblingWindowStats(events: DataFrame, duration: String,
                          exactDistinct: Boolean): DataFrame = {
    val withTime = events.withColumn("event_time", eventTime(events))
    val stats =
      if (exactDistinct)
        withTime
          .groupBy(window(col("event_time"), duration), col("user_id"))
          .agg(count(lit(1)).as("_n"))
          .groupBy(col("window"))
          .agg(sum(col("_n")).as("n_events"), count(lit(1)).as("n_users"))
      else
        withTime
          .groupBy(window(col("event_time"), duration))
          .agg(count(lit(1)).as("n_events"),
            approx_count_distinct(col("user_id")).as("n_users"))
    stats.select(col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      col("n_events"), col("n_users"))
  }

  /** Sliding-window stats: each event lands in duration/slide
    * overlapping windows (window() expands them row-locally — a
    * generate, not a self-join), then one aggregate on the window
    * struct. State per open window is one count — the streaming form
    * adds a watermark exactly like tumblingWindowStream.
    */
  def slidingWindowStats(events: DataFrame, duration: String,
                         slide: String): DataFrame =
    events
      .withColumn("event_time", eventTime(events))
      // same two-stage exact-distinct shape as tumblingWindowStats
      .groupBy(window(col("event_time"), duration, slide), col("user_id"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col("window"))
      .agg(sum(col("_n")).as("n_events"), count(lit(1)).as("n_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("n_users"))

  /** Watermarked streaming variant: late data beyond `lateness` is
    * dropped and window state is reclaimed — the unbounded-state guard
    * any 100 TB/day stream needs.
    */
  def tumblingWindowStream(events: DataFrame, duration: String,
                           lateness: String): DataFrame =
    events.withColumn("event_time", eventTime(events))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), duration))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"))

  /** Stream-stream INTERVAL join — the unbounded form of the banded
    * range join (graft.operators.AsOf.rangeCountJoin / a02): each
    * probe event joined to the same user's build events in
    * [probe − window, probe). Watermarks on BOTH sides plus the
    * event-time range condition let Structured Streaming bound the
    * join state: each side's state is evicted at its own watermark,
    * so the build side — whose rows must stay matchable for a full
    * look-back window after their event time — carries a watermark
    * delay of `lateness + window` (the standard sizing rule for
    * interval joins: the retained side's delay covers the join
    * interval, or in-window rows are evicted before their probes
    * arrive). State is O((lateness + window) × rate), not O(stream).
    * Works identically on batch frames (the unified-API contract —
    * the spec cross-checks it against the batch range join).
    */
  def intervalJoinStream(probe: DataFrame, build: DataFrame,
                         windowSeconds: Long,
                         latenessSeconds: Long): DataFrame = {
    val p = probe.select(col("user_id"),
      col("event_id").as("probe_id"),
      eventTime(probe).as("probe_time"))
      .withWatermark("probe_time", s"$latenessSeconds seconds")
    val b = build.select(col("user_id").as("b_user"),
      col("event_id").as("build_id"),
      eventTime(build).as("build_time"))
      .withWatermark("build_time",
        s"${latenessSeconds + windowSeconds} seconds")
    p.join(b,
      col("user_id") === col("b_user") &&
        col("build_time") >= col("probe_time") -
          expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("build_time") < col("probe_time"))
      .select(col("probe_id"), col("user_id"), col("probe_time"),
        col("build_id"), col("build_time"))
  }

  /** LEFT OUTER stream-stream interval join: every probe event is
    * emitted, with nulls when no same-user build event fell in its
    * look-back window — the attribution shape ("purchase with or
    * without a preceding click") the inner form cannot express. In
    * streaming mode the unmatched rows are held back until the
    * watermark proves no match can still arrive, then emitted
    * null-padded — which is exactly why BOTH watermarks plus the
    * event-time range condition are mandatory here, not just
    * state-bounding hygiene; same state sizing as
    * [[intervalJoinStream]].
    */
  def intervalJoinOuterStream(probe: DataFrame, build: DataFrame,
                              windowSeconds: Long,
                              latenessSeconds: Long): DataFrame = {
    val p = probe.select(col("user_id"),
      col("event_id").as("probe_id"),
      eventTime(probe).as("probe_time"))
      .withWatermark("probe_time", s"$latenessSeconds seconds")
    val b = build.select(col("user_id").as("b_user"),
      col("event_id").as("build_id"),
      eventTime(build).as("build_time"))
      .withWatermark("build_time",
        s"${latenessSeconds + windowSeconds} seconds")
    p.join(b,
      col("user_id") === col("b_user") &&
        col("build_time") >= col("probe_time") -
          expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("build_time") < col("probe_time"),
      "left_outer")
      .select(col("probe_id"), col("user_id"), col("probe_time"),
        col("build_id"), col("build_time"))
  }

  /** Sessionization (event-time gap sessions) in batch form:
    * gaps-and-islands — a new session starts when the per-user gap
    * exceeds `gapUs`; the session id is the running count of starts.
    * Deterministic under timestamp ties (a zero gap can never open a
    * session, and min/max/count are order-invariant), so it oracle-
    * compares exactly. The streaming-native equivalent is
    * `session_window` / flatMapGroupsWithState; this formulation runs
    * on any engine and at any scale (one shuffle on user_id).
    */
  def sessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"),
        graft.Tables.tsUs(events).as("ts_us"))
      .withColumn("new_session",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(w))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("session_start"),
        max(col("ts_us")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Spark-NATIVE session windows ([[sessionize]]'s engine-managed
    * twin): `session_window` merges each event's [t, t+gap) window
    * with any successor whose start is <= the current session end
    * (UpdatingSessionsIterator expands on touch), so two same-user
    * events exactly gap apart still MERGE — a session closes only
    * when the next event arrives strictly more than gap later, the
    * SAME boundary as sessionize's gaps-and-islands strict `>`.
    * Session MEMBERSHIP is therefore identical to [[sessionize]] at
    * every diff, including diff == gap. Output end is last-event +
    * gap (the watermark-eviction point), not the last event time —
    * the two forms report different end conventions, both kept
    * because the native form is the one that runs UNBOUNDED: with a
    * watermark upstream, state per open session is one merged window
    * row, evicted at watermark ≥ end — the at-scale sessionization
    * path a 100 TB/day event stream actually deploys.
    */
  def sessionWindowStats(events: DataFrame, gap: String): DataFrame =
    events
      .withColumn("event_time", eventTime(events))
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        unix_micros(col("session_window.end")).as("session_end"),
        col("n_events"))

  /** Watermarked streaming form of [[sessionWindowStats]] — the
    * production deployment shape: append mode emits a session only
    * once the watermark passes its end (last-event + gap), at which
    * point the engine evicts its one merged-window state row. Late
    * events beyond `lateness` are dropped rather than re-opening a
    * closed session — the bounded-state contract; batch runs ignore
    * the watermark and reduce to sessionWindowStats exactly.
    */
  def sessionWindowStream(events: DataFrame, gap: String,
                          lateness: String): DataFrame =
    events
      .withColumn("event_time", eventTime(events))
      .withWatermark("event_time", lateness)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        unix_micros(col("session_window.end")).as("session_end"),
        col("n_events"))

  /** Stream-static enrichment join: every stream row picks up the
    * columns of its dimension row — the lookup shape of a follower
    * pipeline (enrich events with account/customer attributes as they
    * arrive). The dim side is explicitly broadcast: a stream-static
    * equi-join against a broadcast dim is STATELESS (no watermark, no
    * state store — each micro-batch joins against the shared
    * broadcast), which is the only sane form at 100 TB of stream; the
    * same expression is the plain broadcast-hash join over a batch
    * frame, so one code path serves both and the batch anchor gates
    * it (st07).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim),
      stream(streamKey) === dim(dimKey), "inner")
      .drop(dim(dimKey))

  /** Batch anchor of [[streamingDedupFirst]]: first event per
    * (user_id, event_type) key, where "first" is pinned to the
    * deterministic (ts_us, event_id) order — in a stream that has event
    * ordering per key, replaying the batch through
    * streamingDedupFirst yields exactly this set (spec-checked). The
    * n_events count makes the collapse auditable.
    *
    * Shape: a single min_by hash aggregate — map-side partial combine
    * shuffles ≤ 1 row per key per partition (the g08 latestEdgePerPair
    * form), never a per-key window sort.
    */
  def dedupFirstBatch(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"), col("event_id"),
        graft.Tables.tsUs(events).as("ts_us"), col("value"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min_by(
        struct(col("event_id"), col("ts_us"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("_f"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("event_type"),
        col("_f.event_id").as("first_event_id"),
        col("_f.ts_us").as("first_ts_us"),
        col("_f.value").as("first_value"),
        col("n_events"))

  /** Batch anchor of the ingest-time LSH dedup STREAM (st11 —
    * [[dedupFirstBatch]]'s corpus-level twin): what the online filter
    * EMITS, i.e. the documents that survive arrival-order near-dup
    * suppression, with their payload size. The suppression verdict is
    * [[graft.operators.Dedup.incrementalLshDedup]]'s bucket-min
    * algebra (see its scaladoc for the no-pair-set scale argument);
    * the unbounded form keeps the per-bucket first-occupant index in
    * [[streamingDedupFirst]] state keyed by band bucket, and the
    * DedupSpec replay pins streamed verdicts ≡ this anchor
    * doc-for-doc. Left-semi join: the verdict side carries only
    * doc_id, so no payload column is ever shuffled twice.
    */
  def ingestDedupBatch(documents: DataFrame): DataFrame =
    documents
      .join(graft.operators.Dedup.incrementalLshDedup(documents)
        .filter(col("kept")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"),
        length(col("text").cast("binary")).cast("long").as("text_bytes"))

  /** Time-bucket resample with FORWARD FILL: per (user, fixed bucket),
    * event count and last observed value, with empty buckets
    * materialized on a dense per-user grid and filled from the most
    * recent earlier bucket — the gap-filling resample a feature /
    * training-signal pipeline runs before windowed models (regular
    * time grid, no missing steps).
    *
    * Determinism: the in-bucket "last" is max_by over the
    * (ts_us, event_id) total order — MICROSECOND ts, the repo's
    * ts-comparison convention (every other op and the DuckDB oracle
    * order on epoch_us; ordering on raw nano ts here would pick a
    * different row than the oracle when two events share a
    * microsecond), with event_id breaking the remaining ties — so the
    * carried value is unique; the fill is then a per-user running
    * `last(ignoreNulls)` ordered by bucket. The first bucket of every
    * user holds data by construction (the grid starts at that user's
    * min bucket), so `filled_value` is never null.
    *
    * Shape at 100 TB: one map-side-combinable (user, bucket) aggregate
    * (max_by partial keeps ≤ 1 row per group per partition — the
    * g08/st06 class); the dense grid is a bounded row-local
    * `sequence` fan-out (span/bucket rows per user, the m05 class) off
    * a tiny per-user min/max aggregate; the fill window partitions BY
    * USER — millions of partitions, no global or single-task sort.
    */
  def resampleForwardFill(events: DataFrame,
                          bucketUs: Long = 3600000000L): DataFrame = {
    val us = graft.Tables.tsUs(events)
    val bucketed = events
      .select(col("user_id"), (us - (us % bucketUs)).as("bucket_us"),
        us.as("ts_us"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col("bucket_us"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("last_value"))
      .materialized // feeds the grid bounds AND the join probe
    val grid = bucketed.groupBy(col("user_id"))
      .agg(min(col("bucket_us")).as("lo"), max(col("bucket_us")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), lit(bucketUs)))
          .as("bucket_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("bucket_us"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid.join(bucketed, Seq("user_id", "bucket_us"), "left")
      .select(col("user_id"),
        timestamp_micros(col("bucket_us")).as("bucket_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("last_value"), ignoreNulls = true).over(w)
          .as("filled_value"))
  }

  /** Lateness profile — the measurement a watermark is TUNED from:
    * per event, how far its event time lags the running event-time
    * high-water mark over everything that ARRIVED before it (arrival
    * order = event_id, the generation sequence). `withWatermark(d)`
    * silently drops exactly the rows with lateness > d, so this table
    * answers "what would a d-second watermark cost me?" BEFORE a
    * streaming job is deployed with the wrong d — the st-family's
    * QA-dial convention (s11/d19: measure the loss, don't assume it).
    *
    * Scale shape: a running max over arrival order is the prefix-sum
    * problem with max as the monoid, so it gets the repo's two-stage
    * template (t06/q35) — range-repartition by event_id, per-partition
    * running max (rows UNBOUNDED PRECEDING..-1: the mark EXCLUDES the
    * row itself, matching Spark's watermark-vs-row comparison), then
    * partition-prefix maxes from the tiny per-partition aggregate via
    * one window pass over ≤ numPartitions rows. No partition-less
    * data-sized window, no single-task sort. Epoch micros are
    * non-negative, so −1 is a safe "no predecessor" identity (the
    * first arrival is never late).
    */
  def latenessProfile(events: DataFrame, delayUs: Long,
                      numPartitions: Int = 32): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // pinned post-exchange (graft.operators.TwoStage scaladoc): one
    // boundary draw for the running-max and per-partition-max branches
    // (batch-only operator — localCheckpoint is fine here). No
    // pre-pin: the child is a plain 2-column select, the scaladoc's
    // accepted double-read trade
    val parted = graft.operators.TwoStage.rangeParted(
      events.select(col("event_id"), graft.Tables.tsUs(events).as("ts_us")),
      numPartitions, col("event_id").asc)
    val wLocal = W.partitionBy(col("_pid")).orderBy(col("event_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    val local = parted.withColumn("_lmax",
      coalesce(max(col("ts_us")).over(wLocal), lit(-1L)))
    val pmax = parted.groupBy(col("_pid"))
      .agg(max(col("ts_us")).as("_pm"))
    val wOff = W.orderBy(col("_pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offs = pmax.select(col("_pid"),
      coalesce(max(col("_pm")).over(wOff), lit(-1L)).as("_off"))
    local.join(broadcast(offs), Seq("_pid"))
      .select(col("event_id"), col("ts_us"),
        greatest(lit(0L),
          greatest(col("_lmax"), col("_off")) - col("ts_us"))
          .as("lateness_us"))
      .withColumn("is_late", col("lateness_us") > delayUs)
  }

  /** Streaming insert-ignore (T5): stateful first-occurrence-wins dedup
    * by content key — the reference's `onDuplicate="ignore"` bulk sink
    * (follower.py:205-207) re-expressed as flatMapGroupsWithState.
    * State per key is a single boolean; with a watermark upstream the
    * state store stays bounded. Input must carry a `_key` string
    * column; rows after the first per key are dropped.
    */
  def streamingDedupFirst[A](keyed: org.apache.spark.sql.Dataset[(String, A)])(
      implicit enc: org.apache.spark.sql.Encoder[A],
      outEnc: org.apache.spark.sql.Encoder[(String, A)])
      : org.apache.spark.sql.Dataset[(String, A)] =
    keyed
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, A)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          })(org.apache.spark.sql.Encoders.scalaBoolean, outEnc)

  /** Per-key running CDC state for [[streamingLatestWins]]: the
    * current winner under the (ts_us, event_id) total order plus the
    * change count (= the batch form's `version`).
    */
  case class CdcRow(userId: Long, tsUs: Long, eventId: Long,
                    eventType: String, value: Double)
  case class CdcState(tsUs: Long, eventId: Long, eventType: String,
                      value: Double, n: Long)

  /** Streaming latest-wins CDC compaction — the UNBOUNDED twin of
    * [[graft.operators.Pipeline.cdcSnapshot]] (st12's spec-pinned
    * stream form, the st06/st11 batch≡stream discipline): state per
    * key is ONE CdcState row (constant per key — bounded by keys, not
    * by history, so no watermark is needed for correctness), updated
    * by the same (ts_us, event_id) max the batch max_by takes; each
    * micro-batch emits the key's refreshed snapshot row (update-mode
    * semantics: downstream upserts by user_id). Replaying any arrival
    * order converges to the batch snapshot because max over a total
    * order is commutative — StreamingOpsSpec pins stream ≡ batch ≡
    * per-event sequential replay.
    */
  def streamingLatestWins(rows: org.apache.spark.sql.Dataset[CdcRow])
      : org.apache.spark.sql.Dataset[(Long, Long, String, Double, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.userId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[CdcRow], state: GroupState[CdcState]) => {
          val merged = it.foldLeft(state.getOption.getOrElse(
            CdcState(Long.MinValue, Long.MinValue, null, 0.0, 0L))) {
            (s, r) =>
              val newer = r.tsUs > s.tsUs ||
                (r.tsUs == s.tsUs && r.eventId > s.eventId)
              if (newer) CdcState(r.tsUs, r.eventId, r.eventType,
                r.value, s.n + 1)
              else s.copy(n = s.n + 1)
          }
          state.update(merged)
          (key, merged.eventId, merged.eventType, merged.value,
            merged.n, merged.tsUs)
        })
  }

  /** One keyed event for the streaming funnel (a03's unbounded twin). */
  case class FunnelEvent(user_id: Long, event_type: String,
                         ts_us: Long, event_id: Long)

  /** Per-user funnel progress: stage reached (1–3) and the stage
    * timestamps (−1 = not reached; a NULL long would not round-trip
    * the update-mode sink tuple).
    */
  case class FunnelState(stage: Int, t1: Long, t2: Long, t3: Long)

  /** Streaming form of [[graft.operators.AsOf.eventFunnel]] (the
    * st06/st11/st12 batch≡stream discipline): state per user is the
    * (stage, t1, t2, t3) quadruple — O(1) per user regardless of
    * history; each micro-batch folds its rows in (ts_us, event_id)
    * order through the staged transitions (first `s1` arms t1, first
    * `s2` strictly after t1 arms t2, first `s3` strictly after t2
    * arms t3) and emits the user's refreshed progress row
    * (update-mode upsert by user_id). An event-time-ordered replay
    * converges to the batch anchor exactly because each batch
    * transition takes the EARLIEST qualifying event — the same min
    * the unrolled batch aggregates take; the spec pins stream ≡
    * batch ≡ one-event-per-batch replay.
    */
  def streamingFunnel(rows: org.apache.spark.sql.Dataset[FunnelEvent],
                      s1: String = "view", s2: String = "click",
                      s3: String = "purchase")
      : org.apache.spark.sql.Dataset[(Long, Int, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[FunnelEvent],
         state: GroupState[FunnelState]) => {
          val next = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
            .foldLeft(state.getOption.getOrElse(
              FunnelState(0, -1L, -1L, -1L))) { (st, e) =>
              if (st.stage == 0 && e.event_type == s1)
                FunnelState(1, e.ts_us, -1L, -1L)
              else if (st.stage == 1 && e.event_type == s2 &&
                e.ts_us > st.t1)
                FunnelState(2, st.t1, e.ts_us, -1L)
              else if (st.stage == 2 && e.event_type == s3 &&
                e.ts_us > st.t2)
                FunnelState(3, st.t1, st.t2, e.ts_us)
              else st
            }
          state.update(next)
          (key, next.stage, next.t1, next.t2, next.t3)
        })
  }

  /** Batch anchor of [[streamingFunnel]]'s STATE TABLE (st14) — the
    * frame the update-mode sink converges to after an event-time-
    * ordered replay, exactly as the st12/st13 anchors gate their
    * streaming twins. This is [[graft.operators.AsOf.eventFunnel]]
    * recoded to the state-tuple shape, with the two differences the
    * state output has and the analytics form drops: users whose
    * events never reach `s1` are PRESENT at stage 0 (mapGroupsWithState
    * keeps state for every key that appeared — a03 omits them), and
    * unreached stage timestamps carry the −1 sentinel (a NULL long
    * would not round-trip the sink tuple). Convergence is exact
    * because each stream transition takes the EARLIEST qualifying
    * event in (ts_us, event_id) order — the same min the unrolled
    * batch aggregates take; the spec pins stream ≡ this frame ≡
    * one-event replay.
    *
    * Scale shape: a03's three pushdown-filtered min aggregates +
    * key-sized joins, plus one distinct over the key column — all
    * map-side-combinable, nothing data-sized shuffles twice.
    */
  def funnelStateBatch(events: DataFrame, s1: String = "view",
                       s2: String = "click", s3: String = "purchase")
      : DataFrame = {
    val funnel = graft.operators.AsOf.eventFunnel(events, s1, s2, s3)
    events.select(col("user_id")).distinct()
      .join(funnel, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("stage"), lit(0L)).as("stage"),
        coalesce(col("t1_us"), lit(-1L)).as("t1_us"),
        coalesce(col("t2_us"), lit(-1L)).as("t2_us"),
        coalesce(col("t3_us"), lit(-1L)).as("t3_us"))
  }

  /** One keyed event for the horizon-dedup pair (st13). */
  case class HorizonEvent(user_id: Long, event_type: String,
                          ts_us: Long, event_id: Long, value: Double)

  /** Horizon-spaced exact dedup, batch anchor (st13) — the
    * BOUNDED-STATE streaming dedup contract
    * (`dropDuplicatesWithinWatermark`'s state rule): per
    * (user_id, event_type) key, in the st02 (ts_us, event_id) total
    * order, an event is KEPT iff its ts_us lies strictly past the last
    * kept event's ts_us + horizonUs (the first event always keeps); a
    * kept event arms a suppression window that duplicates inside it do
    * NOT extend, and the first event past it re-arms. st06 keeps one
    * event per key FOREVER (state = the whole key set — unbounded
    * retention at 100 TB/day key cardinality); here state per key is
    * one timestamp that is evictable the moment the watermark passes
    * kept_ts + horizon (any later event keeps regardless), so the
    * state store is bounded by keys ACTIVE within one horizon — the
    * only exact-dedup form deployable against an unbounded key stream.
    *
    * Scale shape: greedy spaced selection is inherently sequential per
    * key (each verdict depends on the previous KEPT timestamp — max/sum
    * prefix monoids don't apply, so no two-stage window template), which
    * makes this the repo's one legitimate `flatMapSortedGroups` site:
    * ONE hash exchange on the key, Spark's secondary sort delivers each
    * group ordered by (ts_us, event_id) with no per-group buffering,
    * and the scan is O(group) with O(1) state — exactly the loop the
    * streaming form runs per micro-batch. Millions of keys parallelize
    * across tasks; no global or single-task sort anywhere.
    */
  def horizonDedupBatch(events: DataFrame,
                        horizonUs: Long = 86400000000L): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_type"),
        graft.Tables.tsUs(events).as("ts_us"), col("event_id"),
        col("value"))
      .as[HorizonEvent]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapSortedGroups(col("ts_us"), col("event_id")) {
        case (_, rows) =>
          var lastKept = Long.MinValue // MinValue + horizon stays < 0
          rows.filter { e =>
            val keep = lastKept == Long.MinValue ||
              e.ts_us > lastKept + horizonUs
            if (keep) lastKept = e.ts_us
            keep
          }
      }
      .toDF()
  }

  /** Streaming form of [[horizonDedupBatch]] (st13's unbounded twin,
    * the st06/st11/st12 batch≡stream discipline): state per
    * (user_id, event_type) is the last KEPT ts (one long); a batch's
    * rows are folded in the (ts_us, event_id) order, kept rows are
    * emitted and re-arm the window. With an upstream watermark the
    * state is droppable at lastKept + horizon (the eviction argument in
    * the batch scaladoc); the spec replays the corpus through this in
    * event-time order and pins stream ≡ batch ≡ sequential replay.
    */
  def streamingHorizonDedup(rows: org.apache.spark.sql.Dataset[HorizonEvent],
                            horizonUs: Long = 86400000000L)
      : org.apache.spark.sql.Dataset[HorizonEvent] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (_: (Long, String), it: Iterator[HorizonEvent],
         state: GroupState[Long]) => {
          var lastKept = state.getOption.getOrElse(Long.MinValue)
          val kept = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
            .filter { e =>
              val keep = lastKept == Long.MinValue ||
                e.ts_us > lastKept + horizonUs
              if (keep) lastKept = e.ts_us
              keep
            }
          state.update(lastKept)
          kept.iterator
        })
  }

  /** Windowed top-k event types, batch anchor (st15): per tumbling
    * event-time window, the `k` most frequent event types under the
    * (count DESC, type ASC) total order — the trending/leaderboard
    * query every event pipeline ends up needing, and the one windowed
    * aggregate the plain groupBy family (st01/st03) can't express
    * because it RANKS ACROSS KEYS within the window.
    *
    * Shape: one map-side-combinable (window, type) count, then a rank
    * window PARTITIONED BY window_start over the per-window type
    * counts (type-cardinality-bounded, never data-sized). The
    * streaming twin [[streamingWindowTopK]] converges to exactly this
    * frame because counts are COMMUTATIVE state — unlike the funnel's
    * order-sensitive transitions, any arrival order and any batching
    * reach the same per-window count map.
    */
  def windowTopKBatch(events: DataFrame, duration: String = "1 hour",
                      k: Int = 3): DataFrame = {
    val counts = events
      .withColumn("event_time", eventTime(events))
      .groupBy(window(col("event_time"), duration), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"))
    graft.operators.Similarity.topK(counts, k, "rank")(col("window_start"))(
      col("n").desc, col("event_type").asc)
  }

  /** One bucketed event for the windowed top-k pair (st15). */
  case class BucketEvent(bucket_us: Long, event_type: String)

  /** Windowed top-k, streaming twin of [[windowTopKBatch]]
    * (mapGroupsWithState keyed by the window bucket): state per open
    * window is the per-type count map (bounded by type cardinality ×
    * windows inside the watermark, evictable once the watermark
    * passes the window end); each micro-batch folds its rows in —
    * ORDER-IRRELEVANT, counts commute — and emits the window's
    * refreshed ordered top-k (update-mode upsert by bucket). The spec
    * pins stream ≡ batch ≡ one-event-per-batch replay; convergence
    * needs no ordering argument at all, which is exactly why count
    * leaderboards are the easiest stateful op to stream.
    */
  def streamingWindowTopK(rows: org.apache.spark.sql.Dataset[BucketEvent],
                          k: Int = 3)
      : org.apache.spark.sql.Dataset[(Long, Seq[(String, Long)])] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.bucket_us)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[BucketEvent],
         state: GroupState[Map[String, Long]]) => {
          val next = it.foldLeft(
            state.getOption.getOrElse(Map.empty[String, Long])) {
            (m, e) =>
              m + (e.event_type -> (m.getOrElse(e.event_type, 0L) + 1L))
          }
          state.update(next)
          (key, next.toSeq.sortBy { case (t, n) => (-n, t) }.take(k))
        })
  }
}
