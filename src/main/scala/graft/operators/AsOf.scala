package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

/** Temporal join operators the reference lacks entirely (SURVEY.md
  * §2.3: "No theta/range/as-of joins exist in the reference") — the
  * two shapes every event-stream analytics layer needs.
  *
  * Both are expressed so the only shuffle is on the blocking key
  * (user), never a cross product:
  *
  *   - As-of: the classic distributed formulation — union both sides,
  *     one partition-sort per user, carry the last right-side row
  *     forward with last_value(ignoreNulls). Equivalent to a merge
  *     as-of join; cost = one shuffle + per-partition sort, same as
  *     any single window function.
  *   - Range: banded (bucketized) form — the probe side joins only
  *     against the fixed number of time buckets its window can span,
  *     then the exact range predicate filters in-bucket. Join fan-out
  *     is bounded by (window / bucket + 1) per row, independent of
  *     data volume; a raw non-equi range join would be a
  *     BroadcastNestedLoop at any scale.
  */
object AsOf {

  /** For each `left` event, the most recent `right` event of the same
    * user STRICTLY before it in event time. Inputs are event subsets
    * carrying (event_id, user_id, ts_us). Output: every left row +
    * asof_event_id/asof_ts_us of the matched right row (NULL when no
    * right row precedes it).
    *
    * Tie semantics: a right row at the exact same ts_us as a left row
    * is NOT a match (strictly-before). The union sort orders
    * (ts_us, _side desc, event_id) — left rows sort before right rows
    * at an equal timestamp, so the frame below never contains them.
    * This keeps the result deterministic even when the two inputs have
    * independent event-id spaces; the only requirement is that ids are
    * unique WITHIN each input (rows of one side never tie with each
    * other). Among multiple right rows at the same (user, ts_us), the
    * largest event_id wins (last in frame order).
    */
  def asofJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.select(col("event_id"), col("user_id"), col("ts_us"),
      lit(1).as("_side"))
    val r = right.select(col("event_id"), col("user_id"), col("ts_us"),
      lit(0).as("_side"))
    // "Right rows strictly preceding this left row" is exactly the
    // frame content; the right row's own columns are NULL on left rows
    // and vice versa.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("_side").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("_r_id", when(col("_side") === 0, col("event_id")))
      .withColumn("_r_ts", when(col("_side") === 0, col("ts_us")))
      .withColumn("asof_event_id",
        last(col("_r_id"), ignoreNulls = true).over(w))
      .withColumn("asof_ts_us",
        last(col("_r_ts"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_event_id"), col("asof_ts_us"),
        (col("ts_us") - col("asof_ts_us")).as("asof_gap_us"))
  }

  /** Range-count join: for each `probe` event, how many `build` events
    * of the same user fall in the half-open window
    * [probe.ts_us − windowUs, probe.ts_us). Banded: both sides key on
    * (user, time bucket of width windowUs); each probe row checks its
    * own bucket and the previous one — the only two a windowUs-wide
    * look-back can intersect.
    */
  def rangeCountJoin(probe: DataFrame, build: DataFrame,
                     windowUs: Long): DataFrame = {
    // Bucket via exact integral division (`div`), not floor(a/b):
    // IEEE double division can round a large ts into the wrong bucket
    // and silently drop an in-window match (ADVICE r3). ts_us is
    // non-negative here so `div` == floor division.
    val bucket = expr(s"ts_us div ${windowUs}L")
    val b = build.select(col("user_id"),
      col("ts_us").as("b_ts"),
      bucket.as("bucket"))
    val p = probe.select(col("event_id"), col("user_id"), col("ts_us"),
      explode(array(bucket, bucket - 1)).as("bucket"))
    val matched = p.join(b, Seq("user_id", "bucket"))
      .filter(col("b_ts") >= col("ts_us") - windowUs &&
        col("b_ts") < col("ts_us"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_in_window"))
    probe.select(col("event_id"), col("user_id"), col("ts_us"))
      .join(matched, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("n_in_window"), lit(0L)).as("n_in_window"))
  }

  /** Ordered event funnel (a03) — the behavioral-sequence query every
    * product-analytics engine ships (and a training-data pipeline
    * runs to find interaction sequences worth sampling): per user,
    * the earliest `s1` event, the earliest `s2` STRICTLY AFTER it,
    * and the earliest `s3` strictly after that — reaching stage k
    * requires the stages in order, not mere co-occurrence (a purchase
    * before the first view does not convert). Users without an `s1`
    * are absent; stage = how far the user got (1–3).
    *
    * The sequential dependency is FIXED-DEPTH (3 stages), so it
    * unrolls declaratively — the d08/g10 fixed-rounds discipline, no
    * per-key scan needed: three pushdown-filtered scans, three
    * map-side-combinable min aggregates, two user-keyed joins (all
    * key-sized; nothing data-sized shuffles twice). A variable-depth
    * pattern would be st13's flatMapSortedGroups class instead
    * (DR-4).
    */
  def eventFunnel(events: DataFrame, s1: String = "view",
                  s2: String = "click", s3: String = "purchase")
      : DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      graft.Tables.tsUs(events).as("ts_us"))
    val t1 = e.filter(col("event_type") === s1)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1_us"))
    val t2 = e.filter(col("event_type") === s2)
      .join(t1, "user_id").filter(col("ts_us") > col("t1_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2_us"))
    val t3 = e.filter(col("event_type") === s3)
      .join(t2, "user_id").filter(col("ts_us") > col("t2_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3_us"))
    t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        (lit(1) + col("t2_us").isNotNull.cast("int")
          + col("t3_us").isNotNull.cast("int")).cast("long").as("stage"))
  }

  /** a04's gated week bucket (µs) — shared with the oracle. */
  val WeekUs: Long = 7L * 24 * 3600 * 1000000L

  /** Cohort retention matrix (a04) — the classic product-analytics
    * complement to [[eventFunnel]]: users cohorted by their FIRST
    * active week, then each (cohort, age) cell counts how many of
    * that cohort were active `age` weeks later, with the retention
    * rate against the cohort's size. Weeks are pure epoch-µs integer
    * buckets (`ts_us div 7·24·3600·10⁶`) — no calendar truncation, so
    * the bucket algebra is engine- and timezone-independent and the
    * result hash-gates (date_trunc('week') would couple the gate to
    * both engines' week-start and session-TZ conventions).
    *
    * Scale shape: one (user → min week) aggregate and one distinct
    * (user, week) projection — both map-side combinable — shuffled on
    * the SAME key (user_id), so the cohort join co-locates without a
    * third exchange; the (cohort, age) cells and cohort sizes are
    * bounded by weeks², and the size join is an explicit broadcast
    * (a 100 TB event store still spans only ~10³ weeks). By
    * construction age 0 retention is exactly 1.0 — the standard
    * sanity row, and the spec pins it.
    */
  def cohortRetention(events: DataFrame, bucketUs: Long = WeekUs)
      : DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val e = events
      .select(col("user_id"), graft.Tables.tsUs(events).as("ts_us"))
      .select(col("user_id"), expr(s"ts_us div $bucketUs").as("wk"))
    val cohort = e.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    val act = e.distinct()
    val cells = act.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("wk") - col("cohort_week")).as("age_weeks"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_weeks"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size"))
          .as("retention"))
  }

  /** a05's gated quantile count and day bucket — shared with the
    * oracle.
    */
  val RfmQuantiles: Int = 5
  val DayUs: Long = 86400000000L

  /** RFM segmentation (a05) — the marketing-analytics staple beside
    * [[cohortRetention]]: per user, recency (days since last event,
    * against the corpus max as the anchor), frequency (event count),
    * and monetary (Σ value in EXACT integer cents — a double sum is
    * summation-order-dependent and could not hash-gate), each graded
    * into `nq` equal-count quantiles with 1 = best (most recent /
    * most frequent / highest spend; ties break on user_id), composed
    * into the classic three-digit `rfm_code`.
    *
    * Scale: one map-side-combinable per-user aggregate over the event
    * store, a 1-row anchor broadcast, then THREE two-stage global
    * ranks over the (much smaller) user table — one
    * [[TwoStage.globalRank]] per dimension, joined back on user_id;
    * quantile assignment is exact integer algebra
    * ((rank−1)·nq div n + 1, n the rank's `_n`), no percentile
    * sketch, no partition-less window.
    */
  def rfmSegments(events: DataFrame, nq: Int = RfmQuantiles,
                  numPartitions: Int = 32): DataFrame = {
    require(nq >= 1, s"nq must be >= 1, got $nq")
    val e = events.select(col("user_id"),
      graft.Tables.tsUs(events).as("ts_us"), col("value"))
    val perUser = e.groupBy(col("user_id")).agg(
      max(col("ts_us")).as("last_ts"),
      count(lit(1)).as("frequency"),
      sum(floor(col("value") * lit(100.0)).cast("long"))
        .as("monetary_cents"))
    val anchor = broadcast(e.agg(max(col("ts_us")).as("t0")))
    val rfm = perUser.crossJoin(anchor)
      .select(col("user_id"),
        expr(s"(t0 - last_ts) div $DayUs").as("recency_days"),
        col("frequency"), col("monetary_cents"))
      .materialized
    def grade(order: Seq[org.apache.spark.sql.Column], qName: String) =
      TwoStage.globalRank(rfm, numPartitions, Nil, order: _*)
        .select(col("user_id"),
          (expr(s"((_rank - 1) * $nq) div _n") + 1L).as(qName))
    val rq = grade(Seq(col("recency_days").asc, col("user_id").asc), "r_q")
    val fq = grade(Seq(col("frequency").desc, col("user_id").asc), "f_q")
    val mq = grade(Seq(col("monetary_cents").desc, col("user_id").asc),
      "m_q")
    rfm.join(rq, "user_id").join(fq, "user_id").join(mq, "user_id")
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_q"), col("f_q"), col("m_q"),
        (col("r_q") * 100L + col("f_q") * 10L + col("m_q"))
          .as("rfm_code"))
  }
}
