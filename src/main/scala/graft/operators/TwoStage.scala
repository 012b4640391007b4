package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize.MatOps

/** The repo's two-stage global rank ([[TwoStage.globalRank]]; the
  * t06/q35/p10 shape): range-repartition on the order key so
  * partition i holds a contiguous key range, stamp each row with its
  * partition id, rank locally per `_pid`, and offset by the
  * partition-count prefix window over the tiny per-`_pid` counts
  * table — a global total order with no partition-less window and no
  * single-task sort. Callers hand in a frame and an order and read
  * `_rank`/`_n` back; none re-types the algebra.
  *
  * THE PIN IS LOAD-BEARING, not an optimization. Spark's
  * RangePartitioner draws its boundaries from a reservoir SAMPLE
  * seeded per evaluation (per physical RDD id), so two evaluations of
  * the same `repartitionByRange` can place the same row in DIFFERENT
  * partitions. Every caller of this template consumes the parted
  * frame from at least two plan branches (the local-rank window and
  * the per-partition counts); if those branches re-execute the
  * exchange under different boundary draws, the offsets no longer
  * describe the partitions the ranks were computed in and the
  * "global rank" silently stops being a permutation. Exchange reuse
  * (ReusedExchange) hides this WHEN it fires, but it only fires when
  * both branches prune the exchange child to identical schemas — a
  * fragile, invisible precondition. Observed twice: p16 shard ranges
  * overlapping at sf0.01 (zorderLayout's original un-pinned frame),
  * and p24's grade counts drifting 4776..5429 vs the exact 5000 at
  * the 50k-doc sf1eq probe tier (round 15) while both driver SFs
  * passed — the branches carried different non-key columns, reuse
  * never fired, and only the bigger tier's sample variance made the
  * corruption visible.
  *
  * Materializing AFTER the exchange pins one boundary draw for every
  * consumer. The cost is one Materialize-strategy checkpoint of the
  * NARROW rank base — callers project to key + payload columns
  * first, so this is a small fraction of the corpus it derives from;
  * on a 100 TB cluster run the strategy is
  * [[graft.Materialize.ReliableCheckpoint]] and the write+read is the
  * price of an exact, deterministic global rank. Given the pin, the
  * result is fully deterministic: the rank of a row is its position
  * in the total `order`, independent of which boundary draw was
  * pinned.
  *
  * THE POST-PIN DOES NOT MAKE THE CHILD EVALUATE ONCE. Range
  * partitioning runs TWO jobs over the un-pinned child: the
  * RangePartitioner's boundary-sampling pass (a full evaluation —
  * reservoir sampling reads every row), then the shuffle map stage.
  * If the child contains its own shuffle, the second job reuses the
  * first's shuffle files (skipped stages) and only the post-shuffle
  * tail re-runs — cheap, no pre-pin needed (vocabulary's explode+agg,
  * epochOrder's per-lang window). But a SHUFFLE-FREE child re-runs
  * in full: a derived corpus scan (md5, tokenization, score math)
  * pays its scan+compute twice, which at the 100 TB design point is
  * 2× a corpus pass. Those call sites pre-pin the narrow projection
  * (`rangeParted(base.materialized, ...)`) so the derivation runs
  * once and both jobs read checkpoint blocks; cheap shuffle-free
  * children (plain column selects off parquet — skippingProbe,
  * groupQuantiles, latenessProfile) accept the double pruned-columnar
  * read instead, which costs less than a checkpoint write+2 reads.
  */
object TwoStage {

  /** Range-repartition `df` on `order`, stamp `_pid`, and pin the
    * result so every downstream branch sees one boundary draw.
    * `order` must be a TOTAL order (callers append a unique
    * tiebreaker key) for the derived global rank to be deterministic.
    */
  def rangeParted(df: DataFrame, numPartitions: Int,
                  order: Column*): DataFrame =
    df.repartitionByRange(numPartitions, order: _*)
      .withColumn("_pid", spark_partition_id())
      .materialized

  /** `df`'s columns plus `_rank`, the 1-based long position of each
    * row in `order` within its `groups` (the whole frame when `groups`
    * is empty), and `_n`, the size of the row's group. `order` must be
    * a total order within each group.
    *
    * [[rangeParted]] on `groups ++ order`, a local `row_number` per
    * (`_pid`, groups), and one window over the ≤ numPartitions×groups
    * counts table giving each (`_pid`, group) its earlier partitions'
    * count, broadcast back. `_n` shares that window's partitioning and
    * order (whole frame instead of the prefix), so it adds no
    * operator, and Catalyst prunes it where the caller never reads it:
    * a rank-only caller gets the same plan as without it.
    */
  def globalRank(df: DataFrame, numPartitions: Int, groups: Seq[String],
                 order: Column*): DataFrame = {
    val g = groups.map(col)
    val parted = rangeParted(df, numPartitions, g.map(_.asc) ++ order: _*)
    val local = parted.withColumn("_lrk", row_number()
      .over(Window.partitionBy(col("_pid") +: g: _*).orderBy(order: _*)))
    val byPid = Window.partitionBy(g: _*).orderBy(col("_pid"))
    val offsets = parted.groupBy(col("_pid") +: g: _*)
      .agg(count(lit(1)).as("_cnt"))
      .select(col("_pid") +: g :+
        coalesce(sum(col("_cnt")).over(
          byPid.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("_off") :+
        sum(col("_cnt")).over(byPid.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("_n"): _*)
    local.join(broadcast(offsets), "_pid" +: groups)
      .select(df.columns.map(col) :+
        (col("_off") + col("_lrk")).as("_rank") :+ col("_n"): _*)
  }
}
