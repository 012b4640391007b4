package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanCheck

/** The PLANCHECK drift gate's pure logic: classifier, artifact
  * round-trip, and the pair diff that decides pass/fail. The full-plan
  * sweep itself runs out-of-JVM (`runMain graft.tools.Main plancheck`) —
  * this spec pins the pieces that make its exit code trustworthy.
  */
class PlanCheckSpec extends AnyFunSuite {

  test("flagsOf classifies each red-flag class independently") {
    assert(PlanCheck.flagsOf("… BroadcastNestedLoopJoin BuildRight …")
      === Seq("BroadcastNestedLoopJoin"))
    assert(PlanCheck.flagsOf("… CartesianProduct …")
      === Seq("CartesianProduct"))
    // no-pushed-filter needs BOTH an empty pushdown AND a Filter node
    assert(PlanCheck.flagsOf("Scan parquet PushedFilters: []")
      === Seq.empty)
    assert(PlanCheck.flagsOf(
      "Filter (x > 1)\n+- Scan parquet PushedFilters: []")
      === Seq("no-pushed-filter"))
    assert(PlanCheck.flagsOf("SortAggregate(key=[…])") === Seq("sort-agg"))
    assert(PlanCheck.flagsOf("Generate explode(a)\n   +- Generate posexplode(b)")
      === Seq("stacked-generate"))
    // an intervening node breaks the stacked-generate adjacency
    assert(PlanCheck.flagsOf(
      "Generate explode(a)\n+- Project x\n   +- Generate posexplode(b)")
      === Seq.empty)
    assert(PlanCheck.flagsOf("WholeStageCodegen HashAggregate") === Seq.empty)
  }

  test("render → committedPairs round-trips the (query, flag) set") {
    val flagged = Map(
      "q99_example" -> Seq("sort-agg", "BroadcastNestedLoopJoin"),
      "d99_other" -> Seq("no-pushed-filter"))
    val tmp = java.nio.file.Files.createTempFile("plancheck", ".json")
    java.nio.file.Files.writeString(tmp, PlanCheck.render("/sf", flagged))
    val pairs = PlanCheck.committedPairs(tmp.toString)
    assert(pairs === Set(
      "q99_example" -> "sort-agg",
      "q99_example" -> "BroadcastNestedLoopJoin",
      "d99_other" -> "no-pushed-filter"))
    java.nio.file.Files.delete(tmp)
  }

  test("a missing artifact yields zero committed pairs (everything drifts)") {
    assert(PlanCheck.committedPairs("/nonexistent/PLANCHECK.json").isEmpty)
  }
}

/** The range-redraw structural gate (VERDICT r15 #3): the p24
  * boundary-redraw bug class must be UNRETURNABLE, not just fixed.
  * These plans need a live session, so they sit in a SparkSpec
  * sibling of the pure-logic suite above.
  */
class PlanCheckRedrawSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window

  private def base = table("nation")
    .select(col("n_nationkey").as("k"), col("n_name").as("p"))

  /** The template's two consumers — a local rank and the per-partition
    * counts — over whatever parted frame the caller hands in. This is
    * the exact consumption shape of every TwoStage site; `p` rides
    * only the rank branch so column pruning gives the two branches
    * DIFFERENT projections (p24's ReusedExchange-defeating shape).
    */
  private def twoConsumers(parted: org.apache.spark.sql.DataFrame) = {
    val local = parted.withColumn("_r",
      row_number().over(Window.partitionBy("_pid").orderBy("k")))
    val counts = parted.groupBy("_pid").agg(count(lit(1)).as("_c"))
    local.join(counts, "_pid").select(col("k"), col("p"), col("_r"),
      col("_c"))
  }

  test("a deliberately un-pinned two-consumer range exchange is flagged") {
    val raw = base.repartitionByRange(4, col("k").asc)
      .withColumn("_pid", spark_partition_id())
    val qe = twoConsumers(raw).queryExecution
    assert(PlanCheck.rangeRedrawFlags(qe.optimizedPlan)
      === Seq("range-redraw"))
  }

  test("the TwoStage.rangeParted pin leaves no surviving range exchange") {
    val pinned = graft.operators.TwoStage.rangeParted(base, 4, col("k").asc)
    val qe = twoConsumers(pinned).queryExecution
    assert(PlanCheck.rangeRedrawFlags(qe.optimizedPlan) === Seq.empty)
    // and the pin really did absorb the exchange: no
    // RepartitionByExpression node survives at all
    assert(qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical
        .RepartitionByExpression => r
    }.isEmpty)
  }

  test("a single-consumer raw range-repartition is safe and unflagged") {
    val one = base.repartitionByRange(4, col("k").asc)
      .filter(col("k") > 1)
    assert(PlanCheck.rangeRedrawFlags(one.queryExecution.optimizedPlan)
      === Seq.empty)
  }

  test("two INDEPENDENT same-shape single-consumer range repartitions " +
    "pass clean — the filter-predicate signature term (ADVICE r17) — " +
    "while the true redraw still trips") {
    // each repartition has ONE consumer; the consumers' filters push
    // below the exchanges, so the subtree filter sets differ — the
    // pruning-insensitive discriminator copies of one exchange can't
    // have (both copies carry the same pushed predicates)
    val r1 = base.repartitionByRange(4, col("k").asc)
      .filter(col("k") > 1).select(col("k"))
    val r2 = base.repartitionByRange(4, col("k").asc)
      .filter(col("k") > 2).select(col("k"))
    val independents = r1.union(r2)
    assert(PlanCheck.rangeRedrawFlags(
      independents.queryExecution.optimizedPlan) === Seq.empty,
      "independent single-consumer repartitions false-positived")
    // the known-bug shape keeps tripping under the refined signature
    val parted = base.repartitionByRange(4, col("k").asc)
      .withColumn("_pid", spark_partition_id())
    assert(PlanCheck.rangeRedrawFlags(
      twoConsumers(parted).queryExecution.optimizedPlan)
      === Seq("range-redraw"))
  }
}

/** The partition-less data-sized window gate (VERDICT r16 #2): the
  * single-task global sort the hashRank migration removed must be
  * structurally unreturnable, like the range-redraw class before it.
  */
class PlanCheckWindowSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window

  private def corpus = table("nation")
    .select(col("n_nationkey").as("k"), col("n_name").as("p"))

  test("a partition-less window over a raw corpus scan is flagged") {
    val bad = corpus.withColumn("rn",
      row_number().over(Window.orderBy(col("k"))))
    assert(PlanCheck.unpartitionedWindowFlags(
      bad.queryExecution.optimizedPlan) === Seq("unpartitioned-window"))
  }

  test("the TwoStage offsets template (counts-table window) is benign") {
    // the exact wOff shape every two-stage call site uses: a window
    // ordered by _pid over the per-_pid counts AGGREGATE — grouping
    // covers the sort key, output bounded by the partition count
    val parted = graft.operators.TwoStage.rangeParted(corpus, 4,
      col("k").asc)
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
    val wOff = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_c")).over(wOff), lit(0L)).as("_off"))
    assert(PlanCheck.unpartitionedWindowFlags(
      offsets.queryExecution.optimizedPlan) === Seq.empty)
  }

  test("a non-covering aggregate under a partition-less window is flagged") {
    // groupBy(k) bounds rows per key to 1 but the window sorts by a
    // NON-grouping column — key-cardinality-sized input on one task
    val agg = corpus.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(Window.orderBy(col("c"))))
    assert(PlanCheck.unpartitionedWindowFlags(
      agg.queryExecution.optimizedPlan) === Seq("unpartitioned-window"))
  }

  test("a partitioned window over the corpus stays unflagged") {
    val ok = corpus.withColumn("rn",
      row_number().over(Window.partitionBy(col("p")).orderBy(col("k"))))
    assert(PlanCheck.unpartitionedWindowFlags(
      ok.queryExecution.optimizedPlan) === Seq.empty)
  }

  test("a RENAME between the covering aggregate and the window is " +
    "clean — exprId matching through Project aliases (ADVICE r17)") {
    // the name-only version flagged this: grouping name k vs sort
    // name k2, though k2 IS the grouping attribute renamed
    val renamed = corpus.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .select(col("k").as("k2"), col("c"))
      .withColumn("rn", row_number().over(Window.orderBy(col("k2"))))
    assert(PlanCheck.unpartitionedWindowFlags(
      renamed.queryExecution.optimizedPlan) === Seq.empty)
  }

  test("an aggregate column wearing the grouping key's NAME does not " +
    "cover the window — the same-name collision hole (ADVICE r17)") {
    // sort key is max(p) renamed to "k": the name-only version let
    // the groupBy(k) "cover" it; by attribute it is not a grouping
    // output, so the key-cardinality-sized one-task sort is flagged
    val collided = corpus.groupBy(col("k")).agg(max(col("p")).as("m"))
      .select(col("m").as("k"))
      .withColumn("rn", row_number().over(Window.orderBy(col("k"))))
    assert(PlanCheck.unpartitionedWindowFlags(
      collided.queryExecution.optimizedPlan)
      === Seq("unpartitioned-window"))
  }

  test("a sort key aliased to a REFERENCE-FREE expression is " +
    "unresolvable, not vacuously bounded (ADVICE r18)") {
    // the key traces to a Project alias with no attribute references;
    // the one-task sort above it is still corpus-sized, so dropping
    // the key from the trace set must flag, not clear. The alias must
    // survive optimization: build the Window plan MANUALLY over the
    // analyzed Project (Catalyst would fold an ordering literal away
    // before the sweep sees it, which is exactly why the matcher —
    // which also runs on un-optimized shapes in other tools — must
    // not have the hole).
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.dsl.plans._
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Ascending, Literal, SortOrder, WindowExpression,
      WindowSpecDefinition, SpecifiedWindowFrame, RowFrame,
      UnboundedPreceding, CurrentRow}
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val base = corpus.queryExecution.analyzed
    val lit1 = Alias(Literal(1), "c1")()
    val proj = base.select(base.output.head, lit1)
    val sortKey = lit1.toAttribute
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
      CurrentRow)
    val spec = WindowSpecDefinition(Nil,
      Seq(SortOrder(sortKey, Ascending)), frame)
    val wexpr = Alias(WindowExpression(
      org.apache.spark.sql.catalyst.expressions.RowNumber(), spec),
      "rn")()
    val win = Window(Seq(wexpr), Nil,
      Seq(SortOrder(sortKey, Ascending)), proj)
    assert(PlanCheck.unpartitionedWindowFlags(win)
      === Seq("unpartitioned-window"))
  }
}
