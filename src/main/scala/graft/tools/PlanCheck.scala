package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Versioned plan-flag sweep (VERDICT r14 #3): the red-flag classifier
  * over every registered query's plan, committed as an artifact
  * (PLANCHECK.json) and DIFFED against it, so flag-class drift fails
  * loudly instead of being re-derived from BASELINE.md prose each
  * round.
  *
  * Contract: every (query, flag) pair the sweep finds must already be
  * in the committed artifact. A pair NOT in the artifact — a veteran
  * gaining a flag, or a new entrant carrying one — exits 1 with a
  * `FAIL plancheck:` line, forcing a conscious artifact re-commit
  * (`--write`) instead of silent drift. Clean new entrants pass
  * without a re-commit: the artifact records only flagged queries, so
  * the common case (new query, clean plan) costs nothing. Pairs in
  * the artifact that no longer flag are INFO-only (an improvement;
  * refresh the artifact at leisure).
  *
  * Usage (sf from SPARK_GRAFT_SF_DIR, session local[8]):
  *   runMain graft.tools.Main plancheck          — sweep + diff, exit 1 on drift
  *   runMain graft.tools.Main plancheck --write  — sweep + (re)write PLANCHECK.json
  */
object PlanCheck {

  /** The flag classes, single source of truth. Each matches a
    * structural red flag in the STATIC executed plan; the benign
    * instances are enumerated in PLANCHECK.json and explained in
    * BASELINE.md §3.3:
    * BroadcastNestedLoopJoin = the 1-row-broadcast scalar-anchor
    * class; no-pushed-filter = derived-column filters above their
    * producers; stacked-generate = cheap int-sequence generators
    * (m03/m04). Anything NEW in any class is drift.
    */
  /** VERDICT r15 #3: the p24 boundary-redraw class, gated structurally
    * instead of by convention. A `repartitionByRange` whose exchange
    * is consumed by more than one plan branch without an interposed
    * Materialize is exactly the shape that corrupted p24 (RangePartitioner
    * draws boundaries from a per-evaluation reservoir sample, so two
    * un-pinned evaluations can place the same row in different
    * partitions — TwoStage scaladoc). Detection: in the OPTIMIZED
    * logical plan, a multi-consumer range exchange appears as ≥2
    * `RepartitionByExpression(SortOrder…)` occurrences. The copies are
    * NOT textually identical: the analyzer re-numbers expression IDs
    * per branch (self-join dedup), and column pruning may give the
    * copies different child projections (p24's rank branch carried
    * n_tokens, its counts branch did not, which is why ReusedExchange
    * missed it). What survives both rewrites is the sort-key SHAPE and
    * the scan leaves, so the signature is (sort-order rendering with
    * exprIds stripped, partition count, sorted leaf-relation
    * renderings with exprIds stripped), PLUS — the r18 hardening
    * (ADVICE r16/r17) — the sorted FILTER-predicate renderings of the
    * repartition's subtree. Filters are the one discriminator that is
    * pruning-insensitive in the right direction: copies of ONE
    * exchange differ only in pruned projections (never in their
    * filters — both copies carry the same pushed-down predicates),
    * while two genuinely independent same-keyed repartitions in one
    * plan typically differ precisely in the predicates their separate
    * consumers pushed below the exchange. (The parent-side rendering
    * would point the WRONG way: the true p24 redraw's two consumers
    * are a Window and an Aggregate — including parents would unflag
    * the known bug.) Identical-filter independents still collide —
    * the committed-artifact adjudication absorbs any such benign
    * future entry, and today the registry contains ZERO surviving
    * range exchanges (every template site is pinned), so any hit is
    * real drift. The residual false-NEGATIVE of the hardening — a
    * true redraw where a predicate pushes into only one copy's branch
    * (through a Window or Aggregate) — is covered the same way: a
    * surviving range exchange of any signature is already
    * registry-drift to be reviewed.
    * A TwoStage.rangeParted pin never trips this: the eager
    * post-exchange Materialize replaces the whole subtree with a
    * LogicalRDD scan, so NO RepartitionByExpression survives to the
    * consumers at all. A single-consumer raw range-repartition is safe
    * (one shuffle, one boundary draw) and is not flagged.
    */
  def rangeRedrawFlags(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.SortOrder
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, RepartitionByExpression}
    def strip(s: String): String = s.replaceAll("#\\d+", "")
    val sigs = plan.collect {
      case r: RepartitionByExpression
          if r.partitionExpressions.exists(_.isInstanceOf[SortOrder]) =>
        strip(r.partitionExpressions.mkString(",")) + "|" +
          r.optNumPartitions.getOrElse(0) + "|" +
          r.collectLeaves().map(l => strip(l.simpleString(10)))
            .sorted.mkString(";") + "|" +
          r.collect { case f: Filter => strip(f.condition.toString) }
            .sorted.mkString(";")
    }
    if (sigs.groupBy(identity).exists(_._2.size >= 2))
      Seq("range-redraw") else Seq.empty
  }

  /** VERDICT r16 #2: the partition-less DATA-SIZED window class, gated
    * structurally — the same convention→gate promotion the range-redraw
    * class got in r16. A logical `Window` with an empty partitionSpec
    * sorts and ranks its WHOLE input on one task; at 100 TB that is the
    * single-task global sort the hashRank migration just removed, and
    * nothing but convention stopped a future operator from reintroducing
    * it. The benign class (the TwoStage offsets template and 1-row
    * anchors) is structurally recognizable: the window's input is a
    * bounded AGGREGATE frame — every leaf-to-window path passes through
    * an Aggregate whose grouping keys COVER the window's sort keys
    * (one output row per ordered key; for the counts tables that is the
    * ≤numPartitions `_pid` domain) or whose grouping is empty (a global
    * 1-row rollup), or through a GlobalLimit (output bounded by the
    * literal). A covering aggregate does NOT prove small cardinality in
    * general (groupBy(doc_id) would cover an orderBy(doc_id)) — no
    * static rule can — but it rules out every shape that reaches the
    * window without a key-collapsing reduction, which is the bug class:
    * corpus rows flowing raw into a one-task sort. Anything flagged
    * lands in the committed-artifact adjudication like every other
    * class.
    */
  def unpartitionedWindowFlags(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Attribute, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LogicalPlan, Project, Window}
    // ADVICE r17: match sort keys to aggregate grouping keys by
    // ATTRIBUTE (exprId), walked down through Project aliases — the
    // name-only version both false-negatived (a self-join exposes two
    // attributes named k; an Aggregate grouping ITS k "covered" a
    // window sorting the OTHER one) and false-positived (a rename
    // between the aggregate and the window broke the name match).
    // "Covered" at an Aggregate now means: every sort-key attribute
    // is an aggregate OUTPUT that is a grouping expression or an
    // alias of one. At multi-child nodes each child is checked
    // against the keys it actually produces (a child producing none
    // still needs its own bounding reduction — raw fan-in from any
    // branch is the bug class).
    def bounded(p: LogicalPlan, keys: Seq[Attribute]): Boolean = p match {
      case a: Aggregate =>
        a.groupingExpressions.isEmpty || {
          val groupOut = a.aggregateExpressions.collect {
            case al: Alias
                if a.groupingExpressions.exists(_.semanticEquals(al.child)) =>
              al.toAttribute.exprId
            case ar: AttributeReference
                if a.groupingExpressions.exists(_.semanticEquals(ar)) =>
              ar.exprId
          }.toSet
          keys.forall(k => groupOut.contains(k.exprId))
        }
      case _: GlobalLimit => true
      case pr: Project =>
        // A sort key aliased to a REFERENCE-FREE expression (a
        // literal, a rand-free constant fold) cannot be traced to any
        // bounding reduction below — dropping it from the key set
        // made the branch vacuously bounded (ADVICE r18) even though
        // the one-task sort above is still data-sized. Unresolvable
        // ⇒ not bounded.
        val traced = keys.map { k =>
          pr.projectList.find(_.toAttribute.exprId == k.exprId) match {
            case Some(al: Alias) =>
              val refs = al.child.references.toSeq
              if (refs.isEmpty) None else Some(refs)
            case Some(other) => Some(Seq(other.toAttribute))
            case None => Some(Seq(k))
          }
        }
        traced.forall(_.isDefined) &&
          bounded(pr.child, traced.flatten.flatten.distinct)
      case l if l.children.isEmpty => false
      case o => o.children.forall(c =>
        bounded(c, keys.filter(c.outputSet.contains)))
    }
    val bad = plan.collect {
      case w: Window if w.partitionSpec.isEmpty &&
          !bounded(w.child,
            w.orderSpec.flatMap(_.references).distinct) => w
    }
    if (bad.nonEmpty) Seq("unpartitioned-window") else Seq.empty
  }

  def flagsOf(plan: String): Seq[String] = Seq(
    "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
    "CartesianProduct" -> plan.contains("CartesianProduct"),
    "no-pushed-filter" -> (plan.contains("PushedFilters: []") &&
      plan.contains("Filter (")),
    "sort-agg" -> plan.contains("SortAggregate"),
    "stacked-generate" ->
      "Generate [^\n]*\n\\s*\\+- Generate ".r.findFirstIn(plan).isDefined
  ).collect { case (f, true) => f }

  /** Sweep every registered query's static executed plan. Returns
    * name → flags (flagged queries only) and the error list (a query
    * whose plan fails to even compile is itself a drift failure).
    */
  def sweep(spark: SparkSession, sfDir: String)
      : (Map[String, Seq[String]], Seq[String]) = {
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    val flagged = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val qe = fn(spark, sfDir).queryExecution
          val fl = flagsOf(qe.executedPlan.toString) ++
            rangeRedrawFlags(qe.optimizedPlan) ++
            unpartitionedWindowFlags(qe.optimizedPlan)
          if (fl.isEmpty) None else Some(name -> fl)
        } catch {
          case e: Throwable =>
            errors += s"$name: ${e.getClass.getSimpleName} ${
              String.valueOf(e.getMessage).take(120)}"
            None
        }
    }
    (flagged.toMap, errors.toList)
  }

  def render(sfDir: String, flagged: Map[String, Seq[String]]): String = {
    val body = flagged.toSeq.sortBy(_._1).map { case (n, fl) =>
      s"""  "$n": [${fl.sorted.map("\"" + _ + "\"").mkString(", ")}]"""
    }.mkString(",\n")
    s"""{
 "source": "graft.tools.PlanCheck static executed-plan sweep",
 "sf": "$sfDir",
 "flag_total": ${flagged.values.map(_.size).sum},
 "flagged_queries": ${flagged.size},
 "flags": {
$body
 }
}
"""
  }

  /** Parse the committed artifact's (query, flag) pairs. Flat regex
    * read (same stance as Bench's anchor read): the writer controls
    * the format, and a parse failure of a missing file just means
    * "no committed pairs" → everything current is new → loud fail,
    * which is the correct behavior for a deleted artifact too.
    */
  def committedPairs(path: String): Set[(String, String)] =
    try {
      val txt = Files.readString(Paths.get(path))
      val sect = txt.substring(txt.indexOf("\"flags\""))
      """"([A-Za-z0-9_]+)"\s*:\s*\[([^\]]*)\]""".r.findAllMatchIn(sect)
        .flatMap { m =>
          """"([^"]+)"""".r.findAllMatchIn(m.group(2))
            .map(f => m.group(1) -> f.group(1))
        }.toSet
    } catch { case _: Throwable => Set.empty }

  /** `plancheck [--write] [path]`: sweep, then diff against (or with
    * `--write` re-record) the artifact at `path` → exit code.
    */
  def check(spark: SparkSession, args: Seq[String]): Int = {
    val write = args.contains("--write")
    val path = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("PLANCHECK.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val (flagged, errors) = sweep(spark, sfDir)
    errors.foreach(e => println(s"FAIL plancheck-error: $e"))
    if (write) {
      Files.writeString(Paths.get(path), render(sfDir, flagged))
      println(s"PLANCHECK written: ${flagged.size} flagged queries, " +
        s"${flagged.values.map(_.size).sum} flags → $path")
      if (errors.nonEmpty) 1 else 0
    } else {
      val committed = committedPairs(path)
      val current = flagged.toSeq
        .flatMap { case (n, fl) => fl.map(n -> _) }.toSet
      val fresh = (current -- committed).toSeq.sorted
      val gone = (committed -- current).toSeq.sorted
      fresh.foreach { case (n, f) =>
        println(s"FAIL plancheck: NEW flag '$f' on $n (not in $path — " +
          "investigate, then re-commit with --write if benign)")
      }
      gone.foreach { case (n, f) =>
        println(s"INFO plancheck: flag '$f' on $n cleared (artifact stale)")
      }
      println(s"PLANCHECK ${if (fresh.isEmpty && errors.isEmpty) "OK"
        else "DRIFT"}: ${current.size} flags on ${flagged.size} queries " +
        s"vs ${committed.size} committed pairs")
      if (fresh.nonEmpty || errors.nonEmpty) 1 else 0
    }
  }
}
