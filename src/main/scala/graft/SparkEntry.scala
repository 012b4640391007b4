package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry pairs a Spark plan (built from the operator modules under
  * graft.operators) with equivalent ANSI SQL the driver runs in DuckDB on
  * the same parquet inputs. Column names are aliased identically on both
  * sides (the driver sorts columns by name before hashing).
  */
object SparkEntry {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 A1-A4: grouped aggregation, partial+final hash agg.
    "q01_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Relational.moneyOut(sum(Relational.money(col("l_quantity"))))
            .as("sum_qty"),
          Relational.moneyOut(sum(Relational.money(col("l_extendedprice"))))
            .as("sum_price"),
          count(lit(1)).as("n_rows"))),
    // §2.2 P1/P2 + §2.8 F1: pushed filter + concat-key projection.
    "q02_filter_project" -> ((s, dir) =>
      Relational.filterProject(t(s, dir, "lineitem"))),
    // §2.3: broadcast star join.
    "q03_join_broadcast" -> ((s, dir) =>
      Relational.regionRollup(t(s, dir, "customer"), t(s, dir, "nation"),
        t(s, dir, "region"))),
    // §2.3: large shuffle join.
    "q04_join_shuffle" -> ((s, dir) =>
      Relational.orderRevenue(t(s, dir, "orders"), t(s, dir, "lineitem"))),
    // §2.5: window ranking.
    "q05_window_latest" -> ((s, dir) =>
      Relational.latestOrderPerCustomer(t(s, dir, "orders"))),
    // §2.6: global top-k (TakeOrderedAndProject).
    "q06_topk" -> ((s, dir) =>
      Relational.topOrders(t(s, dir, "orders"), 100)),
    // §2.7: intersect.
    "q07_intersect" -> ((s, dir) =>
      Relational.urgentAndLowCustomers(t(s, dir, "orders"))),
    // §2.7: except.
    "q08_except" -> ((s, dir) =>
      Relational.custkeysExceptFinished(t(s, dir, "orders"))),
    // §2.3: left-semi join.
    "q09_semi_join" -> ((s, dir) =>
      Relational.customersWithOrders(t(s, dir, "customer"),
        t(s, dir, "orders"))),
    // §2.3: left-anti join.
    "q10_anti_join" -> ((s, dir) =>
      Relational.customersWithoutOrders(t(s, dir, "customer"),
        t(s, dir, "orders"))),
    // §2.4: rollup grouping sets.
    "q11_rollup" -> ((s, dir) =>
      Relational.lineitemRollup(t(s, dir, "lineitem"))),
    // §2.4: cube grouping sets.
    "q12_cube" -> ((s, dir) =>
      Relational.orderCube(t(s, dir, "orders"))),
    // §2.9 N1-N3: explode fan-out.
    "q13_explode_words" -> ((s, dir) =>
      Relational.partNameWords(t(s, dir, "part"))),
    // §2.1 S2 + §2.8 F8: JSON payload extraction.
    "q14_json_props" -> ((s, dir) =>
      Relational.eventPropsAgg(t(s, dir, "events"))),
    // §2.8 date functions.
    "q15_monthly" -> ((s, dir) =>
      Relational.monthlyOrders(t(s, dir, "orders"))),
    // §2.8 F1-F3 string functions.
    "q16_strings" -> ((s, dir) =>
      Relational.partStrings(t(s, dir, "part"))),
    // §2.8 F4 arithmetic.
    "q17_math" -> ((s, dir) =>
      Relational.lineitemMath(t(s, dir, "lineitem"))),
    // §2.7 U1/U2 + §2.4 A3: union + distinct key space.
    "q18_union_distinct" -> ((s, dir) =>
      Relational.accountKeySpace(t(s, dir, "orders"), t(s, dir, "customer"))),
    // §2.4 A3/A4: exact distinct counts.
    "q19_distinct_counts" -> ((s, dir) =>
      Relational.distinctCounts(t(s, dir, "lineitem"))),
    // §2.4: HLL++ sketch distinct, gated through its ERROR CONTRACT:
    // |approx − exact|/exact ≤ 5·rsd emitted as 0/1 beside the exact
    // count; the oracle mirrors with exact distinct + literal 1, so
    // sketch drift past the bound hash-fails. The raw estimate is
    // engine-specific and NOT hash-gateable — the former standalone
    // q20 carried it as the artifact's one permanent `no_oracle` row,
    // so it was folded in here (r13 verdict item 1):
    // Relational.approxDistinctCounts remains the estimate-bearing
    // form, accuracy spec-asserted vs exact in EntrySpec.
    "q20b_approx_distinct_err" -> ((s, dir) =>
      Relational.approxDistinctError(t(s, dir, "lineitem"))),
    // The quantile sketch's hash-gated error contract (q20b's sibling;
    // q29/q35 are the exact forms): percentile_approx's returned
    // member re-ranked against its group, `|rank − 0.5·N| ≤ N/accuracy`
    // as 0/1; oracle mirrors with count(*) + literal 1.
    "q37_approx_quantile_err" -> ((s, dir) =>
      Relational.approxQuantileError(t(s, dir, "lineitem"))),
    // The frequency sketch's contract (the third sketch rung): one
    // global count-min over l_suppkey probed at the exact top-20 keys
    // via the native CmsEstimateL decoder; `exact ≤ est ≤ exact +
    // 5·eps·N` as 0/1 — CMS can only overestimate, and its counter
    // merges are order-deterministic, unlike HLL/GK.
    "q38_heavy_hitter_err" -> ((s, dir) =>
      Relational.heavyHitterError(t(s, dir, "lineitem"))),
    // Partial-aggregate merge gate: split-aggregate-merge must equal
    // the direct aggregate (the incremental-rollup invariant).
    "q39_merge_agg" -> ((s, dir) =>
      Relational.mergedPartialAgg(t(s, dir, "lineitem"))),
    // TPC-H Q3 shape: 3-way join + filtered agg + top-k.
    "q21_shipping_priority" -> ((s, dir) =>
      Relational.shippingPriority(t(s, dir, "customer"),
        t(s, dir, "orders"), t(s, dir, "lineitem"))),
    // TPC-H Q10 shape: returned-revenue per customer, broadcast dim.
    "q22_returned_items" -> ((s, dir) =>
      Relational.returnedItemReport(t(s, dir, "customer"),
        t(s, dir, "orders"), t(s, dir, "lineitem"), t(s, dir, "nation"))),
    // Correlated-subquery shape, decorrelated, exact-decimal compare.
    "q23_above_nation_avg" -> ((s, dir) =>
      Relational.aboveNationAverage(t(s, dir, "customer"))),
    // §2.5: lag/lead offsets + date interval.
    "q24_lag_lead" -> ((s, dir) =>
      Relational.orderGaps(t(s, dir, "orders"))),
    // §2.5: running-total frame (ROWS UNBOUNDED PRECEDING), exact decimal.
    "q25_running_sum" -> ((s, dir) =>
      Relational.runningOrderTotal(t(s, dir, "orders"))),
    // §2.4: explicit GROUPING SETS + grouping_id.
    "q26_grouping_sets" -> ((s, dir) =>
      Relational.lineitemGroupingSets(t(s, dir, "lineitem"))),
    // §2.4: pivot with declared value domain (one conditional agg pass).
    "q27_pivot" -> ((s, dir) =>
      Relational.lineitemPivot(t(s, dir, "lineitem"))),
    // §2.4: order-insensitive string aggregation.
    "q28_sorted_concat" -> ((s, dir) =>
      Relational.priorityStatusConcat(t(s, dir, "orders"))),
    // §2.4: exact interpolated median per group.
    "q29_median" -> ((s, dir) =>
      Relational.quantityMedian(t(s, dir, "lineitem"))),
    // §2.8: three-valued-logic aggregation battery.
    "q30_null_semantics" -> ((s, dir) =>
      Relational.nullSemantics(t(s, dir, "orders"))),
    // §2.3: FULL OUTER join of two partial aggregates.
    "q31_full_outer" -> ((s, dir) =>
      Relational.urgentVsLowCounts(t(s, dir, "orders"))),
    // §2.5: dense_rank / percent_rank / cume_dist / ntile.
    "q32_rank_fns" -> ((s, dir) =>
      Relational.spendDistribution(t(s, dir, "orders"))),
    // §2.5: value-based RANGE frame (30-day trailing sum).
    "q33_range_frame" -> ((s, dir) =>
      Relational.trailingSpend30d(t(s, dir, "orders"))),
    // §2.5: first/nth/last value over the full partition frame.
    "q34_bookends" -> ((s, dir) =>
      Relational.orderBookends(t(s, dir, "orders"))),
    // §2.11 SQL-text surface: the native kernels reached through
    // spark.sql(...) via the injectFunction registrations
    // (GraftFunctions) — same codegen'd expressions as the Column API,
    // gated against the same DuckDB mirrors (d04's simhash, the
    // foldSum dot).
    "q36_sql_kernels" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT d.doc_id,
        |  graft_simhash(transform(split(d.text, ' '),
        |    x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)))
        |    AS simhash,
        |  graft_dot(CAST(e.embedding AS ARRAY<DOUBLE>),
        |            CAST(e.embedding AS ARRAY<DOUBLE>)) AS self_dot
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |""".stripMargin)
    }),
    // Null-aware anti-join semantics gate: NOT IN over a subquery
    // CONTAINING a NULL returns the empty set (x <> NULL is unknown)
    // where NOT EXISTS keeps its rows — the classic decorrelation
    // trap, pinned through Spark's SQL path (the null-aware case
    // plans as a NullAwareAntiJoin BNLJ; the null-free case as a
    // broadcast left-anti hash join). Output = the three counts side
    // by side, so a planner that ever "optimizes" NOT IN into a plain
    // anti join hash-fails here.
    "q40_null_aware_antijoin" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey NOT IN
        |   (SELECT c_custkey FROM customer WHERE c_acctbal < 0))
        |   AS not_in_clean,
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey NOT IN
        |   (SELECT nullif(c_custkey, c_custkey) FROM customer
        |    WHERE c_acctbal < 0
        |    UNION ALL SELECT NULL))
        |   AS not_in_with_null,
        | (SELECT count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |   WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0))
        |   AS not_exists
        |""".stripMargin)
    }),
    // §2.3 extension: as-of (latest-before) temporal join.
    "a01_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(col("event_id"), col("user_id"),
        Tables.tsUs(ev).as("ts_us"), col("event_type"))
      AsOf.asofJoin(e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"))
    }),
    // §2.3 extension: banded range join (1h look-back count).
    "a02_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(col("event_id"), col("user_id"),
        Tables.tsUs(ev).as("ts_us"), col("event_type"))
      AsOf.rangeCountJoin(e.filter(col("event_type") === "purchase"),
        e.filter(col("event_type") === "click"), 3600000000L)
    }),
    // Ordered behavioral funnel: earliest view → later click →
    // later purchase per user; fixed-depth unrolled mins (no scan).
    "a03_event_funnel" -> ((s, dir) =>
      AsOf.eventFunnel(t(s, dir, "events"))),
    // Cohort retention matrix: first-active-week cohorts × week age,
    // epoch-µs integer buckets (timezone-independent).
    "a04_cohort_retention" -> ((s, dir) =>
      AsOf.cohortRetention(t(s, dir, "events"))),
    // RFM user segmentation: exact-cent monetary, integer-quantile
    // grades (1 = best), classic three-digit code.
    "a05_rfm_segments" -> ((s, dir) =>
      AsOf.rfmSegments(t(s, dir, "events"))),

    // --- Graph-ETL parity surface (SURVEY §2.1/§2.9/§2.10) ---
    // P2/F1/F5: payment-edge construction with content-hash _key.
    "g01_payment_edges" -> ((s, dir) =>
      GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem"))
        .withColumn("amount", col("amount").cast("double"))),
    // P4/U1/A3: distinct endpoint (vertex) set of the edge collection.
    "g02_edge_endpoints" -> ((s, dir) =>
      GraphEtl.edgeEndpoints(
        GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem")))),
    // §2.3/§7.4(5): dangling-edge audit vs a partial vertex collection.
    "g03_dangling_edges" -> ((s, dir) => {
      val vertices = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 3 =!= 0)
        .select(concat(lit("suppliers/"), col("s_suppkey")).as("_key"))
      GraphEtl.danglingEdges(
        GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem")),
        vertices)
    }),
    // P5/S8/T7: retention-window filter on event time. Compared in µs:
    // DuckDB truncates parquet ns-timestamps to µs on read, so µs is the
    // finest cross-engine-deterministic granularity.
    "g04_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      GraphEtl.retentionFilter(
        ev.select(col("event_id"),
          Tables.tsUs(ev).as("ts"), col("event_type")),
        7L * 24 * 3600 * 1000000L)
    }),
    // O5/A4: content-key dedup (insert-ignore semantics, deterministic).
    "g05_dedup_key" -> ((s, dir) =>
      GraphEtl.dedupByContentKey(t(s, dir, "events"))),
    // T1-T3: incremental cursor batch.
    "g06_cursor_batch" -> ((s, dir) =>
      GraphEtl.cursorBatch(t(s, dir, "events"), 1000L, 500L)),
    // §2.3: edge↔vertex resolution with broadcast dimension.
    "g07_edge_vertex_join" -> ((s, dir) =>
      GraphEtl.edgesWithVertex(
        GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem")),
        t(s, dir, "supplier"), t(s, dir, "nation"))),
    // §2.5: latest edge per vertex pair.
    "g08_latest_edge" -> ((s, dir) =>
      GraphEtl.latestEdgePerPair(
        GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem")))),
    // Graph summary: degree distribution of the edge collection.
    "g09_degree_dist" -> ((s, dir) =>
      GraphEtl.degreeDistribution(
        GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem")))),
    // Fixed-point PageRank (3 iterations, oracle-exact integers).
    "g10_pagerank" -> ((s, dir) =>
      GraphEtl.pageRankFixedPoint(
        GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem")))),
    // Per-vertex triangle counts over the co-supplier projection
    // (degree-ordered wedge join — O(m^1.5) not O(Σdeg²)).
    "g11_triangles" -> ((s, dir) =>
      GraphEtl.triangleCounts(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")))),
    // Weakly-connected components of the same projection (pointer
    // jumping — the O(log n) rounds path).
    "g12_wcc" -> ((s, dir) =>
      GraphEtl.connectedComponents(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")))),
    // Synchronous label-propagation communities (3 fixed rounds,
    // mode-of-neighbors with the count-then-label total order).
    "g20_label_propagation" -> ((s, dir) =>
      GraphEtl.labelPropagation(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 3)),
    // Newman modularity of the LPA partition (single-division exact
    // form, decimal(38,0) intermediates).
    "g21_modularity" -> ((s, dir) =>
      GraphEtl.modularity(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 3)),
    // Bounded k-truss peeling: per-edge triangle support recomputed
    // on the shrinking edge set, fixed rounds (the g15 contract).
    "g22_ktruss" -> ((s, dir) =>
      GraphEtl.kTrussPeel(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 4, 2)),
    // One synchronous Louvain local-move round over the 1-round LPA
    // seed: exact integer gain argmax, before/after modularity audit.
    "g23_louvain_move" -> ((s, dir) =>
      GraphEtl.louvainMove(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 1)),
    // Full two-level Louvain: g23's move round, min-member community
    // contraction (weighted super-edges + self-loop degrees), then
    // the phase-2 singleton-restart move round on the contracted
    // graph; audit row with before/mid/after modularity.
    "g24_louvain_two_level" -> ((s, dir) =>
      GraphEtl.louvainTwoLevel(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 1)),
    // Multi-level Louvain ladder: phase 1 as g24, then two
    // contract-and-merge levels accepting only MUTUAL-argmax pairs —
    // a disjoint matching with additive gains, so modularity is
    // non-decreasing by construction (no swaps, no chains).
    "g25_louvain_ladder" -> ((s, dir) =>
      GraphEtl.louvainLadder(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 2, 1)),
    // Blondel's loop proper: per level, TWO synchronous weighted
    // local-move rounds on the contracted community graph (round 1 =
    // g24's phase-2 closed form, round 2 the general weighted gain
    // argmax), fold, then g25's mutual-argmax matching on the
    // re-contracted graph. Per-phase modularity audit, all scored on
    // the original edges.
    "g26_louvain_ladder_moves" -> ((s, dir) =>
      GraphEtl.louvainLadderMoves(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 2, 2, 1)),
    // Phase 1 to FIXPOINT: alternating-direction weighted move rounds
    // on the contracted community graph until two consecutive rounds
    // move nothing (both rows included) or a loud cap; long-form
    // per-round audit, all modularities scored on the original edges.
    "g27_louvain_fixpoint" -> ((s, dir) =>
      GraphEtl.louvainMovesFixpoint(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 10, 1)),
    // The ladder with FIXPOINT inner loops (the production Blondel
    // shape): per level, damped alternating-direction move rounds to
    // g27's same-parity recurrence stop, fold, then g25's monotone
    // mutual-argmax matching. Long-form audit rows per (level, phase,
    // round), all modularities scored on the original edges.
    "g28_louvain_fixpoint_ladder" -> ((s, dir) =>
      GraphEtl.louvainFixpointLadder(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 2, 10, 1)),
    // Leiden refinement (Traag et al. 2019): g28's fixpoint ladder
    // with a connectivity-refinement phase per level — communities
    // split into their connected components over intra-community
    // edges BEFORE contraction, so aggregation never freezes a
    // disconnected community; `refine` audit rows count the splits.
    "g29_leiden_ladder" -> ((s, dir) =>
      GraphEtl.louvainLeidenLadder(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")), 2, 10, 1)),

    // --- LLM-pipeline extension surface (SURVEY §2.12) ---
    // Exact dedup: content-hash groupBy, one shuffle.
    "d01_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"))),
    // MinHash signatures: row-local array exprs, zero shuffle.
    "d02_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignature(t(s, dir, "documents"))),
    // LSH banding: candidate pairs via band-key self-join.
    "d03_lsh_pairs" -> ((s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignature(t(s, dir, "documents")))),
    // SimHash: sign-of-weighted-bits sketch, row-local.
    "d04_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"))),
    // SimHash near-dups: byte-banded candidates + exact hamming verify.
    "d09_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"))),
    // Word-set Jaccard over source-blocked pairs.
    "d05_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), 0.8)),
    // Embedding cosine near-dup over label-blocked pairs.
    "d06_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), 0.3)),
    // Asymmetric containment (subset/quotation detection) over the
    // same source-blocked pairs as d05.
    "d14_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), 0.8)),
    // kNN-graph construction: per-vector top-k within label blocks.
    "s08_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings"), 5)),
    // NN-descent refinement of s08's label-blocked seed: two local-
    // join rounds (≤ n·(2k)² candidates per round — linear at fixed
    // k) recover the cross-block edges the seed cannot represent.
    "s28_nn_descent" -> ((s, dir) =>
      Similarity.nnDescent(t(s, dir, "embeddings"), 5)),
    // s28's recall dial: seed vs descended recall@5 against the exact
    // top-k for the vec_id % 50 query subset.
    "s29_nn_descent_recall" -> ((s, dir) =>
      Similarity.nnDescentRecall(t(s, dir, "embeddings"))),
    // The dial on CLUSTERED geometry (s24/s25 discipline): descent
    // exploits neighborhood structure the uniform fixture lacks.
    "s30_clustered_descent_recall" -> ((s, dir) =>
      Similarity.nnDescentRecall(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")))),
    // MMR-diversified retrieval: greedy relevance-vs-novelty
    // re-ranking of the exact shortlist (three unrolled steps).
    "s31_mmr_select" -> ((s, dir) =>
      Similarity.mmrSelect(t(s, dir, "embeddings"))),
    // Embedding drift monitor: per-label fixed-point centroid
    // distance between two deterministic corpus halves.
    "s32_centroid_drift" -> ((s, dir) =>
      Similarity.centroidDrift(t(s, dir, "embeddings"))),
    // Graph-ANN beam search over the s28 NN-descent graph (HNSW/NSG
    // style, fixed rounds): per dial query, final-frontier top-k.
    "s33_graph_beam_search" -> ((s, dir) =>
      Similarity.graphBeamSearch(t(s, dir, "embeddings"))),
    // DiskANN composition: the same walk scored with PQ-ADC lookups
    // against the packed 1-int + m-byte index, exact re-rank at the
    // end — compressed-in-RAM search, full vectors only for |Q|·beam.
    "s44_graph_pq_beam" -> ((s, dir) =>
      Similarity.graphPqBeamSearch(t(s, dir, "embeddings"))),
    // Compression-cost dial: exact-scored vs PQ-scored walk over the
    // SAME graph, both against the brute truth; the row gap is the
    // 32× index compression's recall price net of re-rank.
    "s45_pq_beam_recall" -> ((s, dir) =>
      Similarity.graphPqBeamRecall(t(s, dir, "embeddings"))),
    // The same dial on the clustered fixture (the s30/s35 discipline):
    // uniform noise has no structure for 128 codes-worth of codebook
    // to capture, so s45's uniform gap is geometry; this row is the
    // production proxy.
    "s46_clustered_pq_recall" -> ((s, dir) =>
      Similarity.graphPqBeamRecall(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")))),
    // s33's recall dial: entry frontier vs beam-searched frontier
    // against the exact corpus-wide top-k truth.
    "s34_graph_beam_recall" -> ((s, dir) =>
      Similarity.graphBeamRecall(t(s, dir, "embeddings"))),
    // Hierarchical 2-level entry ladder (the HNSW upper-layer idea):
    // brute top-beam over the ⌊√n⌋ md5-order pilots seeds the same
    // walk at the same beam budget.
    "s47_hier_beam_search" -> ((s, dir) =>
      Similarity.hierBeamSearch(t(s, dir, "embeddings"))),
    // s47's dial: pilot frontier vs walked frontier against the
    // exact truth — read beside s34 to price the ladder.
    "s48_hier_beam_recall" -> ((s, dir) =>
      Similarity.hierBeamRecall(t(s, dir, "embeddings"))),
    // The ladder's clustered twin (the s35/s46 discipline): where
    // geometry has structure, pilot entries land in-cluster.
    "s49_clustered_hier_recall" -> ((s, dir) =>
      Similarity.hierBeamRecall(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")))),
    // Rounds curve: recall@5 at 2/4/8 walk rounds, fixed beam — the
    // exploration-volume dial the s48 entry-ladder verdict demands.
    "s50_beam_rounds_curve" -> ((s, dir) =>
      Similarity.beamRoundsCurve(t(s, dir, "embeddings"))),
    // The dial on CLUSTERED geometry (s30 discipline): graph search
    // exploits neighborhood structure the uniform fixture lacks.
    "s35_clustered_beam_recall" -> ((s, dir) =>
      Similarity.graphBeamRecall(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")))),
    // Incremental graph maintenance (FreshDiskANN insert): old-corpus
    // build + per-new-vector beam search + sim-reusing reverse patch.
    "s36_incremental_graph" -> ((s, dir) =>
      Similarity.incrementalGraphInsert(t(s, dir, "embeddings"))),
    // s36's dial: reverse-patch reachability (old_nodes) and insert
    // search quality (new_nodes) vs the exact full-corpus truth.
    "s37_incremental_recall" -> ((s, dir) =>
      Similarity.incrementalGraphRecall(t(s, dir, "embeddings"))),
    // The incremental dial on CLUSTERED geometry (s30/s35 discipline).
    "s38_clustered_incremental" -> ((s, dir) =>
      Similarity.incrementalGraphRecall(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")))),
    // Metadata-filtered ANN search (pre-filter at the candidate
    // stage): per-query top-k under a label-equality predicate.
    "s39_filtered_ivf" -> ((s, dir) =>
      Similarity.filteredIvfSearch(t(s, dir, "embeddings"), 10, 5)),
    // The filtered-search strategy dial: pre-filter vs post-filter
    // (unfiltered top-(expand·k) then predicate) vs exact filtered
    // truth — n_found prices post-filter starvation.
    "s40_filtered_recall" -> ((s, dir) =>
      Similarity.filteredSearchRecall(t(s, dir, "embeddings"), 10, 5)),
    // The filtered dial on CLUSTERED geometry (s30/s35/s38
    // discipline): probe recall rises with cell/cluster alignment,
    // post-filter starvation stays selectivity-bound.
    "s41_clustered_filtered" -> ((s, dir) =>
      Similarity.filteredSearchRecall(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")), 10, 5)),
    // The selectivity curve: both strategies at label ≤ {0,1,4}
    // (10/20/50% selectivity) in one fanned pass — post-filter fill
    // rises with selectivity, pre-filter stays probe-bound.
    "s42_filtered_curve" -> ((s, dir) =>
      Similarity.filteredStrategyCurve(t(s, dir, "embeddings"), 10, 5)),
    // Capstone: the §2.12 operators composed end to end.
    "p01_corpus_pipeline" -> ((s, dir) =>
      Pipeline.corpusPipeline(t(s, dir, "documents"))),
    // Reproducible content-hash train/val/test split.
    "p02_hash_split" -> ((s, dir) =>
      Pipeline.hashSplit(t(s, dir, "documents"))),
    // Duplicate clusters: connected components over LSH candidates.
    "d08_dup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(Dedup.lshCandidatePairs(
        Dedup.minhashSignature(t(s, dir, "documents"))))),
    // Cluster-membership provenance: one row per duplicate cluster
    // with size + the sorted member list as a deterministic string.
    "d27_cluster_members" -> ((s, dir) =>
      Dedup.clusterMembers(Dedup.dupClusters(Dedup.lshCandidatePairs(
        Dedup.minhashSignature(t(s, dir, "documents")))))),
    // Content-defined chunking: per-doc boundary profile (row-local).
    "d28_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunkProfile(t(s, dir, "documents"))),
    // Chunk-store dedup accounting over the CDC chunk explode.
    "d29_cdc_dedup" -> ((s, dir) =>
      Dedup.cdcDedupStats(t(s, dir, "documents"))),
    // Same clusters via pointer-jumping (O(log n) rounds) — the
    // billion-edge path; identical output, same oracle as d08.
    "d11_dup_clusters_fast" -> ((s, dir) =>
      Dedup.dupClustersShortcut(Dedup.lshCandidatePairs(
        Dedup.minhashSignature(t(s, dir, "documents"))))),
    // Cluster → canonical-doc selection (the post-dedup keep list).
    "d12_canonical_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.canonicalDocs(docs, Dedup.dupClusters(
        Dedup.lshCandidatePairs(Dedup.minhashSignature(docs))))
    }),
    // Incremental batch-vs-corpus dedup (exact membership + LSH probe).
    "d07_dedup_vs_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupAgainstCorpus(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
    }),
    // Brute-force exact cosine top-k (broadcast query set).
    "s01_knn_brute" -> ((s, dir) =>
      Similarity.knnBrute(t(s, dir, "embeddings"), 10, 5)),
    // Sign-bucketed ANN top-k (the scale path).
    "s02_knn_bucketed" -> ((s, dir) =>
      Similarity.knnBucketed(t(s, dir, "embeddings"), 10, 3)),
    // IVF ANN with the deterministic content-hash coarse quantizer —
    // hash-gated end to end (the MLlib k-means path keeps its recall
    // spec in SimilaritySpec behind the same search shape).
    "s03_knn_ivf" -> ((s, dir) =>
      Similarity.knnIvfDeterministic(t(s, dir, "embeddings"), 10, 3)),
    // Int8 symmetric quantization (per-vector max-abs scale).
    "s04_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"))),
    // Product-quantization codes (hash-seeded codebook, row-local).
    "s05_pq_codes" -> ((s, dir) =>
      Similarity.pqCodes(t(s, dir, "embeddings"))),
    // PQ-ADC approximate top-k via per-query lookup tables.
    "s06_pq_adc" -> ((s, dir) =>
      Similarity.knnPqAdc(t(s, dir, "embeddings"), 10, 3)),
    // Binary sign-sketch + Hamming top-k (the 64x-compression path).
    "s09_binary_hamming" -> ((s, dir) =>
      Similarity.knnBinaryHamming(t(s, dir, "embeddings"), 10, 3)),
    // SQ8 search: int8-reconstructed candidates, exact queries — the
    // 8x-compression middle rung between raw (s01) and PQ (s06).
    "s26_knn_sq8" -> ((s, dir) =>
      Similarity.knnSq8(t(s, dir, "embeddings"), 10, 3)),
    // SQ8 recall dial (expected near-1: int8 error is tiny).
    "s27_sq8_recall" -> ((s, dir) =>
      Similarity.annRecallSq8(t(s, dir, "embeddings"), 10, 3)),
    // IVF-PQ (IVFADC): coarse cell blocking x ADC table scoring.
    "s16_knn_ivfpq" -> ((s, dir) =>
      Similarity.knnIvfPq(t(s, dir, "embeddings"), 10, 3)),
    // Composed IVF-PQ recall@k vs the exact baseline — the doubly-
    // approximate path's quality dial next to s11 (IVF alone) and
    // s14 (truncation alone).
    "s17_ivfpq_recall" -> ((s, dir) =>
      Similarity.annRecallIvfPq(t(s, dir, "embeddings"), 10, 3)),
    // IVFADC with residual encoding (Jégou 2011): PQ over v − centroid,
    // exact centroid dot added back at scoring.
    "s18_knn_ivfpq_res" -> ((s, dir) =>
      Similarity.knnIvfPqResidual(t(s, dir, "embeddings"), 10, 3)),
    // Index-persistence round trip (the s16/s18 scale story's missing
    // gate): build the residual-IVFADC index, write the packed
    // (vec_id, cell, codes) index + centroids + codebook to parquet,
    // read back FRESH, search from the persisted artifacts. Must
    // hash-match the in-memory s18 path — the artifact schema is the
    // contract a 100 TB deployment ships between build and serve.
    "s51_ivfpq_index_roundtrip" -> ((s, dir) =>
      Similarity.knnIvfPqResidualPersisted(t(s, dir, "embeddings"),
        10, 3)),
    // Persisted-index incremental composition (s51 ∘ s36's split):
    // build the residual index on the OLD corpus only, persist, read
    // back fresh, delta-encode the insert batch with the PERSISTED
    // centroids/codebook (no retraining), append, search the merged
    // index — the 100 TB serve path (load → ingest → search) as one
    // hash-gated chain.
    "s52_ivfpq_incremental" -> ((s, dir) =>
      Similarity.knnIvfPqResidualIncremental(t(s, dir, "embeddings"),
        10, 3)),
    // Residual-path composed recall at identical parameters — what the
    // residual lever buys vs s17's raw-vector PQ.
    "s19_ivfpq_res_recall" -> ((s, dir) =>
      Similarity.annRecallIvfPqResidual(t(s, dir, "embeddings"), 10, 3)),
    // Exact re-ranking over the ADC shortlist (k' = 3k): the final
    // stage of the production ANN pipeline.
    "s20_knn_rerank" -> ((s, dir) =>
      Similarity.knnIvfPqRerank(t(s, dir, "embeddings"), 10, 3)),
    // nProbe tuning curve: recall@3 at probe budgets 1/2/4/8 from one
    // scored pass (the admitting cell's probe rank decides them all).
    "s22_probe_curve" -> ((s, dir) =>
      Similarity.annRecallProbeCurve(t(s, dir, "embeddings"), 10, 3)),
    // Shortlist-size tuning curve: re-ranked recall@3 at k' budgets
    // 3/6/9/18 from one rescore pass (shortlist rank decides them all).
    "s23_rerank_curve" -> ((s, dir) =>
      Similarity.annRecallRerankCurve(t(s, dir, "embeddings"), 10, 3)),
    // Re-ranked recall — what exact rescoring recovers at a given k'.
    "s21_rerank_recall" -> ((s, dir) =>
      Similarity.annRecallIvfPqRerank(t(s, dir, "embeddings"), 10, 3)),
    // s19/s21 over the clustered-geometry sensitivity fixture: recall
    // runs ≳0.7 there, so a 0.05 regression is unambiguous (the
    // near-uniform driver embeddings bury it in the 0.2-0.5 band).
    "s24_clustered_res_recall" -> ((s, dir) =>
      Similarity.annRecallIvfPqResidual(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")), 10, 3)),
    "s25_clustered_rerank_recall" -> ((s, dir) =>
      Similarity.annRecallIvfPqRerank(
        Similarity.clusteredEmbeddings(t(s, dir, "embeddings")), 10, 3)),
    // Stopword-profile language ID.
    "t01_langid" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"))),
    // Corpus quality scoring.
    "t02_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"))),
    // Token counting (ws / regex / subword estimate).
    "t03_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"))),
    // Canonical md5 + rolling-hash fingerprints.
    "t04_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"))),
    // Token-count histogram (log2 buckets).
    "t05_token_histogram" -> ((s, dir) =>
      TextAnalysis.tokenHistogram(t(s, dir, "documents"))),
    // Vocabulary frequency + deterministic Zipf rank.
    "t06_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(t(s, dir, "documents"))),
    // Binary payload metadata (multimodal plumbing).
    "m01_binary_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(t(s, dir, "documents"))),
    // Partition-batched decode through the stub MediaDecoder.
    "m02_decode_stub" -> ((s, dir) =>
      Multimodal.decodeMeta(t(s, dir, "documents"))),
    // Frame sampling: one row per every 2nd frame of each payload.
    "m03_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(t(s, dir, "documents")))),
    // Tumbling event-time window (batch anchor of the streaming op).
    "st01_tumbling_window" -> ((s, dir) =>
      graft.streaming.StreamingOps.tumblingWindowStats(
        t(s, dir, "events"), "1 hour", exactDistinct = true)),
    // Event-time gap sessionization (gaps-and-islands form).
    "st02_sessionize" -> ((s, dir) =>
      graft.streaming.StreamingOps.sessionize(
        t(s, dir, "events"), 30L * 60 * 1000000)),
    // Sliding event-time windows (1h window, 30m slide).
    "st03_sliding_window" -> ((s, dir) =>
      graft.streaming.StreamingOps.slidingWindowStats(
        t(s, dir, "events"), "1 hour", "30 minutes")),
    // Spark-native session_window (engine-managed merge; the
    // unbounded-deployment twin of st02's gaps-and-islands).
    "st10_session_window" -> ((s, dir) =>
      graft.streaming.StreamingOps.sessionWindowStats(
        t(s, dir, "events"), "30 minutes")),
    // Stream-stream interval join, batch anchor (unified-API contract:
    // same plan as the watermarked streaming run in StreamingOpsSpec).
    "st04_interval_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      graft.streaming.StreamingOps.intervalJoinStream(
        e.filter(col("event_type") === "purchase"),
        e.filter(col("event_type") === "click"), 3600L, 0L)
    }),
    // LEFT OUTER stream-stream interval join, batch anchor (streaming
    // null-padding semantics spec-checked in StreamingOpsSpec).
    "st05_interval_join_outer" -> ((s, dir) => {
      val e = t(s, dir, "events")
      graft.streaming.StreamingOps.intervalJoinOuterStream(
        e.filter(col("event_type") === "purchase"),
        e.filter(col("event_type") === "click"), 3600L, 0L)
    }),
    // Deterministic content-hash stratified sampling.
    "p03_stratified_sample" -> ((s, dir) =>
      Pipeline.stratifiedSample(t(s, dir, "documents"))),
    // Token-budget mixture sampling (per-language token targets).
    "p04_token_budget" -> ((s, dir) =>
      Pipeline.tokenBudgetSample(t(s, dir, "documents"),
        Map("en" -> 5000L, "de" -> 1500L))),
    // Document-frequency / IDF corpus statistics.
    "t07_docfreq" -> ((s, dir) =>
      TextAnalysis.docFreq(t(s, dir, "documents"))),
    // Repetition / boilerplate signals (Gopher/C4-style rules).
    "t08_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"))),
    // Per-document top-3 TF-IDF keyword extraction.
    "t09_tfidf_terms" -> ((s, dir) =>
      TextAnalysis.topTfidfTerms(t(s, dir, "documents"))),
    // Test-set decontamination: batch vs benchmark shingle overlap.
    "d10_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    // Bloom-sketch decontamination: constant-size broadcast bitmap +
    // row-local probe (the 100 TB path next to d10's exact semi-join).
    "d13_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.bloomDecontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    // Decontaminate-then-split composition (clean mixture table).
    "p05_clean_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Pipeline.decontaminatedSplit(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    // ViT-style patch-grid fan-out over decoded frames.
    "m04_patchify" -> ((s, dir) =>
      Multimodal.patchify(Multimodal.decodeMeta(t(s, dir, "documents")))),
    // Concat-and-chunk sequence packing (content-hash shards + order).
    "p06_pack_sequences" -> ((s, dir) =>
      Pipeline.packSequences(t(s, dir, "documents"))),
    // √-temperature multilingual mix via hash-threshold sampling.
    "p07_temperature_sample" -> ((s, dir) =>
      Pipeline.temperatureSample(t(s, dir, "documents"))),
    // Token-window chunking with overlap (row-local RAG splitter).
    "p08_chunk" -> ((s, dir) =>
      Pipeline.chunkDocuments(t(s, dir, "documents"))),
    // Doc-frequency rarity signals (the model-free perplexity filter).
    "t11_rarity" -> ((s, dir) =>
      TextAnalysis.rarityScore(t(s, dir, "documents"))),
    // PII scrubbing counts + redacted-content hash.
    "t12_pii_redact" -> ((s, dir) =>
      TextAnalysis.piiRedact(t(s, dir, "documents"))),
    // Bigram LM statistics: top-3 successors per word.
    "t13_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramCounts(t(s, dir, "documents"))),
    // Exact per-label centroid embeddings (fixed-point component sums).
    "s07_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"))),
    // Corpus-common shingle fraction (duplicated-n-gram boilerplate).
    "t10_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateFrac(t(s, dir, "documents"))),
    // PCM analysis-window fan-out (the audio patchify).
    "m05_audio_windows" -> ((s, dir) =>
      Multimodal.audioWindows(t(s, dir, "documents"))),
    // Skew mitigation (§2.11): two-stage salted aggregation — salting
    // changes physical distribution only, so the result is identical
    // to the direct groupBy (decimal partials merge losslessly; cast
    // to double at the very end for the driver compare).
    "sk01_salted_agg" -> ((s, dir) =>
      Skew.saltedSumCount(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("qty")),
        Seq("l_returnflag"), "qty")
        .withColumn("sum_qty", col("sum_qty").cast("double"))),
    // Salted fact×dim join: the dim is replicated per salt, so every
    // fact row still matches exactly once — same rows as the plain
    // equi-join, spread over `buckets` tasks per hot key.
    "sk02_salted_join" -> ((s, dir) =>
      Skew.saltedDimJoin(t(s, dir, "customer"), t(s, dir, "nation"),
        "c_nationkey", "n_nationkey")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).as("sum_acctbal"))
        .withColumn("sum_acctbal", col("sum_acctbal").cast("double"))),
    // SemDeDup-style semantic near-dups: IVF-cell blocking derived
    // from the vectors themselves (no caller label).
    "s10_semantic_neardup" -> ((s, dir) =>
      Similarity.semanticNearDups(t(s, dir, "embeddings"), 0.2)),
    // SemDeDup survivorship: keep the pair member farther from its
    // cell centroid; drop anything a more-central ≥τ neighbor covers.
    "s43_semantic_keep" -> ((s, dir) =>
      Similarity.semanticKeep(t(s, dir, "embeddings"), 0.2)),
    // Corpus-LM bigram coverage (the truncated-successor-table
    // perplexity-filter analog).
    "t14_lm_coverage" -> ((s, dir) =>
      TextAnalysis.lmCoverage(t(s, dir, "documents"))),
    // Batch anchor of the stateful streaming first-wins dedup (T5).
    "st06_dedup_first" -> ((s, dir) =>
      graft.streaming.StreamingOps.dedupFirstBatch(t(s, dir, "events"))),
    // Exact-N per-language sample in content-hash order (two-stage
    // rank, no per-language window).
    "p09_group_sample" -> ((s, dir) =>
      Pipeline.samplePerGroup(t(s, dir, "documents"), 40L)),
    // Recall@k of the IVF path vs the exact baseline (the ANN
    // quality dial as a gated query).
    "s11_ann_recall" -> ((s, dir) =>
      Similarity.annRecall(t(s, dir, "embeddings"), 10, 3)),
    // Stream-static broadcast enrichment (stateless lookup join),
    // batch anchor; streaming parity spec-checked.
    "st07_stream_static" -> ((s, dir) =>
      graft.streaming.StreamingOps.enrichStream(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("event_type")),
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey")),
        "user_id", "c_custkey")),
    // Per-edge common-neighbor / Jaccard tie strength over the
    // co-supplier graph (the link-prediction complement of g11).
    "g13_edge_jaccard" -> ((s, dir) =>
      GraphEtl.edgeJaccard(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")))),
    // Multi-source BFS hop distance (frontier joins, ≤3 rounds) over
    // the co-supplier graph — the blast-radius primitive.
    "g14_bfs_hops" -> ((s, dir) =>
      GraphEtl.bfsHops(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")))),
    // C4-style corpus segment dedup: keep globally-first occurrence of
    // every 5-word segment, re-assemble docs (2 shuffles total).
    "d15_segment_dedup" -> ((s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"))),
    // Gopher hard-gate quality rules (row-local boolean rule columns).
    "t15_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"))),
    // Deterministic round-robin epoch interleave (two-stage global
    // position — no single-task sort).
    "p10_epoch_order" -> ((s, dir) =>
      Pipeline.epochOrder(t(s, dir, "documents"))),
    // Exact radius retrieval vs a broadcast probe set — zero shuffles.
    "s12_range_search" -> ((s, dir) =>
      Similarity.rangeSearch(t(s, dir, "embeddings"), 10, 0.2)),
    // Exact group quantiles via distributed two-stage rank (no
    // one-task-per-group sort).
    "q35_group_quantiles" -> ((s, dir) =>
      Relational.groupQuantiles(t(s, dir, "lineitem"))),
    // Bounded k-core peel (3 rounds, k=2) over the co-supplier graph.
    "g15_kcore" -> ((s, dir) =>
      GraphEtl.kcorePeel(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")))),
    // Nearest-centroid classification vs the s07 centroid table
    // (one-row broadcast, row-local argmax).
    "s13_centroid_assign" -> ((s, dir) =>
      Similarity.centroidAssign(t(s, dir, "embeddings"))),
    // Soft dedup: 1/cluster-size training weights over d08's clusters.
    "d16_dedup_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupWeights(docs, Dedup.dupClusters(
        Dedup.lshCandidatePairs(Dedup.minhashSignature(docs))))
    }),
    // LAION-style image quality gate over decoded metadata.
    "m06_image_filter" -> ((s, dir) =>
      Multimodal.imageFilter(t(s, dir, "documents"))),
    // Vowel-group syllable estimate + complex-word fraction.
    "t16_readability" -> ((s, dir) =>
      TextAnalysis.readabilitySignals(t(s, dir, "documents"))),
    // Moving-average type-token ratio (length-robust lexical diversity).
    "t17_mattr" -> ((s, dir) =>
      TextAnalysis.mattr(t(s, dir, "documents"))),
    // DSIR-style hashed n-gram importance weights (target = en slice).
    "t18_dsir_weights" -> ((s, dir) =>
      TextAnalysis.importanceWeights(t(s, dir, "documents"), "en")),
    // Held-in add-one bigram perplexity (CCNet-style corpus-LM filter).
    // Top-50 PMI collocations (min-count floor, micro-nat ranks).
    "t25_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"))),
    "t19_perplexity" -> ((s, dir) =>
      TextAnalysis.perplexity(t(s, dir, "documents"))),
    // Distributed BPE training: 5 greedy merges over the word vocab.
    "t20_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), 5)),
    // BPE application: per-doc token accounting under the learned vocab.
    "t21_bpe_tokenize" -> ((s, dir) =>
      TextAnalysis.bpeTokenize(t(s, dir, "documents"), 5)),
    // Tokenizer equity: per-language fertility under the same vocab.
    "t22_bpe_fertility" -> ((s, dir) =>
      TextAnalysis.bpeFertility(t(s, dir, "documents"), 5)),
    // Zipf rank-frequency OLS over the top-1000 vocabulary terms
    // (micro-nat quantized logs, exact OLS sums).
    "t23_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(t(s, dir, "documents"))),
    // TextRank keywords: g10's integer PageRank over the word
    // co-occurrence graph, top-20 by stationary score.
    "t24_textrank_keywords" -> ((s, dir) =>
      TextAnalysis.textRankKeywords(t(s, dir, "documents"))),
    // LSH banding calibration: analytic detection curve vs actual
    // candidate flags over all capped source-blocked pairs.
    "d19_lsh_curve" -> ((s, dir) =>
      Dedup.lshDetectionCurve(t(s, dir, "documents"))),
    // ViT patch/token accounting + budget gate per image.
    "m08_vision_tokens" -> ((s, dir) =>
      Multimodal.visionTokens(
        Multimodal.decodeMeta(t(s, dir, "documents")))),
    // Interleaved image+text packing: p06's layout at the combined
    // text+vision token granularity (vision tokens compete with text
    // for the context window).
    "m09_multimodal_pack" -> ((s, dir) =>
      Multimodal.multimodalPack(t(s, dir, "documents"))),
    // Positional duplicated-window fraction (exact-substring dedup's
    // measurement pass; catches in-document repetition too).
    "d20_window_dup" -> ((s, dir) =>
      Dedup.windowDupFrac(t(s, dir, "documents"))),
    // The acting half: drop documents above the dup-fraction threshold.
    "d21_window_dup_removal" -> ((s, dir) =>
      Dedup.windowDupRemoval(t(s, dir, "documents"))),
    // Span-level variant: mask (remove) duplicated-window positions.
    "d22_window_dup_mask" -> ((s, dir) =>
      Dedup.windowDupMask(t(s, dir, "documents"))),
    // Ingest-order LSH suppression: bucket-min algebra, no pair set —
    // the online dedup filter's exact batch anchor.
    "d23_incremental_dedup" -> ((s, dir) =>
      Dedup.incrementalLshDedup(t(s, dir, "documents"))),
    // Prefix-filtered EXACT Jaccard join (AllPairs/SSJoin): zero
    // false negatives at τ = 4/5, candidates keyed by rarest tokens.
    "d26_prefix_join" -> ((s, dir) =>
      Dedup.prefixJaccardJoin(t(s, dir, "documents"))),
    // The stream the d23 verdicts drive: kept documents only (what
    // the ingest filter emits); per-bucket state path spec-pinned.
    "st11_ingest_dedup" -> ((s, dir) =>
      graft.streaming.StreamingOps.ingestDedupBatch(
        t(s, dir, "documents"))),
    // Batch anchor of the streaming latest-wins CDC compaction: the
    // sort-free max_by snapshot (p18's is_current slice); the
    // unbounded form is StreamingOps.streamingLatestWins, spec-pinned
    // stream ≡ batch ≡ sequential replay (st06/st11 discipline).
    "st12_cdc_snapshot" -> ((s, dir) =>
      Pipeline.cdcSnapshot(t(s, dir, "events"))),
    // Bounded-state exact dedup (the dropDuplicatesWithinWatermark
    // state contract): horizon-spaced greedy keep per key via ONE
    // hash exchange + secondary-sorted per-key scan; streaming twin
    // spec-pinned stream ≡ batch ≡ sequential replay.
    "st13_horizon_dedup" -> ((s, dir) =>
      graft.streaming.StreamingOps.horizonDedupBatch(
        t(s, dir, "events"))),
    // The streaming funnel's state table, batch-anchored (st06/st12/
    // st13 discipline): a03's stage mins recoded to the
    // mapGroupsWithState tuple shape — stage-0 users present, −1
    // sentinels; stream ≡ batch ≡ one-event replay spec-pinned.
    "st14_funnel_state" -> ((s, dir) =>
      graft.streaming.StreamingOps.funnelStateBatch(
        t(s, dir, "events"))),
    // Windowed top-k event types (the cross-key rank the plain
    // windowed groupBy can't express); stream twin spec-pinned.
    "st15_window_topk" -> ((s, dir) =>
      graft.streaming.StreamingOps.windowTopKBatch(
        t(s, dir, "events"))),
    // Epoch-capped mixture plan: max total budget under √-law targets
    // with at most 3 passes per language; binding language flagged.
    "p20_mixture_solver" -> ((s, dir) =>
      Pipeline.mixtureSolver(t(s, dir, "documents"))),
    // Easy-to-hard curriculum position (two-stage global rank).
    "p13_curriculum" -> ((s, dir) =>
      Pipeline.curriculumOrder(t(s, dir, "documents"))),
    // Embedding L2-norm histogram (degenerate/unnormalized-vector QA).
    "s15_norm_hist" -> ((s, dir) =>
      Similarity.normHistogram(t(s, dir, "embeddings"))),
    // Aspect-ratio bucketing (exact integer nearest-ratio argmin).
    "m07_aspect_bucket" -> ((s, dir) =>
      Multimodal.aspectBuckets(
        Multimodal.decodeMeta(t(s, dir, "documents")))),
    // Pixel-budget smart-resize plan: snap to factor multiples,
    // aspect-preserving shrink/expand, patch/token counts.
    "m10_smart_resize" -> ((s, dir) =>
      Multimodal.smartResize(
        Multimodal.decodeMeta(t(s, dir, "documents")))),
    // Multimodal near-dup: decode-seam perceptual fingerprint (byte-
    // shingle simhash) → banded hamming buckets → closure → canonical
    // survivors per cluster.
    "m11_media_neardup" -> ((s, dir) =>
      Multimodal.mediaNearDupSurvivors(t(s, dir, "documents"))),
    // Multimodal loss-accounting funnel (the m-family's p14): raw →
    // m06 image rules → m11 near-dup canonical survivors → m08
    // vision-token budget, one conditional-sum pass for the stage
    // rows with doc/byte/vision-token attrition columns.
    "m12_multimodal_funnel" -> ((s, dir) =>
      Multimodal.multimodalFunnel(t(s, dir, "documents"))),
    // Exact-percentile token-length gate via value histogram.
    "p11_length_gate" -> ((s, dir) =>
      Pipeline.lengthGate(t(s, dir, "documents"))),
    // MinHash estimate vs exact Jaccard over LSH candidates.
    "d17_jaccard_est" -> ((s, dir) =>
      Dedup.jaccardEstimatePairs(t(s, dir, "documents"))),
    // b-bit minhash estimator (b=2) vs full-width vs exact — the
    // 15.5× signature-compression certificate (Li & König 2010).
    "d30_bbit_minhash" -> ((s, dir) =>
      Dedup.bbitMinhashPairs(t(s, dir, "documents"))),
    // Character-level near-dup verify: Levenshtein over LSH
    // candidates, length-incompatible pairs skipped (NULL distance).
    "d31_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"))),
    // Semantic decontamination: the embedding-space analog of d10 —
    // batch vectors within cosine tau of ANY benchmark vector under
    // the shared IVF coarse quantizer (built on the batch side,
    // benchmark probes nProbe cells) are flagged; catches the
    // paraphrased benchmark leakage shingle gates miss.
    "d32_semantic_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") % 7 =!= 0),
        emb.filter(col("vec_id") % 7 === 0))
    }),
    // d32's recall dial: contamination recall at probe budgets
    // {1,2,4} vs the exact brute truth (flagged ⊆ truth, so the row
    // is the measured coverage of the IVF-probed guard — the number
    // a 100 TB run re-tunes nProbe from). τ = 0.35 so the truth set
    // is non-empty on the synthetic embeddings at every SF.
    "d33_decontamination_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.decontaminationRecall(
        emb.filter(col("vec_id") % 7 =!= 0),
        emb.filter(col("vec_id") % 7 === 0))
    }),
    // Per-vertex local clustering coefficient (g11's node view).
    "g16_local_cc" -> ((s, dir) =>
      GraphEtl.localClustering(
        GraphEtl.coSupplierEdges(t(s, dir, "lineitem")))),
    // Hourly resample + forward fill on a dense per-user grid.
    "st08_gap_fill" -> ((s, dir) =>
      graft.streaming.StreamingOps.resampleForwardFill(
        t(s, dir, "events"))),
    // Watermark-tuning dial: per event, event-time lag behind the
    // arrival-order high-water mark (two-stage running max).
    "st09_lateness" -> ((s, dir) =>
      graft.streaming.StreamingOps.latenessProfile(
        t(s, dir, "events"), 5000000L)),
    // Corpus mixture "data card": per-(lang, source) counts + shares.
    "p12_corpus_report" -> ((s, dir) =>
      Pipeline.corpusReport(t(s, dir, "documents"))),
    // Loss-accounting funnel: docs/tokens surviving each p01 stage.
    "p14_corpus_funnel" -> ((s, dir) =>
      Pipeline.corpusFunnel(t(s, dir, "documents"))),
    // p14 with span-granularity exact-substring masking (d22) in
    // place of the doc-drop stage: tokens-removed vs docs-dropped.
    "p15_corpus_funnel_masked" -> ((s, dir) =>
      Pipeline.corpusFunnelMasked(t(s, dir, "documents"))),
    // Token-balanced output sharding (serpentine LPT, two-stage rank).
    "p16_balanced_shards" -> ((s, dir) =>
      Pipeline.balancedShards(t(s, dir, "documents"))),
    // Per-shard integrity manifest: order-independent content
    // checksum + token totals over p16's assignment.
    "p21_shard_manifest" -> ((s, dir) =>
      Pipeline.shardManifest(t(s, dir, "documents"))),
    // SCD2 time travel: entity state at four grid instants from the
    // version intervals (AS OF TIMESTAMP without history replay).
    "p22_time_travel" -> ((s, dir) =>
      Pipeline.timeTravelGrid(t(s, dir, "events"))),
    // Leakage-proof k-fold split: fold keyed by the d08 cluster rep,
    // so near-dup clusters can never straddle train/eval.
    "p23_cluster_safe_folds" -> ((s, dir) =>
      Pipeline.clusterSafeFolds(t(s, dir, "documents"))),
    // Quality-pruning yield curve: decile grades by the t02 composite
    // score with cumulative keep-top-k docs/tokens yield.
    "p24_pruning_curve" -> ((s, dir) =>
      Pipeline.pruningCurve(t(s, dir, "documents"))),
    // Source-mix drift: JS divergence (docs and tokens) between the
    // parity halves, fixed-point micro-nats.
    "p25_corpus_drift" -> ((s, dir) =>
      Pipeline.corpusDrift(t(s, dir, "documents"))),
    // Exact-vs-LSH near-dup funnel: d26 prefix-join pairs and d03
    // LSH pairs each through the d08 closure + canonical selection,
    // one attrition row per method plus the signed delta — the gated
    // comparison behind the exact-AllPairs-or-probabilistic-LSH
    // curation decision.
    "p26_exact_vs_lsh_funnel" -> ((s, dir) =>
      Pipeline.exactVsLshFunnel(t(s, dir, "documents"))),
    // Three-arm funnel: p26's two arms plus the PRODUCTION third —
    // d03 candidates verified by the d26 exact word-hash Jaccard at
    // the same τ = 4/5 (so lsh_verified ⊆ exact by construction) —
    // with both signed deltas; delta_verified isolates pure LSH
    // candidate-generation false negatives, the number the curation
    // decision actually needs.
    "p27_verified_lsh_funnel" -> ((s, dir) =>
      Pipeline.exactVsLshVerifiedFunnel(t(s, dir, "documents"))),
    // Z-order repack planning: Morton interleave of (partkey,
    // suppkey), equal cut into 32 files, per-file min/max stats (the
    // data-skipping footers). Two-stage rank; row-local bit algebra.
    "p17_zorder_layout" -> ((s, dir) =>
      Pipeline.zorderLayout(t(s, dir, "lineitem"))),
    // CDC changelog → SCD2 version table (lakehouse MERGE/CDF
    // compaction): one key shuffle + per-key sort; version/valid_to/
    // is_current share one window frame. The sort-free latest-wins
    // snapshot is Pipeline.cdcSnapshot (spec-pinned ≡ is_current).
    "p18_cdc_upsert" -> ((s, dir) =>
      Pipeline.cdcUpsert(t(s, dir, "events"))),
    // p17's effectiveness dial: shards a stats-only pruner must scan
    // under the z-order vs the natural layout, per diagonal box
    // predicate — the measured payoff of the repack.
    "p19_skipping_probe" -> ((s, dir) =>
      Pipeline.skippingProbe(t(s, dir, "lineitem"))),
    // Sketch-only contamination estimate (4th decontamination rung):
    // one HLL sketch per corpus + inclusion–exclusion overlap — no
    // shingle ever crosses between the two sides. Exact counts ride
    // along only to certify; within_bound hash-gates the estimate
    // against the published 1.04/√2^lgK HLL error (q20b pattern).
    "d24_sketch_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.sketchOverlap(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    // Cross-source shingle-overlap matrix (the dataset-card audit):
    // all source pairs, zeros included, shared-count + Jaccard.
    "d25_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapMatrix(t(s, dir, "documents"))),
    // Dedup summary: cluster-size histogram over d08's clusters.
    "d18_cluster_hist" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.clusterSizeHistogram(Dedup.dupClusters(
        Dedup.lshCandidatePairs(Dedup.minhashSignature(docs))))
    }),
    // JSONL corpus source: declared schema + PERMISSIVE corrupt flag
    // (in-code fixture, self-contained VALUES oracle — h-family style).
    "j01_jsonl_docs" -> ((s, _) => {
      import s.implicits._
      graft.sources.Jsonl.docs(s, graft.sources.Jsonl.fixtureLines.toDS())
    }),
    // Matryoshka truncation probe: recall@k of first-16-dims search.
    "s14_truncated_recall" -> ((s, dir) =>
      Similarity.truncatedRecall(t(s, dir, "embeddings"), 10, 3)),
    // Personalized PageRank from the custkey≡0 (mod 10) seed set
    // (both vertex kinds carry numeric suffixes, so the split+cast
    // seed predicate never hits an ANSI cast failure).
    "g18_ppr" -> ((s, dir) =>
      GraphEtl.personalizedPageRank(
        GraphEtl.paymentEdges(t(s, dir, "orders"), t(s, dir, "lineitem")),
        element_at(split(col("v"), "/"), 1) === "accounts" &&
          element_at(split(col("v"), "/"), 2).cast("long") % 10 === 0)),
    // HITS hubs & authorities over the customer→supplier purchase
    // graph (integer fixed point, per-side max normalization; the
    // mutual-reinforcement centrality beside g10's random walk).
    "g19_hits" -> ((s, dir) =>
      GraphEtl.hitsScores(
        t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s")))),
    // Degree assortativity (rational Pearson over symmetric edge
    // ends) of the customer–supplier purchase graph: bipartite
    // hub-and-spoke, so the mixing signal is real (the co-supplier
    // graph is degree-regular at small SF — Pearson undefined).
    // Supplier ids offset into their own id space.
    "g17_assortativity" -> ((s, dir) =>
      GraphEtl.degreeAssortativity(
        t(s, dir, "lineitem").join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("a"),
            (col("l_suppkey") + 1000000L).as("b")))),

    // --- Reference-domain parity slice (SURVEY §7.2 B/C). Inputs are
    // the in-code Helium JSON fixtures, not the sf tables; the oracles
    // are SELF-CONTAINED DuckDB SQL that inline the same fixture rows
    // as VALUES (HeliumFixtures.envelopeValuesSql) and re-derive the
    // reference transforms (follower.py:145-202) with JSON functions,
    // so the parity core gets the same hash gate as everything else. ---
    "h01_payment_v1_edges" -> ((s, _) =>
      HeliumGraph.paymentV1Edges(
        graft.sources.HeliumFixtures.txnEnvelopes(s))
        .dropDuplicates("_key")),
    "h02_payment_v2_edges" -> ((s, _) =>
      HeliumGraph.paymentV2Edges(
        graft.sources.HeliumFixtures.txnEnvelopes(s))),
    // is_valid (nullable boolean) goes to the driver as a string: the
    // driver's canonicalization reads a NULL DuckDB BOOLEAN as NaN but
    // a NULL Spark parquet boolean as None — VARCHAR agrees on both
    // sides ('true'/'false'/None). Library API (receiptEdges) keeps
    // BooleanType.
    "h03_receipt_edges" -> ((s, _) =>
      HeliumGraph.receiptEdges(
        graft.sources.HeliumFixtures.txnEnvelopes(s))
        .withColumn("is_valid", col("is_valid").cast("string"))),
    "h04_account_vertices" -> ((s, _) =>
      HeliumGraph.accountVertices(
        graft.sources.HeliumFixtures.txnEnvelopes(s))),
    // Driver-facing wiring flattens the GeoJSON point to scalar lng/lat
    // doubles: the driver's NO-ORACLE canonicalization sorts cells via
    // pandas, which cannot order struct (dict) values (ADVICE r2). The
    // struct-typed `location_geo` stays in the library API
    // (Inventory.processInventory) unchanged.
    // Geo rollup by H3 parent cell (exact index bit algebra — no
    // centroid decode involved; functions/H3Cell.scala).
    "h06_hotspot_density" -> ((s, _) => {
      import s.implicits._
      graft.sources.Inventory.hotspotDensityByParent(
        graft.sources.Inventory.processInventory(
          graft.sources.Inventory.readCsv(s,
            graft.sources.HeliumFixtures.inventoryCsv.toDS())), 5)
    }),
    "h05_gateway_inventory" -> ((s, _) => {
      import s.implicits._
      graft.sources.Inventory.processInventory(
        graft.sources.Inventory.readCsv(s,
          graft.sources.HeliumFixtures.inventoryCsv.toDS()))
        .withColumn("location_lng",
          element_at(col("location_geo.coordinates"), 1))
        .withColumn("location_lat",
          element_at(col("location_geo.coordinates"), 2))
        .drop("location_geo")
    }),
    // Composition gates (VERDICT r19 #2): the g-family's graph shapes
    // over the PARITY tables — the adjacency-for-graph-queries purpose
    // the reference states (reference README.md:2). h07: witness-graph
    // degrees + integer PageRank over h03's receipt edges (dangling
    // witnesses included, out_degree 0). h08: per-account payment
    // flow over h01∪h02 (v1 side deduped by _key like h01) with the
    // g08 max_by top-counterparty.
    "h07_witness_graph" -> ((s, _) =>
      HeliumGraph.witnessGraph(
        HeliumGraph.receiptEdges(
          graft.sources.HeliumFixtures.txnEnvelopes(s)))),
    "h08_account_flow" -> ((s, _) => {
      val env = graft.sources.HeliumFixtures.txnEnvelopes(s)
      HeliumGraph.accountFlow(
        HeliumGraph.paymentV1Edges(env).dropDuplicates("_key")
          .unionByName(HeliumGraph.paymentV2Edges(env)))
    }),
    // h09: the k-hop half of the composition — multi-source BFS hop
    // distances over the witness graph from the challengee seed set
    // (g14's frontier loop via bfsHopsFrom, shared verbatim).
    "h09_witness_reach" -> ((s, _) =>
      HeliumGraph.witnessReach(
        HeliumGraph.receiptEdges(
          graft.sources.HeliumFixtures.txnEnvelopes(s))))
  )

  /** Shared oracle CTE: the payment-edge collection (mirrors
    * GraphEtl.paymentEdges; content key = md5 over name-sorted,
    * '|'-joined fields — _from,_to,block,seq).
    */
  private val edgesCte: String =
    """WITH edges AS (
      | SELECT 'accounts/' || CAST(o_custkey AS VARCHAR) AS _from,
      |  'suppliers/' || CAST(l_suppkey AS VARCHAR) AS _to,
      |  l_orderkey AS block, l_linenumber AS seq,
      |  CAST(l_extendedprice AS DECIMAL(18,2)) AS amount,
      |  o_orderdate AS "timestamp",
      |  md5('accounts/' || CAST(o_custkey AS VARCHAR) || '|' ||
      |      'suppliers/' || CAST(l_suppkey AS VARCHAR) || '|' ||
      |      CAST(l_orderkey AS VARCHAR) || '|' ||
      |      CAST(l_linenumber AS VARCHAR)) AS _key
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |""".stripMargin

  // ---- Generated oracle fragments for the §2.12 surface. Each mirrors
  // the Canon.* primitive exactly (same md5-hex hashing, same explicit
  // left-fold float summation) so results are bit-identical.

  /** DuckDB: 60-bit hash of a string expression (Canon.hash60). */
  private def h60(x: String): String =
    s"('0x' || substr(md5($x),1,15))::BIGINT"

  /** DuckDB: left-fold sum matching Canon.dot / Canon.rollingHash. */
  private def foldSum(products: String): String =
    s"list_reduce(list_prepend(0.0, $products), (acc, x) -> acc + x)"

  /** DuckDB: the media near-dup closure chain over source relation
    * `$src` (doc_id, text; payloads < 4 bytes pre-filtered by the
    * caller) — byte-4-gram feature hashes (substr ≡ byte slice under
    * the corpus's ASCII payloads, the m01 head_hex equivalence),
    * d04's 64-fold simhash, the 4×16-bit pigeonhole bands with the
    * 1000-cap, the exact hamming-≤3 verify, and the recursive
    * component closure ending in `clus` (doc_id, cluster_rep).
    * Shared by the m11 and m12 mirrors so the chain cannot drift;
    * the caller opens WITH RECURSIVE.
    */
  private def mediaClosureCtes(src: String): String = {
    val bands = (0 until 4).map(i =>
      s"'b$i:' || ((simhash >> ${16 * i}) & 65535)::VARCHAR")
    s"""hs AS (SELECT doc_id,
       |  [${h60("substr(text, i, 4)")}
       |    FOR i IN range(1, octet_length(encode(text)) - 2)] AS hs
       | FROM $src),
       |sh AS (SELECT doc_id,
       |$simhash64Sql AS simhash
       |FROM hs),
       |banded AS (SELECT doc_id, simhash,
       |  unnest([${bands.mkString(",\n   ")}]) AS bk FROM sh),
       |capped AS (SELECT doc_id, simhash, bk FROM (
       |  SELECT doc_id, simhash, bk, count(*) OVER (PARTITION BY bk) AS bsz
       |  FROM banded) WHERE bsz <= 1000),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM capped a JOIN capped b
       | ON a.bk = b.bk AND a.doc_id < b.doc_id
       | WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS n FROM sym),
       |reach(node, lab) AS (
       |  SELECT n, n FROM nodes
       |  UNION
       |  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node),
       |clus AS (SELECT node AS doc_id, min(lab) AS cluster_rep
       |  FROM reach GROUP BY node)""".stripMargin
  }

  /** DuckDB: the synchronous label-propagation chain
    * (GraphEtl.labelPropagation over the g12 co-supplier edges):
    * edge CTEs `e`/`sym`, self-label seed `l0`, then per round the
    * neighbor-vote aggregate and the (n DESC, lab) mode argmax.
    * Shared by the g20 and g21 mirrors.
    */
  private def lpaCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""v$r AS (SELECT s.a AS a, l.lab AS lab, count(*) AS n
         |  FROM sym s JOIN l${r - 1} l ON l.node = s.b
         |  GROUP BY 1, 2),
         |l$r AS (SELECT a AS node, lab FROM (
         |  SELECT a, lab, row_number() OVER (PARTITION BY a
         |    ORDER BY n DESC, lab) AS rk FROM v$r) WHERE rk = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH os AS (SELECT DISTINCT l_orderkey AS o,
       |  l_suppkey AS s FROM lineitem),
       |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
       |osk AS (SELECT os.o, os.s FROM os JOIN ok USING (o)),
       |e AS (SELECT x.s AS a, y.s AS b FROM osk x JOIN osk y
       |  ON x.o = y.o AND x.s < y.s
       |  GROUP BY 1, 2 HAVING count(*) >= 5),
       |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
       |$rs""".stripMargin
  }

  /** DuckDB: the g23/g24 shared phase-1 chain — the 1-round LPA seed's
    * exact cross-multiplied gain argmax (2m·e_{i→C} − k_i·Σ'_C in
    * HUGEINT, self-degree excluded for the own community), the strict
    * move test, the decided partition `nl`. Appended to `lpaCtes(1)`.
    * Multi-consumer CTEs are re-wrapped AS MATERIALIZED: this chain is
    * referenced 4–6× downstream and DuckDB's per-reference CTE
    * inlining otherwise re-evaluates the whole LPA chain per
    * reference (the g15/nnDescent lesson — measured >10 min at sf0.1
    * unhinted, seconds hinted; evaluation-only, semantics unchanged).
    */
  private val louvainPhase1Ctes: String =
    """,
      |em AS MATERIALIZED (SELECT a, b FROM e),
      |symm AS MATERIALIZED (SELECT a, b FROM sym),
      |l1m AS MATERIALIZED (SELECT node, lab FROM l1),
      |deg AS MATERIALIZED (SELECT a AS v, count(*)::BIGINT AS k
      |  FROM symm GROUP BY a),
      |mm AS MATERIALIZED (SELECT count(*)::BIGINT AS m FROM em),
      |dcs AS MATERIALIZED (SELECT l.lab AS community,
      |  sum(d.k::HUGEINT) AS sigma
      |  FROM deg d JOIN l1m l ON l.node = d.v GROUP BY 1),
      |nbr AS MATERIALIZED (SELECT s.a AS a, l.lab AS labc,
      |  count(*)::BIGINT AS cnt
      |  FROM symm s JOIN l1m l ON l.node = s.b GROUP BY 1, 2),
      |scored AS (SELECT n.a, n.labc, la.lab AS laba,
      |  2::HUGEINT * mm.m * n.cnt - d.k::HUGEINT *
      |    (dc.sigma - CASE WHEN n.labc = la.lab THEN d.k ELSE 0 END)
      |    AS s
      | FROM nbr n JOIN deg d ON d.v = n.a
      | JOIN l1m la ON la.node = n.a
      | JOIN dcs dc ON dc.community = n.labc, mm),
      |best AS (SELECT a, labc AS best_lab, s AS best_s FROM (
      |  SELECT *, row_number() OVER (PARTITION BY a
      |    ORDER BY s DESC, labc) AS rk FROM scored) WHERE rk = 1),
      |stay AS (SELECT la.node AS a, la.lab AS laba,
      |  2::HUGEINT * mm.m * coalesce(nb.cnt, 0) -
      |    d.k::HUGEINT * (dc.sigma - d.k) AS stay_s
      | FROM l1m la JOIN deg d ON d.v = la.node
      | JOIN dcs dc ON dc.community = la.lab
      | LEFT JOIN nbr nb ON nb.a = la.node AND nb.labc = la.lab, mm),
      |nl AS MATERIALIZED (SELECT st.a AS node, st.laba,
      |  CASE WHEN b.best_s > st.stay_s THEN b.best_lab
      |       ELSE st.laba END AS lab
      | FROM stay st LEFT JOIN best b ON b.a = st.a)""".stripMargin

  /** DuckDB: min-member canonicalization of the phase-1 partition
    * (`nl` → `canon` → `flat1` (v, c)) — shared by the g24 and g25
    * mirrors so the gate pair cannot drift. Appended to
    * [[louvainPhase1Ctes]].
    */
  private val louvainFlat1Ctes: String =
    """,
      |canon AS MATERIALIZED (SELECT lab, min(node) AS cc
      |  FROM nl GROUP BY lab),
      |flat1 AS MATERIALIZED (SELECT nl.node AS v, c.cc AS c
      |  FROM nl JOIN canon c ON c.lab = nl.lab)""".stripMargin

  /** DuckDB: one g25 ladder level — the weighted contraction of
    * flat`l` (GraphEtl.contractGraph's algebra verbatim: between-
    * community super-edges, self-loop weights, k = Σw + 2·selfw),
    * the positive-gain argmax per supernode, the MUTUAL-argmax
    * matching (mt`l`), and the merged partition flat`l+1` with
    * min-member labels. Multi-consumer CTEs MATERIALIZED (the g15
    * re-inlining lesson).
    */
  private def louvainLevelCtes(l: Int): String =
    louvainContractCtes(s"$l", s"flat$l") +
      louvainMatchTailCtes(s"$l", s"flat$l", s"flat${l + 1}")

  /** DuckDB: the weighted contraction of partition `$inFlat` (v, c) —
    * GraphEtl.contractGraph's algebra verbatim: between-community
    * super-edges, self-loop weights, k = Σw + 2·selfw. Emits
    * ce/bw/swt/symw/degc suffixed `$tag`. Shared by the g25 matching
    * levels and g26's move + matching phases.
    */
  private def louvainContractCtes(tag: String, inFlat: String): String =
    s""",
       |ce$tag AS MATERIALIZED (SELECT x.c AS ca, y.c AS cb FROM em e
       |  JOIN $inFlat x ON x.v = e.a JOIN $inFlat y ON y.v = e.b),
       |bw$tag AS MATERIALIZED (SELECT least(ca, cb) AS sa,
       |   greatest(ca, cb) AS sb, count(*)::BIGINT AS w
       |  FROM ce$tag WHERE ca <> cb GROUP BY 1, 2),
       |swt$tag AS MATERIALIZED (SELECT ca AS node,
       |   count(*)::BIGINT AS selfw FROM ce$tag WHERE ca = cb GROUP BY 1),
       |symw$tag AS MATERIALIZED (SELECT sa AS node, sb AS nb, w FROM bw$tag
       |  UNION ALL SELECT sb, sa, w FROM bw$tag),
       |degc$tag AS MATERIALIZED (SELECT c.node,
       |   coalesce(nw.nbw, 0) + 2 * coalesce(s.selfw, 0) AS k
       |  FROM (SELECT DISTINCT c AS node FROM $inFlat) c
       |  LEFT JOIN (SELECT node, sum(w)::BIGINT AS nbw FROM symw$tag
       |    GROUP BY 1) nw ON nw.node = c.node
       |  LEFT JOIN swt$tag s ON s.node = c.node)""".stripMargin

  /** DuckDB: the positive-gain argmax, MUTUAL-argmax matching, and
    * min-label merged partition over contraction `$tag` — the g25
    * level decision (mirrors GraphEtl.matchingLevel's tail).
    */
  private def louvainMatchTailCtes(tag: String, inFlat: String,
                                   outFlat: String): String =
    s""",
       |scored$tag AS (SELECT sy.node, sy.nb,
       |   2::HUGEINT * mm.m * sy.w - da.k::HUGEINT * db.k::HUGEINT AS s
       |  FROM symw$tag sy JOIN degc$tag da ON da.node = sy.node
       |  JOIN degc$tag db ON db.node = sy.nb, mm),
       |best$tag AS MATERIALIZED (SELECT node, nb FROM (
       |  SELECT *, row_number() OVER (PARTITION BY node
       |    ORDER BY s DESC, nb) AS rk FROM scored$tag)
       |  WHERE rk = 1 AND s > 0),
       |mt$tag AS MATERIALIZED (SELECT x.node AS pa, y.node AS pb
       |  FROM best$tag x JOIN best$tag y
       |  ON x.nb = y.node AND y.nb = x.node AND x.node < y.node),
       |mg$tag AS (SELECT pa AS c, pa AS mc FROM mt$tag
       |  UNION ALL SELECT pb, pa FROM mt$tag),
       |$outFlat AS MATERIALIZED (SELECT f.v,
       |   coalesce(g.mc, f.c) AS c
       |  FROM $inFlat f LEFT JOIN mg$tag g ON g.c = f.c)""".stripMargin

  /** DuckDB: one weighted synchronous local-move round on contraction
    * `$tag` (mirrors GraphEtl.weightedMoveDecided — the g26 per-level
    * phase 1): labels wl`$tag`_`${r-1}` → gain argmax vs the current
    * labeling (self-degree excluded for the own community, ties
    * (s DESC, labc)) → strict-improve decision wnl`$tag`_`$r` →
    * labels wl`$tag`_`$r`. HUGEINT score algebra, exactly
    * louvainPhase1Ctes' shapes with sum(w) for the edge counts and
    * the weighted degc degrees for k.
    * `dir` (g27 only; empty keeps g26's semantics byte-identical):
    * a WHERE tail on the scored-candidates CTE mirroring
    * weightedMoveDecided's alternating-direction damper.
    */
  private def louvainWMoveCtes(tag: String, r: Int,
                               dir: String = ""): String =
    s""",
       |wnbr${tag}_$r AS MATERIALIZED (SELECT sy.node AS node,
       |   l.lab AS labc, sum(sy.w)::BIGINT AS cnt
       |  FROM symw$tag sy JOIN wl${tag}_${r - 1} l ON l.node = sy.nb
       |  GROUP BY 1, 2),
       |wdcs${tag}_$r AS MATERIALIZED (SELECT l.lab AS community,
       |   sum(d.k::HUGEINT) AS sigma
       |  FROM degc$tag d JOIN wl${tag}_${r - 1} l ON l.node = d.node
       |  GROUP BY 1),
       |wsc${tag}_$r AS (SELECT n.node, n.labc, la.lab AS laba,
       |  2::HUGEINT * mm.m * n.cnt - d.k::HUGEINT *
       |    (dc.sigma - CASE WHEN n.labc = la.lab THEN d.k ELSE 0 END)
       |    AS s
       | FROM wnbr${tag}_$r n JOIN degc$tag d ON d.node = n.node
       | JOIN wl${tag}_${r - 1} la ON la.node = n.node
       | JOIN wdcs${tag}_$r dc ON dc.community = n.labc, mm$dir),
       |wbest${tag}_$r AS (SELECT node, labc AS best_lab, s AS best_s
       | FROM (SELECT *, row_number() OVER (PARTITION BY node
       |    ORDER BY s DESC, labc) AS rk FROM wsc${tag}_$r) WHERE rk = 1),
       |wstay${tag}_$r AS (SELECT la.node AS node, la.lab AS laba,
       |  2::HUGEINT * mm.m * coalesce(nb.cnt, 0) -
       |    d.k::HUGEINT * (dc.sigma - d.k) AS stay_s
       | FROM wl${tag}_${r - 1} la JOIN degc$tag d ON d.node = la.node
       | JOIN wdcs${tag}_$r dc ON dc.community = la.lab
       | LEFT JOIN wnbr${tag}_$r nb ON nb.node = la.node
       |   AND nb.labc = la.lab, mm),
       |wnl${tag}_$r AS MATERIALIZED (SELECT st.node, st.laba,
       |  CASE WHEN b.best_s > st.stay_s THEN b.best_lab
       |       ELSE st.laba END AS lab
       | FROM wstay${tag}_$r st LEFT JOIN wbest${tag}_$r b
       |   ON b.node = st.node),
       |wl${tag}_$r AS MATERIALIZED (SELECT node, lab FROM wnl${tag}_$r)"""
      .stripMargin

  /** DuckDB: one full g26 ladder level over `$inFlat` → `$outFlat` —
    * contraction `m$l`, the singleton-restart label init, `moveRounds`
    * weighted move rounds (per-round move-count CTEs wmvm`$l`_`$r`
    * aliased n_moves_l`$l`_r`$r`), the min-member fold into flatv`$l`,
    * then the g25 matching (contraction `$l` + match tail) and both
    * modularity tails (tags l`$l`mv / l`$l`).
    */
  private def g26LevelCtes(l: Int, inFlat: String, outFlat: String,
                           moveRounds: Int): String = {
    val mt = s"m$l"
    val init = s""",
       |wl${mt}_0 AS (SELECT node, node AS lab FROM degc$mt)""".stripMargin
    val rounds = (1 to moveRounds).map { r =>
      louvainWMoveCtes(mt, r) +
        s""",
           |wmv${mt}_$r AS (SELECT sum(CASE WHEN lab <> laba
           |    THEN 1 ELSE 0 END)::BIGINT AS n_moves_l${l}_r$r
           |  FROM wnl${mt}_$r)""".stripMargin
    }.mkString
    val fold = s""",
       |wcanon$mt AS (SELECT lab, min(node) AS cc
       |  FROM wl${mt}_$moveRounds GROUP BY lab),
       |wmap$mt AS (SELECT wl.node AS c, c2.cc AS mc
       |  FROM wl${mt}_$moveRounds wl JOIN wcanon$mt c2
       |  ON c2.lab = wl.lab),
       |flatv$l AS MATERIALIZED (SELECT f.v, coalesce(g.mc, f.c) AS c
       |  FROM $inFlat f LEFT JOIN wmap$mt g ON g.c = f.c)""".stripMargin
    louvainContractCtes(mt, inFlat) + init + rounds + fold +
      louvainContractCtes(s"$l", s"flatv$l") +
      louvainMatchTailCtes(s"$l", s"flatv$l", outFlat) +
      louvainModCtes(s"l${l}mv", s"flatv$l") +
      louvainModCtes(s"l$l", outFlat)
  }

  /** DuckDB: one full g28 ladder level over `$inFlat` → `$outFlat` —
    * contraction `x$l`, the singleton-restart label init, `cap`
    * unrolled ALTERNATING-DIRECTION weighted move rounds (g27's
    * damper), each with its move count, audit fold into the vertex
    * partition and original-edge modularity tail, and (r ≥ 2) the
    * same-parity label-diff probe. The recurrence is absorbing, so
    * rounds past the stop are no-ops: `stop$l` = first recurrence
    * round (cap if none), `fsel$l` = the partition folded AT the stop
    * round (selected from the per-round folds by the scalar), and the
    * level closes with g25's matching on the re-contraction of
    * `fsel$l` plus its modularity tail. Emits the filtered-rows CTEs
    * `${p}m$l` (move rows) / `${p}t$l` (the match row) for rows
    * prefix `p` (g28 / g29 — ONE builder for both gates, so the
    * ladder mirrors cannot drift).
    *
    * `refine = true` (the g29 Leiden gate) inserts the connectivity
    * refinement between the stop-round fold and the matching: the
    * intra-community edge subgraph of `fsel$l`, its connected
    * components via the same recursive min-label closure as the g12
    * mirror (the query must open WITH RECURSIVE), component labels →
    * `refined$l` (unlabeled vertices keep themselves — Spark's
    * coalesce(component, v)), a `refine` audit row (`${p}r$l`)
    * counting the extra communities the splits created, and the
    * matching then contracts `refined$l` instead of `fsel$l`.
    */
  private def g28LevelCtes(l: Int, inFlat: String, outFlat: String,
                           cap: Int, p: String = "g28",
                           refine: Boolean = false): String = {
    require(cap >= 2, s"g28LevelCtes needs cap >= 2, got $cap")
    val mt = s"x$l"
    val init = louvainContractCtes(mt, inFlat) +
      s""",
         |wl${mt}_0 AS (SELECT node, node AS lab FROM degc$mt)"""
        .stripMargin
    val rounds = (1 to cap).map { r =>
      val dir = if (r % 2 == 1) " WHERE n.labc < la.lab"
        else " WHERE n.labc > la.lab"
      louvainWMoveCtes(mt, r, dir) +
        s""",
           |wmv${mt}_$r AS (SELECT sum(CASE WHEN lab <> laba
           |    THEN 1 ELSE 0 END)::BIGINT AS n_moves FROM wnl${mt}_$r),
           |wcan${mt}_$r AS (SELECT lab, min(node) AS cc
           |  FROM wl${mt}_$r GROUP BY lab),
           |wmap${mt}_$r AS (SELECT wl.node AS c, c2.cc AS mc
           |  FROM wl${mt}_$r wl JOIN wcan${mt}_$r c2 ON c2.lab = wl.lab),
           |flat${mt}_$r AS MATERIALIZED (SELECT f.v,
           |   coalesce(g.mc, f.c) AS c
           |  FROM $inFlat f LEFT JOIN wmap${mt}_$r g ON g.c = f.c)"""
          .stripMargin +
        louvainModCtes(s"${mt}r$r", s"flat${mt}_$r") +
        (if (r < 2) ""
         else s""",
              |wd${mt}_$r AS (SELECT count(*)::BIGINT AS d
              |  FROM wl${mt}_$r a JOIN wl${mt}_${r - 2} b
              |    ON b.node = a.node
              |  WHERE a.lab <> b.lab)""".stripMargin)
    }.mkString
    val stop =
      s""",
         |g28d$l AS (
         |${(2 to cap).map(r =>
             s"  SELECT $r::BIGINT AS round, d FROM wd${mt}_$r")
             .mkString("\n  UNION ALL\n")}
         |),
         |stop$l AS (SELECT coalesce(min(round), $cap::BIGINT) AS rstop
         |  FROM g28d$l WHERE d = 0),
         |fsel$l AS MATERIALIZED (SELECT v, c FROM (
         |${(1 to cap).map(r =>
             s"  SELECT $r::BIGINT AS round, v, c FROM flat${mt}_$r")
             .mkString("\n  UNION ALL\n")}
         |) t, stop$l WHERE t.round = stop$l.rstop)""".stripMargin
    val moveRows =
      s""",
         |${p}m$l AS (
         |${(1 to cap).map(r =>
             s"""  SELECT $l::BIGINT AS level, 'move' AS phase,
                |   $r::BIGINT AS round, wmv${mt}_$r.n_moves,
                |   nb_${mt}r$r.nc_${mt}r$r AS n_communities,
                |${louvainModExpr(s"${mt}r$r", "modularity")}
                |  FROM mm, wmv${mt}_$r, nb_${mt}r$r, win_${mt}r$r"""
               .stripMargin)
             .mkString("\n  UNION ALL\n")}
         |)""".stripMargin
    // g29 only: the Leiden connectivity refinement of the stop-round
    // partition — intra-community edges, recursive min-label
    // components (the g12 closure scoped by the community equi-join),
    // refined partition + its audit row
    val refinement = if (!refine) "" else
      s""",
         |rfe$l AS MATERIALIZED (SELECT e.a, e.b FROM em e
         |  JOIN fsel$l x ON x.v = e.a JOIN fsel$l y ON y.v = e.b
         |  WHERE x.c = y.c),
         |rfs$l AS (SELECT a, b FROM rfe$l UNION SELECT b, a FROM rfe$l),
         |rfr$l(node, lab) AS (
         |  SELECT DISTINCT a, a FROM rfs$l
         |  UNION
         |  SELECT s.b, r.lab FROM rfr$l r JOIN rfs$l s ON s.a = r.node),
         |rfc$l AS (SELECT node, min(lab) AS component
         |  FROM rfr$l GROUP BY node),
         |refined$l AS MATERIALIZED (SELECT f.v,
         |   coalesce(r.component, f.v) AS c
         |  FROM fsel$l f LEFT JOIN rfc$l r ON r.node = f.v)"""
        .stripMargin +
        louvainModCtes(s"rf$l", s"refined$l") +
        s""",
           |${p}r$l AS (SELECT $l::BIGINT AS level, 'refine' AS phase,
           |   0::BIGINT AS round,
           |   ((SELECT count(DISTINCT c) FROM refined$l) -
           |    (SELECT count(DISTINCT c) FROM fsel$l))::BIGINT
           |     AS n_moves,
           |   nb_rf$l.nc_rf$l AS n_communities,
           |${louvainModExpr(s"rf$l", "modularity")}
           |  FROM mm, nb_rf$l, win_rf$l)""".stripMargin
    val matchIn = if (refine) s"refined$l" else s"fsel$l"
    val matching = louvainContractCtes(s"y$l", matchIn) +
      louvainMatchTailCtes(s"y$l", matchIn, outFlat) +
      louvainModCtes(s"y$l", outFlat) +
      s""",
         |${p}t$l AS (SELECT $l::BIGINT AS level, 'match' AS phase,
         |   0::BIGINT AS round,
         |   (SELECT count(*)::BIGINT FROM mty$l) AS n_moves,
         |   nb_y$l.nc_y$l AS n_communities,
         |${louvainModExpr(s"y$l", "modularity")}
         |  FROM mm, nb_y$l, win_y$l)""".stripMargin
    init + rounds + stop + moveRows + refinement + matching
  }

  /** DuckDB: the g21 modularity tail over partition table `flatName`
    * (v, c) — per-community weighted-degree sums, community count +
    * Σσ², within-community edge count. Emits nc_`tag` / sdq_`tag` /
    * win_`tag`; pair with [[louvainModExpr]] in the final SELECT.
    */
  private def louvainModCtes(tag: String, flatName: String): String =
    s""",
       |dcs_$tag AS (SELECT f.c, sum(d.k::HUGEINT) AS sigma
       |  FROM deg d JOIN $flatName f ON f.v = d.v GROUP BY 1),
       |nb_$tag AS (SELECT count(*)::BIGINT AS nc_$tag,
       |   sum(sigma * sigma) AS sdq_$tag FROM dcs_$tag),
       |win_$tag AS (SELECT count(*)::BIGINT AS e_in FROM em e
       |  JOIN $flatName x ON x.v = e.a JOIN $flatName y ON y.v = e.b
       |  WHERE x.c = y.c)""".stripMargin

  /** DuckDB: the single-division exact modularity expression over a
    * [[louvainModCtes]] tail.
    */
  private def louvainModExpr(tag: String, alias: String): String =
    s""" CASE WHEN mm.m = 0 THEN NULL ELSE
       |   (4::HUGEINT * mm.m * win_$tag.e_in - nb_$tag.sdq_$tag)::DOUBLE
       |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END AS $alias"""
      .stripMargin

  /** DuckDB: the CDC chunk construction (Dedup.cdcChunksCol, k=4,
    * divisor=16): word hashes → windowed polynomial → boundary filter
    * (window end positions i+3, final word excluded) → slice/join per
    * chunk. Shared by the d28 and d29 mirrors.
    */
  private val cdcChunksCte: String = {
    import graft.functions.Canon.{MersenneP => P}
    val poly = (1 until 4).foldLeft("hw[i]") {
      (acc, j) => s"($acc*31 + hw[i+$j])"
    } + s" % $P"
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents),
       |h AS (SELECT doc_id, w, [${h60("x")} % $P FOR x IN w] AS hw
       |  FROM w),
       |sh AS (SELECT doc_id, w,
       |   [$poly FOR i IN range(1, len(hw) - 2)] AS sh FROM h),
       |bd AS (SELECT doc_id, w, list_append(
       |    [i + 3 FOR i IN range(1, len(sh) + 1)
       |     IF sh[i] % 16 = 0 AND i + 3 < len(w)], len(w)) AS ends
       |  FROM sh),
       |ck AS (SELECT doc_id,
       |    [array_to_string(w[(CASE WHEN i = 1 THEN 1
       |        ELSE ends[i-1] + 1 END):ends[i]], ' ')
       |     FOR i IN range(1, len(ends) + 1)] AS chunks,
       |    len(w) AS n_words
       |  FROM bd)""".stripMargin
  }

  /** DuckDB: the unrolled BPE training chain (TextAnalysis.bpeTrain) —
    * seed vocab v0 (word counts + sentinel-spaced char string), then
    * per round r: weighted adjacent-pair counts p_r, the 1-row argmax
    * b_r ((count DESC, w1, w2) total order), and the merge application
    * v_r via the SAME delimiter-consuming single-pass replace as the
    * Spark side (LEFT JOIN ON true so an empty argmax is a no-op).
    */
  private def bpeCtes(rounds: Int): String = {
    val seed =
      """v0 AS (SELECT word, count(*)::BIGINT AS cnt,
        |   ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS s
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY word)""".stripMargin
    val blocks = (1 to rounds).map { r =>
      s"""p$r AS (SELECT p.w1 AS w1, p.w2 AS w2, cnt FROM (
         |  SELECT cnt, unnest([{'w1': w[i], 'w2': w[i+1]}
         |      FOR i IN range(1, len(w))]) AS p
         |  FROM (SELECT cnt, string_split(trim(s), ' ') AS w
         |        FROM v${r - 1})
         |  WHERE len(w) >= 2)),
         |b$r AS (SELECT $r AS merge_round, w1, w2,
         |   sum(cnt)::BIGINT AS pair_count
         |  FROM p$r GROUP BY w1, w2
         |  ORDER BY pair_count DESC, w1, w2 LIMIT 1),
         |v$r AS (SELECT word, cnt,
         |   CASE WHEN b.w1 IS NULL THEN s
         |        ELSE replace(s, ' ' || b.w1 || ' ' || b.w2 || ' ',
         |                        ' ' || b.w1 || b.w2 || ' ') END AS s
         |  FROM v${r - 1} LEFT JOIN b$r b ON true)""".stripMargin
    }
    (seed +: blocks).mkString("WITH ", ",\n", "\n")
  }

  /** DuckDB: the unrolled 16-term Morton interleave over bucketed
    * columns `pb`/`sb` — shared by the p17 and p19 mirrors so the two
    * gates cannot drift (mirrors Pipeline.zorderLayout's interleave).
    */
  private val zMorton: String = (0 until 16).map(i =>
    s"((pb >> $i) & 1) * ${1L << (2 * i)} + " +
      s"((sb >> $i) & 1) * ${1L << (2 * i + 1)}")
    .mkString(" + ")

  /** DuckDB: the p17 z-order shard-stats chain (same bucket /
    * interleave / rank-cut algebra as Pipeline.zorderLayout), exposed
    * as a CTE prefix ending in `zs` (shard → min/max footer stats).
    */
  private val zorderStatsCte: String =
    s"""WITH s AS (SELECT min(l_partkey) AS pkmn,
       |  max(l_partkey) AS pkmx, min(l_suppkey) AS skmn,
       |  max(l_suppkey) AS skmx FROM lineitem),
       |b AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  ((l_partkey - pkmn) * 65535) //
       |    (CASE WHEN pkmx > pkmn THEN pkmx - pkmn ELSE 1 END) AS pb,
       |  ((l_suppkey - skmn) * 65535) //
       |    (CASE WHEN skmx > skmn THEN skmx - skmn ELSE 1 END) AS sb
       | FROM lineitem, s),
       |z AS (SELECT l_orderkey, l_linenumber, l_partkey,
       |  l_suppkey, CAST($zMorton AS BIGINT) AS zval FROM b),
       |r AS (SELECT *, row_number() OVER (
       |    ORDER BY zval, l_orderkey, l_linenumber) AS rn,
       |  count(*) OVER () AS n FROM z),
       |zs AS (SELECT CAST(((rn - 1) * 32) // n AS BIGINT) AS shard,
       |  count(*) AS n_rows,
       |  min(zval) AS z_min, max(zval) AS z_max,
       |  min(l_partkey) AS partkey_min, max(l_partkey) AS partkey_max,
       |  min(l_suppkey) AS suppkey_min, max(l_suppkey) AS suppkey_max
       | FROM r GROUP BY 1)
       |""".stripMargin

  /** Shared minhash-signature CTE (documents → doc_id, m0..m7):
    * one md5 per shingle reduced into Z_p, then the Canon affine
    * universal-hash family per seed — mirrors Dedup.minhashSignature.
    */
  private val minhashCte: String = {
    import graft.functions.Canon.{AffineA, AffineB, MersenneP => P}
    val sigs = (0 until 8).map(s =>
      s"  list_min([(h * ${AffineA(s)} + ${AffineB(s)}) % $P FOR h IN hs]) AS m$s")
      .mkString(",\n")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |hw AS (SELECT doc_id, [${h60("x")} % $P FOR x IN w] AS hw FROM w),
       |hb AS (SELECT doc_id,
       |  [((hw[i]*31 + hw[i+1])*31 + hw[i+2]) % $P
       |   FOR i IN range(1, len(hw)-1)] AS hs FROM hw),
       |sig AS (SELECT doc_id,
       |$sigs
       | FROM hb)
       |""".stripMargin
  }

  /** Arrival-order LSH suppression verdict CTE (the d23 bucket-min
    * algebra: per-bucket earliest occupant, per-doc earliest across
    * its buckets) — SHARED by the d23 and st11 mirrors so the two
    * gates can never drift apart.
    */
  private val lshEarliestCte: String = {
    val bands = (0 until 4).map(j =>
      s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
    minhashCte +
      s""", banded AS (SELECT doc_id,
         | unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
         |mins AS (SELECT bk, min(doc_id) AS mn FROM banded GROUP BY bk),
         |earliest AS (SELECT b.doc_id, min(m.mn) AS e
         |  FROM banded b JOIN mins m USING (bk) GROUP BY b.doc_id)
         |""".stripMargin
  }

  /** Shared p16 serpentine-LPT CTE (doc_id, shard, n_tokens) — used
    * by the p16 and p21 mirrors so the layout and its manifest cannot
    * drift.
    */
  private val balancedShardsCte: String =
    """WITH b AS (SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS n_tokens,
      |  md5(text) AS tb FROM documents),
      |r AS (SELECT doc_id, n_tokens, row_number() OVER (
      |    ORDER BY n_tokens DESC, tb, doc_id) - 1 AS r0 FROM b),
      |shards AS (SELECT doc_id,
      |  CAST(CASE WHEN (r0 // 64) % 2 = 0 THEN r0 % 64
      |    ELSE 63 - (r0 % 64) END AS INT) AS shard,
      |  n_tokens FROM r)""".stripMargin

  /** Shared embedding CTE with norms (vec_id, label, v, nrm). */
  private val embCte: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, v,
       |  sqrt(${foldSum("[x*x FOR x IN v]")}) AS nrm FROM e)
       |""".stripMargin

  /** s32's fixed-point scale + its derived positive-shift offset,
    * read from the entry's constant so both engines move together.
    */
  private val DriftScale: Long = Similarity.DriftScale
  private val DriftOff: Long = 10L * DriftScale

  private val pairDot: String =
    foldSum("[a.v[i] * b.v[i] FOR i IN range(1, len(a.v)+1)]")

  /** s29/s30 shared oracle tail after [[nnDescentCte]]: the label-only
    * seed graph, the exact-truth pass over the `vec_id % 50` query
    * subset, and the two recall rows.
    */
  private lazy val descentRecallTail: String =
    s""",
       |lkeep AS (SELECT label FROM embeddings
       |  GROUP BY label HAVING count(*) <= 10000),
       |lsc AS (SELECT a.vec_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM n a JOIN n b ON a.label = b.label
       |   AND a.vec_id <> b.vec_id
       | WHERE a.label IN (SELECT label FROM lkeep)),
       |lg AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
       | SELECT *, row_number() OVER (PARTITION BY vec_id
       |   ORDER BY sim DESC, nbr_id) AS rk FROM lsc)
       | WHERE rk <= 5),
       |qv AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 50 = 0),
       |trs AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM qv a JOIN n b ON a.vec_id <> b.vec_id),
       |tr AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk FROM trs)
       | WHERE rk <= 5),
       |nq AS (SELECT count(*) AS n_queries FROM
       |  (SELECT DISTINCT vec_id FROM qv)),
       |hs AS (SELECT count(*) AS n_hits FROM tr
       |  JOIN lg USING (vec_id, nbr_id)),
       |hd AS (SELECT count(*) AS n_hits FROM tr
       |  JOIN g4 USING (vec_id, nbr_id))
       |SELECT 'seed' AS variant, n_queries, hs.n_hits AS n_hits,
       | hs.n_hits::DOUBLE / (n_queries * 5)::DOUBLE AS recall
       |FROM nq, hs
       |UNION ALL
       |SELECT 'descended', n_queries, hd.n_hits,
       | hd.n_hits::DOUBLE / (n_queries * 5)::DOUBLE
       |FROM nq, hd""".stripMargin

  /** DuckDB: the NN-descent chain (s28/s29 mirrors, shared so the
    * gates cannot drift) — embCte + the s08 label-blocked seed as
    * `g0`, then `rounds` unrolled local-join rounds ending in
    * `g<rounds>`. Every per-round CTE is MATERIALIZED: the chain
    * references each round's graph 3× and DuckDB's per-reference
    * CTE inlining is exponential in rounds (the g15 k-core lesson).
    */
  private def nnDescentCte(rounds: Int, k: Int = 5,
                           base: String = embCte): String = {
    val seed = base +
      s""", x AS (SELECT label, unnest([{'d': i,
         |    'q': floor(v[i] * 1000000)::BIGINT}
         |  FOR i IN range(1, len(v)+1)]) AS s FROM e),
         |cg AS (SELECT label, s.d::BIGINT AS dim,
         |  sum(s.q)::BIGINT AS qsum, count(*) AS n_vecs
         |  FROM x GROUP BY label, s.d),
         |cent AS (SELECT label, dim,
         |  qsum::DOUBLE / 1000000 / n_vecs AS centroid FROM cg),
         |carr AS (SELECT label, list(centroid ORDER BY dim) AS cv
         |  FROM cent GROUP BY label),
         |csc AS (SELECT n.vec_id, c.label AS cand,
         |  ${pairDot.replace("b.v[i]", "c.cv[i]").replace("a.v", "n.v")} /
         |  (n.nrm * sqrt(${foldSum("[x*x FOR x IN c.cv]")})) AS sim
         |  FROM n CROSS JOIN carr c),
         |cells AS MATERIALIZED (SELECT vec_id, cand::BIGINT AS bk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cand ASC) AS rk FROM csc)
         |  WHERE rk = 1),
         |lrk AS (SELECT vec_id, label AS bk,
         |  row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
         |  count(*) OVER (PARTITION BY label) AS b FROM e),
         |crk AS (SELECT vec_id, bk,
         |  row_number() OVER (PARTITION BY bk ORDER BY vec_id) AS rn,
         |  count(*) OVER (PARTITION BY bk) AS b FROM cells),
         |hrk AS (SELECT vec_id, 0 AS bk,
         |  row_number() OVER (ORDER BY
         |    ${h60("vec_id::VARCHAR")} % ${graft.functions.Canon.MersenneP},
         |    vec_id) AS rn,
         |  count(*) OVER () AS b FROM e),
         |cand0 AS MATERIALIZED (SELECT DISTINCT vec_id, nbr_id FROM (
         |  SELECT a.vec_id, t.vec_id AS nbr_id FROM
         |   (SELECT x.*, g.j FROM lrk x
         |     CROSS JOIN generate_series(1, ${2 * k}) g(j)
         |    WHERE g.j <= least(${2 * k}, x.b - 1)) a
         |   JOIN lrk t ON t.bk = a.bk
         |    AND t.rn = (a.rn - 1 + a.j) % a.b + 1
         |  UNION ALL
         |  SELECT a.vec_id, t.vec_id AS nbr_id FROM
         |   (SELECT x.*, g.j FROM crk x
         |     CROSS JOIN generate_series(1, ${2 * k}) g(j)
         |    WHERE g.j <= least(${2 * k}, x.b - 1)) a
         |   JOIN crk t ON t.bk = a.bk
         |    AND t.rn = (a.rn - 1 + a.j) % a.b + 1
         |  UNION ALL
         |  SELECT a.vec_id, t.vec_id AS nbr_id FROM
         |   (SELECT x.*, g.j FROM hrk x
         |     CROSS JOIN generate_series(1, ${2 * k}) g(j)
         |    WHERE g.j <= least(${2 * k}, x.b - 1)) a
         |   JOIN hrk t ON t.bk = a.bk
         |    AND t.rn = (a.rn - 1 + a.j) % a.b + 1)),
         |sc0 AS (SELECT c.vec_id, c.nbr_id,
         |  $pairDot / (a.nrm * b.nrm) AS sim
         | FROM cand0 c JOIN n a ON a.vec_id = c.vec_id
         |  JOIN n b ON b.vec_id = c.nbr_id),
         |g0 AS MATERIALIZED (SELECT vec_id, nbr_id, sim FROM (
         | SELECT *, row_number() OVER (PARTITION BY vec_id
         |   ORDER BY sim DESC, nbr_id) AS rk FROM sc0)
         | WHERE rk <= $k)""".stripMargin
    (1 to rounds).foldLeft(seed) { (acc, r) =>
      acc + s""",
         |rev$r AS (SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM (
         |  SELECT vec_id, nbr_id, row_number() OVER (
         |    PARTITION BY nbr_id ORDER BY sim DESC, vec_id ASC) AS rr
         |  FROM g${r - 1}) WHERE rr <= $k),
         |u$r AS MATERIALIZED (SELECT DISTINCT vec_id, nbr_id FROM (
         |  SELECT vec_id, nbr_id FROM g${r - 1}
         |  UNION ALL SELECT vec_id, nbr_id FROM rev$r)),
         |cand$r AS MATERIALIZED (SELECT DISTINCT vec_id, nbr_id FROM (
         |  SELECT p.nbr_id AS vec_id, q.nbr_id AS nbr_id
         |   FROM u$r p JOIN u$r q ON p.vec_id = q.vec_id
         |    AND p.nbr_id <> q.nbr_id
         |  UNION ALL SELECT vec_id, nbr_id FROM g${r - 1})),
         |sc$r AS (SELECT c.vec_id, c.nbr_id,
         |  $pairDot / (a.nrm * b.nrm) AS sim
         | FROM cand$r c JOIN n a ON a.vec_id = c.vec_id
         |  JOIN n b ON b.vec_id = c.nbr_id),
         |g$r AS MATERIALIZED (SELECT vec_id, nbr_id, sim FROM (
         | SELECT *, row_number() OVER (PARTITION BY vec_id
         |   ORDER BY sim DESC, nbr_id) AS rk FROM sc$r)
         | WHERE rk <= $k)""".stripMargin
    }
  }

  /** s33/s34 shared oracle chain, appended after [[nnDescentCte]]
    * (so `e`, `n`, `g<dr>` exist): the symmetrized search graph, the
    * dial query set, the md5-order entry points, the scored entry
    * frontier `bf0`, then `rounds` unrolled hop-union-score-rank
    * rounds ending in `bf<rounds>`. Frontier CTEs MATERIALIZED for
    * the same 3-reference reason as the descent rounds.
    */
  private def beamCte(beam: Int, rounds: Int, k: Int,
                      descentRounds: Int,
                      qbSql: String =
                        "SELECT vec_id AS q_id, v, nrm FROM n" +
                          " WHERE vec_id % 50 = 0",
                      hier: Boolean = false): String = {
    // s47 ladder (hier): bf0 is the per-query top-beam over the ⌊√n⌋
    // md5-order pilots (hrk's rank, rn² ≤ n) instead of the fixed
    // global entry set.
    val entry0 =
      if (hier)
        s"""lvp AS (SELECT vec_id FROM hrk WHERE rn * rn <= b),
           |bs0 AS (SELECT a.q_id, b.vec_id AS cand_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM qb a CROSS JOIN lvp l
           |  JOIN n b ON b.vec_id = l.vec_id
           | WHERE b.vec_id <> a.q_id)""".stripMargin
      else
        s"""ent AS (SELECT vec_id AS cand_id FROM e
           |  ORDER BY ${h60("vec_id::VARCHAR")} %
           |    ${graft.functions.Canon.MersenneP}, vec_id LIMIT $beam),
           |bc0 AS (SELECT q_id, cand_id FROM qb CROSS JOIN ent
           |  WHERE cand_id <> q_id),
           |bs0 AS (SELECT c.q_id, c.cand_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM bc0 c JOIN qb a ON a.q_id = c.q_id
           |  JOIN n b ON b.vec_id = c.cand_id)""".stripMargin
    val base =
      s""",
         |skip AS (SELECT a.vec_id, t.vec_id AS nbr_id FROM
         |  (SELECT x.vec_id, x.rn, x.b, (2 ** g.j)::BIGINT AS off
         |    FROM hrk x CROSS JOIN generate_series(0, 62) g(j)
         |   WHERE (2 ** g.j)::BIGINT <= x.b - 1) a
         |  JOIN hrk t ON t.rn = (a.rn - 1 + a.off) % a.b + 1),
         |gsym AS MATERIALIZED (SELECT DISTINCT vec_id, nbr_id FROM (
         |  SELECT vec_id, nbr_id FROM g$descentRounds
         |  UNION ALL
         |  SELECT nbr_id AS vec_id, vec_id AS nbr_id
         |  FROM g$descentRounds
         |  UNION ALL SELECT vec_id, nbr_id FROM skip
         |  UNION ALL
         |  SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM skip)),
         |qb AS ($qbSql),
         |$entry0,
         |bf0 AS MATERIALIZED (SELECT q_id, cand_id, sim FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id
         |   ORDER BY sim DESC, cand_id) AS rk FROM bs0)
         | WHERE rk <= $beam)""".stripMargin
    (1 to rounds).foldLeft(base) { (acc, r) =>
      acc + s""",
         |bc$r AS (SELECT DISTINCT q_id, cand_id FROM (
         |  SELECT q_id, cand_id FROM bf${r - 1}
         |  UNION ALL
         |  SELECT f.q_id, g.nbr_id AS cand_id FROM bf${r - 1} f
         |   JOIN gsym g ON g.vec_id = f.cand_id)
         | WHERE cand_id <> q_id),
         |bs$r AS (SELECT c.q_id, c.cand_id,
         |  $pairDot / (a.nrm * b.nrm) AS sim
         | FROM bc$r c JOIN qb a ON a.q_id = c.q_id
         |  JOIN n b ON b.vec_id = c.cand_id),
         |bf$r AS MATERIALIZED (SELECT q_id, cand_id, sim FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id
         |   ORDER BY sim DESC, cand_id) AS rk FROM bs$r)
         | WHERE rk <= $beam)""".stripMargin
    }
  }

  /** The OLD-corpus variant of embCte (s36/s37): e/n — hence the
    * descent chain, the ring seeds, hrk's fingers, and the beam
    * entries — see only rows passing `pred`, mirroring the Spark side
    * building its graph on the filtered frame.
    */
  private def embCteWhere(pred: String): String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE $pred),
       |n AS (SELECT vec_id, label, v,
       |  sqrt(${foldSum("[x*x FOR x IN v]")}) AS nrm FROM e)
       |""".stripMargin

  /** Full-corpus n-table beside a filtered chain (s36's insert batch
    * reads its query vectors here; s37's truth pass runs here).
    */
  private val nAllCte: String =
    s""",
       |eall AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |nall AS (SELECT vec_id, label, v,
       |  sqrt(${foldSum("[x*x FOR x IN v]")}) AS nrm FROM eall)""".stripMargin

  /** s36/s37 shared tail after [[beamCte]] (whose qb must be the
    * insert batch from nall): new forward edges from the final
    * frontier, the sim-reusing reverse patch, the per-old-node top-k
    * keep.
    */
  private def insertCte(beamRounds: Int, k: Int,
                        descentRounds: Int): String =
    s""",
       |nfwd AS MATERIALIZED (SELECT q_id AS vec_id, cand_id AS nbr_id,
       |  sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, cand_id) AS rk FROM bf$beamRounds)
       | WHERE rk <= $k),
       |rev AS (SELECT nbr_id AS vec_id, vec_id AS nbr_id, sim
       | FROM nfwd),
       |pat AS MATERIALIZED (SELECT vec_id, nbr_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk FROM (
       |   SELECT vec_id, nbr_id, sim FROM g$descentRounds
       |   UNION ALL SELECT vec_id, nbr_id, sim FROM rev))
       | WHERE rk <= $k)""".stripMargin

  /** s37/s38 shared oracle tail after [[insertCte]]: the full-corpus
    * exact truth over the mixed dial set (old %50=0, new %50=49) and
    * the two per-node-class recall rows.
    */
  private lazy val incrementalRecallTail: String =
    s""",
       |q37 AS (SELECT vec_id, v, nrm FROM nall
       |  WHERE vec_id % 50 = 0 OR vec_id % 50 = 49),
       |itrs AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM q37 a JOIN nall b ON b.vec_id <> a.vec_id),
       |itr AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk FROM itrs)
       | WHERE rk <= 5),
       |gall AS (SELECT vec_id, nbr_id FROM pat
       | UNION ALL SELECT vec_id, nbr_id FROM nfwd),
       |iq AS (SELECT
       |  CAST(sum((vec_id % 50 = 0)::INT) AS BIGINT) AS nq_old,
       |  CAST(sum((vec_id % 50 = 49)::INT) AS BIGINT) AS nq_new
       | FROM q37),
       |ho AS (SELECT count(*) AS n_hits FROM itr
       |  JOIN gall USING (vec_id, nbr_id) WHERE vec_id % 50 = 0),
       |hn AS (SELECT count(*) AS n_hits FROM itr
       |  JOIN gall USING (vec_id, nbr_id) WHERE vec_id % 50 = 49)
       |SELECT 'old_nodes' AS variant, nq_old AS n_queries,
       | ho.n_hits AS n_hits,
       | ho.n_hits::DOUBLE / (nq_old * 5)::DOUBLE AS recall
       |FROM iq, ho
       |UNION ALL
       |SELECT 'new_nodes', nq_new, hn.n_hits,
       | hn.n_hits::DOUBLE / (nq_new * 5)::DOUBLE
       |FROM iq, hn""".stripMargin

  /** s50 tail after [[beamCte]] run to `cuts.max` rounds: the exact
    * truth pass (once), then recall@k rows cut at each bf$r.
    */
  private def roundsCurveTail(k: Int, cuts: Seq[Int]): String = {
    val cutCtes = cuts.map { r =>
      s"""cut$r AS (SELECT q_id AS vec_id, cand_id AS nbr_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, cand_id) AS rk FROM bf$r)
         | WHERE rk <= $k),
         |ch$r AS (SELECT count(*) AS n_hits FROM ctr
         |  JOIN cut$r USING (vec_id, nbr_id))""".stripMargin
    }.mkString(",\n")
    val rows = cuts.map { r =>
      s"""SELECT $r::BIGINT AS rounds, n_queries,
         | ch$r.n_hits AS n_hits,
         | ch$r.n_hits::DOUBLE / (n_queries * $k)::DOUBLE AS recall
         |FROM cnq, ch$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s""",
       |crts AS (SELECT a.q_id AS vec_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM qb a JOIN n b ON b.vec_id <> a.q_id),
       |ctr AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk FROM crts)
       | WHERE rk <= $k),
       |cnq AS (SELECT count(*) AS n_queries FROM qb),
       |$cutCtes
       |$rows""".stripMargin
  }

  /** s34 oracle tail after [[beamCte]]: the exact corpus-wide truth
    * over the dial queries, top-k cuts of the entry and final
    * frontiers, and the two recall rows.
    */
  private def beamRecallTail(rounds: Int, k: Int): String =
    s""",
       |btrs AS (SELECT a.q_id AS vec_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM qb a JOIN n b ON b.vec_id <> a.q_id),
       |btr AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk FROM btrs)
       | WHERE rk <= $k),
       |bnq AS (SELECT count(*) AS n_queries FROM qb),
       |bent AS (SELECT q_id AS vec_id, cand_id AS nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, cand_id) AS rk FROM bf0)
       | WHERE rk <= $k),
       |bfin AS (SELECT q_id AS vec_id, cand_id AS nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, cand_id) AS rk FROM bf$rounds)
       | WHERE rk <= $k),
       |bhe AS (SELECT count(*) AS n_hits FROM btr
       |  JOIN bent USING (vec_id, nbr_id)),
       |bhb AS (SELECT count(*) AS n_hits FROM btr
       |  JOIN bfin USING (vec_id, nbr_id))
       |SELECT 'entry' AS variant, n_queries, bhe.n_hits AS n_hits,
       | bhe.n_hits::DOUBLE / (n_queries * $k)::DOUBLE AS recall
       |FROM bnq, bhe
       |UNION ALL
       |SELECT 'beam', n_queries, bhb.n_hits,
       | bhb.n_hits::DOUBLE / (n_queries * $k)::DOUBLE
       |FROM bnq, bhb""".stripMargin

  /** s44/s45 shared PQ-walk tail, appended AFTER [[beamCte]] (so
    * gsym/qb/ent exist; the exact-scored bf chain goes unreferenced —
    * hence unevaluated — in s44): the refined PQ codebook (pqCbCte),
    * the packed codes, the per-query ADC lookup table, then `rounds`
    * unrolled hop-union-ADC-score-rank rounds pf0..pf<rounds>, the
    * exact re-rank `prr`, and the ranked top-k `prk`. ADC scores are
    * the s-ASCENDING ordered-list fold (the s06 convention).
    */
  private def pqBeamTail(beam: Int, rounds: Int, k: Int): String = {
    val base =
      s""",
         |$pqCbCte,
         |pcodes AS (SELECT vec_id, s, code FROM (
         |  SELECT vec_id, s, code, row_number() OVER (
         |    PARTITION BY vec_id, s ORDER BY
         |    list_reduce(list_prepend(0.0,
         |      [(va[i]-vb[i])*(va[i]-vb[i])
         |       FOR i IN range(1, len(va)+1)]),
         |      (acc, x) -> acc + x), code) AS rk FROM sub)
         |  WHERE rk = 1),
         |pqt AS (SELECT vec_id AS q_id, s, code,
         |   list_reduce(list_prepend(0.0,
         |     [va[i]*vb[i] FOR i IN range(1, len(va)+1)]),
         |     (acc, x) -> acc + x) AS pdot
         |  FROM sub WHERE vec_id % 50 = 0),
         |pc0 AS (SELECT q_id, cand_id FROM qb CROSS JOIN ent
         |  WHERE cand_id <> q_id)""".stripMargin
    val walked = (0 to rounds).foldLeft(base) { (acc, r) =>
      val cand = if (r == 0) ""
      else s""",
         |pc$r AS (SELECT DISTINCT q_id, cand_id FROM (
         |  SELECT q_id, cand_id FROM pf${r - 1}
         |  UNION ALL
         |  SELECT f.q_id, g.nbr_id AS cand_id FROM pf${r - 1} f
         |   JOIN gsym g ON g.vec_id = f.cand_id)
         | WHERE cand_id <> q_id)""".stripMargin
      acc + cand + s""",
         |ps$r AS (SELECT c.q_id, c.cand_id,
         |  list_reduce(list_prepend(0.0, list(t.pdot ORDER BY t.s)),
         |    (acc, x) -> acc + x) AS approx_dot
         | FROM pc$r c JOIN pcodes kk ON kk.vec_id = c.cand_id
         |  JOIN pqt t ON t.q_id = c.q_id AND t.s = kk.s
         |   AND t.code = kk.code
         | GROUP BY c.q_id, c.cand_id),
         |pf$r AS MATERIALIZED (SELECT q_id, cand_id, approx_dot FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id
         |   ORDER BY approx_dot DESC, cand_id) AS rk FROM ps$r)
         | WHERE rk <= $beam)""".stripMargin
    }
    walked + s""",
         |prr AS (SELECT f.q_id, f.cand_id,
         |  $pairDot / (a.nrm * b.nrm) AS sim
         | FROM pf$rounds f JOIN qb a ON a.q_id = f.q_id
         |  JOIN n b ON b.vec_id = f.cand_id),
         |prk AS (SELECT q_id, cand_id, sim, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, cand_id) AS rk FROM prr)
         | WHERE rk <= $k)""".stripMargin
  }

  /** s45 tail after [[pqBeamTail]]: the exact corpus-wide truth over
    * the dial queries, then recall rows for the exact-scored walk
    * (bf<rounds>, from beamCte) and the re-ranked PQ walk (prk).
    */
  private def pqBeamRecallTail(rounds: Int, k: Int): String =
    s""",
       |btrs AS (SELECT a.q_id AS vec_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM qb a JOIN n b ON b.vec_id <> a.q_id),
       |btr AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, nbr_id) AS rk FROM btrs)
       | WHERE rk <= $k),
       |bnq AS (SELECT count(*) AS n_queries FROM qb),
       |bfin AS (SELECT q_id AS vec_id, cand_id AS nbr_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sim DESC, cand_id) AS rk FROM bf$rounds)
       | WHERE rk <= $k),
       |ppk AS (SELECT q_id AS vec_id, cand_id AS nbr_id FROM prk),
       |bhb AS (SELECT count(*) AS n_hits FROM btr
       |  JOIN bfin USING (vec_id, nbr_id)),
       |bhp AS (SELECT count(*) AS n_hits FROM btr
       |  JOIN ppk USING (vec_id, nbr_id))
       |SELECT 'beam' AS variant, n_queries, bhb.n_hits AS n_hits,
       | bhb.n_hits::DOUBLE / (n_queries * $k)::DOUBLE AS recall
       |FROM bnq, bhb
       |UNION ALL
       |SELECT 'pq_beam', n_queries, bhp.n_hits,
       | bhp.n_hits::DOUBLE / (n_queries * $k)::DOUBLE
       |FROM bnq, bhp""".stripMargin

  /** Oracle mirror of Dedup.lshCandidatePairs' maxBucket=1000 guard
    * (ADVICE r2): buckets larger than the cap are skipped ENTIRELY on
    * the Spark side, so the oracle must drop them too or the two sides
    * diverge the moment a hot band exceeds the cap at larger SF.
    * Windowed-count subquery rather than QUALIFY for ANSI portability.
    * (count(*) per bk == distinct docs per bucket: the band index is
    * folded into the key, so one doc contributes ≤1 row per bk.)
    */
  private val cappedCte: String =
    """capped AS (SELECT doc_id, bk FROM (
      |  SELECT doc_id, bk, count(*) OVER (PARTITION BY bk) AS bsz
      |  FROM banded) WHERE bsz <= 1000)""".stripMargin

  /** Per-row centroid cosine (alias `a` × centroid table `c`). */
  private val centSim: String =
    foldSum("[a.v[i] * c.cv[i] FOR i IN range(1, len(a.v)+1)]") +
      " / (a.nrm * c.cnrm)"

  /** Shared deterministic-IVF CTE chain (appended after embCte's `n`):
    * hash-seeded cells (c0), seed-cell assignment (asg0), ONE
    * fixed-point Lloyd round — per-(cell, dim) integer sums of
    * floor(v·10⁶), the s07 shape — rebuilt into the refined centroid
    * table `c` (seed backfill for cells that lost every member, cnrm
    * recomputed uniformly), then the refined assignment `asg` and the
    * query probe list `probes`. Mirrors Similarity.ivfRefineOnce +
    * knnIvfDeterministic at nQueries=10, nCells=16, nProbe=4 — the
    * parameters both gated callers (s03, s11) use. Same left-fold dot
    * as the Spark side throughout.
    */
  private val ivfCte: String = ivfCteOver("n")

  /** [[ivfCte]] with the PROBE QUERIES drawn from `$qsrc` while the
    * index build half (seeds, Lloyd round, assignment) stays on `n` —
    * s52 builds on the OLD corpus but serves queries from the full
    * one. `ivfCteOver("n")` is semantically identical to the
    * historical ivfCte (the shared probes CTE gained an `rk AS pr`
    * rank column for d33 that the s03/s39/s52-family consumers never
    * select — ADVICE r19).
    */
  private def ivfCteOver(qsrc: String): String =
    ivfChainCtes("n", qsrc, " WHERE a.vec_id < 10", 4)

  /** The full deterministic-IVF chain (content-hash seeds, one
    * fixed-point Lloyd round, refined assignment `asg`, probe list
    * `probes`) with the INDEX side `$isrc` and the probe-query side
    * `$qsrc` (filtered by `$qfilter`, `$nProbe` cells per query)
    * parameterized — shared by the s03/s39/s52-family mirrors (via
    * [[ivfCteOver]]) and the d32 decontamination mirror (index on
    * the batch side, probes = the whole benchmark side).
    */
  private def ivfChainCtes(isrc: String, qsrc: String, qfilter: String,
                           nProbe: Int): String = {
    s"""h AS (SELECT vec_id, v, nrm,
       |  ${h60("'ivfseed|' || vec_id")} AS hh FROM $isrc),
       |c0 AS (SELECT row_number() OVER (ORDER BY hh, vec_id) - 1
       |    AS cell, v AS cv, nrm AS cnrm
       |  FROM h ORDER BY hh, vec_id LIMIT 16),
       |asg0 AS (SELECT vec_id, v, cell FROM (
       |  SELECT a.vec_id, a.v, c.cell,
       |   row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY $centSim DESC, c.cell) AS rk
       |  FROM $isrc a CROSS JOIN c0 c) WHERE rk = 1),
       |mx AS (SELECT cell,
       |  unnest([{'d': i, 'q': floor(v[i] * 1000000)::BIGINT}
       |    FOR i IN range(1, len(v)+1)]) AS s FROM asg0),
       |m AS (SELECT cell, s.d AS dim, sum(s.q)::BIGINT AS qsum,
       |  count(*) AS n_vecs FROM mx GROUP BY cell, s.d),
       |rc AS (SELECT cell,
       |  list(qsum::DOUBLE / 1000000 / n_vecs ORDER BY dim) AS rcv
       |  FROM m GROUP BY cell),
       |c1 AS (SELECT c0.cell, coalesce(rc.rcv, c0.cv) AS cv
       |  FROM c0 LEFT JOIN rc ON rc.cell = c0.cell),
       |c AS (SELECT cell, cv,
       |  sqrt(${foldSum("[x*x FOR x IN cv]")}) AS cnrm FROM c1),
       |asg AS (SELECT vec_id, v, nrm, cell FROM (
       |  SELECT a.vec_id, a.v, a.nrm, c.cell,
       |   row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY $centSim DESC, c.cell) AS rk
       |  FROM $isrc a CROSS JOIN c) WHERE rk = 1),
       |probes AS (SELECT q_id, qv, qnrm, cell, rk AS pr FROM (
       |  SELECT a.vec_id AS q_id, a.v AS qv, a.nrm AS qnrm, c.cell,
       |   row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY $centSim DESC, c.cell) AS rk
       |  FROM $qsrc a CROSS JOIN c$qfilter) WHERE rk <= $nProbe)""".stripMargin
  }

  /** Shared s40/s41 tail (appended after a generator CTE ending in
    * `n`): the ivfCte chain, exact filtered truth (brute with the
    * label predicate, target = q_id % 10), the pre-filter arm (s39's
    * chain), the post-filter arm (unfiltered top-15 → predicate →
    * re-rank ≤ 5), and one (n_found, n_hits, recall) row per arm.
    */
  private lazy val filteredRecallTail: String =
    s""", $ivfCte,
       |fq AS (SELECT vec_id AS q_id, vec_id % 10 AS tl,
       |   v AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
       |ftsc AS (SELECT a.q_id, b.vec_id AS nbr_id,
       |  ${foldSum("[a.qv[i] * b.v[i] FOR i IN range(1, len(a.qv)+1)]")}
       |   / (a.qnrm * b.nrm) AS sim
       | FROM fq a JOIN n b ON b.vec_id <> a.q_id
       |   AND b.label = a.tl),
       |ftr AS (SELECT q_id, nbr_id FROM (
       |  SELECT q_id, nbr_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, nbr_id) AS rk
       |  FROM ftsc) WHERE rk <= 5),
       |fpsc AS (SELECT p.q_id, b.vec_id AS nbr_id,
       |  ${foldSum("[p.qv[i] * b.v[i] FOR i IN range(1, len(p.qv)+1)]")}
       |   / (p.qnrm * b.nrm) AS sim
       | FROM probes p JOIN asg b ON b.cell = p.cell
       |   AND b.vec_id <> p.q_id
       | JOIN n nb ON nb.vec_id = b.vec_id
       |   AND nb.label = p.q_id % 10),
       |fpre AS (SELECT q_id, nbr_id FROM (
       |  SELECT q_id, nbr_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, nbr_id) AS rk
       |  FROM fpsc) WHERE rk <= 5),
       |fusc AS (SELECT p.q_id, b.vec_id AS nbr_id,
       |  ${foldSum("[p.qv[i] * b.v[i] FOR i IN range(1, len(p.qv)+1)]")}
       |   / (p.qnrm * b.nrm) AS sim
       | FROM probes p JOIN asg b ON b.cell = p.cell
       |   AND b.vec_id <> p.q_id),
       |fuk AS (SELECT q_id, nbr_id, sim FROM (
       |  SELECT q_id, nbr_id, sim, row_number() OVER (
       |    PARTITION BY q_id ORDER BY sim DESC, nbr_id) AS rk
       |  FROM fusc) WHERE rk <= 15),
       |fpost AS (SELECT q_id, nbr_id FROM (
       |  SELECT u.q_id, u.nbr_id, row_number() OVER (
       |    PARTITION BY u.q_id ORDER BY u.sim DESC, u.nbr_id)
       |    AS rk
       |  FROM fuk u JOIN n nb ON nb.vec_id = u.nbr_id
       |    AND nb.label = u.q_id % 10) WHERE rk <= 5),
       |fnp AS (SELECT count(*)::BIGINT AS n_found FROM fpre),
       |fhp AS (SELECT count(*)::BIGINT AS n_hits FROM ftr
       |  JOIN fpre USING (q_id, nbr_id)),
       |fno AS (SELECT count(*)::BIGINT AS n_found FROM fpost),
       |fho AS (SELECT count(*)::BIGINT AS n_hits FROM ftr
       |  JOIN fpost USING (q_id, nbr_id))
       |SELECT 'prefilter' AS variant, 10::BIGINT AS n_queries,
       | fnp.n_found, fhp.n_hits,
       | fhp.n_hits::DOUBLE / 50::DOUBLE AS recall FROM fnp, fhp
       |UNION ALL
       |SELECT 'postfilter', 10::BIGINT, fno.n_found, fho.n_hits,
       | fho.n_hits::DOUBLE / 50::DOUBLE FROM fno, fho""".stripMargin

  /** Shared refined-PQ-codebook CTE chain (appended after embCte's
    * `n`): hash-seeded entries (cb0), seed-codebook assignment
    * (codes0, squared-L2 argmin with lowest-code tie-break), ONE
    * fixed-point per-subspace mean round — per-dim integer sums of
    * floor(x·10⁶), the ivfCte Lloyd shape, seed backfill for entries
    * that lost every member — into the refined codebook `cb`, plus
    * the per-(vector, subspace, entry) slice table `sub` every PQ
    * consumer (s05/s06/s16/s17) builds on. Mirrors
    * Similarity.pqCodebook = pqRefineOnce ∘ pqCodebookSeed at m=8,
    * nCodes=16, dim=64. Parameterized over the (vec_id, v) source so
    * the residual path (s18/s19) trains the same chain on the
    * residual table instead of `n`.
    */
  private def pqCbCteOver(src: String): String =
    s"""hb AS (SELECT vec_id, v, ${h60("'pqseed|' || vec_id")} AS hh
       |  FROM $src),
       |cb0 AS (SELECT row_number() OVER (ORDER BY hh, vec_id) - 1
       |    AS code, v AS cv
       |  FROM hb ORDER BY hh, vec_id LIMIT 16),
       |sub0 AS (SELECT a.vec_id, t.s, cb0.code,
       |   list_slice(a.v, t.s*8+1, t.s*8+8) AS va,
       |   list_slice(cb0.cv, t.s*8+1, t.s*8+8) AS vb
       |  FROM $src a CROSS JOIN generate_series(0, 7) t(s)
       |  CROSS JOIN cb0),
       |codes0 AS (SELECT vec_id, s, code, va FROM (
       |  SELECT vec_id, s, code, va, row_number() OVER (
       |    PARTITION BY vec_id, s ORDER BY
       |    list_reduce(list_prepend(0.0,
       |      [(va[i]-vb[i])*(va[i]-vb[i])
       |       FOR i IN range(1, len(va)+1)]),
       |      (acc, x) -> acc + x), code) AS rk FROM sub0)
       |  WHERE rk = 1),
       |pqm AS (SELECT s, code, t.d AS d,
       |   sum(floor(va[t.d] * 1000000)::BIGINT)::BIGINT AS qsum,
       |   count(*) AS nv
       |  FROM codes0 CROSS JOIN generate_series(1, 8) t(d)
       |  GROUP BY s, code, t.d),
       |pqr AS (SELECT code, s,
       |   list(qsum::DOUBLE / 1000000 / nv ORDER BY d) AS rsv
       |  FROM pqm GROUP BY code, s),
       |pqs AS (SELECT cb0.code, t.s,
       |   coalesce(pqr.rsv, list_slice(cb0.cv, t.s*8+1, t.s*8+8)) AS sv
       |  FROM cb0 CROSS JOIN generate_series(0, 7) t(s)
       |  LEFT JOIN pqr ON pqr.code = cb0.code AND pqr.s = t.s),
       |cb AS (SELECT code, flatten(list(sv ORDER BY s)) AS cv
       |  FROM pqs GROUP BY code),
       |sub AS (SELECT a.vec_id, t.s, cb.code,
       |   list_slice(a.v, t.s*8+1, t.s*8+8) AS va,
       |   list_slice(cb.cv, t.s*8+1, t.s*8+8) AS vb
       |  FROM $src a CROSS JOIN generate_series(0, 7) t(s)
       |  CROSS JOIN cb)""".stripMargin

  private val pqCbCte: String = pqCbCteOver("n")

  /** The residual table + residual-trained codebook + residual codes
    * + the centroid-dot and ADC-lookup-table CTEs shared by the s18
    * search and the s19 recall gate — mirrors knnIvfPqResidual:
    * resn = v − centroid(cell) (IVFADC, Jégou 2011 §IV-A), the
    * pqCb chain trained ON resn, codes = residual argmin, subq/qt =
    * RAW query subvector × residual-codebook dot table, cdot = exact
    * per-(query, probed cell) centroid dot. Appended after ivfCte
    * (needs asg, c, probes).
    */
  private lazy val ivfPqResCte: String = ivfPqResCteOver("n", "asg", "codes")

  /** [[ivfPqResCte]] with the query source, the scored index
    * assignment, and the scored code table parametrized (s52 serves
    * queries from `nall` against the MERGED masg/mcodes index while
    * the build half stays on the old-corpus asg/codes), plus an
    * optional `midCtes` block spliced between the build and search
    * halves (s52's delta-encode chain — it must see `cb`/`c` and be
    * visible to `pscored`). `ivfPqResCteOver("n", "asg", "codes")` is
    * the historical ivfPqResCte byte-for-byte.
    */
  private def ivfPqResCteOver(qsrc: String, idxAsg: String,
                              idxCodes: String,
                              midCtes: String = ""): String =
    s"""resn AS (SELECT a.vec_id,
       |   [a.v[i] - c.cv[i] FOR i IN range(1, len(a.v)+1)] AS v
       |  FROM asg a JOIN c ON c.cell = a.cell),
       |${pqCbCteOver("resn")},
       |codes AS (SELECT vec_id, s, code FROM (
       |  SELECT vec_id, s, code, row_number() OVER (
       |    PARTITION BY vec_id, s ORDER BY
       |    list_reduce(list_prepend(0.0,
       |      [(va[i]-vb[i])*(va[i]-vb[i])
       |       FOR i IN range(1, len(va)+1)]),
       |      (acc, x) -> acc + x), code) AS rk FROM sub)
       |  WHERE rk = 1),$midCtes
       |subq AS (SELECT a.vec_id, t.s, cb.code,
       |   list_slice(a.v, t.s*8+1, t.s*8+8) AS va,
       |   list_slice(cb.cv, t.s*8+1, t.s*8+8) AS vb
       |  FROM $qsrc a CROSS JOIN generate_series(0, 7) t(s)
       |  CROSS JOIN cb WHERE a.vec_id < 10),
       |qt AS (SELECT vec_id AS q_id, s, code,
       |   list_reduce(list_prepend(0.0,
       |     [va[i]*vb[i] FOR i IN range(1, len(va)+1)]),
       |     (acc, x) -> acc + x) AS pdot
       |  FROM subq),
       |cdot AS (SELECT p.q_id, p.cell,
       |   ${foldSum("[p.qv[i] * c.cv[i] FOR i IN range(1, len(p.qv)+1)]")}
       |     AS centdot
       |  FROM probes p JOIN c ON c.cell = p.cell),
       |pscored AS (SELECT p.q_id, b.vec_id AS nbr_id,
       |   cd.centdot + list_reduce(list_prepend(0.0,
       |     list(qt.pdot ORDER BY qt.s)),
       |     (acc, x) -> acc + x) AS approx_dot
       |  FROM probes p
       |  JOIN cdot cd ON cd.q_id = p.q_id AND cd.cell = p.cell
       |  JOIN $idxAsg b ON b.cell = p.cell AND b.vec_id <> p.q_id
       |  JOIN $idxCodes c2 ON c2.vec_id = b.vec_id
       |  JOIN qt ON qt.q_id = p.q_id AND qt.s = c2.s
       |    AND qt.code = c2.code
       |  GROUP BY p.q_id, b.vec_id, cd.centdot)""".stripMargin

  /** The full s18 residual-IVFADC search mirror — also s51's oracle
    * verbatim (the parquet round trip is lossless by contract, so the
    * persisted-path gate compares against the SAME SQL; sharing the
    * val makes drift between the pair impossible).
    */
  private lazy val ivfPqResSearchSql: String =
    embCte +
      s""", $ivfCte,
         |$ivfPqResCte
         |SELECT q_id, nbr_id, approx_dot, "rank" FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id
         |   ORDER BY approx_dot DESC, nbr_id) AS "rank" FROM pscored)
         |WHERE "rank" <= 3""".stripMargin

  /** Clustered-embedding base CTE (mirrors
    * Similarity.clusteredEmbeddings): same `n` shape as embCte, so the
    * s19/s21 oracle tails run over it unchanged. All-integer
    * Gaussian-mixture generator — cluster id, center dims, and four
    * Irwin–Hall noise uniforms from independent hash streams, one
    * final ÷40000.0 — so both engines produce bit-identical doubles.
    */
  private lazy val gmCte: String = {
    def u(t: Int) =
      s"${h60(s"'gmn$t|' || vec_id::VARCHAR || '|' || j::VARCHAR")} % 1001"
    s"""WITH e0 AS (SELECT vec_id, label,
       |  ${h60("'gm|' || vec_id::VARCHAR")} % 128 AS gc FROM embeddings),
       |e AS (SELECT vec_id, label,
       |  [((${h60("'gmc|' || gc::VARCHAR || '|' || j::VARCHAR")} % 2001
       |      - 1000) * 40
       |    + (${u(1)} + ${u(2)} + ${u(3)} + ${u(4)}
       |       - 2000) * 20)::DOUBLE / 40000.0
       |   FOR j IN range(1, 65)] AS v FROM e0),
       |n AS (SELECT vec_id, label, v,
       |  sqrt(${foldSum("[x*x FOR x IN v]")}) AS nrm FROM e)
       |""".stripMargin
  }

  /** [[gmCte]] restricted to `pred` (s38: the clustered incremental
    * chain's OLD corpus) — the filter sits on e0, BEFORE the v
    * generator, which is equivalent because v is a pure function of
    * (vec_id, gc); a separate builder rather than a gmCte parameter
    * so the three veteran oracles' SQL stays byte-identical. The
    * nall-side full table is [[gmAllCte]].
    */
  private def gmCteWhere(pred: String): String = {
    def u(t: Int) =
      s"${h60(s"'gmn$t|' || vec_id::VARCHAR || '|' || j::VARCHAR")} % 1001"
    s"""WITH e0 AS (SELECT vec_id, label,
       |  ${h60("'gm|' || vec_id::VARCHAR")} % 128 AS gc FROM embeddings
       |  WHERE $pred),
       |e AS (SELECT vec_id, label,
       |  [((${h60("'gmc|' || gc::VARCHAR || '|' || j::VARCHAR")} % 2001
       |      - 1000) * 40
       |    + (${u(1)} + ${u(2)} + ${u(3)} + ${u(4)}
       |       - 2000) * 20)::DOUBLE / 40000.0
       |   FOR j IN range(1, 65)] AS v FROM e0),
       |n AS (SELECT vec_id, label, v,
       |  sqrt(${foldSum("[x*x FOR x IN v]")}) AS nrm FROM e)
       |""".stripMargin
  }

  /** Clustered-generator analog of [[nAllCte]] (s38). */
  private lazy val gmAllCte: String = {
    def u(t: Int) =
      s"${h60(s"'gmn$t|' || vec_id::VARCHAR || '|' || j::VARCHAR")} % 1001"
    s""",
       |eall0 AS (SELECT vec_id, label,
       |  ${h60("'gm|' || vec_id::VARCHAR")} % 128 AS gc
       |  FROM embeddings),
       |eall AS (SELECT vec_id, label,
       |  [((${h60("'gmc|' || gc::VARCHAR || '|' || j::VARCHAR")} % 2001
       |      - 1000) * 40
       |    + (${u(1)} + ${u(2)} + ${u(3)} + ${u(4)}
       |       - 2000) * 20)::DOUBLE / 40000.0
       |   FOR j IN range(1, 65)] AS v FROM eall0),
       |nall AS (SELECT vec_id, label, v,
       |  sqrt(${foldSum("[x*x FOR x IN v]")}) AS nrm FROM eall)""".stripMargin
  }

  /** s19's oracle body after the base `n` CTE (brute top-3 + the
    * residual IVF-PQ chain, per-query recall) — shared with the
    * clustered-fixture twin s24 (gmCte base, same chain).
    */
  private lazy val ivfPqResRecallTail: String =
    s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
       |bscored AS (SELECT a.q_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM (SELECT q_id, v, nrm FROM q) a
       | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
       |brute AS (SELECT q_id, nbr_id FROM (
       | SELECT *, row_number() OVER (PARTITION BY q_id
       |   ORDER BY sim DESC, nbr_id) AS rk FROM bscored)
       | WHERE rk <= 3),
       |$ivfCte,
       |$ivfPqResCte,
       |ipq AS (SELECT q_id, nbr_id FROM (
       | SELECT *, row_number() OVER (PARTITION BY q_id
       |   ORDER BY approx_dot DESC, nbr_id) AS rk FROM pscored)
       | WHERE rk <= 3)
       |SELECT b.q_id AS q_id, count(i.nbr_id) AS n_hit,
       | count(i.nbr_id)::DOUBLE / count(*) AS recall
       |FROM brute b LEFT JOIN ipq i
       | ON i.q_id = b.q_id AND i.nbr_id = b.nbr_id
       |GROUP BY b.q_id""".stripMargin

  /** s21's oracle body after the base `n` CTE (brute top-3 + the
    * k′ = 9 shortlist + exact re-rank, per-query recall) — shared with
    * the clustered-fixture twin s25 (gmCte base, same chain).
    */
  private lazy val ivfPqRerankRecallTail: String =
    s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
       |bscored AS (SELECT a.q_id, b.vec_id AS nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM (SELECT q_id, v, nrm FROM q) a
       | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
       |brute AS (SELECT q_id, nbr_id FROM (
       | SELECT *, row_number() OVER (PARTITION BY q_id
       |   ORDER BY sim DESC, nbr_id) AS rk FROM bscored)
       | WHERE rk <= 3),
       |$ivfCte,
       |$ivfPqResCte,
       |short AS (SELECT q_id, nbr_id FROM (
       | SELECT *, row_number() OVER (PARTITION BY q_id
       |   ORDER BY approx_dot DESC, nbr_id) AS rk FROM pscored)
       | WHERE rk <= 9),
       |rescored AS (SELECT s.q_id, s.nbr_id,
       |  $pairDot / (a.nrm * b.nrm) AS sim
       | FROM short s JOIN n a ON a.vec_id = s.q_id
       | JOIN n b ON b.vec_id = s.nbr_id),
       |rr AS (SELECT q_id, nbr_id FROM (
       | SELECT *, row_number() OVER (PARTITION BY q_id
       |   ORDER BY sim DESC, nbr_id) AS rk FROM rescored)
       | WHERE rk <= 3)
       |SELECT b.q_id AS q_id, count(i.nbr_id) AS n_hit,
       | count(i.nbr_id)::DOUBLE / count(*) AS recall
       |FROM brute b LEFT JOIN rr i
       | ON i.q_id = b.q_id AND i.nbr_id = b.nbr_id
       |GROUP BY b.q_id""".stripMargin

  /** Component-min connected components over the LSH candidate pairs
    * as a recursive CTE — shared by d08 (fixpoint propagation) and d11
    * (pointer jumping): both Spark forms converge to the identical
    * labeling, so one oracle covers both.
    */
  private lazy val dupClustersCte: String = {
    val bands = (0 until 4).map(j =>
      s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
    minhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", banded AS (SELECT doc_id,
         |  unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
         |$cappedCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |  ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM sym),
         |reach(node, lab) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node),
         |clus AS (SELECT node AS doc_id, min(lab) AS cluster_rep
         |  FROM reach GROUP BY node)""".stripMargin
  }

  private lazy val dupClustersOracleSql: String =
    dupClustersCte + "\nSELECT doc_id, cluster_rep FROM clus"

  /** The p26/p27 shared closure unroll. The exact pair graph is DENSE
    * (2.97M true pairs over 5k docs at sf0.1 — near-clique dup
    * components), so the d08-style transitive-reach recursion is
    * O(Σ component²) rows and measured >25 min in DuckDB at sf0.1.
    * The closure instead mirrors the d11 Spark path: min-label
    * PROPAGATE (one edge join + min) then POINTER-JUMP (lab :=
    * lab(lab), one node join) per unrolled round — label coverage
    * doubles per round, so 17 rounds provably converge for any graph
    * up to 2^17 nodes (the sf1eq tier holds 50k docs). Converged
    * labels are the component minimum — identical to dupClusters'
    * output. Reads `${pfx}sym` / `${pfx}l0`, converges in
    * `${pfx}l$rounds`.
    */
  private val ExactClosureR = 17
  private def closureUnrollCtes(pfx: String, rounds: Int): String =
    (1 to rounds).map { r =>
      s"""${pfx}pr$r AS (SELECT node, min(lab) AS lab FROM (
         |  SELECT s.b AS node, l.lab FROM ${pfx}sym s
         |    JOIN ${pfx}l${r - 1} l ON l.node = s.a
         |  UNION ALL SELECT node, lab FROM ${pfx}l${r - 1}) GROUP BY node),
         |${pfx}l$r AS MATERIALIZED (SELECT c.node, p.lab
         |  FROM ${pfx}pr$r c JOIN ${pfx}pr$r p ON p.node = c.lab),"""
        .stripMargin
    }.mkString("\n")

  /** The d26 exact prefix-join pair chain (x-prefixed: token fan-out,
    * df ranks, prefix + length + positional filters, verify, closure)
    * ending in the pair set `xp`, the sorted hash sets `xsets`, and
    * the component labeling `xclus`. Shared by the p26 and p27
    * mirrors — p27's verify tier reads `xsets` and its exact arm
    * reads `xp`/`xclus`, so the arms share one acceptance predicate
    * by construction.
    */
  private lazy val exactPairChainCtes: String = {
    val P = graft.functions.Canon.MersenneP
    s""",
       |xt AS MATERIALIZED (SELECT doc_id,
       |  unnest(list_distinct([${h60("x")} % $P
       |    FOR x IN string_split(text, ' ')])) AS h FROM documents),
       |xdfq AS (SELECT h, count(*) AS df FROM xt GROUP BY h),
       |xrk AS (SELECT xt.doc_id, xt.h,
       |  row_number() OVER (PARTITION BY xt.doc_id
       |    ORDER BY df, xt.h) AS rnk,
       |  count(*) OVER (PARTITION BY xt.doc_id) AS nset
       | FROM xt JOIN xdfq USING (h)),
       |xpfx AS (SELECT doc_id, h, nset, rnk FROM xrk
       | WHERE rnk <= nset - (4 * nset + 4) // 5 + 1),
       |xcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM xpfx a JOIN xpfx b
       | ON a.h = b.h AND a.doc_id < b.doc_id
       |  AND 5 * least(a.nset, b.nset) >= 4 * greatest(a.nset, b.nset)
       |  AND 1 + least(a.nset - a.rnk, b.nset - b.rnk)
       |      >= (4 * (a.nset + b.nset) + 8) // 9),
       |xsets AS MATERIALIZED (SELECT doc_id,
       |  list_sort(list_distinct([${h60("x")} % $P
       |    FOR x IN string_split(text, ' ')])) AS dw FROM documents),
       |xv AS (SELECT c.doc_a, c.doc_b,
       |  len(list_intersect(sa.dw, sb.dw))::BIGINT AS inter,
       |  len(sa.dw)::BIGINT AS sa, len(sb.dw)::BIGINT AS sb
       | FROM xcand c
       | JOIN xsets sa ON sa.doc_id = c.doc_a
       | JOIN xsets sb ON sb.doc_id = c.doc_b),
       |xp AS MATERIALIZED (SELECT doc_a, doc_b FROM xv
       | WHERE 5 * inter >= 4 * (sa + sb - inter)),
       |xsym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM xp
       |  UNION SELECT doc_b, doc_a FROM xp),
       |xl0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab
       |  FROM xsym),
       |${closureUnrollCtes("x", ExactClosureR)}
       |xclus AS MATERIALIZED (SELECT node AS doc_id,
       |   lab AS cluster_rep FROM xl$ExactClosureR)""".stripMargin
  }

  /** Funnel accounting bases: per-doc token counts, the corpus total,
    * and the LSH labeling re-wrapped MATERIALIZED (multi-consumer).
    */
  private lazy val funnelCommonCtes: String =
    """,
      |tkn AS MATERIALIZED (SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS n_tokens
      | FROM documents),
      |tot AS (SELECT count(*)::BIGINT AS nd FROM documents),
      |clusm AS MATERIALIZED (SELECT doc_id, cluster_rep FROM clus)"""
      .stripMargin

  /** One funnel arm's three 1-row rollups over pair table `pairs` and
    * labeling `clus` — `${tag}np` / `${tag}nc` / `${tag}nd`.
    */
  private def funnelCountCtes(tag: String, pairs: String,
                              clus: String): String =
    s""",
       |${tag}np AS (SELECT count(*)::BIGINT AS n_pairs FROM $pairs),
       |${tag}nc AS (SELECT count(*)::BIGINT AS n_dup_docs,
       |  count(DISTINCT cluster_rep)::BIGINT AS n_clusters
       | FROM $clus),
       |${tag}nd AS (SELECT count(*)::BIGINT AS n_dropped,
       |  coalesce(sum(t.n_tokens), 0)::BIGINT AS tokens_dropped
       | FROM $clus c JOIN tkn t USING (doc_id)
       | WHERE c.doc_id <> c.cluster_rep)""".stripMargin

  /** One funnel attrition row for arm `tag`. */
  private def funnelRowSql(method: String, tag: String): String =
    s"""SELECT '$method' AS method, ${tag}np.n_pairs,
       |  ${tag}nc.n_dup_docs, ${tag}nc.n_clusters, ${tag}nd.n_dropped,
       |  tot.nd - ${tag}nd.n_dropped AS n_survivors,
       |  ${tag}nd.tokens_dropped
       | FROM ${tag}np, ${tag}nc, ${tag}nd, tot""".stripMargin

  /** The signed per-column difference row of arms `a` − `b` (the
    * survivor delta flips sign because survivors = total − dropped).
    */
  private def funnelDeltaSql(method: String, a: String,
                             b: String): String =
    s"""SELECT '$method', ${a}np.n_pairs - ${b}np.n_pairs,
       |  ${a}nc.n_dup_docs - ${b}nc.n_dup_docs,
       |  ${a}nc.n_clusters - ${b}nc.n_clusters,
       |  ${a}nd.n_dropped - ${b}nd.n_dropped,
       |  ${b}nd.n_dropped - ${a}nd.n_dropped,
       |  ${a}nd.tokens_dropped - ${b}nd.tokens_dropped
       | FROM ${a}np, ${a}nc, ${a}nd, ${b}np, ${b}nc, ${b}nd""".stripMargin

  /** DuckDB: the 64-bit simhash as generated per-bit folds — the
    * definitional cross-check of the native SimHashBits kernel.
    * Bit-63's power-of-two is Long.MinValue, spelled without a bare
    * out-of-range literal (never set in practice: hash60 < 2^60).
    */
  private val simhash64Sql: String = {
    def bitLit(b: Int): String = {
      val v = 1L << b
      if (v > 0) s"$v" else "(-9223372036854775807 - 1)"
    }
    (0 until 64).map(b =>
      s"""(CASE WHEN list_sum([CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END
         |   FOR h IN hs]) > 0 THEN ${bitLit(b)} ELSE 0 END)""".stripMargin)
      .mkString("\n + ")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    // mergedPartialAgg mirror IS the direct single-pass aggregate —
    // the split/merge route must land on it bit-for-bit.
    "q39_merge_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   / count(*) AS avg_qty
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | 'orders/' || CAST(l_orderkey AS VARCHAR) AS order_ref,
        | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-07-01' AND l_discount > 0.02""".stripMargin,
    "q03_join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q04_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q05_window_latest" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        | SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        | FROM orders) WHERE rn = 1""".stripMargin,
    "q06_topk" ->
      """SELECT o_orderkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM orders ORDER BY total DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q07_intersect" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin,
    "q08_except" ->
      """SELECT DISTINCT o_custkey FROM orders
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q09_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q11_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q12_cube" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,
    "q13_explode_words" ->
      """SELECT word, count(*) AS n FROM (
        | SELECT unnest(str_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word""".stripMargin,
    "q14_json_props" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_nonnull,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q15_monthly" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        | count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY 1""".stripMargin,
    "q16_strings" ->
      """SELECT p_partkey,
        | 'parts/' || CAST(p_partkey AS VARCHAR) AS part_ref,
        | upper(p_brand) AS brand_uc,
        | regexp_extract(p_type, '(\w+)$', 1) AS type_last,
        | length(p_name) AS name_len,
        | substring(p_name, 1, 5) AS name_pfx
        |FROM part""".stripMargin,
    "q17_math" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS gross,
        | CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        | CAST(ceil(l_quantity / 2) AS BIGINT) AS half_ceil,
        | l_orderkey % 7 AS key_mod
        |FROM lineitem""".stripMargin,
    "q18_union_distinct" ->
      """SELECT DISTINCT _key FROM (
        | SELECT 'accounts/' || CAST(o_custkey AS VARCHAR) AS _key FROM orders
        | UNION ALL
        | SELECT 'accounts/' || CAST(c_custkey AS VARCHAR) AS _key FROM customer)""".stripMargin,
    "q19_distinct_counts" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // The sketch value is engine-specific, but the error CONTRACT is
    // not: the oracle's exact side + literal 1 hash-matches iff the
    // Spark side's |approx − exact|/exact stayed within bound.
    "q20b_approx_distinct_err" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_exact,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // Same contract-mirror shape as q20b: the sketch value is
    // engine-specific, the rank guarantee is not.
    "q37_approx_quantile_err" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q38_heavy_hitter_err" ->
      """SELECT l_suppkey, count(*) AS n_exact,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM lineitem GROUP BY l_suppkey
        |ORDER BY n_exact DESC, l_suppkey ASC LIMIT 20""".stripMargin,
    "q21_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |   AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q22_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |   AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "g01_payment_edges" ->
      (edgesCte +
        """SELECT _from, _to, block, seq,
          | CAST(amount AS DOUBLE) AS amount, "timestamp", _key
          |FROM edges""".stripMargin),
    "g02_edge_endpoints" ->
      (edgesCte +
        """SELECT DISTINCT _key FROM (
          | SELECT _from AS _key FROM edges
          | UNION ALL SELECT _to AS _key FROM edges)""".stripMargin),
    "g03_dangling_edges" ->
      (edgesCte +
        """SELECT _to, count(*) AS n_dangling FROM edges
          |WHERE NOT EXISTS (
          | SELECT 1 FROM supplier
          | WHERE s_suppkey % 3 <> 0
          |   AND 'suppliers/' || CAST(s_suppkey AS VARCHAR) = _to)
          |GROUP BY _to""".stripMargin),
    "g04_retention" ->
      """SELECT event_id, epoch_us(ts) AS ts, event_type FROM events
        |WHERE epoch_us(ts) >=
        | (SELECT max(epoch_us(ts)) FROM events) - 604800000000""".stripMargin,
    "g05_dedup_key" ->
      """SELECT md5(event_type || '|' || CAST(user_id % 100 AS VARCHAR)) AS _key,
        | event_type, user_id % 100 AS user_bucket,
        | min(event_id) AS first_event_id, count(*) AS n_dups
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "g06_cursor_batch" ->
      """SELECT event_type, count(*) AS n,
        | min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE event_id > 1000 AND event_id <= 1500
        |GROUP BY event_type""".stripMargin,
    "g07_edge_vertex_join" ->
      (edgesCte +
        """SELECT n_name, count(*) AS n_edges,
          | CAST(sum(amount) AS DOUBLE) AS sum_amount
          |FROM edges
          |JOIN supplier ON _to = 'suppliers/' || CAST(s_suppkey AS VARCHAR)
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin),
    "g08_latest_edge" ->
      (edgesCte +
        """SELECT _from, _to, block, seq,
          | CAST(amount AS DOUBLE) AS amount, "timestamp" FROM (
          | SELECT *, row_number() OVER (PARTITION BY _from, _to
          |   ORDER BY "timestamp" DESC, block DESC, seq DESC, amount DESC) AS rn
          | FROM edges) WHERE rn = 1""".stripMargin),

    "d01_exact_dedup" ->
      """SELECT md5(text) AS _key, min(doc_id) AS first_doc_id,
        | count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "d02_minhash_sig" ->
      (minhashCte + "SELECT * FROM sig"),
    "d03_lsh_pairs" -> {
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      minhashCte +
        s""", banded AS (SELECT doc_id,
           | unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
           |$cappedCte
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |FROM capped a JOIN capped b
           | ON a.bk = b.bk AND a.doc_id < b.doc_id""".stripMargin
    },
    // incrementalLshDedup mirror: bucket-min, per-doc earliest
    // occupant, kept iff self; short docs (no bands) trivially kept.
    // (SHARED tail with st11 — edit lshEarliestCte once, both move.)
    "d23_incremental_dedup" ->
      (lshEarliestCte +
        """SELECT d.doc_id,
          | coalesce(e.e = d.doc_id, TRUE) AS kept,
          | CASE WHEN e.e < d.doc_id THEN e.e END AS first_dup_of
          |FROM documents d LEFT JOIN earliest e ON e.doc_id = d.doc_id""".stripMargin),
    // ingestDedupBatch mirror: the kept half of the d23 verdicts,
    // joined back to the document payload.
    "st11_ingest_dedup" ->
      (lshEarliestCte +
        """SELECT d.doc_id, d.source,
          | octet_length(encode(d.text))::BIGINT AS text_bytes
          |FROM documents d LEFT JOIN earliest e ON e.doc_id = d.doc_id
          |WHERE coalesce(e.e = d.doc_id, TRUE)""".stripMargin),
    "d04_simhash" ->
      s"""WITH hs AS (SELECT doc_id,
         |  [${h60("x")} FOR x IN string_split(text, ' ')] AS hs
         | FROM documents)
         |SELECT doc_id,
         |$simhash64Sql AS simhash
         |FROM hs""".stripMargin,
    // q36 mirror: d04's simhash + the foldSum self-dot, joined on
    // doc_id = vec_id.
    "q36_sql_kernels" ->
      s"""WITH hs AS (SELECT doc_id,
         |  [${h60("x")} FOR x IN string_split(text, ' ')] AS hs
         | FROM documents),
         |sh AS (SELECT doc_id,
         |$simhash64Sql AS simhash
         |FROM hs),
         |sd AS (SELECT vec_id,
         |  ${foldSum("[x*x FOR x IN v]")} AS self_dot
         | FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))
         |SELECT sh.doc_id, sh.simhash, sd.self_dot
         |FROM sh JOIN sd ON sd.vec_id = sh.doc_id""".stripMargin,
    "d09_simhash_pairs" -> {
      val bands = (0 until 4).map(i =>
        s"'b$i:' || ((simhash >> ${16 * i}) & 65535)::VARCHAR")
      s"""WITH hs AS (SELECT doc_id,
         |  [${h60("x")} FOR x IN string_split(text, ' ')] AS hs
         | FROM documents),
         |sh AS (SELECT doc_id,
         |$simhash64Sql AS simhash
         |FROM hs),
         |banded AS (SELECT doc_id, simhash,
         |  unnest([${bands.mkString(",\n   ")}]) AS bk FROM sh),
         |capped AS (SELECT doc_id, simhash, bk FROM (
         |  SELECT doc_id, simhash, bk, count(*) OVER (PARTITION BY bk) AS bsz
         |  FROM banded) WHERE bsz <= 1000)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM capped a JOIN capped b
         | ON a.bk = b.bk AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
    },
    "t05_token_histogram" ->
      """WITH t AS (SELECT len(string_split(text, ' ')) AS n_tokens
        |  FROM documents)
        |SELECT CAST(floor(log2(n_tokens)) AS BIGINT) AS bucket,
        | count(*) AS n_docs, min(n_tokens) AS min_tokens,
        | max(n_tokens) AS max_tokens,
        | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM t GROUP BY 1""".stripMargin,
    // `small` mirrors ngramJaccardPairs' maxBlock=10000 guard: blocks
    // larger than the cap are skipped entirely on the Spark side.
    "d05_ngram_jaccard" ->
      s"""WITH d0 AS (SELECT doc_id, source,
         |  list_distinct([${h60("x")} % ${graft.functions.Canon.MersenneP}
         |    FOR x IN string_split(text, ' ')]) AS dw FROM documents),
         |small AS (SELECT source FROM documents
         |  GROUP BY source HAVING count(*) <= 10000),
         |d AS (SELECT d0.* FROM d0 JOIN small USING (source))
         |SELECT * FROM (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.dw, b.dw)) /
         |  len(list_distinct(a.dw || b.dw)) AS jaccard
         | FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8""".stripMargin,
    // prefixJaccardJoin mirror: same global-rarity order, the same
    // (4n+4) // 5 prefix bound, prefix-prefix candidates, exact
    // list_intersect verify under the cross-multiplied threshold.
    "d26_prefix_join" -> {
      val P = graft.functions.Canon.MersenneP
      s"""WITH t AS (SELECT doc_id,
         |  unnest(list_distinct([${h60("x")} % $P
         |    FOR x IN string_split(text, ' ')])) AS h FROM documents),
         |dfq AS (SELECT h, count(*) AS df FROM t GROUP BY h),
         |rk AS (SELECT t.doc_id, t.h,
         |  row_number() OVER (PARTITION BY t.doc_id
         |    ORDER BY df, t.h) AS rnk,
         |  count(*) OVER (PARTITION BY t.doc_id) AS nset
         | FROM t JOIN dfq USING (h)),
         |pfx AS (SELECT doc_id, h, nset, rnk FROM rk
         | WHERE rnk <= nset - (4 * nset + 4) // 5 + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM pfx a JOIN pfx b
         | ON a.h = b.h AND a.doc_id < b.doc_id
         |  AND 5 * least(a.nset, b.nset) >= 4 * greatest(a.nset, b.nset)
         |  AND 1 + least(a.nset - a.rnk, b.nset - b.rnk)
         |      >= (4 * (a.nset + b.nset) + 8) // 9),
         |sets AS (SELECT doc_id,
         |  list_sort(list_distinct([${h60("x")} % $P
         |    FOR x IN string_split(text, ' ')])) AS dw FROM documents),
         |v AS (SELECT c.doc_a, c.doc_b,
         |  len(list_intersect(sa.dw, sb.dw))::BIGINT AS inter,
         |  len(sa.dw)::BIGINT AS sa, len(sb.dw)::BIGINT AS sb
         | FROM cand c
         | JOIN sets sa ON sa.doc_id = c.doc_a
         | JOIN sets sb ON sb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, inter, sa, sb,
         | inter::DOUBLE / (sa + sb - inter) AS jaccard
         |FROM v WHERE 5 * inter >= 4 * (sa + sb - inter)""".stripMargin
    },
    "p01_corpus_pipeline" -> {
      import graft.functions.Canon.{AffineA, AffineB, MersenneP => P}
      val sigs = (0 until 8).map(s =>
        s"  list_min([(h * ${AffineA(s)} + ${AffineB(s)}) % $P FOR h IN hs]) AS m$s")
        .mkString(",\n")
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      s"""WITH RECURSIVE w0 AS (SELECT doc_id, text, lang,
         |  string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id, text, lang, w, len(w) AS n_tokens
         |  FROM w0 WHERE len(w) >= 30),
         |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         |surv AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
         |hw AS (SELECT doc_id, [${h60("x")} % $P FOR x IN w] AS hw
         |  FROM surv),
         |s5 AS (SELECT doc_id,
         |  [((((hw[i]*31 + hw[i+1])*31 + hw[i+2])*31 + hw[i+3])*31
         |     + hw[i+4]) % $P
         |   FOR i IN range(1, len(hw)-3)] AS s5 FROM hw),
         |x5 AS (SELECT doc_id, unnest(s5) AS sh FROM s5),
         |dup5 AS (SELECT sh FROM x5 GROUP BY sh HAVING count(*) > 1),
         |pd AS (SELECT x5.doc_id, count(*) AS nw, count(dup5.sh) AS ndw
         |  FROM x5 LEFT JOIN dup5 ON x5.sh = dup5.sh GROUP BY x5.doc_id),
         |wdrop AS (SELECT doc_id FROM pd WHERE ndw::DOUBLE / nw > 0.5),
         |surv2 AS (SELECT * FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM wdrop)),
         |hw2 AS (SELECT hw.* FROM hw
         |  WHERE doc_id IN (SELECT doc_id FROM surv2)),
         |hb AS (SELECT doc_id,
         |  [((hw[i]*31 + hw[i+1])*31 + hw[i+2]) % $P
         |   FOR i IN range(1, len(hw)-1)] AS hs FROM hw2),
         |sig AS (SELECT doc_id,
         |$sigs
         | FROM hb),
         |banded AS (SELECT doc_id,
         |  unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
         |$cappedCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |  ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM sym),
         |reach(node, lab) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node),
         |clusters AS (SELECT node AS doc_id, min(lab) AS rep
         |  FROM reach GROUP BY node),
         |dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> rep),
         |fin AS (SELECT * FROM surv2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
         |SELECT lang, count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM fin GROUP BY lang""".stripMargin
    },
    // corpusFunnel mirror: p01's CTE chain + one stage-count aggregate
    // per funnel stage (raw → quality → exact dedup → window dedup →
    // canonical).
    "p14_corpus_funnel" -> {
      import graft.functions.Canon.{AffineA, AffineB, MersenneP => P}
      val sigs = (0 until 8).map(s =>
        s"  list_min([(h * ${AffineA(s)} + ${AffineB(s)}) % $P FOR h IN hs]) AS m$s")
        .mkString(",\n")
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      s"""WITH RECURSIVE w0 AS (SELECT doc_id, text,
         |  string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id, text, w, len(w) AS n_tokens
         |  FROM w0 WHERE len(w) >= 30),
         |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         |surv AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
         |hw AS (SELECT doc_id, [${h60("x")} % $P FOR x IN w] AS hw
         |  FROM surv),
         |s5 AS (SELECT doc_id,
         |  [((((hw[i]*31 + hw[i+1])*31 + hw[i+2])*31 + hw[i+3])*31
         |     + hw[i+4]) % $P
         |   FOR i IN range(1, len(hw)-3)] AS s5 FROM hw),
         |x5 AS (SELECT doc_id, unnest(s5) AS sh FROM s5),
         |dup5 AS (SELECT sh FROM x5 GROUP BY sh HAVING count(*) > 1),
         |pd AS (SELECT x5.doc_id, count(*) AS nw, count(dup5.sh) AS ndw
         |  FROM x5 LEFT JOIN dup5 ON x5.sh = dup5.sh GROUP BY x5.doc_id),
         |wdrop AS (SELECT doc_id FROM pd WHERE ndw::DOUBLE / nw > 0.5),
         |surv2 AS (SELECT * FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM wdrop)),
         |hw2 AS (SELECT hw.* FROM hw
         |  WHERE doc_id IN (SELECT doc_id FROM surv2)),
         |hb AS (SELECT doc_id,
         |  [((hw[i]*31 + hw[i+1])*31 + hw[i+2]) % $P
         |   FOR i IN range(1, len(hw)-1)] AS hs FROM hw2),
         |sig AS (SELECT doc_id,
         |$sigs
         | FROM hb),
         |banded AS (SELECT doc_id,
         |  unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
         |$cappedCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |  ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM sym),
         |reach(node, lab) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node),
         |clusters AS (SELECT node AS doc_id, min(lab) AS rep
         |  FROM reach GROUP BY node),
         |dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> rep),
         |fin AS (SELECT * FROM surv2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
         |SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs,
         |  CAST(coalesce(sum(len(w)), 0) AS BIGINT) AS n_tokens FROM w0
         |UNION ALL
         |SELECT 1, 'quality_gate', count(*),
         |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM q
         |UNION ALL
         |SELECT 2, 'exact_dedup', count(*),
         |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM surv
         |UNION ALL
         |SELECT 3, 'window_dedup', count(*),
         |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM surv2
         |UNION ALL
         |SELECT 4, 'neardup_canonical', count(*),
         |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM fin""".stripMargin
    },
    // p14's funnel with d22's span mask as stage 3: the mask CTEs
    // (positional 5-windows, duplicated starts, kept positions) feed
    // masked word arrays w2 into the SAME minhash/band/cluster chain,
    // and stages 3/4 count len(w2) — tokens removed, no docs dropped.
    "p15_corpus_funnel_masked" -> {
      import graft.functions.Canon.{AffineA, AffineB, MersenneP => P}
      val sigs = (0 until 8).map(s =>
        s"  list_min([(h * ${AffineA(s)} + ${AffineB(s)}) % $P FOR h IN hs]) AS m$s")
        .mkString(",\n")
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      s"""WITH RECURSIVE w0 AS (SELECT doc_id, text,
         |  string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id, text, w, len(w) AS n_tokens
         |  FROM w0 WHERE len(w) >= 30),
         |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         |surv AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
         |hwt AS (SELECT doc_id, w, [${h60("x")} % $P FOR x IN w] AS hw
         |  FROM surv),
         |sst AS (SELECT doc_id,
         |  [{'s': i, 'h': ((((hw[i]*31 + hw[i+1])*31 + hw[i+2])*31
         |     + hw[i+3])*31 + hw[i+4]) % $P}
         |   FOR i IN range(1, len(hw)-3)] AS sh FROM hwt),
         |xx AS (SELECT doc_id, e.s AS s, e.h AS sh FROM
         |  (SELECT doc_id, unnest(sh) AS e FROM sst)),
         |dup5 AS (SELECT sh FROM xx GROUP BY sh HAVING count(*) > 1),
         |st AS (SELECT doc_id, list(s ORDER BY s) AS starts
         |  FROM xx JOIN dup5 USING (sh) GROUP BY doc_id),
         |mw AS (SELECT surv.doc_id, surv.n_tokens, list_transform(
         |    list_filter(range(1, len(surv.w)+1), p ->
         |      len(list_filter(coalesce(st.starts, []),
         |        q2 -> q2 <= p AND p < q2 + 5)) = 0),
         |    p -> surv.w[p]) AS w2
         |  FROM surv LEFT JOIN st ON surv.doc_id = st.doc_id),
         |hw2 AS (SELECT doc_id, [${h60("x")} % $P FOR x IN w2] AS hw
         |  FROM mw),
         |hb AS (SELECT doc_id,
         |  [((hw[i]*31 + hw[i+1])*31 + hw[i+2]) % $P
         |   FOR i IN range(1, len(hw)-1)] AS hs FROM hw2),
         |sig AS (SELECT doc_id,
         |$sigs
         | FROM hb),
         |banded AS (SELECT doc_id,
         |  unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
         |$cappedCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |  ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM sym),
         |reach(node, lab) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node),
         |clusters AS (SELECT node AS doc_id, min(lab) AS rep
         |  FROM reach GROUP BY node),
         |dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> rep)
         |SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs,
         |  CAST(coalesce(sum(len(w)), 0) AS BIGINT) AS n_tokens FROM w0
         |UNION ALL
         |SELECT 1, 'quality_gate', count(*),
         |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM q
         |UNION ALL
         |SELECT 2, 'exact_dedup', count(*),
         |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM surv
         |UNION ALL
         |SELECT 3, 'window_mask', count(*),
         |  CAST(coalesce(sum(len(w2)), 0) AS BIGINT) FROM mw
         |UNION ALL
         |SELECT 4, 'neardup_canonical', count(*),
         |  CAST(coalesce(sum(len(w2)), 0) AS BIGINT) FROM mw
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin
    },
    // balancedShards mirror: global (n_tokens DESC, md5, doc_id) rank,
    // serpentine deal over 64 shards.
    "p16_balanced_shards" ->
      (balancedShardsCte + "\nSELECT doc_id, shard, n_tokens FROM shards"),
    // shardManifest mirror: the SHARED p16 serpentine CTE (layout and
    // manifest cannot drift) + the hash60 checksum rolled up per
    // shard — HUGEINT sum, one mod, final CAST BIGINT (§8.4).
    "p21_shard_manifest" ->
      (balancedShardsCte +
        s""",
           |h AS (SELECT doc_id, ${h60("text")} AS h FROM documents)
           |SELECT shard, count(*) AS n_docs,
           | sum(n_tokens)::BIGINT AS n_tokens,
           | min(s.doc_id) AS min_doc_id, max(s.doc_id) AS max_doc_id,
           | CAST(sum(h.h) % 1152921504606846976 AS BIGINT) AS checksum
           |FROM shards s JOIN h ON s.doc_id = h.doc_id
           |GROUP BY shard""".stripMargin),
    // zorderLayout mirror: the SAME unrolled 16-term Morton
    // interleave (integer shift-mask algebra — no floats), the same
    // global (zval, orderkey, linenumber) rank, the same
    // (rank−1)·S div N cut.
    "p17_zorder_layout" ->
      (zorderStatsCte + "SELECT * FROM zs"),
    // skippingProbe mirror: the SAME z-order stats chain (shared CTE
    // with p17), the natural-order shard stats, and the diagonal
    // predicate grid over the global key ranges.
    "p19_skipping_probe" ->
      (zorderStatsCte.trim + s""",
         |nr AS (SELECT l_partkey, l_suppkey, row_number() OVER (
         |    ORDER BY l_orderkey, l_linenumber) AS rn,
         |  count(*) OVER () AS n FROM lineitem),
         |ns AS (SELECT CAST(((rn - 1) * 32) // n AS BIGINT) AS shard,
         |  min(l_partkey) AS partkey_min, max(l_partkey) AS partkey_max,
         |  min(l_suppkey) AS suppkey_min, max(l_suppkey) AS suppkey_max
         | FROM nr GROUP BY 1),
         |p AS (SELECT q AS pred_id,
         |  pkmn + ((pkmx - pkmn + 1) * q) // 8 AS pk_lo,
         |  pkmn + ((pkmx - pkmn + 1) * (q + 1)) // 8 - 1 AS pk_hi,
         |  skmn + ((skmx - skmn + 1) * q) // 8 AS sk_lo,
         |  skmn + ((skmx - skmn + 1) * (q + 1)) // 8 - 1 AS sk_hi
         | FROM range(8) AS t(q) CROSS JOIN s),
         |zc AS (SELECT pred_id, CAST(sum(CASE WHEN
         |    NOT (partkey_max < pk_lo OR partkey_min > pk_hi)
         |    AND NOT (suppkey_max < sk_lo OR suppkey_min > sk_hi)
         |   THEN 1 ELSE 0 END) AS BIGINT) AS scan_zorder
         | FROM p CROSS JOIN zs GROUP BY 1),
         |nc AS (SELECT pred_id, CAST(sum(CASE WHEN
         |    NOT (partkey_max < pk_lo OR partkey_min > pk_hi)
         |    AND NOT (suppkey_max < sk_lo OR suppkey_min > sk_hi)
         |   THEN 1 ELSE 0 END) AS BIGINT) AS scan_natural
         | FROM p CROSS JOIN ns GROUP BY 1)
         |SELECT pred_id, CAST(32 AS BIGINT) AS n_shards,
         | scan_zorder, scan_natural
         |FROM zc JOIN nc USING (pred_id)""".stripMargin),
    // cdcSnapshot mirror: p18's window CTE filtered to the open
    // version — DuckDB takes the sorted route to the same rows the
    // Spark side reaches with one sortless max_by aggregate.
    "st12_cdc_snapshot" ->
      s"""WITH v AS (SELECT user_id, event_id, event_type, value,
         |  CAST(row_number() OVER w AS BIGINT) AS version,
         |  epoch_us(ts) AS valid_from_us,
         |  lead(ts) OVER w AS nxt
         | FROM events
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, event_id, event_type, value, version,
         | valid_from_us,
         | ${graft.operators.Pipeline.ScdOpenEndUs} AS valid_to_us,
         | TRUE AS is_current
         |FROM v WHERE nxt IS NULL""".stripMargin,
    // horizonDedupBatch mirror: greedy horizon-spaced selection is a
    // per-key recurrence (each verdict depends on the previous KEPT
    // ts), so the oracle advances each key's frontier one kept event
    // per recursion round — the d08 fixpoint-recursion discipline with
    // a LATERAL next-event probe; UNION dedup terminates the walk.
    "st13_horizon_dedup" ->
      """WITH RECURSIVE ev AS (
        | SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |  value,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id) AS rn
        | FROM events),
        |kept(user_id, event_type, ts_us, event_id, value) AS (
        | SELECT user_id, event_type, ts_us, event_id, value
        | FROM ev WHERE rn = 1
        | UNION
        | SELECT nxt.* FROM kept k, LATERAL (
        |   SELECT e.user_id, e.event_type, e.ts_us, e.event_id, e.value
        |   FROM ev e
        |   WHERE e.user_id = k.user_id AND e.event_type = k.event_type
        |     AND e.ts_us > k.ts_us + 86400000000
        |   ORDER BY e.ts_us, e.event_id LIMIT 1) nxt)
        |SELECT user_id, event_type, ts_us, event_id, value
        |FROM kept""".stripMargin,
    // timeTravelGrid mirror: p18's version CTE + the min/max-derived
    // 4-instant grid + the same interval predicate.
    "p22_time_travel" ->
      s"""WITH v AS (SELECT user_id, event_id, event_type, value,
         |  CAST(row_number() OVER w AS BIGINT) AS version,
         |  epoch_us(ts) AS valid_from_us,
         |  coalesce(epoch_us(lead(ts) OVER w),
         |    ${graft.operators.Pipeline.ScdOpenEndUs}) AS valid_to_us
         | FROM events
         | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
         | FROM events),
         |g AS (SELECT CAST(i AS BIGINT) AS grid_i,
         |  mn + ((mx - mn) * i) // 4 AS grid_ts_us
         | FROM b, (SELECT unnest([1, 2, 3, 4]) AS i))
         |SELECT grid_i, grid_ts_us, user_id, event_id, event_type,
         | value, version
         |FROM v JOIN g
         |ON valid_from_us <= grid_ts_us AND grid_ts_us < valid_to_us"""
        .stripMargin,
    // cdcUpsert mirror: identical (ts, event_id) total order; the
    // open-version sentinel is the same µs literal on both engines.
    "p18_cdc_upsert" ->
      s"""SELECT user_id, event_id, event_type, value,
         | CAST(row_number() OVER w AS BIGINT) AS version,
         | epoch_us(ts) AS valid_from_us,
         | coalesce(epoch_us(lead(ts) OVER w),
         |   ${graft.operators.Pipeline.ScdOpenEndUs}) AS valid_to_us,
         | (lead(ts) OVER w IS NULL) AS is_current
         |FROM events
         |WINDOW w AS (PARTITION BY user_id
         |  ORDER BY ts, event_id)""".stripMargin,
    // sourceOverlapMatrix mirror: the same shingle CTEs keyed by
    // source, all pairs via a totals self-join, zeros preserved.
    "d25_source_overlap" -> {
      import graft.functions.Canon.{MersenneP => P}
      val poly = (1 until 5).foldLeft("hw[i]") {
        (acc, j) => s"($acc*31 + hw[i+$j])"
      } + s" % $P"
      s"""WITH w AS (SELECT source,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT source,
         |  list_distinct([$poly FOR i IN range(1, len(hw)-3)]) AS sh
         | FROM w),
         |ps AS (SELECT DISTINCT source, unnest(sh) AS sh FROM s),
         |tot AS (SELECT source, count(*) AS n_distinct FROM ps
         |  GROUP BY 1),
         |sh2 AS (SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_shared
         | FROM ps a JOIN ps b
         |  ON a.sh = b.sh AND a.source < b.source
         | GROUP BY 1, 2)
         |SELECT ta.source AS source_a, tb.source AS source_b,
         | ta.n_distinct AS n_a, tb.n_distinct AS n_b,
         | coalesce(n_shared, 0)::BIGINT AS n_shared,
         | coalesce(n_shared, 0)::DOUBLE /
         |  (ta.n_distinct + tb.n_distinct - coalesce(n_shared, 0))::DOUBLE
         |  AS jaccard
         |FROM tot ta JOIN tot tb ON ta.source < tb.source
         |LEFT JOIN sh2 ON source_a = ta.source AND source_b = tb.source"""
        .stripMargin
    },
    // sketchOverlap mirror (q20b contract pattern): d10's shingle
    // CTEs → the three EXACT distinct counts + literal 1; the HLL
    // estimates stay engine-side, gated through within_bound.
    "d24_sketch_overlap" -> {
      import graft.functions.Canon.{MersenneP => P}
      val poly = (1 until 5).foldLeft("hw[i]") {
        (acc, j) => s"($acc*31 + hw[i+$j])"
      } + s" % $P"
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT doc_id,
         |  list_distinct([$poly FOR i IN range(1, len(hw)-3)]) AS sh
         | FROM w),
         |b AS (SELECT DISTINCT unnest(sh) AS sh FROM s
         |  WHERE doc_id % 7 <> 0),
         |e AS (SELECT DISTINCT unnest(sh) AS sh FROM s
         |  WHERE doc_id % 7 = 0)
         |SELECT (SELECT count(*) FROM b) AS n_batch_exact,
         | (SELECT count(*) FROM e) AS n_bench_exact,
         | (SELECT count(*) FROM b JOIN e USING (sh)) AS n_overlap_exact,
         | CAST(1 AS BIGINT) AS within_bound""".stripMargin
    },
    "p02_hash_split" ->
      s"""WITH b AS (SELECT lang,
         |  ${h60("md5(text)")} % 100 AS bucket FROM documents)
         |SELECT lang,
         | CASE WHEN bucket < 96 THEN 'train'
         |      WHEN bucket < 98 THEN 'val' ELSE 'test' END AS split,
         | count(*) AS n_docs
         |FROM b GROUP BY 1, 2""".stripMargin,
    "q23_above_nation_avg" ->
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer
        |JOIN (SELECT c_nationkey AS nk,
        |   sum(CAST(c_acctbal AS DECIMAL(18,2))) AS total,
        |   count(*) AS n
        |  FROM customer GROUP BY 1) ON c_nationkey = nk
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > total""".stripMargin,
    "g09_degree_dist" ->
      (edgesCte +
        """SELECT 'out' AS direction, degree, count(*) AS n_vertices
          |FROM (SELECT _from, count(*) AS degree FROM edges GROUP BY 1)
          |GROUP BY degree
          |UNION ALL
          |SELECT 'in' AS direction, degree, count(*) AS n_vertices
          |FROM (SELECT _to, count(*) AS degree FROM edges GROUP BY 1)
          |GROUP BY degree""".stripMargin),
    // pageRankFixedPoint unrolled: identical integer arithmetic
    // (rank // outdeg contributions, damped fixed-point update) per
    // iteration, so the distributed result verifies bit-for-bit.
    "g10_pagerank" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT v.v,
           | CAST(150000 + (850000 * coalesce(c.s, 0)) // 1000000
           |   AS BIGINT) AS rank
           | FROM v LEFT JOIN (
           |  SELECT dst, sum(rank // outdeg) AS s FROM ed
           |  JOIN r${i - 1} ON ed.src = r${i - 1}.v GROUP BY dst) c
           | ON v.v = c.dst)""".stripMargin
      }.mkString(",\n")
      edgesCte +
        s""", e AS (SELECT DISTINCT _from AS src, _to AS dst FROM edges),
           |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |ed AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
           |v AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS rank FROM v),
           |$rounds
           |SELECT v AS vertex, rank FROM r3""".stripMargin
    },
    // triangleCounts mirror: the oracle closes triangles in plain id
    // order (a<b<c 3-way self-join) — the triangle SET is orientation-
    // independent, so it equals the Spark side's degree-ordered wedge
    // join; both caps (maxPerOrder=100 via HAVING, minSupport=5) are
    // mirrored exactly.
    "g11_triangles" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
        |osk AS (SELECT os.o, os.s FROM os JOIN ok USING (o)),
        |e AS (SELECT x.s AS a, y.s AS b FROM osk x JOIN osk y
        |  ON x.o = y.o AND x.s < y.s
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT vertex, count(*) AS n_triangles
        |FROM (SELECT unnest([u, v, w]) AS vertex FROM tri)
        |GROUP BY vertex""".stripMargin,
    // personalizedPageRank mirror: g10's unrolled rounds with the
    // teleport mass gated by the seed indicator.
    "g18_ppr" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT v.v,
           | CAST(v.seed * 150000 + (850000 * coalesce(c.s, 0)) // 1000000
           |   AS BIGINT) AS rank
           | FROM v LEFT JOIN (
           |  SELECT dst, sum(rank // outdeg) AS s FROM ed
           |  JOIN r${i - 1} ON ed.src = r${i - 1}.v GROUP BY dst) c
           | ON v.v = c.dst)""".stripMargin
      }.mkString(",\n")
      edgesCte +
        s""", e AS (SELECT DISTINCT _from AS src, _to AS dst FROM edges),
           |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
           |ed AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
           |v0 AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
           |v AS (SELECT v, CASE WHEN string_split(v, '/')[1] = 'accounts'
           |  AND string_split(v, '/')[2]::BIGINT % 10 = 0
           |  THEN 1 ELSE 0 END AS seed FROM v0),
           |r0 AS (SELECT v, CAST(seed * 1000000 AS BIGINT) AS rank FROM v),
           |$rounds
           |SELECT v AS vertex, rank FROM r3""".stripMargin
    },
    // hitsScores mirror: two unrolled mutual-reinforcement rounds
    // with per-side max normalization — all integer algebra (DuckDB's
    // HUGEINT sums carry the same exact values; final scores CAST to
    // BIGINT per the §8.4 canonicalization rule).
    "g19_hits" -> {
      val rounds = (1 to 2).map { i =>
        val prevH = if (i == 1) "h0" else s"h${i - 1}"
        s"""ra$i AS (SELECT s, sum(h) AS ra
           | FROM e JOIN $prevH USING (c) GROUP BY s),
           |a$i AS (SELECT s,
           |  (ra * 1000000) // (SELECT max(ra) FROM ra$i) AS a
           | FROM ra$i),
           |rh$i AS (SELECT c, sum(a) AS rh
           | FROM e JOIN a$i USING (s) GROUP BY c),
           |h$i AS (SELECT c,
           |  (rh * 1000000) // (SELECT max(rh) FROM rh$i) AS h
           | FROM rh$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |h0 AS (SELECT DISTINCT c, 1000000 AS h FROM e),
         |$rounds
         |SELECT 'hub' AS side, c AS node_id, CAST(h AS BIGINT) AS score
         |FROM h2
         |UNION ALL
         |SELECT 'auth' AS side, s AS node_id, CAST(a AS BIGINT) AS score
         |FROM a2""".stripMargin
    },
    // truncatedRecall mirror: the s01 CTE run twice — full dims and
    // the v[1:16] slice (norms re-derived on the slice) — then the
    // s11-style recall join.
    "s14_truncated_recall" ->
      (embCte +
        s""", t AS (SELECT vec_id, v[1:16] AS v FROM e),
           |tn AS (SELECT vec_id, v,
           |  sqrt(${foldSum("[x*x FOR x IN v]")}) AS nrm FROM t),
           |q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
           |fsc AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
           |exact AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM fsc) WHERE rk <= 3),
           |tq AS (SELECT vec_id AS q_id, v, nrm FROM tn WHERE vec_id < 10),
           |tsc AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM tq) a
           | CROSS JOIN tn b WHERE b.vec_id <> a.q_id),
           |approx AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM tsc) WHERE rk <= 3)
           |SELECT exact.q_id, count(approx.nbr_id)::BIGINT AS n_hit,
           |  count(approx.nbr_id)::DOUBLE / count(*) AS recall
           |FROM exact LEFT JOIN approx
           | ON exact.q_id = approx.q_id AND exact.nbr_id = approx.nbr_id
           |GROUP BY exact.q_id""".stripMargin),
    // degreeAssortativity mirror: the bipartite purchase graph + the
    // rational symmetric-Pearson form (DuckDB sum(BIGINT) → HUGEINT
    // matches the Spark side's decimal(38,0) sums exactly; nullif
    // mirrors the degree-regular guard).
    "g17_assortativity" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS a,
        |  l_suppkey + 1000000 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT v, count(*) AS deg
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY v),
        |p AS (SELECT dx.deg AS dx, dy.deg AS dy FROM sym
        |  JOIN deg dx ON sym.a = dx.v
        |  JOIN deg dy ON sym.b = dy.v),
        |s AS (SELECT count(*) AS m, sum(dx) AS sx,
        |  sum(dx * dy) AS sxy, sum(dx * dx) AS sxx FROM p)
        |SELECT m::BIGINT AS m,
        |  (m * sxy - sx * sx)::DOUBLE /
        |    nullif((m * sxx - sx * sx)::DOUBLE, 0.0)
        |    AS assortativity
        |FROM s""".stripMargin,
    // localClustering mirror: the g11 triangle CTE + a degree CTE;
    // the coefficient is (2·tri)::DOUBLE / (deg·(deg−1)), one division.
    "g16_local_cc" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
        |osk AS (SELECT os.o, os.s FROM os JOIN ok USING (o)),
        |e AS (SELECT x.s AS a, y.s AS b FROM osk x JOIN osk y
        |  ON x.o = y.o AND x.s < y.s
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tv AS (SELECT vertex, count(*) AS n_triangles
        |  FROM (SELECT unnest([u, v, w]) AS vertex FROM tri)
        |  GROUP BY vertex),
        |deg AS (SELECT v, count(*) AS deg
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY v)
        |SELECT deg.v AS vertex, deg.deg,
        |  coalesce(tv.n_triangles, 0)::BIGINT AS n_triangles,
        |  CASE WHEN deg.deg >= 2
        |    THEN (coalesce(tv.n_triangles, 0) * 2)::DOUBLE
        |      / (deg.deg * (deg.deg - 1))
        |    ELSE 0.0::DOUBLE END AS local_cc
        |FROM deg LEFT JOIN tv ON tv.vertex = deg.v""".stripMargin,
    // connectedComponents mirror: g11's co-supplier edge CTE (both
    // caps mirrored) + the d08-style recursive component-min closure.
    "g12_wcc" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey AS o,
        |  l_suppkey AS s FROM lineitem),
        |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
        |osk AS (SELECT os.o, os.s FROM os JOIN ok USING (o)),
        |e AS (SELECT x.s AS a, y.s AS b FROM osk x JOIN osk y
        |  ON x.o = y.o AND x.s < y.s
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach(node, lab) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node)
        |SELECT node AS vertex, min(lab) AS component
        |FROM reach GROUP BY node""".stripMargin,
    // labelPropagation mirror: g12's co-supplier edge chain, then the
    // synchronous mode-update unrolled per round (same (n DESC, lab)
    // argmax as the Spark window). Chain shared with g21.
    "g20_label_propagation" ->
      (lpaCtes(3) + "\nSELECT node AS vertex, lab AS community FROM l3"),
    // modularity mirror: the shared LPA chain, then the single-
    // division exact form over HUGEINT intermediates (§8.4).
    "g21_modularity" -> (lpaCtes(3) +
      """,
        |deg AS (SELECT v, count(*)::BIGINT AS deg FROM (
        |   SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY v),
        |dcs AS (SELECT l.lab AS community,
        |   sum(d.deg::HUGEINT) AS d_c
        |  FROM deg d JOIN l3 l ON l.node = d.v GROUP BY 1),
        |agg2 AS (SELECT count(*)::BIGINT AS n_communities,
        |   sum(d_c * d_c) AS sum_dsq FROM dcs),
        |win AS (SELECT count(*)::BIGINT AS e_in FROM e
        |  JOIN l3 x ON x.node = e.a JOIN l3 y ON y.node = e.b
        |  WHERE x.lab = y.lab),
        |mm AS (SELECT count(*)::BIGINT AS m FROM e)
        |SELECT m, n_communities, e_in AS n_within_edges,
        |  CASE WHEN m = 0 THEN NULL ELSE
        |    (4::HUGEINT * m * e_in - sum_dsq)::DOUBLE
        |      / (4::HUGEINT * m * m)::DOUBLE END AS modularity
        |FROM mm, win, agg2""".stripMargin),
    // louvainMove mirror: the shared 1-round LPA seed, then the exact
    // cross-multiplied gain argmax (2m·e_{i→C} − k_i·Σ'_C in HUGEINT,
    // self-degree excluded for the own community), the strict move
    // test, and the g21 modularity tail over both partitions. The
    // shared CTEs are re-wrapped AS MATERIALIZED (em/symm/l1m) and
    // every multi-consumer tail CTE is MATERIALIZED too: this tail
    // references them 4–6× each and DuckDB's per-reference CTE
    // inlining otherwise re-evaluates the whole LPA chain per
    // reference (the g15/nnDescent lesson — measured >10 min at
    // sf0.1 unhinted, seconds hinted; evaluation-only, semantics
    // unchanged).
    "g23_louvain_move" -> (lpaCtes(1) + louvainPhase1Ctes +
      """,
        |mv AS (SELECT sum(CASE WHEN lab <> laba THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_moves FROM nl),
        |nb2 AS (SELECT count(*)::BIGINT AS n_communities_before,
        |  sum(sigma * sigma) AS sdq_b FROM dcs),
        |win_b AS (SELECT count(*)::BIGINT AS e_in FROM em e
        |  JOIN l1m x ON x.node = e.a JOIN l1m y ON y.node = e.b
        |  WHERE x.lab = y.lab),
        |dcs_a AS (SELECT l.lab AS community, sum(d.k::HUGEINT) AS sigma
        |  FROM deg d JOIN nl l ON l.node = d.v GROUP BY 1),
        |na2 AS (SELECT count(*)::BIGINT AS n_communities_after,
        |  sum(sigma * sigma) AS sdq_a FROM dcs_a),
        |win_a AS (SELECT count(*)::BIGINT AS e_in FROM em e
        |  JOIN nl x ON x.node = e.a JOIN nl y ON y.node = e.b
        |  WHERE x.lab = y.lab)
        |SELECT mm.m, nb2.n_communities_before,
        | CASE WHEN mm.m = 0 THEN NULL ELSE
        |   (4::HUGEINT * mm.m * win_b.e_in - nb2.sdq_b)::DOUBLE
        |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END
        |   AS modularity_before,
        | mv.n_moves, na2.n_communities_after,
        | CASE WHEN mm.m = 0 THEN NULL ELSE
        |   (4::HUGEINT * mm.m * win_a.e_in - na2.sdq_a)::DOUBLE
        |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END
        |   AS modularity_after
        |FROM mm, nb2, win_b, na2, win_a, mv""".stripMargin),
    // louvainTwoLevel mirror: the shared phase-1 chain through `nl`,
    // then min-member canonicalization, the weighted contraction
    // (between-community super-edges + self-loop weights), the
    // phase-2 singleton-restart move (s = 2m·w(a,b) − k_a·k_b in
    // HUGEINT, merge iff s > 0, ties (s DESC, nb ASC)), and the g21
    // modularity tail over all three flat partitions.
    "g24_louvain_two_level" -> (lpaCtes(1) + louvainPhase1Ctes +
      louvainFlat1Ctes +
      """,
        |ce AS MATERIALIZED (SELECT x.c AS ca, y.c AS cb FROM em e
        |  JOIN flat1 x ON x.v = e.a JOIN flat1 y ON y.v = e.b),
        |bw AS MATERIALIZED (SELECT least(ca, cb) AS sa,
        |   greatest(ca, cb) AS sb, count(*)::BIGINT AS w
        |  FROM ce WHERE ca <> cb GROUP BY 1, 2),
        |swt AS MATERIALIZED (SELECT ca AS node,
        |   count(*)::BIGINT AS selfw FROM ce WHERE ca = cb GROUP BY 1),
        |symw AS MATERIALIZED (SELECT sa AS node, sb AS nb, w FROM bw
        |  UNION ALL SELECT sb, sa, w FROM bw),
        |degc AS MATERIALIZED (SELECT c.cc AS node,
        |   coalesce(nw.nbw, 0) + 2 * coalesce(s.selfw, 0) AS k
        |  FROM canon c LEFT JOIN (SELECT node, sum(w)::BIGINT AS nbw
        |    FROM symw GROUP BY 1) nw ON nw.node = c.cc
        |  LEFT JOIN swt s ON s.node = c.cc),
        |scored2 AS (SELECT sy.node, sy.nb,
        |   2::HUGEINT * mm.m * sy.w - da.k::HUGEINT * db.k::HUGEINT AS s
        |  FROM symw sy JOIN degc da ON da.node = sy.node
        |  JOIN degc db ON db.node = sy.nb, mm),
        |dec2 AS MATERIALIZED (SELECT node AS c, nb AS mergeto FROM (
        |  SELECT *, row_number() OVER (PARTITION BY node
        |    ORDER BY s DESC, nb) AS rk FROM scored2)
        |  WHERE rk = 1 AND s > 0),
        |flat2 AS MATERIALIZED (SELECT f.v, coalesce(d.mergeto, f.c) AS c
        |  FROM flat1 f LEFT JOIN dec2 d ON d.c = f.c),
        |mv1 AS (SELECT sum(CASE WHEN lab <> laba THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_moves_p1 FROM nl),
        |mv2 AS (SELECT count(*)::BIGINT AS n_moves_p2 FROM dec2),
        |se AS (SELECT count(*)::BIGINT AS n_super_edges FROM bw),
        |nb0 AS (SELECT sum(sigma * sigma) AS sdq_b FROM dcs),
        |win_b AS (SELECT count(*)::BIGINT AS e_in FROM em e
        |  JOIN l1m x ON x.node = e.a JOIN l1m y ON y.node = e.b
        |  WHERE x.lab = y.lab),
        |dcs_m AS (SELECT f.c, sum(d.k::HUGEINT) AS sigma
        |  FROM deg d JOIN flat1 f ON f.v = d.v GROUP BY 1),
        |nb_m AS (SELECT count(*)::BIGINT AS n_communities_mid,
        |   sum(sigma * sigma) AS sdq_m FROM dcs_m),
        |win_m AS (SELECT count(*)::BIGINT AS e_in FROM em e
        |  JOIN flat1 x ON x.v = e.a JOIN flat1 y ON y.v = e.b
        |  WHERE x.c = y.c),
        |dcs_a AS (SELECT f.c, sum(d.k::HUGEINT) AS sigma
        |  FROM deg d JOIN flat2 f ON f.v = d.v GROUP BY 1),
        |nb_a AS (SELECT count(*)::BIGINT AS n_communities_after,
        |   sum(sigma * sigma) AS sdq_a FROM dcs_a),
        |win_a AS (SELECT count(*)::BIGINT AS e_in FROM em e
        |  JOIN flat2 x ON x.v = e.a JOIN flat2 y ON y.v = e.b
        |  WHERE x.c = y.c)
        |SELECT mm.m,
        | CASE WHEN mm.m = 0 THEN NULL ELSE
        |   (4::HUGEINT * mm.m * win_b.e_in - nb0.sdq_b)::DOUBLE
        |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END
        |   AS modularity_before,
        | mv1.n_moves_p1, nb_m.n_communities_mid,
        | CASE WHEN mm.m = 0 THEN NULL ELSE
        |   (4::HUGEINT * mm.m * win_m.e_in - nb_m.sdq_m)::DOUBLE
        |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END
        |   AS modularity_mid,
        | se.n_super_edges, mv2.n_moves_p2, nb_a.n_communities_after,
        | CASE WHEN mm.m = 0 THEN NULL ELSE
        |   (4::HUGEINT * mm.m * win_a.e_in - nb_a.sdq_a)::DOUBLE
        |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END
        |   AS modularity_after
        |FROM mm, nb0, win_b, mv1, nb_m, win_m, se, mv2, nb_a,
        | win_a""".stripMargin),
    // louvainLadder mirror: the shared phase-1 chain + flat1, then
    // TWO unrolled ladder levels (weighted contraction, positive-gain
    // argmax, MUTUAL-argmax matching mt_l, merged flat_{l+1}) and the
    // shared modularity tail per partition. All level algebra comes
    // from louvainLevelCtes so the Spark/oracle pair shares one text.
    "g25_louvain_ladder" -> (lpaCtes(1) + louvainPhase1Ctes +
      louvainFlat1Ctes + louvainLevelCtes(1) + louvainLevelCtes(2) +
      louvainModCtes("p1", "flat1") + louvainModCtes("l1", "flat2") +
      louvainModCtes("l2", "flat3") +
      """,
        |mv1 AS (SELECT sum(CASE WHEN lab <> laba THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_moves_p1 FROM nl),
        |nb0 AS (SELECT sum(sigma * sigma) AS sdq_b FROM dcs),
        |win_b AS (SELECT count(*)::BIGINT AS e_in FROM em e
        |  JOIN l1m x ON x.node = e.a JOIN l1m y ON y.node = e.b
        |  WHERE x.lab = y.lab),
        |mer1 AS (SELECT count(*)::BIGINT AS n_merges_l1 FROM mt1),
        |mer2 AS (SELECT count(*)::BIGINT AS n_merges_l2 FROM mt2)
        |SELECT mm.m,
        | CASE WHEN mm.m = 0 THEN NULL ELSE
        |   (4::HUGEINT * mm.m * win_b.e_in - nb0.sdq_b)::DOUBLE
        |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END
        |   AS modularity_before,
        | mv1.n_moves_p1, nb_p1.nc_p1 AS n_communities_p1,""".stripMargin +
      louvainModExpr("p1", "modularity_p1") + "," +
      """
        | mer1.n_merges_l1, nb_l1.nc_l1 AS n_communities_l1,"""
        .stripMargin +
      louvainModExpr("l1", "modularity_l1") + "," +
      """
        | mer2.n_merges_l2, nb_l2.nc_l2 AS n_communities_l2,"""
        .stripMargin +
      louvainModExpr("l2", "modularity_l2") +
      """
        |FROM mm, nb0, win_b, mv1, nb_p1, win_p1, mer1, nb_l1, win_l1,
        | mer2, nb_l2, win_l2""".stripMargin),
    // louvainLadderMoves mirror (g26): the shared phase-1 chain, then
    // per level the g26LevelCtes block — weighted contraction,
    // singleton-restart labels, TWO weighted synchronous move rounds
    // (louvainWMoveCtes, the HUGEINT gain algebra with sum(w) edge
    // counts and weighted degrees), min-member fold, the g25 matching
    // on the re-contracted graph, and modularity tails after each
    // phase. All modularities scored on the ORIGINAL edges via the
    // shared louvainModCtes/louvainModExpr pair.
    "g26_louvain_ladder_moves" -> (lpaCtes(1) + louvainPhase1Ctes +
      louvainFlat1Ctes +
      g26LevelCtes(1, "flat1", "flat2", 2) +
      g26LevelCtes(2, "flat2", "flat3", 2) +
      louvainModCtes("p1", "flat1") +
      """,
        |mv1 AS (SELECT sum(CASE WHEN lab <> laba THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_moves_p1 FROM nl),
        |nb0 AS (SELECT sum(sigma * sigma) AS sdq_b FROM dcs),
        |win_b AS (SELECT count(*)::BIGINT AS e_in FROM em e
        |  JOIN l1m x ON x.node = e.a JOIN l1m y ON y.node = e.b
        |  WHERE x.lab = y.lab),
        |mer1 AS (SELECT count(*)::BIGINT AS n_merges_l1 FROM mt1),
        |mer2 AS (SELECT count(*)::BIGINT AS n_merges_l2 FROM mt2)
        |SELECT mm.m,
        | CASE WHEN mm.m = 0 THEN NULL ELSE
        |   (4::HUGEINT * mm.m * win_b.e_in - nb0.sdq_b)::DOUBLE
        |     / (4::HUGEINT * mm.m * mm.m)::DOUBLE END
        |   AS modularity_before,
        | mv1.n_moves_p1, nb_p1.nc_p1 AS n_communities_p1,""".stripMargin +
      louvainModExpr("p1", "modularity_p1") + "," +
      """
        | wmvm1_1.n_moves_l1_r1, wmvm1_2.n_moves_l1_r2,
        | nb_l1mv.nc_l1mv AS n_communities_l1_mv,""".stripMargin +
      louvainModExpr("l1mv", "modularity_l1_mv") + "," +
      """
        | mer1.n_merges_l1, nb_l1.nc_l1 AS n_communities_l1,"""
        .stripMargin +
      louvainModExpr("l1", "modularity_l1") + "," +
      """
        | wmvm2_1.n_moves_l2_r1, wmvm2_2.n_moves_l2_r2,
        | nb_l2mv.nc_l2mv AS n_communities_l2_mv,""".stripMargin +
      louvainModExpr("l2mv", "modularity_l2_mv") + "," +
      """
        | mer2.n_merges_l2, nb_l2.nc_l2 AS n_communities_l2,"""
        .stripMargin +
      louvainModExpr("l2", "modularity_l2") +
      """
        |FROM mm, nb0, win_b, mv1, nb_p1, win_p1,
        | wmvm1_1, wmvm1_2, nb_l1mv, win_l1mv, mer1, nb_l1, win_l1,
        | wmvm2_1, wmvm2_2, nb_l2mv, win_l2mv, mer2, nb_l2, win_l2"""
        .stripMargin),
    // louvainMovesFixpoint mirror: phase 1 + contraction "f", then the
    // capped unroll of 10 alternating-direction weighted move rounds —
    // each with its move count, audit fold into the vertex partition,
    // original-edge modularity tail, and (r >= 2) the same-parity
    // label-diff count wdf_r. The recurrence labels_r = labels_{r-2}
    // is absorbing, so rounds past it are no-ops and the final filter
    // `round <= first recurrence round (cap if none)` emits exactly
    // the rounds the Spark loop executed.
    "g27_louvain_fixpoint" -> {
      val cap = 10
      val rounds = (1 to cap).map { r =>
        val dir = if (r % 2 == 1) " WHERE n.labc < la.lab"
          else " WHERE n.labc > la.lab"
        louvainWMoveCtes("f", r, dir) +
          s""",
             |wmvf_$r AS (SELECT sum(CASE WHEN lab <> laba
             |    THEN 1 ELSE 0 END)::BIGINT AS n_moves FROM wnlf_$r),
             |wcanf_$r AS (SELECT lab, min(node) AS cc
             |  FROM wlf_$r GROUP BY lab),
             |wmapf_$r AS (SELECT wl.node AS c, c2.cc AS mc
             |  FROM wlf_$r wl JOIN wcanf_$r c2 ON c2.lab = wl.lab),
             |flatf$r AS MATERIALIZED (SELECT f.v, coalesce(g.mc, f.c) AS c
             |  FROM flat1 f LEFT JOIN wmapf_$r g ON g.c = f.c)"""
            .stripMargin +
          louvainModCtes(s"f$r", s"flatf$r") +
          (if (r < 2) ""
           else s""",
                |wdf_$r AS (SELECT count(*)::BIGINT AS d
                |  FROM wlf_$r a JOIN wlf_${r - 2} b ON b.node = a.node
                |  WHERE a.lab <> b.lab)""".stripMargin)
      }.mkString
      val rowSelects = (1 to cap).map { r =>
        s"""  SELECT $r::BIGINT AS round, wmvf_$r.n_moves,
           |   nb_f$r.nc_f$r AS n_communities,
           |${louvainModExpr(s"f$r", "modularity")}
           |  FROM mm, wmvf_$r, nb_f$r, win_f$r""".stripMargin
      }.mkString("\n  UNION ALL\n")
      lpaCtes(1) + louvainPhase1Ctes + louvainFlat1Ctes +
        louvainContractCtes("f", "flat1") +
        s""",
           |wlf_0 AS (SELECT node, node AS lab FROM degcf)""".stripMargin +
        rounds +
        s""",
           |g27rows AS (
           |$rowSelects
           |),
           |g27diffs AS (
           |${(2 to cap).map(r =>
              s"  SELECT $r::BIGINT AS round, d FROM wdf_$r")
              .mkString("\n  UNION ALL\n")}
           |),
           |g27stop AS (SELECT coalesce(min(round), $cap::BIGINT)
           |  AS rstop FROM g27diffs WHERE d = 0)
           |SELECT round, n_moves, n_communities, modularity
           |FROM g27rows, g27stop WHERE round <= rstop""".stripMargin
    },
    // louvainFixpointLadder mirror: phase 1 + flat1, then per level
    // the g28LevelCtes block (g27's capped damped unroll with its
    // recurrence stop and stop-round partition select, g25's matching
    // on the re-contraction) and the final union of move rows
    // (filtered to the executed window) + the per-level match rows.
    "g28_louvain_fixpoint_ladder" -> {
      val cap = 10
      lpaCtes(1) + louvainPhase1Ctes + louvainFlat1Ctes +
        g28LevelCtes(1, "flat1", "flatL1", cap) +
        g28LevelCtes(2, "flatL1", "flatL2", cap) +
        s"""
           |SELECT level, phase, round, n_moves, n_communities,
           | modularity
           |FROM (
           | SELECT m.* FROM g28m1 m, stop1 WHERE m.round <= stop1.rstop
           | UNION ALL SELECT * FROM g28t1
           | UNION ALL
           | SELECT m.* FROM g28m2 m, stop2 WHERE m.round <= stop2.rstop
           | UNION ALL SELECT * FROM g28t2
           |)""".stripMargin
    },
    // louvainLeidenLadder mirror: the g28 level builder with
    // refine = true — the recursive intra-community min-label closure
    // (the g12 mirror's shape scoped by the community equi-join)
    // between each level's stop-round fold and its matching, plus the
    // per-level refine audit row. WITH RECURSIVE via replaceFirst:
    // the shared lpaCtes opens the chain.
    "g29_leiden_ladder" -> {
      val cap = 10
      (lpaCtes(1) + louvainPhase1Ctes + louvainFlat1Ctes +
        g28LevelCtes(1, "flat1", "flatL1", cap, "g29", refine = true) +
        g28LevelCtes(2, "flatL1", "flatL2", cap, "g29", refine = true) +
        s"""
           |SELECT level, phase, round, n_moves, n_communities,
           | modularity
           |FROM (
           | SELECT m.* FROM g29m1 m, stop1 WHERE m.round <= stop1.rstop
           | UNION ALL SELECT * FROM g29r1
           | UNION ALL SELECT * FROM g29t1
           | UNION ALL
           | SELECT m.* FROM g29m2 m, stop2 WHERE m.round <= stop2.rstop
           | UNION ALL SELECT * FROM g29r2
           | UNION ALL SELECT * FROM g29t2
           |)""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")
    },
    "t06_vocabulary" ->
      """SELECT word, count(*) AS n,
        | row_number() OVER (ORDER BY count(*) DESC, word ASC) AS "rank"
        |FROM (SELECT unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        |GROUP BY word""".stripMargin,
    // textRankKeywords mirror: the t14-style adjacent-pair fan-out,
    // canonical pair counts at minCount=5, symmetrized edges, then
    // g10's unrolled integer-PageRank rounds and the top-20 cut.
    "t24_textrank_keywords" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT v.v,
           | CAST(150000 + (850000 * coalesce(c.s, 0)) // 1000000
           |   AS BIGINT) AS rank
           | FROM v LEFT JOIN (
           |  SELECT dst, sum(rank // outdeg) AS s FROM ed
           |  JOIN r${i - 1} ON ed.src = r${i - 1}.v GROUP BY dst) c
           | ON v.v = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |pr AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
         |   FOR i IN range(1, len(w))]) AS p FROM w),
         |pp AS (SELECT least(p.w1, p.w2) AS a, greatest(p.w1, p.w2) AS b
         |  FROM pr WHERE p.w1 <> p.w2),
         |pe AS (SELECT a, b FROM (SELECT a, b, count(*) AS n FROM pp
         |  GROUP BY 1, 2) WHERE n >= 5),
         |e AS (SELECT a AS src, b AS dst FROM pe
         |  UNION ALL SELECT b, a FROM pe),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |ed AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
         |v AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS rank FROM v),
         |$rounds
         |SELECT word, score, keyword_rank FROM (
         |  SELECT v AS word, rank AS score, row_number() OVER (
         |    ORDER BY rank DESC, v) AS keyword_rank FROM r3)
         |WHERE keyword_rank <= 20""".stripMargin
    },
    // zipfFit mirror: the t06 rank chain, micro-nat quantized logs,
    // exact HUGEINT OLS sums, then slope/intercept in the identical
    // IEEE operand order (slope = num/den first, intercept reuses it).
    "t23_zipf_fit" ->
      """WITH v AS (SELECT word, count(*) AS n,
        |  row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rk
        | FROM (SELECT unnest(string_split(text, ' ')) AS word
        |   FROM documents)
        | GROUP BY word),
        |q AS (SELECT floor(ln(rk) * 1000000)::BIGINT AS x,
        |   floor(ln(n) * 1000000)::BIGINT AS y
        |  FROM v WHERE rk <= 1000),
        |a AS (SELECT count(*)::BIGINT AS n_terms,
        |   sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |   sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
        |  FROM q)
        |SELECT n_terms,
        |  CASE WHEN n_terms < 2
        |    OR (n_terms::HUGEINT * sxx - sx * sx)::DOUBLE = 0 THEN NULL
        |   ELSE (n_terms::HUGEINT * sxy - sx * sy)::DOUBLE
        |     / (n_terms::HUGEINT * sxx - sx * sx)::DOUBLE END AS slope,
        |  CASE WHEN n_terms < 2
        |    OR (n_terms::HUGEINT * sxx - sx * sx)::DOUBLE = 0 THEN NULL
        |   ELSE (sy::DOUBLE
        |      - (n_terms::HUGEINT * sxy - sx * sy)::DOUBLE
        |        / (n_terms::HUGEINT * sxx - sx * sx)::DOUBLE
        |        * sx::DOUBLE)
        |     / n_terms::DOUBLE / 1000000.0 END AS intercept
        |FROM a""".stripMargin,
    "d08_dup_clusters" -> dupClustersOracleSql,
    // clusterSafeFolds mirror: the d08 closure, a left join back to
    // the corpus (singletons rep themselves), the row-local fold hash.
    "p23_cluster_safe_folds" -> (dupClustersCte +
      s"""
         |SELECT d.doc_id,
         |  coalesce(c.cluster_rep, d.doc_id) AS cluster_rep,
         |  ${h60("'fold|' || coalesce(c.cluster_rep, d.doc_id)")} % 5
         |    AS fold
         |FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id"""
      .stripMargin),
    // exactVsLshFunnel mirror: dupClustersCte provides the LSH side
    // (minhash → bands → capped pairs → recursive closure `clus`);
    // the exact side appends d26's prefix-join chain (its committed
    // mirror verbatim, names x-prefixed) and a second recursive
    // closure over the verified pairs. Per-method attrition rollups
    // + the signed delta row, all exact BIGINT algebra.
    "p26_exact_vs_lsh_funnel" ->
      (dupClustersCte + exactPairChainCtes + funnelCommonCtes +
        funnelCountCtes("l", "pairs", "clusm") +
        funnelCountCtes("x", "xp", "xclus") + "\n" +
        funnelRowSql("exact", "x") + "\nUNION ALL\n" +
        funnelRowSql("lsh", "l") + "\nUNION ALL\n" +
        funnelDeltaSql("delta", "x", "l")),
    // exactVsLshVerifiedFunnel mirror (p27): p26's two arms plus the
    // verified third — the d03 candidate pairs filtered by the d26
    // exact word-hash Jaccard acceptance predicate (integer
    // cross-multiplied τ = 4/5 against the shared xsets), closed with
    // the same propagate+jump unroll, plus both signed delta rows.
    // Every fragment is shared with the p26/d26 mirrors by
    // construction, so the three arms cannot drift.
    "p27_verified_lsh_funnel" ->
      (dupClustersCte + exactPairChainCtes +
        s""",
           |vp AS MATERIALIZED (SELECT p.doc_a, p.doc_b FROM pairs p
           | JOIN xsets sa ON sa.doc_id = p.doc_a
           | JOIN xsets sb ON sb.doc_id = p.doc_b
           | WHERE 5 * len(list_intersect(sa.dw, sb.dw))
           |   >= 4 * (len(sa.dw) + len(sb.dw)
           |           - len(list_intersect(sa.dw, sb.dw)))),
           |vsym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM vp
           |  UNION SELECT doc_b, doc_a FROM vp),
           |vl0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab
           |  FROM vsym),
           |${closureUnrollCtes("v", ExactClosureR)}
           |vclus AS MATERIALIZED (SELECT node AS doc_id,
           |   lab AS cluster_rep FROM vl$ExactClosureR)""".stripMargin +
        funnelCommonCtes +
        funnelCountCtes("l", "pairs", "clusm") +
        funnelCountCtes("x", "xp", "xclus") +
        funnelCountCtes("v", "vp", "vclus") + "\n" +
        funnelRowSql("exact", "x") + "\nUNION ALL\n" +
        funnelRowSql("lsh_raw", "l") + "\nUNION ALL\n" +
        funnelRowSql("lsh_verified", "v") + "\nUNION ALL\n" +
        funnelDeltaSql("delta_raw", "x", "l") + "\nUNION ALL\n" +
        funnelDeltaSql("delta_verified", "x", "v")),
    // corpusDrift mirror: one (source, parity) rollup, the exact-
    // rational log ratios in mirrored double operand order, micro-nat
    // quantization, HUGEINT weighted sums, one division per half.
    "p25_corpus_drift" ->
      """WITH base AS (SELECT doc_id, source,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens
        | FROM documents),
        |cells AS (SELECT source,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS docs_a,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS docs_b,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN n_tokens ELSE 0 END)::BIGINT
        |    AS tokens_a,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN n_tokens ELSE 0 END)::BIGINT
        |    AS tokens_b
        | FROM base GROUP BY source),
        |tot AS (SELECT sum(docs_a)::BIGINT AS ta,
        |  sum(docs_b)::BIGINT AS tb, sum(tokens_a)::BIGINT AS tta,
        |  sum(tokens_b)::BIGINT AS ttb FROM cells),
        |wl AS (SELECT docs_a, docs_b, tokens_a, tokens_b,
        |  ta, tb, tta, ttb,
        |  CASE WHEN docs_a > 0 THEN floor(ln(
        |    (2.0 * docs_a::DOUBLE * tb) /
        |    (docs_a::DOUBLE * tb + docs_b::DOUBLE * ta)) * 1000000)
        |    ::BIGINT ELSE 0 END AS l1d,
        |  CASE WHEN docs_b > 0 THEN floor(ln(
        |    (2.0 * docs_b::DOUBLE * ta) /
        |    (docs_b::DOUBLE * ta + docs_a::DOUBLE * tb)) * 1000000)
        |    ::BIGINT ELSE 0 END AS l2d,
        |  CASE WHEN tokens_a > 0 THEN floor(ln(
        |    (2.0 * tokens_a::DOUBLE * ttb) /
        |    (tokens_a::DOUBLE * ttb + tokens_b::DOUBLE * tta)) * 1000000)
        |    ::BIGINT ELSE 0 END AS l1t,
        |  CASE WHEN tokens_b > 0 THEN floor(ln(
        |    (2.0 * tokens_b::DOUBLE * tta) /
        |    (tokens_b::DOUBLE * tta + tokens_a::DOUBLE * ttb)) * 1000000)
        |    ::BIGINT ELSE 0 END AS l2t
        | FROM cells, tot)
        |SELECT count(*)::BIGINT AS n_sources,
        | sum(docs_a)::BIGINT AS docs_a, sum(docs_b)::BIGINT AS docs_b,
        | sum(tokens_a)::BIGINT AS tokens_a,
        | sum(tokens_b)::BIGINT AS tokens_b,
        | (sum(docs_a * l1d)::DOUBLE / (2.0 * max(ta)) +
        |  sum(docs_b * l2d)::DOUBLE / (2.0 * max(tb))) / 1000000.0
        |   AS js_docs_nats,
        | (sum(tokens_a * l1t)::DOUBLE / (2.0 * max(tta)) +
        |  sum(tokens_b * l2t)::DOUBLE / (2.0 * max(ttb))) / 1000000.0
        |   AS js_tokens_nats
        |FROM wl""".stripMargin,
    // pruningCurve mirror: identical IEEE score (two int divisions,
    // one multiply), partition-less rank is fine oracle-side, bucket
    // and cumulative algebra in exact integers, HUGEINT window sums
    // cast back to BIGINT (§8.4).
    "p24_pruning_curve" ->
      s"""WITH w0 AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |  FROM documents),
        |t AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
        |  (len(list_distinct(w)) / len(w)) *
        |  ((len(text) - len(regexp_replace(text, '[a-z0-9 ]', '', 'g')))
        |    / len(text)) AS score
        | FROM w0),
        |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS rn, count(*) OVER () AS n,
        |  sum(n_tokens) OVER ()::BIGINT AS tt FROM t),
        |p AS (SELECT ((rn - 1) * ${Pipeline.PruneBuckets}) // n
        |    AS bucket,
        |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS bucket_tokens,
        |  min(score) AS score_floor, max(tt) AS tt
        | FROM r GROUP BY 1),
        |q AS (SELECT bucket, score_floor, n_docs, bucket_tokens,
        |  sum(n_docs) OVER wc AS dk, sum(bucket_tokens) OVER wc AS tk,
        |  tt FROM p
        | WINDOW wc AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING))
        |SELECT bucket, score_floor, n_docs, bucket_tokens,
        | dk::BIGINT AS docs_kept, tk::BIGINT AS tokens_kept,
        | tk::DOUBLE / tt AS token_frac FROM q""".stripMargin,
    // clusterSizeHistogram mirror: the d08 cluster CTE rolled up twice.
    "d18_cluster_hist" -> (dupClustersCte +
      """, sz AS (SELECT cluster_rep, count(*) AS size FROM clus
        |  GROUP BY cluster_rep)
        |SELECT size, count(*) AS n_clusters,
        |  (size * count(*))::BIGINT AS n_docs,
        |  ((size - 1) * count(*))::BIGINT AS n_removable
        |FROM sz GROUP BY size""".stripMargin),
    // Jsonl.docs mirror: the expected parse of the in-code fixture
    // inlined as VALUES (empirically pinned: Spark 4 PERMISSIVE nulls
    // ALL fields of the malformed line — the unterminated string dies
    // in tokenization, so no partial result survives).
    "j01_jsonl_docs" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, 'hello world', 'en', 'web', false),
        |  (2::BIGINT, 'guten tag', 'de', 'book', false),
        |  (3::BIGINT, 'bonjour', 'fr', NULL, false),
        |  (NULL::BIGINT, NULL, NULL, NULL, true))
        | AS t(doc_id, "text", lang, source, is_corrupt)""".stripMargin,
    "p12_corpus_report" ->
      """WITH cells AS (SELECT lang, source, count(*) AS n_docs,
        |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang, source),
        |tot AS (SELECT sum(n_docs)::BIGINT AS td,
        |  sum(n_tokens)::BIGINT AS tt FROM cells)
        |SELECT lang, source, n_docs, n_tokens,
        |  n_docs::DOUBLE / td AS share_docs,
        |  n_tokens::DOUBLE / tt AS share_tokens
        |FROM cells, tot""".stripMargin,
    // mixtureSolver mirror: same language aggregate, ⌊√⌋ weights,
    // and integer min/div algebra; HUGEINT intermediates carry the
    // same exact values, final columns CAST to BIGINT (§8.4).
    "p20_mixture_solver" ->
      """WITH avail AS (SELECT lang,
        |  sum(len(string_split(text, ' ')))::BIGINT AS avail
        | FROM documents GROUP BY lang HAVING avail > 0),
        |w AS (SELECT lang, avail,
        |  CAST(floor(sqrt(avail::DOUBLE)) AS BIGINT) AS w FROM avail),
        |tot AS (SELECT sum(w)::BIGINT AS bigw FROM w),
        |capped AS (SELECT lang, avail, w, bigw,
        |  (3 * avail * bigw) // w AS cap_n FROM w, tot),
        |n AS (SELECT min(cap_n) AS n_total FROM capped)
        |SELECT lang, avail, w AS weight,
        | CAST((n_total * w) // bigw AS BIGINT) AS planned,
        | CAST(((n_total * w) // bigw) * 1000000 // avail AS BIGINT)
        |   AS epochs_1e6,
        | cap_n = n_total AS is_binding
        |FROM capped, n""".stripMargin,
    // dupClustersShortcut converges to the SAME component-min labels,
    // so the d08 recursive-CTE oracle applies verbatim.
    "d11_dup_clusters_fast" -> dupClustersOracleSql,
    // clusterProvenance mirror: the d08 closure rolled up to one row
    // per cluster; members as a sorted '|'-joined string (arrays
    // canonicalize differently across the two readback paths).
    "d27_cluster_members" ->
      (dupClustersCte +
        """
          |SELECT cluster_rep, count(*) AS n_docs,
          | array_to_string(list_sort(list(doc_id)), '|') AS members
          |FROM clus GROUP BY cluster_rep""".stripMargin),
    // cdcChunkProfile mirror: the shared chunk CTE, then row-local
    // stats + the ordered per-chunk-md5 boundary pin.
    "d28_cdc_chunks" -> (s"WITH $cdcChunksCte\n" +
      """SELECT doc_id, n_words::BIGINT AS n_words,
        |  len(chunks)::BIGINT AS n_chunks,
        |  list_max([len(string_split(c, ' ')) FOR c IN chunks])::BIGINT
        |    AS max_chunk_words,
        |  n_words::DOUBLE / len(chunks) AS mean_chunk_words,
        |  md5(array_to_string([md5(c) FOR c IN chunks], ' '))
        |    AS chunks_md5
        |FROM ck""".stripMargin),
    // cdcDedupStats mirror: chunk explode keyed by md5, occurrence
    // aggregate, single-row chunk-store rollup.
    "d29_cdc_dedup" -> (s"WITH $cdcChunksCte,\n" +
      """ex AS (SELECT md5(c) AS ch,
        |    len(string_split(c, ' '))::BIGINT AS wlen
        |  FROM (SELECT unnest(chunks) AS c FROM ck)),
        |g AS (SELECT ch, count(*)::BIGINT AS occ, max(wlen) AS wlen
        |  FROM ex GROUP BY ch)
        |SELECT sum(occ)::BIGINT AS n_chunk_occurrences,
        |  count(*)::BIGINT AS n_distinct_chunks,
        |  sum(occ * wlen)::BIGINT AS n_words_total,
        |  sum((occ - 1) * wlen)::BIGINT AS n_words_saved,
        |  sum((occ - 1) * wlen)::BIGINT::DOUBLE
        |    / sum(occ * wlen)::BIGINT AS dedup_ratio
        |FROM g""".stripMargin),
    "d07_dedup_vs_corpus" -> {
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      minhashCte +
        s""", banded AS (SELECT doc_id,
           |  unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
           |near AS (SELECT doc_id, count(*) AS n_near FROM (
           |  SELECT DISTINCT a.doc_id, c.doc_id AS corpus_doc
           |  FROM banded a JOIN banded c ON a.bk = c.bk
           |  WHERE a.doc_id % 5 = 0 AND c.doc_id % 5 <> 0)
           | GROUP BY doc_id)
           |SELECT d.doc_id,
           | EXISTS (SELECT 1 FROM documents c
           |   WHERE c.doc_id % 5 <> 0 AND md5(c.text) = md5(d.text))
           |   AS exact_dup,
           | CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near
           |FROM documents d LEFT JOIN near n ON d.doc_id = n.doc_id
           |WHERE d.doc_id % 5 = 0""".stripMargin
    },
    // Mirrors embeddingNearDups' maxBlock=10000 hot-label guard: labels
    // larger than the cap are skipped entirely on the Spark side, so the
    // oracle drops them too (same pattern as the d05/d09 cap mirrors).
    "d06_embedding_neardup" ->
      (embCte +
        s""", keep AS (SELECT label FROM embeddings
           |  GROUP BY label HAVING count(*) <= 10000)
           |SELECT * FROM (
           | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  $pairDot / (a.nrm * b.nrm) AS cos
           | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
           | WHERE a.label IN (SELECT label FROM keep))
           |WHERE cos >= 0.3""".stripMargin),
    "s01_knn_brute" ->
      (embCte +
        s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
           |scored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id)
           |SELECT q_id, nbr_id, sim, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
           |WHERE "rank" <= 5""".stripMargin),
    "s02_knn_bucketed" ->
      (embCte +
        s""", nb AS (SELECT *,
           |  (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END) +
           |  (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END) +
           |  (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END) +
           |  (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS bucket FROM n),
           |q AS (SELECT vec_id AS q_id, v, nrm, bucket FROM nb
           |  WHERE vec_id < 10),
           |scored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm, bucket FROM q) a
           | JOIN nb b ON b.bucket = a.bucket AND b.vec_id <> a.q_id)
           |SELECT q_id, nbr_id, sim, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
           |WHERE "rank" <= 3""".stripMargin),
    // Mirrors knnIvfDeterministic exactly: the shared ivfCte (hash
    // seeds + one Lloyd round + refined argmax assignment, 4 probed
    // cells per query), k=3 final top-k.
    "s03_knn_ivf" ->
      (embCte +
        s""", $ivfCte,
           |scored AS (SELECT p.q_id, b.vec_id AS nbr_id,
           |  ${foldSum("[p.qv[i] * b.v[i] FOR i IN range(1, len(p.qv)+1)]")}
           |   / (p.qnrm * b.nrm) AS sim
           | FROM probes p JOIN asg b ON b.cell = p.cell
           |   AND b.vec_id <> p.q_id)
           |SELECT q_id, nbr_id, sim, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
           |WHERE "rank" <= 3""".stripMargin),
    // Mirrors filteredIvfSearch: the shared ivfCte with the label
    // predicate (target = q_id % 10) as a conjunct of the candidate
    // join — labels come from `n` since the shared asg projects them
    // away; k=5 final top-k.
    "s39_filtered_ivf" ->
      (embCte +
        s""", $ivfCte,
           |fsc AS (SELECT p.q_id, p.q_id % 10 AS target_label,
           |  b.vec_id AS nbr_id,
           |  ${foldSum("[p.qv[i] * b.v[i] FOR i IN range(1, len(p.qv)+1)]")}
           |   / (p.qnrm * b.nrm) AS sim
           | FROM probes p JOIN asg b ON b.cell = p.cell
           |   AND b.vec_id <> p.q_id
           | JOIN n nb ON nb.vec_id = b.vec_id
           |   AND nb.label = p.q_id % 10)
           |SELECT q_id, target_label, nbr_id, sim, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS "rank" FROM fsc)
           |WHERE "rank" <= 5""".stripMargin),
    // Mirrors filteredSearchRecall: exact filtered truth (brute with
    // the predicate), the pre-filter arm (s39's chain), the
    // post-filter arm (unfiltered top-(3·5) then predicate then
    // re-rank ≤ 5), and one (n_found, n_hits, recall) row per arm.
    "s40_filtered_recall" -> (embCte + filteredRecallTail),
    // The dial on CLUSTERED geometry (s30/s35/s38 discipline): cells
    // align with the gm clusters so the pre-filter arm's probe recall
    // rises, while post-filter starvation is selectivity-bound and
    // does not — the gap is strategy-inherent, not index noise.
    "s41_clustered_filtered" -> (gmCte + filteredRecallTail),
    // Mirrors filteredStrategyCurve: the shared candidate pass fanned
    // over the label ≤ {0,1,4} threshold grid, per-threshold truth /
    // pre / post top-k, and grid-complete summary rows (coalesce 0
    // keeps an arm's row when no survivor exists at a selectivity).
    "s42_filtered_curve" ->
      (embCte +
        s""", $ivfCte,
           |cg AS (SELECT unnest([0, 1, 4]) AS thr),
           |csc AS (SELECT p.q_id, nb.label, b.vec_id AS nbr_id,
           |  ${foldSum("[p.qv[i] * b.v[i] FOR i IN range(1, len(p.qv)+1)]")}
           |   / (p.qnrm * b.nrm) AS sim
           | FROM probes p JOIN asg b ON b.cell = p.cell
           |   AND b.vec_id <> p.q_id
           | JOIN n nb ON nb.vec_id = b.vec_id),
           |bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm
           |  FROM n WHERE vec_id < 10),
           |bsc AS (SELECT a.q_id, b.label, b.vec_id AS nbr_id,
           |  ${foldSum("[a.qv[i] * b.v[i] FOR i IN range(1, len(a.qv)+1)]")}
           |   / (a.qnrm * b.nrm) AS sim
           | FROM bq a JOIN n b ON b.vec_id <> a.q_id),
           |tr AS (SELECT thr, q_id, nbr_id FROM (
           |  SELECT g.thr, s.q_id, s.nbr_id, row_number() OVER (
           |    PARTITION BY g.thr, s.q_id
           |    ORDER BY s.sim DESC, s.nbr_id) AS rk
           |  FROM bsc s JOIN cg g ON s.label <= g.thr) WHERE rk <= 5),
           |pre AS (SELECT thr, q_id, nbr_id FROM (
           |  SELECT g.thr, s.q_id, s.nbr_id, row_number() OVER (
           |    PARTITION BY g.thr, s.q_id
           |    ORDER BY s.sim DESC, s.nbr_id) AS rk
           |  FROM csc s JOIN cg g ON s.label <= g.thr) WHERE rk <= 5),
           |u15 AS (SELECT q_id, label, nbr_id, sim FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY sim DESC, nbr_id) AS rk FROM csc)
           |  WHERE rk <= 15),
           |post AS (SELECT thr, q_id, nbr_id FROM (
           |  SELECT g.thr, s.q_id, s.nbr_id, row_number() OVER (
           |    PARTITION BY g.thr, s.q_id
           |    ORDER BY s.sim DESC, s.nbr_id) AS rk
           |  FROM u15 s JOIN cg g ON s.label <= g.thr) WHERE rk <= 5),
           |ktot AS (SELECT thr, count(*)::BIGINT AS kt FROM tr
           |  GROUP BY thr),
           |prf AS (SELECT thr, count(*)::BIGINT AS nf FROM pre
           |  GROUP BY thr),
           |prh AS (SELECT thr, count(*)::BIGINT AS nh FROM tr
           |  JOIN pre USING (thr, q_id, nbr_id) GROUP BY thr),
           |pof AS (SELECT thr, count(*)::BIGINT AS nf FROM post
           |  GROUP BY thr),
           |poh AS (SELECT thr, count(*)::BIGINT AS nh FROM tr
           |  JOIN post USING (thr, q_id, nbr_id) GROUP BY thr)
           |SELECT (g.thr + 1)::BIGINT AS sel_labels,
           | 'prefilter' AS variant,
           | coalesce(prf.nf, 0)::BIGINT AS n_found,
           | coalesce(prh.nh, 0)::BIGINT AS n_hits,
           | coalesce(prh.nh, 0)::DOUBLE / ktot.kt::DOUBLE AS recall
           |FROM cg g LEFT JOIN ktot ON ktot.thr = g.thr
           | LEFT JOIN prf ON prf.thr = g.thr
           | LEFT JOIN prh ON prh.thr = g.thr
           |UNION ALL
           |SELECT (g.thr + 1)::BIGINT, 'postfilter',
           | coalesce(pof.nf, 0)::BIGINT, coalesce(poh.nh, 0)::BIGINT,
           | coalesce(poh.nh, 0)::DOUBLE / ktot.kt::DOUBLE
           |FROM cg g LEFT JOIN ktot ON ktot.thr = g.thr
           | LEFT JOIN pof ON pof.thr = g.thr
           | LEFT JOIN poh ON poh.thr = g.thr""".stripMargin),
    // Mirrors pqCodes: the shared refined codebook (pqCbCte — seed
    // sampling + one fixed-point mean round), per-subspace squared-L2
    // argmin with lowest-code tie-break; 8 subspaces of width 8 over
    // dim-64 vectors.
    "s05_pq_codes" ->
      (embCte +
        s""", $pqCbCte,
           |dist AS (SELECT vec_id, s, code,
           |   list_reduce(list_prepend(0.0,
           |     [(va[i]-vb[i])*(va[i]-vb[i])
           |      FOR i IN range(1, len(va)+1)]),
           |     (acc, x) -> acc + x) AS d
           |  FROM sub)
           |SELECT vec_id, s, code FROM (
           | SELECT vec_id, s, code, row_number() OVER (
           |   PARTITION BY vec_id, s ORDER BY d, code) AS rk FROM dist)
           |WHERE rk = 1""".stripMargin),
    // Mirrors knnPqAdc: same codebook/codes as s05; per query a
    // (subspace, code) dot-product table; approximate dot = LEFT FOLD
    // over the s-ASCENDING lookups (list(... ORDER BY s) + list_reduce
    // = the Spark side's fixed summation order), then top-3.
    "s06_pq_adc" ->
      (embCte +
        s""", $pqCbCte,
           |codes AS (SELECT vec_id, s, code FROM (
           |  SELECT vec_id, s, code, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY
           |    list_reduce(list_prepend(0.0,
           |      [(va[i]-vb[i])*(va[i]-vb[i])
           |       FOR i IN range(1, len(va)+1)]),
           |      (acc, x) -> acc + x), code) AS rk FROM sub)
           |  WHERE rk = 1),
           |qt AS (SELECT vec_id AS q_id, s, code,
           |   list_reduce(list_prepend(0.0,
           |     [va[i]*vb[i] FOR i IN range(1, len(va)+1)]),
           |     (acc, x) -> acc + x) AS pdot
           |  FROM sub WHERE vec_id < 10),
           |scored AS (SELECT qt.q_id, c.vec_id AS nbr_id,
           |   list_reduce(list_prepend(0.0, list(qt.pdot ORDER BY qt.s)),
           |     (acc, x) -> acc + x) AS approx_dot
           |  FROM codes c JOIN qt ON qt.s = c.s AND qt.code = c.code
           |  WHERE c.vec_id <> qt.q_id
           |  GROUP BY qt.q_id, c.vec_id)
           |SELECT q_id, nbr_id, approx_dot, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY approx_dot DESC, nbr_id) AS "rank" FROM scored)
           |WHERE "rank" <= 3""".stripMargin),
    // Mirrors knnIvfPq: the shared ivfCte (cells, refined assignment,
    // probes) composed with s05/s06's codebook+codes+query-table CTEs;
    // each candidate in a probed cell scores as the s-ASCENDING
    // ordered-list fold of its m lookups (the Spark side's fixed
    // summation order), then top-3. A vector lives in exactly ONE
    // cell and probes explodes distinct cells, so no pair dedup is
    // needed before the group.
    "s16_knn_ivfpq" ->
      (embCte +
        s""", $ivfCte,
           |$pqCbCte,
           |codes AS (SELECT vec_id, s, code FROM (
           |  SELECT vec_id, s, code, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY
           |    list_reduce(list_prepend(0.0,
           |      [(va[i]-vb[i])*(va[i]-vb[i])
           |       FOR i IN range(1, len(va)+1)]),
           |      (acc, x) -> acc + x), code) AS rk FROM sub)
           |  WHERE rk = 1),
           |qt AS (SELECT vec_id AS q_id, s, code,
           |   list_reduce(list_prepend(0.0,
           |     [va[i]*vb[i] FOR i IN range(1, len(va)+1)]),
           |     (acc, x) -> acc + x) AS pdot
           |  FROM sub WHERE vec_id < 10),
           |scored AS (SELECT p.q_id, b.vec_id AS nbr_id,
           |   list_reduce(list_prepend(0.0, list(qt.pdot ORDER BY qt.s)),
           |     (acc, x) -> acc + x) AS approx_dot
           |  FROM probes p
           |  JOIN asg b ON b.cell = p.cell AND b.vec_id <> p.q_id
           |  JOIN codes c2 ON c2.vec_id = b.vec_id
           |  JOIN qt ON qt.q_id = p.q_id AND qt.s = c2.s
           |    AND qt.code = c2.code
           |  GROUP BY p.q_id, b.vec_id)
           |SELECT q_id, nbr_id, approx_dot, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY approx_dot DESC, nbr_id) AS "rank" FROM scored)
           |WHERE "rank" <= 3""".stripMargin),
    // Mirrors knnIvfPqResidual: shared ivfCte + the residual chain
    // (ivfPqResCte: residual-trained codebook, residual codes, raw-
    // query ADC table, exact centroid dot), centdot + s-ASCENDING
    // fold, then top-3. centdot is in pscored's GROUP BY — constant
    // within a (q_id, nbr_id) group since a vector lives in ONE cell.
    "s18_knn_ivfpq_res" -> ivfPqResSearchSql,
    // s51 = the identical search answered from parquet-persisted
    // index artifacts: a LOSSLESS round trip by contract, so the
    // oracle is s18's mirror, shared by reference (zero drift
    // possible between the gate pair).
    "s51_ivfpq_index_roundtrip" -> ivfPqResSearchSql,
    // knnIvfPqResidualIncremental mirror (s52): the s18 chain with the
    // BUILD half (centroid seeds, Lloyd round, residual codebook,
    // codes) on the OLD corpus only (embCteWhere), queries from nall,
    // and the insert batch delta-encoded with the old-trained c/cb
    // (dasg/dres/dcodes — no retraining) into the merged masg/mcodes
    // index the search scores against.
    "s52_ivfpq_incremental" -> {
      val deltaCtes =
        s"""
           |dasg AS (SELECT vec_id, v, cell FROM (
           |  SELECT a.vec_id, a.v, c.cell,
           |   row_number() OVER (PARTITION BY a.vec_id
           |     ORDER BY $centSim DESC, c.cell) AS rk
           |  FROM nall a CROSS JOIN c WHERE a.vec_id % 10 = 9)
           |  WHERE rk = 1),
           |dres AS (SELECT d.vec_id, d.cell,
           |   [d.v[i] - c.cv[i] FOR i IN range(1, len(d.v)+1)] AS rv
           |  FROM dasg d JOIN c ON c.cell = d.cell),
           |dsub AS (SELECT a.vec_id, t.s, cb.code,
           |   list_slice(a.rv, t.s*8+1, t.s*8+8) AS va,
           |   list_slice(cb.cv, t.s*8+1, t.s*8+8) AS vb
           |  FROM dres a CROSS JOIN generate_series(0, 7) t(s)
           |  CROSS JOIN cb),
           |dcodes AS (SELECT vec_id, s, code FROM (
           |  SELECT vec_id, s, code, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY
           |    list_reduce(list_prepend(0.0,
           |      [(va[i]-vb[i])*(va[i]-vb[i])
           |       FOR i IN range(1, len(va)+1)]),
           |      (acc, x) -> acc + x), code) AS rk FROM dsub)
           |  WHERE rk = 1),
           |masg AS (SELECT vec_id, cell FROM asg
           |  UNION ALL SELECT vec_id, cell FROM dasg),
           |mcodes AS (SELECT vec_id, s, code FROM codes
           |  UNION ALL SELECT vec_id, s, code FROM dcodes),"""
          .stripMargin
      embCteWhere("vec_id % 10 <> 9") + nAllCte +
        s""", ${ivfCteOver("nall")},
           |${ivfPqResCteOver("nall", "masg", "mcodes", deltaCtes)}
           |SELECT q_id, nbr_id, approx_dot, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY approx_dot DESC, nbr_id) AS "rank" FROM pscored)
           |WHERE "rank" <= 3""".stripMargin
    },
    // Mirrors knnIvfPqRerank: the s18 chain cut at k' = 9, candidates
    // rescored with the EXACT cosine (the brute expression), top-3.
    "s20_knn_rerank" ->
      (embCte +
        s""", $ivfCte,
           |$ivfPqResCte,
           |short AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY approx_dot DESC, nbr_id) AS rk FROM pscored)
           | WHERE rk <= 9),
           |rescored AS (SELECT s.q_id, s.nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM short s JOIN n a ON a.vec_id = s.q_id
           | JOIN n b ON b.vec_id = s.nbr_id)
           |SELECT q_id, nbr_id, sim, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS "rank" FROM rescored)
           |WHERE "rank" <= 3""".stripMargin),
    "s04_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_reduce(list_prepend(0.0, [abs(x) FOR x IN v]),
        |    (a, b) -> greatest(a, b)) AS scale FROM e)
        |SELECT vec_id, scale,
        | array_to_string([CASE WHEN scale = 0 THEN 0
        |   ELSE floor(x * 127.0 / scale + 0.5)::BIGINT END FOR x IN v],
        |   ',') AS q_csv
        |FROM s""".stripMargin,
    // knnSq8 mirror: s04's scale + round-trip reconstruction, then
    // the s01 brute scorer over reconstructed candidates vs exact
    // queries (asymmetric SQ search).
    "s26_knn_sq8" ->
      (embCte +
        s""", sq AS (SELECT vec_id, v,
           |  list_reduce(list_prepend(0.0, [abs(x) FOR x IN v]),
           |    (a, b) -> greatest(a, b)) AS scale FROM n),
           |r AS (SELECT vec_id,
           |  [CASE WHEN scale = 0 THEN 0.0
           |    ELSE floor(x * 127.0 / scale + 0.5) * scale / 127.0 END
           |   FOR x IN v] AS rv FROM sq),
           |rn AS (SELECT vec_id, rv,
           |  sqrt(${foldSum("[x*x FOR x IN rv]")}) AS rnrm FROM r),
           |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n
           |  WHERE vec_id < 10),
           |scored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  ${foldSum("[a.qv[i] * b.rv[i] FOR i IN range(1, len(a.qv)+1)]")}
           |    / (a.qnrm * b.rnrm) AS sim
           | FROM q a CROSS JOIN rn b WHERE b.vec_id <> a.q_id)
           |SELECT q_id, nbr_id, sim, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
           |WHERE "rank" <= 3""".stripMargin),
    // annRecallSq8 mirror: the s26 set ∩ the brute set, per query.
    "s27_sq8_recall" ->
      (embCte +
        s""", sq AS (SELECT vec_id, v,
           |  list_reduce(list_prepend(0.0, [abs(x) FOR x IN v]),
           |    (a, b) -> greatest(a, b)) AS scale FROM n),
           |r AS (SELECT vec_id,
           |  [CASE WHEN scale = 0 THEN 0.0
           |    ELSE floor(x * 127.0 / scale + 0.5) * scale / 127.0 END
           |   FOR x IN v] AS rv FROM sq),
           |rn AS (SELECT vec_id, rv,
           |  sqrt(${foldSum("[x*x FOR x IN rv]")}) AS rnrm FROM r),
           |q AS (SELECT vec_id AS q_id, v AS qv, qnrm FROM (
           |  SELECT vec_id, v, nrm AS qnrm FROM n WHERE vec_id < 10)),
           |bscored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, qv AS v, qnrm AS nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
           |brute AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM bscored)
           | WHERE rk <= 3),
           |ascored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  ${foldSum("[a.qv[i] * b.rv[i] FOR i IN range(1, len(a.qv)+1)]")}
           |    / (a.qnrm * b.rnrm) AS sim
           | FROM q a CROSS JOIN rn b WHERE b.vec_id <> a.q_id),
           |sq8 AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM ascored)
           | WHERE rk <= 3)
           |SELECT b.q_id AS q_id, count(i.nbr_id) AS n_hit,
           | count(i.nbr_id)::DOUBLE / count(*) AS recall
           |FROM brute b LEFT JOIN sq8 i
           | ON i.q_id = b.q_id AND i.nbr_id = b.nbr_id
           |GROUP BY b.q_id""".stripMargin),
    "t01_langid" -> {
      val profs = graft.operators.TextAnalysis.langProfiles
      val scores = profs.map { case (lang, stops) =>
        s" len(list_filter(w, x -> x IN (${stops.map(s => s"'$s'").mkString(", ")}))) / len(w) AS s_$lang"
      }.mkString(",\n")
      val langs = profs.map(_._1)
      val cases = langs.init.zipWithIndex.map { case (lang, i) =>
        val others = langs.drop(i + 1).map(l => s"s_$l")
        val maxOthers =
          if (others.size == 1) others.head
          else s"greatest(${others.mkString(", ")})"
        s"WHEN s_$lang >= $maxOthers THEN '$lang'"
      }.mkString(" ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |s AS (SELECT doc_id,
         |$scores
         | FROM w)
         |SELECT *, CASE $cases ELSE '${langs.last}' END AS lang_pred
         |FROM s""".stripMargin
    },
    "t02_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |  FROM documents)
        |SELECT doc_id, len(text) AS n_chars_calc, len(w) AS n_tokens,
        | list_sum([len(x) FOR x IN w])::BIGINT / len(w) AS avg_wlen,
        | len(list_filter(w, x -> x IN ('the', 'a'))) / len(w)
        |   AS stopword_ratio,
        | len(list_distinct(w)) / len(w) AS uniq_ratio,
        | (len(text) - len(regexp_replace(text, '[a-z0-9 ]', '', 'g')))
        |   / len(text) AS alnum_ratio,
        | (len(w) BETWEEN 30 AND 1000)
        |   AND (len(list_distinct(w)) / len(w) >= 0.05) AS quality_ok
        |FROM t""".stripMargin,
    "t03_token_counts" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |  FROM documents)
        |SELECT doc_id, len(w) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S')) AS re_tokens,
        | list_sum([ceil(len(x) / 4.0)::BIGINT FOR x IN w])::BIGINT
        |   AS subword_est
        |FROM t""".stripMargin,
    "t04_fingerprints" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |h AS (SELECT doc_id, w,
         |  [${h60("x")} % 1000000007 FOR x IN w] AS hs FROM w)
         |SELECT doc_id, md5(array_to_string(w, ' ')) AS fp_md5,
         | list_reduce(list_prepend(0::BIGINT, hs),
         |   (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_roll
         |FROM h""".stripMargin,
    "m01_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        | md5(text) AS content_md5,
        | lower(hex(encode(substr(text, 1, 8)))) AS head_hex
        |FROM documents""".stripMargin,
    "m02_decode_stub" ->
      s"""WITH h AS (SELECT doc_id, octet_length(encode(text)) AS blen,
         |  ${h60("text")} AS h FROM documents)
         |SELECT doc_id, blen AS byte_len, 64 + h % 193 AS width,
         | 64 + (h // 193) % 129 AS height, 1 + blen % 7 AS n_frames
         |FROM h""".stripMargin,
    "m03_frame_sample" ->
      s"""WITH h AS (SELECT doc_id, octet_length(encode(text)) AS blen,
         |  ${h60("text")} AS h FROM documents),
         |meta AS (SELECT doc_id, 64 + h % 193 AS width,
         |  64 + (h // 193) % 129 AS height, 1 + blen % 7 AS n_frames
         | FROM h)
         |SELECT doc_id, width, height,
         | unnest(range(0, n_frames, 2)) AS frame_idx
         |FROM meta""".stripMargin,
    "st01_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        | time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
        |   AS window_end,
        | count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "st02_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |    AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)),
        |g AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id, min(ts_us) AS session_start,
        | max(ts_us) AS session_end, count(*) AS n_events
        |FROM g GROUP BY user_id, session_id""".stripMargin,
    // sessionWindowStats mirror: Spark's session_window MERGES two
    // windows when the next event's start <= the current session end
    // (UpdatingSessionsIterator), so events exactly gap apart still
    // merge — a new session opens only at diff > gap, the SAME strict
    // boundary as st02's gaps-and-islands. Only the reported end
    // differs: last-event + gap (the eviction point).
    "st10_session_window" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |    AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)),
        |g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(ts_us) AS session_start,
        | max(ts_us) + 1800000000 AS session_end, count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,
    "q24_lag_lead" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | lag(o_orderkey, 1) OVER w AS prev_orderkey,
        | lead(o_orderkey, 1) OVER w AS next_orderkey,
        | CAST(date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q25_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        | row_number() OVER w AS order_seq,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q26_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,
    "q27_pivot" ->
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN l_linestatus = 'F'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        | CAST(sum(CASE WHEN l_linestatus = 'O'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q28_sorted_concat" ->
      """SELECT o_orderpriority,
        | array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
        |   AS statuses,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q29_median" ->
      """SELECT l_returnflag, median(l_quantity) AS qty_median,
        | CAST(min(l_quantity) AS BIGINT) AS qty_min,
        | CAST(max(l_quantity) AS BIGINT) AS qty_max
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q30_null_semantics" ->
      """WITH t AS (SELECT o_orderpriority, nullif(o_orderstatus, 'P') AS s
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n_rows,
        | count(s) AS n_nonnull,
        | count(DISTINCT s) AS n_distinct_nonnull,
        | count(CASE WHEN s IS NULL THEN 1 END) AS n_nulled,
        | max(coalesce(s, '(none)')) AS max_coalesced,
        | min(s) AS min_nonnull
        |FROM t GROUP BY o_orderpriority""".stripMargin,
    "q31_full_outer" ->
      """WITH u AS (SELECT o_custkey, count(*) AS n_urgent FROM orders
        |  WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |l AS (SELECT o_custkey, count(*) AS n_low FROM orders
        |  WHERE o_orderpriority = '5-LOW' GROUP BY 1)
        |SELECT coalesce(u.o_custkey, l.o_custkey) AS o_custkey,
        | coalesce(n_urgent, 0) AS n_urgent, coalesce(n_low, 0) AS n_low
        |FROM u FULL OUTER JOIN l ON u.o_custkey = l.o_custkey""".stripMargin,
    "q32_rank_fns" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(dense_rank() OVER w AS BIGINT) AS spend_rank,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)""".stripMargin,
    "q33_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        | date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |   AS order_day,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey
        |   ORDER BY date_diff('day', DATE '1990-01-01',
        |     CAST(o_orderdate AS DATE))
        |   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS spend_30d
        |FROM orders""".stripMargin,
    "q34_bookends" ->
      """SELECT o_custkey, o_orderkey,
        | first_value(o_orderkey) OVER w AS first_orderkey,
        | nth_value(o_orderkey, 2) OVER w AS second_orderkey,
        | last_value(o_orderkey) OVER w AS last_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    // Mirrors AsOf.asofJoin's union+last_value(IGNORE NULLS) form with
    // the identical (ts_us, _side DESC, event_id) tie order, so the
    // strictly-before semantics match row for row.
    "a01_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |u AS (
        | SELECT event_id, user_id, ts_us, 1 AS _side FROM e
        |  WHERE event_type = 'click'
        | UNION ALL
        | SELECT event_id, user_id, ts_us, 0 AS _side FROM e
        |  WHERE event_type = 'purchase'),
        |f AS (SELECT *,
        |  last_value(CASE WHEN _side = 0 THEN event_id END IGNORE NULLS)
        |    OVER w AS asof_event_id,
        |  last_value(CASE WHEN _side = 0 THEN ts_us END IGNORE NULLS)
        |    OVER w AS asof_ts_us
        | FROM u WINDOW w AS (PARTITION BY user_id
        |   ORDER BY ts_us, _side DESC, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts_us, asof_event_id, asof_ts_us,
        | ts_us - asof_ts_us AS asof_gap_us
        |FROM f WHERE _side = 1""".stripMargin,
    // Null-aware anti-join mirror: DuckDB evaluates the same
    // three-valued NOT IN logic — the with-null branch must be 0.
    "q40_null_aware_antijoin" ->
      """SELECT
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey NOT IN
        |   (SELECT c_custkey FROM customer WHERE c_acctbal < 0))
        |   AS not_in_clean,
        | (SELECT count(*) FROM orders
        |  WHERE o_custkey NOT IN
        |   (SELECT nullif(c_custkey, c_custkey) FROM customer
        |    WHERE c_acctbal < 0
        |    UNION ALL SELECT NULL))
        |   AS not_in_with_null,
        | (SELECT count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |   WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0))
        |   AS not_exists""".stripMargin,
    // eventFunnel mirror: the same three chained min aggregates with
    // the strictly-after predicates and left-join stage rollup.
    "a03_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        | FROM events),
        |t1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
        | WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us
        | FROM e JOIN t1 ON e.user_id = t1.user_id
        | WHERE e.event_type = 'click' AND e.ts_us > t1.t1_us
        | GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us
        | FROM e JOIN t2 ON e.user_id = t2.user_id
        | WHERE e.event_type = 'purchase' AND e.ts_us > t2.t2_us
        | GROUP BY e.user_id)
        |SELECT t1.user_id, t1_us, t2_us, t3_us,
        | CAST(1 + (t2_us IS NOT NULL)::INT + (t3_us IS NOT NULL)::INT
        |   AS BIGINT) AS stage
        |FROM t1
        |LEFT JOIN t2 ON t1.user_id = t2.user_id
        |LEFT JOIN t3 ON t1.user_id = t3.user_id""".stripMargin,
    // rfmSegments mirror: per-user rollup (exact cents), corpus-max
    // anchor, three ranked quantile grades (ties on user_id), the
    // same ((rn−1)·5)//n + 1 integer assignment.
    "a05_rfm_segments" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |pu AS (SELECT user_id, max(ts_us) AS last_ts,
        |  count(*)::BIGINT AS frequency,
        |  sum(floor(value * 100)::BIGINT)::BIGINT AS monetary_cents
        | FROM e GROUP BY user_id),
        |t0 AS (SELECT max(ts_us) AS t0 FROM e),
        |r AS (SELECT user_id,
        |  (t0.t0 - last_ts) // ${AsOf.DayUs} AS recency_days,
        |  frequency, monetary_cents FROM pu, t0),
        |n AS (SELECT count(*)::BIGINT AS n FROM r),
        |rq AS (SELECT user_id, ((row_number() OVER (
        |    ORDER BY recency_days, user_id) - 1)
        |    * ${AsOf.RfmQuantiles}) // n.n + 1 AS r_q FROM r, n),
        |fq AS (SELECT user_id, ((row_number() OVER (
        |    ORDER BY frequency DESC, user_id) - 1)
        |    * ${AsOf.RfmQuantiles}) // n.n + 1 AS f_q FROM r, n),
        |mq AS (SELECT user_id, ((row_number() OVER (
        |    ORDER BY monetary_cents DESC, user_id) - 1)
        |    * ${AsOf.RfmQuantiles}) // n.n + 1 AS m_q FROM r, n)
        |SELECT r.user_id, recency_days, frequency, monetary_cents,
        | r_q, f_q, m_q, r_q * 100 + f_q * 10 + m_q AS rfm_code
        |FROM r JOIN rq USING (user_id) JOIN fq USING (user_id)
        | JOIN mq USING (user_id)""".stripMargin,
    // cohortRetention mirror: epoch-µs integer week buckets (// is
    // floor-div; epochs are positive so it equals Spark's div), the
    // same min-week cohort, distinct-activity cells, size join.
    "a04_cohort_retention" ->
      s"""WITH e AS (SELECT user_id,
        |  epoch_us(ts) // ${AsOf.WeekUs} AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM e
        |  GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, wk FROM e),
        |cell AS (SELECT c.cohort_week, a.wk - c.cohort_week AS age_weeks,
        |  count(*) AS n_active
        | FROM a JOIN c USING (user_id) GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, count(*) AS cohort_size FROM c
        |  GROUP BY cohort_week)
        |SELECT cell.cohort_week, cell.age_weeks, cell.n_active,
        | sz.cohort_size,
        | cell.n_active::DOUBLE / sz.cohort_size AS retention
        |FROM cell JOIN sz USING (cohort_week)""".stripMargin,
    // funnelStateBatch mirror: the a03 funnel CTEs widened to ALL
    // users (stage-0 keys present) with the −1 state sentinels.
    // windowTopKBatch mirror: one (bucket, type) count, the per-
    // window (n DESC, type) rank, top-3.
    "st15_window_topk" ->
      """WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts)
        |   AS window_start, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n, "rank" FROM (
        | SELECT *, row_number() OVER (PARTITION BY window_start
        |   ORDER BY n DESC, event_type) AS "rank" FROM c)
        |WHERE "rank" <= 3""".stripMargin,
    "st14_funnel_state" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        | FROM events),
        |t1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
        | WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts_us) AS t2_us
        | FROM e JOIN t1 ON e.user_id = t1.user_id
        | WHERE e.event_type = 'click' AND e.ts_us > t1.t1_us
        | GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts_us) AS t3_us
        | FROM e JOIN t2 ON e.user_id = t2.user_id
        | WHERE e.event_type = 'purchase' AND e.ts_us > t2.t2_us
        | GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id,
        | CAST(CASE WHEN t1_us IS NULL THEN 0 ELSE
        |   1 + (t2_us IS NOT NULL)::INT + (t3_us IS NOT NULL)::INT
        |  END AS BIGINT) AS stage,
        | coalesce(t1_us, -1) AS t1_us,
        | coalesce(t2_us, -1) AS t2_us,
        | coalesce(t3_us, -1) AS t3_us
        |FROM u
        |LEFT JOIN t1 ON u.user_id = t1.user_id
        |LEFT JOIN t2 ON u.user_id = t2.user_id
        |LEFT JOIN t3 ON u.user_id = t3.user_id""".stripMargin,
    "a02_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM e
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT user_id, ts_us AS b_ts FROM e
        |  WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us,
        | CAST(count(b.b_ts) AS BIGINT) AS n_in_window
        |FROM p LEFT JOIN b ON b.user_id = p.user_id
        | AND b.b_ts >= p.ts_us - 3600000000 AND b.b_ts < p.ts_us
        |GROUP BY p.event_id, p.user_id, p.ts_us""".stripMargin,
    // Epoch-aligned sliding windows: with duration = 2×slide every
    // event lands in exactly the two windows starting at
    // floor(t/slide)·slide and one slide earlier — the same window
    // set Spark's window(event_time, duration, slide) generates.
    "st03_sliding_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |w AS (SELECT user_id,
        |  unnest([(t // 1800000000) * 1800000000,
        |          (t // 1800000000) * 1800000000 - 1800000000]) AS ws
        | FROM e)
        |SELECT make_timestamp(ws) AS window_start,
        | make_timestamp(ws + 3600000000) AS window_end,
        | count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM w GROUP BY 1, 2""".stripMargin,
    // Inner interval join: purchase probes × same-user clicks in the
    // preceding hour. Watermarks are no-ops in batch, so the oracle is
    // the plain range-predicate join.
    "st04_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
        |  event_type FROM events),
        |p AS (SELECT event_id AS probe_id, user_id, t AS pt FROM e
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT event_id AS build_id, user_id AS b_user, t AS bt
        |  FROM e WHERE event_type = 'click')
        |SELECT probe_id, p.user_id, make_timestamp(pt) AS probe_time,
        | build_id, make_timestamp(bt) AS build_time
        |FROM p JOIN b ON b.b_user = p.user_id
        | AND bt >= pt - 3600000000 AND bt < pt""".stripMargin,
    // st04's oracle with LEFT JOIN: unmatched probes null-padded
    // (watermarks are no-ops in batch).
    "st05_interval_join_outer" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t,
        |  event_type FROM events),
        |p AS (SELECT event_id AS probe_id, user_id, t AS pt FROM e
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT event_id AS build_id, user_id AS b_user, t AS bt
        |  FROM e WHERE event_type = 'click')
        |SELECT probe_id, p.user_id, make_timestamp(pt) AS probe_time,
        | build_id, make_timestamp(bt) AS build_time
        |FROM p LEFT JOIN b ON b.b_user = p.user_id
        | AND bt >= pt - 3600000000 AND bt < pt""".stripMargin,
    "p03_stratified_sample" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |  ${h60("md5('sample|' || text)")} % 100 AS bucket
         | FROM documents)
         |SELECT doc_id, lang FROM b
         |WHERE bucket < (CASE WHEN lang = 'en' THEN 50 ELSE 100 END)""".stripMargin,
    "p04_token_budget" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |  len(string_split(text, ' '))::BIGINT AS n_tokens,
         |  ${h60("md5(text)")} AS ord FROM documents),
         |w AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |   PARTITION BY lang ORDER BY ord, doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS tokens_before FROM d)
         |SELECT doc_id, lang, n_tokens FROM w
         |WHERE tokens_before < (CASE WHEN lang = 'en' THEN 5000
         |  WHEN lang = 'de' THEN 1500 ELSE 9223372036854775807 END)""".stripMargin,
    // Rational idf (N+1)/(df+1) — same ranking as the log form, but
    // bit-deterministic across engines (no libm ln in the score).
    "t09_tfidf_terms" ->
      """WITH tf AS (SELECT doc_id, x.word, count(*) AS tf
        |  FROM documents, unnest(string_split(text, ' ')) x(word)
        |  GROUP BY doc_id, x.word),
        |df AS (SELECT word, count(*) AS df FROM (
        |   SELECT DISTINCT doc_id, x.word
        |   FROM documents, unnest(string_split(text, ' ')) x(word))
        |  GROUP BY word HAVING count(*) >= 3),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.word,
        |   tf.tf * (n.n_docs + 1.0) / (df.df + 1.0) AS tfidf
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
        |SELECT doc_id, word, tfidf, "rank" FROM (
        | SELECT *, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY tfidf DESC, word) AS "rank" FROM scored)
        |WHERE "rank" <= 3""".stripMargin,
    // Mirrors repetitionSignals' hashed bigrams (k=2 shingle
    // polynomial over word hashes) in the oracle's definitional
    // explode+group form; the Spark side computes the same counts
    // row-locally (array_distinct + max-run of the sorted array).
    "t08_repetition" ->
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % ${graft.functions.Canon.MersenneP}
         |   FOR x IN string_split(text, ' ')] AS hw FROM documents),
         |hb AS (SELECT doc_id,
         |  [(hw[i]*31 + hw[i+1]) % ${graft.functions.Canon.MersenneP}
         |   FOR i IN range(1, len(hw))] AS hs FROM w),
         |c AS (SELECT doc_id, h, count(*) AS c FROM (
         |  SELECT doc_id, unnest(hs) AS h FROM hb) GROUP BY 1, 2)
         |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
         | count(*) AS n_distinct_bigrams,
         | (sum(c) - count(*)) / sum(c) AS dup_bigram_frac,
         | max(c) / sum(c) AS top_bigram_frac
         |FROM c GROUP BY doc_id""".stripMargin,
    "d10_decontaminate" -> {
      import graft.functions.Canon.{MersenneP => P}
      // k=5 shingle polynomial, mirroring Canon.shingleHashes
      val poly = (1 until 5).foldLeft("hw[i]") {
        (acc, j) => s"($acc*31 + hw[i+$j])"
      } + s" % $P"
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT doc_id,
         |  list_distinct([$poly FOR i IN range(1, len(hw)-3)]) AS sh
         | FROM w),
         |b AS (SELECT doc_id, unnest(sh) AS sh FROM s
         |  WHERE doc_id % 7 <> 0),
         |bench AS (SELECT DISTINCT unnest(sh) AS sh FROM s
         |  WHERE doc_id % 7 = 0),
         |hits AS (SELECT doc_id, count(*) AS n FROM (
         |  SELECT b.doc_id, b.sh FROM b JOIN bench USING (sh))
         | GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n, 0)::BIGINT AS n_shared_shingles,
         | coalesce(n, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
         |LEFT JOIN hits USING (doc_id)""".stripMargin
    },
    // d10's contamination chain, then p02's split over the survivors.
    "p05_clean_split" -> {
      import graft.functions.Canon.{MersenneP => P}
      val poly = (1 until 5).foldLeft("hw[i]") {
        (acc, j) => s"($acc*31 + hw[i+$j])"
      } + s" % $P"
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT doc_id,
         |  list_distinct([$poly FOR i IN range(1, len(hw)-3)]) AS sh
         | FROM w),
         |b AS (SELECT doc_id, unnest(sh) AS sh FROM s
         |  WHERE doc_id % 7 <> 0),
         |bench AS (SELECT DISTINCT unnest(sh) AS sh FROM s
         |  WHERE doc_id % 7 = 0),
         |hits AS (SELECT doc_id, count(*) AS n FROM (
         |  SELECT b.doc_id, b.sh FROM b JOIN bench USING (sh))
         | GROUP BY doc_id),
         |clean AS (SELECT d.doc_id
         |  FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
         |  LEFT JOIN hits USING (doc_id) WHERE coalesce(n, 0) = 0),
         |sp AS (SELECT d.lang, ${h60("md5(d.text)")} % 100 AS bucket
         |  FROM documents d JOIN clean USING (doc_id))
         |SELECT lang,
         | CASE WHEN bucket < 96 THEN 'train'
         |      WHEN bucket < 98 THEN 'val' ELSE 'test' END AS split,
         | count(*) AS n_docs
         |FROM sp GROUP BY 1, 2""".stripMargin
    },
    // packSequences mirror: same content-hash shard/order keys, same
    // window running sum (cast to BIGINT — DuckDB integer sum() yields
    // HUGEINT, which the driver canonicalizes as float), same integer
    // chunk arithmetic.
    "p06_pack_sequences" ->
      s"""WITH b AS (SELECT doc_id,
         |  len(string_split(text, ' '))::BIGINT AS n_tokens,
         |  ${h60("md5('pack|' || text)")} % 64 AS shard,
         |  ${h60("md5(text)")} AS ord FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |    ORDER BY ord, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0)::BIGINT AS tok_start FROM b)
         |SELECT doc_id, shard, n_tokens,
         | tok_start // 2048 AS seq_id,
         | tok_start % 2048 AS tok_offset,
         | (tok_start + n_tokens - 1) // 2048 - tok_start // 2048 + 1
         |   AS n_seqs_spanned
         |FROM c""".stripMargin,
    "t07_docfreq" ->
      """WITH dw AS (SELECT lang,
        |  unnest(list_distinct(string_split(text, ' '))) AS word
        | FROM documents),
        |ds AS (SELECT word, count(*) AS df,
        |  count(DISTINCT lang) AS n_langs
        | FROM dw GROUP BY word HAVING count(*) >= 3),
        |tf AS (SELECT word, count(*) AS tf FROM
        |  (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        | GROUP BY word)
        |SELECT ds.word, df, tf, n_langs FROM ds JOIN tf USING (word)""".stripMargin,
    "m04_patchify" ->
      s"""WITH h AS (SELECT doc_id, ${h60("text")} AS h FROM documents),
         |meta AS (SELECT doc_id, 64 + h % 193 AS width,
         |  64 + (h // 193) % 129 AS height FROM h),
         |px AS (SELECT doc_id, height,
         |  unnest(range(0, width // 32)) AS patch_x FROM meta),
         |py AS (SELECT doc_id, patch_x,
         |  unnest(range(0, height // 32)) AS patch_y FROM px)
         |SELECT doc_id, patch_x, patch_y,
         | patch_x * 32 AS x0, patch_y * 32 AS y0 FROM py""".stripMargin,

    // canonicalDocs over the d08 clusters: the argmax is re-derived as
    // a window rank (n_tokens DESC, doc_id ASC — the same total order
    // as the Spark side's max(struct(n_tokens, -doc_id))).
    "d12_canonical_docs" ->
      (dupClustersCte +
        """, toks AS (SELECT doc_id,
          |  len(string_split(text, ' '))::BIGINT AS n_tokens
          | FROM documents),
          |j AS (SELECT c.cluster_rep, c.doc_id, t.n_tokens
          |  FROM clus c JOIN toks t USING (doc_id))
          |SELECT cluster_rep, canonical_doc_id, canonical_tokens,
          | n_docs, n_docs - 1 AS n_removed FROM (
          | SELECT cluster_rep, doc_id AS canonical_doc_id,
          |  n_tokens AS canonical_tokens,
          |  count(*) OVER (PARTITION BY cluster_rep) AS n_docs,
          |  row_number() OVER (PARTITION BY cluster_rep
          |    ORDER BY n_tokens DESC, doc_id) AS rk
          | FROM j) WHERE rk = 1""".stripMargin),
    // temperatureSample mirror: same per-lang threshold arithmetic
    // (every step — sqrt, ×2, ceil, one division, ×2^60 — is a single
    // correctly-rounded IEEE op on exactly-representable integers, so
    // the keep set is engine-independent), same 'tsamp|' content hash.
    "p07_temperature_sample" ->
      s"""WITH n AS (SELECT lang, count(*) AS n FROM documents
         |  GROUP BY lang),
         |thr AS (SELECT lang,
         |  least(ceil(sqrt(n) * 2.0), n) / n * 1152921504606846976.0
         |    AS thr
         | FROM n)
         |SELECT d.doc_id, lang FROM documents d JOIN thr USING (lang)
         |WHERE ${h60("'tsamp|' || text")} < thr""".stripMargin,
    // labelCentroids mirror: the same floor(x·10⁶) fixed-point longs,
    // summed exactly, then the same (qsum/scale)/n division order —
    // the order-independent design the operator exists for.
    "s07_label_centroids" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |x AS (SELECT label,
        |  unnest([{'d': i, 'q': floor(v[i] * 1000000)::BIGINT}
        |    FOR i IN range(1, len(v)+1)]) AS s FROM e),
        |g AS (SELECT label, s.d::BIGINT AS dim, sum(s.q)::BIGINT AS qsum,
        |  count(*) AS n_vecs FROM x GROUP BY label, s.d)
        |SELECT label, dim, qsum::DOUBLE / 1000000 / n_vecs AS centroid,
        | n_vecs
        |FROM g""".stripMargin,
    // centroidDrift mirror: s07's fixed-point component sums per
    // parity half, the SAME positive-shifted floor division
    // ((qsum + 10·scale·n) // n − 10·scale, so `//` ≡ Spark's `div`
    // even on negative sums), exact drift_sq, one sqrt. The scale and
    // its derived offset are INTERPOLATED from the entry's constant
    // (Similarity.DriftScale) so a scale change moves both engines
    // together (ADVICE r13: a hardcoded 1e6/1e7 pair gated only the
    // default).
    "s32_centroid_drift" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |x AS (SELECT vec_id, label,
         |  unnest([{'d': i, 'q': floor(v[i] * $DriftScale)::BIGINT}
         |    FOR i IN range(1, len(v)+1)]) AS s FROM e),
         |ga AS (SELECT label, s.d AS dim,
         |  (sum(s.q) + $DriftOff * count(*)) // count(*) - $DriftOff AS m,
         |  count(*) AS n
         | FROM x WHERE vec_id % 2 = 0 GROUP BY label, s.d),
         |gb AS (SELECT label, s.d AS dim,
         |  (sum(s.q) + $DriftOff * count(*)) // count(*) - $DriftOff AS m,
         |  count(*) AS n
         | FROM x WHERE vec_id % 2 = 1 GROUP BY label, s.d),
         |j AS (SELECT ga.label, ga.m AS ma, gb.m AS mb,
         |  ga.n AS na, gb.n AS nb
         | FROM ga JOIN gb ON ga.label = gb.label AND ga.dim = gb.dim)
         |SELECT label, CAST(max(na) AS BIGINT) AS n_a,
         | CAST(max(nb) AS BIGINT) AS n_b,
         | CAST(sum((ma - mb) * (ma - mb)) AS BIGINT) AS drift_sq,
         | sqrt(CAST(sum((ma - mb) * (ma - mb)) AS BIGINT)::DOUBLE)
         |   / $DriftScale AS l2_drift
         |FROM j GROUP BY label""".stripMargin,
    // boilerplateFrac mirror: k=3 shingle polynomial over word hashes
    // (as minhash's hb CTE), df computed WITH the containing doc
    // (df > 20 ⇔ at least 20 OTHER docs), left join + conditional
    // count exactly as the Spark probe.
    "t10_boilerplate" -> {
      import graft.functions.Canon.{MersenneP => P}
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT doc_id,
         |  list_distinct([((hw[i]*31 + hw[i+1])*31 + hw[i+2]) % $P
         |   FOR i IN range(1, len(hw)-1)]) AS sh FROM w),
         |x AS (SELECT doc_id, unnest(sh) AS sh FROM s),
         |common AS (SELECT sh FROM x GROUP BY sh HAVING count(*) > 20),
         |pd AS (SELECT x.doc_id, count(*) AS n_shingles,
         |  count(common.sh) AS n_common
         | FROM x LEFT JOIN common ON x.sh = common.sh
         | GROUP BY x.doc_id)
         |SELECT doc_id, n_shingles, n_common,
         | n_common::DOUBLE / n_shingles AS boilerplate_frac
         |FROM pd""".stripMargin
    },
    // audioWindows mirror: pure integer window fan-out
    // (n_samples = byte_len div 2; windows of 64 every 32).
    "m05_audio_windows" ->
      """WITH b AS (SELECT doc_id,
        |  (octet_length(encode(text)) // 2)::BIGINT AS n_samples
        | FROM documents),
        |f AS (SELECT * FROM b WHERE n_samples >= 64),
        |w AS (SELECT doc_id, n_samples,
        |  unnest(range(0, (n_samples - 64) // 32 + 1)) AS win_idx
        | FROM f)
        |SELECT doc_id, n_samples, win_idx,
        | win_idx * 32 AS start_sample,
        | win_idx * 32 + 63 AS end_sample
        |FROM w""".stripMargin,
    // chunkDocuments mirror: same start grid (every 96 while a window
    // still adds tokens), list_slice is 1-based inclusive ⇔ Spark's
    // slice(start, length) clipped at the array end.
    "p08_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |n AS (SELECT doc_id, w, len(w)::BIGINT AS n_tokens FROM w
        |  WHERE len(w) > 0),
        |c AS (SELECT doc_id, w, n_tokens,
        |  unnest(range(0, (greatest(n_tokens - 32, 1) - 1) // 96 + 1))
        |    AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx, chunk_idx * 96 AS start_tok,
        | least(128, n_tokens - chunk_idx * 96) AS n_chunk_tokens,
        | array_to_string(list_slice(w, chunk_idx * 96 + 1,
        |   chunk_idx * 96 + 128), ' ') AS chunk_text
        |FROM c""".stripMargin,
    // rarityScore mirror: t09's df CTE joined onto the raw token
    // explode; both output fractions are exact-int divisions.
    "t11_rarity" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split(text, ' ')) AS word FROM documents),
        |df AS (SELECT word, count(*) AS df FROM (
        |   SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |   FROM documents) GROUP BY word),
        |j AS (SELECT doc_id, df FROM tok JOIN df USING (word))
        |SELECT doc_id, count(*) AS n_tokens,
        | sum(df)::DOUBLE / count(*) AS mean_df,
        | min(df) AS min_df,
        | sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
        |   AS hapax_frac
        |FROM j GROUP BY doc_id""".stripMargin,
    // bigramCounts mirror: 1-based DuckDB list indexing ⇔ the Spark
    // side's 0-based w[i]/w[i+1] over sequence(0, size-2).
    "t13_bigram_lm" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
        |    FOR i IN range(1, len(w))]) AS p
        |  FROM w WHERE len(w) >= 2),
        |c AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n FROM p
        |  GROUP BY 1, 2)
        |SELECT w1, w2, n, "rank" FROM (
        | SELECT *, row_number() OVER (PARTITION BY w1
        |   ORDER BY n DESC, w2) AS "rank" FROM c)
        |WHERE "rank" <= 3""".stripMargin,
    // knnBinaryHamming mirror: the 64-term sign fold (same bit-63
    // spelling as simhash64Sql), xor+bit_count ranking.
    "s09_binary_hamming" -> {
      def bitLit(b: Int): String = {
        val v = 1L << b
        if (v > 0) s"$v" else "(-9223372036854775807 - 1)"
      }
      val sketch = (0 until 64).map(i =>
        s"(CASE WHEN v[${i + 1}] > 0 THEN ${bitLit(i)} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |b AS (SELECT vec_id, $sketch AS bits FROM e),
         |q AS (SELECT vec_id AS q_id, bits AS q_bits FROM b
         |  WHERE vec_id < 10),
         |scored AS (SELECT q.q_id, b.vec_id AS nbr_id,
         |  CAST(bit_count(xor(b.bits, q.q_bits)) AS BIGINT) AS hamming
         | FROM b CROSS JOIN q WHERE b.vec_id <> q.q_id)
         |SELECT q_id, nbr_id, hamming, "rank" FROM (
         | SELECT *, row_number() OVER (PARTITION BY q_id
         |   ORDER BY hamming, nbr_id) AS "rank" FROM scored)
         |WHERE "rank" <= 3""".stripMargin
    },
    // piiRedact mirror, generated from the SAME PiiPatterns constants
    // (single source of truth); DuckDB needs the 'g' flag for
    // replace-all, which is Spark regexp_replace's default.
    "t12_pii_redact" -> {
      val counts = TextAnalysis.PiiPatterns.map { case (name, pat, _) =>
        s" len(regexp_extract_all(text, '$pat'))::BIGINT AS n_$name"
      }.mkString(",\n")
      val redacted = TextAnalysis.PiiPatterns.foldLeft("text") {
        case (c, (_, pat, rep)) => s"regexp_replace($c, '$pat', '$rep', 'g')"
      }
      s"""SELECT doc_id,
         |$counts,
         | md5($redacted) AS redacted_md5
         |FROM documents""".stripMargin
    },
    // containmentPairs mirror (d05's CTE chain with the asymmetric
    // divisions; DuckDB `/` on integers is float division, matching
    // Spark's `/`).
    "d14_containment" ->
      s"""WITH d0 AS (SELECT doc_id, source,
         |  list_distinct([${h60("x")} % ${graft.functions.Canon.MersenneP}
         |    FOR x IN string_split(text, ' ')]) AS dw FROM documents),
         |small AS (SELECT source FROM documents
         |  GROUP BY source HAVING count(*) <= 10000),
         |d AS (SELECT d0.* FROM d0 JOIN small USING (source))
         |SELECT * FROM (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.dw, b.dw)) / len(a.dw) AS containment_a,
         |  len(list_intersect(a.dw, b.dw)) / len(b.dw) AS containment_b
         | FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE greatest(containment_a, containment_b) >= 0.8""".stripMargin,
    // knnGraph mirror: label-blocked pair scores (d06's keep cap) +
    // per-node top-k rank, same left-fold dot as everywhere.
    "s08_knn_graph" ->
      (embCte +
        s""", keep AS (SELECT label FROM embeddings
           |  GROUP BY label HAVING count(*) <= 10000),
           |scored AS (SELECT a.vec_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM n a JOIN n b ON a.label = b.label
           |   AND a.vec_id <> b.vec_id
           | WHERE a.label IN (SELECT label FROM keep))
           |SELECT vec_id, nbr_id, sim, "rank" FROM (
           | SELECT *, row_number() OVER (PARTITION BY vec_id
           |   ORDER BY sim DESC, nbr_id) AS "rank" FROM scored)
           |WHERE "rank" <= 5""".stripMargin),
    // nnDescent mirror: the shared descent chain, final top-k rank.
    "s28_nn_descent" ->
      (nnDescentCte(4) +
        s"""
           |SELECT vec_id, nbr_id, sim, row_number() OVER (
           |  PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS "rank"
           |FROM g4""".stripMargin),
    // nnDescentRecall mirror: same chain + the exact-truth pass over
    // the query subset, hit counts against the label-only graph
    // (seed) and g4 — the tail is shared with s30's clustered base.
    "s29_nn_descent_recall" ->
      (nnDescentCte(4) + descentRecallTail),
    "s30_clustered_descent_recall" ->
      (nnDescentCte(4, 5, gmCte) + descentRecallTail),
    // graphBeamSearch mirror: the descent chain + the unrolled beam
    // walk, final-frontier top-k with ranks.
    "s33_graph_beam_search" ->
      (nnDescentCte(4) + beamCte(16, 4, 5, 4) +
        s"""
           |SELECT q_id, cand_id AS nbr_id, sim, "rank" FROM (
           | SELECT q_id, cand_id, sim, row_number() OVER (
           |   PARTITION BY q_id ORDER BY sim DESC, cand_id)
           |   AS "rank" FROM bf4)
           |WHERE "rank" <= 5""".stripMargin),
    // graphPqBeamSearch mirror: the descent chain + beamCte's graph/
    // entries (its exact-scored bf chain unreferenced, so skipped) +
    // the ADC-scored walk + exact re-rank top-k.
    "s44_graph_pq_beam" ->
      (nnDescentCte(4) + beamCte(16, 4, 5, 4) + pqBeamTail(16, 4, 5) +
        s"""
           |SELECT q_id, cand_id AS nbr_id, sim, rk AS "rank"
           |FROM prk""".stripMargin),
    // graphPqBeamRecall mirror: both walks over the same graph + the
    // exact truth pass; rows 'beam' and 'pq_beam'.
    "s45_pq_beam_recall" ->
      (nnDescentCte(4) + beamCte(16, 4, 5, 4) + pqBeamTail(16, 4, 5) +
        pqBeamRecallTail(4, 5)),
    "s46_clustered_pq_recall" ->
      (nnDescentCte(4, 5, gmCte) + beamCte(16, 4, 5, 4) +
        pqBeamTail(16, 4, 5) + pqBeamRecallTail(4, 5)),
    // graphBeamRecall mirror: same chain + the exact truth pass and
    // the entry/beam recall rows.
    "s34_graph_beam_recall" ->
      (nnDescentCte(4) + beamCte(16, 4, 5, 4) + beamRecallTail(4, 5)),
    "s35_clustered_beam_recall" ->
      (nnDescentCte(4, 5, gmCte) + beamCte(16, 4, 5, 4) +
        beamRecallTail(4, 5)),
    // hierBeamSearch mirror: the descent chain + the hier variant of
    // beamCte (bf0 = per-query top-beam over the ⌊√n⌋ pilots) + the
    // s33 top-k tail.
    "s47_hier_beam_search" ->
      (nnDescentCte(4) + beamCte(16, 4, 5, 4, hier = true) +
        s"""
           |SELECT q_id, cand_id AS nbr_id, sim, "rank" FROM (
           | SELECT q_id, cand_id, sim, row_number() OVER (
           |   PARTITION BY q_id ORDER BY sim DESC, cand_id)
           |   AS "rank" FROM bf4)
           |WHERE "rank" <= 5""".stripMargin),
    // hierBeamRecall mirror: same hier chain + the shared recall tail
    // (its 'entry' row now prices the pilot frontier).
    "s48_hier_beam_recall" ->
      (nnDescentCte(4) + beamCte(16, 4, 5, 4, hier = true) +
        beamRecallTail(4, 5)),
    "s49_clustered_hier_recall" ->
      (nnDescentCte(4, 5, gmCte) + beamCte(16, 4, 5, 4, hier = true) +
        beamRecallTail(4, 5)),
    // beamRoundsCurve mirror: the descent chain + the walk unrolled
    // to 8 rounds + the truth pass with recall cuts at bf2/bf4/bf8.
    "s50_beam_rounds_curve" ->
      (nnDescentCte(4) + beamCte(16, 8, 5, 4) +
        roundsCurveTail(5, Seq(2, 4, 8))),
    // incrementalGraphInsert mirror: descent chain on the OLD corpus
    // (embCteWhere — e/n, seeds, fingers, entries all old), the full
    // nall table, beam walks for the insert batch, the reverse patch,
    // and the union with ranks.
    "s36_incremental_graph" ->
      (nnDescentCte(4, 5, embCteWhere("vec_id % 10 <> 9")) + nAllCte +
        beamCte(16, 4, 5, 4,
          "SELECT vec_id AS q_id, v, nrm FROM nall WHERE vec_id % 10 = 9") +
        insertCte(4, 5, 4) +
        s"""
           |SELECT vec_id, nbr_id, sim, row_number() OVER (
           |  PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS "rank"
           |FROM (SELECT * FROM pat UNION ALL SELECT * FROM nfwd)""".stripMargin),
    // incrementalGraphRecall mirror: same chain + the full-corpus
    // exact truth over the mixed dial set and the two recall rows.
    "s37_incremental_recall" ->
      (nnDescentCte(4, 5, embCteWhere("vec_id % 10 <> 9")) + nAllCte +
        beamCte(16, 4, 5, 4,
          "SELECT vec_id AS q_id, v, nrm FROM nall WHERE vec_id % 10 = 9") +
        insertCte(4, 5, 4) + incrementalRecallTail),
    // The clustered twin: the same chain over the gm generator (old
    // corpus filtered BEFORE v generation — equivalent, v is a pure
    // function of the id) with the clustered full table as nall.
    "s38_clustered_incremental" ->
      (nnDescentCte(4, 5, gmCteWhere("vec_id % 10 <> 9")) + gmAllCte +
        beamCte(16, 4, 5, 4,
          "SELECT vec_id AS q_id, v, nrm FROM nall WHERE vec_id % 10 = 9") +
        insertCte(4, 5, 4) + incrementalRecallTail),
    // mmrSelect mirror: the s01 shortlist chain carrying candidate
    // vectors, the bounded candidate-candidate sim self-join, and the
    // same three unrolled greedy steps (λ = 1/2, ties on nbr_id).
    "s31_mmr_select" ->
      (embCte +
        s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
           |scored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS rel,
           |  b.v AS cv, b.nrm AS cnrm
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
           |short AS (SELECT * FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY rel DESC, nbr_id) AS rnk FROM scored)
           | WHERE rnk <= 9),
           |cc AS (SELECT x.q_id, x.nbr_id AS ca, y.nbr_id AS cb,
           |  ${foldSum("[x.cv[i] * y.cv[i] FOR i IN range(1, len(x.cv)+1)]")}
           |   / (x.cnrm * y.cnrm) AS sim
           | FROM short x JOIN short y
           | ON x.q_id = y.q_id AND x.nbr_id <> y.nbr_id),
           |sel1 AS (SELECT q_id, nbr_id, rel, rel AS score FROM (
           | SELECT q_id, nbr_id, rel, row_number() OVER (
           |   PARTITION BY q_id ORDER BY rel DESC, nbr_id) AS rn
           | FROM short) WHERE rn = 1),
           |r1 AS (SELECT s.q_id, s.nbr_id, s.rel, c.sim AS ms1
           | FROM short s
           | JOIN sel1 t ON s.q_id = t.q_id AND s.nbr_id <> t.nbr_id
           | JOIN cc c ON c.q_id = s.q_id AND c.ca = s.nbr_id
           |   AND c.cb = t.nbr_id),
           |sel2 AS (SELECT q_id, nbr_id, rel,
           |  0.5 * rel - 0.5 * ms1 AS score FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY 0.5 * rel - 0.5 * ms1 DESC, nbr_id) AS rn
           | FROM r1) WHERE rn = 1),
           |r2 AS (SELECT r.q_id, r.nbr_id, r.rel,
           |  greatest(r.ms1, c.sim) AS ms2
           | FROM r1 r
           | JOIN sel2 t ON r.q_id = t.q_id AND r.nbr_id <> t.nbr_id
           | JOIN cc c ON c.q_id = r.q_id AND c.ca = r.nbr_id
           |   AND c.cb = t.nbr_id),
           |sel3 AS (SELECT q_id, nbr_id, rel,
           |  0.5 * rel - 0.5 * ms2 AS score FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY 0.5 * rel - 0.5 * ms2 DESC, nbr_id) AS rn
           | FROM r2) WHERE rn = 1)
           |SELECT q_id, CAST(1 AS BIGINT) AS sel_rank, nbr_id, rel,
           | score FROM sel1
           |UNION ALL
           |SELECT q_id, CAST(2 AS BIGINT), nbr_id, rel, score FROM sel2
           |UNION ALL
           |SELECT q_id, CAST(3 AS BIGINT), nbr_id, rel, score FROM sel3"""
        .stripMargin),
    // bloomDecontaminate mirror: a bitmap bit is set iff its position
    // is in the benchmark's affine-position set, so the oracle tests
    // set membership directly — same k=5 polynomial, same affine
    // family, same % mBits fold; no bit packing needed on this side.
    "d13_bloom_decontaminate" -> {
      import graft.functions.Canon.{AffineA, AffineB, MersenneP => P}
      val m = 1 << 16
      val poly = (1 until 5).foldLeft("hw[i]") {
        (acc, j) => s"($acc*31 + hw[i+$j])"
      } + s" % $P"
      def pos(j: Int) = s"((sh * ${AffineA(j)} + ${AffineB(j)}) % $P) % $m"
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT doc_id,
         |  list_distinct([$poly FOR i IN range(1, len(hw)-3)]) AS shs
         | FROM w),
         |bp AS (SELECT DISTINCT unnest([${pos(0)}, ${pos(1)}]) AS pos
         |  FROM (SELECT unnest(shs) AS sh FROM s WHERE doc_id % 7 = 0)),
         |probe AS (SELECT doc_id, unnest(shs) AS sh FROM s
         |  WHERE doc_id % 7 <> 0),
         |hits AS (SELECT doc_id, count(*) AS n FROM probe
         |  WHERE ${pos(0)} IN (SELECT pos FROM bp)
         |    AND ${pos(1)} IN (SELECT pos FROM bp)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n, 0)::BIGINT AS n_bloom_hits,
         | coalesce(n, 0) > 0 AS bloom_flagged
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
         |LEFT JOIN hits USING (doc_id)""".stripMargin
    },
    // Salting changes physical distribution, not results: the oracles
    // are the plain GROUP BY / join the salted forms must equal.
    "sk01_salted_agg" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "sk02_salted_join" ->
      """SELECT n_name, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    // semanticNearDups mirror: the SEED (unrefined) cell assignment —
    // s10's quantizer deliberately skips the Lloyd round the s03/s11
    // search path runs (blocking only needs a spread, and the extra
    // corpus pass buys nothing for pair generation) — then d06's pair
    // shape with cell as the blocking key (cap mirrored).
    "s10_semantic_neardup" -> {
      val centSim =
        foldSum("[a.v[i] * c.cv[i] FOR i IN range(1, len(a.v)+1)]") +
          " / (a.nrm * c.cnrm)"
      embCte +
        s""", h AS (SELECT vec_id, v, nrm,
           |  ${h60("'ivfseed|' || vec_id")} AS hh FROM n),
           |c AS (SELECT row_number() OVER (ORDER BY hh, vec_id) - 1
           |    AS cell, v AS cv, nrm AS cnrm
           |  FROM h ORDER BY hh, vec_id LIMIT 16),
           |asg AS (SELECT vec_id, v, nrm, cell FROM (
           |  SELECT a.vec_id, a.v, a.nrm, c.cell,
           |   row_number() OVER (PARTITION BY a.vec_id
           |     ORDER BY $centSim DESC, c.cell) AS rk
           |  FROM n a CROSS JOIN c) WHERE rk = 1),
           |keep AS (SELECT cell FROM asg GROUP BY cell
           |  HAVING count(*) <= 10000)
           |SELECT * FROM (
           | SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
           |  $pairDot / (a.nrm * b.nrm) AS cos
           | FROM asg a JOIN asg b ON a.cell = b.cell
           |   AND a.vec_id < b.vec_id
           | WHERE a.cell IN (SELECT cell FROM keep))
           |WHERE cos >= 0.2""".stripMargin
    },
    // semanticKeep mirror: the s10 chain with the rk=1 centroid
    // similarity carried through; each ≥τ within-cell pair nominates
    // its more-central member (censim DESC, then id DESC) into the
    // dropped set, and the full assignment left-joins the flag back.
    "s43_semantic_keep" -> {
      val centSim =
        foldSum("[a.v[i] * c.cv[i] FOR i IN range(1, len(a.v)+1)]") +
          " / (a.nrm * c.cnrm)"
      embCte +
        s""", h AS (SELECT vec_id, v, nrm,
           |  ${h60("'ivfseed|' || vec_id")} AS hh FROM n),
           |c AS (SELECT row_number() OVER (ORDER BY hh, vec_id) - 1
           |    AS cell, v AS cv, nrm AS cnrm
           |  FROM h ORDER BY hh, vec_id LIMIT 16),
           |asg AS (SELECT vec_id, v, nrm, cell, censim FROM (
           |  SELECT a.vec_id, a.v, a.nrm, c.cell, $centSim AS censim,
           |   row_number() OVER (PARTITION BY a.vec_id
           |     ORDER BY $centSim DESC, c.cell) AS rk
           |  FROM n a CROSS JOIN c) WHERE rk = 1),
           |keep AS (SELECT cell FROM asg GROUP BY cell
           |  HAVING count(*) <= 10000),
           |ak AS (SELECT * FROM asg
           |  WHERE cell IN (SELECT cell FROM keep)),
           |dropped AS (SELECT DISTINCT CASE
           |    WHEN a.censim > b.censim
           |      OR (a.censim = b.censim AND a.vec_id > b.vec_id)
           |    THEN a.vec_id ELSE b.vec_id END AS vec_id
           |  FROM ak a JOIN ak b ON a.cell = b.cell
           |    AND a.vec_id < b.vec_id
           |  WHERE $pairDot / (a.nrm * b.nrm) >= 0.2)
           |SELECT g.vec_id, g.cell, g.censim AS centroid_sim,
           |  (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT
           |    AS kept
           |FROM asg g LEFT JOIN dropped d ON d.vec_id = g.vec_id"""
          .stripMargin
    },
    // lmCoverage mirror: t13's pair fan-out kept per doc, the same
    // top-3 LM built from it, then a multiplicity-1 left join back.
    "t14_lm_coverage" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |p AS (SELECT doc_id, unnest([{'w1': w[i], 'w2': w[i+1]}
        |    FOR i IN range(1, len(w))]) AS p FROM w),
        |pp AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM p),
        |c AS (SELECT w1, w2, count(*) AS n FROM pp GROUP BY 1, 2),
        |lm AS (SELECT w1, w2 FROM (
        |  SELECT w1, w2, row_number() OVER (PARTITION BY w1
        |    ORDER BY n DESC, w2) AS rk FROM c) WHERE rk <= 3)
        |SELECT pp.doc_id AS doc_id, count(*) AS n_bigrams,
        | count(lm.w1) AS n_in_lm,
        | count(lm.w1)::DOUBLE / count(*) AS lm_coverage
        |FROM pp LEFT JOIN lm ON pp.w1 = lm.w1 AND pp.w2 = lm.w2
        |GROUP BY pp.doc_id""".stripMargin,
    // dedupFirstBatch mirror: first = (ts, event_id)-min per key.
    // resampleForwardFill mirror: same bucket arithmetic on epoch_us,
    // in-bucket last via DESC row_number (the max_by total order),
    // dense grid via range(), IGNORE-NULLS running fill.
    "st08_gap_fill" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |  epoch_us(ts) AS us FROM events),
        |b AS (SELECT user_id, us - (us % 3600000000) AS bucket_us,
        |  us, event_id, value FROM e),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id, bucket_us
        |    ORDER BY us DESC, event_id DESC) AS rk,
        |  count(*) OVER (PARTITION BY user_id, bucket_us) AS n_events
        |  FROM b),
        |agg AS (SELECT user_id, bucket_us, n_events, value AS last_value
        |  FROM r WHERE rk = 1),
        |lim AS (SELECT user_id, min(bucket_us) AS lo, max(bucket_us) AS hi
        |  FROM agg GROUP BY 1),
        |grid AS (SELECT user_id,
        |  unnest(range(lo, hi + 1, 3600000000)) AS bucket_us FROM lim),
        |j AS (SELECT g.user_id, g.bucket_us,
        |  coalesce(a.n_events, 0)::BIGINT AS n_events, a.last_value
        |  FROM grid g LEFT JOIN agg a
        |  ON a.user_id = g.user_id AND a.bucket_us = g.bucket_us)
        |SELECT user_id, make_timestamp(bucket_us) AS bucket_start,
        |  n_events,
        |  last_value(last_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY bucket_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value
        |FROM j""".stripMargin,
    // latenessProfile mirror: running max over arrival order
    // (event_id) EXCLUDING the current row; first arrival never late.
    "st09_lateness" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        |m AS (SELECT event_id, ts_us, greatest(0, coalesce(
        |    max(ts_us) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    -1) - ts_us) AS lateness_us FROM e)
        |SELECT event_id, ts_us, lateness_us,
        |  lateness_us > 5000000 AS is_late FROM m""".stripMargin,
    "st06_dedup_first" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  epoch_us(ts) AS ts_us, value FROM events),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts_us, event_id) AS rk,
        |  count(*) OVER (PARTITION BY user_id, event_type) AS n_events
        |  FROM e)
        |SELECT user_id, event_type, event_id AS first_event_id,
        | ts_us AS first_ts_us, value AS first_value, n_events
        |FROM r WHERE rk = 1""".stripMargin,
    // samplePerGroup mirror: the two-stage rank equals the plain
    // per-language row_number in (ord, doc_id) order.
    "p09_group_sample" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |  ${h60("md5(text)")} AS ord FROM documents)
         |SELECT doc_id, lang, "rank" FROM (
         | SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |   ORDER BY ord, doc_id) AS "rank" FROM b)
         |WHERE "rank" <= 40""".stripMargin,
    // annRecall mirror: s01's brute CTE and the shared refined-IVF CTE
    // (both at k=3) joined per (q_id, nbr_id), then per-query hits.
    "s11_ann_recall" -> {
      embCte +
        s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
           |bscored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
           |brute AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM bscored)
           | WHERE rk <= 3),
           |$ivfCte,
           |iscored AS (SELECT p.q_id, b.vec_id AS nbr_id,
           |  ${foldSum("[p.qv[i] * b.v[i] FOR i IN range(1, len(p.qv)+1)]")}
           |   / (p.qnrm * b.nrm) AS sim
           | FROM probes p JOIN asg b ON b.cell = p.cell
           |   AND b.vec_id <> p.q_id),
           |ivf AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM iscored)
           | WHERE rk <= 3)
           |SELECT b.q_id AS q_id, count(i.nbr_id) AS n_hit,
           | count(i.nbr_id)::DOUBLE / count(*) AS recall
           |FROM brute b LEFT JOIN ivf i
           | ON i.q_id = b.q_id AND i.nbr_id = b.nbr_id
           |GROUP BY b.q_id""".stripMargin
    },
    // annRecallIvfPq mirror: s11's brute CTEs + s16's IVF-PQ chain
    // (shared ivfCte + refined pqCbCte), compared per query.
    "s17_ivfpq_recall" -> {
      embCte +
        s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
           |bscored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
           |brute AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM bscored)
           | WHERE rk <= 3),
           |$ivfCte,
           |$pqCbCte,
           |codes AS (SELECT vec_id, s, code FROM (
           |  SELECT vec_id, s, code, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY
           |    list_reduce(list_prepend(0.0,
           |      [(va[i]-vb[i])*(va[i]-vb[i])
           |       FOR i IN range(1, len(va)+1)]),
           |      (acc, x) -> acc + x), code) AS rk FROM sub)
           |  WHERE rk = 1),
           |qt AS (SELECT vec_id AS q_id, s, code,
           |   list_reduce(list_prepend(0.0,
           |     [va[i]*vb[i] FOR i IN range(1, len(va)+1)]),
           |     (acc, x) -> acc + x) AS pdot
           |  FROM sub WHERE vec_id < 10),
           |pscored AS (SELECT p.q_id, b.vec_id AS nbr_id,
           |   list_reduce(list_prepend(0.0, list(qt.pdot ORDER BY qt.s)),
           |     (acc, x) -> acc + x) AS approx_dot
           |  FROM probes p
           |  JOIN asg b ON b.cell = p.cell AND b.vec_id <> p.q_id
           |  JOIN codes c2 ON c2.vec_id = b.vec_id
           |  JOIN qt ON qt.q_id = p.q_id AND qt.s = c2.s
           |    AND qt.code = c2.code
           |  GROUP BY p.q_id, b.vec_id),
           |ipq AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY approx_dot DESC, nbr_id) AS rk FROM pscored)
           | WHERE rk <= 3)
           |SELECT b.q_id AS q_id, count(i.nbr_id) AS n_hit,
           | count(i.nbr_id)::DOUBLE / count(*) AS recall
           |FROM brute b LEFT JOIN ipq i
           | ON i.q_id = b.q_id AND i.nbr_id = b.nbr_id
           |GROUP BY b.q_id""".stripMargin
    },
    // annRecallIvfPqRerank mirror: s11's brute CTEs + the s20 chain
    // (s18 shortlist at k' = 9 + exact rescore), compared per query.
    "s21_rerank_recall" -> (embCte + ivfPqRerankRecallTail),
    // s21's chain over the clustered-geometry fixture (gmCte): the
    // high-recall sensitivity twin — see clusteredEmbeddings scaladoc.
    "s25_clustered_rerank_recall" -> (gmCte + ivfPqRerankRecallTail),
    // annRecallProbeCurve mirror: brute + ivfCte's refined centroids
    // and assignment; probe ranks kept to 8 (probes8, the shared
    // centSim ORDER BY), candidates fanned over the threshold VALUES
    // list, per-(np, query) top-3, per-np recall.
    "s22_probe_curve" -> {
      val centSim =
        foldSum("[a.v[i] * c.cv[i] FOR i IN range(1, len(a.v)+1)]") +
          " / (a.nrm * c.cnrm)"
      embCte +
        s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
           |bscored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
           |brute AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM bscored)
           | WHERE rk <= 3),
           |$ivfCte,
           |probes8 AS (SELECT q_id, qv, qnrm, rk AS pr, cell FROM (
           |  SELECT a.vec_id AS q_id, a.v AS qv, a.nrm AS qnrm, c.cell,
           |   row_number() OVER (PARTITION BY a.vec_id
           |     ORDER BY $centSim DESC, c.cell) AS rk
           |  FROM n a CROSS JOIN c WHERE a.vec_id < 10) WHERE rk <= 8),
           |cscored AS (SELECT p.q_id, b.vec_id AS nbr_id, p.pr,
           |  ${foldSum("[p.qv[i] * b.v[i] FOR i IN range(1, len(p.qv)+1)]")}
           |   / (p.qnrm * b.nrm) AS sim
           | FROM probes8 p JOIN asg b ON b.cell = p.cell
           |   AND b.vec_id <> p.q_id),
           |fan AS (SELECT q_id, nbr_id, sim, t.np FROM cscored
           | CROSS JOIN (VALUES (1), (2), (4), (8)) t(np)
           | WHERE pr <= t.np),
           |topk AS (SELECT np, q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY np, q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM fan)
           | WHERE rk <= 3),
           |bt AS (SELECT b.q_id, b.nbr_id, t.np FROM brute b
           | CROSS JOIN (VALUES (1), (2), (4), (8)) t(np))
           |SELECT bt.np AS n_probe, count(i.nbr_id) AS n_hit,
           | count(i.nbr_id)::DOUBLE / count(*) AS recall
           |FROM bt LEFT JOIN topk i
           | ON i.np = bt.np AND i.q_id = bt.q_id AND i.nbr_id = bt.nbr_id
           |GROUP BY bt.np""".stripMargin
    },
    // annRecallRerankCurve mirror: the s21 chain with the shortlist
    // kept to rank 18 AND carrying its rank, candidates fanned over
    // the k' VALUES list, per-(ks, query) top-3 by exact sim,
    // per-ks recall.
    "s23_rerank_curve" -> {
      embCte +
        s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10),
           |bscored AS (SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id),
           |brute AS (SELECT q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM bscored)
           | WHERE rk <= 3),
           |$ivfCte,
           |$ivfPqResCte,
           |short AS (SELECT q_id, nbr_id, rk AS sr FROM (
           | SELECT *, row_number() OVER (PARTITION BY q_id
           |   ORDER BY approx_dot DESC, nbr_id) AS rk FROM pscored)
           | WHERE rk <= 18),
           |rescored AS (SELECT s.q_id, s.nbr_id, s.sr,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM short s JOIN n a ON a.vec_id = s.q_id
           | JOIN n b ON b.vec_id = s.nbr_id),
           |fan AS (SELECT q_id, nbr_id, sim, t.ks FROM rescored
           | CROSS JOIN (VALUES (3), (6), (9), (18)) t(ks)
           | WHERE sr <= t.ks),
           |topk AS (SELECT ks, q_id, nbr_id FROM (
           | SELECT *, row_number() OVER (PARTITION BY ks, q_id
           |   ORDER BY sim DESC, nbr_id) AS rk FROM fan)
           | WHERE rk <= 3),
           |bt AS (SELECT b.q_id, b.nbr_id, t.ks FROM brute b
           | CROSS JOIN (VALUES (3), (6), (9), (18)) t(ks))
           |SELECT bt.ks AS k_short, count(i.nbr_id) AS n_hit,
           | count(i.nbr_id)::DOUBLE / count(*) AS recall
           |FROM bt LEFT JOIN topk i
           | ON i.ks = bt.ks AND i.q_id = bt.q_id AND i.nbr_id = bt.nbr_id
           |GROUP BY bt.ks""".stripMargin
    },
    // annRecallIvfPqResidual mirror: s11's brute CTEs + the s18
    // residual chain, compared per query.
    "s19_ivfpq_res_recall" -> (embCte + ivfPqResRecallTail),
    // s19's chain over the clustered-geometry fixture (gmCte).
    "s24_clustered_res_recall" -> (gmCte + ivfPqResRecallTail),
    // enrichStream mirror: the plain dim equi-join.
    "st07_stream_static" ->
      """SELECT event_id, user_id, event_type, c_nationkey
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,
    // edgeJaccard mirror: g11's edge + triangle CTEs, each triangle
    // credited to its three canonical edges, zero-cn edges kept.
    "g13_edge_jaccard" ->
      """WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
        |  FROM lineitem),
        |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
        |osk AS (SELECT os.o, os.s FROM os JOIN ok USING (o)),
        |e AS (SELECT x.s AS a, y.s AS b FROM osk x JOIN osk y
        |  ON x.o = y.o AND x.s < y.s
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |deg AS (SELECT v, count(*) AS deg FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |te AS (SELECT ed.a AS a, ed.b AS b, count(*) AS cn FROM (
        |  SELECT unnest([
        |    {'a': least(u, v), 'b': greatest(u, v)},
        |    {'a': least(u, w), 'b': greatest(u, w)},
        |    {'a': least(v, w), 'b': greatest(v, w)}]) AS ed FROM tri)
        |  GROUP BY 1, 2)
        |SELECT e.a, e.b, coalesce(te.cn, 0) AS common_neighbors,
        | da.deg AS deg_a, db.deg AS deg_b,
        | coalesce(te.cn, 0)::DOUBLE /
        |   (da.deg + db.deg - coalesce(te.cn, 0)) AS jaccard
        |FROM e LEFT JOIN te ON te.a = e.a AND te.b = e.b
        |JOIN deg da ON da.v = e.a
        |JOIN deg db ON db.v = e.b""".stripMargin,
    // bfsHops mirror: g11's co-supplier edge CTE + a depth-bounded
    // UNION-dedup'd recursive walk (states ≤ 4·|V|, never path-
    // enumerating); min(hops) = BFS distance.
    "g14_bfs_hops" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey AS o,
        |  l_suppkey AS s FROM lineitem),
        |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
        |osk AS (SELECT os.o, os.s FROM os JOIN ok USING (o)),
        |e AS (SELECT x.s AS a, y.s AS b FROM osk x JOIN osk y
        |  ON x.o = y.o AND x.s < y.s
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |walk(v, hops) AS (
        |  SELECT n, 0::BIGINT FROM nodes WHERE n % 10 = 0
        |  UNION
        |  SELECT s.b, w.hops + 1 FROM walk w JOIN sym s ON s.a = w.v
        |  WHERE w.hops < 3)
        |SELECT v AS vertex, min(hops) AS hops FROM walk
        |GROUP BY v""".stripMargin,
    // segmentDedup mirror: segments rebuilt by grouped string_agg over
    // word ordinals ((pos-1)//5 = the slice(w, i*5+1, 5) cut points),
    // then the identical first-occurrence window and re-assembly.
    "d15_segment_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, unnest(ws) AS word,
        |  generate_subscripts(ws, 1) AS pos FROM w),
        |seg AS (SELECT doc_id, (pos - 1) // 5 AS seg_idx,
        |  string_agg(word, ' ' ORDER BY pos) AS seg
        |  FROM wp GROUP BY doc_id, (pos - 1) // 5),
        |occ AS (SELECT doc_id, seg_idx, seg,
        |  row_number() OVER (PARTITION BY md5(seg)
        |    ORDER BY doc_id, seg_idx) AS occ FROM seg)
        |SELECT doc_id, count(*) AS n_segments,
        |  sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  coalesce(string_agg(CASE WHEN occ = 1 THEN seg END, ' '
        |    ORDER BY seg_idx), '') AS text_dedup
        |FROM occ GROUP BY doc_id""".stripMargin,
    // gopherRules mirror: same rule thresholds; integer-over-integer
    // divisions go through ::DOUBLE exactly like the Spark casts.
    "t15_gopher_rules" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, len(ws) AS n_words,
        |  list_sum([len(x) FOR x IN ws])::BIGINT::DOUBLE / len(ws)
        |    AS mean_wlen,
        |  len(list_filter(ws, x -> contains(x, '#')))::DOUBLE / len(ws)
        |    AS symbol_word_frac,
        |  len(list_filter(ws, x -> contains(x, '...')))::DOUBLE / len(ws)
        |    AS ellipsis_word_frac,
        |  len(list_intersect(list_distinct(ws),
        |    ['the','a','of','and','is','to','in'])) AS n_stop_distinct,
        |  list_max([len(list_filter(ws, x -> x = d))
        |    FOR d IN list_distinct(ws)])::DOUBLE / len(ws)
        |    AS top_word_frac
        | FROM w)
        |SELECT doc_id, n_words, mean_wlen, symbol_word_frac,
        |  ellipsis_word_frac, n_stop_distinct, top_word_frac,
        |  n_words BETWEEN 50 AND 100000 AS rule_word_count,
        |  mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS rule_mean_wlen,
        |  symbol_word_frac <= 0.1 AS rule_symbols,
        |  ellipsis_word_frac <= 0.3 AS rule_ellipsis,
        |  n_stop_distinct >= 2 AS rule_stopwords,
        |  top_word_frac <= 0.2 AS rule_top_word,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND (mean_wlen >= 3.0 AND mean_wlen <= 10.0)
        |    AND symbol_word_frac <= 0.1 AND ellipsis_word_frac <= 0.3
        |    AND n_stop_distinct >= 2 AND top_word_frac <= 0.2
        |    AS gopher_ok
        |FROM s""".stripMargin,
    // epochOrder mirror: same per-lang hash rank, per-round counts
    // prefix-summed (window over the tiny sz CTE = the broadcast
    // offsets join), same within-round (lang, doc_id) rank.
    "p10_epoch_order" ->
      s"""WITH r AS (SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY ${h60("'epoch|' || text")}, doc_id)::BIGINT
         |    AS round
         |  FROM documents),
         |sz AS (SELECT round, count(*) AS c FROM r GROUP BY round),
         |off AS (SELECT round, coalesce(sum(c) OVER (ORDER BY round
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |  AS off FROM sz)
         |SELECT r.doc_id, r.lang, r.round,
         |  (off.off + row_number() OVER (PARTITION BY r.round
         |    ORDER BY r.lang, r.doc_id))::BIGINT AS epoch_pos
         |FROM r JOIN off ON off.round = r.round""".stripMargin,
    // rangeSearch mirror: the s01 scored CTE without the top-k window,
    // thresholded on the identical left-fold cosine.
    "s12_range_search" ->
      (embCte +
        s""", q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 10)
           |SELECT * FROM (
           | SELECT a.q_id, b.vec_id AS nbr_id,
           |  $pairDot / (a.nrm * b.nrm) AS sim
           | FROM (SELECT q_id, v, nrm FROM q) a
           | CROSS JOIN n b WHERE b.vec_id <> a.q_id)
           |WHERE sim >= 0.2""".stripMargin),
    // groupQuantiles mirror: the oracle may use the plain per-group
    // window (DuckDB is single-node); percentile_disc rank ⌈q·n⌉ with
    // the identical (value, orderkey, linenumber) total order.
    "q35_group_quantiles" ->
      """WITH b AS (SELECT l_returnflag AS g, l_quantity AS v,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS rk,
        |  count(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM lineitem)
        |SELECT g AS l_returnflag,
        |  max(CASE WHEN rk = ceil(0.25*n) THEN v END) AS p25,
        |  max(CASE WHEN rk = ceil(0.5*n) THEN v END) AS p50,
        |  max(CASE WHEN rk = ceil(0.75*n) THEN v END) AS p75,
        |  max(n)::BIGINT AS n
        |FROM b GROUP BY g""".stripMargin,
    // kcorePeel mirror: g11's edge CTE + the 3 peel rounds unrolled
    // verbatim (degree agg → keep set → both-endpoint restriction).
    // MATERIALIZED is load-bearing, not a hint: DuckDB inlines plain
    // CTEs per reference, and each round reads its predecessor 3×, so
    // the unrolled chain re-evaluates the wedge join ~3^rounds times —
    // fine at sf0.01, a >300 s / 57 GB spill at sf0.1 (r13 scale
    // sanity); materialized it is 0.7 s with identical output.
    "g15_kcore" -> {
      val edges =
        """os AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |  l_suppkey AS s FROM lineitem),
          |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
          |osk AS MATERIALIZED (SELECT os.o, os.s FROM os JOIN ok USING (o)),
          |e0 AS MATERIALIZED (SELECT x.s AS a, y.s AS b
          |  FROM osk x JOIN osk y
          |  ON x.o = y.o AND x.s < y.s
          |  GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin
      val rounds = (1 to 3).map { r =>
        val prev = s"e${r - 1}"
        s""",
           |d$r AS (SELECT v, count(*) AS deg FROM (
           |  SELECT a AS v FROM $prev UNION ALL SELECT b FROM $prev)
           |  GROUP BY v),
           |k$r AS MATERIALIZED (SELECT v FROM d$r WHERE deg >= 2),
           |e$r AS MATERIALIZED (SELECT a, b FROM $prev
           |  WHERE a IN (SELECT v FROM k$r)
           |  AND b IN (SELECT v FROM k$r))""".stripMargin
      }.mkString
      s"WITH $edges$rounds\n" +
        """SELECT v AS vertex, count(*) AS deg FROM (
          |  SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3)
          |GROUP BY v""".stripMargin
    },
    // kTrussPeel mirror: g15's co-supplier edge chain, then per peel
    // round the canonical-triangle 3-way join (x<y<z, so the three
    // edges are already id-ordered), the 3-edge credit union, the
    // support filter. Support-0 edges need no special casing: absent
    // from sup_r means dropped, and k−2 ≥ 1.
    "g22_ktruss" -> {
      val edges =
        """os AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |  l_suppkey AS s FROM lineitem),
          |ok AS (SELECT o FROM os GROUP BY o HAVING count(*) <= 100),
          |osk AS MATERIALIZED (SELECT os.o, os.s FROM os JOIN ok USING (o)),
          |e0 AS MATERIALIZED (SELECT x.s AS a, y.s AS b
          |  FROM osk x JOIN osk y
          |  ON x.o = y.o AND x.s < y.s
          |  GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin
      val rounds = (0 until 2).map { r =>
        s""",
           |tri$r AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM e$r e1 JOIN e$r e2
           |    ON e2.a = e1.a AND e2.b > e1.b
           |  JOIN e$r e3 ON e3.a = e1.b AND e3.b = e2.b),
           |sup$r AS MATERIALIZED (SELECT a, b, count(*)::BIGINT AS support
           |  FROM (SELECT x AS a, y AS b FROM tri$r
           |    UNION ALL SELECT x, z FROM tri$r
           |    UNION ALL SELECT y, z FROM tri$r)
           |  GROUP BY 1, 2),
           |e${r + 1} AS MATERIALIZED (SELECT a, b FROM sup$r
           |  WHERE support >= 2)""".stripMargin
      }.mkString
      s"WITH $edges$rounds\n" +
        "SELECT a, b, support FROM sup1 WHERE support >= 2"
    },
    // centroidAssign mirror: the s07 centroid CTE collapsed to
    // per-label arrays, the identical left-fold cosine against each,
    // argmax via (sim DESC, label ASC) rank.
    "s13_centroid_assign" ->
      (embCte +
        s""", x AS (SELECT label, unnest([{'d': i,
           |    'q': floor(v[i] * 1000000)::BIGINT}
           |  FOR i IN range(1, len(v)+1)]) AS s FROM e),
           |g AS (SELECT label, s.d::BIGINT AS dim,
           |  sum(s.q)::BIGINT AS qsum, count(*) AS n_vecs
           |  FROM x GROUP BY label, s.d),
           |cent AS (SELECT label, dim,
           |  qsum::DOUBLE / 1000000 / n_vecs AS centroid FROM g),
           |carr AS (SELECT label, list(centroid ORDER BY dim) AS cv
           |  FROM cent GROUP BY label),
           |scored AS (SELECT n.vec_id, n.label AS tl, c.label AS cand,
           |  ${pairDot.replace("b.v[i]", "c.cv[i]").replace("a.v", "n.v")} /
           |  (n.nrm * sqrt(${foldSum("[x*x FOR x IN c.cv]")})) AS sim
           |  FROM n CROSS JOIN carr c),
           |best AS (SELECT *, row_number() OVER (PARTITION BY vec_id
           |  ORDER BY sim DESC, cand ASC) AS rk FROM scored)
           |SELECT vec_id, tl::BIGINT AS true_label,
           |  cand::BIGINT AS pred_label, sim, tl = cand AS agree
           |FROM best WHERE rk = 1""".stripMargin),
    // dedupWeights mirror: the d08/d11 cluster CTE + per-cluster
    // counts, singletons weigh 1.0.
    "d16_dedup_weights" ->
      (dupClustersCte +
        """, csz AS (SELECT cluster_rep, count(*) AS csz FROM clus
          |  GROUP BY cluster_rep)
          |SELECT d.doc_id, coalesce(csz.csz, 1)::BIGINT AS cluster_size,
          |  1.0::DOUBLE / coalesce(csz.csz, 1) AS weight
          |FROM documents d
          |LEFT JOIN clus ON clus.doc_id = d.doc_id
          |LEFT JOIN csz ON csz.cluster_rep = clus.cluster_rep"""
          .stripMargin),
    // imageFilter mirror: the m02 decode-stub CTE + the same rule
    // thresholds; aspect is one int-over-int double division.
    "m06_image_filter" ->
      s"""WITH h AS (SELECT doc_id, octet_length(encode(text)) AS blen,
         |  ${h60("text")} AS h FROM documents),
         |meta AS (SELECT doc_id, blen::BIGINT AS byte_len,
         |  64 + h % 193 AS width, 64 + (h // 193) % 129 AS height
         | FROM h)
         |SELECT doc_id, byte_len, width, height,
         |  greatest(width, height)::DOUBLE / least(width, height)
         |    AS aspect,
         |  width >= 96 AND height >= 96 AS rule_min_dim,
         |  greatest(width, height)::DOUBLE / least(width, height) <= 2.0
         |    AS rule_aspect,
         |  byte_len >= 64 AS rule_bytes,
         |  width >= 96 AND height >= 96
         |    AND greatest(width, height)::DOUBLE / least(width, height)
         |      <= 2.0
         |    AND byte_len >= 64 AS image_ok
         |FROM meta""".stripMargin,
    // lshDetectionCurve mirror: d05's capped block-pair CTE on
    // k-shingle sets + the d03 candidate CTE left-joined on the pair
    // key; the polynomial stays left-associated multiplication in
    // both engines (no pow()).
    "d19_lsh_curve" -> {
      import graft.functions.Canon.{AffineA, AffineB, MersenneP => P}
      val sigs = (0 until 8).map(s =>
        s"  list_min([(h * ${AffineA(s)} + ${AffineB(s)}) % $P FOR h IN hs]) AS m$s")
        .mkString(",\n")
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      val miss = "(1.0 - jaccard * jaccard)"
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents),
         |hw AS (SELECT doc_id, source,
         |  [${h60("x")} % $P FOR x IN w] AS hw FROM w),
         |hb AS (SELECT doc_id, source,
         |  [((hw[i]*31 + hw[i+1])*31 + hw[i+2]) % $P
         |   FOR i IN range(1, len(hw)-1)] AS hs FROM hw),
         |dsx AS (SELECT doc_id, source, list_distinct(hs) AS ds
         |  FROM hb WHERE len(hs) > 0),
         |small AS (SELECT source FROM documents
         |  GROUP BY source HAVING count(*) <= 10000),
         |d AS (SELECT dsx.* FROM dsx JOIN small USING (source)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.ds, b.ds)) /
         |    (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds)))
         |    AS jaccard
         |  FROM d a JOIN d b
         |  ON a.source = b.source AND a.doc_id < b.doc_id),
         |sig AS (SELECT doc_id,
         |$sigs
         | FROM hb),
         |banded AS (SELECT doc_id,
         |  unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
         |$cappedCte,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |  ON a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT p.doc_a, p.doc_b, p.jaccard,
         |  1.0 - $miss * $miss * $miss * $miss AS p_detect,
         |  cand.doc_a IS NOT NULL AS was_candidate
         |FROM p LEFT JOIN cand
         | ON p.doc_a = cand.doc_a AND p.doc_b = cand.doc_b""".stripMargin
    },
    // normHistogram mirror: the shared embedding-norm CTE + floor
    // bucketing (sqrt correctly rounded in both engines).
    "s15_norm_hist" ->
      (embCte +
        """SELECT floor(nrm * 16)::BIGINT AS bucket,
          |  count(*) AS n_vectors
          |FROM n GROUP BY 1""".stripMargin),
    // curriculumOrder mirror: single global window (fine at oracle
    // scale) over the same (difficulty, md5, id) total order.
    "p13_curriculum" ->
      """WITH d AS (SELECT doc_id,
        |  list_sum([len(x) FOR x IN string_split(text, ' ')])
        |    ::BIGINT::DOUBLE / len(string_split(text, ' '))
        |    AS difficulty,
        |  md5(text) AS tb FROM documents)
        |SELECT doc_id, difficulty,
        |  row_number() OVER (ORDER BY difficulty, tb, doc_id)
        |    AS curriculum_pos
        |FROM d""".stripMargin,
    // windowDupFrac mirror: t10's CTE shape WITHOUT the per-doc
    // distinct (positions keep multiplicity) at k=5, dup = count > 1.
    "d20_window_dup" -> {
      import graft.functions.Canon.{MersenneP => P}
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT doc_id,
         |  [((((hw[i]*31 + hw[i+1])*31 + hw[i+2])*31 + hw[i+3])*31
         |     + hw[i+4]) % $P
         |   FOR i IN range(1, len(hw)-3)] AS sh FROM w),
         |x AS (SELECT doc_id, unnest(sh) AS sh FROM s),
         |dup AS (SELECT sh FROM x GROUP BY sh HAVING count(*) > 1),
         |pd AS (SELECT x.doc_id, count(*) AS n_windows,
         |  count(dup.sh) AS n_dup_windows
         | FROM x LEFT JOIN dup ON x.sh = dup.sh
         | GROUP BY x.doc_id)
         |SELECT doc_id, n_windows, n_dup_windows,
         | n_dup_windows::DOUBLE / n_windows AS dup_frac
         |FROM pd""".stripMargin
    },
    // windowDupRemoval mirror: the d20 CTE + threshold filter over the
    // corpus (left join keeps sub-k-word docs: no windows, no evidence).
    "d21_window_dup_removal" -> {
      import graft.functions.Canon.{MersenneP => P}
      s"""WITH w AS (SELECT doc_id,
         |  [${h60("x")} % $P FOR x IN string_split(text, ' ')] AS hw
         | FROM documents),
         |s AS (SELECT doc_id,
         |  [((((hw[i]*31 + hw[i+1])*31 + hw[i+2])*31 + hw[i+3])*31
         |     + hw[i+4]) % $P
         |   FOR i IN range(1, len(hw)-3)] AS sh FROM w),
         |x AS (SELECT doc_id, unnest(sh) AS sh FROM s),
         |dup AS (SELECT sh FROM x GROUP BY sh HAVING count(*) > 1),
         |pd AS (SELECT x.doc_id, count(*) AS n_windows,
         |  count(dup.sh) AS n_dup_windows
         | FROM x LEFT JOIN dup ON x.sh = dup.sh
         | GROUP BY x.doc_id)
         |SELECT d.doc_id, d.text,
         | coalesce(pd.n_windows, 0) AS n_windows,
         | coalesce(pd.n_dup_windows, 0) AS n_dup_windows,
         | coalesce(pd.n_dup_windows::DOUBLE / pd.n_windows, 0.0)
         |   AS dup_frac
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |WHERE coalesce(pd.n_dup_windows::DOUBLE / pd.n_windows, 0.0)
         |  <= 0.5""".stripMargin
    },
    // windowDupMask mirror: d20's window CTE WITH start indexes; a
    // word position p is masked iff a duplicated window starts in
    // (p-5, p]; text rebuilt from the kept positions.
    "d22_window_dup_mask" -> {
      import graft.functions.Canon.{MersenneP => P}
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w
         | FROM documents),
         |hwt AS (SELECT doc_id, w,
         |  [${h60("x")} % $P FOR x IN w] AS hw FROM w0),
         |s AS (SELECT doc_id, w,
         |  [{'s': i, 'h': ((((hw[i]*31 + hw[i+1])*31 + hw[i+2])*31
         |     + hw[i+3])*31 + hw[i+4]) % $P}
         |   FOR i IN range(1, len(hw)-3)] AS sh FROM hwt),
         |x AS (SELECT doc_id, unnest(sh) AS e FROM s),
         |xx AS (SELECT doc_id, e.s AS s, e.h AS sh FROM x),
         |dup AS (SELECT sh FROM xx GROUP BY sh HAVING count(*) > 1),
         |st AS (SELECT doc_id, list(s ORDER BY s) AS starts
         |  FROM xx JOIN dup USING (sh) GROUP BY doc_id),
         |j AS (SELECT w0.doc_id, w0.w,
         |  coalesce(st.starts, []) AS starts
         | FROM w0 LEFT JOIN st ON w0.doc_id = st.doc_id),
         |m AS (SELECT doc_id, w,
         |  list_filter(range(1, len(w)+1), p ->
         |    len(list_filter(starts, q -> q <= p AND p < q + 5)) = 0)
         |    AS kept
         | FROM j)
         |SELECT doc_id, len(w)::BIGINT AS n_tokens,
         | (len(w) - len(kept))::BIGINT AS n_masked,
         | coalesce(
         |   array_to_string(list_transform(kept, p -> w[p]), ' '), '')
         |   AS text_masked
         |FROM m""".stripMargin
    },
    // visionTokens mirror: the m02 stub CTE + patch-grid arithmetic.
    "m08_vision_tokens" ->
      s"""WITH h AS (SELECT doc_id, ${h60("text")} AS h FROM documents),
         |meta AS (SELECT doc_id, 64 + h % 193 AS width,
         |  64 + (h // 193) % 129 AS height FROM h)
         |SELECT doc_id, width, height,
         |  (width // 32) * (height // 32) AS n_patches,
         |  (width // 32) * (height // 32) + 1 AS vision_tokens,
         |  (width // 32) * (height // 32) + 1 <= 64 AS fits_budget
         |FROM meta""".stripMargin,
    // multimodalPack mirror: the m02 stub-dims CTE feeding m08's
    // patch arithmetic, joined into p06's shard/ord running-sum
    // layout over the combined token count.
    "m09_multimodal_pack" ->
      s"""WITH h AS (SELECT doc_id, ${h60("text")} AS h FROM documents),
         |vis AS (SELECT doc_id,
         |  ((64 + h % 193) // 32) * ((64 + (h // 193) % 129) // 32) + 1
         |    AS vision_tokens FROM h),
         |b AS (SELECT doc_id,
         |  len(string_split(text, ' '))::BIGINT AS text_tokens,
         |  ${h60("md5('mpack|' || text)")} % 64 AS shard,
         |  ${h60("md5(text)")} AS ord FROM documents),
         |j AS (SELECT b.doc_id, b.shard, b.ord, b.text_tokens,
         |  v.vision_tokens, b.text_tokens + v.vision_tokens AS n_tokens
         | FROM b JOIN vis v ON b.doc_id = v.doc_id),
         |c AS (SELECT *, coalesce(sum(n_tokens) OVER (
         |   PARTITION BY shard ORDER BY ord, doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |   0)::BIGINT AS tok_start FROM j)
         |SELECT doc_id, shard, text_tokens, vision_tokens, n_tokens,
         | tok_start // 2048 AS seq_id, tok_start % 2048 AS tok_offset,
         | (tok_start + n_tokens - 1) // 2048 - tok_start // 2048 + 1
         |   AS n_seqs_spanned
         |FROM c""".stripMargin,
    // importanceWeights mirror: same u|/b| hashed feature streams,
    // bucket counts with target filter, and the EXACT fixed-point
    // per-feature ratio (ct+1)*1e6 // (cr+1) — integer floor division
    // in both engines (all operands positive), so the long sums agree
    // bit-for-bit and only the final division is a double.
    "t18_dsir_weights" ->
      (s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |  FROM documents),
         |f AS (SELECT doc_id, lang, unnest(
         |   list_concat(['u|' || x FOR x IN w],
         |     ['b|' || w[i] || ' ' || w[i+1]
         |      FOR i IN range(1, len(w))])) AS f FROM w),
         |b AS (SELECT doc_id, lang, ${h60("f")} % 1024 AS b FROM f),
         |lm AS (SELECT b, count(*)::BIGINT AS cr,
         |   count(*) FILTER (WHERE lang = 'en')::BIGINT AS ct
         |  FROM b GROUP BY b)
         |SELECT doc_id, count(*)::BIGINT AS n_feats,
         |  (sum((ct + 1) * 1000000 // (cr + 1)))::DOUBLE / 1000000
         |    / count(*) AS dsir_score
         |FROM b JOIN lm USING (b)
         |GROUP BY doc_id""".stripMargin),
    // perplexity mirror: t13/t14's pair fan-out, add-one smoothing,
    // ln of ONE exact-int division quantized to micro-nats (the s32
    // fixed-point convention), mirrored operand order on the mean.
    // pmiCollocations mirror: bigram counts, positional rollups,
    // the mirrored-operand (c12·N as double)/(c1·c2 as double) ratio,
    // micro-nat quantization, total-order top-50.
    "t25_pmi_collocations" ->
      s"""WITH w AS (SELECT string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |p0 AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
        |    FOR i IN range(1, len(w))]) AS p FROM w),
        |pp AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM p0),
        |big AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pp
        |  GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM big GROUP BY w1),
        |c2 AS (SELECT w2, sum(c12)::BIGINT AS c2 FROM big GROUP BY w2),
        |nn AS (SELECT sum(c12)::BIGINT AS n FROM big)
        |SELECT w1, w2, c12, c1, c2,
        |  floor(ln((c12::DOUBLE * n) / (c1::DOUBLE * c2)) * 1000000)
        |    ::BIGINT AS pmi_micro
        |FROM big JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nn
        |WHERE c12 >= ${TextAnalysis.PmiMinCount}
        |ORDER BY pmi_micro DESC, w1, w2
        |LIMIT ${TextAnalysis.PmiTopK}""".stripMargin,
    "t19_perplexity" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |p0 AS (SELECT doc_id, unnest([{'w1': w[i], 'w2': w[i+1]}
        |    FOR i IN range(1, len(w))]) AS p FROM w),
        |pp AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM p0),
        |ctx AS (SELECT w1, count(*)::BIGINT AS c1 FROM pp GROUP BY w1),
        |big AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pp
        |  GROUP BY w1, w2),
        |vn AS (SELECT count(DISTINCT word)::BIGINT AS v FROM
        |  (SELECT unnest(string_split(text, ' ')) AS word
        |   FROM documents)),
        |sc AS (SELECT doc_id,
        |   floor(ln((c1 + v)::DOUBLE / (c12 + 1)) * 1000000)::BIGINT
        |     AS sm
        |  FROM pp JOIN big USING (w1, w2) JOIN ctx USING (w1)
        |  CROSS JOIN vn)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(sm)::BIGINT AS surprisal_micro,
        |  sum(sm)::BIGINT::DOUBLE / count(*) / 1000000.0
        |    AS mean_surprisal_nats
        |FROM sc GROUP BY doc_id""".stripMargin,
    // bpeMerges mirror: the shared unrolled training chain, merge
    // table = the per-round argmax rows.
    "t20_bpe_merges" -> (bpeCtes(5) +
      "SELECT merge_round, w1, w2, w1 || w2 AS merged, pair_count\n" +
      "FROM (" +
      (1 to 5).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ") +
      ")"),
    // bpeTokenize mirror: same chain, then the learned symbol table
    // broadcast-shaped join back onto the corpus token stream.
    "t21_bpe_tokenize" -> (bpeCtes(5) +
      """,
        |sym AS (SELECT word, length(word)::BIGINT AS n_chr,
        |    len(string_split(trim(s), ' '))::BIGINT AS n_sym FROM v5),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        |SELECT doc_id, count(*)::BIGINT AS n_words,
        |  sum(n_chr)::BIGINT AS n_chars,
        |  sum(n_sym)::BIGINT AS n_bpe_tokens,
        |  sum(n_chr)::BIGINT::DOUBLE / sum(n_sym)::BIGINT
        |    AS chars_per_token
        |FROM tok JOIN sym USING (word)
        |GROUP BY doc_id""".stripMargin),
    // bpeFertility mirror: same chain + symbol table, aggregated to
    // the language dimension.
    "t22_bpe_fertility" -> (bpeCtes(5) +
      """,
        |sym AS (SELECT word, length(word)::BIGINT AS n_chr,
        |    len(string_split(trim(s), ' '))::BIGINT AS n_sym FROM v5),
        |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_words,
        |  sum(n_sym)::BIGINT AS n_bpe_tokens,
        |  sum(n_sym)::BIGINT::DOUBLE / count(*) AS tokens_per_word,
        |  sum(n_chr)::BIGINT::DOUBLE / sum(n_sym)::BIGINT
        |    AS chars_per_token
        |FROM tok JOIN sym USING (word)
        |GROUP BY lang""".stripMargin),
    // mattr mirror: same bounded window walk as a list comprehension;
    // the mean stays rational (Σ distinct over window·n_windows).
    "t17_mattr" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |f AS (SELECT doc_id, w, len(w) - 9 AS n_windows FROM w
        |  WHERE len(w) >= 10),
        |s AS (SELECT doc_id, n_windows::BIGINT AS n_windows,
        |  list_sum([len(list_distinct(w[i:i+9]))
        |    FOR i IN range(1, n_windows + 1)])::BIGINT AS sd
        |  FROM f)
        |SELECT doc_id, n_windows,
        |  sd::DOUBLE / (n_windows * 10) AS mattr
        |FROM s""".stripMargin,
    "t16_readability" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, len(w) AS n_words,
        |  [greatest(1, len(regexp_extract_all(x, '[aeiou]+')))
        |   FOR x IN w] AS syl FROM w)
        |SELECT doc_id, n_words::BIGINT AS n_words,
        |  list_sum(syl)::BIGINT AS n_syllables,
        |  len(list_filter(syl, x -> x >= 3))::DOUBLE / n_words
        |    AS complex_frac,
        |  list_sum(syl)::BIGINT::DOUBLE / n_words AS mean_syl
        |FROM s""".stripMargin,
    "m07_aspect_bucket" -> {
      import graft.operators.Multimodal.AspectLadder
      val prod = AspectLadder.map(_._3).product
      val scores = AspectLadder.zipWithIndex.map { case ((_, n, d), i) =>
        s"abs(l*$d - $n*s) * ${prod / d} AS s$i"
      }
      val chain = AspectLadder.init.zipWithIndex.map { case ((name, _, _), i) =>
        val later = (i + 1 until AspectLadder.size).map(j => s"s$j")
        val minLater =
          if (later.sizeIs == 1) later.head else s"least(${later.mkString(",")})"
        s"WHEN s$i <= $minLater THEN '$name'"
      }
      s"""WITH h AS (SELECT doc_id, ${h60("text")} AS h FROM documents),
         |meta AS (SELECT doc_id, 64 + h % 193 AS width,
         |  64 + (h // 193) % 129 AS height FROM h),
         |ls AS (SELECT doc_id, width, height,
         |  greatest(width, height) AS l, least(width, height) AS s
         | FROM meta),
         |sc AS (SELECT doc_id, width, height,
         |  ${scores.mkString(",\n  ")}
         | FROM ls)
         |SELECT doc_id, width, height,
         |  CASE WHEN width >= height THEN 'landscape' ELSE 'portrait' END
         |    AS orientation,
         |  CASE ${chain.mkString("\n       ")}
         |       ELSE '${AspectLadder.last._1}' END AS bucket
         |FROM sc""".stripMargin
    },
    // smartResize mirror: the m07 md5 meta CTE, integer snap, the
    // same one-sqrt-per-branch IEEE chain, floor/ceil to BIGINT.
    "m10_smart_resize" -> {
      // geometry constants shared with the entry (the s32 lesson)
      val f = Multimodal.ResizeFactor
      val p = f / 2
      val minP = Multimodal.ResizeMinPixels
      val maxP = Multimodal.ResizeMaxPixels
      s"""WITH h AS (SELECT doc_id, ${h60("text")} AS h FROM documents),
         |meta AS (SELECT doc_id, 64 + h % 193 AS width,
         |  64 + (h // 193) % 129 AS height FROM h),
         |r AS (SELECT doc_id, width, height,
         |  ((height + $p) // $f) * $f AS hb,
         |  ((width + $p) // $f) * $f AS wb FROM meta),
         |t AS (SELECT doc_id, width, height,
         |  CASE WHEN hb * wb > $maxP THEN greatest(
         |    floor(height / sqrt((height * width)::DOUBLE / $maxP) / $f)
         |      ::BIGINT * $f, $f)
         |   WHEN hb * wb < $minP THEN ceil(
         |    height * sqrt($minP.0 / (height * width)) / $f)
         |      ::BIGINT * $f
         |   ELSE hb END AS target_h,
         |  CASE WHEN hb * wb > $maxP THEN greatest(
         |    floor(width / sqrt((height * width)::DOUBLE / $maxP) / $f)
         |      ::BIGINT * $f, $f)
         |   WHEN hb * wb < $minP THEN ceil(
         |    width * sqrt($minP.0 / (height * width)) / $f)
         |      ::BIGINT * $f
         |   ELSE wb END AS target_w
         | FROM r)
         |SELECT doc_id, width, height, target_h, target_w,
         | (target_w // $p) * (target_h // $p) AS n_patches,
         | ((target_w // $p) * (target_h // $p)) // 4 AS n_tokens
         |FROM t""".stripMargin
    },
    // mediaNearDupSurvivors mirror: byte-4-gram features (char substr
    // ≡ byte slice under the corpus's ASCII payloads — the same
    // equivalence m01's head_hex pins), d04's 64-fold simhash, d09's
    // band/cap/verify, d08's recursive closure, d12's survivors
    // argmax with byte_len in place of n_tokens.
    "m11_media_neardup" -> {
      s"""WITH RECURSIVE mdocs AS (SELECT doc_id, text FROM documents
         | WHERE octet_length(encode(text)) >= 4),
         |${mediaClosureCtes("mdocs")},
         |blen AS (SELECT doc_id,
         |  octet_length(encode(text))::BIGINT AS byte_len
         |  FROM documents),
         |j AS (SELECT c.cluster_rep, c.doc_id, b.byte_len
         |  FROM clus c JOIN blen b USING (doc_id))
         |SELECT cluster_rep, canonical_doc_id, canonical_bytes,
         | n_docs, n_docs - 1 AS n_removed FROM (
         | SELECT cluster_rep, doc_id AS canonical_doc_id,
         |  byte_len AS canonical_bytes,
         |  count(*) OVER (PARTITION BY cluster_rep) AS n_docs,
         |  row_number() OVER (PARTITION BY cluster_rep
         |    ORDER BY byte_len DESC, doc_id) AS rk
         | FROM j) WHERE rk = 1""".stripMargin
    },
    // multimodalFunnel mirror: the m02 stub-dims CTE feeding m06's
    // rule conjunction and m08's token arithmetic into per-doc flags,
    // the shared mediaClosureCtes chain restricted to the stage-1
    // survivors, m11's canonical argmax as a window, and the four
    // stage rows as conditional-sum UNION ALL branches.
    "m12_multimodal_funnel" -> {
      val dtv = """count(*)::BIGINT,
         |  coalesce(sum(byte_len), 0)::BIGINT,
         |  coalesce(sum(vision_tokens), 0)::BIGINT
         | FROM marked""".stripMargin
      s"""WITH RECURSIVE h AS (SELECT doc_id,
         |  octet_length(encode(text)) AS blen, ${h60("text")} AS h
         | FROM documents),
         |meta AS (SELECT doc_id, blen::BIGINT AS byte_len,
         |  64 + h % 193 AS width, 64 + (h // 193) % 129 AS height
         | FROM h),
         |flags AS (SELECT doc_id, byte_len,
         |  (width // 32) * (height // 32) + 1 AS vision_tokens,
         |  width >= 96 AND height >= 96
         |   AND greatest(width, height)::DOUBLE / least(width, height)
         |     <= 2.0
         |   AND byte_len >= 64 AS ok
         | FROM meta),
         |sdocs AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN flags f USING (doc_id)
         |  WHERE f.ok AND f.byte_len >= 4),
         |${mediaClosureCtes("sdocs")},
         |canon AS (SELECT doc_id FROM (
         |  SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster_rep
         |    ORDER BY f.byte_len DESC, c.doc_id) AS rk
         |  FROM clus c JOIN flags f USING (doc_id)) WHERE rk = 1),
         |nd AS (SELECT c.doc_id FROM clus c
         |  LEFT JOIN canon k ON k.doc_id = c.doc_id
         |  WHERE k.doc_id IS NULL),
         |marked AS (SELECT f.doc_id, f.byte_len, f.vision_tokens, f.ok,
         |  (n.doc_id IS NOT NULL) AS is_nd
         | FROM flags f LEFT JOIN nd n ON n.doc_id = f.doc_id)
         |SELECT 0::BIGINT AS stage, 'raw' AS stage_name,
         |  count(*)::BIGINT AS n_docs,
         |  coalesce(sum(byte_len), 0)::BIGINT AS n_bytes,
         |  coalesce(sum(vision_tokens), 0)::BIGINT AS n_vision_tokens
         | FROM marked
         |UNION ALL
         |SELECT 1::BIGINT, 'image_rules', $dtv WHERE ok
         |UNION ALL
         |SELECT 2::BIGINT, 'neardup_canonical', $dtv
         |  WHERE ok AND NOT is_nd
         |UNION ALL
         |SELECT 3::BIGINT, 'token_budget', $dtv
         |  WHERE ok AND NOT is_nd AND vision_tokens <= 24""".stripMargin
    },
    "p11_length_gate" ->
      """WITH t AS (SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |thr AS (SELECT percentile_disc(0.25)
        |  WITHIN GROUP (ORDER BY n_tokens) AS thr FROM t)
        |SELECT doc_id, n_tokens FROM t, thr WHERE n_tokens >= thr.thr""".stripMargin,
    "d17_jaccard_est" -> {
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      val agree = (0 until 8)
        .map(s => s"CASE WHEN a.m$s = b.m$s THEN 1 ELSE 0 END")
        .mkString(" + ")
      val inter = "len(list_intersect(a.ds, b.ds))"
      val exact = s"$inter::DOUBLE / (len(a.ds) + len(b.ds) - $inter)"
      minhashCte +
        s""", banded AS (SELECT doc_id,
           | unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
           |$cappedCte,
           |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM capped a JOIN capped b
           |  ON a.bk = b.bk AND a.doc_id < b.doc_id),
           |ds AS (SELECT doc_id, list_distinct(hs) AS ds FROM hb),
           |side AS (SELECT sig.*, ds.ds FROM sig JOIN ds USING (doc_id))
           |SELECT doc_a, doc_b,
           | ($agree) / 8.0 AS est_jaccard,
           | $exact AS exact_jaccard,
           | abs(($agree) / 8.0 - $exact) AS est_err
           |FROM pairs JOIN side a ON pairs.doc_a = a.doc_id
           |  JOIN side b ON pairs.doc_b = b.doc_id""".stripMargin
    },
    // editDistancePairs mirror: the d17 candidate chain joined back
    // to texts; the length-filter CASE mirrors the kernel skip
    // (integer algebra), sim_pct is exact integer percent.
    "d31_edit_distance" -> {
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      minhashCte +
        s""", banded AS (SELECT doc_id,
           | unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
           |$cappedCte,
           |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM capped a JOIN capped b
           |  ON a.bk = b.bk AND a.doc_id < b.doc_id),
           |side AS (SELECT doc_id, text, len(text)::BIGINT AS l
           |  FROM documents),
           |lv AS (SELECT doc_a, doc_b,
           |  CASE WHEN (greatest(a.l, b.l) - least(a.l, b.l)) * 100
           |         > ${100 - Dedup.EditTauPct} * greatest(a.l, b.l)
           |       THEN NULL
           |       ELSE levenshtein(a.text, b.text)::BIGINT END
           |    AS lev_dist,
           |  greatest(a.l, b.l) AS max_len
           | FROM pairs JOIN side a ON pairs.doc_a = a.doc_id
           |  JOIN side b ON pairs.doc_b = b.doc_id)
           |SELECT doc_a, doc_b, lev_dist, max_len,
           | ((max_len - lev_dist) * 100) // max_len AS sim_pct,
           | coalesce(((max_len - lev_dist) * 100) // max_len
           |   >= ${Dedup.EditTauPct}, false) AS is_dup
           |FROM lv""".stripMargin
    },
    // semanticDecontaminate mirror: embCte split on vec_id % 7, the
    // shared ivfChainCtes with the index built on the BATCH side and
    // every benchmark vector probing its 2 nearest cells, the m11-
    // style per-cell probe cap, then the exact cosine verify rolled
    // up per batch doc (count + max) and the tau verdict — d10's
    // left-join/coalesce verdict shape.
    "d32_semantic_decontaminate" ->
      (embCte +
        s""", bt AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 7 <> 0),
           |bm AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 7 = 0),
           |${ivfChainCtes("bt", "bm", "", 2)},
           |pcap AS (SELECT q_id, qv, qnrm, cell FROM (
           |  SELECT *, count(*) OVER (PARTITION BY cell) AS bsz
           |  FROM probes) WHERE bsz <= 10000),
           |hits AS (SELECT b.vec_id, count(*)::BIGINT AS nc,
           |  max(${foldSum(
                "[b.v[i] * p.qv[i] FOR i IN range(1, len(b.v)+1)]")}
           |    / (b.nrm * p.qnrm)) AS mc
           | FROM asg b JOIN pcap p USING (cell)
           | GROUP BY b.vec_id)
           |SELECT d.vec_id, coalesce(nc, 0)::BIGINT AS n_bench_candidates,
           | mc AS max_cos,
           | coalesce(mc >= 0.8, false) AS contaminated
           |FROM bt d LEFT JOIN hits ON hits.vec_id = d.vec_id"""
          .stripMargin),
    // decontaminationRecall mirror: the shared chain at maxProbe = 4
    // with the probes CTE's rank column, per-doc cheapest catching
    // rank, the exact brute truth pass, and the grid-complete
    // per-budget rollup.
    "d33_decontamination_recall" ->
      (embCte +
        s""", bt AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 7 <> 0),
           |bm AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 7 = 0),
           |${ivfChainCtes("bt", "bm", "", 4)},
           |flag AS (SELECT b.vec_id, min(p.pr)::BIGINT AS min_pr
           | FROM asg b JOIN probes p USING (cell)
           | WHERE ${foldSum(
                "[b.v[i] * p.qv[i] FOR i IN range(1, len(b.v)+1)]")}
           |    / (b.nrm * p.qnrm) >= 0.35
           | GROUP BY b.vec_id),
           |tr AS (SELECT count(DISTINCT a.vec_id)::BIGINT AS n_true
           | FROM bt a JOIN bm q ON ${foldSum(
                "[a.v[i] * q.v[i] FOR i IN range(1, len(a.v)+1)]")}
           |    / (a.nrm * q.nrm) >= 0.35),
           |g AS (SELECT unnest([1, 2, 4]) AS n_probe),
           |fc AS (SELECT g.n_probe, count(*)::BIGINT AS n_flagged
           | FROM g JOIN flag f ON f.min_pr <= g.n_probe
           | GROUP BY g.n_probe)
           |SELECT g.n_probe::INT AS n_probe, tr.n_true,
           | coalesce(fc.n_flagged, 0)::BIGINT AS n_flagged,
           | CASE WHEN tr.n_true > 0 THEN
           |   coalesce(fc.n_flagged, 0)::DOUBLE / tr.n_true END AS recall
           |FROM g CROSS JOIN tr LEFT JOIN fc ON fc.n_probe = g.n_probe"""
          .stripMargin),
    // bbitMinhashPairs mirror (b=2): d17's chain with the extra low-
    // 2-bit agreement count and the (4·A − 8)/(8·3) corrected
    // estimator — same single-division IEEE discipline.
    "d30_bbit_minhash" -> {
      val bands = (0 until 4).map(j =>
        s"md5(concat_ws('|', '$j', m${2 * j}::VARCHAR, m${2 * j + 1}::VARCHAR))")
      val agreeF = (0 until 8)
        .map(s => s"CASE WHEN a.m$s = b.m$s THEN 1 ELSE 0 END")
        .mkString(" + ")
      val mask = 1 << Dedup.BbitB // shared with the entry (s32 lesson)
      val agreeB = (0 until 8)
        .map(s =>
          s"CASE WHEN a.m$s % $mask = b.m$s % $mask THEN 1 ELSE 0 END")
        .mkString(" + ")
      val inter = "len(list_intersect(a.ds, b.ds))"
      val exact = s"$inter::DOUBLE / (len(a.ds) + len(b.ds) - $inter)"
      minhashCte +
        s""", banded AS (SELECT doc_id,
           | unnest([${bands.mkString(",\n  ")}]) AS bk FROM sig WHERE m0 IS NOT NULL),
           |$cappedCte,
           |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM capped a JOIN capped b
           |  ON a.bk = b.bk AND a.doc_id < b.doc_id),
           |ds AS (SELECT doc_id, list_distinct(hs) AS ds FROM hb),
           |side AS (SELECT sig.*, ds.ds FROM sig JOIN ds USING (doc_id))
           |SELECT doc_a, doc_b,
           | ($agreeF) / 8.0 AS est_full,
           | (($agreeB) * $mask - 8)::DOUBLE / ${8 * (mask - 1)}.0
           |   AS est_bbit,
           | $exact AS exact_jaccard,
           | abs(($agreeF) / 8.0 - $exact) AS err_full,
           | abs((($agreeB) * $mask - 8)::DOUBLE / ${8 * (mask - 1)}.0
           |   - $exact) AS err_bbit
           |FROM pairs JOIN side a ON pairs.doc_a = a.doc_id
           |  JOIN side b ON pairs.doc_b = b.doc_id""".stripMargin
    },

    // --- Self-contained parity-slice oracles: fixture rows inlined as
    // VALUES (one source of truth: HeliumFixtures), transforms
    // re-derived per follower.py:145-202. The content-key md5 mirrors
    // docKey byte-for-byte: Spark to_json emits compact JSON with the
    // struct fields already name-sorted, so the oracle concatenates
    // the identical string. ---
    "h01_payment_v1_edges" ->
      s"""WITH ${graft.sources.HeliumFixtures.envelopeValuesSql},
         |t AS (SELECT block, block_time,
         |  json_extract_string(payload,'$$.hash') AS hash,
         |  CAST(json_extract(payload,'$$.amount') AS BIGINT) AS amount,
         |  json_extract_string(payload,'$$.payer') AS payer,
         |  json_extract_string(payload,'$$.payee') AS payee
         | FROM env WHERE type = 'payment_v1')
         |SELECT DISTINCT
         | md5('{"_from":"accounts/' || payer || '","_to":"accounts/' || payee ||
         |     '","amount":' || amount || ',"block":' || block ||
         |     ',"hash":"' || hash || '","timestamp":' || block_time || '}') AS _key,
         | 'accounts/' || payer AS _from, 'accounts/' || payee AS _to,
         | hash, amount, block, block_time AS "timestamp"
         |FROM t""".stripMargin,
    "h02_payment_v2_edges" ->
      s"""WITH ${graft.sources.HeliumFixtures.envelopeValuesSql},
         |t AS (SELECT block, block_time,
         |  json_extract_string(payload,'$$.hash') AS hash,
         |  json_extract_string(payload,'$$.payer') AS payer,
         |  unnest(json_transform(payload,
         |    '{"payments":[{"amount":"BIGINT","payee":"VARCHAR"}]}').payments) AS p
         | FROM env WHERE type = 'payment_v2')
         |SELECT
         | md5('{"_from":"accounts/' || payer || '","_to":"accounts/' || p.payee ||
         |     '","amount":' || p.amount || ',"block":' || block ||
         |     ',"hash":"' || hash || '","timestamp":' || block_time || '}') AS _key,
         | 'accounts/' || payer AS _from, 'accounts/' || p.payee AS _to,
         | hash, p.amount AS amount, block, block_time AS "timestamp"
         |FROM t""".stripMargin,
    "h03_receipt_edges" ->
      s"""WITH ${graft.sources.HeliumFixtures.envelopeValuesSql},
         |p0 AS (SELECT block, hash,
         |  json_transform(payload, '{"path":[{"challengee":"VARCHAR",
         |    "receipt":{"timestamp":"BIGINT","tx_power":"BIGINT"},
         |    "witnesses":[{"datarate":"VARCHAR","frequency":"DOUBLE",
         |      "gateway":"VARCHAR","is_valid":"BOOLEAN","signal":"BIGINT",
         |      "snr":"DOUBLE","timestamp":"BIGINT"}]}]}').path[1] AS p0
         | FROM env WHERE type IN ('poc_receipts_v1', 'poc_receipts_v2')),
         |w AS (SELECT block, hash, p0.challengee AS challengee,
         |  p0.receipt AS receipt, unnest(p0.witnesses) AS w
         | FROM p0)
         |SELECT
         | md5('{"_from":"hotspots/' || challengee || '","_to":"hotspots/' || w.gateway ||
         |     '","block":' || block || ',"hash":"' || hash ||
         |     '","timestamp":' || w."timestamp" || '}') AS _key,
         | 'hotspots/' || challengee AS _from, 'hotspots/' || w.gateway AS _to,
         | w.frequency AS frequency, w.datarate AS datarate,
         | CAST(w.is_valid AS VARCHAR) AS is_valid,
         | w.signal AS signal, w.snr AS snr, w."timestamp" AS "timestamp",
         | hash, block, receipt.tx_power AS tx_power,
         | (w."timestamp" - receipt."timestamp") / 1e9 AS processing_time_s
         |FROM w""".stripMargin,
    "h04_account_vertices" ->
      s"""WITH ${graft.sources.HeliumFixtures.envelopeValuesSql},
         |v1 AS (SELECT json_extract_string(payload,'$$.payer') AS a,
         |   json_extract_string(payload,'$$.payee') AS b
         |  FROM env WHERE type = 'payment_v1'),
         |v2 AS (SELECT json_extract_string(payload,'$$.payer') AS payer,
         |   payload FROM env WHERE type = 'payment_v2'),
         |v2p AS (SELECT unnest(json_transform(payload,
         |   '{"payments":[{"payee":"VARCHAR"}]}').payments).payee AS a
         |  FROM v2)
         |SELECT DISTINCT _key FROM (
         | SELECT a AS _key FROM v1 UNION ALL SELECT b FROM v1
         | UNION ALL SELECT payer FROM v2 UNION ALL SELECT a FROM v2p)""".stripMargin,
    // Stub H3 decode (Inventory.stubDecoder) re-derived exactly:
    // v = the index as a 60-bit hex value; lat/lng via the same
    // floor-div/mod folds (v >= 0, so % == floorMod and // == Java /).
    "h05_gateway_inventory" ->
      s"""WITH ${graft.sources.HeliumFixtures.inventoryValuesSql},
         |d AS (SELECT *, ('0x' || location)::BIGINT AS v FROM inv
         | WHERE address IS NOT NULL AND owner IS NOT NULL
         |   AND location IS NOT NULL AND name IS NOT NULL)
         |SELECT address AS _key, 'hotspots/' || address AS _id,
         | address, owner, location, name,
         | ((v // 180000) % 360000) / 1000.0 - 180.0 AS location_lng,
         | (v % 180000) / 1000.0 - 90.0 AS location_lat
         |FROM d""".stripMargin,
    // h07: the h03 witness-edge derivation (path[1] = path[0]-only, F7)
    // reduced to distinct (challengee, gateway) pairs, then g10's
    // unrolled integer-PageRank rounds + per-endpoint distinct-neighbor
    // degree counts, dangling witnesses entering via the vertex union.
    "h07_witness_graph" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT v.v,
           | CAST(150000 + (850000 * coalesce(c.s, 0)) // 1000000
           |   AS BIGINT) AS rank
           | FROM v LEFT JOIN (
           |  SELECT dst, sum(rank // outdeg) AS s FROM ed
           |  JOIN r${i - 1} ON ed.src = r${i - 1}.v GROUP BY dst) c
           | ON v.v = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${graft.sources.HeliumFixtures.envelopeValuesSql},
         |p0 AS (SELECT json_transform(payload, '{"path":[
         |   {"challengee":"VARCHAR","witnesses":[{"gateway":"VARCHAR"}]}
         |  ]}').path[1] AS p0
         | FROM env WHERE type IN ('poc_receipts_v1', 'poc_receipts_v2')),
         |w AS (SELECT 'hotspots/' || p0.challengee AS src,
         |  'hotspots/' || unnest(p0.witnesses).gateway AS dst FROM p0),
         |e AS (SELECT DISTINCT src, dst FROM w),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |ed AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
         |v AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS rank FROM v),
         |$rounds
         |SELECT v.v AS vertex,
         | coalesce(od.outdeg, 0) AS out_degree,
         | coalesce(ind.indeg, 0) AS in_degree, r3.rank
         |FROM v JOIN r3 ON v.v = r3.v
         |LEFT JOIN od ON v.v = od.src
         |LEFT JOIN (SELECT dst, count(*) AS indeg FROM e GROUP BY 1) ind
         | ON v.v = ind.dst""".stripMargin
    },
    // h08: h01's DISTINCT v1 rows (the _key md5 is a function of
    // exactly these six fields, so field-distinct = key-dedup) union
    // h02's exploded v2 payments, rolled up per account; the top
    // counterparty mirrors Spark's lexicographic max(struct(total,
    // cp)) — max total first, ties to the MAX counterparty id.
    "h08_account_flow" ->
      s"""WITH ${graft.sources.HeliumFixtures.envelopeValuesSql},
         |t1 AS (SELECT DISTINCT block, block_time,
         |  json_extract_string(payload,'$$.hash') AS hash,
         |  CAST(json_extract(payload,'$$.amount') AS BIGINT) AS amount,
         |  json_extract_string(payload,'$$.payer') AS payer,
         |  json_extract_string(payload,'$$.payee') AS payee
         | FROM env WHERE type = 'payment_v1'),
         |t2 AS (SELECT json_extract_string(payload,'$$.payer') AS payer,
         |  unnest(json_transform(payload,
         |    '{"payments":[{"amount":"BIGINT","payee":"VARCHAR"}]}').payments) AS p
         | FROM env WHERE type = 'payment_v2'),
         |e AS (SELECT 'accounts/' || payer AS f, 'accounts/' || payee AS t,
         |   amount FROM t1
         | UNION ALL
         | SELECT 'accounts/' || payer, 'accounts/' || p.payee, p.amount
         | FROM t2),
         |acct AS (SELECT f AS account FROM e UNION SELECT t FROM e),
         |o AS (SELECT f AS account, CAST(sum(amount) AS BIGINT)
         |   AS total_out, count(*) AS n_out FROM e GROUP BY 1),
         |i AS (SELECT t AS account, CAST(sum(amount) AS BIGINT)
         |   AS total_in, count(*) AS n_in FROM e GROUP BY 1),
         |fl AS (SELECT f AS account, t AS cp,
         |   CAST(sum(amount) AS BIGINT) AS cp_total FROM e GROUP BY 1, 2),
         |mx AS (SELECT account, max(cp_total) AS mt FROM fl GROUP BY 1),
         |tp AS (SELECT fl.account, max(fl.cp) AS top_counterparty,
         |   max(fl.cp_total) AS top_total
         | FROM fl JOIN mx ON fl.account = mx.account
         |   AND fl.cp_total = mx.mt GROUP BY 1)
         |SELECT acct.account,
         | coalesce(total_out, 0) AS total_out,
         | coalesce(n_out, 0) AS n_out,
         | coalesce(total_in, 0) AS total_in,
         | coalesce(n_in, 0) AS n_in,
         | top_counterparty, top_total
         |FROM acct LEFT JOIN o USING (account)
         |LEFT JOIN i USING (account) LEFT JOIN tp USING (account)""".stripMargin,
    // h09: the h07 witness-pair derivation, then g14's recursive
    // bounded walk from the challengee seed set with min-hop rollup.
    "h09_witness_reach" ->
      s"""WITH RECURSIVE ${graft.sources.HeliumFixtures.envelopeValuesSql},
         |p0 AS (SELECT json_transform(payload, '{"path":[
         |   {"challengee":"VARCHAR","witnesses":[{"gateway":"VARCHAR"}]}
         |  ]}').path[1] AS p0
         | FROM env WHERE type IN ('poc_receipts_v1', 'poc_receipts_v2')),
         |w AS (SELECT 'hotspots/' || p0.challengee AS src,
         |  'hotspots/' || unnest(p0.witnesses).gateway AS dst FROM p0),
         |e AS (SELECT DISTINCT src, dst FROM w),
         |sym AS (SELECT src AS a, dst AS b FROM e
         |  UNION SELECT dst, src FROM e),
         |walk(v, hops) AS (
         |  SELECT DISTINCT src, 0::BIGINT FROM e
         |  UNION
         |  SELECT s.b, w.hops + 1 FROM walk w JOIN sym s ON s.a = w.v
         |  WHERE w.hops < 3)
         |SELECT v AS vertex, min(hops) AS hops FROM walk
         |GROUP BY v""".stripMargin,
    // H3Cell.parent mirrored as literal bit arithmetic: clear the res
    // nibble, set res 5, fill digits 6..15 with 7s.
    "h06_hotspot_density" ->
      s"""WITH ${graft.sources.HeliumFixtures.inventoryValuesSql},
         |d AS (SELECT *, ('0x' || location)::BIGINT AS v FROM inv
         | WHERE address IS NOT NULL AND owner IS NOT NULL
         |   AND location IS NOT NULL AND name IS NOT NULL),
         |p AS (SELECT lower(to_hex((v & ${~(0xFL << 52)})
         |    | ${5L << 52} | ${(1L << 30) - 1})) AS parent_cell,
         |  owner FROM d)
         |SELECT parent_cell, count(*) AS n_hotspots,
         | count(DISTINCT owner) AS n_owners
         |FROM p GROUP BY 1""".stripMargin
  )
}
