package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

/** Property-graph ETL surface (SURVEY.md §2.1, §2.9, §2.10).
  *
  * The reference materializes an adjacency graph: vertex collections keyed
  * by `_key`, edge collections with `_from`/`_to` foreign keys
  * (follower.py:81-95,148-150,182-183), idempotent via MD5 content-hash
  * keys + insert-ignore (follower.py:293-294,205-207). This module
  * re-expresses those semantics as column algebra over the driver's star
  * schema: orders⨝lineitem plays the role of the payment stream
  * (customer --pays--> supplier), `events` plays the block stream for
  * cursor/retention semantics.
  *
  * Scale notes:
  *   - Content keys are computed map-side (pure projection, codegen'd);
  *     the dedup is one hash-shuffle on the key — the minimum possible.
  *   - Idempotent loading at 100 TB = dropDuplicates on the content key
  *     within the batch + an idempotent sink (partition overwrite); no
  *     read-before-write.
  */
object GraphEtl {

  /** MD5 content-hash key over name-sorted columns — the Spark
    * realization of get_hash_of_dict (follower.py:293-294). Columns are
    * sorted by name at construction (same field-order discipline as the
    * reference's sort_keys=True); '|' -joined string form rather than
    * JSON so the oracle (DuckDB md5(concat_ws(...))) is byte-identical.
    */
  def contentKey(df: DataFrame, cols: Seq[String]): Column =
    md5(concat_ws("|", cols.sorted.map(c => df(c).cast("string")): _*))

  /** Payment-edge construction (P2/F1/F5, follower.py:148-158):
    * one edge per lineitem from the ordering customer to the supplier,
    * with a content-hash `_key` for idempotent loading.
    */
  def paymentEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val joined = lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .select(
        concat(lit("accounts/"), col("o_custkey")).as("_from"),
        concat(lit("suppliers/"), col("l_suppkey")).as("_to"),
        col("l_orderkey").as("block"),
        col("l_linenumber").as("seq"),
        Relational.money(col("l_extendedprice")).as("amount"),
        col("o_orderdate").as("timestamp"))
    joined.withColumn("_key",
      contentKey(joined, Seq("_from", "_to", "block", "seq")))
  }

  /** Account/vertex-set construction (P4/U1/A3,
    * follower.py:147,156,162,173 + insert-ignore dedup): the distinct
    * endpoint set of an edge collection.
    */
  def edgeEndpoints(edges: DataFrame): DataFrame =
    edges.select(col("_from").as("_key"))
      .union(edges.select(col("_to").as("_key")))
      .distinct()

  /** Dangling-edge audit (§2.3, SURVEY §7.4(5)): edges whose `_to`
    * vertex is absent from the vertex collection. The reference allows
    * these (vertex emission commented out, follower.py:199,208); this
    * query makes them observable. Anti join, vertex side broadcast when
    * small.
    */
  def danglingEdges(edges: DataFrame, vertices: DataFrame): DataFrame =
    edges.join(vertices, edges("_to") === vertices("_key"), "left_anti")
      .groupBy(col("_to"))
      .agg(count(lit(1)).as("n_dangling"))

  /** Retention-window filter (P5/S8/T7, follower.py:210-214): keep only
    * rows within the last `windowNs` of event time. The cutoff is a
    * runtime aggregate, joined in rather than collected — at scale the
    * max comes from one map-side-combined agg, and the filter prunes
    * partitions when the table is time-partitioned.
    */
  def retentionFilter(events: DataFrame, windowNs: Long): DataFrame = {
    val cutoff = events.agg((max(col("ts")) - lit(windowNs)).as("cutoff"))
    events.join(broadcast(cutoff))
      .filter(col("ts") >= col("cutoff"))
      .drop("cutoff")
  }

  /** Content-key dedup (O5/A4, follower.py:205-207 insert-ignore): the
    * reference keeps an arbitrary single document per key; for
    * deterministic output we keep the min event id — same cardinality,
    * stable choice.
    */
  def dedupByContentKey(events: DataFrame): DataFrame = {
    val keyed = events.select(
      col("event_id"), col("event_type"),
      (col("user_id") % 100).as("user_bucket"))
    keyed
      .withColumn("_key", contentKey(keyed, Seq("event_type", "user_bucket")))
      .groupBy(col("_key"), col("event_type"), col("user_bucket"))
      .agg(min(col("event_id")).as("first_event_id"),
        count(lit(1)).as("n_dups"))
  }

  /** Incremental cursor batch (T1-T3, follower.py:55-75): given the
    * checkpointed cursor, select the next batch of `batchSize` cursor
    * units. Pure predicate → partition-prunable at scale.
    */
  def cursorBatch(events: DataFrame, cursor: Long, batchSize: Long): DataFrame =
    events
      .filter(col("event_id") > cursor && col("event_id") <= cursor + batchSize)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))

  /** Edge↔vertex resolution (§2.3): the implicit join the data model
    * serves. Vertex dimension broadcast.
    */
  def edgesWithVertex(edges: DataFrame, supplier: DataFrame,
                      nation: DataFrame): DataFrame =
    edges
      .join(broadcast(supplier),
        edges("_to") === concat(lit("suppliers/"), supplier("s_suppkey")))
      .join(broadcast(nation),
        supplier("s_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_edges"),
        Relational.moneyOut(sum(col("amount"))).as("sum_amount"))

  /** Degree distribution of the edge collection (graph summary over
    * the materialized adjacency, §2.4 extension): per direction, how
    * many vertices have each degree. Two aggregations per direction —
    * both map-side combinable.
    */
  def degreeDistribution(edges: DataFrame): DataFrame = {
    def side(endpoint: String, direction: String): DataFrame =
      edges.groupBy(col(endpoint)).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_vertices"))
        .select(lit(direction).as("direction"), col("degree"),
          col("n_vertices"))
    side("_from", "out").union(side("_to", "in"))
  }

  /** Latest edge per vertex pair (§2.5 analytics): keep the most
    * recent edge per (_from,_to).
    *
    * Implemented as a hash aggregate with `max_by` over the ordering
    * tuple rather than a row_number window: the window form must SORT
    * every partition's rows; the aggregate form does partial map-side
    * combines (one survivor per pair per input partition) and shuffles
    * at most |pairs| rows — strictly less data and no sort. Both pick
    * the lexicographic max of (timestamp, block, seq, amount), which
    * also makes the winner deterministic since (block,seq) is not
    * unique in the driver's datagen.
    */
  def latestEdgePerPair(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("_from"), col("_to"))
      // max over the ordering tuple itself, not max_by(payload,
      // ordering) (r21): the payload IS the ordering tuple reordered,
      // so max_by buffered BOTH structs per group — max(struct) halves
      // the aggregation buffer and the per-row comparisons for the
      // same lexicographic winner (ties in the tuple are identical
      // rows). Still a SortAggregate (struct buffers are not
      // hash-aggregable) with map-side partial aggregation.
      .agg(max(
        struct(col("timestamp"), col("block"), col("seq"), col("amount")))
        .as("e"))
      .select(col("_from"), col("_to"), col("e.block").as("block"),
        col("e.seq").as("seq"),
        Relational.moneyOut(col("e.amount")).as("amount"),
        col("e.timestamp").as("timestamp"))

  /** PageRank over the materialized adjacency — in FIXED-POINT integer
    * arithmetic (ranks scaled by 10⁶, damping 0.85 as 850000/10⁶):
    * floating-point rank sums are partition-order dependent and could
    * never hash-match an oracle; integer contributions (`rank div
    * outdeg`) and integer sums are exact under ANY partitioning, so a
    * distributed PageRank verifies bit-for-bit. Each iteration is one
    * equi-join (ranks⨝edges on src) + one aggregate (sum per dst) —
    * the standard scale shape; edges and the degree join are
    * materialized once, not per iteration. Dangling mass is dropped
    * (vertices with no out-edges redistribute nothing — the common
    * simplification; totals are not conserved and that is fine for
    * ranking). The 850000·sum product bounds the per-vertex inbound
    * mass at ~2^43 before overflow — ample headroom at any real
    * in-degree with this scale constant.
    */
  /** Co-occurrence projection of the order→supplier bipartite relation:
    * an undirected edge (a, b), a < b, between suppliers that fulfil at
    * least `minSupport` common orders. This is the graph-construction
    * half of triangle counting (the reference's data model is exactly
    * such a projection — accounts linked through shared transactions).
    *
    * Scale shape: the pair expansion is a self-equi-join on the order
    * key, so per-order fan-out is C(k,2) for k = distinct suppliers of
    * that order — bounded (≤7 in TPC-H-shaped data) but guarded anyway:
    * orders with more than `maxPerOrder` suppliers are dropped BEFORE
    * the pair join (the same hot-block discipline as Dedup's maxBucket
    * caps), so one degenerate mega-order can never go quadratic. The
    * support filter is a map-side-combinable count aggregate.
    *
    * Input assumption (ADVICE r20): `l_suppkey` is NOT NULL (it is in
    * TPC-H-shaped data). collect_set silently drops NULLs where the
    * pre-r20 distinct counted a NULL row toward the maxPerOrder cap —
    * on a nullable key the two shapes would disagree about an order
    * with exactly maxPerOrder non-null suppliers plus a NULL row.
    */
  def coSupplierEdges(lineitem: DataFrame, minSupport: Int = 5,
                      maxPerOrder: Int = 100): DataFrame = {
    // One set aggregate instead of distinct + per-order count + semi
    // join + self-join (r20 optimization, guide §2.4: the old shape
    // paid 4 exchanges — distinct on (o, s), the size count, and the
    // pair self-join each reshuffled the order×supplier pairs; the
    // sorted set per order carries the same information through ONE
    // exchange, and the a < b pair fan-out becomes a row-local array
    // expansion with the same C(k,2) bound). collect_set = the old
    // distinct; the size filter = the old maxPerOrder semi-join (drop
    // the whole order BEFORE expansion); sorted ascending, so x pairs
    // only with its strictly-later elements — exactly the x.s < y.s
    // join condition.
    val sets = lineitem
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
      .groupBy(col("o"))
      .agg(sort_array(collect_set(col("s"))).as("ss"))
      .filter(size(col("ss")) <= maxPerOrder)
    sets
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minSupport)
      .select(col("a"), col("b"))
  }

  /** Per-vertex triangle counts over an undirected simple graph given
    * as canonical (a < b) edge pairs — the clustering-coefficient /
    * community-density primitive.
    *
    * Degree-ordered wedge join (the MapReduce-classic formulation):
    * each edge is oriented from its lower-(degree, id) endpoint to the
    * higher, wedges are built only around the LOW vertex, and a wedge
    * (v, w) closes iff the oriented edge v→w exists. Orientation bounds
    * per-vertex wedge fan-out by the graph's arboricity — total wedge
    * rows are O(m^1.5) regardless of degree skew, where the naive
    * neighbor join is O(Σ deg²) and one celebrity vertex goes
    * quadratic. Three hash shuffles total (degree agg, wedge join,
    * closing join); the count-per-vertex is map-side combinable.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Materialize the canonical edge list FIRST: the degree aggregate
    // reads it twice (both union branches) and the rank join a third
    // time — without this the whole upstream edge construction (for
    // g11, the co-supplier pair join) executes 3×. Same discipline as
    // pageRankFixedPoint's edge materialization.
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // Orient by (degree, id): rk is the total-order key, unique per
    // vertex because the id is its tiebreak.
    val withRk = e
      .join(deg.select(col("v").as("a"), struct(col("deg"), col("v")).as("rka")), "a")
      .join(deg.select(col("v").as("b"), struct(col("deg"), col("v")).as("rkb")), "b")
    val oriented = withRk.select(
      when(col("rka") < col("rkb"), col("a")).otherwise(col("b")).as("src"),
      when(col("rka") < col("rkb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("rka") < col("rkb"), col("rkb")).otherwise(col("rka")).as("rkd"))
    // Wedges around the low vertex, ordered so (v, w) matches the
    // closing edge's own orientation; materialized once — both sides
    // of the wedge self-join and the closing probe reuse it.
    val o = oriented.materialized
    val wedges = o.as("e1")
      .join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rkd") < col("e2.rkd"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val triangles = wedges
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"),
        "left_semi")
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("vertex"))
      .groupBy(col("vertex"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-EDGE tie strength over an undirected simple graph given as
    * canonical (a < b) pairs: common-neighbor count (= triangles
    * through the edge) and neighborhood Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| — the classic link-prediction /
    * community-boundary score (a strong tie shares most of its
    * endpoints' neighborhoods; a bridge shares none). The union is
    * deg(a)+deg(b)−cn by inclusion–exclusion (a and b themselves stay
    * in their partner's neighborhood, the definitional raw form).
    *
    * Shape: the SAME degree-ordered wedge join as [[triangleCounts]] —
    * O(m^1.5) wedge rows regardless of skew — but each closed triangle
    * is credited to its three EDGES (canonicalized back to id order
    * with least/greatest) instead of its three vertices; zero-triangle
    * edges re-enter via a left join from the materialized edge list.
    * The division is exact-int over double — engine-deterministic.
    */
  def edgeJaccard(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withRk = e
      .join(deg.select(col("v").as("a"), struct(col("deg"), col("v")).as("rka")), "a")
      .join(deg.select(col("v").as("b"), struct(col("deg"), col("v")).as("rkb")), "b")
    val oriented = withRk.select(
      when(col("rka") < col("rkb"), col("a")).otherwise(col("b")).as("src"),
      when(col("rka") < col("rkb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("rka") < col("rkb"), col("rkb")).otherwise(col("rka")).as("rkd"))
    val o = oriented.materialized
    val wedges = o.as("e1")
      .join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rkd") < col("e2.rkd"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val triangles = wedges
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"),
        "left_semi")
    val cn = triangles
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"))
    e.join(cn, Seq("a", "b"), "left")
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"),
        coalesce(col("cn"), lit(0L)).as("common_neighbors"),
        col("deg_a"), col("deg_b"),
        (coalesce(col("cn"), lit(0L)).cast("double") /
          (col("deg_a") + col("deg_b") - coalesce(col("cn"), lit(0L))))
          .as("jaccard"))
  }

  /** Per-vertex local clustering coefficient over an undirected simple
    * graph given as canonical (a < b) pairs: cc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)), 0 for pendant vertices — the classic
    * community-density signal ([[edgeJaccard]]'s per-vertex
    * counterpart; together they give the node and edge views of
    * triangle structure).
    *
    * Shape: ONE materialized edge list feeds the degree aggregate and
    * [[triangleCounts]]' degree-ordered O(m^1.5) wedge join (whose own
    * re-distinct over the checkpointed list is a cheap no-op pass);
    * zero-triangle vertices re-enter via a left join from the degree
    * table. The coefficient is exact-int over exact-int in ONE double
    * division — engine-deterministic.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(e)
      .select(col("vertex").as("v"), col("n_triangles"))
    deg.join(tri, Seq("v"), "left")
      .select(col("v").as("vertex"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("local_cc",
        when(col("deg") >= 2,
          (col("n_triangles") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0d)))
  }

  /** Degree assortativity of an undirected simple graph (Newman 2002):
    * the Pearson correlation of endpoint degrees over the SYMMETRIZED
    * edge-end pairs. Positive = hubs link to hubs (social shape),
    * negative = hubs link to leaves (infrastructure shape) — the
    * one-number mixing summary next to [[degreeDistribution]].
    *
    * Hash-gateable because the symmetric marginals make the Pearson
    * denominator RATIONAL: with x and y marginals identical,
    * r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) — exact integer sums
    * (order-independent, unlike float accumulation) and ONE final
    * double division, no libm. Sums ride in decimal(38,0) (mirrors
    * DuckDB's sum(BIGINT) → HUGEINT) so 10¹²-edge corpora cannot
    * overflow a long.
    *
    * Shape: degree aggregate + two id-keyed joins + one global
    * aggregate — all map-side combinable; the global agg shuffles one
    * row per partition.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val dec = "decimal(38,0)"
    val pairs = sym
      .join(deg.select(col("v").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("dy")), "b")
    val num = (col("m").cast(dec) * col("sxy") - col("sx") * col("sx"))
      .cast("double")
    val den = (col("m").cast(dec) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    pairs.agg(count(lit(1)).as("m"),
        sum(col("dx").cast(dec)).as("sx"),
        sum((col("dx") * col("dy")).cast(dec)).as("sxy"),
        sum((col("dx") * col("dx")).cast(dec)).as("sxx"))
      .select(col("m"),
        // Pearson is undefined on a degree-regular graph (zero degree
        // variance): null, not a divide-by-zero (ANSI mode throws).
        when(den === 0.0d, lit(null).cast("double"))
          .otherwise(num / den).as("assortativity"))
  }

  /** Weakly-connected components of an undirected (a, b) edge list:
    * every vertex labeled with its component's minimum vertex id — the
    * graph-surface view of the dedup clusterer (supplier communities,
    * account-graph partitions). Delegates to the O(log n)
    * pointer-jumping labeler ([[Dedup.dupClustersShortcut]]), so the
    * billion-edge scale path and the loud non-convergence guard come
    * for free.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    Dedup.dupClustersShortcut(
      edges.select(col("a").as("doc_a"), col("b").as("doc_b")))
      .select(col("doc_id").as("vertex"), col("cluster_rep").as("component"))

  def pageRankFixedPoint(edges: DataFrame, iters: Int = 3): DataFrame = {
    // Materialize the dedup'd edge list FIRST: outdeg, the degree
    // join, and both vertex branches all re-read it — without this the
    // upstream edge-construction plan executes once per consumer.
    val e = edges.select(col("_from").as("src"), col("_to").as("dst"))
      .distinct().materialized
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(outDeg, "src").materialized
    val vertices = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct().materialized
    var ranks = vertices.withColumn("rank", lit(1000000L))
    (1 to iters).foreach { i =>
      val inbound = eDeg.join(ranks, eDeg("src") === ranks("v"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = vertices
        .join(inbound, vertices("v") === inbound("dst"), "left")
        .select(col("v"),
          (lit(150000L) + expr("(850000 * coalesce(s, 0L)) div 1000000"))
            .as("rank"))
      // checkpoint between iterations (not after the last): keeps
      // every compiled plan one-iteration shallow — the fused
      // 3-iteration plan generated enough code that one-shot janino
      // compilation cost 3× the actual compute — and truncates the
      // iterative lineage for deep runs
      if (i < iters) ranks = ranks.materialized
    }
    ranks.select(col("v").as("vertex"), col("rank"))
  }

  /** PERSONALIZED PageRank: the random walk teleports only to the
    * `isSeed` vertex set, so rank measures proximity/influence
    * RELATIVE to the seeds (the recommendation / blast-radius scoring
    * twin of [[bfsHops]]' reachability) — non-seed-reachable vertices
    * decay to 0. Same deterministic integer fixed-point as
    * [[pageRankFixedPoint]] (ranks in millionths, div-truncated):
    * float PageRank would be summation-order-dependent and could not
    * hash-gate.
    *
    * Shape identical to g10: one degree join + one aggregate per
    * round over a once-materialized edge list, per-round
    * Materialize keeping each compiled plan one-iteration shallow.
    */
  def personalizedPageRank(edges: DataFrame, isSeed: Column,
                           iters: Int = 3): DataFrame = {
    val e = edges.select(col("_from").as("src"), col("_to").as("dst"))
      .distinct().materialized
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(outDeg, "src").materialized
    val vertices = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .withColumn("_seed", isSeed)
      .materialized
    var ranks = vertices.select(col("v"),
      when(col("_seed"), lit(1000000L)).otherwise(lit(0L)).as("rank"))
    (1 to iters).foreach { i =>
      val inbound = eDeg.join(ranks, eDeg("src") === ranks("v"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = vertices
        .join(inbound, vertices("v") === inbound("dst"), "left")
        .select(col("v"),
          (when(col("_seed"), lit(150000L)).otherwise(lit(0L)) +
            expr("(850000 * coalesce(s, 0L)) div 1000000")).as("rank"))
      if (i < iters) ranks = ranks.materialized
    }
    ranks.select(col("v").as("vertex"), col("rank"))
  }

  /** Multi-source BFS hop distance over an undirected (a, b) edge
    * list: every vertex within `maxHops` of the seed set (vertex id ≡ 0
    * mod `seedMod`) labeled with its exact hop distance — the
    * neighborhood-expansion primitive behind "accounts within k hops
    * of a flagged account" / blast-radius queries.
    *
    * Frontier-parallel, not Bellman-Ford: each round joins only the
    * NEWLY discovered frontier against the adjacency list and
    * anti-joins the settled set, so total work is O(Σ frontier·deg) —
    * edges incident to settled vertices are never re-relaxed. The
    * adjacency list is materialized once (both directions); the
    * settled set and frontier are materialized per round, keeping
    * every compiled plan one-round shallow (the pageRank discipline).
    * An empty frontier short-circuits the remaining rounds — the
    * driver-side `isEmpty` is the inherent iterate-until-done check,
    * same as the cluster labelers.
    */
  def bfsHops(edges: DataFrame, seedMod: Long = 10L,
              maxHops: Int = 3): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val adj = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .materialized
    // an inline filter, NOT the semi-join path below: g14's seed rule
    // is a pure predicate on the vertex id, and routing it through a
    // seed-frame join cost a measured 1.67× on the g14 row
    val seeds = adj.select(col("src").as("v")).distinct()
      .filter(col("v") % seedMod === 0)
      .select(col("v"), lit(0L).as("hops"))
      .materialized
    bfsFrontierLoop(adj, seeds, maxHops)
  }

  /** [[bfsHops]] with the seed set as an arbitrary single-column
    * frame `seedSet` — deduped and intersected with the graph's
    * vertex set here (one semi-join), so callers may pass any
    * superset. The general multi-source form the h09 witness-reach
    * composition needs, where seeds are "vertices that issue
    * challenges", not an id residue; the frontier loop is shared
    * verbatim with g14 ([[bfsFrontierLoop]]).
    */
  def bfsHopsFrom(edges: DataFrame, seedSet: DataFrame,
                  maxHops: Int = 3): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val adj = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .materialized
    val seeds = adj.select(col("src").as("v")).distinct()
      .join(seedSet.select(col(seedSet.columns.head).as("v")).distinct(),
        Seq("v"), "left_semi")
      .select(col("v"), lit(0L).as("hops"))
      .materialized
    bfsFrontierLoop(adj, seeds, maxHops)
  }

  /** The shared frontier-parallel BFS loop over a materialized
    * symmetric adjacency and a materialized hop-0 seed frame — see
    * [[bfsHops]]' scaladoc for the cost argument.
    */
  private def bfsFrontierLoop(adj: DataFrame, seeds: DataFrame,
                              maxHops: Int): DataFrame = {
    // settled = the running union of per-round CHECKPOINTED frontiers:
    // the anti-join probe reads ≤ maxHops tiny materialized frames, so
    // no round re-materializes the whole settled set (halves the
    // per-round job count vs union-and-checkpoint).
    var frontiers = List(seeds)
    var frontier = seeds
    var h = 1
    var done = frontier.isEmpty
    while (h <= maxHops && !done) {
      val settled = frontiers.reduce(_ union _)
      val next = frontier.join(adj, frontier("v") === adj("src"))
        .select(adj("dst").as("v")).distinct()
        .join(settled, Seq("v"), "left_anti")
        .select(col("v"), lit(h.toLong).as("hops"))
        .materialized
      done = next.isEmpty
      if (!done) frontiers ::= next
      frontier = next
      h += 1
    }
    frontiers.reduce(_ union _).select(col("v").as("vertex"), col("hops"))
  }

  /** Bounded k-core peeling over an undirected (a, b) edge list:
    * `rounds` rounds of "drop every vertex with degree < k, and every
    * edge touching one", then the surviving vertices with their
    * residual degrees — the density-core extractor (community kernels,
    * spam-farm detection). A FIXED round count rather than
    * peel-to-fixpoint: each round is one degree aggregate + two
    * semi-joins, so the cost is exactly `rounds` passes, the result is
    * a deterministic function of the input (the true k-core after
    * ≤ rounds peels; extra rounds are no-ops once converged), and the
    * oracle can unroll the same rounds verbatim. Edge list
    * materialized per round (one-round-shallow plans, the
    * pageRank discipline).
    */
  def kcorePeel(edges: DataFrame, k: Int = 2, rounds: Int = 3): DataFrame = {
    var e = edges.select(col("a"), col("b")).distinct().materialized
    (1 to rounds).foreach { _ =>
      val keep = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      e = e
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")).materialized
    }
    e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .select(col("v").as("vertex"), col("deg"))
  }

  /** HITS hubs & authorities (Kleinberg's mutual reinforcement) over a
    * directed bipartite edge list (`c` = hub side, `s` = authority
    * side) — the centrality family's second member beside the random
    * walk (g10 PageRank / g18 PPR): auth(s) = Σ hub(c) over in-edges,
    * hub(c) = Σ auth(s) over out-edges, normalized each half-step.
    * Deterministic INTEGER fixed point (scores in millionths,
    * div-truncated — the g10 discipline: float HITS is
    * summation-order-dependent and could not hash-gate), normalizing
    * by the per-side MAX rather than the L2 norm (no sqrt, stays in
    * exact integer algebra; scores land in [0, 1e6] with the top
    * hub/authority pinned at exactly 1e6 each round).
    *
    * Shape at 100 TB: per round, two equi-joins + two
    * map-side-partial sum aggregates over a once-materialized
    * distinct edge list; each per-side max is a 1-row broadcast (the
    * scalar-subquery BNLJ class); per-round Materialize keeps every
    * compiled plan one-iteration shallow (the g10 lesson). Sums are
    * bounded by SCALE · max-degree · SCALE — inside long range until
    * ~9e6-degree hubs; a larger graph would lift the sums to
    * decimal(38,0) like g17.
    */
  def hitsScores(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1,
      s"hitsScores needs at least one iteration to define auth (got $iters)")
    val SCALE = 1000000L
    val e = edges.select(col("c"), col("s")).distinct().materialized
    var hub = e.select(col("c")).distinct()
      .select(col("c"), lit(SCALE).as("h"))
    var auth: DataFrame = null
    (1 to iters).foreach { i =>
      val ra = e.join(hub, "c").groupBy(col("s"))
        .agg(sum(col("h")).as("ra"))
      auth = ra
        .crossJoin(broadcast(ra.agg(max(col("ra")).as("am"))))
        .select(col("s"), expr(s"(ra * $SCALE) div am").as("a"))
        .materialized
      val rh = e.join(auth, "s").groupBy(col("c"))
        .agg(sum(col("a")).as("rh"))
      hub = rh
        .crossJoin(broadcast(rh.agg(max(col("rh")).as("hm"))))
        .select(col("c"), expr(s"(rh * $SCALE) div hm").as("h"))
      if (i < iters) hub = hub.materialized
    }
    hub.select(lit("hub").as("side"), col("c").as("node_id"),
        col("h").as("score"))
      .unionByName(auth.select(lit("auth").as("side"),
        col("s").as("node_id"), col("a").as("score")))
  }

  /** Synchronous label propagation (Raghavan 2007) over an undirected
    * (a, b) edge list, `rounds` fixed iterations: every vertex starts
    * as its own label; each round it adopts the MODE of its neighbors'
    * previous-round labels with the (count DESC, label ASC) total
    * order as tie-break — the near-linear community-detection
    * complement to g12's connectivity labels (WCC says "reachable",
    * LPA says "densely attached"). Fixed synchronous rounds make the
    * result deterministic and oracle-mirrorable (the known LPA
    * oscillation on bipartite-ish structure is a property of the
    * algorithm, identically reproduced by the mirror, not noise).
    *
    * Shape per round: one edge×labels equi-join on the neighbor id,
    * one (vertex, label) count aggregate (map-side combinable), one
    * row_number window PARTITIONED BY VERTEX (votes per vertex are
    * degree-bounded — no data-sized partition-less window). Rounds are
    * lineage-truncated (Materialize seam) like the rest of the g10/d08
    * iterative family; cost is O(rounds · |E|) with no pairwise term,
    * so the 100 TB bound is the edge list itself.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("a"), col("b")).distinct().materialized
    // (a, b) arrives half-open (a < b by construction upstream); the
    // swapped union is disjoint, so this is the full symmetric list.
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (r <- 1 to rounds) {
      val votes = sym
        .join(labels.select(col("node").as("b"), col("lab")), "b")
        .groupBy(col("a"), col("lab"))
        .agg(count(lit(1)).as("n"))
      // argmax by (n DESC, lab ASC) as ONE map-side-combinable
      // aggregate instead of a row_number window (r20, guide §2.3/2.4:
      // the window paid a full windowed sort of the vote table per
      // round; the struct max is the same total order — max n first,
      // then max -lab = min lab. It surfaces as SortAggregate — a
      // struct buffer is not hash-aggregable — i.e. the PLANCHECK
      // sort-agg benign class; the win is that the map-side partial
      // aggregate reduces rows BEFORE the exchange, which the window
      // never did. Precondition shared by every struct-max argmax
      // site in this file (ADVICE r20): labels / community / neighbor
      // ids are NON-NEGATIVE longs, so the -id negation cannot wrap
      // at Long.MinValue and DESC on -id is exactly ASC on id.
      labels = votes
        .groupBy(col("a"))
        .agg(max(struct(col("n"), (-col("lab")).as("_nl"))).as("_mx"))
        .select(col("a").as("node"), (-col("_mx._nl")).as("lab"))
      if (r < rounds) labels = labels.materialized
    }
    labels.select(col("node").as("vertex"), col("lab").as("community"))
  }

  /** Newman modularity of the [[labelPropagation]] partition (g21):
    * Q = Σ_c [e_c/m − (d_c/2m)²] over communities c, computed in the
    * single-division exact form Q = (4m·Σe_c − Σd_c²) / (4m²) — every
    * term an exact integer (decimal(38,0), mirroring DuckDB HUGEINT
    * per §8.4, so 10¹²-edge degree sums cannot overflow), ONE final
    * double division. The quality score that turns g20 from "a
    * partition" into "a graded partition": Q > 0 means denser-than-
    * random inside communities; a single community scores exactly 0.
    *
    * Shape: the LPA rounds themselves, then one edge×labels join pair
    * (within-edge count), one degree aggregate joined to labels
    * (community degree sums), and three 1-row aggregates cross-joined
    * (the scalar-subquery BNLJ class) — nothing beyond g20's own
    * scale shape. NULL (not ÷0) on an empty edge list, the g17
    * convention.
    */
  def modularity(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().materialized
    modularityParts(e, labelPropagation(e, rounds).materialized)
  }

  /** g21's modularity tail over an ALREADY-built partition — shared
    * with [[louvainMove]] (g23) so the before/after scores and the
    * g21 gate are the same algebra by construction. `e` must be the
    * distinct half-open edge list; `labels` is (vertex, community).
    */
  private def modularityParts(e: DataFrame, labels: DataFrame)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val within = e
      .join(labels.select(col("vertex").as("a"), col("community").as("ca")),
        "a")
      .join(labels.select(col("vertex").as("b"), col("community").as("cb")),
        "b")
      .filter(col("ca") === col("cb"))
      .agg(count(lit(1)).as("e_in"))
    val dc = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .join(labels.select(col("vertex").as("v"), col("community")), "v")
      .groupBy(col("community"))
      .agg(sum(col("deg").cast(dec)).as("d_c"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("d_c") * col("d_c")).as("sum_dsq"))
    val num = (lit(4).cast(dec) * col("m") * col("e_in") - col("sum_dsq"))
      .cast("double")
    val den = (lit(4).cast(dec) * col("m") * col("m")).cast("double")
    e.agg(count(lit(1)).as("m"))
      .crossJoin(within).crossJoin(dc)
      .select(col("m"), col("n_communities"),
        col("e_in").as("n_within_edges"),
        when(col("m") === 0L, lit(null).cast("double"))
          .otherwise(num / den).as("modularity"))
  }

  /** The (n_communities, modularity) audit pair of a supernode
    * labeling, computed on the CONTRACTED representation instead of
    * folding the labels into the vertex partition and re-scoring the
    * original edge list (r20, guide §1.2: the fixpoint ladders paid
    * one m-linear [[modularityParts]] pass — two edge×labels joins
    * plus a degree re-aggregate — per move round, for numbers that
    * are an exact function of the community graph).
    *
    * Exactness argument (all integer algebra, so the emitted doubles
    * are bit-identical to the folded path's):
    *  - e_in(folded) counts original edges whose endpoints get equal
    *    folded labels. An edge's endpoints map to its super-edge's
    *    endpoints; the min-member canonicalization is injective on
    *    label values; so e_in = Σ selfw + Σ_{bw: lab(sa)=lab(sb)} w,
    *    and Σ selfw = m − Σ_{bw} w (every distinct edge is a self-loop
    *    or a between-pair instance).
    *  - d_C(folded) = Σ_{v: label C} deg(v) = Σ_{supernode n: lab(n)=C}
    *    k_n, since k_n is exactly the sum of member degrees
    *    ([[contractGraph]]). So Σ d_C² = Σ_C (Σ_{lab=C} k_n)².
    *  - n_communities(folded) = #distinct folded vertex labels =
    *    #distinct lab values (labels are nonempty, canon injective).
    * The modularity expression reproduces [[modularityParts]]'
    * decimal(38,0) shapes term for term, ONE final double division,
    * NULL on m = 0 — identical values in, identical doubles out.
    *
    * `lab` is the round's supernode labeling (node, lab); `degC`/`bw`
    * the level's contraction; `mRow`/`bwTot` 1-row broadcasts of the
    * original edge count and Σ_{bw} w. Cost: two community-graph-sized
    * joins + three tiny aggregates — nothing m-linear.
    */
  private def contractedModularity(lab: DataFrame, degC: DataFrame,
                                   bw: DataFrame, mRow: DataFrame,
                                   bwTot: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val sig = degC.join(lab, "node")
      .groupBy(col("lab")).agg(sum(col("k").cast(dec)).as("d_c"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("d_c") * col("d_c")).as("sum_dsq"))
    val win = bw
      .join(lab.select(col("node").as("sa"), col("lab").as("la")), "sa")
      .join(lab.select(col("node").as("sb"), col("lab").as("lb")), "sb")
      .agg(coalesce(sum(when(col("la") === col("lb"), col("w"))),
        lit(0L)).as("w_in"))
    val num = (lit(4).cast(dec) * col("m") *
      (col("m") - col("bw_tot") + col("w_in")) - col("sum_dsq"))
      .cast("double")
    val den = (lit(4).cast(dec) * col("m") * col("m")).cast("double")
    mRow.crossJoin(broadcast(bwTot))
      .crossJoin(broadcast(win))
      .crossJoin(broadcast(sig))
      .select(col("n_communities"),
        when(col("m") === 0L, lit(null).cast("double"))
          .otherwise(num / den).as("modularity"))
  }

  /** Σ_{bw} w as a 1-row broadcast (feeds [[contractedModularity]]'s
    * Σ selfw = m − Σ bw reconstruction); 0 on an empty between set.
    */
  private def bwTotal(bw: DataFrame): DataFrame =
    broadcast(bw.agg(coalesce(sum(col("w")), lit(0L)).as("bw_tot")))

  /** One synchronous Louvain local-move round (g23, Blondel et al.
    * 2008 phase 1) seeded by `seedRounds` of [[labelPropagation]]:
    * every node evaluates moving to each NEIGHBOR community and takes
    * the best strictly-improving move, scored by the modularity gain
    * in its exact cross-multiplied integer form. Moving i into C
    * changes Q by (e_{i→C} − k_i·Σ_C/2m)/m ± const, so candidate C's
    * score is 2m·e_{i→C} − k_i·Σ'_C with Σ'_C the community degree
    * sum EXCLUDING i when C is i's own community — pure integers
    * (decimal(38,0) / HUGEINT per §8.4: k_i·Σ_C overflows long on a
    * 10¹²-edge graph), so the argmax and the strict move test are
    * exact in both engines, no float in the decision path. Ties break
    * (score DESC, community ASC); a node with no strictly better
    * neighbor community stays. Output is the round's audit row:
    * before/after modularity (the [[modularityParts]] algebra both
    * times, so g21 and g23 cannot drift), move count, community
    * counts. Synchronous evaluation (all gains against the SEED
    * partition) keeps the round deterministic and oracle-mirrorable —
    * the same contract as g20's synchronous LPA; sequential Louvain's
    * order-dependence could not hash-gate.
    *
    * Shape per round: one edge×labels join + one (node, community)
    * count (map-side combinable), three small equi-joins onto it, a
    * per-node argmax window (degree-bounded groups), and two
    * modularity tails — all g20/g21-class operations, nothing
    * pairwise. deg/dcs/nbr feed 2–3 consumers each and are
    * materialized (the p17 exchange-reuse lesson).
    */
  def louvainMove(edges: DataFrame, seedRounds: Int = 1): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val seed = labelPropagation(e, seedRounds).materialized
    val decided = moveDecided(e, seed)
    val before = modularityParts(e, seed)
    val after = modularityParts(e,
      decided.select(col("a").as("vertex"), col("newlab").as("community")))
    val moves = decided.agg(
      sum(when(col("newlab") =!= col("laba"), 1L).otherwise(0L))
        .as("n_moves"))
    before
      .select(col("m"), col("n_communities").as("n_communities_before"),
        col("modularity").as("modularity_before"))
      .crossJoin(broadcast(moves))
      .crossJoin(broadcast(after.select(
        col("n_communities").as("n_communities_after"),
        col("modularity").as("modularity_after"))))
  }

  /** The synchronous local-move DECISION shared by [[louvainMove]]
    * (g23) and [[louvainTwoLevel]] (g24 phase 1): every node's exact
    * integer gain argmax against the seed partition, strict-improve
    * move test. Returns the materialized (a, laba, newlab) frame.
    * `e` must be the distinct half-open edge list.
    */
  private def moveDecided(e: DataFrame, seed: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("k"))
      .materialized
    val dcs = deg
      .join(seed.select(col("vertex").as("a"), col("community")), "a")
      .groupBy(col("community")).agg(sum(col("k").cast(dec)).as("sigma"))
      .materialized
    val mRow = broadcast(e.agg(count(lit(1)).as("m")))
    // nbr is consumed ONCE now (the merged per-node aggregate below
    // replaced the separate stay chain that was its second reader), so
    // the eager pin it used to carry is gone — one fewer job per call
    // (r20, guide §1.2/2.4).
    val nbr = sym
      .join(seed.select(col("vertex").as("b"), col("community").as("labc")),
        "b")
      .groupBy(col("a"), col("labc")).agg(count(lit(1)).as("cnt"))
    val scored = nbr
      .join(deg, "a")
      .join(seed.select(col("vertex").as("a"), col("community").as("laba")),
        "a")
      .join(dcs.select(col("community").as("labc"), col("sigma")), "labc")
      .crossJoin(mRow)
      .select(col("a"), col("labc"), col("laba"),
        (lit(2).cast(dec) * col("m") * col("cnt") -
          col("k").cast(dec) * (col("sigma") -
            when(col("labc") === col("laba"), col("k"))
              .otherwise(lit(0L)).cast(dec))).as("s"))
    // Argmax + stay score in ONE per-node aggregate (r20, guide
    // §2.3/2.4): the old shape paid a row_number window (shuffle +
    // sort) for the argmax, then rebuilt the stay score through a
    // separate seed⋈deg⋈dcs⋈nbr chain and joined the two. The struct
    // max IS the (s DESC, labc ASC) order (max s, then max -labc =
    // min labc); the own-community row of `scored` IS the stay score
    // when the node has a same-community neighbor (identical formula —
    // sigma(laba) with the k exclusion), and the no-own-row fallback
    // 2m·0 − k·(σ_a − k) is reconstructed from deg⋈dcs on the
    // node-sized aggregate output. Nodes whose community has no
    // candidate rows keep laba via the left join + null compare, as
    // before.
    val perNode = scored.groupBy(col("a"), col("laba"))
      .agg(max(struct(col("s"), (-col("labc")).as("_nl"))).as("_mx"),
        max(when(col("labc") === col("laba"), col("s"))).as("_own"))
    seed.select(col("vertex").as("a"), col("community").as("laba"))
      .join(perNode, Seq("a", "laba"), "left")
      .join(deg, "a")
      .join(dcs.select(col("community").as("laba"), col("sigma").as("sga")),
        "laba")
      .crossJoin(mRow)
      .select(col("a"), col("laba"),
        when(col("_mx.s") >
            coalesce(col("_own"),
              lit(2).cast(dec) * col("m") * lit(0L) -
                col("k").cast(dec) * (col("sga") - col("k").cast(dec))),
          -col("_mx._nl"))
          .otherwise(col("laba")).as("newlab"))
      .materialized
  }

  /** Weighted community-graph contraction of partition `flat` (v, c)
    * over the distinct half-open edge list `e` — the Blondel phase-2
    * graph, shared by [[louvainTwoLevel]] (g24) and [[louvainLadder]]
    * (g25). Between-community edge multiplicities aggregate to
    * super-edges `bw` (sa < sb, weight w); within-community edges
    * become self-loop weight, entering the weighted supernode degree
    * as 2·w_self (so k_C = the exact sum of member degrees). Returns
    * (symW = symmetric (node, nb, w), degC = (node, k) over ALL
    * communities including isolated ones, bw).
    *
    * Shape: one edge×labels join pair + two pair-key aggregates
    * (map-side combinable, output bounded by the community-pair
    * count) — linear in m, nothing pairwise.
    */
  private def contractGraph(e: DataFrame, flat: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // ONE canonical-pair aggregate over the labeled edges instead of
    // two (the old bw/sw split aggregated the labeled edge list twice
    // through two exchanges, and pinned the labeled list so the two
    // passes shared it — r20, guide §2.3/2.4: self-loops are just the
    // sa = sb rows of the same canonical-pair count, so one shuffle +
    // one pin carries both; bw/sw become filters over the pinned
    // aggregate, whose size is the community-pair count).
    val pw = e
      .join(flat.select(col("v").as("a"), col("c").as("ca")), "a")
      .join(flat.select(col("v").as("b"), col("c").as("cb")), "b")
      .select(least(col("ca"), col("cb")).as("sa"),
        greatest(col("ca"), col("cb")).as("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
      .materialized
    val bw = pw.filter(col("sa") =!= col("sb"))
    val sw = pw.filter(col("sa") === col("sb"))
      .select(col("sa").as("node"), col("w").as("selfw"))
    val symW = bw.select(col("sa").as("node"), col("sb").as("nb"), col("w"))
      .union(bw.select(col("sb").as("node"), col("sa").as("nb"), col("w")))
    val degC = flat.select(col("c").as("node")).distinct()
      .join(symW.groupBy(col("node")).agg(sum(col("w")).as("nbw")),
        Seq("node"), "left")
      .join(sw, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("nbw"), lit(0L)) +
          lit(2L) * coalesce(col("selfw"), lit(0L))).as("k"))
      .materialized
    (symW, degC, bw)
  }

  /** Full two-level Louvain (g24, Blondel et al. 2008 phases 1+2):
    * the g23 synchronous move round, then the COMMUNITY-GRAPH
    * CONTRACTION and a second synchronous move round on the
    * contracted graph. Deterministic throughout: phase-1 communities
    * are canonicalized to their MIN MEMBER id; contraction sums edge
    * multiplicities between supernodes (within-community edges become
    * self-loop weight, carried in the weighted degree as 2·w_self);
    * and because phase 2 restarts every supernode as its own
    * community, the synchronous weighted move round collapses to an
    * exact closed form — supernode a merges into its argmax neighbor
    * b iff 2m·w(a,b) > k_a·k_b (the cross-multiplied modularity-gain
    * test; the self-loop term rides along with a and cancels between
    * candidates, and the stay score is identically 0 from a singleton
    * community). All score algebra in decimal(38,0) / HUGEINT (§8.4)
    * — k_a·k_b overflows long on a 10¹²-edge graph — ties break
    * (score DESC, neighbor ASC), no float in any decision path.
    *
    * Output: the two-level audit row — m, modularity before (seed) /
    * mid (after phase 1) / after (both phases), move counts of each
    * phase, community counts, and the contracted graph's size. All
    * three modularity scores are [[modularityParts]] over the
    * ORIGINAL edge list with the corresponding flat partition, so
    * g21/g23/g24 share one scoring algebra by construction and the
    * weighted-graph modularity formula never needs to exist here.
    *
    * Shape: phase 1 is g23's shape (edge×labels joins, degree-bounded
    * argmax windows); the contraction is [[contractGraph]]; phase 2
    * runs on the CONTRACTED graph — sized by communities, not
    * vertices, the whole point of Louvain's scalability — with one
    * broadcast-joined degree table and one argmax window. Nothing
    * pairwise, nothing driver-side.
    *
    * SYNCHRONOUS-MERGE CAVEATS (the per-supernode decisions are
    * independent, like g20's LPA votes): (1) the A↔B label SWAP —
    * mutual argmaxes relabel each other's members, partition
    * structure unchanged (spec-pinned on the bridged triangles);
    * (2) NON-TRANSITIVE CHAINS — A may merge into B while B
    * simultaneously merges into C, leaving A's members labeled B
    * while B's members moved to C, so the A∪B union the pairwise
    * gain priced is never formed and `n_moves_p2` counts moves whose
    * gains are not JOINTLY realized (a chain can even net a
    * modularity decrease in adversarial weight configurations).
    * `modularity_after` stays exact in all cases — it is recomputed
    * from scratch on whatever flat partition results — so the audit
    * row never lies about the outcome, only `n_moves_p2` reads as
    * gross decisions, not net realized merges. [[louvainLadder]]
    * (g25) is the chain-FREE variant: it accepts only mutual-argmax
    * pairs, a disjoint matching whose gains are additive and
    * provably non-decreasing.
    */
  def louvainTwoLevel(edges: DataFrame, seedRounds: Int = 1): DataFrame = {
    val dec = "decimal(38,0)"
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val seed = labelPropagation(e, seedRounds).materialized
    val p1 = moveDecided(e, seed)
    // canonical phase-1 partition: community label := min member id
    val canon = p1.groupBy(col("newlab"))
      .agg(min(col("a")).as("cc"))
    val flat1 = p1.join(canon, "newlab")
      .select(col("a").as("v"), col("cc").as("c"))
      .materialized
    // contraction: [[contractGraph]] — super-edges, self-loop
    // weights, weighted degrees k_C = Σ_C' w(C,C') + 2·w_self(C)
    // (= the sum of member degrees, exactly)
    val (symW, degC, bw) = contractGraph(e, flat1)
    val mRow = broadcast(e.agg(count(lit(1)).as("m")))
    // phase-2 synchronous move from the singleton restart: merge a
    // into argmax-s neighbor b iff s = 2m·w(a,b) − k_a·k_b > 0
    val scored2 = symW
      .join(degC.select(col("node"), col("k").as("ka")), "node")
      .join(degC.select(col("node").as("nb"), col("k").as("kb")), "nb")
      .crossJoin(mRow)
      .select(col("node"), col("nb"),
        (lit(2).cast(dec) * col("m") * col("w") -
          col("ka").cast(dec) * col("kb").cast(dec)).as("s"))
    // argmax by (s DESC, nb ASC) as a struct-max aggregate instead of
    // a row_number window (r20, guide §2.3/2.4 — no windowed full-row
    // sort; surfaces as SortAggregate with map-side partial
    // aggregation, the PLANCHECK sort-agg benign class; same total
    // order, same s > 0 gate; non-negative-id precondition at the
    // labelPropagation argmax)
    val dec2 = scored2.groupBy(col("node"))
      .agg(max(struct(col("s"), (-col("nb")).as("_nn"))).as("_mx"))
      .filter(col("_mx.s") > 0)
      .select(col("node").as("c"), (-col("_mx._nn")).as("mergeto"))
    val flat2 = flat1.join(dec2, Seq("c"), "left")
      .select(col("v").as("vertex"),
        coalesce(col("mergeto"), col("c")).as("community"))
      .materialized
    val before = modularityParts(e, seed)
    val mid = modularityParts(e,
      flat1.select(col("v").as("vertex"), col("c").as("community")))
    val after = modularityParts(e, flat2)
    val moves1 = p1.agg(
      sum(when(col("newlab") =!= col("laba"), 1L).otherwise(0L))
        .as("n_moves_p1"))
    val moves2 = dec2.agg(count(lit(1)).as("n_moves_p2"))
    val superEdges = bw.agg(count(lit(1)).as("n_super_edges"))
    before
      .select(col("m"), col("modularity").as("modularity_before"))
      .crossJoin(broadcast(moves1))
      .crossJoin(broadcast(mid.select(
        col("n_communities").as("n_communities_mid"),
        col("modularity").as("modularity_mid"))))
      .crossJoin(broadcast(superEdges))
      .crossJoin(broadcast(moves2))
      .crossJoin(broadcast(after.select(
        col("n_communities").as("n_communities_after"),
        col("modularity").as("modularity_after"))))
  }

  /** Multi-level Louvain ladder (g25, the Blondel et al. 2008 loop
    * with a PROVABLY monotone coarsening step): g23's synchronous
    * local-move round seeds phase 1 exactly as g24, then `levels`
    * rounds of contract-and-merge — but where g24's phase 2 lets
    * every supernode independently merge into its argmax neighbor
    * (admitting label swaps and non-transitive chains, see the
    * louvainTwoLevel caveats), each ladder level accepts only
    * MUTUAL-argmax pairs with positive gain: supernodes a and b merge
    * iff b is a's best neighbor AND a is b's (ties (s DESC, nb ASC)),
    * with s = 2m·w(a,b) − k_a·k_b > 0 in decimal(38,0). Mutual
    * argmaxes form a DISJOINT MATCHING (each node has one argmax),
    * and for disjoint pair merges the modularity deltas are exactly
    * additive — merging {a,b} changes no degree or in-weight of any
    * other pair — with ΔQ(a,b) = s/(2m²) > 0 per accepted pair. So
    * every level's modularity is non-decreasing BY CONSTRUCTION, not
    * by measurement: the matching is the heavy-edge coarsening of
    * multilevel partitioners with Louvain's gain as the edge score.
    * Chains are structurally impossible (if B's argmax is C, the A–B
    * pair is not mutual and A stays), which also makes n_merges
    * honest: every counted merge IS realized as priced. The merged
    * label is min(a, b), so labels stay canonical member-min ids.
    *
    * Per level the contraction is recomputed from the ORIGINAL edge
    * list ([[contractGraph]] on the current flat partition): one
    * edge×labels join pair, linear in m, and every level's
    * modularity tail shares [[modularityParts]]'s scoring algebra
    * with g21/g23/g24 by construction. Each level's decision runs on
    * the community graph — sized by surviving communities, not
    * vertices (Louvain's scalability argument, g24's point,
    * iterated).
    *
    * Output: one audit row — m, modularity_before (the LPA seed),
    * phase-1 n_moves_p1 / n_communities_p1 / modularity_p1, then per
    * level ℓ: n_merges_lℓ (accepted mutual pairs), n_communities_lℓ,
    * modularity_lℓ. The guaranteed invariant is modularity_p1 ≤
    * modularity_l1 ≤ … ≤ modularity_l`levels` (phase 1 itself is the
    * synchronous heuristic, measured non-decreasing on the fixture
    * but not guaranteed — that caveat is g23/g24's, unchanged).
    */
  def louvainLadder(edges: DataFrame, levels: Int = 2,
                    seedRounds: Int = 1): DataFrame = {
    require(levels >= 1, s"louvainLadder needs levels >= 1, got $levels")
    val dec = "decimal(38,0)"
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val seed = labelPropagation(e, seedRounds).materialized
    val p1 = moveDecided(e, seed)
    val canon = p1.groupBy(col("newlab")).agg(min(col("a")).as("cc"))
    var flat = p1.join(canon, "newlab")
      .select(col("a").as("v"), col("cc").as("c"))
      .materialized
    val mRow = broadcast(e.agg(count(lit(1)).as("m")))
    val before = modularityParts(e, seed)
    val mid = modularityParts(e,
      flat.select(col("v").as("vertex"), col("c").as("community")))
    val moves1 = p1.agg(
      sum(when(col("newlab") =!= col("laba"), 1L).otherwise(0L))
        .as("n_moves_p1"))
    var audit = before
      .select(col("m"), col("modularity").as("modularity_before"))
      .crossJoin(broadcast(moves1))
      .crossJoin(broadcast(mid.select(
        col("n_communities").as("n_communities_p1"),
        col("modularity").as("modularity_p1"))))
    (1 to levels).foreach { l =>
      val (merged, pairs, ml) = matchingLevel(e, flat, mRow)
      flat = merged
      audit = audit
        .crossJoin(broadcast(pairs.agg(
          count(lit(1)).as(s"n_merges_l$l"))))
        .crossJoin(broadcast(ml.select(
          col("n_communities").as(s"n_communities_l$l"),
          col("modularity").as(s"modularity_l$l"))))
    }
    audit
  }

  /** One g25 ladder level over partition `flat` (v, c): contract,
    * positive-gain argmax per supernode, MUTUAL-argmax matching
    * (the provably monotone disjoint-pair merge — see
    * [[louvainLadder]]'s scaladoc for the additivity proof), merged
    * labels = min member id. Shared by [[louvainLadder]] (g25) and
    * [[louvainLadderMoves]] (g26) so the matching step cannot drift
    * between them. Returns (merged flat, accepted pairs).
    */
  private def matchingLevel(e: DataFrame, flat: DataFrame,
                            mRow: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val dec = "decimal(38,0)"
    val (symW, degC, bw) = contractGraph(e, flat)
    val scored = symW
      .join(degC.select(col("node"), col("k").as("ka")), "node")
      .join(degC.select(col("node").as("nb"), col("k").as("kb")), "nb")
      .crossJoin(mRow)
      .select(col("node"), col("nb"),
        (lit(2).cast(dec) * col("m") * col("w") -
          col("ka").cast(dec) * col("kb").cast(dec)).as("s"))
    // positive-gain argmax per supernode — struct-max aggregate, not a
    // row_number window (r20, guide §2.3/2.4: same (s DESC, nb ASC)
    // order without the windowed full-row sort; surfaces as
    // SortAggregate with map-side partial aggregation — the PLANCHECK
    // sort-agg benign class); materialized because the mutuality
    // self-join consumes it twice
    val best = scored.groupBy(col("node"))
      .agg(max(struct(col("s"), (-col("nb")).as("_nn"))).as("_mx"))
      .filter(col("_mx.s") > 0)
      .select(col("node"), (-col("_mx._nn")).as("nb"))
      .materialized
    val pairs = best.as("x")
      .join(best.as("y"),
        col("x.nb") === col("y.node") && col("y.nb") === col("x.node") &&
          col("x.node") < col("y.node"))
      .select(col("x.node").as("pa"), col("y.node").as("pb"))
    // merged label = min member id (pa < pb by the join condition)
    val mergeMap = pairs.select(col("pa").as("c"), col("pa").as("mc"))
      .union(pairs.select(col("pb").as("c"), col("pa").as("mc")))
    val merged = flat.join(mergeMap, Seq("c"), "left")
      .select(col("v"), coalesce(col("mc"), col("c")).as("c"))
      .materialized
    // the level's (n_communities, modularity) audit pair, scored on
    // the CONTRACTED representation (r20): the merged partition is
    // exactly the fold of this supernode labeling into `flat`, so
    // [[contractedModularity]] reproduces modularityParts(e, merged)
    // bit for bit at community-graph cost — labels are min supernode
    // ids (pa < pb), injective across disjoint matched pairs
    val labM = degC.select(col("node"))
      .join(mergeMap.select(col("c").as("node"), col("mc")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("mc"), col("node")).as("lab"))
    val matchAudit = contractedModularity(labM, degC, bw, mRow,
      bwTotal(bw))
    (merged, pairs, matchAudit)
  }

  /** The synchronous local-move decision on a WEIGHTED community
    * graph — [[moveDecided]]'s exact integer algebra with edge
    * multiplicities, shared shape with g23/g24 by construction.
    * `symW` is the symmetric weighted adjacency (node, nb, w) with
    * self-loops held OUT (a supernode's self-loop rides along with it
    * into any community, so its within-term is constant across
    * candidates and cancels in the argmax AND in the stay-vs-move
    * compare); `degC` the full weighted degrees (node, k = Σw +
    * 2·selfw, isolated nodes included); `mRow` the 1-row ORIGINAL
    * edge count (the contracted graph's total weight is m exactly —
    * every original edge is a super-edge weight or a self-loop);
    * `seed` the current (node, lab) labeling. Candidate C's score is
    * 2m·w(node→C) − k·Σ'_C with Σ'_C excluding k when C is the own
    * community — decimal(38,0) throughout, ties (s DESC, labc ASC),
    * strict-improve move test. Returns (node, laba, newlab),
    * materialized. Synchronous caveats (swaps, chains) are
    * louvainTwoLevel's, unchanged; every modularity the audit reports
    * is recomputed exactly on the resulting flat partition.
    *
    * Materializations here use [[graft.Materialize.statsReset]], not
    * the plain seam: round r's frames are joins of round r−1's
    * materialized frames, the exact self-compounding shape that makes
    * Catalyst's inherited sizeInBytes grow exponentially in digits
    * across rounds (Materialize.statsReset scaladoc — measured
    * 28+ min of BigInteger grinding inside the checkpoint stats
    * rewrite without the reset). All three frames are
    * community-graph-sized.
    */
  /** `direction` (g27 only; `None` keeps g26's semantics verbatim):
    * restrict candidate communities to labc < laba (`Some(true)`,
    * "descending") or labc > laba (`Some(false)`) BEFORE the argmax —
    * the alternating-direction damper for the synchronous swap class.
    * A swap (A→B's community while B→A's) needs one label-decreasing
    * and one label-increasing move; a round that admits only one
    * direction cannot execute both sides, and the survivor's presence
    * re-scores the other side next round. Measured reason to exist:
    * undamped, the sf0.1 co-supplier contraction oscillates at a flat
    * 34 moves/round through the full cap window, period 2.
    */
  private def weightedMoveDecided(symW: DataFrame, degC: DataFrame,
                                  mRow: DataFrame,
                                  seed: DataFrame,
                                  direction: Option[Boolean] = None)
      : DataFrame = {
    val dec = "decimal(38,0)"
    // nbr and dcs are LAZY now (r20, guide §1.2/2.4): the merged
    // per-node aggregate below replaced the separate stay chain, so
    // nbr has one consumer and dcs two (exchange reuse dedups the
    // second); dropping their per-round statsReset pins removes two
    // eager jobs per move round. Stats compounding stays bounded
    // because the ROUND OUTPUT keeps its statsReset — each round's
    // plan starts from fresh leaf stats.
    val nbr = symW
      .join(seed.select(col("node").as("nb"), col("lab").as("labc")),
        "nb")
      .groupBy(col("node"), col("labc")).agg(sum(col("w")).as("cnt"))
    val dcs = degC
      .join(seed, "node")
      .groupBy(col("lab").as("community"))
      .agg(sum(col("k").cast(dec)).as("sigma"))
    val scored = nbr
      .join(degC, "node")
      .join(seed.select(col("node"), col("lab").as("laba")), "node")
      .join(dcs.select(col("community").as("labc"), col("sigma")),
        "labc")
      .crossJoin(mRow)
      .select(col("node"), col("labc"), col("laba"),
        (lit(2).cast(dec) * col("m") * col("cnt") -
          col("k").cast(dec) * (col("sigma") -
            when(col("labc") === col("laba"), col("k"))
              .otherwise(lit(0L)).cast(dec))).as("s"))
    // Argmax + stay score in ONE per-node aggregate — the moveDecided
    // r20 rewrite applied to the weighted graph (guide §2.3/2.4): the
    // direction damper becomes the aggregate's filter predicate, the
    // struct max is the (s DESC, labc ASC) order, the own-community
    // row IS the stay score when present, and the no-own-row fallback
    // 2m·0 − k·(σ_a − k) is rebuilt from degC⋈dcs on the node-sized
    // output. Replaces the row_number window + the separate stay
    // chain + their join.
    val dirFilter: Column = direction match {
      case None => lit(true)
      case Some(true) => col("labc") < col("laba")
      case Some(false) => col("labc") > col("laba")
    }
    val perNode = scored.groupBy(col("node"), col("laba"))
      .agg(max(when(dirFilter,
          struct(col("s"), (-col("labc")).as("_nl")))).as("_mx"),
        max(when(col("labc") === col("laba"), col("s"))).as("_own"))
    graft.Materialize.statsReset(
      seed.select(col("node"), col("lab").as("laba"))
        .join(perNode, Seq("node", "laba"), "left")
        .join(degC, "node")
        .join(dcs.select(col("community").as("laba"),
            col("sigma").as("sga")), "laba")
        .crossJoin(mRow)
        .select(col("node"), col("laba"),
          when(col("_mx.s") >
              coalesce(col("_own"),
                lit(2).cast(dec) * col("m") * lit(0L) -
                  col("k").cast(dec) * (col("sga") - col("k").cast(dec))),
            -col("_mx._nl"))
            .otherwise(col("laba")).as("newlab")))
  }

  /** Multi-level Louvain with FULL per-level local-move rounds (g26,
    * VERDICT r16 #5 — the Blondel et al. 2008 loop proper): g25's
    * ladder runs ONE mutual-best-merge matching per level — provably
    * monotone but weaker than phase 1's iterated local moves, and the
    * gap shows in g24/g25's gross-vs-net merge counts. Here each
    * level runs `moveRounds` synchronous WEIGHTED local-move rounds
    * on the contracted community graph first ([[weightedMoveDecided]]
    * from the singleton restart — round 1 is exactly g24's phase-2
    * closed form, later rounds the general weighted gain argmax
    * against the evolving labels), folds the moved labeling into the
    * vertex partition (labels canonicalized to min member id), and
    * THEN applies g25's mutual-argmax matching on the re-contracted
    * graph ([[matchingLevel]], shared with g25 verbatim). The
    * matching phases stay monotone by construction; the move phases
    * carry g23/g24's synchronous caveats (swaps, chains) and are
    * audited, not assumed — every reported modularity is
    * [[modularityParts]] recomputed on the ORIGINAL edge list, so
    * g21/g23/g24/g25/g26 share one scoring algebra.
    *
    * Output: one audit row — m, modularity_before (LPA seed), phase-1
    * n_moves_p1 / n_communities_p1 / modularity_p1, then per level ℓ:
    * n_moves_lℓ_r1..r`moveRounds` (per-round move counts on the
    * community graph), n_communities_lℓ_mv / modularity_lℓ_mv (after
    * the moves), n_merges_lℓ / n_communities_lℓ / modularity_lℓ
    * (after the matching).
    *
    * Scale shape: each level adds `moveRounds` weighted-move passes
    * SIZED BY THE COMMUNITY GRAPH (supernode adjacency + degree
    * joins, degree-bounded argmax windows — Louvain's scalability
    * argument, iterated) plus one extra contraction (linear in m)
    * and one modularity tail per phase. Nothing pairwise, nothing
    * driver-side.
    */
  def louvainLadderMoves(edges: DataFrame, levels: Int = 2,
                         moveRounds: Int = 2,
                         seedRounds: Int = 1): DataFrame = {
    require(levels >= 1, s"louvainLadderMoves needs levels >= 1, got $levels")
    require(moveRounds >= 1,
      s"louvainLadderMoves needs moveRounds >= 1, got $moveRounds")
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val seed = labelPropagation(e, seedRounds).materialized
    val p1 = moveDecided(e, seed)
    val canon = p1.groupBy(col("newlab")).agg(min(col("a")).as("cc"))
    var flat = p1.join(canon, "newlab")
      .select(col("a").as("v"), col("cc").as("c"))
      .materialized
    val mRow = broadcast(e.agg(count(lit(1)).as("m")))
    val before = modularityParts(e, seed)
    val mid = modularityParts(e,
      flat.select(col("v").as("vertex"), col("c").as("community")))
    val moves1 = p1.agg(
      sum(when(col("newlab") =!= col("laba"), 1L).otherwise(0L))
        .as("n_moves_p1"))
    var audit = before
      .select(col("m"), col("modularity").as("modularity_before"))
      .crossJoin(broadcast(moves1))
      .crossJoin(broadcast(mid.select(
        col("n_communities").as("n_communities_p1"),
        col("modularity").as("modularity_p1"))))
    (1 to levels).foreach { l =>
      // phase 1 on the contracted graph: `moveRounds` weighted
      // synchronous move rounds from the singleton restart
      val (symW, degC, bw) = contractGraph(e, flat)
      var lab = degC.select(col("node"), col("node").as("lab"))
      (1 to moveRounds).foreach { r =>
        val decided = weightedMoveDecided(symW, degC, mRow, lab)
        lab = decided.select(col("node"), col("newlab").as("lab"))
        audit = audit.crossJoin(broadcast(decided.agg(
          sum(when(col("newlab") =!= col("laba"), 1L).otherwise(0L))
            .as(s"n_moves_l${l}_r$r"))))
      }
      // fold the moved labeling into the vertex partition, labels
      // canonicalized to min member supernode id (supernode ids are
      // themselves min member VERTEX ids, so min composes)
      val canonL = lab.groupBy(col("lab")).agg(min(col("node")).as("cc"))
      val moveMap = lab.join(canonL, "lab")
        .select(col("node").as("c"), col("cc").as("mc"))
      // statsReset, not plain materialize: the fold joins the
      // round-2 decided frame back onto flat — the compounding shape
      flat = graft.Materialize.statsReset(
        flat.join(moveMap, Seq("c"), "left")
          .select(col("v"), coalesce(col("mc"), col("c")).as("c")))
      // post-move audit via the CONTRACTED representation (r20) —
      // identical integers to scoring the folded vertex partition
      // with modularityParts; see [[contractedModularity]]
      val mlMv = contractedModularity(lab, degC, bw, mRow, bwTotal(bw))
      audit = audit.crossJoin(broadcast(mlMv.select(
        col("n_communities").as(s"n_communities_l${l}_mv"),
        col("modularity").as(s"modularity_l${l}_mv"))))
      // phase 2 of the level: g25's mutual-argmax matching on the
      // re-contracted graph (shared helper — cannot drift from g25)
      val (merged, pairs, ml) = matchingLevel(e, flat, mRow)
      flat = merged
      audit = audit
        .crossJoin(broadcast(pairs.agg(
          count(lit(1)).as(s"n_merges_l$l"))))
        .crossJoin(broadcast(ml.select(
          col("n_communities").as(s"n_communities_l$l"),
          col("modularity").as(s"modularity_l$l"))))
    }
    audit
  }

  /** g27: Blondel phase 1 run to FIXPOINT (VERDICT r17 #5) — g26
    * iterates a FIXED `moveRounds` per level; the algorithm proper
    * iterates "as long as the modularity improves", i.e. until a
    * round moves no vertex. This audit runs [[weightedMoveDecided]]
    * on the phase-1 contracted community graph with the
    * ALTERNATING-DIRECTION damper (odd rounds admit only
    * label-decreasing moves, even rounds only label-increasing — see
    * the `direction` scaladoc: the plain synchronous variant was
    * MEASURED oscillating at a flat 34 moves/round, period 2, on the
    * sf0.1 contraction, the known parallel-Louvain swap pathology)
    * until the first round whose labeling REPRODUCES its same-parity
    * predecessor (labels_r = labels_{r-2}) — the recurrence is
    * absorbing (equal inputs under equal direction reproduce equal
    * outputs), so it detects both the true fixpoint (two zero-move
    * rounds, one per direction) and any period-2 limit cycle that
    * survives the damper: measured at sf0.1, the damped rounds decay
    * 31 -> 18 -> 13 -> 7 -> 6 -> 4 and then close a 4-move
    * same-direction orbit, which this stop rule names instead of
    * spinning on. A loud cap bounds longer-period cycles and a
    * cap-hit is logged, never silent.
    *
    * Output is LONG-form — one row per executed round: (round,
    * n_moves on the community graph, then n_communities / modularity
    * with the round's labels folded into the ORIGINAL vertex
    * partition and scored by [[modularityParts]] on the ORIGINAL edge
    * list — the one scoring algebra g21–g27 share). The fold is
    * audit-only: phase 1 keeps moving on the SAME contracted graph
    * with evolving labels, exactly Blondel's inner loop.
    *
    * Scale shape: each round is one weighted-move pass SIZED BY THE
    * COMMUNITY GRAPH plus one m-linear modularity tail for the audit
    * column; rounds are data-dependent but the recurrence stop is
    * absorbing, so the loop is bounded by min(recurrence, cap). The
    * driver-side per-round probe is one isEmpty diff of two
    * already-materialized community-graph-sized label frames — the
    * d08 fixpoint discipline.
    */
  def louvainMovesFixpoint(edges: DataFrame, maxRounds: Int = 10,
                           seedRounds: Int = 1): DataFrame = {
    require(maxRounds >= 1,
      s"louvainMovesFixpoint needs maxRounds >= 1, got $maxRounds")
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val seed = labelPropagation(e, seedRounds).materialized
    val p1 = moveDecided(e, seed)
    val canon = p1.groupBy(col("newlab")).agg(min(col("a")).as("cc"))
    val flat = p1.join(canon, "newlab")
      .select(col("a").as("v"), col("cc").as("c"))
      .materialized
    val mRow = broadcast(e.agg(count(lit(1)).as("m")))
    val (symW, degC, bw) = contractGraph(e, flat)
    val bwTot = bwTotal(bw)
    var lab = degC.select(col("node"), col("node").as("lab"))
    // label history for the same-parity recurrence probe; index r
    // holds the labeling AFTER round r (index 0 the singleton start)
    var labs = Vector(lab)
    var rows = Vector.empty[DataFrame]
    var converged = false
    var r = 1
    while (!converged && r <= maxRounds) {
      val decided = weightedMoveDecided(symW, degC, mRow, lab,
        direction = Some(r % 2 == 1))
      lab = decided.select(col("node"), col("newlab").as("lab"))
      labs :+= lab
      // audit via the CONTRACTED representation (r20): same
      // n_communities/modularity integers the old per-round fold +
      // m-linear modularityParts pass produced, at community-graph
      // cost — see [[contractedModularity]]'s exactness argument
      val ml = contractedModularity(lab, degC, bw, mRow, bwTot)
      rows :+= decided
        .agg(sum(when(col("newlab") =!= col("laba"), 1L).otherwise(0L))
          .as("n_moves"))
        .crossJoin(broadcast(ml.select(
          col("n_communities"), col("modularity"))))
        .select(lit(r.toLong).as("round"), col("n_moves"),
          col("n_communities"), col("modularity"))
      converged = r >= 2 && lab
        .join(labs(r - 2).select(col("node"), col("lab").as("_l2")),
          "node")
        .filter(col("lab") =!= col("_l2")).isEmpty
      r += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"louvainMovesFixpoint: cap of $maxRounds move rounds hit " +
          "without a same-parity label recurrence — a period > 2 " +
          "oscillation; audit rows cover the capped window only")
    rows.reduce(_ unionByName _)
  }

  /** g28: the multi-level ladder with FIXPOINT inner loops (VERDICT
    * r18 #4) — the production Blondel shape. g27 proves phase-1
    * convergence on ONE level; g25/g26 run the multi-level ladder
    * with FIXED move rounds. This composes them: per level, the
    * damped alternating-direction weighted move rounds run to g27's
    * same-parity recurrence stop (labels_r = labels_{r-2}, absorbing;
    * loud cap for longer-period orbits), the converged labeling folds
    * into the vertex partition (min-member labels), and then g25's
    * MUTUAL-argmax matching — the provably monotone disjoint-pair
    * merge — contracts a level ([[matchingLevel]], shared verbatim
    * with g25/g26 so the phases cannot drift).
    *
    * Output is LONG-form, one audit row per (level, phase, round):
    * `phase = 'move'` rows carry each inner round's move count;
    * `phase = 'match'` rows (round 0, one per level) carry the
    * level's accepted merge count. Every row's n_communities /
    * modularity comes from folding that point's labels into the
    * ORIGINAL vertex partition and scoring with [[modularityParts]]
    * on the ORIGINAL edge list — the one algebra g21–g28 share, which
    * is what makes the per-level monotonicity claim (each level's
    * match row ≥ its predecessor's: matching is additive-gain
    * disjoint pairs) checkable on this table rather than assumed.
    *
    * Scale shape: level ℓ's move rounds are sized by the level-ℓ
    * COMMUNITY graph (Louvain's scalability argument, iterated to
    * convergence instead of a fixed count); each round adds one
    * m-linear modularity audit tail (the gate's point — production
    * would run the loop without per-round scoring); the per-round
    * driver probe is one isEmpty diff of two materialized
    * community-graph-sized label frames (the d08 discipline); the
    * matching adds one contraction (linear in m) per level. Rounds
    * are data-dependent but bounded by min(recurrence, cap) per
    * level, and coarser levels converge faster.
    *
    * CAP SEMANTICS (VERDICT r19 #5): a level that exhausts
    * `maxRounds` without a same-parity recurrence (a period > 2
    * orbit) folds the CAPPED labeling and, by default, only WARNs —
    * consistent with g27's documented recurrence-stop contract, but
    * a caller reading the returned frame alone can miss it, so
    * converged-ness MUST be read from the audit rows: a level whose
    * highest-round `move` row still has `n_moves > 0` may be capped
    * (a truly recurred level's final rounds repeat a 2-cycle, which
    * on an absorbing fixpoint means trailing `n_moves = 0` rows).
    * Callers that need the guarantee opt in with
    * `requireConvergence = true`, which THROWS on cap exhaustion —
    * the d11 precedent that known-incomplete iteration is an error,
    * not a warning. Gates keep the default so the audit semantics
    * (capped window still scored exactly) stay observable.
    */
  def louvainFixpointLadder(edges: DataFrame, levels: Int = 2,
                            maxRounds: Int = 10,
                            seedRounds: Int = 1,
                            requireConvergence: Boolean = false)
      : DataFrame =
    fixpointLadderRows(edges, levels, maxRounds, seedRounds,
      requireConvergence, refine = false, opName = "louvainFixpointLadder")

  /** g29: the fixpoint ladder with LEIDEN-STYLE REFINEMENT (VERDICT
    * r19 #3; Traag, Waltman & van Eck 2019, "From Louvain to Leiden")
    * — plain Louvain provably produces badly-connected (even
    * internally DISCONNECTED) communities: a move can pull a bridge
    * vertex out of a community whose remaining members were only
    * connected THROUGH it, and contraction then freezes the broken
    * community into a single supernode forever. Leiden's fix is a
    * refinement phase between the local moves and the aggregation:
    * here, after each level's fixpoint moves fold into the vertex
    * partition, every community is split into its connected
    * components over the INTRA-community edge subgraph
    * ([[refineConnectivity]] — one community-scoped
    * connected-components pass), so the contraction only ever
    * aggregates internally-connected communities. Audit rows gain a
    * `refine` phase per level: `n_moves` = the number of extra
    * communities the splits created (0 ⇒ every community was already
    * connected — Leiden's guarantee holding vacuously), with
    * n_communities/modularity scored on the refined partition by the
    * same [[modularityParts]] algebra as every other phase.
    *
    * Everything else is [[louvainFixpointLadder]] VERBATIM (one
    * shared implementation — the phases cannot drift): damped
    * alternating-direction weighted moves to the same-parity
    * recurrence stop per level, min-member fold, then g25's monotone
    * mutual-argmax matching contraction — now running on the REFINED
    * partition.
    *
    * Scale shape: g28's, plus per level one edge×labels join pair
    * (the intra-community filter, linear in m) and one
    * connected-components pass over the intra-community subgraph
    * (the O(log n)-round pointer-jumping labeler, edges ⊆ m). The
    * refinement never goes pairwise — it only ever SPLITS existing
    * groups along existing edges.
    */
  def louvainLeidenLadder(edges: DataFrame, levels: Int = 2,
                          maxRounds: Int = 10,
                          seedRounds: Int = 1,
                          requireConvergence: Boolean = false)
      : DataFrame =
    fixpointLadderRows(edges, levels, maxRounds, seedRounds,
      requireConvergence, refine = true, opName = "louvainLeidenLadder")

  /** Leiden's connectivity refinement as a standalone operator: split
    * every community of partition `flat` (v, c) into its connected
    * components over the intra-community edge subgraph of `edges`
    * (a, b). Component labels are min member ids — identical to the
    * ladder's min-member canonicalization, so a community that IS
    * internally connected comes back with its label unchanged and the
    * refinement is a no-op on it; vertices with no intra-community
    * edge (including singletons) become their own singleton
    * community. Disjoint member sets have distinct min members, so
    * refined labels never collide across communities.
    *
    * Shape: one edge×labels join pair + the pointer-jumping
    * components labeler ([[connectedComponents]], with its loud
    * non-convergence guard) + one vertex-keyed left join.
    */
  def refineConnectivity(edges: DataFrame, flat: DataFrame): DataFrame =
    refineParts(edges, flat)._1

  /** [[refineConnectivity]] exposing the intra-community edge list it
    * built on the way (r21): the ladder's refine AUDIT needs
    * e_in(refined), and every intra edge's endpoints share a refined
    * label BY CONSTRUCTION (they are in one connected component of
    * the intra subgraph), while a non-intra edge's endpoints never do
    * (refined labels are member ids of disjoint old-community member
    * sets — the no-collision argument in [[refineConnectivity]]'s
    * scaladoc). So e_in(refined) = count(intra) EXACTLY, and the
    * audit can skip [[modularityParts]]' two m-linear edge×labels
    * joins.
    */
  private[graft] def refineParts(edges: DataFrame, flat: DataFrame)
      : (DataFrame, DataFrame) = {
    // pinned HERE, not inside the components labeler (r21): the
    // labeler pinned exactly these rows as its own first step, and
    // the ladder's audit additionally counts them — one checkpoint,
    // two consumers, and the audit's e_in is a count of checkpoint
    // blocks instead of a re-run of the two edge×labels joins
    val intra = edges
      .join(flat.select(col("v").as("a"), col("c").as("ca")), "a")
      .join(flat.select(col("v").as("b"), col("c").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .select(col("a"), col("b"))
      .materialized
    val cc = Dedup.dupClustersShortcutPrePinned(intra)
      .select(col("doc_id").as("vertex"), col("cluster_rep").as("component"))
    val refined = flat
      .join(cc.select(col("vertex").as("v"), col("component")),
        Seq("v"), "left")
      .select(col("v"), coalesce(col("component"), col("v")).as("c"))
    (refined, intra)
  }

  private def fixpointLadderRows(edges: DataFrame, levels: Int,
                                 maxRounds: Int, seedRounds: Int,
                                 requireConvergence: Boolean,
                                 refine: Boolean,
                                 opName: String): DataFrame = {
    require(levels >= 1,
      s"$opName needs levels >= 1, got $levels")
    require(maxRounds >= 2,
      s"$opName needs maxRounds >= 2 (the same-parity " +
        s"recurrence probe compares labels two rounds apart), got " +
        s"$maxRounds")
    val e = edges.select(col("a"), col("b")).distinct().materialized
    val seed = labelPropagation(e, seedRounds).materialized
    val p1 = moveDecided(e, seed)
    val canon = p1.groupBy(col("newlab")).agg(min(col("a")).as("cc"))
    var flat = p1.join(canon, "newlab")
      .select(col("a").as("v"), col("cc").as("c"))
      .materialized
    val mRow = broadcast(e.agg(count(lit(1)).as("m")))
    // vertex degree table for the refine audits (g29 only) —
    // level-independent, so ONE pinned copy serves every level's
    // audit where modularityParts re-derived it m-linearly per call
    // (r21; exact same count-of-incidences construction)
    val degV =
      if (refine)
        e.select(col("a").as("v")).union(e.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg")).materialized
      else null
    var rows = Vector.empty[DataFrame]
    (1 to levels).foreach { l =>
      val (symW, degC, bw) = contractGraph(e, flat)
      val bwTot = bwTotal(bw)
      var lab = degC.select(col("node"), col("node").as("lab"))
      var labs = Vector(lab)
      var converged = false
      var r = 1
      while (!converged && r <= maxRounds) {
        val decided = weightedMoveDecided(symW, degC, mRow, lab,
          direction = Some(r % 2 == 1))
        lab = decided.select(col("node"), col("newlab").as("lab"))
        labs :+= lab
        // audit via the CONTRACTED representation (r20): the old
        // per-round fold (canonicalize + two vertex-keyed joins) +
        // m-linear modularityParts pass is replaced by the
        // community-graph-sized algebra of [[contractedModularity]] —
        // identical integers, identical doubles, see its scaladoc
        val ml = contractedModularity(lab, degC, bw, mRow, bwTot)
        rows :+= decided
          .agg(sum(when(col("newlab") =!= col("laba"), 1L)
            .otherwise(0L)).as("n_moves"))
          .crossJoin(broadcast(ml.select(
            col("n_communities"), col("modularity"))))
          .select(lit(l.toLong).as("level"), lit("move").as("phase"),
            lit(r.toLong).as("round"), col("n_moves"),
            col("n_communities"), col("modularity"))
        converged = r >= 2 && lab
          .join(labs(r - 2).select(col("node"), col("lab").as("_l2")),
            "node")
          .filter(col("lab") =!= col("_l2")).isEmpty
        r += 1
      }
      if (!converged) {
        val what = s"$opName: level $l hit the " +
          s"$maxRounds-round cap without a same-parity label " +
          "recurrence — a period > 2 oscillation"
        if (requireConvergence)
          throw new IllegalStateException(what +
            "; requireConvergence=true, so the known-incomplete " +
            "labeling is an error (the d11 contract) — raise " +
            "maxRounds or read the capped audit via the default mode")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(what +
          "; this level folds the capped labeling — converged-ness " +
          "must be read from the audit rows (scaladoc)")
      }
      // fold the stop-round labeling into the vertex partition
      // (statsReset: the fold joins frames derived from materialized
      // frames — the compounding-stats shape)
      val canonF = lab.groupBy(col("lab")).agg(min(col("node")).as("cc"))
      val moveMapF = lab.join(canonF, "lab")
        .select(col("node").as("c"), col("cc").as("mc"))
      flat = graft.Materialize.statsReset(
        flat.join(moveMapF, Seq("c"), "left")
          .select(col("v"), coalesce(col("mc"), col("c")).as("c")))
      if (refine) {
        // Leiden refinement (g29 only): split disconnected
        // communities along intra-community connectivity BEFORE the
        // contraction can freeze them; audit row counts the extra
        // communities the splits created.
        //
        // Audit (r21, guide §1.2): the refine row's
        // (n_communities, modularity) used to re-run the m-linear
        // [[modularityParts]] fold (two edge×labels joins + a degree
        // re-aggregate) against the refined labels. But
        // e_in(refined) = count(intra) EXACTLY ([[refineParts]]
        // scaladoc: an intra edge's endpoints always share a refined
        // label, a non-intra edge's never do), and the degree table
        // is level-independent, computed once per query (degV below)
        // — so the audit is one count of a frame the refinement built
        // anyway + one vertex-sized join, with term-for-term the same
        // decimal(38,0) algebra and ONE final double division
        // (identical doubles; the oracle hash-checks them).
        val (refined0, intra) = refineParts(e, flat)
        val refined = refined0.materialized
        val dec = "decimal(38,0)"
        val eIn = intra.agg(count(lit(1)).as("e_in"))
        val sig = degV.join(refined.select(col("v"),
            col("c").as("community")), "v")
          .groupBy(col("community"))
          .agg(sum(col("deg").cast(dec)).as("d_c"))
          .agg(count(lit(1)).as("n_communities"),
            sum(col("d_c") * col("d_c")).as("sum_dsq"))
        val num = (lit(4).cast(dec) * col("m") * col("e_in") -
          col("sum_dsq")).cast("double")
        val den = (lit(4).cast(dec) * col("m") * col("m")).cast("double")
        val mlRef = mRow.crossJoin(broadcast(eIn))
          .crossJoin(broadcast(sig))
          .select(col("n_communities"),
            when(col("m") === 0L, lit(null).cast("double"))
              .otherwise(num / den).as("modularity"))
        rows :+= refined.agg(countDistinct(col("c")).as("_na"))
          .crossJoin(broadcast(
            flat.agg(countDistinct(col("c")).as("_nb"))))
          .crossJoin(broadcast(mlRef))
          .select(lit(l.toLong).as("level"), lit("refine").as("phase"),
            lit(0L).as("round"), (col("_na") - col("_nb")).as("n_moves"),
            col("n_communities"), col("modularity"))
        flat = refined
      }
      // the level's monotone contraction (g25's matching, shared)
      val (merged, pairs, ml2) = matchingLevel(e, flat, mRow)
      flat = merged
      rows :+= pairs.agg(count(lit(1)).as("n_moves"))
        .crossJoin(broadcast(ml2.select(
          col("n_communities"), col("modularity"))))
        .select(lit(l.toLong).as("level"), lit("match").as("phase"),
          lit(0L).as("round"), col("n_moves"),
          col("n_communities"), col("modularity"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Per-edge triangle support of a MATERIALIZED canonical (a < b)
    * edge list — [[edgeJaccard]]'s degree-ordered wedge chain
    * (O(m^1.5) wedge rows regardless of skew) with each closed
    * triangle credited back to its three edges; zero-triangle edges
    * re-enter at support 0 via the left join.
    */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withRk = e
      .join(deg.select(col("v").as("a"), struct(col("deg"), col("v")).as("rka")), "a")
      .join(deg.select(col("v").as("b"), struct(col("deg"), col("v")).as("rkb")), "b")
    val oriented = withRk.select(
      when(col("rka") < col("rkb"), col("a")).otherwise(col("b")).as("src"),
      when(col("rka") < col("rkb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("rka") < col("rkb"), col("rkb")).otherwise(col("rka")).as("rkd"))
    val o = oriented.materialized
    val wedges = o.as("e1")
      .join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rkd") < col("e2.rkd"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val sup = wedges
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"),
        "left_semi")
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("support"))
    e.join(sup, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Bounded k-truss peeling (g22): `rounds` rounds of "recompute each
    * edge's triangle support within the surviving edge set, drop every
    * edge with support < k−2", then the survivors with their
    * final-round support — the EDGE-grade density core (Cohen 2008).
    * [[kcorePeel]] keeps vertices with enough neighbors; this keeps
    * edges embedded in enough triangles — strictly stronger cohesion
    * (every k-truss edge lies inside the (k−1)-core), and the standard
    * community-kernel refinement one grade above it. Same FIXED-round
    * contract as kcorePeel, for the same three reasons: cost is
    * exactly `rounds` wedge passes, the result is a deterministic
    * function of the input (the true k-truss once converged; extra
    * rounds are no-ops), and the oracle unrolls the same rounds
    * verbatim.
    *
    * Shape per round: one [[edgeSupport]] pass (degree agg, wedge
    * join, closing semi-join, map-side-combinable credit count) over
    * the SHRINKING edge set, one filter; edge list materialized per
    * round (one-round-shallow plans, the pageRank discipline). Support
    * only ever falls as edges leave, so survivors of round r are a
    * superset of round r+1 — monotone, like k-core.
    */
  def kTrussPeel(edges: DataFrame, k: Int = 4, rounds: Int = 2): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"kTrussPeel needs rounds >= 1, got $rounds")
    var e = edges.select(col("a"), col("b")).distinct().materialized
    (1 until rounds).foreach { _ =>
      e = edgeSupport(e).filter(col("support") >= k - 2)
        .select(col("a"), col("b")).materialized
    }
    edgeSupport(e).filter(col("support") >= k - 2)
  }
}
