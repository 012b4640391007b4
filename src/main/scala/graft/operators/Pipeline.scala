package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps
import graft.Par

import graft.functions.Canon

/** End-to-end corpus curation (the §2.12 operators COMPOSED — the
  * actual shape of a pre-training data pipeline):
  *
  *   quality filter → exact dedup (keep min doc_id) → MinHash-LSH
  *   candidate pairs → connected-component clusters → keep each
  *   cluster's canonical survivor → per-language corpus summary.
  *
  * Every stage is one of the individually-oracle-checked operators;
  * this query checks their composition end to end. Scale shape: two
  * aggregate shuffles (dedup key, final summary) + the LSH band join
  * + the tiny fixpoint loop on the candidate graph — no stage is
  * O(n²) in the corpus.
  */
object Pipeline {

  /** Reproducible train/val/test assignment by CONTENT HASH — not
    * rand(): the same document lands in the same split on any
    * cluster, any partitioning, any rerun (and survives re-ingestion,
    * since the key is content-derived). 96/2/2 via hash mod 100.
    * Returns per-(lang, split) counts — the mixture table a training
    * job consumes.
    */
  def hashSplit(documents: DataFrame): DataFrame = {
    val bucket = Canon.hash60(md5(col("text"))) % 100
    documents
      .withColumn("split",
        when(bucket < 96, "train").when(bucket < 98, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Deterministic stratified sampling: per-language keep rates
    * applied by CONTENT-HASH bucket (same invariances as hashSplit —
    * partition-independent, rerun-stable, survives re-ingestion).
    * The standard data-mixture move: downweight the dominant language
    * without a rand() in sight. `rates` maps lang → percent kept;
    * unlisted languages keep everything. Row-local filter, no shuffle.
    */
  def stratifiedSample(documents: DataFrame,
                       rates: Map[String, Int] = Map("en" -> 50))
      : DataFrame = {
    val bucket = Canon.hash60(md5(concat(lit("sample|"), col("text")))) % 100
    val keepPct = rates.foldLeft(lit(100)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    documents
      .filter(bucket < keepPct)
      .select(col("doc_id"), col("lang"))
  }

  /** Exact-N per-group sampling: the first `n` documents of each
    * language in deterministic content-hash order — the fixed-size
    * counterpart of stratifiedSample (rates undershoot/overshoot on
    * small groups; eval-set construction wants EXACTLY n per slice).
    * Output carries the 1-based in-group rank so callers can take a
    * prefix of any smaller size without re-running.
    *
    * Scale: the in-group rank is TWO-STAGE, never a per-language
    * window (tokenBudgetSample's rationale, t06's template):
    * range-repartition by the scan order (lang, ord, doc_id), rank
    * locally per (partition, lang), offset by the earlier partitions'
    * per-language COUNTS (one window pass over the tiny (pid, lang)
    * aggregate, broadcast back). The dominant language never sorts on
    * one task.
    */
  def samplePerGroup(documents: DataFrame, n: Long,
                     numPartitions: Int = 32): DataFrame = {
    val base = documents
      .select(col("doc_id"), col("lang"),
        Canon.hash60(md5(col("text"))).as("ord"))
    // pre-pinned: the child is a shuffle-free md5 corpus scan, and
    // range partitioning's boundary-sampling job would evaluate it a
    // second time (TwoStage scaladoc); post-pinned for the boundary
    // draw as always
    val parted = TwoStage.rangeParted(base.materialized, numPartitions,
      col("lang").asc, col("ord").asc, col("doc_id").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"), col("lang"))
      .orderBy(col("ord"), col("doc_id"))
    val local = parted.withColumn("_lrk",
      row_number().over(wLocal).cast("long"))
    val sums = parted.groupBy(col("_pid"), col("lang"))
      .agg(count(lit(1)).as("_pcnt"))
    // per-language prefix offsets in one window pass over the tiny
    // (pid, lang) counts table (the q35 fold — no triangular join)
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val offsets = sums.select(col("_pid"), col("lang"),
      coalesce(sum(col("_pcnt")).over(wOff), lit(0L)).as("_off"))
    local.join(broadcast(offsets), Seq("_pid", "lang"))
      .withColumn("rank", col("_off") + col("_lrk"))
      .filter(col("rank") <= n)
      .select(col("doc_id"), col("lang"), col("rank"))
  }

  /** Token-BUDGET mixture sampling: per language, keep documents — in
    * deterministic content-hash order — until the language's token
    * budget is reached (the first doc to cross the line is kept, so
    * every budget is met, not undershot). This is the data-mixing
    * primitive when targets are token counts rather than rates:
    * "english: 1M tokens, code: 250k tokens".
    *
    * Determinism: the scan order is (hash60(md5(text)), doc_id) —
    * content-derived, so the selection is identical on any cluster,
    * any partitioning, any rerun. `budgets` maps lang → token budget;
    * unlisted languages are kept whole.
    *
    * Scale: the running sum is TWO-STAGE, never a per-language window —
    * language cardinality is tiny, so `Window.partitionBy(lang)` puts
    * the dominant language (at web scale, half the corpus) on ONE task:
    * the same single-partition-sort pathology the t06 vocabulary rank
    * eliminated. Instead (t06's template, TextAnalysis.vocabulary):
    * range-repartition by the scan order (lang, ord, doc_id) so each
    * partition holds a contiguous slice of each language's order; sum
    * locally per (partition, lang); offset by the earlier partitions'
    * per-language sums (one window pass over the tiny (pid, lang)
    * aggregate, broadcast back). No single-task sort anywhere; the
    * local window's (_pid, lang) groups are partition-sized by
    * construction.
    */
  def tokenBudgetSample(documents: DataFrame,
                        budgets: Map[String, Long],
                        numPartitions: Int = 32): DataFrame = {
    val budget = budgets.foldLeft(lit(Long.MaxValue)) {
      case (acc, (lang, b)) =>
        when(col("lang") === lang, lit(b)).otherwise(acc)
    }
    val base = documents
      .select(col("doc_id"), col("lang"),
        size(Canon.words(col("text"))).cast("long").as("n_tokens"),
        Canon.hash60(md5(col("text"))).as("ord"))
    // pre-pinned: the child is a shuffle-free words+md5 corpus scan —
    // without the pre-pin the boundary-sampling job re-tokenizes the
    // whole corpus (TwoStage scaladoc); post-pinned for the boundary
    // draw as always
    val parted = TwoStage.rangeParted(base.materialized, numPartitions,
      col("lang").asc, col("ord").asc, col("doc_id").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"), col("lang"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val local = parted.withColumn("_loc",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    // Per-(partition, lang) totals → prefix offsets for each slice —
    // read from the SAME pinned frame as the probe side, so both see
    // one boundary draw (the TwoStage invariant; the old ReuseExchange
    // reliance was pruning-fragile).
    val sums = parted.groupBy(col("_pid"), col("lang"))
      .agg(sum(col("n_tokens")).as("_psum"))
    // per-language prefix offsets in one window pass over the
    // ≤ numPartitions×langs-row sums table (the q35 fold — no
    // triangular self-join)
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val offsets = sums.select(col("_pid"), col("lang"),
      coalesce(sum(col("_psum")).over(wOff), lit(0L)).as("_off"))
    local.join(broadcast(offsets), Seq("_pid", "lang"))
      .withColumn("tokens_before", col("_off") + col("_loc"))
      .filter(col("tokens_before") < budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
  }

  /** Sequence PACKING (concat-and-chunk): assign every document a
    * position in a fixed-`seqLen`-token training sequence — the
    * standard GPT-style pretraining layout where documents are
    * concatenated in a deterministic order and the stream is chunked
    * every `seqLen` tokens. Output per doc: its shard, the sequence it
    * STARTS in, its token offset within that sequence, and how many
    * sequences it spans — everything a sequence-builder needs to
    * materialize examples.
    *
    * Determinism: shard and order are content-derived
    * (hash60(md5('pack|'||text)) % shards, then (hash60(md5(text)),
    * doc_id) within shard) — identical layout on any cluster, any
    * partitioning, any rerun.
    *
    * Scale: packing is inherently sequential WITHIN a stream, so the
    * parallel unit is the shard: the running sum is a per-shard window
    * and each shard is one task's sort. Unlike p04's per-LANGUAGE
    * window (cardinality fixed and tiny — a scale bug), `numShards` is
    * a free parameter sized to the cluster (64 here; 10⁵ at 100 TB),
    * so shard size is corpus/numShards by construction and no task
    * ever sees more than one shard's slice.
    */
  def packSequences(documents: DataFrame, seqLen: Long = 2048L,
                    numShards: Int = 64): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    documents
      .select(col("doc_id"),
        size(Canon.words(col("text"))).cast("long").as("n_tokens"),
        (Canon.hash60(md5(concat(lit("pack|"), col("text")))) % numShards)
          .as("shard"),
        Canon.hash60(md5(col("text"))).as("ord"))
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"tok_start div ${seqLen}L").as("seq_id"),
        (col("tok_start") % seqLen).as("tok_offset"),
        (expr(s"(tok_start + n_tokens - 1) div ${seqLen}L")
          - expr(s"tok_start div ${seqLen}L") + 1L).as("n_seqs_spanned"))
  }

  /** Temperature-balanced multilingual sampling (the α=0.5 upsampling /
    * downsampling mix of multilingual pretraining): each language keeps
    * k_l = min(n_l, ceil(r·√n_l)) docs, so dominant languages are
    * squashed toward the √ law while tail languages survive whole.
    *
    * Selection is HASH-THRESHOLD, not rank: a doc is kept iff its
    * 60-bit content hash < (k_l/n_l)·2⁶⁰. That makes the whole
    * operator one tiny per-language aggregate (broadcast back) plus a
    * row-local filter — no per-language window, no sort, no rank
    * anywhere (the p04-class pathology never appears). The kept count
    * is binomial around k_l rather than exact — the standard trade at
    * corpus scale, where rank-exact quotas cost a global sort per
    * language. Every arithmetic step (√, ceil, one division, one
    * multiplication) is a single correctly-rounded IEEE op, so the
    * keep set is deterministic and engine-independent.
    */
  def temperatureSample(documents: DataFrame,
                        ratePerSqrt: Double = 2.0): DataFrame = {
    val thr = documents.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"),
        (least(ceil(sqrt(col("n")) * ratePerSqrt), col("n"))
          .cast("double") / col("n") * lit(1152921504606846976.0d) // 2^60
          ).as("thr"))
    documents
      .join(broadcast(thr), Seq("lang"))
      .filter(Canon.hash60(concat(lit("tsamp|"), col("text"))) < col("thr"))
      .select(col("doc_id"), col("lang"))
  }

  /** Token-window chunking with overlap — the fixed-window splitter a
    * RAG index or a long-context pretraining pipeline runs over every
    * document: windows of `chunkTokens` words every
    * `chunkTokens - overlap`, so consecutive chunks share `overlap`
    * words of context. A window is emitted only while it still adds
    * new tokens (start < max(n - overlap, 1)), so the tail is covered
    * without a redundant final all-overlap chunk; the last chunk may
    * be short.
    *
    * Entirely ROW-LOCAL: the fan-out is a bounded sequence+explode per
    * doc (≤ n/stride rows) and each chunk is a slice of the one
    * per-row word array — no shuffle anywhere; at 100 TB this runs at
    * scan speed and writes straight to the chunk store.
    */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 128,
                     overlap: Int = 32): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens)
    val stride = (chunkTokens - overlap).toLong
    val w = documents
      .select(col("doc_id"), Canon.words(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    w.select(col("doc_id"), col("w"), col("n_tokens"),
        explode(expr(s"sequence(0L, " +
          s"(greatest(n_tokens - $overlap, 1L) - 1) div $stride)"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(lit(chunkTokens.toLong),
          col("n_tokens") - col("chunk_idx") * stride).as("n_chunk_tokens"),
        array_join(slice(col("w"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens)),
          " ").as("chunk_text"))
  }

  /** Contamination-aware mixture table: the hashSplit counts computed
    * AFTER removing every document that shares a word-5-shingle with
    * the benchmark — the composition a real pre-training pipeline runs
    * before fixing its data mixture (decontaminate, THEN split, so
    * leaked eval data never lands in any split). Scale: decontaminate
    * reduces the benchmark to a broadcastable shingle set; the removal
    * is a doc_id anti-join; the split is one aggregate — nothing
    * quadratic anywhere.
    */
  def decontaminatedSplit(batch: DataFrame,
                          benchmark: DataFrame): DataFrame = {
    val contaminated = Dedup.decontaminate(batch, benchmark)
      .filter(col("contaminated")).select(col("doc_id"))
    hashSplit(batch.join(contaminated, Seq("doc_id"), "left_anti"))
  }

  def corpusPipeline(documents: DataFrame,
                     minTokens: Int = 30,
                     dupTau: Double = 0.5): DataFrame = {
    val q = documents
      .withColumn("n_tokens", size(Canon.words(col("text"))))
      .filter(col("n_tokens") >= minTokens)
    // exact dedup: survivors are the min doc_id per content key
    val keep = q.groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val surv = q.join(keep, Seq("doc_id"), "left_semi")
    // exact-substring (windowed-dup) removal over the exact-dedup
    // survivors — the Lee et al. 2022 position-level stage the doc-
    // and span-granularity d21/d22 operators act on, here composed
    // between exact dedup and near-dup canonical selection: docs
    // whose duplicated-window share exceeds dupTau are near-verbatim
    // rehashes of OTHER surviving content and drop before clustering
    val wdrop = Dedup.windowDupFrac(surv)
      .filter(col("dup_frac") > dupTau).select(col("doc_id"))
    val surv2 = surv.join(wdrop, Seq("doc_id"), "left_anti")
    // near-dup clusters over the survivors; drop non-canonical members
    val clusters = Dedup.dupClusters(
      Dedup.lshCandidatePairs(Dedup.minhashSignature(surv2)))
    val dropIds = clusters.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    val fin = surv2.join(dropIds, Seq("doc_id"), "left_anti")
    fin.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Exact-vs-LSH near-dup funnel comparison (p26): the corpus-
    * curation decision "exact AllPairs join or probabilistic LSH?"
    * as one gated table instead of an argument. Both funnels run the
    * SAME downstream machinery — candidate pairs → connected-
    * component closure ([[Dedup.dupClusters]]) → canonical min-id
    * selection — differing only in the pair source: the d26
    * prefix-filtered EXACT Jaccard join (zero false negatives at
    * τ = 4/5) versus the d03 MinHash-LSH band join (probabilistic,
    * hot-bucket-capped, no verify). One row per method with the full
    * attrition account (candidate pairs, docs touching any pair,
    * clusters, dropped non-canonical members, survivors, tokens
    * dropped), plus a signed `delta` row (exact − lsh) — the
    * headline being how many documents the probabilistic funnel
    * over- or under-drops against the exact-threshold truth.
    *
    * Scale shape: the d26 chain is the documented output-bound exact
    * join (pairs stream into the closure here — the composition its
    * verdict promised — rather than materializing as a gate result);
    * the LSH chain is d03's banded join; each closure is the d08
    * fixpoint on its pair set; every rollup after that is a 1-row
    * broadcast. Nothing new beyond the two priced candidate
    * generators.
    */
  def exactVsLshFunnel(documents: DataFrame): DataFrame = {
    val toks = funnelTokens(documents)
    val total = broadcast(toks.agg(count(lit(1)).as("_nd")))
    val arm = funnelArm(toks, total) _
    // the two arms are independent build chains over the shared
    // pinned `toks` — each is a pair pin + a driver-paced closure
    // fixpoint, so they overlap (r21, guide §2.6)
    val (exact, lsh) = Par.concurrently(
      arm(Dedup.prefixJaccardJoin(documents)
        .select(col("doc_a"), col("doc_b")), "exact").materialized,
      arm(Dedup.lshCandidatePairs(
        Dedup.minhashSignature(documents)), "lsh").materialized)
    exact.union(lsh).union(funnelDelta(exact, lsh, "delta"))
  }

  /** (doc_id, n_tokens) — feeds the funnel's corpus totals AND every
    * arm's dropped-tokens join; materialized once per funnel.
    */
  private def funnelTokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
        size(Canon.words(col("text"))).cast("long").as("n_tokens"))
      .materialized

  /** One funnel arm — pairs → connected-component closure → canonical
    * min-id drops → the 1-row attrition account. SHARED by p26's two
    * arms and p27's three (VERDICT r16 #3: one helper so the arms
    * cannot drift): the pair stream feeds the closure without
    * materializing as a gate result, and every rollup after the
    * closure is a 1-row broadcast.
    */
  private def funnelArm(toks: DataFrame, total: DataFrame)
                       (pairs: DataFrame, method: String): DataFrame = {
    val p = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .materialized
    val clusters = Dedup.dupClustersPrePinned(p)
    val dropped = clusters.filter(col("doc_id") =!= col("cluster_rep"))
      .join(toks, Seq("doc_id"))
    broadcast(p.agg(count(lit(1)).as("n_pairs")))
      .crossJoin(broadcast(clusters.agg(
        count(lit(1)).as("n_dup_docs"),
        countDistinct(col("cluster_rep")).as("n_clusters"))))
      .crossJoin(broadcast(dropped.agg(
        count(lit(1)).as("n_dropped"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_dropped"))))
      .crossJoin(total)
      .select(lit(method).as("method"), col("n_pairs"),
        col("n_dup_docs"), col("n_clusters"), col("n_dropped"),
        (col("_nd") - col("n_dropped")).as("n_survivors"),
        col("tokens_dropped"))
  }

  /** The signed per-column difference of two 1-row funnel arms. */
  private def funnelDelta(x: DataFrame, y: DataFrame,
                          label: String): DataFrame =
    x.as("x").crossJoin(y.as("y"))
      .select(lit(label).as("method"),
        (col("x.n_pairs") - col("y.n_pairs")).as("n_pairs"),
        (col("x.n_dup_docs") - col("y.n_dup_docs")).as("n_dup_docs"),
        (col("x.n_clusters") - col("y.n_clusters")).as("n_clusters"),
        (col("x.n_dropped") - col("y.n_dropped")).as("n_dropped"),
        (col("x.n_survivors") - col("y.n_survivors")).as("n_survivors"),
        (col("x.tokens_dropped") - col("y.tokens_dropped"))
          .as("tokens_dropped"))

  /** Three-arm near-dup funnel (p27, VERDICT r16 #3): p26 priced
    * exact-vs-RAW-LSH, but no production pipeline ships raw LSH
    * candidates — it ships LSH + VERIFY. This gate adds the third
    * arm: the d03 candidates routed through the d05/d26 EXACT
    * word-hash Jaccard verify at the same τ = 4/5 (the
    * cross-multiplied integer compare 5·i ≥ 4·(sa + sb − i), no float
    * in the decision), then the same closure and attrition account.
    * Because the verify predicate is EXACTLY d26's acceptance
    * predicate, every verified pair is an exact-arm pair by
    * construction — lsh_verified ⊆ exact — so the `delta_verified`
    * row isolates pure LSH candidate-generation false negatives,
    * while `delta_raw` (p26's headline) shows how much the raw
    * candidate stream over-merges. Five rows: exact / lsh_raw /
    * lsh_verified / delta_raw / delta_verified (both deltas signed,
    * exact − arm).
    *
    * Scale shape: the exact arm is d26's output-bound chain; the raw
    * arm is d03's banded join; the verify tier joins the CANDIDATE
    * pairs (not the corpus) to the once-materialized sorted hash
    * sets and runs the zero-allocation two-pointer intersect — pair-
    * bounded work, the production funnel's own cost. Three closures,
    * each on its arm's pair set; every rollup is a 1-row broadcast.
    */
  def exactVsLshVerifiedFunnel(documents: DataFrame): DataFrame = {
    val toks = funnelTokens(documents)
    val total = broadcast(toks.agg(count(lit(1)).as("_nd")))
    val arm = funnelArm(toks, total) _
    // ONE pinned token-hash set table feeds both the exact arm's
    // prefix join and the verify tier (r20, guide §1.2 — the tier
    // previously re-tokenized and re-pinned the same corpus); its pin
    // overlaps the raw-candidate pin (independent builds, r21 §2.6)
    val (sets, rawPairs) = Par.concurrently(
      Dedup.tokenHashSets(documents).materialized,
      // raw candidates feed the lsh_raw arm AND the verify tier
      Dedup.lshCandidatePairs(
        Dedup.minhashSignature(documents)).materialized)
    // the three arms are independent chains over the two pins above —
    // each a pair pin + a driver-paced closure fixpoint; overlapped
    // so one arm's small convergence jobs back-fill another's tail
    val (exact, lshRaw, lshVerified) = Par.concurrently3(
      arm(Dedup.prefixJaccardJoinFromSets(sets)
        .select(col("doc_a"), col("doc_b")), "exact").materialized,
      arm(rawPairs, "lsh_raw").materialized,
      arm(verifyTierFromSets(sets, rawPairs),
        "lsh_verified").materialized)
    exact.union(lshRaw).union(lshVerified)
      .union(funnelDelta(exact, lshRaw, "delta_raw"))
      .union(funnelDelta(exact, lshVerified, "delta_verified"))
  }

  /** The p27 verify TIER: candidate pairs joined to once-materialized
    * sorted distinct word-hash sets (d26's universe), exact Jaccard
    * at τ = 4/5 via the zero-allocation two-pointer intersect kernel
    * and the cross-multiplied integer compare — no float in the
    * decision. Pair-bounded by construction: the corpus is touched
    * once to build the sets; everything after is sized by the
    * candidate stream, which is the pair-linear claim the standalone
    * p27v ScaleBench row prices (VERDICT r17 #6 — this is the piece
    * a production funnel reuses independently of the certification
    * arms around it in p27).
    */
  private[graft] def verifyTier(documents: DataFrame,
                                candidatePairs: DataFrame): DataFrame =
    verifyTierFromSets(Dedup.tokenHashSets(documents).materialized,
      candidatePairs)

  /** [[verifyTier]] over an already-pinned [[Dedup.tokenHashSets]]
    * frame — p27 shares ONE pinned set table between its exact arm
    * and this tier instead of tokenizing + pinning the corpus twice
    * (r20, guide §1.2).
    */
  private def verifyTierFromSets(sets: DataFrame,
                                 candidatePairs: DataFrame): DataFrame = {
    candidatePairs
      .join(sets.select(col("doc_id").as("doc_a"), col("dw").as("wa")),
        "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("dw").as("wb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Canon.sortedIntersectCount(col("wa"), col("wb")).cast("long")
          .as("inter"),
        size(col("wa")).cast("long").as("sa"),
        size(col("wb")).cast("long").as("sb"))
      .filter(lit(5L) * col("inter") >=
        lit(4L) * (col("sa") + col("sb") - col("inter")))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Standalone verified-LSH pair stream — d03 candidates through
    * [[verifyTier]]; the bench-only p27v entry times exactly this.
    */
  def lshVerifiedPairs(documents: DataFrame): DataFrame =
    verifyTier(documents,
      Dedup.lshCandidatePairs(Dedup.minhashSignature(documents))
        .materialized)

  /** Deterministic training-EPOCH ordering: interleave the corpus
    * round-robin across languages — round r holds the r-th doc of every
    * language (content-hash order within language), so a sequential
    * reader sees all languages mixed at every point of the epoch
    * instead of language-sorted blocks. When a language runs out, later
    * rounds simply contain fewer languages (standard exhaust-and-
    * continue interleave). Output: (doc_id, lang, round, epoch_pos)
    * with epoch_pos a gapless global 1-based position.
    *
    * Scale: the within-language rank is a per-lang window (bounded
    * cardinality — same caveat as p04, languages are few and the window
    * is hash-partitioned across them); the GLOBAL position is the
    * interleave's total order (round, lang, doc_id) ranked with the
    * two-stage template (range-repartition, per-partition rank,
    * partition-count prefix offsets via one window over the tiny
    * counts table — t06/q35's shape). Round count equals the LARGEST
    * language's size — corpus-scale, so anything per-round (the old
    * triangular round-offset join was O(rounds²); even a per-round
    * window leaves round-sized single tasks) must not key on it.
    */
  def epochOrder(documents: DataFrame,
                 numPartitions: Int = 32): DataFrame = {
    val wLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("ord"), col("doc_id"))
    val rounds = documents
      .select(col("doc_id"), col("lang"),
        Canon.hash60(concat(lit("epoch|"), col("text"))).as("ord"))
      .withColumn("round", row_number().over(wLang).cast("long"))
    // pre-pinned: the child ends in a per-language window whose
    // corpus-sized sort+rank tail would re-run in the boundary-
    // sampling job (only the window's shuffle MAP side is reused via
    // skipped stages — TwoStage scaladoc); post-pinned for the
    // boundary draw as always
    val parted = TwoStage.rangeParted(rounds.materialized, numPartitions,
      col("round").asc, col("lang").asc, col("doc_id").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"))
      .orderBy(col("round"), col("lang"), col("doc_id"))
    val local = parted.withColumn("_r",
      row_number().over(wLocal).cast("long"))
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(wOff), lit(0L)).as("_off"))
    local.join(broadcast(offsets), Seq("_pid"))
      .select(col("doc_id"), col("lang"), col("round"),
        (col("_off") + col("_r")).as("epoch_pos"))
  }

  /** Exact-percentile length gate: keep documents whose token count is
    * at or above the corpus `q`-quantile (percentile_disc semantics:
    * the smallest value whose cumulative count reaches ⌈q·n⌉) — the
    * "drop the shortest quartile" filter a mixture plan applies before
    * packing, with an EXACT threshold so the keep set hash-gates
    * (approx_percentile would not).
    *
    * The threshold is computed on a VALUE HISTOGRAM, not a sort: token
    * counts are small integers, so groupBy(n_tokens) collapses 100 TB
    * of documents into at most max-doc-length rows (bounded, ~10⁶ even
    * for book-length docs). The cumulative count over the histogram is
    * the repo's two-stage prefix sum (range-repartition by value,
    * within-partition running sum, partition offsets via the
    * counts-table window pass — the t06/p04/q35 template): never a
    * partition-less window even over the histogram, since "bounded"
    * still means 10⁶ rows on one task otherwise. The scalar threshold
    * broadcast-joins back onto the corpus scan. Two corpus passes
    * total (map-side-combinable histogram + filter); no global sort,
    * nothing driver-side.
    */
  def lengthGate(documents: DataFrame, q: Double = 0.25,
                 numPartitions: Int = 32): DataFrame = {
    val toks = documents.select(col("doc_id"),
      size(Canon.words(col("text"))).cast("long").as("n_tokens"))
    val hist = toks.groupBy(col("n_tokens"))
      .agg(count(lit(1)).as("c"))
      .materialized
    val total = hist.agg(sum(col("c")).as("n"))
    // hist stays materialized above (total reads it too); the parted
    // frame is pinned AGAIN post-exchange (TwoStage scaladoc) so the
    // running-sum and offsets branches see one boundary draw — both
    // pins are histogram-sized, never corpus-sized
    val parted = TwoStage.rangeParted(hist, numPartitions,
      col("n_tokens").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("n_tokens"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val local = parted.withColumn("_lcum", sum(col("c")).over(wLocal))
    val sums = parted.groupBy(col("_pid")).agg(sum(col("c")).as("_psum"))
    // prefix offsets in one window pass over the ≤ numPartitions-row
    // sums table (bounded by partition COUNT, not data — the q35 fold)
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = sums.select(col("_pid"),
      coalesce(sum(col("_psum")).over(wOff), lit(0L)).as("_off"))
    val thr = local.join(broadcast(offsets), Seq("_pid"))
      .join(broadcast(total))
      .filter(col("_off") + col("_lcum") >= ceil(lit(q) * col("n")))
      .agg(min(col("n_tokens")).as("thr"))
    toks.join(broadcast(thr))
      .filter(col("n_tokens") >= col("thr"))
      .select(col("doc_id"), col("n_tokens"))
  }

  /** Curriculum order: a global easy-to-hard training position for
    * every document, difficulty = mean word length (exact-int ratio —
    * the deterministic stand-in for a model difficulty score), ties
    * broken by content hash then id so the order is total. The
    * curriculum-learning counterpart of [[epochOrder]]'s round-robin.
    *
    * The GLOBAL position is the two-stage template (t06/q35/p10):
    * range-repartition by the order key so partition i holds a
    * contiguous position range, rank within partitions, offset by the
    * partition-count prefix window over the tiny counts — no partition-less
    * window, no single-task sort, scales with partitions.
    */
  def curriculumOrder(documents: DataFrame,
                      numPartitions: Int = 32): DataFrame = {
    val w = Canon.words(col("text"))
    val base = documents.select(col("doc_id"),
      (aggregate(w, lit(0L), (acc, x) => acc + length(x))
        .cast("double") / size(w)).as("difficulty"),
      md5(col("text")).as("_tb"))
    // pre-pinned: the child is a shuffle-free difficulty scan (words
    // aggregate + md5 per doc) that the boundary-sampling job would
    // otherwise compute twice (TwoStage scaladoc); post-pinned for
    // the boundary draw as always
    val parted = TwoStage.rangeParted(base.materialized, numPartitions,
      col("difficulty").asc, col("_tb").asc, col("doc_id").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"))
      .orderBy(col("difficulty"), col("_tb"), col("doc_id"))
    val local = parted.withColumn("_r", row_number().over(wLocal))
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    // prefix offsets in one window pass over the ≤ numPartitions-row
    // counts table (bounded by partition COUNT, not data — q35's fold)
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(wOff), lit(0L)).as("_off"))
    local.join(broadcast(offsets), Seq("_pid"))
      .select(col("doc_id"), col("difficulty"),
        (col("_off") + col("_r")).as("curriculum_pos"))
  }

  /** Token-BALANCED output sharding — the writer-planning step before
    * a training corpus is materialized: assign every document to one
    * of `numShards` output shards so shard token totals are nearly
    * equal (skewed shards straggle the downstream reader exactly like
    * skewed partitions straggle a stage). Deterministic serpentine
    * LPT: documents ordered (n_tokens DESC, content hash, doc_id) and
    * dealt boustrophedon — rank r goes to shard (r−1) mod S on even
    * passes and S−1−((r−1) mod S) on odd passes — the classic
    * near-optimal greedy for balanced sums without any sequential
    * state (the true LPT's running-min heap is inherently serial;
    * serpentine dealing is rank algebra, embarrassingly parallel, and
    * within a top-document of optimal balance).
    *
    * Scale: the global rank is the two-stage template (t06/q35/p13 —
    * range-repartition on the order key, per-partition rank, prefix
    * offsets from the tiny counts table; no partition-less window, no
    * single-task sort); the shard assignment is row-local arithmetic
    * on the rank. Output: (doc_id, shard, n_tokens).
    */
  def balancedShards(documents: DataFrame, numShards: Int = 64,
                     numPartitions: Int = 32): DataFrame = {
    val base = documents.select(col("doc_id"),
      size(Canon.words(col("text"))).cast("long").as("n_tokens"),
      md5(col("text")).as("_tb"))
    // pre-pinned: the child is a shuffle-free words+md5 corpus scan —
    // the boundary-sampling job would re-tokenize the corpus
    // (TwoStage scaladoc); post-pinned for the boundary draw as always
    val parted = TwoStage.rangeParted(base.materialized, numPartitions,
      col("n_tokens").desc, col("_tb").asc, col("doc_id").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"))
      .orderBy(col("n_tokens").desc, col("_tb"), col("doc_id"))
    val local = parted.withColumn("_r", row_number().over(wLocal).cast("long"))
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(wOff), lit(0L)).as("_off"))
    local.join(broadcast(offsets), Seq("_pid"))
      .withColumn("_r0", col("_off") + col("_r") - 1L)
      // integer division (Column `/` is double division)
      .select(col("doc_id"),
        when(expr(s"_r0 div ${numShards}L") % 2 === 0,
          col("_r0") % numShards)
          .otherwise(lit(numShards - 1) - col("_r0") % numShards)
          .cast("int").as("shard"),
        col("n_tokens"))
  }

  /** Deterministic shard manifest (p21) — the integrity artifact the
    * writer emits beside a packed corpus: per p16 shard, doc count,
    * token total, doc_id span, and an ORDER-INDEPENDENT content
    * checksum — the exact sum of per-doc hash60(text), folded mod
    * 2^60 (commutative integer addition: any task/partition order
    * yields the same manifest, where an md5-of-concatenation would
    * need a total order and a single-task fold per shard).
    * Re-running the pipeline on any cluster must reproduce this table
    * bit-for-bit; a mismatch names the shard that diverged. SHARES
    * [[balancedShards]]' assignment so the manifest can never drift
    * from the layout it audits.
    *
    * Scale shape: p16's two-stage rank (already characterized), one
    * doc_id equi-join to fetch the content hash, one
    * map-side-combinable per-shard aggregate; checksum sums are exact
    * in decimal(38,0) (HUGEINT on the oracle side) before the one
    * final mod.
    */
  def shardManifest(documents: DataFrame, numShards: Int = 64)
      : DataFrame =
    balancedShards(documents, numShards)
      .join(documents.select(col("doc_id"),
        Canon.hash60(col("text")).as("_h")), "doc_id")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        pmod(sum(col("_h").cast("decimal(38,0)")),
          lit(1152921504606846976L).cast("decimal(38,0)"))
          .cast("long").as("checksum"))

  /** Z-order (Morton-curve) layout planning — the data-skipping
    * repack a lakehouse runs so point/range queries on EITHER of two
    * keys prune most files (Delta/Iceberg `OPTIMIZE ZORDER BY`): sort
    * by the bit-interleave of the two dimensions, cut the order into
    * `numShards` equal output files, and report each file's per-key
    * min/max — exactly the footer stats a scan planner prunes with.
    * Each dimension is first min–max bucketed onto the full 16-bit
    * range (one tiny stats aggregate, broadcast back): interleaving
    * RAW keys puts the wider dim's high bits above all of the narrow
    * dim's bits, so the narrow dim never clusters — bucketing is what
    * makes the curve actually interlock the two dims, and it is what
    * production repacks do. The z-value then fits comfortably in a
    * BIGINT and the interleave is 16 unrolled shift-mask terms on
    * both the Spark and oracle side — identical integer algebra, no
    * floats anywhere.
    *
    * Scale: the z-value is row-local arithmetic; the global cut uses
    * the two-stage rank template (range-repartition on z, local rank,
    * prefix offsets off the tiny counts table — no partition-less
    * window); the shard id is rank algebra (`(rank−1)·S div N`, sizes
    * within 1 row of equal); the stats are one map-side-partial
    * aggregate. N arrives as a 1-row broadcast (the scalar-subquery
    * class). Nothing data-sized is ever globally sorted on one task —
    * at 100 TB this is the same plan, just wider.
    */
  def zorderLayout(lineitem: DataFrame, numShards: Int = 32,
                   numPartitions: Int = 32): DataFrame = {
    val bits = 16
    def interleave(x: Column, y: Column): Column =
      (0 until bits).map { i =>
        (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
          (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
      }.reduce(_ + _)
    val stats = lineitem.agg(
      min(col("l_partkey")).as("_pkmn"), max(col("l_partkey")).as("_pkmx"),
      min(col("l_suppkey")).as("_skmn"), max(col("l_suppkey")).as("_skmx"))
    def bucket(x: String, mn: String, mx: String): Column =
      expr(s"(($x - $mn) * 65535L) div " +
        s"(CASE WHEN $mx > $mn THEN $mx - $mn ELSE 1L END)")
    val base = lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .join(broadcast(stats))
      .withColumn("zval",
        interleave(bucket("l_partkey", "_pkmn", "_pkmx"),
          bucket("l_suppkey", "_skmn", "_skmx")))
      .drop("_pkmn", "_pkmx", "_skmn", "_skmx")
    // pre-pinned: the child is a shuffle-free scan (broadcast-join +
    // bit-interleave over lineitem) that the boundary-sampling job
    // would evaluate a second time (TwoStage scaladoc). Post-pinned
    // ONCE for the boundary draw: three consumers (ranks, counts,
    // total) read the parted frame — the original site of the
    // observed boundary-redraw corruption (overlapping shard ranges
    // and a rank past N at sf0.01), now the shared TwoStage invariant
    val parted = TwoStage.rangeParted(base.materialized, numPartitions,
      col("zval").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
    val local = parted.withColumn("_r", row_number().over(wLocal).cast("long"))
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(wOff), lit(0L)).as("_off"))
    val total = counts.agg(sum(col("_cnt")).as("_n"))
    local.join(broadcast(offsets), Seq("_pid"))
      .join(broadcast(total))
      .withColumn("shard",
        expr(s"((_off + _r - 1L) * ${numShards}L) div _n").cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("zval")).as("z_min"), max(col("zval")).as("z_max"),
        min(col("l_partkey")).as("partkey_min"),
        max(col("l_partkey")).as("partkey_max"),
        min(col("l_suppkey")).as("suppkey_min"),
        max(col("l_suppkey")).as("suppkey_max"))
  }

  /** Data-skipping effectiveness probe — p17's DIAL (the s11/s17
    * discipline: an operator's payoff measured as a gated query, not
    * argued). For a grid of `nPreds` diagonal box predicates over
    * (l_partkey, l_suppkey) — equal integer eighths of each key's
    * global range — count, per predicate, how many shards a
    * stats-only pruner MUST scan (footer min/max interval overlaps
    * the box on BOTH dims) under two layouts of the same table into
    * the same `numShards` files: the [[zorderLayout]] repack versus
    * the natural (l_orderkey, l_linenumber) order. The z-order wins
    * exactly when both dims are selective, which is the case the
    * repack exists for.
    *
    * Scale shape: everything beyond the two layout chains (each the
    * proven two-stage-rank template) is algebra over two
    * `numShards`-row stats tables crossed with an `nPreds`-row
    * predicate grid — broadcast joins of bounded frames. At 100 TB
    * the stats tables ARE the parquet footers; the probe itself
    * never touches data.
    */
  def skippingProbe(lineitem: DataFrame, numShards: Int = 32,
                    nPreds: Int = 8,
                    numPartitions: Int = 32): DataFrame = {
    val zs = zorderLayout(lineitem, numShards, numPartitions)
      .select(col("shard"), col("partkey_min"), col("partkey_max"),
        col("suppkey_min"), col("suppkey_max"))
    // natural-order layout: same rank-cut shard assignment, ordered
    // by the table's native (orderkey, linenumber) key
    val base = lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    // post-pinned for the same reason as zorderLayout's parted frame;
    // NOT pre-pinned: the child is a plain 4-column parquet select,
    // and the boundary-sampling job's second pruned-columnar read
    // costs less than a checkpoint write+2 reads (TwoStage scaladoc's
    // accepted trade for cheap shuffle-free children)
    val parted = TwoStage.rangeParted(base, numPartitions,
      col("l_orderkey").asc, col("l_linenumber").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    val local = parted
      .withColumn("_r", row_number().over(wLocal).cast("long"))
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(wOff), lit(0L)).as("_off"))
    val total = counts.agg(sum(col("_cnt")).as("_n"))
    val ns = local.join(broadcast(offsets), Seq("_pid"))
      .join(broadcast(total))
      .withColumn("shard",
        expr(s"((_off + _r - 1L) * ${numShards}L) div _n").cast("long"))
      .groupBy(col("shard"))
      .agg(min(col("l_partkey")).as("partkey_min"),
        max(col("l_partkey")).as("partkey_max"),
        min(col("l_suppkey")).as("suppkey_min"),
        max(col("l_suppkey")).as("suppkey_max"))
    // diagonal predicate grid over the global key ranges
    val stats = lineitem.agg(
      min(col("l_partkey")).as("_pkmn"), max(col("l_partkey")).as("_pkmx"),
      min(col("l_suppkey")).as("_skmn"), max(col("l_suppkey")).as("_skmx"))
    val preds = lineitem.sparkSession.range(nPreds.toLong)
      .select(col("id").as("pred_id")).join(broadcast(stats))
      .select(col("pred_id"),
        expr(s"_pkmn + ((_pkmx - _pkmn + 1L) * pred_id) div ${nPreds}L")
          .as("pk_lo"),
        expr(s"_pkmn + ((_pkmx - _pkmn + 1L) * (pred_id + 1)) div " +
          s"${nPreds}L - 1L").as("pk_hi"),
        expr(s"_skmn + ((_skmx - _skmn + 1L) * pred_id) div ${nPreds}L")
          .as("sk_lo"),
        expr(s"_skmn + ((_skmx - _skmn + 1L) * (pred_id + 1)) div " +
          s"${nPreds}L - 1L").as("sk_hi"))
    val mustScan: Column =
      sum((not(col("partkey_max") < col("pk_lo") ||
          col("partkey_min") > col("pk_hi")) &&
        not(col("suppkey_max") < col("sk_lo") ||
          col("suppkey_min") > col("sk_hi"))).cast("long"))
    val scanZ = preds.crossJoin(broadcast(zs))
      .groupBy(col("pred_id")).agg(mustScan.as("scan_zorder"))
    val scanN = preds.crossJoin(broadcast(ns))
      .groupBy(col("pred_id")).agg(mustScan.as("scan_natural"))
    scanZ.join(scanN, Seq("pred_id"))
      .select(col("pred_id"), lit(numShards.toLong).as("n_shards"),
        col("scan_zorder"), col("scan_natural"))
  }

  /** Corpus mixture report ("data card"): per (lang, source) cell, doc
    * and token counts plus each cell's share of the corpus — the table
    * a mixture plan (p04/p07) is tuned against and the first thing a
    * dataset audit reads.
    *
    * One map-side-combinable aggregate over the corpus scan; the grand
    * totals are a second aggregate of the (tiny) cell table joined
    * back as a 1-row broadcast (the scalar-subquery class, SURVEY
    * §8.5). Shares are exact-int over exact-int single divisions.
    */
  def corpusReport(documents: DataFrame): DataFrame = {
    val cells = documents
      .select(col("lang"), col("source"),
        size(Canon.words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .materialized // feeds the totals AND the share join
    val totals = cells.agg(sum(col("n_docs")).as("_td"),
      sum(col("n_tokens")).as("_tt"))
    cells.join(broadcast(totals))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("_td")).as("share_docs"),
        (col("n_tokens").cast("double") / col("_tt")).as("share_tokens"))
  }

  /** Loss-accounting funnel over the [[corpusPipeline]] chain: docs
    * and tokens SURVIVING each stage — raw → quality gate → exact
    * dedup → exact-substring (windowed-dup) removal → near-dup
    * canonical — the first table a pipeline owner asks for ("where
    * did my tokens go?"). p12 reports the final mixture; this reports
    * the attrition that produced it, including what the Lee et al.
    * position-level stage removes that content-key dedup missed.
    *
    * Scale shape: the stage memberships are attached as per-doc flags
    * (three doc_id-keyed left joins of the corpus against the
    * doc-sized exact-canonical, windowed-dup-drop, and near-dup-drop
    * lists, broadcast by AQE when small), then ALL five stages
    * aggregate in ONE corpus pass via conditional sums — not one scan
    * per stage. The 1-row result explodes into the 5 stage rows
    * row-locally. The chain itself (content-key dedup shuffle, d20
    * position table, LSH banding, cluster fixpoint) is
    * corpusPipeline's, unchanged.
    */
  def corpusFunnel(documents: DataFrame,
                   minTokens: Int = 30,
                   dupTau: Double = 0.5): DataFrame = {
    val toks = documents.withColumn("n_tokens",
      size(Canon.words(col("text"))).cast("long"))
    val q = toks.filter(col("n_tokens") >= minTokens)
    val keep = q.groupBy(md5(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("_ex"))
    val surv = q.join(keep.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val wdrop = Dedup.windowDupFrac(surv)
      .filter(col("dup_frac") > dupTau)
      .select(col("doc_id"), lit(1).as("_wd"))
    val surv2 = surv.join(wdrop.select(col("doc_id")), Seq("doc_id"),
      "left_anti")
    val dropIds = Dedup.dupClusters(
        Dedup.lshCandidatePairs(Dedup.minhashSignature(surv2)))
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"), lit(1).as("_nd"))
    val marked = toks
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= minTokens).as("_q"))
      .join(keep, Seq("doc_id"), "left")
      .join(wdrop, Seq("doc_id"), "left")
      .join(dropIds, Seq("doc_id"), "left")
    def dt(cond: Column, d: String, t: String) = Seq(
      count(when(cond, lit(1))).as(d),
      coalesce(sum(when(cond, col("n_tokens"))), lit(0L)).as(t))
    val aggs = dt(lit(true), "d0", "t0") ++
      dt(col("_q"), "d1", "t1") ++
      dt(col("_ex").isNotNull, "d2", "t2") ++
      dt(col("_ex").isNotNull && col("_wd").isNull, "d3", "t3") ++
      dt(col("_ex").isNotNull && col("_wd").isNull &&
        col("_nd").isNull, "d4", "t4")
    def row(i: Int, name: String) = struct(
      lit(i).as("stage"), lit(name).as("stage_name"),
      col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens"))
    marked.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(
        row(0, "raw"), row(1, "quality_gate"),
        row(2, "exact_dedup"), row(3, "window_dedup"),
        row(4, "neardup_canonical"))).as("s"))
      .select(col("s.stage").as("stage"),
        col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"))
  }

  /** [[corpusFunnel]] with the exact-substring stage acting at SPAN
    * granularity ([[Dedup.windowDupMask]]) instead of dropping whole
    * documents: every duplicated `k`-window span is removed FROM its
    * document (tokens fall, docs survive), and near-dup canonical
    * selection then runs over the MASKED text — the Lee et al. 2022
    * configuration where exact-substring dedup cleans the corpus
    * rather than gating it. Side-by-side with p14 this answers the
    * curation trade-off directly: stage 3 here loses ONLY tokens
    * (n_docs equals stage 2 by construction) where p14's doc-drop
    * loses whole documents; stage 4 shows how span removal changes
    * what the near-dup pass sees (masked rehashes can collapse into
    * clusters verbatim docs would not).
    *
    * Scale shape: d22's three-shuffle mask plan, materialized once —
    * it feeds both the minhash chain and the per-doc token accounting;
    * the funnel aggregate is corpusFunnel's one-pass conditional-sum
    * over doc_id-keyed flag joins. Nothing new beyond the d22 + LSH
    * costs.
    */
  def corpusFunnelMasked(documents: DataFrame,
                         minTokens: Int = 30): DataFrame = {
    val toks = documents.withColumn("n_tokens",
      size(Canon.words(col("text"))).cast("long"))
    val q = toks.filter(col("n_tokens") >= minTokens)
    val keep = q.groupBy(md5(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("_ex"))
    val surv = q.join(keep.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val masked = Dedup.windowDupMask(surv)
      .select(col("doc_id"), col("n_masked"), col("text_masked"))
      .materialized // feeds the near-dup chain AND the token accounting
    val dropIds = Dedup.dupClusters(
        Dedup.lshCandidatePairs(Dedup.minhashSignature(
          masked.select(col("doc_id"), col("text_masked").as("text")))))
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"), lit(1).as("_nd"))
    val marked = toks
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= minTokens).as("_q"))
      .join(keep, Seq("doc_id"), "left")
      .join(masked.select(col("doc_id"), col("n_masked")),
        Seq("doc_id"), "left")
      .join(dropIds, Seq("doc_id"), "left")
    // post-mask token count; n_masked is defined exactly on the
    // exact-dedup survivors the mask ran over
    val mtok = col("n_tokens") - coalesce(col("n_masked"), lit(0L))
    def dt(cond: Column, tokens: Column, d: String, t: String) = Seq(
      count(when(cond, lit(1))).as(d),
      coalesce(sum(when(cond, tokens)), lit(0L)).as(t))
    val aggs = dt(lit(true), col("n_tokens"), "d0", "t0") ++
      dt(col("_q"), col("n_tokens"), "d1", "t1") ++
      dt(col("_ex").isNotNull, col("n_tokens"), "d2", "t2") ++
      dt(col("_ex").isNotNull, mtok, "d3", "t3") ++
      dt(col("_ex").isNotNull && col("_nd").isNull, mtok, "d4", "t4")
    def row(i: Int, name: String) = struct(
      lit(i).as("stage"), lit(name).as("stage_name"),
      col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens"))
    marked.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(
        row(0, "raw"), row(1, "quality_gate"),
        row(2, "exact_dedup"), row(3, "window_mask"),
        row(4, "neardup_canonical"))).as("s"))
      .select(col("s.stage").as("stage"),
        col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"))
  }

  /** Sentinel `valid_to_us` for an open (current) SCD2 version:
    * 9999-12-31T23:59:59.999999Z in µs — a literal on both engines,
    * chosen over NULL because a NULL BIGINT round-trips through the
    * oracle's pandas path as float64 NaN and poisons the whole
    * column's rendering.
    */
  val ScdOpenEndUs: Long = 253402300799999999L

  /** CDC changelog → SCD2 version table (the lakehouse `MERGE INTO` /
    * change-data-feed compaction, Kimball type-2 dimension): each
    * change row becomes a version with a half-open validity interval
    * `[valid_from_us, valid_to_us)`, `valid_to_us` = the next
    * version's start ([[ScdOpenEndUs]] for the current one). Ordering
    * inside a key is (ts, event_id) — the event id breaks equal-ts
    * ties deterministically, the same total order st02 pins.
    *
    * Scale shape: ONE shuffle on the key + the per-key sort the
    * interval semantics inherently require; `version`, `valid_to_us`
    * and `is_current` all ride the SAME window frame (one sort, three
    * projections — lead/row_number over an already-sorted partition
    * are O(1) per row). The no-sort half is [[cdcSnapshot]]: when only
    * the LATEST state per key is wanted (the common read), max_by
    * skips the sort entirely — PipelineSpec pins snapshot ≡ the
    * is_current slice of this table.
    */
  def cdcUpsert(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events.select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), graft.Tables.tsUs(events).as("ts_us"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us",
        coalesce(lead(col("ts_us"), 1).over(w), lit(ScdOpenEndUs)))
      .withColumn("is_current", lead(col("ts_us"), 1).over(w).isNull)
      .drop("ts_us")
  }

  /** SCD2 time-travel snapshots (p22) — the lakehouse
    * "AS OF TIMESTAMP" audit read over [[cdcUpsert]]'s version table:
    * the full entity state at each of `gridPoints` deterministic
    * instants spanning the changelog (min_ts + i·span/grid, integer
    * µs) — "what did the table look like at time g", answered from
    * version intervals without replaying history. An instant selects
    * per user the unique version with valid_from ≤ g < valid_to
    * (equal-ts ties produce empty [t, t) intervals that can never
    * match, so the p18 ordering keeps the answer well-defined); users
    * whose first change postdates g are absent — as they were then.
    *
    * Scale shape: the version table is p18's single windowed
    * exchange; the grid is a `gridPoints`-row broadcast crossed into
    * it with a row-local interval predicate (the bounded-broadcast
    * BNLJ class) — no second data-sized shuffle, no per-instant scan.
    */
  def timeTravelGrid(events: DataFrame, gridPoints: Int = 4)
      : DataFrame = {
    val tsUs = graft.Tables.tsUs(events)
    val bounds = events.agg(min(tsUs).as("mn"), max(tsUs).as("mx"))
    val grid = bounds
      .select(explode(sequence(lit(1), lit(gridPoints))).as("gi"),
        col("mn"), col("mx"))
      .select(col("gi").cast("long").as("grid_i"),
        (col("mn") + expr(s"((mx - mn) * gi) div $gridPoints"))
          .as("grid_ts_us"))
    cdcUpsert(events)
      .join(broadcast(grid),
        col("valid_from_us") <= col("grid_ts_us") &&
          col("grid_ts_us") < col("valid_to_us"))
      .select(col("grid_i"), col("grid_ts_us"), col("user_id"),
        col("event_id"), col("event_type"), col("value"), col("version"))
  }

  /** Latest-wins CDC compaction WITHOUT the sort: one map-side-
    * combinable max_by per column keyed on the same (ts, event_id)
    * total order [[cdcUpsert]] sorts by — the struct comparison makes
    * the tiebreak explicit. This is the plan to run when the history
    * is not needed: a single hash-aggregate shuffle, no window, no
    * per-key sort, which at 100 TB of changelog is the difference
    * between a scan-speed compaction and a sort-bound one.
    */
  def cdcSnapshot(events: DataFrame): DataFrame = {
    val tsUs = graft.Tables.tsUs(events)
    val ord = struct(tsUs, col("event_id"))
    events.groupBy(col("user_id"))
      .agg(max_by(col("event_id"), ord).as("event_id"),
        max_by(col("event_type"), ord).as("event_type"),
        max_by(col("value"), ord).as("value"),
        max_by(tsUs, ord).as("valid_from_us"),
        count(lit(1)).cast("long").as("version"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("version"), col("valid_from_us"),
        lit(ScdOpenEndUs).as("valid_to_us"), lit(true).as("is_current"))
  }

  /** Epoch-capped mixture solver (p20) — the planning step between
    * the data card (p12) and the samplers (p04/p07): given
    * per-language availability T_l (tokens) and √-law target weights
    * w_l = ⌊√T_l⌋ (p07's temperature-flattening story in exact
    * integers), pick a FEASIBLE total token budget at which the
    * scarcest language reaches the epoch cap —
    * N = min_l ⌊epochCap · T_l · W / w_l⌋. Because the planned share
    * ⌊N·w_l/W⌋ floors again, N is a lower envelope of the true
    * maximum, not the maximum itself: a slightly larger N' can still
    * satisfy ⌊N'·w_l/W⌋ ≤ epochCap·T_l for every l (floor slack;
    * ADVICE r13), so "binding" means "at the cap under THIS budget
    * rule", not "one more token overflows". Emit the per-language
    * plan: planned tokens ⌊N·w_l/W⌋,
    * achieved epochs in millionths (planned·1e6 div T_l, ≤
    * epochCap·1e6 by construction), and the binding language(s) — the
    * mixture's bottleneck, i.e. what to collect more of before the
    * next scale-up. All integer algebra (the g10/g19 determinism
    * discipline); the one sqrt is IEEE-correctly-rounded in both
    * engines (the s15 precedent). Long arithmetic holds to ~1e17
    * token-weight products; a true 100 TB corpus lifts the three
    * products to decimal(38,0) like g17.
    *
    * Scale shape: ONE map-side-combinable corpus aggregate down to
    * the language dimension (config-sized); everything downstream is
    * algebra on that tiny frame crossed with 1-row broadcasts of W
    * and N (the scalar-subquery class).
    */
  def mixtureSolver(documents: DataFrame, epochCap: Int = 3): DataFrame = {
    val avail = documents
      .select(col("lang"),
        size(Canon.words(col("text"))).cast("long").as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("avail"))
      .filter(col("avail") > 0L)
      .select(col("lang"), col("avail"),
        floor(sqrt(col("avail").cast("double"))).cast("long").as("w"))
      .materialized
    val tot = avail.agg(sum(col("w")).as("bigw"))
    val capped = avail.crossJoin(broadcast(tot))
      .withColumn("cap_n", expr(s"($epochCap * avail * bigw) div w"))
    val n = capped.agg(min(col("cap_n")).as("n_total"))
    capped.crossJoin(broadcast(n))
      .select(col("lang"), col("avail"), col("w").as("weight"),
        expr("(n_total * w) div bigw").as("planned"),
        expr("((n_total * w) div bigw) * 1000000 div avail")
          .as("epochs_1e6"),
        (col("cap_n") === col("n_total")).as("is_binding"))
  }

  /** Leakage-proof fold assignment (p23): k-fold split keyed by the
    * document's DUP-CLUSTER representative, not its own id — the
    * train/eval hygiene rule the near-dup literature keeps
    * rediscovering (Lee 2022 §6.2: near-dups straddling a doc-hash
    * split leak training text into the held-out set and inflate eval).
    * p02's doc-hash split has exactly that hole; here every member of
    * a d08 duplicate cluster hashes the SAME representative, so a
    * cluster can never straddle folds BY CONSTRUCTION. Docs in no
    * cluster are their own representative (singleton clusters).
    *
    * Shape: the d08 closure (lineage-truncated fixpoint over the
    * capped LSH pair set — clustered docs only, usually a small
    * fraction), ONE left join back to the corpus, then a row-local
    * hash: at 100 TB the fold column costs one broadcast-able join
    * over the clustered subset plus scan-speed hashing.
    */
  def clusterSafeFolds(documents: DataFrame, k: Int = 5): DataFrame = {
    val clusters = Dedup.dupClusters(Dedup.lshCandidatePairs(
      Dedup.minhashSignature(documents)))
    documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      .withColumn("fold",
        Canon.hash60(concat(lit("fold|"),
          col("cluster_rep").cast("string"))) % k)
  }

  /** Quality-pruning yield curve (p24): rank the corpus by a quality
    * score, cut it into `nBuckets` equal-count grades, and emit per
    * grade the docs/tokens it contributes plus the CUMULATIVE
    * keep-top-k yield — the quantity-vs-quality tradeoff table a
    * data-pruning decision reads (Sorscher et al. 2022: the optimal
    * keep fraction depends on the data budget, so the decision needs
    * the whole curve, not one threshold). `score_floor` per grade is
    * the operating threshold that realizes that cut.
    *
    * Score = uniq_ratio · alnum_ratio (t02's repetition and symbol
    * signals composed): three correctly-rounded IEEE ops on exact
    * integer counts, so both engines produce the identical double and
    * the gate hashes. Ranking ties break on doc_id.
    *
    * Shape: the global rank is the two-stage template (range-
    * repartition on (score DESC, doc_id) pinned via
    * [[TwoStage.rangeParted]], per-partition row_number,
    * partition-count prefix offsets — t06/q35/p10); totals are a
    * 1-row broadcast; the cumulative pass is a window over the
    * nBuckets-row grade table (the bounded counts-table class). No
    * partition-less window over data, no second corpus pass.
    */
  /** p24's gated grade count — shared with the oracle. */
  val PruneBuckets: Int = 10

  def pruningCurve(documents: DataFrame, nBuckets: Int = PruneBuckets,
                   numPartitions: Int = 32): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val w = Canon.words(col("text"))
    val scored = documents.select(
      col("doc_id"),
      size(w).cast("long").as("n_tokens"),
      ((size(array_distinct(w)) / size(w)) *
        ((length(col("text")) -
          length(regexp_replace(col("text"), "[a-z0-9 ]", ""))) /
          length(col("text")))).as("score"))
    // pre-pinned: the child is a shuffle-free words+regexp score scan
    // the boundary-sampling job would compute twice (TwoStage
    // scaladoc). Post-pinned — THE observed failure
    // site: un-pinned, the rank and counts branches pruned different
    // columns (n_tokens rode only the rank side), ReuseExchange never
    // fired, and the sf1eq probe tier showed grade counts of
    // 4776..5429 where the rank algebra guarantees exactly n/10
    val parted = TwoStage.rangeParted(scored.materialized, numPartitions,
      col("score").desc, col("doc_id").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val local = parted.withColumn("_r",
      row_number().over(wLocal).cast("long"))
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(wOff), lit(0L)).as("_off"))
    // totals from the PINNED frame, not `scored` — a third read of
    // the raw scan would re-run the text scoring for no reason
    val tot = parted.agg(count(lit(1)).as("_n"),
      sum(col("n_tokens")).as("_tt"))
    val perGrade = local.join(broadcast(offsets), Seq("_pid"))
      .crossJoin(broadcast(tot))
      .select(expr(s"((_off + _r - 1) * $nBuckets) div _n").as("bucket"),
        col("score"), col("n_tokens"), col("_tt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bucket_tokens"),
        min(col("score")).as("score_floor"),
        max(col("_tt")).as("_tt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perGrade
      .withColumn("docs_kept", sum(col("n_docs")).over(wCum))
      .withColumn("tokens_kept", sum(col("bucket_tokens")).over(wCum))
      .select(col("bucket"), col("score_floor"), col("n_docs"),
        col("bucket_tokens"), col("docs_kept"), col("tokens_kept"),
        (col("tokens_kept").cast("double") / col("_tt")).as("token_frac"))
  }

  /** Corpus source-mix drift (p25): Jensen–Shannon divergence of the
    * per-source document AND token distributions between two
    * deterministic corpus halves (doc_id parity — in production, two
    * snapshot dates), the data-card drift monitor beside s32's
    * embedding drift: a refresh that shifts the source mix moves JS
    * off ~0 long before any downstream metric does. JS = ½KL(p‖m) +
    * ½KL(q‖m) with m the midpoint; per source the log ratios are
    * EXACT rationals — p_i/m_i = 2·a_i·B / (a_i·B + b_i·A) — so each
    * ln() is taken of one mirrored-operand double expression
    * (products in DOUBLE: a_i·B overflows long at corpus scale) and
    * quantized to integer micro-nats (the t19/t23/s32 fixed-point
    * convention); the source-weighted sums are then exact
    * decimal(38,0) integers with ONE double division per half at the
    * end. A source absent from one half contributes zero weight to
    * that half's sum and ln 2 to the other — no ±∞ path.
    *
    * Shape: ONE map-side (source, parity) aggregate over the corpus
    * scan (both halves in the same pass — a filter-twice form would
    * scan twice), a 1-row totals broadcast, and source-bounded
    * row-local algebra. Output is one audit row.
    */
  def corpusDrift(documents: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val evenDoc = col("doc_id") % 2 === 0
    val cells = documents
      .select(col("doc_id"), col("source"),
        size(Canon.words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(when(evenDoc, 1L).otherwise(0L)).as("docs_a"),
        sum(when(!evenDoc, 1L).otherwise(0L)).as("docs_b"),
        sum(when(evenDoc, col("n_tokens")).otherwise(0L)).as("tokens_a"),
        sum(when(!evenDoc, col("n_tokens")).otherwise(0L)).as("tokens_b"))
      .materialized
    val tot = broadcast(cells.agg(
      sum(col("docs_a")).as("ta"), sum(col("docs_b")).as("tb"),
      sum(col("tokens_a")).as("tta"), sum(col("tokens_b")).as("ttb")))
    def lMicro(a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column,
               bigA: org.apache.spark.sql.Column,
               bigB: org.apache.spark.sql.Column) =
      when(a > 0L,
        floor(log((lit(2.0) * a.cast("double") * bigB) /
          (a.cast("double") * bigB + b.cast("double") * bigA))
          * lit(1000000L)).cast("long"))
        .otherwise(lit(0L))
    val wl = cells.crossJoin(tot).select(
      col("docs_a"), col("docs_b"), col("tokens_a"), col("tokens_b"),
      col("ta"), col("tb"), col("tta"), col("ttb"),
      lMicro(col("docs_a"), col("docs_b"), col("ta"), col("tb"))
        .as("l1d"),
      lMicro(col("docs_b"), col("docs_a"), col("tb"), col("ta"))
        .as("l2d"),
      lMicro(col("tokens_a"), col("tokens_b"), col("tta"), col("ttb"))
        .as("l1t"),
      lMicro(col("tokens_b"), col("tokens_a"), col("ttb"), col("tta"))
        .as("l2t"))
    wl.agg(count(lit(1)).as("n_sources"),
        sum(col("docs_a")).as("docs_a"), sum(col("docs_b")).as("docs_b"),
        sum(col("tokens_a")).as("tokens_a"),
        sum(col("tokens_b")).as("tokens_b"),
        sum((col("docs_a") * col("l1d")).cast(dec)).as("s1d"),
        sum((col("docs_b") * col("l2d")).cast(dec)).as("s2d"),
        sum((col("tokens_a") * col("l1t")).cast(dec)).as("s1t"),
        sum((col("tokens_b") * col("l2t")).cast(dec)).as("s2t"),
        max(col("ta")).as("_ta"), max(col("tb")).as("_tb"),
        max(col("tta")).as("_tta"), max(col("ttb")).as("_ttb"))
      .select(col("n_sources"), col("docs_a"), col("docs_b"),
        col("tokens_a"), col("tokens_b"),
        ((col("s1d").cast("double") / (lit(2.0) * col("_ta")) +
          col("s2d").cast("double") / (lit(2.0) * col("_tb")))
          / lit(1000000.0)).as("js_docs_nats"),
        ((col("s1t").cast("double") / (lit(2.0) * col("_tta")) +
          col("s2t").cast("double") / (lit(2.0) * col("_ttb")))
          / lit(1000000.0)).as("js_tokens_nats"))
  }
}
