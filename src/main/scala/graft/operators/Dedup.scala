package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

import graft.functions.Canon

/** Deduplication operator family over the `documents` table
  * (SURVEY.md §2.12 — the LLM-pipeline extension of the reference's
  * content-hash insert-ignore dedup, follower.py:293-294,205-207).
  *
  * Scale design, per operator:
  *
  *   - Exact dedup: key is computed map-side (md5, codegen'd); the only
  *     shuffle is the hash aggregation on the key. At 100 TB this is
  *     the minimum-possible plan (one exchange), and AQE coalesces the
  *     post-shuffle partitions.
  *   - MinHash signatures are *row-local* array expressions — no
  *     explode, no shuffle, no state: each doc's signature is computed
  *     inside whole-stage codegen at scan speed. The classic
  *     explode-shingles + groupBy(doc,seed) formulation shuffles
  *     |docs|·|shingles|·|seeds| rows; this one shuffles nothing.
  *   - LSH banding shuffles only (doc_id, band_key) pairs — 4 rows per
  *     doc — and joins on the band key. Bucket skew (a hot band) is
  *     handled by AQE skew-join splitting at runtime.
  *   - Pairwise verification (Jaccard / cosine) is restricted to
  *     candidate blocks (same source / same LSH bucket / same label):
  *     never an unblocked O(n²) cross join.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The band keys an all-null signature produces (concat_ws SKIPS
    * null elements, separator included only between retained ones →
    * md5 of just the band index): constants used to drop short-doc
    * degenerate bands post-explode.
    */
  private val degenerateBandKeys: Seq[String] = (0 until 4).map { j =>
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Exact dedup by full-content md5 key (§2.12 "exact"): one row per
    * distinct text with its first doc_id and duplicate count —
    * insert-ignore semantics with a deterministic survivor.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("_key"))
      .agg(min(col("doc_id")).as("first_doc_id"),
        count(lit(1)).as("n_dups"))

  /** MinHash signature: `nSeeds` minima over word-`k` shingles, one
    * column per seed (m0..m{n-1}). Entirely row-local — see the scale
    * note above. Each shingle is md5-hashed ONCE into Z_p; the per-seed
    * hashes are cheap affine transforms of that base hash (Canon
    * universal-hash family), so the md5 cost doesn't multiply by the
    * signature width.
    */
  def minhashSignature(documents: DataFrame, nSeeds: Int = 8,
                       k: Int = 3): DataFrame = {
    // Each derived array lives in its OWN projection so downstream
    // lambdas reference it as an attribute: shingleHashes reads hw 3×
    // per element, and inlining the md5-array expression there would
    // recompute the whole word-hash array per reference — Catalyst's
    // CollapseProject correctly keeps expensive multi-referenced
    // aliases stacked, but only if we alias them at all.
    val hw = documents.select(col("doc_id"),
      transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val based = hw.select(col("doc_id"),
      Canon.shingleHashes(col("hw"), k).as("hs"))
    val sigCols = (0 until nSeeds).map { s =>
      array_min(transform(col("hs"), h => Canon.affine(s, h))).as(s"m$s")
    }
    based.select(col("doc_id") +: sigCols: _*)
  }

  /** LSH banding over an 8-seed signature: 4 bands of 2 rows; the band
    * key is md5 over (band index, the band's minhashes). Docs sharing
    * any band key become a candidate pair (doc_a < doc_b, distinct).
    *
    * Pair generation is groupBy(band) + in-bucket combination
    * expansion, NOT a self-join: a self-join would recompute the
    * signature subplan on both sides and shuffle the corpus twice —
    * this form shuffles (doc_id, band_key) once and expands pairs
    * row-locally from each bucket's sorted id array. `maxBucket`
    * guards the known LSH pathology of a degenerate hot bucket
    * (oversized buckets are skipped — standard practice; keep it above
    * any real bucket size when oracle-comparing).
    */
  /** (doc_id, band_key) rows of an 8-seed signature — 4 bands of 2
    * rows, short-doc degenerate bands dropped. Docs shorter than the
    * shingle width have an all-null signature; concat_ws skips nulls,
    * so without a guard every such doc would share one degenerate
    * band key and pair with all others. The guard filters the four
    * CONSTANT degenerate keys on the exploded bk attribute — NOT
    * `m0 IS NOT NULL` on sig: predicate pushdown would substitute
    * m0's defining expression below the projection and re-inline the
    * md5 array per reference (measured 25× on the whole LSH family).
    */
  private def bandedKeys(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until 4).map { j =>
      md5(concat_ws("|", lit(j), col(s"m${2 * j}"), col(s"m${2 * j + 1}")))
    }
    sig
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .filter(!col("bk").isin(degenerateBandKeys: _*))
  }

  def lshCandidatePairs(sig: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val banded = bandedKeys(sig)
    val buckets = banded
      .groupBy(col("bk"))
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) >= 2 && size(col("docs")) <= maxBucket)
    // all (i<j) pairs of the sorted bucket: doc_a < doc_b by sortedness
    val pairs = flatten(transform(
      sequence(lit(1), size(col("docs")) - 1),
      i => transform(sequence(lit(0), i - 1),
        j => struct(element_at(col("docs"), j + 1).as("doc_a"),
          element_at(col("docs"), i + 1).as("doc_b")))))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** Incremental (arrival-order) LSH near-dup SUPPRESSION — the
    * ingest-time form of the d03 candidate machinery: documents
    * arrive in doc_id order and a document is suppressed iff any
    * earlier-arrived document occupies one of its LSH band buckets.
    * Every seen document registers its buckets whether kept or not
    * (the standard online-index practice: dup-of-dup chains collapse
    * to the FIRST arrival, and the index stays insertion-cheap), so
    * the batch anchor is exact bucket-min algebra: per bucket the
    * earliest occupant, per doc the earliest occupant across its
    * buckets; kept iff that is the doc itself. Output per document:
    * (doc_id, kept, first_dup_of — the earliest bucket-sharing doc
    * when suppressed, NULL otherwise). Short docs (no valid bands)
    * are trivially kept.
    *
    * Scale shape — the reason this exists NEXT TO d03 rather than as
    * a filter over it: no pair set is ever materialized. d03's
    * in-bucket pair expansion is quadratic in bucket size (hence its
    * maxBucket cap); here a hot bucket contributes ONE min per
    * bucket — two map-side-combinable aggregates over the 4-rows/doc
    * banded table, linear in the corpus with no cap needed, which is
    * the shape an ingest filter must have at 100 TB/day. The online
    * replay itself is the same algebra applied per arrival
    * (spec-pinned against a sequential replay and the
    * streamingDedupFirst per-bucket state path).
    */
  def incrementalLshDedup(documents: DataFrame): DataFrame = {
    // materialized: read by the bucket-min aggregate AND the probe
    // join below — un-checkpointed, the per-word md5 + shingle chain
    // would run twice (the d05 lesson)
    val banded = bandedKeys(minhashSignature(documents)).materialized
    val mins = banded.groupBy(col("bk")).agg(min(col("doc_id")).as("_mn"))
    val earliest = banded.join(mins, Seq("bk"))
      .groupBy(col("doc_id")).agg(min(col("_mn")).as("_earliest"))
    documents.select(col("doc_id"))
      .join(earliest, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_earliest") === col("doc_id"), lit(true)).as("kept"),
        when(col("_earliest") < col("doc_id"), col("_earliest"))
          .as("first_dup_of"))
  }

  /** SimHash (64-bit): bit b is the sign of Σ_tokens (±1 by bit b of
    * the token hash). Row-local, no shuffle. Computed by the native
    * SimHashBits kernel — one traversal of the hash array with 64
    * counters; the equivalent built-in formulation is 64 separate
    * interpreted `aggregate` folds (HOFs are CodegenFallback), which
    * the oracle uses to cross-check the exact same definition.
    */
  def simhash(documents: DataFrame, bits: Int = 64): DataFrame = {
    val hashed = documents.select(col("doc_id"),
      transform(Canon.words(col("text")), x => Canon.hash60(x)).as("hs"))
    hashed.select(col("doc_id"),
      Canon.simhashBits(col("hs"), bits).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates blocked on the four 16-bit
    * chunks of the 64-bit sketch — by pigeonhole, any pair with
    * hamming ≤ 3 matches EXACTLY on at least one chunk (4 bands, 3
    * flipped bits), so recall at the default threshold is 1.0 — then
    * verified exactly with bit_count(xor) ≤ `maxHamming`.
    *
    * Same groupBy-band + in-bucket expansion shape as
    * lshCandidatePairs, with the same `maxBucket` hot-bucket guard: a
    * degenerate corpus slice (empty/short docs collapse to identical
    * sketches, or a common chunk value like 0) would otherwise make
    * one band O(n²). Oversized buckets are skipped entirely — mirrored
    * in the d09 oracle so both sides drop them identically. As a
    * bonus the sketch subplan is evaluated once (one shuffle of
    * (doc_id, simhash, bk)), where the previous banded self-join
    * computed it on both sides.
    */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3,
                      maxBucket: Int = 1000): DataFrame =
    simhashBandedPairs(simhash(documents), maxHamming, maxBucket)

  /** The band-bucket-verify core of [[simhashNearDups]] over ANY
    * (doc_id, simhash) sketch frame — shared with the multimodal
    * perceptual-fingerprint near-dup (m11), whose sketch comes from
    * the decode-seam byte shingles instead of text words. Same
    * pigeonhole guarantee (4 × 16-bit chunks ⇒ recall 1.0 at
    * hamming ≤ 3), same hot-bucket cap, same exact
    * bit_count(xor) verify.
    */
  def simhashBandedPairs(sh: DataFrame, maxHamming: Int = 3,
                         maxBucket: Int = 1000): DataFrame = {
    val bandCols = (0 until 4).map { i =>
      concat(lit(s"b$i:"),
        shiftrightunsigned(col("simhash"), 16 * i)
          .bitwiseAND(lit(0xFFFFL)))
    }
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
    val buckets = banded
      .groupBy(col("bk"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("simhash"))))
        .as("docs"))
      .filter(size(col("docs")) >= 2 && size(col("docs")) <= maxBucket)
    // all (i<j) pairs of the doc_id-sorted bucket: doc_a < doc_b
    val pairs = flatten(transform(
      sequence(lit(1), size(col("docs")) - 1),
      i => transform(sequence(lit(0), i - 1),
        j => struct(element_at(col("docs"), j + 1).as("a"),
          element_at(col("docs"), i + 1).as("b")))))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram (word-set) Jaccard verification over source-blocked
    * candidate pairs: J = |A∩B| / |A∪B| on distinct word sets, kept
    * when >= `threshold`. In the full pipeline the blocking key is the
    * LSH band (lshCandidatePairs); `source` blocking keeps this query
    * independently testable.
    */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double,
                        maxBlock: Int = 10000): DataFrame = {
    // Set ops run on hashed longs, not strings: |A∩B| over int64
    // arrays is several times cheaper per pair than variable-length
    // string comparison, and the Jaccard VALUE is unchanged (md5-based
    // hashes; a collision would need ~2^30 distinct tokens per doc).
    // Token sets as SORTED distinct hash arrays: the per-pair
    // |A∩B| is then a zero-allocation two-pointer merge (native
    // SortedIntersectCountL kernel) instead of array_intersect's
    // per-call hash set, and |A∪B| = |A|+|B|-|A∩B| is arithmetic.
    //
    // `maxBlock` guards the quadratic-per-block cost: a block larger
    // than the cap is skipped entirely (its pairs belong to a tighter
    // blocking key — LSH bands — not to an n²/2 scan). The block-size
    // side is one tiny aggregate (|distinct sources| rows), broadcast
    // back onto the block column; the d05 oracle mirrors the cap.
    val raw = documents.select(col("doc_id"), col("source"),
      sort_array(array_distinct(transform(Canon.words(col("text")),
        w => Canon.hashP(w)))).as("dw"))
    // sized from `documents`, not `raw`: column pruning reduces this
    // branch to a source-column-only scan (no token hashing)
    val blockSizes = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxBlock)
      .select(col("source"))
    val d = raw.join(broadcast(blockSizes), Seq("source"), "left_semi")
    d.as("a")
      .join(d.as("b"),
        col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(col("a.dw")).as("sa"), size(col("b.dw")).as("sb"),
        Canon.sortedIntersectCount(col("a.dw"), col("b.dw")).as("i"))
      .select(col("doc_a"), col("doc_b"),
        (col("i") / (col("sa") + col("sb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric CONTAINMENT over source-blocked pairs: |A∩B|/|A| and
    * |A∩B|/|B| on the distinct word-hash sets — the directional
    * near-dup signal Jaccard misses. A short doc quoted whole inside a
    * long one scores containment_a ≈ 1 while Jaccard stays tiny, so
    * this is the subset/quotation detector (deduping a corpus against
    * its own excerpts, boilerplate wrappers around real content).
    * Kept when either direction >= `threshold`.
    *
    * Same scale shape as [[ngramJaccardPairs]] (shared block cap,
    * sorted-hash-array two-pointer intersect, |A∩B| arithmetic —
    * one pair join, no per-pair set allocation).
    */
  def containmentPairs(documents: DataFrame, threshold: Double,
                       maxBlock: Int = 10000): DataFrame = {
    val raw = documents.select(col("doc_id"), col("source"),
      sort_array(array_distinct(transform(Canon.words(col("text")),
        w => Canon.hashP(w)))).as("dw"))
    val blockSizes = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxBlock)
      .select(col("source"))
    val d = raw.join(broadcast(blockSizes), Seq("source"), "left_semi")
    d.as("a")
      .join(d.as("b"),
        col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(col("a.dw")).as("sa"), size(col("b.dw")).as("sb"),
        Canon.sortedIntersectCount(col("a.dw"), col("b.dw")).as("i"))
      .select(col("doc_a"), col("doc_b"),
        (col("i") / col("sa")).as("containment_a"),
        (col("i") / col("sb")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= threshold)
  }

  /** Prefix-filtered EXACT Jaccard similarity join (d26) — the
    * AllPairs/SSJoin family (Bayardo et al. 2007, Chaudhuri et al.
    * 2006), the exact complement to d03's probabilistic LSH: every
    * pair with Jaccard ≥ τ = 4/5 over the HASHED token universe is
    * found with ZERO false negatives. Exactness is scoped the same
    * way d03/d05 scope theirs: sets are `hashP` token hashes (mod
    * 2³¹−1), so token collisions — expected at ~65k distinct tokens
    * per corpus — can merge distinct words, and hashed-set Jaccard
    * can diverge from raw word-set Jaccard at scale. It is the
    * PREFIX FILTER that is lossless (within that universe), not the
    * hashing (ADVICE r13). Order each doc's distinct token hashes by
    * GLOBAL rarity (df ASC, hash ASC — rarest first), keep only the
    * first |s| − ⌈τ|s|⌉ + 1 as the doc's PREFIX, and join on prefix
    * tokens: if a qualifying pair's globally-earliest common token
    * sat past a's prefix, every common token would fit in a's
    * ⌈τ|a|⌉ − 1 suffix — contradicting the ≥ ⌈τ|a|⌉ overlap that
    * J ≥ τ forces — so the earliest common token lies in BOTH
    * prefixes and the join cannot miss. ⌈4|s|/5⌉ is computed as
    * (4|s| + 4) div 5: exact integers, and the verify threshold is
    * the cross-multiplied 5·i ≥ 4·(sa + sb − i) — no float compare
    * anywhere in the decision path.
    *
    * The join also carries Bayardo §3's LENGTH FILTER (J ≥ 4/5
    * forces 9·i ≥ 4·(|a|+|b|) with i ≤ min(|a|,|b|), hence
    * 5·min(|a|,|b|) ≥ 4·max(|a|,|b|)) and §4's POSITIONAL FILTER
    * (a match at per-doc rarity ranks (pa, pb) bounds the overlap by
    * 1 + min(|a|−pa, |b|−pb), which must reach the overlap floor
    * ⌈4(|a|+|b|)/9⌉) — so a size-incompatible or position-starved
    * prefix match is discarded BEFORE the candidate pair exists
    * (each prefix row carries its doc's set size and the token's
    * rank; both predicates are exact integer algebra riding the join
    * condition). Exactness-preserving prunes: any pair they drop,
    * the theorems already exclude — the in-code proof sketch is at
    * the join site.
    *
    * Scale shape: candidates are keyed by RARE tokens only (the
    * rarest ~1/5 of each set — hot stopword tokens never key the
    * join, which is the published reason this beats naive
    * token-joins), then length-filtered in the join condition; the
    * verify is d05's zero-allocation sorted two-pointer intersect
    * over once-materialized hash arrays. One df aggregate + one
    * doc-partitioned rank + one equi-join + the bounded verify — vs
    * LSH this trades ~2.4× more candidate keys for exactness (no
    * τ-band tuning, no missed pairs).
    */
  def prefixJaccardJoin(documents: DataFrame): DataFrame =
    prefixJaccardJoinFromSets(tokenHashSets(documents).materialized)

  /** (doc_id, dw = sorted distinct hashP token array) — d26's token
    * universe, UNPINNED; callers pin once and share (the p27 funnel
    * feeds the same frame to the exact arm AND the verify tier).
    *
    * The array is INT32 (r21, guide §2.3 "narrower types"): every
    * hashP value is < 2³¹−1 by construction (hash60 mod the Mersenne
    * prime), so the narrowing is exact and value-order-preserving —
    * the sorted set, the per-token document frequencies, the prefix
    * ranks and the two-pointer intersect counts are all identical —
    * while the verify-side set arrays and the exploded token keys
    * carry half the bytes through every exchange and the pin.
    */
  private[operators] def tokenHashSets(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      sort_array(array_distinct(transform(Canon.words(col("text")),
        w => Canon.hashP(w).cast("int")))).as("dw"))

  /** [[prefixJaccardJoin]] over an ALREADY-pinned [[tokenHashSets]]
    * frame. The pinned array column is the verify-side set (r20,
    * guide §1.2/2.4): the pre-r20 shape paid a second corpus-shaped
    * shuffle — groupBy(doc_id) + collect_list + sort_array — to
    * rebuild the sets from the exploded tokens, plus a
    * count-over-window for the set size; both now ride the pinned
    * arrays. One corpus scan + one md5-per-word pass total.
    */
  private[operators] def prefixJaccardJoinFromSets(sets: DataFrame)
      : DataFrame = {
    val toks = sets.select(col("doc_id"), size(col("dw")).as("nsz"),
      explode(col("dw")).as("h"))
    val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("h"))
    val prefix = toks.join(dfreq, "h")
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("nset", col("nsz").cast("long"))
      .filter(col("rnk") <=
        col("nset") - expr("(4 * nset + 4) div 5") + 1L)
      .select(col("doc_id"), col("h"), col("nset"), col("rnk"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: 5·min ≥ 4·max is NECESSARY for J ≥ 4/5
          lit(5L) * least(col("a.nset"), col("b.nset")) >=
            lit(4L) * greatest(col("a.nset"), col("b.nset")) &&
          // positional filter (Bayardo §4 / PPJoin): a common token at
          // per-doc rarity ranks (pa, pb) bounds the overlap by
          // 1 + min(|a|−pa, |b|−pb), which must reach the J ≥ 4/5
          // overlap floor ⌈4(|a|+|b|)/9⌉ (from 5i ≥ 4(|a|+|b|−i)).
          // Lossless: ranks grow with global order, so the EARLIEST
          // common token carries the pair's LARGEST bound; for a
          // qualifying pair that token is in both prefixes (the
          // prefix theorem) and i ≥ the floor ≤ its bound — so the
          // pair always survives at that match, and any match this
          // predicate drops could only have produced a pair the
          // verify would reject. Exact integer algebra throughout.
          expr("1 + least(a.nset - a.rnk, b.nset - b.rnk) >= " +
            "(4 * (a.nset + b.nset) + 8) div 9"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
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
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sa"),
        col("sb"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter"))).as("jaccard"))
  }

  /** Cluster-membership provenance rollup (d27) — the audit trail
    * behind d12's canonical picks and d16's weights: one row per
    * duplicate cluster of a (doc_id, cluster_rep) labeling, with the
    * size and the full SORTED member list as a '|'-joined string (a
    * deterministic scalar; array columns canonicalize differently
    * across the driver's two readback paths). One
    * map-side-combinable aggregate; member lists are cluster-sized.
    */
  def clusterMembers(labeled: DataFrame): DataFrame =
    labeled.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), "|").as("members"))

  /** Duplicate-cluster formation: connected components over the
    * candidate-pair graph, labeling every involved doc with the
    * minimum doc_id of its component (the canonical survivor). This
    * is the final step of near-dup dedup — candidates (LSH) →
    * verification (Jaccard/cosine) → transitive closure → keep one
    * per cluster.
    *
    * Iterative min-label propagation with a driver-side fixpoint
    * check: each round joins labels across edges and keeps the min.
    * Rounds needed = graph diameter; duplicate clusters are shallow
    * (pairs/triangles), so this converges in 2-3 rounds. At billions
    * of edges you'd switch to the large-star/small-star algorithm
    * (O(log n) rounds) on the same join-aggregate primitives; the
    * fixpoint loop shape is identical. Each round's shuffle is one
    * hash join on node id + one aggregate.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    // Materialize the DIRECTED pair list once, BEFORE the symmetric
    // union: the union reads it from both branches, so an unchecked-
    // pointed `pairs` runs the full candidate-generation plan (minhash
    // + banding / the co-supplier join) TWICE in the one job; the
    // cached copy also keeps every fixpoint iteration off that plan.
    // The union itself stays lazy — two scans of the small cached pair
    // list per round beat a second materialization.
    dupClustersPrePinned(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .materialized, maxIters)

  /** [[dupClusters]] over an ALREADY-materialized directed (a, b) pair
    * frame — callers that hold a pinned pair list (the p26/p27 funnel
    * arms pin it for their n_pairs audit anyway) skip the redundant
    * second checkpoint of the same rows (r20, guide §1.2).
    */
  private[operators] def dupClustersPrePinned(p: DataFrame,
                                              maxIters: Int = 20)
      : DataFrame = {
    val sym = p.union(p.select(col("b").as("a"), col("a").as("b")))
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("lab", col("node"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // One join + one aggregate per round, with the convergence
      // signal FUSED into the same aggregate: the old label rides
      // along as `_old` (present exactly once per node, from the
      // labels branch of the union), so "changed" is a filter on the
      // materialized result — no second join job per iteration.
      val viaEdges = sym
        .join(labels, sym("a") === labels("node"))
        .select(col("b").as("node"), col("lab"),
          lit(null).cast("long").as("_old"))
      val next = labels
        .select(col("node"), col("lab"), col("lab").as("_old"))
        .union(viaEdges)
        .groupBy(col("node"))
        .agg(min(col("lab")).as("lab"), max(col("_old")).as("_old"))
        .materialized // truncate the growing iterative lineage
      converged = next.filter(col("lab") =!= col("_old")).isEmpty
      labels = next.select(col("node"), col("lab"))
      i += 1
    }
    labels.select(col("node").as("doc_id"), col("lab").as("cluster_rep"))
  }

  /** dupClusters with POINTER JUMPING (label shortcutting): each round
    * first propagates the min label across edges (the same join +
    * aggregate as dupClusters), then jumps every node's label to its
    * LABEL'S label (one node-keyed self-join) — the classic
    * shortcutting step that collapses chains exponentially. Rounds =
    * O(log n) instead of O(diameter): a 1M-node path converges in ~20
    * rounds where plain propagation needs 1M. This is the
    * billion-edge path the dupClusters scaladoc promises; the
    * per-round cost adds one node-sized hash join to the edge-sized
    * propagate, and each round's result is materialized to keep
    * the iterative lineage flat.
    *
    * Output is identical to dupClusters (component min labels) — the
    * d11 gate runs the same recursive-CTE oracle as d08.
    */
  def dupClustersShortcut(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    // same directed-pairs-first materialization as dupClusters: the
    // symmetric union would otherwise run candidate generation twice
    dupClustersShortcutPrePinned(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .materialized, maxIters)

  /** [[dupClustersShortcut]] over an ALREADY-materialized directed
    * (a, b) pair frame — callers that hold a pinned pair list (the
    * g29 refine path pins its intra-community edges for the audit's
    * e_in count anyway, r21) skip the redundant second checkpoint of
    * the same rows (the dupClustersPrePinned seam, shortcut variant).
    */
  private[operators] def dupClustersShortcutPrePinned(
      p: DataFrame, maxIters: Int = 20): DataFrame = {
    val sym = p.union(p.select(col("b").as("a"), col("a").as("b")))
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("lab", col("node"))
      .materialized
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // propagate: min of own and neighbors' labels
      val viaEdges = sym.join(labels, sym("a") === labels("node"))
        .select(col("b").as("node"), col("lab"))
      // materialized BEFORE the jump: the self-join below would
      // otherwise recompute the edge-sized propagate on both sides
      // (and Catalyst's union-constraint rewrite rejects the raw
      // union self-join outright); this also keeps lineage flat.
      val prop = labels.select(col("node"), col("lab"))
        .union(viaEdges)
        .groupBy(col("node")).agg(min(col("lab")).as("lab"))
        .materialized
      // jump: lab(u) ← lab(lab(u)). Every label IS a node id, so the
      // lookup always hits; coalesce guards the impossible miss.
      // The PRE-ROUND label rides along as _old and the jump result is
      // checkpointed, so the convergence check is a cheap filter over
      // the materialized round — without this the un-checkpointed jump
      // plan re-executed 3×: once for the convergence join, twice as
      // the next round's `labels` (the dupClusters _old fusion, which
      // at the old 4-jobs-per-round shape made wcc the slowest query
      // in the suite on a 150-vertex graph: pure per-job overhead).
      val byLab = prop.select(col("node").as("_ln"), col("lab").as("_lab2"))
      val old = labels.select(col("node"), col("lab").as("_old"))
      val next = prop.join(byLab, col("lab") === col("_ln"), "left")
        .select(col("node"), coalesce(col("_lab2"), col("lab")).as("lab"))
        .join(old, Seq("node"))
        .materialized
      converged = next.filter(col("lab") =!= col("_old")).isEmpty
      labels = next.select(col("node"), col("lab"))
      i += 1
    }
    // A silent exit here would return non-component-min (known-wrong)
    // labels on a hash-gated surface — fail loudly instead. 20 rounds
    // cover ~2^20 component diameter, so hitting this means the input
    // is pathological or maxIters was set too low.
    if (!converged)
      throw new IllegalStateException(
        s"dupClustersShortcut: labels did not converge after $maxIters " +
          "pointer-jumping rounds; the result would be incorrect " +
          "(non-component-min). Raise maxIters.")
    labels.select(col("node").as("doc_id"), col("lab").as("cluster_rep"))
  }

  /** Incremental dedup of a new batch AGAINST an existing corpus — the
    * ingest-time shape (reference analog: insert-ignore against the
    * already-loaded collection, follower.py:205-207). Per batch doc:
    * `exact_dup` = content hash already in the corpus (left-semi
    * membership), `n_near` = number of corpus docs sharing at least
    * one LSH band (candidate near-dups to verify downstream).
    *
    * Scale: the corpus side reduces to (band_key, doc) pairs — 4 rows
    * per corpus doc; the join is band-key equi (shuffle or broadcast
    * per AQE), never batch×corpus.
    */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame): DataFrame = {
    def banded(sig: DataFrame): DataFrame = {
      val bandKeys = (0 until 4).map { j =>
        md5(concat_ws("|", lit(j), col(s"m${2 * j}"), col(s"m${2 * j + 1}")))
      }
      sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
        .filter(!col("bk").isin(degenerateBandKeys: _*))
    }
    val batchKeys = batch.select(col("doc_id"), md5(col("text")).as("k"))
    val corpusKeys = corpus.select(md5(col("text")).as("k"))
    val exact = batchKeys.join(corpusKeys, Seq("k"), "left_semi")
      .select(col("doc_id")).withColumn("exact_dup", lit(true))
    val near = banded(minhashSignature(batch)).as("b")
      .join(banded(minhashSignature(corpus))
        .withColumnRenamed("doc_id", "corpus_doc").as("c"),
        col("b.bk") === col("c.bk"))
      .select(col("b.doc_id").as("doc_id"), col("corpus_doc"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  /** Test-set DECONTAMINATION: flag batch documents sharing any word
    * `k`-shingle with a benchmark/eval set — the standard guard
    * against evaluation leakage in a training corpus. Per batch doc:
    * how many of its distinct shingles appear anywhere in the
    * benchmark, and the boolean contamination flag.
    *
    * Scale: the benchmark side reduces to its distinct shingle-hash
    * SET (benchmark-sized — tiny next to the corpus, broadcastable by
    * AQE); the batch side streams (doc, shingle) pairs into one
    * equi-join + count. Never doc×doc, never batch×benchmark.
    */
  def decontaminate(batch: DataFrame, benchmark: DataFrame,
                    k: Int = 5): DataFrame = {
    def shingled(d: DataFrame): DataFrame = {
      val hw = d.select(col("doc_id"),
        transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
      hw.select(col("doc_id"),
        explode(array_distinct(Canon.shingleHashes(col("hw"), k))).as("sh"))
    }
    val hits = shingled(batch)
      .join(shingled(benchmark).select(col("sh")).distinct(), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
    batch.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        (coalesce(col("n_shared_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-filter decontamination: the CONSTANT-SIZE-broadcast variant
    * of [[decontaminate]] for when even the benchmark's distinct
    * shingle set is too large to ship — the m-bit filter is a fixed
    * `mBits/64`-long array no matter how big the benchmark grows
    * (Bloom 1970 CACM, the standard membership sketch). Deterministic
    * end to end: bit positions come from the Canon affine family over
    * the shingle hash, so WHICH docs get flagged is a pure function of
    * the inputs and the result hash-gates (a Bloom hit can be a false
    * positive — the flag means "shares a shingle with the benchmark
    * under the sketch", and the false-positive rate is set by
    * mBits/nHashes in the usual way).
    *
    * Scale shape: the build is one distinct + one 64-bit-word `bit_or`
    * aggregate (≤ mBits/64 result rows); the packed bitmap broadcasts
    * as ONE row; the probe is entirely ROW-LOCAL — an O(1) element_at
    * + mask per (shingle, hash) inside a SQL lambda, no explode, no
    * join, no shuffle on the batch side at all. Compare [[decontaminate]]:
    * exact, but it shuffles the batch's (doc, shingle) pairs into an
    * equi-join; at 100 TB the Bloom probe runs at parquet-scan speed.
    */
  def bloomDecontaminate(batch: DataFrame, benchmark: DataFrame,
                         k: Int = 5, mBits: Int = 1 << 16,
                         nHashes: Int = 2): DataFrame = {
    require(mBits >= 64 && Integer.bitCount(mBits) == 1,
      "mBits must be a power of two >= 64")
    require(nHashes >= 1 && nHashes <= Canon.AffineA.size)
    val nWords = mBits / 64
    def shingled(d: DataFrame): DataFrame = {
      // word-hash array aliased into its own projection (SURVEY §8.5
      // pathology #1) before the k-wide shingle polynomial references it
      val hw = d.select(col("doc_id"),
        transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
      hw.select(col("doc_id"),
        array_distinct(Canon.shingleHashes(col("hw"), k)).as("shs"))
    }
    // ONE Generate over a flattened per-row position array, not a
    // stacked explode-then-explode: InferFiltersFromGenerate infers
    // `size(child) > 0` from each explode and pushdown SUBSTITUTES the
    // full shingle-polynomial chain (per-word md5 included) into that
    // filter — SURVEY §8.5 pathology #2; the stacked form re-evaluated
    // the corpus transform 5+ times per row (23.8 s vs 0.6 s at sf0.1).
    val positions = shingled(benchmark)
      .select(explode(flatten(transform(col("shs"), sh =>
        array((0 until nHashes).map(j =>
          Canon.affine(j, sh) % mBits): _*)))).as("pos"))
      .distinct()
    // pack positions into mBits/64 longs, then into ONE map-backed row
    // (same one-row-broadcast pattern as the PQ codebook in Similarity)
    val bitmap = positions
      .select(shiftright(col("pos"), 6).as("w"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("m"))
      .select(transform(sequence(lit(0L), lit(nWords - 1L)),
        i => coalesce(element_at(col("m"), i), lit(0L))).as("bloom"))
    // row-local probe: all nHashes bits set → Bloom hit. SQL-string
    // lambda because shiftright over a COLUMN shift amount has no
    // Scala-DSL form (functions.shiftright takes a literal Int).
    val hit = (0 until nHashes).map { j =>
      val pos = s"(((sh * ${Canon.AffineA(j)} + ${Canon.AffineB(j)})" +
        s" % ${Canon.MersenneP}) % $mBits)"
      s"(shiftrightunsigned(element_at(bloom," +
        s" cast(shiftright($pos, 6) as int) + 1)," +
        s" cast($pos % 64 as int)) & 1) = 1"
    }.mkString(" AND ")
    shingled(batch).crossJoin(broadcast(bitmap))
      .selectExpr("doc_id",
        s"cast(size(filter(shs, sh -> $hit)) as bigint) as n_bloom_hits")
      .withColumn("bloom_flagged", col("n_bloom_hits") > 0)
  }

  /** Embedding near-dup: cosine >= `tau` within label blocks. Norms are
    * precomputed per row (map-side); the pair join is label-blocked.
    *
    * `maxBlock` guards the quadratic-per-block cost, exactly as in
    * ngramJaccardPairs: at corpus scale one hot label can hold half the
    * table, and an uncapped label block is O(n²·d). Blocks over the cap
    * are skipped entirely (their pairs belong to a tighter blocking key —
    * an LSH / IVF bucket over the vectors, see Similarity — not to an
    * n²/2 scan) — and the skip is LOUD: the count of dropped labels is
    * logged (and available directly via [[overCapLabels]]), so reduced
    * recall is visible rather than silent. The size side is a tiny
    * per-label aggregate broadcast back as a semi-join; the d06 oracle
    * mirrors the cap.
    */
  def embeddingNearDups(embeddings: DataFrame, tau: Double,
                        maxBlock: Int = 10000): DataFrame = {
    val sizes = embeddings.groupBy(col("label"))
      .agg(count(lit(1)).as("_bsz"))
      .materialized // label-sized; computed once for keep + skip
    val skipped = sizes.filter(col("_bsz") > maxBlock).count()
    if (skipped > 0)
      log.warn(s"embeddingNearDups: skipping $skipped label block(s) over " +
        s"maxBlock=$maxBlock — their pairs need a tighter blocking key " +
        "(LSH/IVF bucket, see Similarity)")
    val blockSizes = sizes
      .filter(col("_bsz") <= maxBlock)
      .select(col("label"))
    val e = embeddings
      .join(broadcast(blockSizes), Seq("label"), "left_semi")
      .select(col("vec_id"), col("label"),
        Canon.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(Canon.dot(col("v"), col("v"))))
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Canon.cosine(Canon.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** The number of label blocks [[embeddingNearDups]] skips at
    * `maxBlock` — the recall-loss signal, exposed directly so callers
    * (and specs) can gate on it instead of parsing logs.
    */
  def overCapLabels(embeddings: DataFrame, maxBlock: Int = 10000): Long =
    embeddings.groupBy(col("label"))
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBlock)
      .count()

  /** Canonical-document selection: for each duplicate cluster, the one
    * doc to KEEP — the standard post-dedup step that turns cluster
    * labels into a deletion list. Canonical = most tokens, then
    * smallest doc_id (a total order, so the choice is deterministic
    * under any partitioning).
    *
    * One join (cluster labels × token counts — both cluster-membership
    * sized, far smaller than the corpus) and one aggregate. The argmax
    * is a single max(struct(n_tokens, -doc_id)) — map-side combinable,
    * never a per-cluster sort or window.
    */
  def canonicalDocs(documents: DataFrame, clusters: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      size(Canon.words(col("text"))).cast("long").as("n_tokens"))
    clusters.join(toks, Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_rep"),
        (-col("best.neg_id")).as("canonical_doc_id"),
        col("best.n_tokens").as("canonical_tokens"),
        col("n_docs"),
        (col("n_docs") - 1).as("n_removed"))
  }

  /** SOFT dedup weights: instead of dropping duplicates, every doc
    * gets training weight 1/|its duplicate cluster| (singletons weigh
    * 1.0) — the down-weight-don't-delete alternative (SemDeDup-style
    * reweighting) that preserves corpus coverage while removing the
    * duplicated-mass bias. Composes with any cluster labeling
    * ([[dupClusters]] / [[dupClustersShortcut]]).
    *
    * Shape: one count aggregate over the cluster table (cluster-
    * membership sized, far smaller than the corpus) + two left joins
    * on doc_id; the weight division is row-local exact-int-over-double.
    */
  def dedupWeights(documents: DataFrame, clusters: DataFrame): DataFrame = {
    val csize = clusters.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("csz"))
    documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .join(csize, Seq("cluster_rep"), "left")
      .select(col("doc_id"),
        coalesce(col("csz"), lit(1L)).as("cluster_size"),
        (lit(1.0d) / coalesce(col("csz"), lit(1L)).cast("double"))
          .as("weight"))
  }

  /** Corpus-level SEGMENT dedup (the C4 / RefinedWeb "remove repeated
    * paragraphs" pass, with fixed `k`-word segments standing in for
    * paragraphs): every doc is cut into consecutive k-word segments,
    * a segment is kept only at its globally FIRST occurrence (ordered
    * by (doc_id, seg_idx) — a total order, so the keep set is
    * deterministic under any partitioning), and each doc is
    * re-assembled from its surviving segments in original order.
    * Output per doc: segment counts and the deduplicated text.
    *
    * Shape: segmentation is a row-local Generate (one explode — no
    * stacked Generates, per the PlanCheck red-flag rule); first-occurrence
    * is ONE hash shuffle (window over md5(segment)); re-assembly is
    * ONE groupBy(doc_id) with a sort_array over the kept (idx, seg)
    * structs — per-doc data, never a global sort. Two shuffles total,
    * both on keys that scale with the data, so the plan survives
    * 100 TB unchanged.
    */
  def segmentDedup(documents: DataFrame, k: Int = 5): DataFrame = {
    val w = Canon.words(col("text"))
    val nseg = ceil(size(w) / lit(k.toDouble)).cast("int")
    val segs = when(size(w) > 0,
      transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(w, i * k + 1, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
    val exploded = documents
      .select(col("doc_id"), posexplode(segs).as(Seq("seg_idx", "seg")))
    val firstOcc = Window.partitionBy(md5(col("seg")))
      .orderBy(col("doc_id"), col("seg_idx"))
    exploded
      .withColumn("occ", row_number().over(firstOcc))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("occ") === 1, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls from non-first occurrences, so
        // only surviving segments enter the rebuild; sort_array on
        // (seg_idx, seg) restores original order (seg_idx is unique
        // per doc).
        coalesce(
          array_join(
            transform(
              sort_array(collect_list(
                when(col("occ") === 1,
                  struct(col("seg_idx"), col("seg"))))),
              s => s.getField("seg")),
            " "),
          lit("")).as("text_dedup"))
  }

  /** MinHash estimator quality over the LSH candidate pairs: per pair,
    * the signature-agreement Jaccard ESTIMATE (fraction of the
    * `nSeeds` minhash coordinates that agree), the EXACT Jaccard over
    * the distinct k-shingle sets, and the absolute error — the
    * calibration view that tells a dedup pipeline whether its
    * signature width / band layout hits the intended threshold (the
    * sketch analog of Similarity's s11 ANN-recall measurement).
    *
    * Shape: the signature is materialized ONCE (Materialize seam) —
    * it feeds the banding AND both join sides, and inlined it would be
    * recomputed three times (the t10 lesson); the distinct-shingle
    * arrays likewise feed two sides. Both enrichment joins are
    * equi-joins on doc id against the (always far smaller) candidate
    * pair set; the estimate and the exact intersect/union sizes are
    * row-local array math. Nothing here is all-pairs: the pair set is
    * the banded, capped LSH output.
    */
  def jaccardEstimatePairs(documents: DataFrame, nSeeds: Int = 8,
                           k: Int = 3): DataFrame = {
    // lshCandidatePairs' band layout is fixed at 8 seeds / 4 bands
    // (it references m0..m7): fewer seeds would fail analysis at
    // runtime, more would estimate over coordinates the banding
    // ignores. Fail fast instead of either.
    require(nSeeds == 8,
      s"jaccardEstimatePairs requires nSeeds=8 (the lshCandidatePairs " +
        s"band layout); got $nSeeds")
    val sig = minhashSignature(documents, nSeeds, k).materialized
    val pairs = lshCandidatePairs(sig)
    val hw = documents.select(col("doc_id"),
      transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val ds = hw.select(col("doc_id"),
      array_distinct(Canon.shingleHashes(col("hw"), k)).as("ds"))
    val side = sig.join(ds, Seq("doc_id")).materialized
    val agree = (0 until nSeeds).map(s =>
      when(col(s"a.m$s") === col(s"b.m$s"), 1).otherwise(0))
      .reduce(_ + _)
    val inter = size(array_intersect(col("a.ds"), col("b.ds")))
    val uni = size(col("a.ds")) + size(col("b.ds")) - inter
    pairs
      .join(side.as("a"), col("doc_a") === col("a.doc_id"))
      .join(side.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (agree.cast("double") / nSeeds).as("est_jaccard"),
        (inter.cast("double") / uni).as("exact_jaccard"))
      .withColumn("est_err",
        abs(col("est_jaccard") - col("exact_jaccard")))
  }

  /** b-bit minwise hashing (d30, Li & König, WWW 2010): keep only the
    * lowest `b` bits of each minhash coordinate and estimate Jaccard
    * with the collision-probability correction
    * R̂ = (P̂ − C)/(1 − C), C = 2^−b — the STORAGE story for the
    * minhash index at 100 TB. The d02 signature costs 8 × 31 bits per
    * doc; at b = 2 the same 8 coordinates cost 16 bits (a ~15.5×
    * index shrink), and the correction removes the chance-collision
    * bias the truncation introduces (two random values agree on their
    * low b bits with probability ≈ 2^−b, so raw agreement
    * overestimates — the published estimator subtracts exactly that).
    * The paper's variance result says the b=1..2 estimator needs only
    * ~3× the coordinates of the full-width one for the same error at
    * R ≈ 0.5 — far less than the 15–31× space it returns — and this
    * query CERTIFIES that trade on the corpus's own candidate pairs:
    * per LSH pair, the full-width estimate (d17's), the b-bit
    * estimate, the exact shingle Jaccard, and both absolute errors.
    *
    * Determinism: agreement counts are exact integers; the estimator
    * is ONE double division of integers, (2^b·A − n)/(n·(2^b − 1))
    * with A the b-bit agreement count and n the signature width —
    * both engines compute the identical correctly-rounded IEEE value.
    * Truncation is `m % 2^b` on nonnegative Z_p values — identical
    * algebra in Spark and DuckDB.
    *
    * Shape: d17's exactly — the signature materialized once feeding
    * banding and both join sides, the candidate set is the banded
    * capped LSH output (never all-pairs), the truncated comparison is
    * row-local integer math on already-joined rows. The b-bit column
    * adds NOTHING to the plan beyond 8 codegen'd `%`-comparisons.
    */
  /** d30's gated truncation width — shared with the oracle mirror so
    * the two engines move together (the s32 scale lesson).
    */
  val BbitB: Int = 2

  def bbitMinhashPairs(documents: DataFrame, b: Int = BbitB,
                       nSeeds: Int = 8, k: Int = 3): DataFrame = {
    require(nSeeds == 8,
      s"bbitMinhashPairs requires nSeeds=8 (the lshCandidatePairs " +
        s"band layout); got $nSeeds")
    require(b >= 1 && b <= 16, s"b must be in [1, 16], got $b")
    val mask = 1L << b // 2^b
    val sig = minhashSignature(documents, nSeeds, k).materialized
    val pairs = lshCandidatePairs(sig)
    val hw = documents.select(col("doc_id"),
      transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val ds = hw.select(col("doc_id"),
      array_distinct(Canon.shingleHashes(col("hw"), k)).as("ds"))
    val side = sig.join(ds, Seq("doc_id")).materialized
    val agreeFull = (0 until nSeeds).map(s =>
      when(col(s"a.m$s") === col(s"b.m$s"), 1).otherwise(0))
      .reduce(_ + _)
    val agreeB = (0 until nSeeds).map(s =>
      when(col(s"a.m$s") % mask === col(s"b.m$s") % mask, 1).otherwise(0))
      .reduce(_ + _)
    val inter = size(array_intersect(col("a.ds"), col("b.ds")))
    val uni = size(col("a.ds")) + size(col("b.ds")) - inter
    pairs
      .join(side.as("a"), col("doc_a") === col("a.doc_id"))
      .join(side.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (agreeFull.cast("double") / nSeeds).as("est_full"),
        ((agreeB * mask - nSeeds).cast("double") /
          (nSeeds * (mask - 1))).as("est_bbit"),
        (inter.cast("double") / uni).as("exact_jaccard"))
      .withColumn("err_full",
        abs(col("est_full") - col("exact_jaccard")))
      .withColumn("err_bbit",
        abs(col("est_bbit") - col("exact_jaccard")))
  }

  /** Edit-distance near-dup verification over the LSH candidate set
    * (d31): per candidate pair, the Levenshtein distance, the
    * normalized similarity 100·(maxlen − lev) div maxlen in EXACT
    * integer percent, and the ≥ `tauPct` duplicate verdict — the
    * character-level complement to the shingle verifiers (d05/d17
    * see word sets and miss single-character edits inside words;
    * edit distance prices every keystroke). The shape near-dup
    * pipelines use when OCR noise / typo variants slip past
    * set-based Jaccard.
    *
    * Scale: levenshtein is the one O(|a|·|b|)-per-row kernel in the
    * family, so it runs ONLY on length-compatible candidates — edit
    * distance is bounded below by the length difference, so
    * (maxlen − minlen)·100 > (100 − τ)·maxlen already proves
    * sim < τ, and those pairs emit a NULL distance and a false
    * verdict without running the kernel (the d26 length-filter
    * theorem transplanted to edit space; exactness-preserving for
    * the verdict, and the skip itself is visible in the output).
    * Candidates are the banded capped LSH set — never all-pairs.
    */
  /** d31's gated similarity threshold — shared with the oracle. */
  val EditTauPct: Int = 80

  def editDistancePairs(documents: DataFrame, tauPct: Int = EditTauPct)
      : DataFrame = {
    require(tauPct >= 1 && tauPct <= 100,
      s"tauPct must be in [1, 100], got $tauPct")
    val sig = minhashSignature(documents).materialized
    val pairs = lshCandidatePairs(sig)
    val side = documents.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    val maxLen = greatest(col("a.len"), col("b.len"))
    val minLen = least(col("a.len"), col("b.len"))
    val hopeless = (maxLen - minLen) * 100 > maxLen * (100 - tauPct)
    pairs
      .join(side.as("a"), col("doc_a") === col("a.doc_id"))
      .join(side.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        when(hopeless, lit(null))
          .otherwise(levenshtein(col("a.text"), col("b.text")))
          .cast("long").as("lev_dist"),
        maxLen.cast("long").as("max_len"))
      .withColumn("sim_pct",
        expr("((max_len - lev_dist) * 100) div max_len"))
      .withColumn("is_dup",
        coalesce(col("sim_pct") >= tauPct, lit(false)))
  }

  /** LSH banding calibration: over ALL source-blocked pairs (capped,
    * the d05 shape) with their exact k-shingle Jaccard, the ANALYTIC
    * detection probability of the 4-band × 2-row layout —
    * p = 1 − (1 − j²)⁴ — next to the pair's ACTUAL candidate flag from
    * [[lshCandidatePairs]]. High-j pairs with `was_candidate = false`
    * are the banding's false negatives; the (j, p, flag) triples are
    * the empirical S-curve an LSH tuning decision reads
    * ([[jaccardEstimatePairs]] calibrates the estimator, this
    * calibrates the CANDIDATE FILTER).
    *
    * Determinism: j is exact-int-over-int; the polynomial is 5
    * correctly-rounded IEEE ops (squares and products — no pow()
    * libm call). Shape: the d05 capped block join + the d03 banded
    * candidate set left-joined on the pair key — nothing new is
    * all-pairs.
    */
  def lshDetectionCurve(documents: DataFrame, k: Int = 3,
                        maxBlock: Int = 10000): DataFrame = {
    // The too-short guard runs on the BASE text column, NEVER on the
    // derived `ds` array: a filter(size(ds) > 0) is pushed below the
    // projections by SUBSTITUTING the whole md5+shingle chain into the
    // predicate, where the un-aliased hw is then re-evaluated per
    // element_at reference (§8.5 pathology #2 triggering #1 — measured
    // 33 s of a 35 s query at sf0.1; this form runs the pass once).
    val hw = documents
      .filter(size(Canon.words(col("text"))) >= k)
      .select(col("doc_id"), col("source"),
        transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val raw = hw.select(col("doc_id"), col("source"),
      sort_array(array_distinct(Canon.shingleHashes(col("hw"), k)))
        .as("ds"))
    val blockSizes = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxBlock)
      .select(col("source"))
    // materialized ONCE: the pair self-join reads it from BOTH sides,
    // and un-checkpointed the per-word md5 + k=5 shingle polynomial
    // pass executes twice (measured 71.5 s → ~8 s at sf0.1 — the exact
    // t10 pathology, caught by the bench budget guard)
    val d = raw.join(broadcast(blockSizes), Seq("source"), "left_semi")
      .materialized
    val pairs = d.as("a")
      .join(d.as("b"),
        col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(col("a.ds")).as("sa"), size(col("b.ds")).as("sb"),
        Canon.sortedIntersectCount(col("a.ds"), col("b.ds")).as("i"))
      .select(col("doc_a"), col("doc_b"),
        (col("i") / (col("sa") + col("sb") - col("i"))).as("jaccard"))
      // slim (arrays already projected away) and materialized: the
      // polynomial below references `jaccard` 9× (output + 4 factors
      // × 2), and CollapseProject would inline the per-pair intersect
      // into EVERY reference (§8.5 pathology #1 — measured 9× here)
      .materialized
    val cand = lshCandidatePairs(minhashSignature(documents))
      .select(col("doc_a"), col("doc_b"), lit(1).as("_c"))
    val j = col("jaccard")
    val miss = lit(1.0d) - j * j
    pairs.join(cand, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (lit(1.0d) - miss * miss * miss * miss).as("p_detect"),
        col("_c").isNotNull.as("was_candidate"))
  }

  /** Position-level duplicated-window fraction (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): per
    * document, the share of its word-`k`-window POSITIONS whose window
    * content occurs more than once in the corpus — including
    * repetitions inside the same document, which [[segmentDedup]]'s
    * aligned segments and boilerplateFrac's per-doc DISTINCT shingles
    * both miss. This is the measurement pass of exact-substring dedup
    * (the removal pass is segmentDedup); docs above a dup_frac
    * threshold are near-verbatim rehashes of corpus content.
    *
    * Shape: the t10 discipline — the corpus-wide positional window
    * explode is the heaviest derived table, so it is materialized ONCE
    * (Materialize seam) and scanned twice: the window-count aggregate
    * (map-side combinable, Zipf-small survivors of `> 1`) and the
    * marker-join probe fused with the per-doc aggregate into one
    * groupBy. Two shuffles at any scale.
    */
  def windowDupFrac(documents: DataFrame, k: Int = 5): DataFrame = {
    val hw = documents.select(col("doc_id"),
      transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val sh = hw.select(col("doc_id"),
      explode(Canon.shingleHashes(col("hw"), k)).as("sh"))
      .materialized
    val dup = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("sh"), lit(1).as("_dup"))
    sh.join(dup, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count(col("_dup")).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast("double") / col("n_windows"))
          .as("dup_frac"))
  }

  /** The ACTING half of exact-substring dedup: keep only documents
    * whose [[windowDupFrac]] duplicated-window share is at or below
    * `tau` (Lee et al. 2022 drop near-verbatim rehashes at the
    * position level; doc-granularity removal is the variant that
    * composes with the d12/d16 keep-list machinery). Documents too
    * short to form a single `k`-window carry no duplication evidence
    * and are KEPT (n_windows = 0, dup_frac = 0.0).
    *
    * Scale shape: the measurement pass is d20's two-shuffle plan
    * unchanged (positional explode materialized once, window-count
    * aggregate, fused probe+per-doc aggregate); the removal adds one
    * doc_id-keyed left join of the corpus against the doc-sized frac
    * table plus a row-local threshold filter — the join is the only
    * new shuffle, and AQE broadcasts it when the frac table is small.
    * Returns the surviving corpus rows with their dup statistics, so
    * the output feeds the next pipeline stage directly.
    */
  def windowDupRemoval(documents: DataFrame, k: Int = 5,
                       tau: Double = 0.5): DataFrame = {
    val frac = windowDupFrac(documents, k)
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        col("dup_frac"))
    documents.select(col("doc_id"), col("text"))
      .join(frac, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_frac"), lit(0.0d)).as("dup_frac"))
      .filter(col("dup_frac") <= tau)
  }

  /** SPAN-level exact-substring masking — the fine-grained acting
    * variant next to [[windowDupRemoval]]'s doc-granularity drop:
    * rebuild each document with every word position covered by a
    * duplicated `k`-window removed (a position p is covered iff some
    * window starting in [p−k+1, p] has corpus multiplicity > 1).
    * Documents with no duplicated windows pass through intact (split
    * on single spaces and re-joined, [[segmentDedup]]'s rebuild
    * convention), so the output is a drop-in cleaned corpus.
    *
    * Scale shape: d20's position table WITH start indexes, same
    * materialize-once + window-count aggregate; covered starts
    * collapse to ONE small sorted array per affected doc (duplicated
    * windows are the Zipf tail — the starts list is bounded by the
    * doc's own window count), joined back doc_id-keyed; the mask
    * itself is the native merged-interval walk
    * ([[graft.functions.KeptUncoveredPositionsI]]) — O(words +
    * starts) per doc, so even a pathological fully-duplicated long
    * document (every position a duplicated start) stays linear.
    * Three shuffles total: window counts, starts aggregate, corpus
    * join.
    */
  def windowDupMask(documents: DataFrame, k: Int = 5): DataFrame = {
    val hw = documents.select(col("doc_id"),
      transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val sh = hw.select(col("doc_id"),
      posexplode(Canon.shingleHashes(col("hw"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("s"), col("col").as("sh"))
      .materialized
    val dup = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(col("sh"))
    val starts = sh.join(dup, Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("s"))).as("_starts"))
    val joined = documents
      .select(col("doc_id"), Canon.words(col("text")).as("w"))
      .join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("_starts"), array().cast("array<int>")).as("_starts"))
    val n = size(col("w"))
    val kept = Canon.keptUncoveredPositions(col("_starts"), n, k)
    joined.select(col("doc_id"),
      n.cast("long").as("n_tokens"),
      (n - size(kept)).cast("long").as("n_masked"),
      concat_ws(" ", transform(kept, p => element_at(col("w"), p)))
        .as("text_masked"))
  }

  /** Cluster-size histogram over a (doc_id, cluster_rep) labeling —
    * the dedup summary a curation report leads with: for each cluster
    * size, how many clusters and how many documents, and the docs that
    * deduplication would remove at that size (all but one per
    * cluster). Two map-side-combinable aggregates, each strictly
    * smaller than its input (docs → clusters → sizes); nothing else.
    */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") - 1) * col("n_clusters")).as("n_removable"))

  /** Sketch-only contamination ESTIMATE — the fourth decontamination
    * rung, and the only one that moves NO shingle data between the
    * two corpora at all. [[decontaminate]] semi-joins the exact
    * shingle sets; [[bloomDecontaminate]] broadcasts a fixed bitmap
    * one way; this ships one Datasketches HLL sketch PER CORPUS
    * (~2^lgConfigK bytes, built map-side by `hll_sketch_agg`, merged
    * by register-max — order-insensitive, so the estimate is a pure
    * function of the input sets) and estimates the distinct-shingle
    * overlap by inclusion–exclusion:
    * `|A∩B| ≈ est(A) + est(B) − est(A∪B)`. That is the 100 TB
    * cross-datacenter form: two corpora that never co-locate can
    * still answer "how contaminated is the batch vs the benchmark"
    * by exchanging kilobytes.
    *
    * Gate shape (the q20b error-contract pattern): the estimate is
    * engine-specific (DuckDB has no Datasketches mirror), so the
    * emitted row carries the EXACT three counts — computed here only
    * to certify the sketch — plus `within_bound` = whether the
    * estimated overlap is within `boundScale · rse · (estA+estB+estU)`
    * of the exact overlap, where `rse = 1.04/√2^lgConfigK` is the
    * published HLL relative standard error. The oracle mirrors the
    * exact counts (d10's shingle CTEs) + literal 1; sketch drift past
    * the bound hash-FAILS. The bound uses the ESTIMATED magnitudes,
    * not the exact ones, because at 100 TB the exact ones are what
    * you are avoiding computing.
    */
  /** Cross-source overlap matrix — the corpus-audit table a dataset
    * card publishes (which sources duplicate which, before mixture
    * weights are chosen): for every unordered source pair, the count
    * of distinct `k`-shingles they share and the shingle-set Jaccard.
    * All `|sources|·(|sources|−1)/2` pairs appear, zeros included —
    * an audit that silently drops empty cells invites misreading.
    *
    * Scale shape: one distinct-reduce to (source, shingle) pairs
    * (map-side partial, one shuffle); the self-join keys on the
    * shingle hash and expands each row by AT MOST the number of
    * sources carrying that shingle — bounded by the source dimension
    * (a config-sized set), never by the corpus, so there is no
    * all-pairs cliff; the totals frame is |sources| rows, broadcast.
    * Jaccard is exact-int over exact-int in one double division
    * (corpusReport's determinism discipline).
    */
  def sourceOverlapMatrix(documents: DataFrame, k: Int = 5): DataFrame = {
    val pairs = documents
      .select(col("source"),
        transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
      .select(col("source"),
        explode(array_distinct(Canon.shingleHashes(col("hw"), k))).as("sh"))
      .distinct()
    val totals = pairs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"))
    val shared = pairs.as("a")
      .join(pairs.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    broadcast(totals.select(col("source").as("source_a"),
        col("n_distinct").as("n_a")))
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("n_distinct").as("n_b"))),
        col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") -
            coalesce(col("n_shared"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  def sketchOverlap(batch: DataFrame, benchmark: DataFrame,
                    k: Int = 5, lgConfigK: Int = 14,
                    boundScale: Double = 5.0): DataFrame = {
    def shingleSet(d: DataFrame): DataFrame =
      d.select(transform(Canon.words(col("text")),
          w => Canon.hashP(w)).as("hw"))
        .select(explode(array_distinct(
          Canon.shingleHashes(col("hw"), k))).as("sh"))
        .distinct()
    val a = shingleSet(batch)
    val b = shingleSet(benchmark)
    val skA = a.agg(count(lit(1)).as("n_batch_exact"),
      hll_sketch_agg(col("sh"), lgConfigK).as("sk_a"))
    val skB = b.agg(count(lit(1)).as("n_bench_exact"),
      hll_sketch_agg(col("sh"), lgConfigK).as("sk_b"))
    val overlap = a.join(b, Seq("sh"))
      .agg(count(lit(1)).as("n_overlap_exact"))
    val rse = 1.04 / math.sqrt((1L << lgConfigK).toDouble)
    val estA = hll_sketch_estimate(col("sk_a")).cast("double")
    val estB = hll_sketch_estimate(col("sk_b")).cast("double")
    val estU = hll_sketch_estimate(
      hll_union(col("sk_a"), col("sk_b"))).cast("double")
    skA.crossJoin(skB).crossJoin(overlap)
      .select(col("n_batch_exact"), col("n_bench_exact"),
        col("n_overlap_exact"),
        (abs(estA + estB - estU - col("n_overlap_exact").cast("double"))
          <= lit(boundScale * rse) * (estA + estB + estU))
          .cast("long").as("within_bound"))
  }

  /** Content-defined chunk array per document — the Gear/FastCDC idea
    * (Xia 2016) at word granularity: a chunk boundary falls AFTER word
    * j exactly when the polynomial hash of the k-word window ENDING at
    * j satisfies hash % divisor == 0. Boundaries are decided by local
    * CONTENT, not position, so an insertion near the head re-aligns at
    * the first surviving boundary and every later chunk is unchanged —
    * the property fixed windows (d20-d22) structurally lack, and the
    * reason CDC is the storage-dedup standard. Simplified honestly: no
    * min-size skip and no dual-divisor fallback (FastCDC §3.2's
    * speed/normalization tweaks), so expected chunk length is
    * `divisor` words and short chunks are possible.
    *
    * Entirely row-local (one scan, zero shuffles), as ONE native
    * expression ([[graft.functions.CdcChunksS]]): word hashes →
    * windowed polynomial → boundary filter → slice/join per chunk,
    * a single O(words) pass per row. A doc shorter than k words, or
    * with no qualifying window, is one whole-doc chunk; a boundary at
    * the last word is dropped (no empty tail chunk).
    *
    * NOT the staged transform/filter column algebra: that form needs
    * `element_at(sh, i)` / `element_at(ends, i)` INSIDE later lambda
    * bodies, and once the optimizer inlines those aliases (HOFs
    * evaluate interpreted, with no subexpression elimination) every
    * lambda element re-ran the whole md5-per-word chain — O(words²)
    * md5s per document, measured as one sf0.01 task pinned at 100%
    * CPU for 15+ min. Naming the stages did NOT survive
    * CollapseProject; the kernel makes the O(words) cost structural.
    */
  private def withCdcChunks(documents: DataFrame, k: Int,
                            divisor: Int): DataFrame =
    documents
      .withColumn("w", Canon.words(col("text")))
      .withColumn("chunks", Canon.cdcChunks(col("w"), k, divisor))

  /** Per-document CDC chunk profile (d28): chunk counts, the largest
    * chunk, mean words per chunk, and a boundary-structure pin
    * (md5 of the ordered per-chunk md5s) — compact enough to gate,
    * byte-exact about where every boundary fell. Zero shuffles: the
    * whole operator is the [[withCdcChunks]] scan projection, 100 TB =
    * parquet-scan speed.
    */
  def cdcChunkProfile(documents: DataFrame, k: Int = 4,
                      divisor: Int = 16): DataFrame = {
    withCdcChunks(documents, k, divisor)
      .select(col("doc_id"), col("chunks"),
        size(col("w")).cast("long").as("n_words"))
      .select(col("doc_id"), col("n_words"),
        size(col("chunks")).cast("long").as("n_chunks"),
        array_max(transform(col("chunks"),
          c => size(split(c, " ")))).cast("long").as("max_chunk_words"),
        (col("n_words").cast("double") / size(col("chunks")))
          .as("mean_chunk_words"),
        md5(array_join(transform(col("chunks"), c => md5(c)), " "))
          .as("chunks_md5"))
  }

  /** Corpus-level CDC dedup accounting (d29): explode every doc into
    * its content-defined chunks, key by chunk hash, and price the
    * chunk-store view — distinct chunks vs occurrences and the words
    * a store keeping ONE copy per distinct chunk would save. The
    * chunk-level complement to d01 (whole-doc) and d15 (fixed
    * segments): insertions shift every fixed segment but leave CDC
    * chunk identity intact, so shared-with-edits mass shows up here
    * and nowhere else.
    *
    * Shape: one row-local chunk explode, ONE hash shuffle (the
    * chunk-hash aggregate, map-side combinable — chunk keys scale
    * with the data), one single-row rollup. All-exact-integer until
    * the final division.
    */
  def cdcDedupStats(documents: DataFrame, k: Int = 4,
                    divisor: Int = 16): DataFrame =
    withCdcChunks(documents, k, divisor)
      .select(explode(col("chunks")).as("chunk"))
      .select(md5(col("chunk")).as("ch"),
        size(split(col("chunk"), " ")).cast("long").as("wlen"))
      .groupBy(col("ch"))
      .agg(count(lit(1)).as("occ"), max(col("wlen")).as("wlen"))
      .agg(sum(col("occ")).as("n_chunk_occurrences"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("occ") * col("wlen")).as("n_words_total"),
        sum((col("occ") - 1L) * col("wlen")).as("n_words_saved"))
      .select(col("n_chunk_occurrences"), col("n_distinct_chunks"),
        col("n_words_total"), col("n_words_saved"),
        (col("n_words_saved").cast("double") / col("n_words_total"))
          .as("dedup_ratio"))
}
