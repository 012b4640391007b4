package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.MatOps

import graft.functions.Canon

/** Text-analysis operator family over `documents` (SURVEY.md §2.12):
  * language-ID, quality scoring, token counting, fingerprinting.
  *
  * Every operator here is a row-local column expression — no UDFs, no
  * shuffles: at 100 TB these run at parquet-scan speed inside
  * whole-stage codegen, and compose with the dedup pipeline (e.g.
  * quality-filter before shingling).
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Shared with the oracle SQL generator so
    * both sides score identically.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "un"))

  /** Language-ID: per-language score = fraction of tokens hitting that
    * language's stopword profile; prediction = argmax with
    * alphabetical-order tie-break (deterministic). Row-local.
    */
  def langId(documents: DataFrame): DataFrame = {
    val w = Canon.words(col("text"))
    val scoreCols = langProfiles.map { case (lang, stops) =>
      (size(filter(w, x => x.isInCollection(stops))) / size(w))
        .as(s"s_$lang")
    }
    val scored = documents.select(col("doc_id") +: scoreCols: _*)
    // argmax by (score desc, lang asc): a when-chain in profile order,
    // each lang wins when its score >= all later (and strictly > all
    // earlier, which the chain order encodes for free).
    val langs = langProfiles.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((lang, i), rest) =>
        val others = langs.drop(i + 1).map(l => col(s"s_$l"))
        val maxOthers =
          if (others.sizeIs == 1) others.head
          else greatest(others: _*)
        when(col(s"s_$lang") >= maxOthers, lit(lang)).otherwise(rest)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Quality scoring: length, token, uniqueness, stopword and
    * punctuation signals plus a boolean keep-flag — the standard
    * pre-training corpus filter shape.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val w = Canon.words(col("text"))
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      size(w).as("n_tokens"),
      (aggregate(w, lit(0L), (acc, x) => acc + length(x)) / size(w))
        .as("avg_wlen"),
      (size(filter(w, x => x === "the" || x === "a")) / size(w))
        .as("stopword_ratio"),
      (size(array_distinct(w)) / size(w)).as("uniq_ratio"),
      ((length(col("text")) -
        length(regexp_replace(col("text"), "[a-z0-9 ]", ""))) /
        length(col("text"))).as("alnum_ratio"))
      .withColumn("quality_ok",
        col("n_tokens") >= 30 && col("n_tokens") <= 1000 &&
          col("uniq_ratio") >= lit(0.05))
  }

  /** Token counting: whitespace tokens, regex (BPE-ish pre-tokenizer)
    * tokens, and a ceil(len/4) subword estimate.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val w = Canon.words(col("text"))
    documents.select(
      col("doc_id"),
      size(w).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|\\S"), lit(0)))
        .as("re_tokens"),
      aggregate(w, lit(0L),
        (acc, x) => acc + ceil(length(x) / lit(4.0d)).cast("long"))
        .as("subword_est"))
  }

  /** Token-count histogram (training-budget accounting): docs bucketed
    * by floor(log2(n_tokens)) with per-bucket stats — the corpus-size
    * view a data-mixing plan reads. Exact integer math, so it oracle-
    * compares (percentile sketches would not).
    */
  def tokenHistogram(documents: DataFrame): DataFrame =
    documents
      .select(size(Canon.words(col("text"))).as("n_tokens"))
      .withColumn("bucket",
        floor(log2(col("n_tokens"))).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))

  /** Vocabulary frequency table with deterministic rank (count desc,
    * word asc) — the Zipf view used for tokenizer/vocab decisions.
    *
    * The global rank is TWO-STAGE ([[TwoStage.globalRank]]), never a
    * partition-less window: a web-corpus vocabulary is 10⁸+ terms,
    * and `Window.orderBy(...)` with no partition key moves the whole
    * table onto a single task. Rank ties are impossible: `word`
    * is unique after the aggregate, so (n desc, word asc) is a total
    * order and the result is deterministic for ANY range-boundary
    * placement.
    */
  def vocabulary(documents: DataFrame, rankPartitions: Int = 32): DataFrame = {
    val v = documents
      .select(explode(Canon.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // pinned post-exchange (TwoStage scaladoc): one boundary draw for
    // both consumers. No pre-pin: the child's corpus explode runs
    // once regardless (it is the MAP side of the groupBy shuffle,
    // reused across the sampling and shuffle jobs via skipped
    // stages); only the vocabulary-sized reduce tail re-runs in the
    // sampling pass, cheaper than a checkpoint round-trip. The
    // post-pin is vocabulary-sized, never corpus-sized
    TwoStage.globalRank(v, rankPartitions, Nil,
      col("n").desc, col("word").asc)
      .select(col("word"), col("n"), col("_rank").cast("int").as("rank"))
  }

  /** Document-frequency table: per term, how many documents contain it
    * (df), total occurrences (tf), and how many languages it appears
    * in — the corpus statistics behind IDF weighting and stopword
    * discovery. The df path dedups words WITHIN each doc first
    * (array_distinct, row-local) so the explode carries each
    * (doc, term) once; `minDf` prunes the hapax tail, which at corpus
    * scale is the overwhelming majority of the vocabulary.
    */
  def docFreq(documents: DataFrame, minDf: Long = 3L): DataFrame = {
    // Two corpus-sized explodes reduce FIRST, then join vocabulary-
    // sized aggregates — never a per-(doc,term) join.
    val docStats = documents
      .select(col("lang"),
        explode(array_distinct(Canon.words(col("text")))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"), countDistinct(col("lang")).as("n_langs"))
      .filter(col("df") >= minDf)
    val termFreq = documents
      .select(explode(Canon.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("tf"))
    docStats.join(termFreq, Seq("word"))
      .select(col("word"), col("df"), col("tf"), col("n_langs"))
  }

  /** Top-`k` TF-IDF terms per document — keyword extraction, the
    * per-document view the corpus-level docFreq statistics exist to
    * power. The idf is the RATIONAL form (N+1)/(df+1) rather than its
    * logarithm: ln is the one libm call whose low bits differ across
    * engines (Java intrinsic vs C libm — neither correctly rounded),
    * and the log is monotone in the rational form, so the RANKING is
    * identical and the score stays bit-deterministic for the oracle.
    *
    * Scale shape: tf is one (doc, word) hash aggregate of the corpus
    * explode; df is the vocabulary-sized aggregate joined back ON WORD
    * (vocabulary ≫ broadcast threshold at corpus scale — a shuffle
    * join keyed on the word, with AQE free to broadcast when small);
    * the top-k window partitions BY DOCUMENT, so no skew and no
    * single-task sort anywhere. `minDf` prunes hapax noise before the
    * join, exactly as docFreq does.
    */
  def topTfidfTerms(documents: DataFrame, k: Int = 3,
                    minDf: Long = 3L): DataFrame = {
    val n = documents.select(count(lit(1)).as("n_docs"))
    val tf = documents
      .select(col("doc_id"), explode(Canon.words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = documents
      .select(explode(array_distinct(Canon.words(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val scored = tf.join(df, Seq("word"))
      .join(broadcast(n))
      .select(col("doc_id"), col("word"),
        (col("tf") * (col("n_docs") + lit(1.0d)) / (col("df") + lit(1.0d)))
          .as("tfidf"))
    Similarity.topK(scored, k, "rank")(col("doc_id"))(
      col("tfidf").desc, col("word").asc)
  }

  /** Repetition / boilerplate signals (the Gopher-/C4-style quality
    * rules the length+stopword battery doesn't cover): per document,
    * the duplicate word-bigram fraction and the most-frequent-bigram
    * fraction — high values mark templated/boilerplate text.
    *
    * Entirely ROW-LOCAL: bigrams are the k=2 shingle polynomial over
    * the word hashes (one md5 per word, no bigram strings), the
    * distinct count is an array op, and the modal count is the max
    * run of the sorted hash array (native MaxRunLengthL kernel). The
    * first formulation — corpus explode → groupBy(doc, bigram) —
    * shuffled every bigram string twice; this one shuffles nothing.
    * Docs shorter than 2 words have no bigrams and drop out
    * (consistently with the oracle).
    */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    // The no-bigram filter runs on the BASE text column before any
    // derived array exists: a filter on `hs` itself would be pushed
    // below the projection by substituting its defining expression
    // (SURVEY §8.5 pathology #2), re-computing the whole shingle
    // array once per downstream reference.
    val hw = documents
      .filter(size(Canon.words(col("text"))) >= 2)
      .select(col("doc_id"),
        transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val hs = hw.select(col("doc_id"),
      Canon.shingleHashes(col("hw"), 2).as("hs"))
    hs.select(col("doc_id"),
        size(col("hs")).cast("long").as("n_bigrams"),
        size(array_distinct(col("hs"))).cast("long")
          .as("n_distinct_bigrams"),
        Canon.maxRunLength(sort_array(col("hs"))).as("_top"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        ((col("n_bigrams") - col("n_distinct_bigrams")) / col("n_bigrams"))
          .as("dup_bigram_frac"),
        (col("_top") / col("n_bigrams")).as("top_bigram_frac"))
  }

  /** Document fingerprinting: canonical md5 over the normalized token
    * stream plus an order-sensitive polynomial rolling hash (two docs
    * with the same word multiset but different order get the same md5
    * of sorted tokens only if sorted — here the md5 is order-sensitive
    * and the rolling hash demonstrates the streaming-hash form).
    */
  def fingerprints(documents: DataFrame): DataFrame = {
    val w = Canon.words(col("text"))
    val hs = transform(w, x => Canon.hash60(x) % lit(Canon.RollMod))
    documents.select(
      col("doc_id"),
      md5(array_join(w, " ")).as("fp_md5"),
      Canon.rollingHash(hs).as("fp_roll"))
  }

  /** Corpus bigram statistics: for every word, its top-`k` successor
    * words by count (ties on the successor string) — the n-gram
    * language-model table behind autocomplete-style corpus QA and
    * next-token baselines.
    *
    * The pair fan-out is ROW-LOCAL (one struct array per doc — no
    * per-pair shuffle until the bigram-vocabulary aggregate), the
    * aggregate is map-side combinable, and the top-k window partitions
    * by the FIRST word — bigram vocabularies are wide, so no skewed or
    * partition-less sort anywhere.
    */
  def bigramCounts(documents: DataFrame, k: Int = 3): DataFrame = {
    val pairs = documents
      .filter(size(Canon.words(col("text"))) >= 2)
      .select(Canon.words(col("text")).as("w"))
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] as w1, w[i+1] as w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val counted = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    Similarity.topK(counted, k, "rank")(col("w1"))(
      col("n").desc, col("w2").asc)
  }

  /** PII patterns shared with the oracle generator: (name, regex,
    * replacement). Conservative syntax only (char classes, bounded
    * quantifiers, \b) so Java regex (Spark) and RE2 (DuckDB) agree.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\d{3}[-.]\\d{3}[-.]\\d{4}", "<PHONE>"))

  /** PII scrubbing: per-pattern match counts plus the md5 of the text
    * after the redaction chain (emails → IPv4 → phones, each replaced
    * by a typed token) — the pre-training privacy pass. Entirely
    * row-local regex work inside the scan; the md5 keeps the gated
    * output compact while still pinning the exact redacted bytes (a
    * caller wanting the text itself applies the same chain via
    * [[PiiPatterns]]).
    */
  def piiRedact(documents: DataFrame): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(col("text")) {
      case (c, (_, pat, rep)) => regexp_replace(c, pat, rep)
    }
    documents.select(
      col("doc_id") +: counts :+ md5(redacted).as("redacted_md5"): _*)
  }

  /** Word-rarity quality signals: per doc, the mean and minimum corpus
    * document-frequency of its tokens and its hapax fraction (share of
    * tokens whose word appears in exactly one document) — the
    * deterministic stand-in for a perplexity filter (gibberish and
    * OCR noise are hapax-dense with low mean df; templated text is the
    * opposite), with no model and no libm in sight.
    *
    * Shape: the df side is the vocabulary-sized aggregate (per-doc
    * array_distinct first, as docFreq), joined back onto the token
    * explode BY WORD — one corpus explode, one vocabulary aggregate,
    * one equi-join, one per-doc aggregate; nothing pairwise. The only
    * non-integer outputs are two exact-int divisions.
    */
  def rarityScore(documents: DataFrame): DataFrame = {
    val tok = documents.select(col("doc_id"),
      explode(Canon.words(col("text"))).as("word"))
    val df = documents
      .select(explode(array_distinct(Canon.words(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    tok.join(df, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("df")).as("_sum_df"),
        min(col("df")).as("min_df"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("_n_hapax"))
      .select(col("doc_id"), col("n_tokens"),
        (col("_sum_df").cast("double") / col("n_tokens")).as("mean_df"),
        col("min_df"),
        (col("_n_hapax").cast("double") / col("n_tokens")).as("hapax_frac"))
  }

  /** Corpus-level boilerplate signal: per doc, the fraction of its
    * distinct word-`k`-shingles that occur in at least `minDocs` OTHER
    * docs (the predicate is `df > minDocs`, and df counts the
    * containing doc itself) — the duplicated-n-gram-fraction filter
    * (headers, navigation chrome, license blurbs light up; original
    * prose does not). Works on any text; needs no line structure.
    *
    * The (doc, distinct-shingle) explode is the heaviest derived table
    * in the operator, so it is materialized ONCE (Materialize seam) and
    * scanned twice — the df aggregate, then the probe. Without the
    * materialization Catalyst inlines the explode into every consumer
    * (three full corpus passes; 96 s of a 199 s suite at sf0.1). The
    * probe fuses the per-doc total and the common count into ONE
    * groupBy: a left join against the common set (multiplicity 1 —
    * shingles are distinct per doc and `common` has one row per
    * shingle) marks each row, then count + count(marker) aggregate in
    * a single pass. Two shuffles total at any scale: the map-side-
    * combinable df aggregate, and the mark join keyed on shingle hash
    * (corpus-common shingles are the SMALL Zipf tail — AQE broadcasts
    * it); the groupBy(doc_id) partial-aggregates map-side.
    */
  def boilerplateFrac(documents: DataFrame, k: Int = 3,
                      minDocs: Long = 20L): DataFrame = {
    // The word-hash array gets its OWN aliased projection (SURVEY §8.5
    // pathology #1): shingleHashes references it k+1 times
    // (size + element_at per polynomial term), and an inlined
    // transform(words, md5) is re-evaluated — the full per-word md5
    // pass — at every reference.
    val hw = documents.select(col("doc_id"),
      transform(Canon.words(col("text")), w => Canon.hashP(w)).as("hw"))
    val sh = hw.select(col("doc_id"),
      explode(array_distinct(Canon.shingleHashes(col("hw"), k))).as("sh"))
      .materialized
    val common = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > minDocs)
      .select(col("sh"), lit(1).as("_common"))
    sh.join(common, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("_common")).as("n_common"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        (col("n_common").cast("double") / col("n_shingles"))
          .as("boilerplate_frac"))
  }

  /** LM coverage score: per doc (with ≥ 2 words), the fraction of its
    * bigram TOKENS whose (w1, w2) appears in the corpus top-`k`
    * bigram table (bigramCounts' truncated successor lists) — the
    * model-free analog of a perplexity filter using the corpus itself
    * as the LM: formulaic/templated text re-treads the head of each
    * word's successor distribution (coverage → 1), gibberish and OCR
    * noise fall in the truncated tail (coverage → 0). Complements
    * rarityScore (t11), which looks at unigram document frequency.
    *
    * Shape: ONE corpus bigram fan-out (row-local struct array, same
    * form as bigramCounts), materialized (Materialize seam) because it
    * feeds both the LM build and the probe — the t10 lesson: never let
    * Catalyst inline the heaviest derived table into two consumers.
    * The LM is built from the SAME materialized pairs (identical
    * algebra to bigramCounts), is vocabulary×k-sized — Zipf-small next
    * to the pair stream, AQE broadcasts it — and joins back with
    * multiplicity 1 (the LM holds one row per distinct (w1, w2)). The
    * per-doc aggregate partial-combines map-side. Two shuffles total
    * at any scale beyond the LM build's own pair.
    */
  def lmCoverage(documents: DataFrame, k: Int = 3): DataFrame = {
    val pairs = documents
      .filter(size(Canon.words(col("text"))) >= 2)
      .select(col("doc_id"), Canon.words(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] as w1, w[i+1] as w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .materialized
    val lm = Similarity.topK(pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n")), k, "_rk")(col("w1"))(
        col("n").desc, col("w2").asc)
      .select(col("w1"), col("w2"), lit(1).as("_in"))
    pairs.join(lm, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("_in")).as("n_in_lm"))
      .select(col("doc_id"), col("n_bigrams"), col("n_in_lm"),
        (col("n_in_lm").cast("double") / col("n_bigrams"))
          .as("lm_coverage"))
  }

  /** Readability signals: per document, the total vowel-group syllable
    * estimate, mean syllables per word, and the complex-word fraction
    * (words with ≥ 3 vowel groups) — the deterministic core of a
    * Flesch/Dale-Chall-style readability filter (no sentence splitter:
    * the corpus is single-spaced token text, so the word-level signals
    * are the meaningful part; a caller with sentence boundaries divides
    * by its own sentence count downstream).
    *
    * Syllables are estimated as maximal vowel runs (`[aeiou]+` matches,
    * floor 1 per word) — the standard heuristic, exact and identical in
    * Java regex and RE2/DuckDB for this plain character class. Entirely
    * row-local array math inside whole-stage codegen: zero shuffles,
    * scan speed at 100 TB. The two ratios are single IEEE divisions of
    * exact integers (correctly rounded → engine-deterministic).
    */
  def readabilitySignals(documents: DataFrame): DataFrame = {
    // `w` and `syl` each get their OWN aliased projection (SURVEY §8.5
    // pathology #1): `syl` is referenced by three consumers below and
    // an inlined transform(regexp_extract_all…) would re-run the regex
    // pass per reference.
    val w = Canon.words(col("text"))
    val syl = documents
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        transform(col("w"), x =>
          greatest(lit(1), size(regexp_extract_all(x, lit("[aeiou]+"),
            lit(0))))).as("syl"))
    syl.select(col("doc_id"), col("n_words"),
        aggregate(col("syl"), lit(0L), (acc, x) => acc + x)
          .as("n_syllables"),
        (size(filter(col("syl"), x => x >= 3)).cast("double") /
          col("n_words")).as("complex_frac"))
      .withColumn("mean_syl",
        col("n_syllables").cast("double") / col("n_words"))
  }

  /** MATTR — moving-average type-token ratio (Covington & McFall
    * 2010): the mean over all `window`-word sliding windows of the
    * window's distinct-word fraction. The length-robust lexical-
    * diversity signal (plain TTR falls with doc length, so it can't
    * threshold a mixed-length corpus; MATTR can) — complements
    * [[qualityScore]]'s whole-doc `uniq_ratio` and
    * [[repetitionSignals]]' bigram view. Docs shorter than one window
    * drop out (same convention as repetitionSignals).
    *
    * Row-local: the per-window distinct counts are a bounded
    * O(n·window) array walk inside one lambda; the mean is kept
    * RATIONAL — Σ distinct-counts (exact int) over window·n_windows
    * (exact int), ONE double division — so it hash-gates (a mean of
    * per-window float ratios would round per window). Zero shuffles,
    * scan speed at 100 TB.
    */
  def mattr(documents: DataFrame, window: Int = 10): DataFrame = {
    val w = Canon.words(col("text"))
    val base = documents
      .filter(size(Canon.words(col("text"))) >= window)
      .select(col("doc_id"), w.as("w"))
    base
      .select(col("doc_id"),
        (size(col("w")) - (window - 1)).cast("long").as("n_windows"),
        aggregate(
          transform(sequence(lit(1), size(col("w")) - (window - 1)),
            i => size(array_distinct(slice(col("w"), i, lit(window))))),
          lit(0L), (acc, x) => acc + x).as("_sum_distinct"))
      .select(col("doc_id"), col("n_windows"),
        (col("_sum_distinct").cast("double") /
          (col("n_windows") * window)).as("mattr"))
  }

  /** Gopher-style document quality RULES (Rae et al. 2021 §A1.1 — the
    * rule set behind MassiveWeb): word-count bounds, mean-word-length
    * band, symbol-word and ellipsis-word caps, a required minimum of
    * distinct stopwords, and a cap on the share of the single most
    * frequent word. Each rule is its own boolean column (so a corpus
    * report can aggregate per-rule failure rates) plus the conjunction
    * `gopher_ok` — complements [[qualityScore]]'s continuous signals
    * with the hard-gate form.
    *
    * Every column is a row-local array expression over the one
    * `split()` — no shuffle, fully codegen'd, scan-speed at 100 TB.
    * The top-word count is an O(u·n) nested array walk (u = distinct
    * words in the doc) — bounded by doc length, never by corpus size,
    * so it stays row-local at any scale. Mean word length is a single
    * integer division (one correctly-rounded IEEE op → engine-
    * deterministic, oracle-safe).
    */
  def gopherRules(documents: DataFrame): DataFrame = {
    val w = Canon.words(col("text"))
    val stops = Seq("the", "a", "of", "and", "is", "to", "in")
    documents
      .select(col("doc_id"), w.as("w"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_words"),
        (aggregate(col("w"), lit(0L), (acc, x) => acc + length(x))
          .cast("double") / size(col("w"))).as("mean_wlen"),
        (size(filter(col("w"), x => x.contains("#"))).cast("double") /
          size(col("w"))).as("symbol_word_frac"),
        (size(filter(col("w"), x => x.contains("..."))).cast("double") /
          size(col("w"))).as("ellipsis_word_frac"),
        size(array_intersect(array_distinct(col("w")),
          array(stops.map(lit): _*))).as("n_stop_distinct"),
        (array_max(transform(array_distinct(col("w")),
          d => size(filter(col("w"), x => x === d)))).cast("double") /
          size(col("w"))).as("top_word_frac"))
      .withColumn("rule_word_count",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("rule_mean_wlen",
        col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0)
      .withColumn("rule_symbols", col("symbol_word_frac") <= 0.1)
      .withColumn("rule_ellipsis", col("ellipsis_word_frac") <= 0.3)
      .withColumn("rule_stopwords", col("n_stop_distinct") >= 2)
      .withColumn("rule_top_word", col("top_word_frac") <= 0.2)
      .withColumn("gopher_ok",
        col("rule_word_count") && col("rule_mean_wlen") &&
          col("rule_symbols") && col("rule_ellipsis") &&
          col("rule_stopwords") && col("rule_top_word"))
  }

  /** DSIR-style importance weights over hashed n-gram features (Xie et
    * al. 2023, arXiv:2302.03169): score every document by how much its
    * hashed unigram+bigram distribution looks like a TARGET slice of
    * the corpus (e.g. the high-quality reference domain) relative to
    * the raw distribution — the data-SELECTION signal a pretraining
    * pipeline ranks/resamples by, where a quality filter (t02/t15)
    * only thresholds.
    *
    * Faithful to DSIR's structure: features are hashed n-grams
    * (unigrams + bigrams → `nBuckets` buckets, independent `u|`/`b|`
    * hash streams), both "LMs" are add-one-smoothed bucket counts, and
    * the score aggregates per-feature target-vs-raw evidence. It
    * deviates ONCE, deliberately: DSIR sums per-feature LOG ratios
    * (geometric mean); ln is the one libm call whose low bits differ
    * across engines (t09's rationale), so the per-feature ratio
    * (ct+1)/(cr+1) enters as the EXACT fixed-point integer
    * `(ct+1)·10⁶ div (cr+1)` and the doc score is the arithmetic mean
    * of those — integer sums all the way (order-independent on any
    * partitioning), ONE double division at the end, hash-gateable
    * (t18). Ratios and their logs rank per-feature evidence
    * identically (monotone); only the cross-feature averaging differs
    * (outlier features weigh more arithmetically).
    *
    * Scale shape: ONE corpus feature fan-out, materialized (the t14
    * lesson) because it feeds both the bucket LM build and the per-doc
    * probe. The LM table is ≤ `nBuckets` rows by construction — THE
    * point of feature hashing at 100 TB: the statistic the score needs
    * is bucket-bounded, not vocabulary-bounded — and broadcasts back
    * onto the feature stream; the per-doc aggregate partial-combines
    * map-side. Two shuffles beyond the fan-out at any scale. Every doc
    * has ≥ 1 feature (the split convention maps empty text to [""]),
    * so no doc drops out. Fixed-point headroom: (ct+1)·10⁶ needs
    * ct < 9.2e12 — raise nBuckets long before a bucket count
    * approaches that.
    */
  def importanceWeights(documents: DataFrame, targetLang: String,
                        nBuckets: Int = 1024): DataFrame = {
    val w = Canon.words(col("text"))
    val feats = documents
      .select(col("doc_id"), col("lang"), w.as("w"))
      .select(col("doc_id"), col("lang"),
        explode(concat(
          transform(col("w"), x => concat(lit("u|"), x)),
          transform(Canon.shingles(col("w"), 2), x =>
            concat(lit("b|"), x)))).as("f"))
      .select(col("doc_id"), col("lang"),
        (Canon.hash60(col("f")) % nBuckets).as("b"))
      .materialized
    val lm = feats.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        count(when(col("lang") === targetLang, 1)).as("ct"))
    feats.join(broadcast(lm), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(expr("(ct + 1) * 1000000 div (cr + 1)")).as("_sfix"))
      .select(col("doc_id"), col("n_feats"),
        (col("_sfix").cast("double") / lit(1e6) / col("n_feats"))
          .as("dsir_score"))
  }

  /** Held-in bigram perplexity (t19): per doc (≥ 2 words), the total
    * and mean add-one-smoothed bigram surprisal under the corpus's own
    * bigram LM — the CCNet-style perplexity filter (Wenzek 2020) with
    * the corpus itself as the model: templated text re-treads
    * high-count bigrams (low surprisal), gibberish and OCR noise sit
    * in the smoothed tail (high surprisal). Complements t14 (coverage
    * of a TRUNCATED successor table — a set-membership signal) with
    * the full-distribution log-probability signal.
    *
    * Model: P(w2|w1) = (c12 + 1) / (c1 + V), where c12 = corpus count
    * of the bigram, c1 = corpus count of w1 as a context (= bigrams
    * starting with w1), V = corpus distinct-word vocabulary. Every
    * scored bigram is observed (the doc is in the corpus), so this is
    * held-in perplexity — the filter signal, not an eval metric.
    *
    * Float discipline (moneyOut rule): ln() is the one transcendental,
    * taken of a SINGLE correctly-rounded division of exact longs and
    * immediately quantized to integer micro-nats
    * (floor(ln(·)·10⁶) as BIGINT) — the s32 fixed-point convention —
    * so per-doc totals are exact long sums; a 1-ulp engine difference
    * in ln flips a floor only when 10⁶·ln(p) sits within ~1e-9 of an
    * integer, impossible-in-practice for p a non-unit rational (and
    * fixed per corpus: a passing gate stays passing). The mean is two
    * IEEE divisions in mirrored operand order.
    *
    * Shape: ONE corpus bigram fan-out, materialized (the t14 lesson —
    * it feeds the context aggregate, the bigram aggregate, and the
    * probe). The bigram LM is the fan-out's own distinct aggregate
    * (multiplicity-1 equi-join back), the context table is
    * vocabulary-sized (broadcast), V is a 1-row scalar (broadcast
    * nested loop). The per-doc aggregate partial-combines map-side.
    * Three shuffles at any scale; nothing pairwise.
    */
  def perplexity(documents: DataFrame): DataFrame = {
    val pairs = documents
      .filter(size(Canon.words(col("text"))) >= 2)
      .select(col("doc_id"), Canon.words(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] as w1, w[i+1] as w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .materialized
    val ctx = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val vocabN = documents
      .select(explode(Canon.words(col("text"))).as("word"))
      .agg(count_distinct(col("word")).as("v"))
    pairs
      .join(big, Seq("w1", "w2"))
      .join(broadcast(ctx), Seq("w1"))
      .crossJoin(broadcast(vocabN))
      .withColumn("_sm", floor(
        log((col("c1") + col("v")).cast("double") / (col("c12") + lit(1L)))
          * lit(1000000L)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("_sm")).as("surprisal_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_micro"),
        (col("surprisal_micro").cast("double") / col("n_bigrams")
          / lit(1000000.0)).as("mean_surprisal_nats"))
  }

  /** Distributed BPE training (Sennrich 2016, §3.2 of the original
    * subword paper), the tokenizer-training pass of an LLM data
    * pipeline: `rounds` greedy merge steps over the corpus word
    * vocabulary, returning the learned merge table
    * (merge_round, w1, w2, merged, pair_count).
    *
    * Distributed shape — the reason BPE trains fine at 100 TB: the
    * ONLY corpus-sized operation is the word-count aggregate
    * (map-side combinable). Every round after that runs on the
    * VOCABULARY (Zipf-bounded, millions of rows at web scale, never
    * corpus-sized): adjacent-symbol pair counts weighted by word
    * count, a 1-row argmax, and a broadcast-join merge application.
    * Rounds are lineage-truncated (Materialize seam) like the g10/d08
    * iterative family.
    *
    * Determinism: argmax ties break on (pair_count DESC, w1, w2) —
    * total order, engine-independent for ASCII tokens. Merge
    * application is sentinel-delimited single-pass string replace
    * (" w1 w2 " → " w1w2 "): the space delimiters make symbol
    * boundaries unambiguous, and because the match CONSUMES its
    * trailing delimiter, an odd run like "a a a" merges only its
    * first pair in one round ("aa a") — both engines scan the
    * original left-to-right non-overlapping, so batch and oracle
    * agree bit-for-bit (spec-pinned on the run case). Pair counts
    * include overlapping occurrences (standard BPE statistics).
    *
    * If the vocabulary runs out of mergeable pairs before `rounds`,
    * remaining rounds are no-ops (LEFT JOIN against the empty argmax
    * keeps symbol strings unchanged) and the merge table simply has
    * fewer rows.
    */
  def bpeMerges(documents: DataFrame, rounds: Int = 5): DataFrame =
    bpeTrain(documents, rounds)._2

  /** BPE application (t21): tokenize the corpus with the vocabulary
    * learned by [[bpeMerges]] — per doc, word/char/BPE-token counts
    * and the chars-per-token compression ratio (the dial that tells
    * you whether `rounds` merges bought anything on THIS corpus).
    *
    * Shape: the trained symbol table is vocabulary-sized → broadcast
    * onto the corpus token explode; one per-doc aggregate
    * (map-side combinable). The ratio is a single IEEE division of
    * exact longs.
    */
  def bpeTokenize(documents: DataFrame, rounds: Int = 5): DataFrame = {
    val vocabF = bpeTrain(documents, rounds)._1
    val symtab = vocabF.select(col("word"),
      length(col("word")).cast("long").as("n_chr"),
      size(split(trim(col("s")), " ")).cast("long").as("n_sym"))
    documents
      .select(col("doc_id"), explode(Canon.words(col("text"))).as("word"))
      .join(broadcast(symtab), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chr")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        (col("n_chars").cast("double") / col("n_bpe_tokens"))
          .as("chars_per_token"))
  }

  /** BPE fertility by language (t22): tokens-per-word and
    * chars-per-token of the [[bpeMerges]] vocabulary, grouped by the
    * document language — the tokenizer-equity dial (Rust 2021): a
    * merge table trained on a mixed corpus segments its minority
    * languages into more, shorter pieces, and this table is where
    * that shows up (fertility ↑, compression ↓ for the languages the
    * training mix under-serves).
    *
    * Shape: [[bpeTokenize]]'s broadcast symbol-table join, aggregated
    * to the LANGUAGE dimension instead of the doc — the final
    * aggregate is language-count-sized. Ratios are single IEEE
    * divisions of exact longs.
    */
  def bpeFertility(documents: DataFrame, rounds: Int = 5): DataFrame = {
    val vocabF = bpeTrain(documents, rounds)._1
    val symtab = vocabF.select(col("word"),
      length(col("word")).cast("long").as("n_chr"),
      size(split(trim(col("s")), " ")).cast("long").as("n_sym"))
    documents
      .select(col("lang"), explode(Canon.words(col("text"))).as("word"))
      .join(broadcast(symtab), Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chr")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast("double") / col("n_words"))
          .as("tokens_per_word"),
        (col("n_chars").cast("double") / col("n_bpe_tokens"))
          .as("chars_per_token"))
  }

  /** Shared BPE training chain: (final vocab with symbol strings,
    * merge table). `s` is the sentinel-delimited symbol string
    * " c₁ c₂ … " seeded from characters; each round rewrites it via
    * the broadcast argmax pair. See [[bpeMerges]] for semantics.
    */
  private def bpeTrain(documents: DataFrame,
                       rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var vocab = documents
      .select(explode(Canon.words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("s",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))
      .materialized
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val pairs = vocab
        .select(col("cnt"), split(trim(col("s")), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(w) - 2)," +
            " i -> struct(w[i] as w1, w[i+1] as w2))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"), col("cnt"))
      val best = pairs.groupBy(col("w1"), col("w2"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("w1").asc, col("w2").asc)
        .limit(1)
        .select(lit(r).as("merge_round"), col("w1"), col("w2"),
          col("pair_count"))
        .materialized
      merges = if (merges == null) best else merges.unionByName(best)
      vocab = vocab
        .join(broadcast(best.select(col("w1").as("_mw1"),
          col("w2").as("_mw2"))), lit(true), "left")
        .withColumn("s", when(col("_mw1").isNull, col("s"))
          .otherwise(call_function("replace", col("s"),
            concat(lit(" "), col("_mw1"), lit(" "), col("_mw2"),
              lit(" ")),
            concat(lit(" "), col("_mw1"), col("_mw2"), lit(" ")))))
        .drop("_mw1", "_mw2")
        .materialized
    }
    (vocab,
      merges.select(col("merge_round"), col("w1"), col("w2"),
        concat(col("w1"), col("w2")).as("merged"), col("pair_count")))
  }

  /** TextRank keyword extraction (t24, Mihalcea & Tarau 2004): build
    * the word co-occurrence graph (adjacent-word pairs, canonical
    * least/greatest, kept at ≥ `minCount` occurrences — the noise
    * floor that keeps the graph vocabulary-bounded), symmetrize, and
    * run [[GraphEtl.pageRankFixedPoint]]'s deterministic integer
    * PageRank over it; the top-`topK` words by stationary score are
    * the corpus keywords. The graph-centrality complement to t09's
    * TF-IDF: IDF scores words by rarity, TextRank by how centrally
    * they sit in the co-occurrence structure.
    *
    * Shape: ONE corpus pair fan-out into a map-side-combinable pair
    * count (everything after the minCount filter is vocabulary-
    * bounded), then g10's per-round join+aggregate, then orderBy +
    * limit (TakeOrderedAndProject — per-partition heaps + driver
    * merge, never a data-sized partition-less window; the keyword_rank
    * window runs over the ≤ topK collected rows, the bounded-table
    * benign class).
    */
  def textRankKeywords(documents: DataFrame, minCount: Int = 5,
                       topK: Int = 20, iters: Int = 3): DataFrame = {
    val pairs = documents
      .filter(size(Canon.words(col("text"))) >= 2)
      .select(Canon.words(col("text")).as("w"))
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] as w1, w[i+1] as w2))")).as("p"))
      .filter(col("p.w1") =!= col("p.w2"))
      .select(least(col("p.w1"), col("p.w2")).as("a"),
        greatest(col("p.w1"), col("p.w2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val edges = pairs.select(col("a").as("_from"), col("b").as("_to"))
      .union(pairs.select(col("b").as("_from"), col("a").as("_to")))
    val top = GraphEtl.pageRankFixedPoint(edges, iters)
      .orderBy(col("rank").desc, col("vertex").asc)
      .limit(topK)
    top.withColumn("keyword_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rank").desc, col("vertex").asc)))
      .select(col("vertex").as("word"), col("rank").as("score"),
        col("keyword_rank"))
  }

  /** Zipf rank-frequency fit (t23): OLS line through
    * (ln rank, ln count) over the top `maxRank` terms of the
    * [[vocabulary]] table — the corpus-health dial the other text
    * scores don't give: natural language sits near slope −1
    * (Zipf 1949); a flat slope flags templated/boilerplate corpora, a
    * cliff flags tiny or truncated vocabularies. The intercept is the
    * (log) head-frequency calibration.
    *
    * Float discipline (the t19 convention): each ln() is taken of one
    * EXACT integer (rank, count) and immediately quantized to integer
    * micro-nats (floor·10⁶), so every OLS sum is an exact
    * decimal(38,0) — partition-order independent and engine-portable;
    * slope and intercept are then a fixed sequence of IEEE doubles,
    * mirrored operand-for-operand. NULL slope/intercept when fewer
    * than two distinct ranks survive (degenerate fit), not ÷0.
    *
    * Shape: the vocabulary rank (two-stage, never a partition-less
    * window), a rank≤maxRank filter that bounds everything after it
    * to `maxRank` rows, ONE map-side-combinable aggregate. At 100 TB
    * the only corpus-sized pass is vocabulary()'s own word count.
    */
  def zipfFit(documents: DataFrame, maxRank: Int = 1000): DataFrame = {
    val dec = "decimal(38,0)"
    val num = (col("n_terms").cast(dec) * col("sxy") -
      col("sx") * col("sy")).cast("double")
    val den = (col("n_terms").cast(dec) * col("sxx") -
      col("sx") * col("sx")).cast("double")
    val slope = num / den
    vocabulary(documents)
      .filter(col("rank") <= maxRank)
      .select(
        floor(log(col("rank").cast("double")) * lit(1000000L))
          .cast("long").as("x"),
        floor(log(col("n").cast("double")) * lit(1000000L))
          .cast("long").as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      .select(col("n_terms"),
        when(col("n_terms") < 2 || den === 0.0, lit(null).cast("double"))
          .otherwise(slope).as("slope"),
        when(col("n_terms") < 2 || den === 0.0, lit(null).cast("double"))
          .otherwise((col("sy").cast("double") -
            slope * col("sx").cast("double")) /
            col("n_terms").cast("double") / lit(1000000.0))
          .as("intercept"))
  }

  /** t25's gated cut and floor — shared with the oracle. */
  val PmiTopK: Int = 50
  val PmiMinCount: Long = 5L

  /** Top-k PMI collocations (t25, Church & Hanks 1990): adjacent word
    * pairs ranked by pointwise mutual information
    * PMI = ln(P(w1,w2) / (P(w1)·P(w2))) = ln(c12·N / (c1·c2)) with N
    * the total bigram count, c1/c2 positional unigram counts — the
    * collocation extractor ("new york", "et al") a tokenizer/phrase
    * vocabulary decision reads, complementing t13's per-context mode
    * (t13 asks "what follows w1", PMI asks "which pairs cohere
    * mutually"). The classic low-count pathology (hapax pairs get top
    * PMI) is cut by the published `minCount` floor BEFORE ranking.
    *
    * Float discipline (t19/t23's): the ratio is two products and ONE
    * division in mirrored operand order — (c12·N as double) /
    * (c1·c2 as double), products in DOUBLE because c12·N overflows
    * long at corpus scale — then ln, quantized to integer micro-nats
    * (floor·10⁶), so the rank order and the gated column are exact
    * integers. Ties break (w1, w2).
    *
    * Shape: one corpus-sized bigram fan-out feeding one map-side
    * count; c1/c2/N are vocab-bounded rollups of THAT table (no
    * second corpus pass), joined back onto the bigram counts;
    * the top-k is TakeOrderedAndProject (q06's class) — never a
    * partition-less rank window.
    */
  def pmiCollocations(documents: DataFrame, k: Int = PmiTopK,
                      minCount: Long = PmiMinCount): DataFrame = {
    val pairs = documents
      .filter(size(Canon.words(col("text"))) >= 2)
      .select(Canon.words(col("text")).as("w"))
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] as w1, w[i+1] as w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12")).materialized
    val c1 = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = big.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val nRow = big.agg(sum(col("c12")).as("n"))
    big.filter(col("c12") >= minCount)
      .join(c1, "w1")
      .join(c2, "w2")
      .crossJoin(broadcast(nRow))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        floor(log((col("c12").cast("double") * col("n")) /
          (col("c1").cast("double") * col("c2"))) * lit(1000000L))
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }
}
