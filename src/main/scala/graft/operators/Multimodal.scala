package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.12): image/audio/video as
  * opaque `binary` payloads with typed metadata.
  *
  * The container has no media libraries, so the *decode* step is a
  * pluggable `MediaDecoder`; the default `StubDecoder` derives
  * deterministic fake dimensions from the payload's md5 (making the
  * whole path oracle-checkable), while the Spark-side plumbing —
  * binary column, schema, per-partition batch shape — is real. A
  * production decoder (libjpeg/ffmpeg via JNI or a Python
  * `mapInPandas` stage) drops into the same seam.
  *
  * Scale notes: payloads stay opaque bytes until the decode stage —
  * parquet stores them as BYTE_ARRAY and column pruning means queries
  * not touching the payload never read those pages. Decode runs
  * per-partition (one decoder init per task, amortized over the
  * batch), the mapPartitions analog of a batched pandas UDF.
  */
object Multimodal {

  /** Typed metadata emitted by a decoder for one payload. */
  final case class MediaMeta(doc_id: Long, byte_len: Long, width: Long,
                             height: Long, n_frames: Long)

  /** Batch decoder seam: one call per partition, iterator-in/
    * iterator-out so implementations can batch (exactly the shape a
    * vectorized/pandas UDF would have).
    */
  trait MediaDecoder extends Serializable {
    def decodeBatch(payloads: Iterator[(Long, Array[Byte])]): Iterator[MediaMeta]
  }

  /** Deterministic stand-in for the real decoder: "dimensions" are
    * arithmetic on the payload md5, so the DuckDB oracle can replicate
    * them exactly. A real implementation replaces only this class.
    */
  object StubDecoder extends MediaDecoder {
    def decodeBatch(payloads: Iterator[(Long, Array[Byte])]): Iterator[MediaMeta] = {
      // One digest instance per partition — the "decoder init" a real
      // codec would amortize the same way.
      val md = MessageDigest.getInstance("MD5")
      payloads.map { case (id, bytes) =>
        md.reset()
        val hex = md.digest(bytes).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.take(15), 16)
        MediaMeta(id, bytes.length.toLong,
          64L + h % 193L, 64L + (h / 193L) % 129L,
          1L + bytes.length.toLong % 7L)
      }
    }
  }

  /** Batched feature-extraction seam beside [[MediaDecoder]]: one call
    * per partition, iterator-in/iterator-out, emitting a
    * variable-length array of 60-bit FEATURE HASHES per payload — the
    * shape a perceptual-hash front end (pHash DCT blocks, CLIP patch
    * embeddings quantized to codes) hands to a downstream sketcher. A
    * production featurizer replaces only the implementation; the
    * Spark-side plumbing (binary column in, per-partition batch,
    * array<long> column out) is the real contract.
    */
  trait MediaFeaturizer extends Serializable {
    def featurizeBatch(payloads: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, Array[Long])]
  }

  /** Deterministic stand-in featurizer: every byte 4-gram of the
    * payload, hashed with the same md5-hex-prefix algebra as
    * `Canon.hash60` — so the DuckDB oracle replicates the features
    * exactly (`substr(text, i, 4)` under the corpus's ASCII payloads,
    * the same byte↔char equivalence m01's head_hex gate already
    * pins). Overlapping shingles make the fingerprint LOCAL: editing
    * k bytes perturbs at most 4k of the n−3 features, which is what
    * lets a simhash over them band at a small hamming radius.
    */
  object StubFeaturizer extends MediaFeaturizer {
    def featurizeBatch(payloads: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, Array[Long])] = {
      val md = MessageDigest.getInstance("MD5")
      payloads.map { case (id, bytes) =>
        val n = math.max(0, bytes.length - 3)
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          md.reset()
          md.update(bytes, i, 4)
          val d = md.digest()
          // == parseLong(hexString(d).take(15), 16): the first 15 hex
          // nibbles are bytes 0–6 whole plus byte 7's high nibble.
          // Direct extraction — the hex-string detour cost ~10× the
          // md5 itself and made the seam pass the dominant m11 term
          // (12.7 s of a 16 s row at sf0.1, measured); the spec pins
          // equality against the format-based definition.
          out(i) = ((d(0) & 0xFFL) << 52) | ((d(1) & 0xFFL) << 44) |
            ((d(2) & 0xFFL) << 36) | ((d(3) & 0xFFL) << 28) |
            ((d(4) & 0xFFL) << 20) | ((d(5) & 0xFFL) << 12) |
            ((d(6) & 0xFFL) << 4) | ((d(7) & 0xF0L) >> 4)
          i += 1
        }
        (id, out)
      }
    }
  }

  /** Per-partition batched feature extraction of the payload column
    * through a [[MediaFeaturizer]] (default: the deterministic stub).
    */
  def mediaFeatures(documents: DataFrame,
                    featurizer: MediaFeaturizer = StubFeaturizer)
      : DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => featurizer.featurizeBatch(it))
      .toDF("doc_id", "features")
  }

  /** 64-bit perceptual fingerprint per payload: d04's simhash algebra
    * (native SimHashBits kernel) over the decode-seam feature hashes.
    * Row-local after the seam — no shuffle.
    */
  def mediaFingerprint(documents: DataFrame,
                       featurizer: MediaFeaturizer = StubFeaturizer)
      : DataFrame =
    mediaFeatures(documents, featurizer)
      .select(col("doc_id"),
        graft.functions.Canon.simhashBits(col("features"), 64)
          .as("simhash"))

  /** m11: multimodal near-duplicate detection — the first operator a
    * VLM data pipeline runs over a media corpus, composed from the
    * machinery the text/embedding families already gate:
    * per-item perceptual fingerprint ([[mediaFingerprint]], the
    * decode-seam featurizer + simhash), banded hamming buckets with
    * the exact bit_count(xor) verify (`Dedup.simhashBandedPairs` —
    * 4 × 16-bit pigeonhole bands, recall 1.0 at hamming ≤ `maxHamming`
    * = 3, hot buckets capped loudly), transitive closure
    * (`Dedup.dupClusters`), and a d12-style survivors row per cluster
    * (canonical = largest payload, then smallest doc_id).
    *
    * Scale shape — bucketed, NEVER all-pairs: candidate generation
    * touches only fingerprints that agree exactly on one 16-bit band
    * (a groupBy + bounded in-bucket expansion, capped at `maxBucket`),
    * so the corpus is scanned once for the seam pass and once for the
    * band shuffle; the verify, closure, and survivor stages are
    * pair-set / cluster-membership sized, not corpus sized. At 100 TB
    * the decode seam is the only stage that reads payload bytes, and
    * column pruning keeps every later stage off those pages.
    */
  def mediaNearDupSurvivors(documents: DataFrame, maxHamming: Int = 3,
                            maxBucket: Int = 1000): DataFrame = {
    // Payloads shorter than one 4-byte shingle have NO features, so
    // their simhash would be the all-zero word and every tiny
    // unrelated payload would pair at hamming 0 and merge into one
    // giant fake cluster (ADVICE r18) — featureless docs are excluded
    // from near-dup detection entirely (mirrored in the m11 oracle).
    val featured = documents
      .filter(length(col("text").cast("binary")) >= 4)
    val pairs = Dedup.simhashBandedPairs(
      mediaFingerprint(featured), maxHamming, maxBucket)
    // Pointer-jumping closure (O(log n) rounds), NOT the maxIters
    // label propagation that silently returns unconverged labels on a
    // diameter > maxIters chain (ADVICE r18): the oracle computes the
    // exact recursive closure, so the Spark side must fail loudly
    // rather than diverge on a deep chain.
    val clusters = Dedup.dupClustersShortcut(pairs)
    val blen = documents.select(col("doc_id"),
      length(col("text").cast("binary")).cast("long").as("byte_len"))
    clusters.join(blen, Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(
        max(struct(col("byte_len"), (-col("doc_id")).as("neg_id")))
          .as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_rep"),
        (-col("best.neg_id")).as("canonical_doc_id"),
        col("best.byte_len").as("canonical_bytes"),
        col("n_docs"),
        (col("n_docs") - 1).as("n_removed"))
  }

  /** m12: the multimodal LOSS-ACCOUNTING FUNNEL (VERDICT r18 #2) —
    * the m-family's p14. Text curation gates its end-to-end attrition
    * (p01/p14/p15); this composes the multimodal stages the family
    * already gates individually into one audited funnel:
    *
    *   stage 0 `raw`               — the whole corpus
    *   stage 1 `image_rules`       — m06's LAION-style gate (min dims,
    *                                 aspect band, min payload bytes)
    *   stage 2 `neardup_canonical` — m11's near-dup chain run over the
    *                                 stage-1 SURVIVORS (fingerprint
    *                                 seam → banded hamming → closure),
    *                                 keeping one canonical per cluster
    *                                 (largest payload, then smallest
    *                                 doc_id — m11's rule)
    *   stage 3 `token_budget`      — m08's vision-token gate
    *                                 (ViT patches + CLS ≤ `maxTokens`)
    *
    * One row per stage with doc / byte / vision-token attrition
    * columns — the numbers a VLM data card reports per curation stage.
    *
    * `maxTokens` defaults to 24, NOT m08's 64: the stub decoder's
    * dimension ranges (width ≤ 256, height ≤ 192) cap vision tokens
    * at 49, so a 64-token budget would be a vacuously-passing stage —
    * 24 sits mid-range (tokens span 5–49) and makes the gate attrit
    * for real at every SF. A production decoder revisits the dial.
    *
    * Scale shape (p14's): ONE decode-seam metadata pass feeds every
    * stage flag; the m11 pair chain runs only over the stage-1
    * survivor subset (bucketed, capped, never all-pairs) and its
    * verdict joins back by doc_id; the funnel itself is ONE
    * conditional-sum aggregate over the doc-keyed flag joins — no
    * stage re-scans the corpus. Only the two seam passes (decode
    * metadata, fingerprint) read payload bytes; column pruning keeps
    * every later stage off those pages.
    */
  def multimodalFunnel(documents: DataFrame, patch: Int = 32,
                       maxTokens: Long = 24L, minDim: Long = 96L,
                       maxAspect: Double = 2.0, minBytes: Long = 64L,
                       maxHamming: Int = 3, maxBucket: Int = 1000)
      : DataFrame = {
    val aspect = greatest(col("width"), col("height")).cast("double") /
      least(col("width"), col("height"))
    // one seam pass: per-doc bytes, vision tokens, the m06 verdict
    val flags = decodeMeta(documents)
      .select(col("doc_id"), col("byte_len"),
        (expr(s"width div $patch") * expr(s"height div $patch") + 1L)
          .as("vision_tokens"),
        (col("width") >= minDim && col("height") >= minDim &&
          aspect <= maxAspect && col("byte_len") >= minBytes).as("_ok"))
    // the m11 chain over the stage-1 survivors only (featureless
    // payloads excluded exactly as mediaNearDupSurvivors does)
    val surv = documents
      .join(flags.filter(col("_ok")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .filter(length(col("text").cast("binary")) >= 4)
    val clus = Dedup.dupClustersShortcut(Dedup.simhashBandedPairs(
      mediaFingerprint(surv), maxHamming, maxBucket))
    val canon = clus
      .join(flags.select(col("doc_id"), col("byte_len")), Seq("doc_id"))
      .groupBy(col("cluster_rep"))
      .agg(max(struct(col("byte_len"), (-col("doc_id")).as("neg_id")))
        .as("best"))
      .select((-col("best.neg_id")).as("doc_id"))
    // non-canonical cluster members — the docs stage 2 removes
    val dropped = clus.select(col("doc_id"))
      .join(canon, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1).as("_nd"))
    val marked = flags.join(dropped, Seq("doc_id"), "left")
    def dtv(cond: Column, i: Int) = Seq(
      count(when(cond, lit(1))).as(s"d$i"),
      coalesce(sum(when(cond, col("byte_len"))), lit(0L)).as(s"b$i"),
      coalesce(sum(when(cond, col("vision_tokens"))), lit(0L))
        .as(s"v$i"))
    val s2 = col("_ok") && col("_nd").isNull
    val aggs = dtv(lit(true), 0) ++ dtv(col("_ok"), 1) ++ dtv(s2, 2) ++
      dtv(s2 && col("vision_tokens") <= maxTokens, 3)
    def row(i: Int, name: String) = struct(
      lit(i).as("stage"), lit(name).as("stage_name"),
      col(s"d$i").as("n_docs"), col(s"b$i").as("n_bytes"),
      col(s"v$i").as("n_vision_tokens"))
    marked.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(
        row(0, "raw"), row(1, "image_rules"),
        row(2, "neardup_canonical"), row(3, "token_budget"))).as("s"))
      .select(col("s.stage").as("stage"),
        col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"), col("s.n_bytes").as("n_bytes"),
        col("s.n_vision_tokens").as("n_vision_tokens"))
  }

  /** Documents → opaque binary payload column (stand-in for real media
    * bytes) + cheap byte-level metadata, all column expressions.
    */
  def binaryMeta(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).as("byte_len"),
        md5(col("payload")).as("content_md5"),
        lower(hex(expr("substring(payload, 1, 8)"))).as("head_hex"))

  /** Frame sampling for "video" payloads: one row per every
    * `step`-th frame of the decoded metadata — the explode-per-frame
    * fan-out a frame-level feature extractor consumes. Row-local
    * generate; at scale the downstream extractor runs per-partition
    * like decodeMeta.
    */
  def sampleFrames(decoded: DataFrame, step: Int = 2): DataFrame =
    decoded.select(col("doc_id"), col("width"), col("height"),
      explode(sequence(lit(0L), col("n_frames") - 1, lit(step.toLong)))
        .as("frame_idx"))

  /** Patch-grid fan-out (ViT-style preprocessing): one row per
    * `patch`×`patch` tile of each decoded frame-0 image, with the
    * tile's pixel origin. Two nested row-local generates — the fan-out
    * is bounded by (width/patch)·(height/patch) per doc, and the
    * downstream feature extractor consumes it per-partition exactly
    * like decodeMeta. Tiles that don't fully fit are dropped (floor),
    * the common ViT convention.
    */
  def patchify(decoded: DataFrame, patch: Int = 32): DataFrame = {
    // Integer tile counts; the pre-filter also keeps sequence() away
    // from a negative upper bound (where it would generate a
    // DESCENDING range, not an empty one).
    def tiles(c: org.apache.spark.sql.Column) =
      floor(c / patch).cast("long")
    decoded
      .filter(col("width") >= patch && col("height") >= patch)
      .select(col("doc_id"), col("width"), col("height"),
        explode(sequence(lit(0L), tiles(col("width")) - 1)).as("patch_x"))
      .select(col("doc_id"), col("height"), col("patch_x"),
        explode(sequence(lit(0L), tiles(col("height")) - 1)).as("patch_y"))
      .select(col("doc_id"), col("patch_x"), col("patch_y"),
        (col("patch_x") * patch).as("x0"),
        (col("patch_y") * patch).as("y0"))
  }

  /** Per-partition batched decode of the payload column through a
    * `MediaDecoder` (default: the deterministic stub).
    */
  def decodeMeta(documents: DataFrame,
                 decoder: MediaDecoder = StubDecoder): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val payloads: Dataset[(Long, Array[Byte])] = documents
      .select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
    payloads
      .mapPartitions(it => decoder.decodeBatch(it))
      .toDF()
  }

  /** Audio framing: the sliding-window layout an acoustic feature
    * extractor (fbank/MFCC/wav2vec chunks) consumes — one row per
    * analysis window of each payload, treated as 16-bit mono PCM
    * (n_samples = byte_len div 2). Windows of `window` samples every
    * `hop` samples; payloads shorter than one window emit nothing.
    * Pure row-local integer math + a bounded generate (fan-out =
    * (n_samples − window) div hop + 1), the audio analog of patchify's
    * tile grid; the extractor downstream runs per-partition like
    * decodeMeta.
    */
  def audioWindows(documents: DataFrame, window: Int = 64,
                   hop: Int = 32): DataFrame = {
    val nSamples = expr("byte_len div 2")
    documents
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"))
      .select(col("doc_id"), nSamples.as("n_samples"))
      .filter(col("n_samples") >= window)
      .select(col("doc_id"), col("n_samples"),
        explode(sequence(lit(0L),
          expr(s"(n_samples - $window) div $hop"))).as("win_idx"))
      .select(col("doc_id"), col("n_samples"), col("win_idx"),
        (col("win_idx") * hop).as("start_sample"),
        (col("win_idx") * hop + (window - 1)).as("end_sample"))
  }

  /** LAION-style image quality gate over decoded metadata: minimum
    * dimensions, aspect-ratio band, and a minimum payload size — each
    * rule its own boolean column plus the `image_ok` conjunction (the
    * multimodal analog of TextAnalysis.gopherRules, and the filter a
    * caption-pair pipeline runs before feature extraction). Row-local
    * over [[decodeMeta]]'s output; the aspect ratio is one
    * exact-int-over-int double division, engine-deterministic.
    */
  def imageFilter(documents: DataFrame, minDim: Long = 96L,
                  maxAspect: Double = 2.0,
                  minBytes: Long = 64L): DataFrame = {
    val aspect = greatest(col("width"), col("height")).cast("double") /
      least(col("width"), col("height"))
    decodeMeta(documents)
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
        aspect.as("aspect"))
      .withColumn("rule_min_dim",
        col("width") >= minDim && col("height") >= minDim)
      .withColumn("rule_aspect", col("aspect") <= maxAspect)
      .withColumn("rule_bytes", col("byte_len") >= minBytes)
      .withColumn("image_ok",
        col("rule_min_dim") && col("rule_aspect") && col("rule_bytes"))
  }

  /** Aspect-ratio bucket ladder shared with the oracle generator:
    * (name, long:short) with numerator ≥ denominator — the buckets an
    * aspect-ratio-bucketed trainer (SDXL-style) batches by.
    */
  val AspectLadder: Seq[(String, Long, Long)] = Seq(
    ("1:1", 1L, 1L), ("5:4", 5L, 4L), ("4:3", 4L, 3L),
    ("3:2", 3L, 2L), ("16:9", 16L, 9L), ("2:1", 2L, 1L))

  /** ViT token accounting over decoded metadata: patches per image at
    * a fixed patch size plus the CLS token — the budget number a
    * multimodal mixture plan needs per image (vision tokens compete
    * with text tokens for context), with a fits-budget gate for the
    * packing stage. Row-local integer math; the multimodal twin of
    * TextAnalysis.tokenCounts.
    */
  def visionTokens(decoded: DataFrame, patch: Int = 32,
                   maxTokens: Long = 64L): DataFrame =
    decoded
      .select(col("doc_id"), col("width"), col("height"),
        (expr(s"width div $patch") * expr(s"height div $patch"))
          .as("n_patches"))
      .select(col("doc_id"), col("width"), col("height"),
        col("n_patches"), (col("n_patches") + 1L).as("vision_tokens"))
      .withColumn("fits_budget", col("vision_tokens") <= maxTokens)

  /** Aspect-ratio bucketing over decoded metadata: each image is
    * assigned the nearest ladder ratio (long:short side) plus its
    * orientation — the batching key that lets a vision trainer group
    * same-shape images without per-image padding.
    *
    * "Nearest" is decided in EXACT integer arithmetic: the distance of
    * L/S to ladder ratio n/d is |L·d − n·S| / (S·d), and comparing
    * bucket i against j cross-multiplies away both denominators
    * (|L·d_i − n_i·S|·d_j vs |L·d_j − n_j·S|·d_i) — no floating-point
    * epsilon, so the argmin (ladder-order tie-break, same when-chain
    * form as TextAnalysis.langId) is engine-deterministic for the
    * oracle. All products stay ≪ 2^63. Entirely row-local: zero
    * shuffles at any scale.
    */
  def aspectBuckets(decoded: DataFrame): DataFrame = {
    val long_ = greatest(col("width"), col("height"))
    val short_ = least(col("width"), col("height"))
    val scores = AspectLadder.map { case (_, n, d) =>
      abs(long_ * d - lit(n) * short_) * lit(AspectLadder.map(_._3).product / d)
    }
    val names = AspectLadder.map(_._1)
    val bucket = names.init.zipWithIndex.foldRight(lit(names.last)) {
      case ((name, i), rest) =>
        val minLater =
          if (i + 1 == scores.size - 1) scores.last
          else least(scores.drop(i + 1): _*)
        when(scores(i) <= minLater, lit(name)).otherwise(rest)
    }
    decoded
      .select(col("doc_id"), col("width"), col("height"),
        when(col("width") >= col("height"), lit("landscape"))
          .otherwise(lit("portrait")).as("orientation"),
        bucket.as("bucket"))
  }

  /** m10's gated geometry — shared with the oracle mirror. */
  val ResizeFactor: Int = 28
  val ResizeMinPixels: Long = 3136L
  val ResizeMaxPixels: Long = 15680L

  /** Pixel-budget smart resize planning (m10) — the dynamic-
    * resolution preprocessing step of a NaViT-class vision trainer
    * (Dehghani 2023; the Qwen2-VL "smart resize" recipe, Wang 2024):
    * per image, the target (w, h) that (a) snaps both sides to
    * multiples of `factor` (= patch · 2×2 merge), (b) caps total
    * pixels at `maxPixels` by an aspect-preserving shrink, (c) lifts
    * tiny images to `minPixels` by the matching expand, and the
    * resulting patch/token counts — the plan a resize kernel and a
    * packing batcher (m09) consume. Fills the mandate's "resize" slot
    * between decode (m02) and patchify (m04): the PLAN is exact
    * row-local algebra on decoded dims; only the pixel work belongs
    * behind the decoder seam.
    *
    * Determinism: the snap is pure integers ((x + f/2) div f — no
    * round(), whose half-rule differs across engines); each branch's
    * scale is ONE sqrt of one double division of exact integers,
    * applied in mirrored operand order then floor/ceil — both engines
    * produce identical doubles, so the gate hashes. The shrink floor
    * guarantees the cap (⌊x/β/f⌋·f ≤ x/β ⇒ product ≤ h·w/β² =
    * maxPixels); `greatest(f)` guards the degenerate ultra-wide case.
    *
    * Scale: row-local projection at scan speed — no shuffle, no
    * state; composes with m06's filter and m09's packer unchanged.
    */
  def smartResize(decoded: DataFrame, factor: Int = ResizeFactor,
                  minPixels: Long = ResizeMinPixels,
                  maxPixels: Long = ResizeMaxPixels): DataFrame = {
    require(factor >= 2 && factor % 2 == 0,
      s"factor must be an even patch·merge product, got $factor")
    require(minPixels <= maxPixels && minPixels >= factor.toLong * factor,
      s"need factor² <= minPixels <= maxPixels " +
        s"(got $minPixels, $maxPixels, factor $factor)")
    val f = factor
    val patch = f / 2
    val bBig = sqrt((col("height") * col("width")).cast("double") /
      maxPixels)
    val bSml = sqrt(lit(minPixels.toDouble) /
      (col("height") * col("width")))
    def snap(c: String) = expr(s"(($c + $patch) div $f) * $f")
    def shrink(c: String) =
      greatest(floor(col(c) / bBig / f) * f, lit(f.toLong))
    def expand(c: String) = ceil(col(c) * bSml / f) * f
    decoded
      .select(col("doc_id"), col("width"), col("height"),
        snap("height").as("_hb"), snap("width").as("_wb"))
      .select(col("doc_id"), col("width"), col("height"),
        when(col("_hb") * col("_wb") > maxPixels, shrink("height"))
          .when(col("_hb") * col("_wb") < minPixels, expand("height"))
          .otherwise(col("_hb")).as("target_h"),
        when(col("_hb") * col("_wb") > maxPixels, shrink("width"))
          .when(col("_hb") * col("_wb") < minPixels, expand("width"))
          .otherwise(col("_wb")).as("target_w"))
      .withColumn("n_patches",
        expr(s"(target_w div $patch) * (target_h div $patch)"))
      .withColumn("n_tokens", expr("n_patches div 4"))
  }

  /** Interleaved image+text context packing (m09) — p06's
    * concat-and-chunk layout at the COMBINED token granularity: each
    * document's context cost is its text tokens plus its vision
    * tokens (m08's ViT patch grid + CLS over the decoded dims —
    * vision tokens compete with text for the same context window,
    * which is why a multimodal trainer cannot pack on text length
    * alone), laid out into `seqLen`-token training windows in
    * deterministic content-hash order (shard + in-shard order keyed
    * off the text md5, p06's convention with an "mpack|" salt).
    *
    * Scale shape: the decode metadata is doc-keyed and joins the
    * token frame on doc_id (one equi-join, AQE-broadcast when the
    * decoded side is filtered small); the layout itself is p06's
    * per-shard running sum — the parallel unit is the shard, sized to
    * the cluster, never a single global window.
    */
  def multimodalPack(documents: DataFrame, patch: Int = 32,
                     seqLen: Long = 2048L, numShards: Int = 64)
      : DataFrame = {
    import graft.functions.Canon
    val vis = visionTokens(decodeMeta(documents), patch)
      .select(col("doc_id"), col("vision_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"),
        size(Canon.words(col("text"))).cast("long").as("text_tokens"),
        (Canon.hash60(md5(concat(lit("mpack|"), col("text"))))
          % numShards).as("shard"),
        Canon.hash60(md5(col("text"))).as("ord"))
      .join(vis, "doc_id")
      .withColumn("n_tokens", col("text_tokens") + col("vision_tokens"))
      .withColumn("tok_start",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("text_tokens"),
        col("vision_tokens"), col("n_tokens"),
        expr(s"tok_start div ${seqLen}L").as("seq_id"),
        (col("tok_start") % seqLen).as("tok_offset"),
        (expr(s"(tok_start + n_tokens - 1) div ${seqLen}L")
          - expr(s"tok_start div ${seqLen}L") + 1L).as("n_seqs_spanned"))
  }
}
