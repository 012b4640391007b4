package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic scalar primitives shared by the dedup /
  * similarity / text-analysis operators (SURVEY.md §2.12).
  *
  * Everything here is chosen so the DuckDB oracle can compute the exact
  * same 64-bit value / double with built-ins:
  *
  *   - Hashing goes through md5 (identical bytes in any engine) rather
  *     than xxhash64/murmur (engine-specific seeds). The first 15 hex
  *     chars (60 bits) fit a signed long in both engines.
  *   - Float reductions are explicit *left folds* (Spark `aggregate`,
  *     DuckDB `list_reduce(list_prepend(init, ...))`) so the summation
  *     order — and hence the IEEE-754 result — is bit-identical.
  *   - All of these are row-local Catalyst expressions: no UDF, no
  *     shuffle, fully codegen'd — at 100 TB they run at scan speed.
  */
object Canon {

  /** 60-bit deterministic hash: first 15 hex chars of md5, base-16
    * decoded. DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Universal-hash family over Z_p, p = 2^31-1: seed s maps a base
    * hash h (already reduced mod p) to (A_s·h + B_s) mod p. One md5
    * per token + k cheap affine transforms instead of k md5s — the
    * standard k-minhash construction, and ~8× less hashing in the hot
    * path. A_s·h < 2^23·2^31 stays well inside a signed 64-bit long,
    * so both engines compute it exactly.
    */
  val MersenneP = 2147483647L
  val AffineA: IndexedSeq[Long] = IndexedSeq(
    1000003L, 2000029L, 3000073L, 4000037L,
    5000011L, 6000011L, 7000003L, 8000009L)
  val AffineB: IndexedSeq[Long] = IndexedSeq(
    12345L, 67891L, 24680L, 13579L,
    98765L, 43210L, 11111L, 77777L)

  /** Base hash reduced into Z_p (feeds the affine family). */
  def hashP(c: Column): Column = hash60(c) % lit(MersenneP)

  def affine(seed: Int, h: Column): Column =
    (h * lit(AffineA(seed)) + lit(AffineB(seed))) % lit(MersenneP)

  /** Shingle hashes from per-word hashes: polynomial combine of k
    * consecutive word hashes, ((h_i·31 + h_{i+1})·31 + …) mod p. One
    * md5 per WORD (not per shingle), no shingle-string allocation —
    * the intermediate products stay < 2^42 so the combine is exact in
    * a 64-bit long in both engines.
    * DuckDB: [((hw[i]*31 + hw[i+1])*31 + hw[i+2]) % p
    *          FOR i IN range(1, len(hw)-1)]  (k = 3 shown).
    */
  def shingleHashes(wordHashes: Column, k: Int): Column =
    when(size(wordHashes) >= k,
      transform(sequence(lit(1), size(wordHashes) - (k - 1)), i => {
        val poly = (1 until k).foldLeft(element_at(wordHashes, i)) {
          (acc, j) => acc * lit(31L) + element_at(wordHashes, i + j)
        }
        poly % lit(MersenneP)
      }))
      .otherwise(array().cast("array<bigint>"))

  /** Whitespace tokens of a (pre-normalized, single-spaced) text. */
  def words(text: Column): Column = split(text, " ")

  /** Word k-shingles: one string per window of k consecutive words,
    * joined by a single space. Empty array when the doc is shorter
    * than k words (guards ANSI-mode sequence() on a negative range).
    * DuckDB: [w[i]||' '||...||w[i+k-1] FOR i IN range(1, len(w)-k+2)].
    */
  def shingles(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(1), size(w) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(w, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Polynomial rolling hash over an array<long> of word hashes:
    * left fold acc = (acc*31 + h) % 1000000007, acc0 = 0. Each h must
    * already be reduced mod M so acc*31 + h stays well inside a long.
    * DuckDB: list_reduce(list_prepend(0, hs), (a,b) -> (a*31+b) % M).
    */
  val RollMod = 1000000007L
  def rollingHash(hashes: Column): Column =
    aggregate(hashes, lit(0L),
      (acc, h) => (acc * lit(31L) + h) % lit(RollMod))

  /** Dot product of two array<double> as an explicit left fold —
    * bit-identical to DuckDB's
    * list_reduce(list_prepend(0.0, [a[i]*b[i] ...]), (x,y) -> x+y).
    * Declarative on purpose: sessions loading GraftExtensions rewrite
    * this exact pattern to the codegen'd DotProductDbl kernel
    * (graft.plans.RewriteDotProduct) with identical semantics.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Sorted-set intersection cardinality (native two-pointer kernel);
    * inputs must be sort_array'd distinct long arrays.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SortedIntersectCountL(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Modal frequency of a sorted array<long> in one native pass. */
  def maxRunLength(sorted: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.MaxRunLengthL(
        org.apache.spark.sql.GraftSqlBridge.expression(sorted)))

  /** PQ codes of a vector against a FLAT codebook in one native pass
    * (see PqEncodeI for the exact parity contract with the HOF form).
    */
  def pqEncode(v: Column, cbFlat: Column, m: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqEncodeI(
        org.apache.spark.sql.GraftSqlBridge.expression(v),
        org.apache.spark.sql.GraftSqlBridge.expression(cbFlat), m))

  /** Uncovered positions of [1, n] under k-wide intervals at the given
    * SORTED starts, in one native merged-interval walk (O(m + n)).
    */
  def keptUncoveredPositions(starts: Column, n: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.KeptUncoveredPositionsI(
        org.apache.spark.sql.GraftSqlBridge.expression(starts),
        org.apache.spark.sql.GraftSqlBridge.expression(n), k))

  /** SimHash of a token-hash array in one native traversal. */
  def simhashBits(hashes: Column, bits: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SimHashBits(
        org.apache.spark.sql.GraftSqlBridge.expression(hashes), bits))

  /** Content-defined chunks of a word array in one native pass
    * (boundary after word e iff the k-word window ending at e hashes
    * to 0 mod divisor; hashP/·31-polynomial convention).
    */
  def cdcChunks(words: Column, k: Int, divisor: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CdcChunksS(
        org.apache.spark.sql.GraftSqlBridge.expression(words),
        k, divisor.toLong))

  /** Point estimate of a BIGINT key against a serialized
    * count-min sketch (the `count_min_sketch` aggregate's binary).
    */
  def cmsEstimate(sketch: Column, key: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CmsEstimateL(
        org.apache.spark.sql.GraftSqlBridge.expression(sketch),
        org.apache.spark.sql.GraftSqlBridge.expression(key)))

  /** Float32 embedding column widened to array<double> (exact). */
  def asDouble(emb: Column): Column = emb.cast("array<double>")

  /** Cosine similarity given precomputed norms — the formula shape
    * (dot / (normA * normB), norms as sqrt(selfDot)) must match the
    * oracle's exactly for bit-identical doubles.
    */
  def cosine(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)
}
