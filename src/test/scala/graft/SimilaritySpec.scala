package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
    (4L, Array(0.95f, 0.05f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("knnBrute: self excluded, nearest first, ranks contiguous") {
    val out = Similarity.knnBrute(emb, 1, 4)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(out.map(_._2).take(2) === Array(4L, 1L)) // closest to e0
    assert(out.map(_._4) === Array(1, 2, 3, 4))
    assert(out.forall(_._2 != 0L))
    val sims = out.map(_._3)
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("knnGraph: directed per-node top-k stays inside label blocks") {
    val out = Similarity.knnGraph(emb, k = 1)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    // label 0: 0↔1 are mutual nearest; 2's best is 1 (0.1 component)
    assert(out(0L) === 1L)
    assert(out(1L) === 0L)
    assert(out(2L) === 1L)
    // label 1: 3 and 4 are each other's only option (never cross-label)
    assert(out(3L) === 4L)
    assert(out(4L) === 3L)
    // every node has exactly one rank-1 edge
    assert(out.size === 5)
    // over-cap label blocks are skipped (label 0 has 3 vecs): only the
    // 2-vec label-1 block survives a cap of 2
    val capped = Similarity.knnGraph(emb, k = 1, maxBlock = 2)
      .as[(Long, Long, Double, Int)].collect().map(_._1).toSet
    assert(capped === Set(3L, 4L))
  }

  test("semanticNearDups: cell-blocked pairs, loud cap, " +
    "partitioning-independent") {
    // nCells = 1 puts every vector in cell 0: pairs = all-pairs ≥ tau
    val got = Similarity.semanticNearDups(emb, 0.9, nCells = 1)
      .as[(Int, Long, Long, Double)].collect()
    assert(got.map(p => (p._2, p._3)).toSet ===
      Set((0L, 1L), (0L, 4L), (1L, 4L)))
    assert(got.forall(p => p._1 === 0 && p._4 >= 0.9))
    // a 5-vector cell over maxBlock = 4 is skipped entirely
    assert(Similarity.semanticNearDups(emb, 0.9, nCells = 1, maxBlock = 4)
      .isEmpty)
    // singleton cells (every vector its own seed) produce no pairs:
    // cosine to the OWN centroid is exactly 1.0, the argmax
    assert(Similarity.semanticNearDups(emb, -1.0, nCells = 5).isEmpty)
    val rep = Similarity.semanticNearDups(emb.repartition(7), 0.9,
      nCells = 1).as[(Int, Long, Long, Double)].collect()
    assert(rep.toSet === got.toSet)
  }

  test("semanticDecontaminate: planted paraphrase leak flagged, " +
    "orthogonal batch docs clean, hot-cell cap drops guards loudly, " +
    "partitioning-independent") {
    // the leak: batch vec 1 is a small perturbation of the benchmark
    // vector (cos ≈ 0.95) — the paraphrase class shingle gates miss;
    // vecs 2/3 are orthogonal to it (cos 0)
    val batch = Seq(
      (1L, Array(0.95f, 0.3122499f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    def run(b: org.apache.spark.sql.DataFrame, cap: Int = 10000) =
      Similarity.semanticDecontaminate(b, bench, tau = 0.8,
        nCells = 1, nProbe = 1, maxBenchPerCell = cap)
        .as[(Long, Long, Option[Double], Boolean)].collect()
        .map(r => r._1 -> r).toMap
    val out = run(batch)
    assert(out.keySet === Set(1L, 2L, 3L)) // one verdict per batch doc
    // nCells = 1: everything shares the cell, so all three see the
    // benchmark as a candidate — only the leak crosses tau
    assert(out.values.forall(_._2 === 1L))
    assert(out(1L)._4 && out(1L)._3.get > 0.9)
    assert(!out(2L)._4 && !out(3L)._4)
    assert(out(2L)._3.get < 0.8 && out(3L)._3.get < 0.8)
    // hot-cell cap at 0: every probe dropped (loudly) — nothing is
    // flagged and every doc reports zero candidates, never a crash
    val capped = run(batch, cap = 0)
    assert(capped.values.forall(r => r._2 === 0L && !r._4 &&
      r._3.isEmpty))
    // partitioning-independence of the full compose
    assert(run(batch.repartition(7)) === out)
  }

  test("decontaminationRecall: a leak in an unprobed cell is missed " +
    "at budget 1 and caught at budget 2 (recall 0.5 -> 1.0, monotone); " +
    "full-coverage budget reaches 1.0") {
    // two orthogonal batch docs, each its own cell (nCells = 2 seeds
    // = the batch itself); ONE benchmark vector leaking into BOTH
    // (cos 0.89 to e2, 0.45 to e1 at tau 0.4) whose nearest centroid
    // is e2's cell — so budget 1 probes only e2's cell and misses the
    // e1 leak, budget 2 probes both and catches it
    val batch = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val bench = Seq((100L, Array(0.45f, 0.9f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.decontaminationRecall(batch, bench,
      tau = 0.4, nCells = 2, thresholds = Seq(1, 2))
      .orderBy("n_probe")
      .as[(Int, Long, Long, Option[Double])].collect().toSeq
    assert(rows === Seq(
      (1, 2L, 1L, Some(0.5)),
      (2, 2L, 2L, Some(1.0))))
    // full coverage: one cell means budget 1 already sees everything
    val full = Similarity.decontaminationRecall(batch, bench,
      tau = 0.4, nCells = 1, thresholds = Seq(1, 2))
      .orderBy("n_probe")
      .as[(Int, Long, Long, Option[Double])].collect().toSeq
    assert(full.forall(r => r._2 === 2L && r._3 === 2L &&
      r._4 === Some(1.0)))
    // recall is monotone in the budget by construction (min_pr
    // filter) — re-pinned on the real fixtures by the d33 gate
    assert(rows.map(_._4.get) === rows.map(_._4.get).sorted)
    // partitioning-independence of the dial
    assert(Similarity.decontaminationRecall(batch.repartition(7),
      bench, tau = 0.4, nCells = 2, thresholds = Seq(1, 2))
      .orderBy("n_probe")
      .as[(Int, Long, Long, Option[Double])].collect().toSeq === rows)
  }

  test("semanticKeep: the outermost member of a dup cluster survives, " +
    "skipped cells keep everything, partitioning-independent") {
    // nCells = 1: one cell, ≥0.9 pairs form the triangle {0,1,4};
    // 2 and 3 have no ≥τ neighbor
    val got = Similarity.semanticKeep(emb, 0.9, nCells = 1)
      .as[(Long, Int, Double, Long)].collect()
    assert(got.length === 5)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(2L)._4 === 1L && byId(3L)._4 === 1L)
    // exactly one of the triangle survives: its (censim, id) minimum
    // (keep-farthest-from-centroid, id tiebreak)
    val tri = Seq(0L, 1L, 4L).map(byId)
    val expectKeep = tri.minBy(r => (r._3, r._1))._1
    assert(tri.filter(_._4 === 1L).map(_._1) === Seq(expectKeep))
    // an over-cap cell is skipped entirely: everything kept, loudly
    assert(Similarity.semanticKeep(emb, 0.9, nCells = 1, maxBlock = 4)
      .filter(col("kept") === 0L).isEmpty)
    // singleton cells: no within-cell pairs, all kept at any tau
    assert(Similarity.semanticKeep(emb, -1.0, nCells = 5)
      .filter(col("kept") === 0L).isEmpty)
    val rep = Similarity.semanticKeep(emb.repartition(7), 0.9, nCells = 1)
      .as[(Long, Int, Double, Long)].collect()
    assert(rep.toSet === got.toSet)
  }

  test("annRecall: single-cell IVF is exact, singleton cells miss") {
    // nCells = 1 → IVF scores the whole corpus → recall 1.0
    val exact = Similarity.annRecall(emb, 1, 2, nCells = 1, nProbe = 1)
      .as[(Long, Long, Double)].collect()
    assert(exact === Array((0L, 2L, 1.0)))
    // singleton cells + nProbe = 1: the query probes only its own
    // cell (cosine to the own centroid is exactly 1.0), which holds
    // no other vector → zero hits, and the query row SURVIVES via
    // the left join from the exact side
    val miss = Similarity.annRecall(emb, 1, 2, nCells = 5, nProbe = 1)
      .as[(Long, Long, Double)].collect()
    assert(miss === Array((0L, 0L, 0.0)))
  }

  test("knnGraph and knnBinaryHamming are partitioning-independent") {
    val a1 = Similarity.knnGraph(emb, k = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    val a2 = Similarity.knnGraph(emb.repartition(7), k = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(a1 === a2 && a1.nonEmpty)
    val dim64 = emb.select(col("vec_id"),
      flatten(array_repeat(col("embedding"), 16)).as("embedding"),
      col("label"))
    val b1 = Similarity.knnBinaryHamming(dim64, 2, 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    val b2 = Similarity.knnBinaryHamming(dim64.repartition(7), 2, 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(b1 === b2 && b1.nonEmpty)
  }

  test("knnBinaryHamming ranks by sketch hamming distance") {
    val base = Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f)
    val flip4 = base.clone(); (0 until 4).foreach(i => flip4(i) = -1.0f)
    val e64 = Seq(
      (0L, base, 0), (1L, base.clone(), 0),     // identical → hamming 0
      (2L, flip4, 0),                           // 4 sign flips
      (3L, Array.fill(64)(-1.0f), 0))           // all negative → 32 flips
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnBinaryHamming(e64, nQueries = 1, k = 3)
      .orderBy("rank").as[(Long, Long, Long, Int)].collect().toSeq
    assert(out === Seq((0L, 1L, 0L, 1), (0L, 2L, 4L, 2), (0L, 3L, 32L, 3)))
  }

  test("knnBucketed only scores candidates sharing the sign bucket") {
    val out = Similarity.knnBucketed(emb, 1, 4)
      .as[(Long, Long, Double, Int)].collect()
    // query 0 has bucket 0b0001; vec 3 (negative x) is bucket 0 → excluded
    assert(!out.map(_._2).contains(3L))
    assert(out.map(_._2).toSet.subsetOf(Set(1L, 2L, 4L)))
  }

  test("IVF search: sound restriction of brute force, reasonable recall") {
    val real = table("embeddings")
    val brute = Similarity.knnBrute(real, 10, 1)
      .select("q_id", "sim").as[(Long, Double)].collect().toMap
    val ivf = Similarity.knnIvf(real, 10, 1, nCells = 8, nProbe = 4)
      .select("q_id", "sim").as[(Long, Double)].collect().toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, s) =>
      assert(s <= brute(q) + 1e-12, s"query $q: ivf beat exact")
    }
    // probing half the cells should recover the exact top-1 often
    val hits = ivf.count { case (q, s) => math.abs(s - brute(q)) < 1e-12 }
    assert(hits >= 3, s"IVF top-1 recall too low: $hits/10")
  }

  test("knnIvfDeterministic: sound restriction, partition-independent") {
    val real = table("embeddings")
    val brute = Similarity.knnBrute(real, 10, 1)
      .select("q_id", "sim").as[(Long, Double)].collect().toMap
    val det = Similarity.knnIvfDeterministic(real, 10, 1)
      .select("q_id", "nbr_id", "sim").as[(Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    assert(det.nonEmpty)
    det.foreach { case (q, _, s) =>
      assert(s <= brute(q) + 1e-12, s"query $q: ivf beat exact")
    }
    // the hash-seeded quantizer must give IDENTICAL results under any
    // input partitioning — that's the whole point of the oracle gate
    val again = Similarity.knnIvfDeterministic(real.repartition(13), 10, 1)
      .select("q_id", "nbr_id", "sim").as[(Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    assert(det.toSeq === again.toSeq)
  }

  // the codebook rank a vec_id gets: rank of hash60("pqseed|id")
  private def pqRank(ids: Seq[Long]): Map[Long, Int] = {
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pqseed|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    ids.sortBy(id => (h(id), id)).zipWithIndex.toMap
  }

  // 4 vectors whose subvectors are distinct in both halves, so each
  // encodes to its own codebook entry (squared-L2 0, no ties)
  private val pqEmb = (0 until 4).map { i =>
    (i.toLong, Array.tabulate(8)(j =>
      if (j == 0) (i + 1).toFloat
      else if (j == 7) (i + 1) * 2f else 0f), 0)
  }.toDF("vec_id", "embedding", "label")

  test("pqCodes: every vector encodes to its own codebook entry") {
    val rank = pqRank(0L until 4L)
    val codes = Similarity.pqCodes(pqEmb, m = 2, nCodes = 16, dim = 8)
      .as[(Long, Int, Int)].collect()
    assert(codes.length === 8) // 4 vectors × 2 subspaces
    codes.foreach { case (id, s, code) =>
      assert(code === rank(id), s"vec $id subspace $s")
    }
  }

  test("knnPqAdc: exact reconstruction when the corpus is its own codebook") {
    // every vector is a codeword → ADC's approximate dot is the exact
    // dot, so the ranking equals brute-force dot ranking
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      for (i <- a.indices) acc += a(i).toDouble * b(i).toDouble
      acc
    }
    val vecs = (0 until 4).map { i =>
      Array.tabulate(8)(j =>
        if (j == 0) (i + 1).toFloat else if (j == 7) (i + 1) * 2f else 0f)
    }
    val out = Similarity.knnPqAdc(pqEmb, nQueries = 2, k = 3,
      m = 2, nCodes = 16, dim = 8)
      .select("q_id", "nbr_id", "approx_dot")
      .as[(Long, Long, Double)].collect()
    out.foreach { case (q, n, approx) =>
      assert(math.abs(approx - dot(vecs(q.toInt), vecs(n.toInt))) < 1e-12,
        s"ADC($q,$n) should be the exact dot")
    }
  }

  test("annRecallIvfPq: one row per query, hits bounded by k") {
    val out = Similarity.annRecallIvfPq(table("embeddings"), 10, 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1) === (0L until 10L).toArray)
    assert(out.forall { case (_, h, r) =>
      h >= 0 && h <= 3 && r >= 0.0 && r <= 1.0 && r == h / 3.0 })
  }

  test("knnPqAdc on real embeddings: shape + partition independence") {
    val real = table("embeddings")
    val a = Similarity.knnPqAdc(real, 10, 3)
      .select("q_id", "nbr_id", "approx_dot", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(a.length === 30)
    assert(a.groupBy(_._1).forall(_._2.map(_._4).sorted.sameElements(1 to 3)))
    val b = Similarity.knnPqAdc(real.repartition(13), 10, 3)
      .select("q_id", "nbr_id", "approx_dot", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(a.toSeq === b.toSeq)
  }

  test("knnIvfPq: ADC scores agree with knnPqAdc, partition-independent") {
    val real = table("embeddings")
    // the full ADC ranking (k large enough to cover every candidate)
    // is the scoring universe: IVF-PQ must return the SAME approx_dot
    // for any (q, nbr) it keeps — the cell blocking only restricts
    // candidates, never changes a score
    val full = Similarity.knnPqAdc(real, 10, 10000)
      .select("q_id", "nbr_id", "approx_dot")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, d) => (q, n) -> d }.toMap
    val ivfpq = Similarity.knnIvfPq(real, 10, 3)
      .select("q_id", "nbr_id", "approx_dot", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(ivfpq.length === 30)
    assert(ivfpq.groupBy(_._1)
      .forall(_._2.map(_._4).sorted.sameElements(1 to 3)))
    ivfpq.foreach { case (q, n, d, _) =>
      assert(math.abs(d - full((q, n))) < 1e-12,
        s"IVF-PQ score for ($q,$n) diverged from the ADC universe")
    }
    val again = Similarity.knnIvfPq(real.repartition(13), 10, 3)
      .select("q_id", "nbr_id", "approx_dot", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(ivfpq.toSeq === again.toSeq)
  }

  test("knnIvfPqResidual: shape, partition independence, and the " +
      "residual lever not below the raw-PQ path at identical params") {
    val real = table("embeddings")
    val res = Similarity.knnIvfPqResidual(real, 10, 3)
      .select("q_id", "nbr_id", "approx_dot", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(res.length === 30)
    assert(res.groupBy(_._1)
      .forall(_._2.map(_._4).sorted.sameElements(1 to 3)))
    val again = Similarity.knnIvfPqResidual(real.repartition(13), 10, 3)
      .select("q_id", "nbr_id", "approx_dot", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(res.toSeq === again.toSeq)
    // the IVFADC residual claim, measured not argued: at identical
    // (nCells, nProbe, m, nCodes) the composed recall of the
    // residual-encoded path must not fall below the raw-vector path
    // (sf0.001 fixture: 0.167 vs 0.067; sf0.01: 0.200 vs 0.100 —
    // bounded gains are the expected shape on random embeddings,
    // which have no cluster structure for the centroid term to carry)
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall"))).first().getDouble(0)
    val raw = meanRecall(Similarity.annRecallIvfPq(real, 10, 3))
    val resid = meanRecall(Similarity.annRecallIvfPqResidual(real, 10, 3))
    info(f"composed mean recall@3: raw-PQ $raw%.3f, residual $resid%.3f")
    assert(resid >= raw,
      f"residual recall $resid%.3f fell below the raw-PQ path $raw%.3f")
  }

  test("knnIvfPqResidualPersisted: the parquet round trip is lossless, " +
      "and corrupting one persisted code flips the search output") {
    val real = table("embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "nbr_id", "approx_dot", "rank")
        .as[(Long, Long, Double, Int)].collect()
        .sortBy(r => (r._1, r._4)).toSeq
    val inMem = rows(Similarity.knnIvfPqResidual(real, 10, 3))
    val persisted = rows(Similarity.knnIvfPqResidualPersisted(real, 10, 3))
    // bit-identical including the IEEE approx_dot doubles: nothing in
    // the scoring path is re-derived on read
    assert(persisted === inMem)
    // corruption probe: the gate really reads the files — shift every
    // code of one result neighbor's persisted row and the search
    // output must change
    val (indexed, centArr, cbArr) =
      Similarity.ivfPqResidualIndex(real)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-s51-spec").toString
    indexed.write.parquet(s"$dir/index")
    val victim = inMem.head._2 // a vec_id that appears as a neighbor
    val corrupted = spark.read.parquet(s"$dir/index")
      .withColumn("codes",
        when(col("vec_id") === victim,
          transform(col("codes"), c => (c + 1) % 16))
          .otherwise(col("codes")))
    val prepared = real.select(col("vec_id"),
      graft.functions.Canon.asDouble(col("embedding")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.Canon.dot(col("v"), col("v"))))
    val broken = rows(Similarity.ivfPqResidualSearch(
      prepared, corrupted, centArr, cbArr, 10, 3))
    assert(broken !== inMem)
  }

  test("persistedIndexDir: two tiers in ONE session get tier-local " +
      "indexes (the path-blind-key regression)") {
    // a canonicalized LogicalRelation renders WITHOUT its path, so a
    // plan-only cache key collides across scale tiers — caught when a
    // multi-tier ScaleBench JVM served every tier from the first
    // tier's index. The key now includes Dataset.inputFiles; this
    // pins it: the persisted path must match the in-memory path on
    // BOTH tiers inside one session.
    def persisted(dir: String) = Similarity
      .knnIvfPqResidualPersisted(Tables.load(spark, dir, "embeddings"),
        10, 3)
      .select("q_id", "nbr_id", "approx_dot")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    def inMem(dir: String) = Similarity
      .knnIvfPqResidual(Tables.load(spark, dir, "embeddings"), 10, 3)
      .select("q_id", "nbr_id", "approx_dot")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(persisted(sf0001) === inMem(sf0001))
    assert(persisted("/root/testdata/sf0.01") ===
      inMem("/root/testdata/sf0.01"),
      "second tier in the same JVM answered from the first tier's index")
  }

  test("s51/s52 plan-only construction and sweep trigger ZERO index " +
      "writes; the first action builds and matches in-memory " +
      "(VERDICT r17 #2)") {
    val real = table("embeddings")
    val before = Similarity.registeredIndexDirsForTest
    // fresh registry keys: nCells=7 is used nowhere else in the suite
    val s51 = Similarity.knnIvfPqResidualPersisted(real, 10, 3, nCells = 7)
    val s52 = Similarity.knnIvfPqResidualIncremental(real, 10, 3,
      nCells = 7)
    // force exactly what PlanCheck.sweep forces per query: the static
    // executed plan string and both logical-plan flag classifiers
    Seq(s51, s52).foreach { df =>
      val qe = df.queryExecution
      graft.tools.PlanCheck.flagsOf(qe.executedPlan.toString)
      graft.tools.PlanCheck.rangeRedrawFlags(qe.optimizedPlan)
      graft.tools.PlanCheck.unpartitionedWindowFlags(qe.optimizedPlan)
    }
    val fresh = (Similarity.registeredIndexDirsForTest -- before).toSeq
    def filesUnder(d: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(d)).map(_.getPath)
    }
    assert(fresh.size === 2)
    assert(fresh.forall(filesUnder(_).isEmpty),
      s"plan-only sweep wrote: ${fresh.flatMap(filesUnder).mkString(",")}")
    // the first ACTION runs the deferred build and serves correctly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "nbr_id", "approx_dot")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
        .toSeq
    assert(rows(s51) ===
      rows(Similarity.knnIvfPqResidual(real, 10, 3, nCells = 7)))
    assert(fresh.exists(filesUnder(_).nonEmpty),
      "the action built no index — the gate stopped reading files")
  }

  test("persistedIndex: backing files overwritten IN PLACE (same path, " +
      "new bytes) key a FRESH build — the stale-index pin one level " +
      "down (ADVICE r17)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val work = Files.createTempDirectory("graft-stale-pin")
    val target = work.resolve("data.parquet")
    Files.copy(Paths.get(s"$sf0001/embeddings.parquet"), target)
    def corpus = spark.read.parquet(target.toString)
    def served() = Similarity
      .knnIvfPqResidualPersisted(corpus, 10, 3, nCells = 5)
      .select("q_id", "nbr_id", "approx_dot")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    def inMem() = Similarity
      .knnIvfPqResidual(corpus, 10, 3, nCells = 5)
      .select("q_id", "nbr_id", "approx_dot")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(served() === inMem())
    // overwrite IN PLACE: same file name, different content (reversed
    // embedding arrays), then nudge mtime past filesystem granularity
    val variantDir = work.resolve("variant").toString
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("embedding", reverse(col("embedding")))
      .coalesce(1).write.mode("overwrite").parquet(variantDir)
    val part = new java.io.File(variantDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 1234))
    // Spark's own shared FileStatusCache must be dropped for the data
    // read (a user mutating files in place owes Spark this refresh);
    // the registry key does NOT rely on it — inputFileStamps stats the
    // filesystem directly
    spark.catalog.refreshByPath(target.toString)
    assert(served() === inMem(),
      "same-path overwrite was served from the stale index — the " +
        "size+mtime key stamp is not working")
  }

  test("knnIvfPqResidualIncremental: the merged index serves delta " +
      "content the stale (pre-ingest) index cannot — strictly lower " +
      "stale recall against the full-corpus truth") {
    // the clustered generator, not the raw near-random fixture: the
    // strict-gap assertion needs true neighborhoods the approximate
    // path actually finds (the same sensitivity argument as the
    // clusteredEmbeddings recall-dial test — on random vectors both
    // paths score a recall tie and the gap is invisible)
    val real = Similarity.clusteredEmbeddings(table("embeddings"))
    val k = 3
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "nbr_id")
        .as[(Long, Long)].collect().toSet
    val merged = hits(Similarity.knnIvfPqResidualIncremental(real, 10, k))
    // the stale serve path: the SAME old-corpus index artifacts with
    // no delta ingest — built inline (the persisted build is
    // memoized; this mirrors its content exactly)
    val old = real.filter(col("vec_id") % 10 =!= 9)
    val (indexed, centArr, cbArr) = Similarity.ivfPqResidualIndex(old)
    val preparedAll = real.select(col("vec_id"),
        graft.functions.Canon.asDouble(col("embedding")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.Canon.dot(col("v"), col("v"))))
    val stale = hits(Similarity.ivfPqResidualSearch(
      preparedAll, indexed, centArr, cbArr, 10, k))
    // the merged index really contains the delta: no stale answer can
    // name a delta vector, the merged path must name at least one
    // (the fixture's 10% insert batch shares cells with the queries)
    assert(stale.forall(_._2 % 10 != 9L))
    assert(merged.exists(_._2 % 10 == 9L),
      "no delta vector surfaced in any merged-index answer — the " +
        "ingest appended nothing the search can see")
    // recall against the exact full-corpus truth: the stale index is
    // STRICTLY worse — every true neighbor in the insert batch is
    // structurally unreachable for it
    val truth = Similarity.knnBrute(real, 10, k)
      .select("q_id", "nbr_id").as[(Long, Long)].collect().toSet
    val mergedRecall = (merged & truth).size.toDouble / truth.size
    val staleRecall = (stale & truth).size.toDouble / truth.size
    info(f"recall@$k merged $mergedRecall%.3f, stale $staleRecall%.3f")
    assert(mergedRecall > staleRecall,
      f"stale recall $staleRecall%.3f not strictly below merged " +
        f"$mergedRecall%.3f — the delta ingest bought nothing")
  }

  test("knnIvfPqRerank: exact cosines on the shortlist, recall not " +
      "below the un-reranked path, shortlist containment") {
    val real = table("embeddings")
    val rr = Similarity.knnIvfPqRerank(real, 10, 3)
      .select("q_id", "nbr_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(rr.length === 30)
    assert(rr.groupBy(_._1)
      .forall(_._2.map(_._4).sorted.sameElements(1 to 3)))
    // every kept pair's sim is the EXACT cosine (the brute universe)
    val brute = Similarity.knnBrute(real, 10, 10000)
      .select("q_id", "nbr_id", "sim")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, s) => (q, n) -> s }.toMap
    rr.foreach { case (q, n, s, _) =>
      assert(math.abs(s - brute((q, n))) < 1e-12,
        s"rerank sim for ($q,$n) is not the exact cosine")
    }
    // re-ranking over a superset shortlist can only help: mean recall
    // must not fall below the un-reranked residual path (sf0.001:
    // 0.267 vs 0.167; sf0.01: 0.433 vs 0.200 — against s11's 0.60
    // IVF-cell ceiling)
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall"))).first().getDouble(0)
    val plain = meanRecall(Similarity.annRecallIvfPqResidual(real, 10, 3))
    val rerank = meanRecall(Similarity.annRecallIvfPqRerank(real, 10, 3))
    info(f"composed mean recall@3: residual $plain%.3f, re-ranked $rerank%.3f")
    assert(rerank >= plain,
      f"re-ranked recall $rerank%.3f fell below the shortlist path $plain%.3f")
  }

  test("annRecallProbeCurve: monotone in the probe budget, agrees " +
      "with the single-point s11 measurement at nProbe = 4") {
    val real = table("embeddings")
    val curve = Similarity.annRecallProbeCurve(real, 10, 3)
      .select("n_probe", "n_hit", "recall")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(curve.map(_._1) === Array(1, 2, 4, 8))
    // a bigger probe budget only ADDS candidates — recall cannot drop
    curve.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._3 >= lo._3,
        s"recall fell ${lo._3} -> ${hi._3} between nProbe ${lo._1} and ${hi._1}")
    }
    // the nProbe = 4 point IS s11's measurement — same centroids,
    // same probes, same top-k — so the curve and the gate must agree
    val s11mean = Similarity.annRecall(real, 10, 3)
      .agg(avg(col("recall"))).first().getDouble(0)
    val c4 = curve.find(_._1 == 4).get._3
    assert(math.abs(c4 - s11mean) < 1e-12,
      f"curve point $c4%.4f disagrees with s11 $s11mean%.4f at nProbe=4")
  }

  test("annRecallRerankCurve: monotone in the shortlist budget, " +
      "endpoints agree with the s19/s21 single-point gates") {
    val real = table("embeddings")
    val curve = Similarity.annRecallRerankCurve(real, 10, 3)
      .select("k_short", "n_hit", "recall")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(curve.map(_._1) === Array(3, 6, 9, 18))
    // a bigger shortlist only ADDS candidates — recall cannot drop
    curve.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._3 >= lo._3,
        s"recall fell ${lo._3} -> ${hi._3} between k' ${lo._1} and ${hi._1}")
    }
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall"))).first().getDouble(0)
    // k' = 3: re-ranking a 3-candidate set cannot change the SET, so
    // the curve point IS s19's un-reranked measurement
    val s19mean = meanRecall(Similarity.annRecallIvfPqResidual(real, 10, 3))
    assert(math.abs(curve.find(_._1 == 3).get._3 - s19mean) < 1e-12,
      "k'=3 curve point disagrees with the s19 gate")
    // k' = 9 is exactly the s21 configuration
    val s21mean = meanRecall(Similarity.annRecallIvfPqRerank(real, 10, 3))
    assert(math.abs(curve.find(_._1 == 9).get._3 - s21mean) < 1e-12,
      "k'=9 curve point disagrees with the s21 gate")
  }

  test("clusteredEmbeddings: deterministic, clustered, and the recall " +
    "dials are HIGH on it (the sensitivity contract)") {
    val base = table("embeddings")
    val cl = Similarity.clusteredEmbeddings(base)
    // deterministic: two evaluations agree exactly
    val a = cl.orderBy("vec_id").as[(Long, Int, Seq[Double])].collect()
    val b = Similarity.clusteredEmbeddings(base)
      .orderBy("vec_id").as[(Long, Int, Seq[Double])].collect()
    assert(a === b)
    assert(a.forall(_._3.length === 64))
    // same-cluster cosine sits well above the cross-cluster band
    // (~0.87 vs ~0.1 at noiseScale = 20): the cluster IS the
    // neighbor set
    val clustered = cl.select(col("vec_id"),
      (graft.functions.Canon.hash60(concat(lit("gm|"), col("vec_id")))
        % 128).as("c"))
      .as[(Long, Long)].collect().toMap
    val sims = Similarity.knnBrute(cl, 5, 3)
      .select(col("q_id"), col("nbr_id"), col("sim"))
      .as[(Long, Long, Double)].collect()
    sims.foreach { case (q, n, s) =>
      if (clustered(q) == clustered(n)) assert(s > 0.6,
        s"same-cluster pair ($q,$n) sim $s")
    }
    // the sensitivity contract (the s24/s25 floors, SURVEY §8.2):
    // measured 0.733 residual / 1.000 re-ranked at sf0.001 — a 0.05
    // regression in either path is unambiguous here, unlike on the
    // near-uniform driver embeddings
    val res = Similarity.annRecallIvfPqResidual(cl, 10, 3)
      .agg(avg(col("recall"))).as[Double].head()
    val rr = Similarity.annRecallIvfPqRerank(cl, 10, 3)
      .agg(avg(col("recall"))).as[Double].head()
    assert(res >= 0.7, s"clustered residual recall $res below the floor")
    assert(rr >= 0.9, s"clustered re-rank recall $rr below the floor")
    assert(rr >= res - 1e-9, "exact re-ranking must not lose recall")
  }

  test("knnSq8: reconstructed cosines track exact, recall near 1, " +
    "partition-independent") {
    val base = table("embeddings")
    val sq8 = Similarity.knnSq8(base, 10, 3)
      .select(col("q_id"), col("nbr_id"), col("sim"))
      .as[(Long, Long, Double)].collect()
    // per-pair: the int8 round-trip moves a cosine by at most ~1/127
    // per normalized component — in aggregate far under 0.05
    val exact = Similarity.knnBrute(base, 10, 500)
      .select(col("q_id"), col("nbr_id"), col("sim"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    sq8.foreach { case (q, n, s) =>
      assert(math.abs(s - exact((q, n))) <= 0.05,
        s"pair ($q,$n): sq8 $s vs exact ${exact((q, n))}")
    }
    val recall = Similarity.annRecallSq8(base, 10, 3)
      .agg(avg(col("recall"))).as[Double].head()
    assert(recall >= 0.8, s"sq8 recall $recall below the floor")
    val rep = Similarity.knnSq8(base.repartition(7), 10, 3)
      .select(col("q_id"), col("nbr_id"))
      .as[(Long, Long)].collect().sorted
    assert(rep === sq8.map(r => (r._1, r._2)).sorted)
  }

  test("quantizeInt8: bounded reconstruction error, zero-vector safe") {
    val emb = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f), 0),
      (1L, Array(0.0f, 0.0f, 0.0f), 0) // all-zero: scale 0, no NaN
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.quantizeInt8(emb)
      .orderBy("vec_id")
      .select("vec_id", "scale", "q_csv")
      .as[(Long, Double, String)].collect()
    assert(out(1) === ((1L, 0.0, "0,0,0")))
    val (_, scale, csv) = out(0)
    assert(scale === 1.0)
    val q = csv.split(",").map(_.toLong)
    assert(q.toSeq === Seq(64L, -127L, 32L)) // floor(x·127+0.5)
    // dequantized error ≤ half a quantization step per component
    val orig = Seq(0.5, -1.0, 0.25)
    q.zip(orig).foreach { case (qi, x) =>
      assert(math.abs(qi * scale / 127.0 - x) <= scale / 254.0 + 1e-12)
    }
  }

  test("bucketed results are a sound restriction of brute force") {
    val real = table("embeddings")
    val brute = Similarity.knnBrute(real, 5, 1)
      .select("q_id", "sim").as[(Long, Double)].collect().toMap
    val bucketed = Similarity.knnBucketed(real, 5, 1)
      .select("q_id", "sim").as[(Long, Double)].collect().toMap
    assert(bucketed.nonEmpty)
    // the bucket restricts the candidate set, so its best sim can
    // never beat the exact top-1 (and equals it when recall hits)
    bucketed.foreach { case (q, s) =>
      assert(s <= brute(q) + 1e-12, s"query $q: bucketed $s > brute")
    }
  }
  test("rangeSearch returns exactly the at-least-tau neighbor set") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),     // sim 1.0
      (2L, Array(0.0f, 1.0f), 0),     // sim 0.0
      (3L, Array(0.7f, 0.7f), 1)      // sim ~0.7071
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.rangeSearch(emb, 1, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._2).toSet === Set(1L, 3L))
    assert(out.forall(_._3 >= 0.5))
    // tau above every off-axis sim: only the exact duplicate remains
    assert(Similarity.rangeSearch(emb, 1, 0.99)
      .as[(Long, Long, Double)].collect().map(_._2).toSet === Set(1L))
  }
  test("centroidAssign: argmax centroid, deterministic tie, agree flag") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 0),   // label-0 outlier: nearer centroid 1
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidAssign(emb)
      .select("vec_id", "true_label", "pred_label", "agree")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._3).toMap ===
      Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(out.filter(!_._4).map(_._1).toSeq === Seq(2L))
  }

  test("normHistogram: known norms land in their buckets") {
    val emb = Seq(
      (0L, Array(3.0f, 4.0f), 0),   // norm 5.0  → bucket 80
      (1L, Array(0.0f, 0.0f), 0),   // zero      → bucket 0
      (2L, Array(1.0f, 0.0f), 0),   // norm 1.0  → bucket 16
      (3L, Array(0.0f, 1.0f), 0)    // norm 1.0  → bucket 16
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.normHistogram(emb)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(0L -> 1L, 16L -> 2L, 80L -> 1L))
  }

  test("truncatedRecall: prefix-carried structure keeps recall 1, " +
    "tail-carried structure loses it") {
    // structure lives entirely in the first 2 dims → truncation to 2
    // dims is lossless
    val prefix = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val r1 = Similarity.truncatedRecall(prefix, 1, 1, dims = 2)
      .as[(Long, Long, Double)].collect()
    assert(r1 === Array((0L, 1L, 1.0)))
    // the true neighbor differs only in the TAIL dims → truncated
    // search ties the candidates and picks the wrong id
    val tail = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, -1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.9f, 0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val r2 = Similarity.truncatedRecall(tail, 1, 1, dims = 2)
      .as[(Long, Long, Double)].collect()
    assert(r2 === Array((0L, 0L, 0.0)))
  }

  test("nnDescent: two-block seed + local join recover the " +
    "cross-label edges knnGraph cannot represent") {
    // label-only graph: 4's best option is its label-mate 3
    // (opposite direction, cosine ≈ −1)
    val blocked = Similarity.knnGraph(emb, k = 1)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(blocked(4L) === 3L)
    // descent: the centroid-cell block {0,1,4} bridges the labels and
    // the exact re-rank lands every vector on its true best neighbor
    val out = Similarity.nnDescent(emb, k = 1, rounds = 1)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out === Map(0L -> 4L, 1L -> 4L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
    // partitioning must not change the graph
    val out2 = Similarity.nnDescent(emb.repartition(7), k = 1, rounds = 1)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out2 === out)
  }

  test("nnDescentRecall: descent lifts the query's recall@1 from 0 " +
    "to 1 on the cross-label fixture") {
    // query subset vec_id % 50 == 0 → vector 0; its exact top-1 is
    // the cross-label vector 4
    val out = Similarity.nnDescentRecall(emb, k = 1, rounds = 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("seed") === ((1L, 0L, 0.0)))
    assert(out("descended") === ((1L, 1L, 1.0)))
  }

  test("graphBeamSearch: finds the cross-label true neighbor on the " +
    "tiny fixture; partition-independent; ranks contiguous") {
    // query subset vec_id % 50 == 0 → vector 0; true top-1 is the
    // cross-label vector 4 (cos ≈ 0.9996) — reachable only through
    // graph edges, since the entry set is hash-ordered, not geometric
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.graphBeamSearch(df, k = 2, beam = 3, rounds = 2,
          graphK = 1, descentRounds = 1)
        .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    val out = run(emb)
    assert(out.map(r => (r._1, r._2, r._4)).toSeq
      === Seq((0L, 4L, 1), (0L, 1L, 2)))
    // the walk's answer IS the exact brute-force answer here
    val brute = Similarity.knnBrute(emb, 1, 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(out.map(r => (r._1, r._2, r._4)).toSeq
      === brute.map(r => (r._1, r._2, r._4)).toSeq)
    // physical partitioning must not change the search result
    assert(run(emb.repartition(7)).toSeq === out.toSeq)
  }

  /** The Spark jobs `body` starts, counted by job group (graft.Par
    * branches inherit it) — the instrument behind `tools.Main time`.
    */
  private def jobsOf(body: => Unit): Int =
    graft.tools.Main.timeJobs(spark, "similarity-jobs")(body)._2

  test("graphBeamSearch and graphBeamRecall start a fixed number of " +
    "Spark jobs: every pin and overlapped branch of the chain is " +
    "counted") {
    val search = jobsOf(Similarity.graphBeamSearch(emb, k = 2, beam = 3,
      rounds = 2, graphK = 1, descentRounds = 1).collect())
    val recall = jobsOf(Similarity.graphBeamRecall(emb, k = 1, beam = 2,
      rounds = 2, graphK = 1, descentRounds = 1).collect())
    assert(search === 57)
    assert(recall === 71)
  }

  test("graphPqBeamSearch: with the corpus as its own codebook the " +
    "PQ walk matches the exact walk and the brute truth; " +
    "partition-independent") {
    // nCodes ≥ |corpus| makes every subvector its own (fixed-point
    // quantized) codebook entry, so ADC ordering matches exact
    // ordering on this fixture's well-separated cosines — the s44
    // answer must equal s33's, which equals brute force here
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.graphPqBeamSearch(df, k = 2, beam = 3, rounds = 2,
          graphK = 1, descentRounds = 1, m = 2, nCodes = 8, dim = 4)
        .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    val out = run(emb)
    val brute = Similarity.knnBrute(emb, 1, 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    // exact sims on the re-ranked output equal the brute answer
    assert(out.toSeq === brute.toSeq)
    assert(run(emb.repartition(7)).toSeq === out.toSeq)
  }

  test("graphPqBeamRecall: pq_beam matches the exact beam when codes " +
    "are lossless on the fixture") {
    val out = Similarity.graphPqBeamRecall(emb, k = 1, beam = 2,
        rounds = 2, graphK = 1, descentRounds = 1, m = 2, nCodes = 8,
        dim = 4)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("beam") === ((1L, 1L, 1.0)))
    assert(out("pq_beam") === ((1L, 1L, 1.0)))
  }

  test("graphBeamRecall: beam dominates the entry frontier; entry row " +
    "prices the starting points alone") {
    val out = Similarity.graphBeamRecall(emb, k = 1, beam = 2,
        rounds = 2, graphK = 1, descentRounds = 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("beam") === ((1L, 1L, 1.0)))
    // frontier monotonicity: the searched recall can never be below
    // the entry frontier's (the union keeps the best-so-far)
    assert(out("beam")._3 >= out("entry")._3)
  }

  test("hierBeamSearch: the ⌊√n⌋ pilot ladder reaches the brute " +
    "answer on the tiny fixture; partition-independent") {
    // n = 5 → 2 pilots (earliest in md5 order); level-1 top-beam
    // seeds the same walk as s33, which covers the 5-vector corpus
    // within 2 rounds — the output must equal brute force exactly
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.hierBeamSearch(df, k = 2, beam = 3, rounds = 2,
          graphK = 1, descentRounds = 1)
        .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    val out = run(emb)
    val brute = Similarity.knnBrute(emb, 1, 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(out.map(r => (r._1, r._2, r._4)).toSeq
      === brute.map(r => (r._1, r._2, r._4)).toSeq)
    assert(run(emb.repartition(7)).toSeq === out.toSeq)
  }

  test("hierBeamRecall: walked recall dominates the pilot frontier " +
    "(frontier monotonicity holds for per-query entries too)") {
    val out = Similarity.hierBeamRecall(emb, k = 1, beam = 2,
        rounds = 2, graphK = 1, descentRounds = 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("beam") === ((1L, 1L, 1.0)))
    assert(out("beam")._3 >= out("entry")._3)
  }

  test("beamRoundsCurve: recall is monotone in rounds (frontier " +
    "union keeps the best-so-far) and saturates at the brute answer") {
    val out = Similarity.beamRoundsCurve(emb, k = 1, beam = 2,
        graphK = 1, descentRounds = 1, cuts = Seq(1, 2, 3))
      .as[(Long, Long, Long, Double)].collect()
      .sortBy(_._1).map(r => r._1 -> r._4)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    // monotone: each extra round can only add candidates
    assert(out.sliding(2).forall { case Array(a, b) => b._2 >= a._2 })
    // the 5-vector corpus is fully explored well within 3 rounds
    assert(out.last._2 === 1.0)
  }

  // incremental fixture: old corpus = emb's five vectors (ids 0–4),
  // insert batch = ids 9 and 19 (% 10 == 9). Vector 9 lands right on
  // vector 0's direction (closer than 0's old best, vector 4);
  // vector 19 lands in the y-axis direction next to vector 2.
  private val embIns = (Seq(
    (9L, Array(0.99f, 0.005f, 0.0f, 0.0f), 0),
    (19L, Array(0.05f, 0.95f, 0.0f, 0.0f), 0)
  ).toDF("vec_id", "embedding", "label")).unionByName(emb)

  test("incrementalGraphInsert: exact forward edges when the walk " +
    "covers the old corpus; reverse patch makes new content " +
    "reachable; partition-independent") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.incrementalGraphInsert(df, k = 1, beam = 5,
          rounds = 2, descentRounds = 1)
        .as[(Long, Long, Double, Int)].collect()
        .map(r => r._1 -> r._2).toMap
    val out = run(embIns)
    // with beam ≥ |old| the walk scores every old vector, so each new
    // node's forward edge IS its exact nearest old neighbor
    assert(out(9L) === 0L)
    assert(out(19L) === 2L)
    // the reverse patch: 0's old best was 4 (cos ≈ 0.9986); the new
    // arrival 9 (cos ≈ 0.99999) replaces it. 2's old best was a
    // label-mate at cos ≈ 0.11; 19 (cos ≈ 0.9986) replaces it — new
    // content is reachable from old nodes, the FreshDiskANN property
    assert(out(0L) === 9L)
    assert(out(2L) === 19L)
    // every node (5 old + 2 new) has exactly k = 1 edge
    assert(out.size === 7)
    assert(run(embIns.repartition(7)) === out)
  }

  test("incrementalGraphRecall: the patched old node sees its NEW " +
    "true neighbor (recall 1 via the reverse patch alone)") {
    // dial query: 0 (old, % 50 == 0) — its true top-1 over the FULL
    // corpus is the new arrival 9, reachable ONLY through the patch;
    // no % 50 == 49 ids exist in the fixture, so the new row is empty
    val out = Similarity.incrementalGraphRecall(embIns, k = 1,
        beam = 5, rounds = 2, descentRounds = 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("old_nodes") === ((1L, 1L, 1.0)))
    assert(out("new_nodes")._1 === 0L) // no dial-new ids in fixture
  }

  test("centroidDrift: orthogonal halves measure √2, identical " +
    "halves measure 0; negative components survive the floor division") {
    val drift = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),  // even → half A
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),  // odd  → half B
      (2L, Array(-0.5f, 0.5f, 0.0f, 0.0f), 1),
      (3L, Array(-0.5f, 0.5f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.centroidDrift(df)
        .as[(Int, Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val out = run(drift)
    assert(out(0) ===
      ((1L, 1L, 2000000000000L, math.sqrt(2000000000000.0) / 1000000)))
    assert(out(1)._3 === 0L && out(1)._4 === 0.0)
    assert(run(drift.repartition(5)) === out)
  }

  test("mmrSelect: second pick trades relevance for novelty (the " +
    "near-copy of the top hit drops to third); partition-independent") {
    // query 0 = x̂; candidates: 10 and 11 are near-copies along x
    // (rel ≈ 0.995 / 0.993, mutual sim ≈ 0.9998), 12 is diverse at
    // rel 0.6. Pure relevance ranks (10, 11, 12); MMR keeps 10, then
    // prefers 12 (0.5·(0.6 − 0.597) > 0.5·(0.993 − 0.9998)), then 11.
    val mmrEmb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (10L, Array(1.0f, 0.10f, 0.0f, 0.0f), 0),
      (11L, Array(1.0f, 0.12f, 0.0f, 0.0f), 0),
      (12L, Array(0.6f, 0.0f, 0.8f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.mmrSelect(df, nQueries = 1, kCand = 3)
        .orderBy("sel_rank")
        .as[(Long, Long, Long, Double, Double)].collect()
    val out = run(mmrEmb)
    assert(out.map(_._3) === Array(10L, 12L, 11L))
    assert(out(0)._5 === out(0)._4) // first pick scores pure relevance
    assert(out(1)._5 > 0.0 && out(2)._5 < 0.0)
    assert(run(mmrEmb.repartition(5)) === out)
  }

  // query 0 targets label 0 (0 % 2); ids 1–4 are near-identical
  // wrong-label vectors that dominate any UNFILTERED ranking; 5 and 6
  // are the true filtered answers at cosine 0.8 / 0.6.
  private val femb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.01f, 0.0f, 0.0f), 1),
    (2L, Array(0.9f, 0.02f, 0.0f, 0.0f), 1),
    (3L, Array(0.9f, 0.03f, 0.0f, 0.0f), 1),
    (4L, Array(0.9f, 0.04f, 0.0f, 0.0f), 1),
    (5L, Array(0.8f, 0.6f, 0.0f, 0.0f), 0),
    (6L, Array(0.6f, 0.8f, 0.0f, 0.0f), 0)
  ).toDF("vec_id", "embedding", "label")

  test("filteredIvfSearch: predicate-restricted top-k, exact under " +
    "full probe, partition-independent") {
    val out = Similarity.filteredIvfSearch(femb, 1, 2, nCells = 1,
      nProbe = 1, nLabels = 2)
      .orderBy("rank")
      .select("q_id", "target_label", "nbr_id", "rank")
      .as[(Long, Long, Long, Int)].collect()
    // nCells = 1 probes the whole corpus: the filtered top-k is the
    // exact filtered answer, and the four 0.999-cosine label-1
    // vectors never appear
    assert(out === Array((0L, 0L, 5L, 1), (0L, 0L, 6L, 2)))
    val re = Similarity.filteredIvfSearch(femb.repartition(7), 1, 2,
      nCells = 1, nProbe = 1, nLabels = 2)
      .select("q_id", "nbr_id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(re === Set((0L, 5L, 1), (0L, 6L, 2)))
  }

  test("filteredSearchRecall: pre-filter exact under full probe; " +
    "post-filter starves when the unfiltered top-k is wrong-label") {
    val rows = Similarity.filteredSearchRecall(femb, 1, 2, nCells = 1,
      nProbe = 1, expand = 2, nLabels = 2)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows("prefilter") === (("prefilter", 1L, 2L, 2L, 1.0)))
    // the unfiltered top-(expand·k) is exactly the four label-1
    // vectors; the predicate then removes every row — the starvation
    // n_found exists to price
    assert(rows("postfilter") === (("postfilter", 1L, 0L, 0L, 0.0)))
  }

  test("filteredStrategyCurve: post-filter fill monotone in " +
    "selectivity, never above pre-filter fill, exact at full probe") {
    val rows = Similarity.filteredStrategyCurve(femb, 1, 2,
      nCells = 1, nProbe = 1, expand = 2, thresholds = Seq(0, 1))
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // thr 0 (label ≤ 0): truth {5,6}; full probe makes pre exact;
    // post's unfiltered top-4 is the wrong-label flock → empty
    assert(rows((1L, "prefilter")) === ((1L, "prefilter", 2L, 2L, 1.0)))
    assert(rows((1L, "postfilter")) === ((1L, "postfilter", 0L, 0L, 0.0)))
    // thr 1 (everything): truth = unfiltered top-2 = {1,2}; both
    // strategies agree — the selectivity where post-filter is fine
    assert(rows((2L, "prefilter")) === ((2L, "prefilter", 2L, 2L, 1.0)))
    assert(rows((2L, "postfilter")) === ((2L, "postfilter", 2L, 2L, 1.0)))
    // the monotone-fill theorems the scaladoc claims
    for (v <- Seq("prefilter", "postfilter"))
      assert(rows((1L, v))._3 <= rows((2L, v))._3)
    for (s <- Seq(1L, 2L))
      assert(rows((s, "postfilter"))._3 <= rows((s, "prefilter"))._3)
  }

  test("topKAgg: fused dedup+rank+cut equals distinct + row_number " +
    "window on duplicated scored pairs with score ties (the r21 " +
    "round-fusion equivalence)") {
    import org.apache.spark.sql.expressions.Window
    // duplicates carry bit-identical scores (the producers' invariant);
    // ties across DIFFERENT ids exercise the (score DESC, id ASC) order
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 10L, 0.9), (1L, 11L, 0.9), (1L, 12L, 0.5),
      (1L, 13L, 0.5), (1L, 14L, 0.1),
      (2L, 20L, 0.0), (2L, 21L, -0.5), (2L, 21L, -0.5), (2L, 22L, 0.7)
    ).toDF("q_id", "cand_id", "sim")
    val got = Similarity.topKAgg(scored, "q_id", "cand_id", "sim", 3)
      .as[(Long, Long, Double)].collect().toSet
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    val want = scored.distinct()
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= 3).drop("_rk")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(got === Set((1L, 10L, 0.9), (1L, 11L, 0.9), (1L, 12L, 0.5),
      (2L, 22L, 0.7), (2L, 20L, 0.0), (2L, 21L, -0.5)))
  }

  test("topK equals a reference row_number window filter, with score " +
    "ties broken on id and k past the group size") {
    import org.apache.spark.sql.expressions.Window
    val scored = Seq(
      (1L, 12L, 0.5), (1L, 10L, 0.9), (1L, 11L, 0.9), (1L, 13L, 0.5),
      (1L, 14L, 0.1), (2L, 21L, 0.7), (2L, 20L, 0.7)
    ).toDF("q_id", "nbr_id", "sim")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("nbr_id").asc)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    for (k <- Seq(1, 3, 10)) {
      val got = Similarity.topK(scored, k, "rk")(col("q_id"))(
        col("sim").desc, col("nbr_id").asc)
      val want = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
      assert(got.schema === want.schema)
      assert(rows(got) === rows(want), s"k=$k")
    }
    val top3 = rows(Similarity.topK(scored, 3, "rk")(col("q_id"))(
      col("sim").desc, col("nbr_id").asc))
    // the 0.9 tie ranks 10 before 11, the 0.5 tie keeps 12 over 13
    assert(top3.filter(_._1 == 1L).map(r => r._2 -> r._4) ===
      Set(10L -> 1, 11L -> 2, 12L -> 3))
    // a group smaller than k is kept whole
    assert(top3.filter(_._1 == 2L).map(r => r._2 -> r._4) ===
      Set(20L -> 1, 21L -> 2))
  }

  test("recallVsExact: zero-hit query, query with fewer than k exact " +
    "rows, and a two-value curve grouping") {
    // q1 has 3 exact pairs, q2 has 2 and none found, q3 has only 1
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L),
      (3L, 30L)).toDF("q_id", "nbr_id")
    val approx = Seq((1L, 10L, 0.9), (1L, 12L, 0.8), (1L, 99L, 0.7),
      (2L, 22L, 0.9), (2L, 23L, 0.8), (3L, 30L, 0.9))
      .toDF("q_id", "nbr_id", "sim")
    val perQ = Similarity.recallVsExact(exact, approx, Seq("q_id"))
    assert(perQ.columns.toSeq === Seq("q_id", "n_hit", "recall"))
    assert(perQ.as[(Long, Long, Double)].collect().sortBy(_._1).toSeq ===
      Seq((1L, 2L, 2.0 / 3), (2L, 0L, 0.0), (3L, 1L, 1.0)))
    // curve: every exact pair at both budgets, pooled per budget
    val exactTh = exact.crossJoin(Seq(1, 2).toDF("n_probe"))
    val approxTh = Seq((1, 1L, 10L), (2, 1L, 10L), (2, 1L, 12L),
      (2, 2L, 20L), (2, 3L, 30L)).toDF("n_probe", "q_id", "nbr_id")
    val curve = Similarity.recallVsExact(exactTh, approxTh, Seq("n_probe"))
    assert(curve.columns.toSeq === Seq("n_probe", "n_hit", "recall"))
    assert(curve.as[(Int, Long, Double)].collect().sortBy(_._1).toSeq ===
      Seq((1, 1L, 1.0 / 6), (2, 4L, 4.0 / 6)))
  }

  test("sampledRecall: an empty node class reads 0.0, not an ANSI " +
    "divide-by-zero") {
    val truth = Seq((0L, 1L), (0L, 2L), (50L, 3L), (50L, 4L))
      .toDF("vec_id", "nbr_id")
    val found = Seq((0L, 1L), (50L, 3L), (50L, 4L), (7L, 8L))
      .toDF("vec_id", "nbr_id")
    def nQ(ids: Seq[Long]) = ids.toDF("vec_id")
      .select(countDistinct(col("vec_id")).as("n_queries"))
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val empty = Similarity.sampledRecall(
        truth.filter(col("vec_id") === 49L), found, nQ(Nil), 2)
      assert(empty.columns.toSeq === Seq("n_queries", "n_hits", "recall"))
      assert(empty.as[(Long, Long, Double)].collect().toSeq ===
        Seq((0L, 0L, 0.0)))
      val both = Similarity.sampledRecall(truth, found, nQ(Seq(0L, 50L)), 2)
      assert(both.as[(Long, Long, Double)].collect().toSeq ===
        Seq((2L, 3L, 0.75)))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
