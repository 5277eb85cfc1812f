package graft

import org.apache.spark.sql.functions._
import graft.text.Similarity

/** Similarity-search correctness: brute-force cosine is the ground
  * truth; the LSH-bucketed variant is measured against it for recall.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def vecs = {
    val rng = new scala.util.Random(1)
    (0 until 200).map(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("cosine: identical vectors -> 1.0, orthogonal -> 0.0") {
    val df = Seq((Seq(1f, 0f), Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b", "c")
    val (same, orth) = df.select(
      Similarity.cosine(col("a"), col("b")), Similarity.cosine(col("a"), col("c")))
      .as[(Double, Double)].head()
    assert(math.abs(same - 1.0) < 1e-12 && math.abs(orth) < 1e-12)
  }

  test("brute-force top-k: query vector's own copy ranks first") {
    val query = vecs.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val top = Similarity.bruteForceTopK(vecs, query, 5)
      .select("vec_id").as[Long].collect()
    assert(top.head === 0L)
  }

  test("LSH bucket assignment is deterministic and bounded") {
    val b = vecs.select(Similarity.lshBucket(col("embedding"), 4, dim).as("b"))
      .agg(min("b"), max("b")).as[(Int, Int)].head()
    assert(b._1 >= 0 && b._2 < 16)
  }

  test("LSH top-k achieves nontrivial recall vs brute force") {
    val query = vecs.filter(col("vec_id") === 7).select(col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, query, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.lshTopK(vecs, query, nPlanes = 2, dim = dim)
      .select("vec_id").as[Long].collect().toSet
    // 2 planes -> 4 buckets -> ~50 of 200 vectors scanned; the query's own
    // bucket must contain the query vector itself and some true neighbors
    assert(approx.contains(7L))
    assert((exact intersect approx).size >= 3)
  }

  test("multi-probe LSH: 1-bit-flip probing never loses recall vs single bucket") {
    val query = vecs.filter(col("vec_id") === 7).select(col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, query, 10)
      .select("vec_id").as[Long].collect().toSet
    val single = Similarity.lshTopK(vecs, query, nPlanes = 4, dim = dim)
      .select("vec_id").as[Long].collect().toSet
    val multi = Similarity.lshTopK(vecs, query, nPlanes = 4, dim = dim, probeHamming = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(multi.contains(7L), "query's own vector is in its own bucket")
    // single's candidate set is a subset of multi's, and a displaced
    // true neighbor implies a globally-better candidate took its slot —
    // so recall is monotone in probeHamming
    assert((exact intersect multi).size >= (exact intersect single).size)
  }

  test("IVF: assignment covers the corpus; probed top-k achieves recall") {
    val trained = Similarity.ivfTrain(vecs)
    val assigned = Similarity.ivfAssignWith(vecs, trained)
    val centroids = trained.toDF("centroid_id", "cvec")
    assert(assigned.count() === 200)
    assert(assigned.select("centroid_id").distinct().count() <= 8)
    val query = vecs.filter(col("vec_id") === 11).select(col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, query, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.ivfTopK(assigned, centroids, query)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.contains(11L), "query's own vector must be found")
    assert((exact intersect approx).size >= 3,
      s"IVF recall too low: ${(exact intersect approx).size}/10")
  }

  test("cosine near-dups: planted pair found under multiple hyperplane seeds") {
    // round 2's single AND-band passed its planted-pair test only because
    // the seeded hyperplanes happened to cooperate; banded OR-amplification
    // must find the pair regardless of seed (VERDICT r2 #1)
    val rng = new scala.util.Random(17)
    val base = Seq.fill(dim)(rng.nextGaussian().toFloat)
    val jitter = base.map(x => x + 0.01f * rng.nextGaussian().toFloat)
    val planted = ((0 until 60).map(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian().toFloat))) ++
      Seq((100L, base), (101L, jitter))).toDF("vec_id", "embedding")
    for (seed <- Seq(1L, 0xBEEFL, 0x9E3779B9L)) {
      val pairs = Similarity.cosineNearDups(planted, threshold = 0.9,
          bands = 8, planesPerBand = 2, dim = dim, seed = seed)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      assert(pairs.contains((100L, 101L)),
        s"planted pair missed under seed $seed: ${pairs.mkString(",")}")
    }
  }

  test("cosine near-dups at a low threshold equal the exact all-pairs result") {
    // the q46 oracle argument: with bands chosen so P(miss) < 1e-9 at the
    // threshold, banded LSH + exact-cosine verify IS the exact result
    val exact = vecs.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .crossJoin(vecs.select(col("vec_id").as("id_b"), col("embedding").as("v_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cos_sim") >= 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDups(vecs, threshold = 0.35,
        bands = 140, planesPerBand = 4, dim = dim)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain true pairs at 0.35")
    assert(lsh === exact, s"missed: ${(exact diff lsh).mkString(",")}; " +
      s"extra: ${(lsh diff exact).mkString(",")}")
  }

  test("blocked all-pairs kernel equals the exact cross-join result") {
    // tile decomposition must see every pair exactly once: diagonal
    // tiles (upper triangle) + off-diagonal tiles (full cross), with
    // output ids normalized to id_a < id_b regardless of block order
    val exact = vecs.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .crossJoin(vecs.select(col("vec_id").as("id_b"), col("embedding").as("v_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cos_sim") >= 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // blockTarget = 16 forces many blocks (and so many off-diagonal
    // tiles) even on the 200-row fixture
    val blocked = Similarity.cosineAllPairsBlocked(vecs, threshold = 0.35,
        blockTarget = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(blocked.length === blocked.toSet.size, "a pair was emitted twice")
    assert(blocked.toSet === exact)
  }

  test("near-dup dispatch: low threshold -> blocked exact, high -> banded LSH") {
    val low = Similarity.nearDupPairs(vecs, threshold = 0.35, dim = dim)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = vecs.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .crossJoin(vecs.select(col("vec_id").as("id_b"), col("embedding").as("v_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("v_a"), col("v_b")) >= 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(low === exact)
    // high threshold takes the LSH path sized by bandsFor; with planted
    // near-identical pair it must be found
    val planted = vecs.unionByName(
      vecs.filter(col("vec_id") === 7)
        .select(lit(9001L).as("vec_id"), col("embedding")))
    val high = Similarity.nearDupPairs(planted, threshold = 0.9, dim = dim)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(high.contains((7L, 9001L)))
    assert(Similarity.bandsFor(0.9) < Similarity.bandsFor(0.75),
      "bands must grow as the threshold drops")
  }

  test("semDedup prunes same-cluster near-duplicates, keeps the smallest id") {
    // 3 exact copies of vector 5 planted at ids 900/901/902: all land in
    // the same k-means cluster (identical vectors) with cosine 1.0, so
    // the greedy keep-first decision keeps only the smallest of
    // {5, 900, 901, 902} and prunes the rest.
    val copy = vecs.filter(col("vec_id") === 5)
    val planted = vecs
      .unionByName(copy.withColumn("vec_id", lit(900L)))
      .unionByName(copy.withColumn("vec_id", lit(901L)))
      .unionByName(copy.withColumn("vec_id", lit(902L)))
    val out = Similarity.semDedup(planted, k = 4, dim = dim, tau = 0.99)
      .select("vec_id", "is_kept", "n_similar_smaller")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(5L)._1, "the canonical (smallest-id) copy must be kept")
    assert(!out(900L)._1 && !out(901L)._1 && !out(902L)._1)
    assert(out(902L)._2 === 3L)  // 5, 900, 901 are all smaller similars
    // vectors with no near-identical twin survive
    assert(out.count { case (_, (kept, _)) => kept } >= 197)
  }

  test("random projection: deterministic, identity-preserving, neighborhood-friendly") {
    val copy = vecs.filter(col("vec_id") === 5).withColumn("vec_id", lit(900L))
    val proj = Similarity.randomProjection(vecs.unionByName(copy), dim = dim, outDim = 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
    assert(proj(5L) === proj(900L), "identical vectors must project identically")
    assert(proj(5L) !== proj(6L), "distinct vectors must (generically) differ")
    // the Rademacher matrix is balanced-ish: neither all +1 nor all -1
    val signs = (0 until 4).flatMap(j => (0 until dim).map(i => Similarity.rademacherSign(j, i)))
    assert(signs.count(_ > 0) > 8 && signs.count(_ < 0) > 8)
  }

  test("probe masks enumerate bit combinations — no 2^nPlanes scan, no Int overflow") {
    def c(n: Int, k: Int): Long =
      (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)
    // counts match sum-of-binomials at plane counts where the old
    // 2^nPlanes range would have overflowed or walked ~10^9 ints
    assert(Similarity.probeMasks(4, 1).size === 5)
    assert(Similarity.probeMasks(62, 0) === Seq(0L))
    assert(Similarity.probeMasks(62, 2).size === 1 + 62 + c(62, 2))
    assert(Similarity.probeMasks(31, 1).size === 32)
    // each mask flips at most probeHamming bits, all distinct
    val m = Similarity.probeMasks(62, 2)
    assert(m.distinct.size === m.size)
    assert(m.forall(x => java.lang.Long.bitCount(x) <= 2))
  }

  test("centroid outliers: zero and NaN vectors are flagged, not silently passed") {
    val withGarbage = vecs.unionByName(Seq(
      (900L, Seq.fill(dim)(0f)),
      (901L, Seq.fill(dim)(Float.NaN))).toDF("vec_id", "embedding"))
    val out = Similarity.centroidOutliers(withGarbage, dim = dim)
      .select("vec_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(out(900L), "all-zero vector (NaN cosine) must flag as outlier")
    assert(out(901L), "NaN vector must flag as outlier")
  }

  test("random projection: NaN elements poison the row instead of crashing; wrong dim raises") {
    val withNaN = vecs.unionByName(
      Seq((902L, Seq.fill(dim)(Float.NaN))).toDF("vec_id", "embedding"))
    val proj = Similarity.randomProjection(withNaN, dim = dim, outDim = 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getDouble)).toMap
    assert(proj(902L).forall(_.isNaN), "corrupt row projects to NaN, job survives")
    assert(proj(0L).forall(!_.isNaN))
    val wrong = Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.randomProjection(wrong, dim = dim, outDim = 4).collect()
    }
    assert(e.getMessage != null)
  }

  test("per-query top-k fans out over a query set") {
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val out = Similarity.topKPerQuery(vecs, queries, 4)
    assert(out.count() === 12)
    val own = out.filter(col("rn") === 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(own.forall(p => p._1 == p._2))
  }

  test("meanRound6 resolves exact half-boundary means half-up, away from zero") {
    // the sf0.1 q109 case in miniature: 616992/192 micros = 3213.5 exactly.
    // round(sum/count, 6) on the double quotient is engine-AMBIGUOUS there
    // (the quotient's binary expansion sits below the boundary, so Spark's
    // exact-expansion HALF_UP says 0.003213 while a scale-then-round path
    // says 0.003214); the integer half-up division must say 0.003214 — and
    // mirror to -0.003214 for the negated data (HALF_UP is away from zero).
    def meanOf(xs: Seq[Double]): Double =
      xs.toDF("x").agg(Similarity.meanRound6(col("x")).as("mu"))
        .as[Double].head()
    val pos = Seq.fill(191)(0.003214) :+ 0.003118 // 191·3214 + 3118 = 616992 micros
    assert(pos.map(x => (x * 1e6).round).sum === 616992L,
      "fixture must sum to the exact tie")
    assert(meanOf(pos) === 0.003214)
    assert(meanOf(pos.map(-_)) === -0.003214)
    // non-tie sanity: plain mean of exact micros
    assert(meanOf(Seq(0.000001, 0.000002, 0.000003)) === 0.000002)
  }

  test("power iteration recovers the dominant direction, L∞-unit, deterministic") {
    // variance lives on axis 1 (values ±2, ±1 around mean 0), axis 2
    // carries only a constant offset (no variance after centering) —
    // the dominant eigendirection is e1, so the L∞-unit iterate must be
    // (±1e6, 0). Start x0 = e1 keeps the positive sign.
    val docs = Seq(
      (1L, Seq(2.0f, 5.0f)), (2L, Seq(-2.0f, 5.0f)),
      (3L, Seq(1.0f, 5.0f)), (4L, Seq(-1.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val pc = Similarity.topPrincipalComponent(docs, dim = 2, iters = 3)
      .orderBy("j").as[(Long, Long, Double)].collect().toSeq
    assert(pc === Seq((1L, 1000000L, 1.0), (2L, 0L, 0.0)))
    val pc2 = Similarity.topPrincipalComponent(docs, dim = 2, iters = 3)
      .orderBy("j").as[(Long, Long, Double)].collect().toSeq
    assert(pc === pc2)
  }

  test("power iteration rotates toward the dominant direction from an off-axis start") {
    // dominant eigendirection (1,1) (points ±(10,10)) with a tiny
    // orthogonal (1,-1) component: eigenvalue ratio ~10⁴ per round, so
    // from the e1 start the iterate must rotate to the diagonal — both
    // components L∞-near-unit with the SAME sign — within 3 rounds.
    // (A diagonal-covariance fixture cannot test this: e1 would already
    // be an exact eigenvector and the iterate would sit still.)
    val docs = Seq(
      (1L, Seq(10.0f, 10.0f)), (2L, Seq(-10.0f, -10.0f)),
      (3L, Seq(0.1f, -0.1f)), (4L, Seq(-0.1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val pc = Similarity.topPrincipalComponent(docs, dim = 2, iters = 3)
      .orderBy("j").as[(Long, Long, Double)].collect().toSeq
    val byJ = pc.map(p => p._1 -> p._2).toMap
    assert(math.abs(byJ(1L)).max(math.abs(byJ(2L))) === 1000000L,
      s"L∞ unit: $pc")
    assert(math.abs(byJ(1L)) > 999000L && math.abs(byJ(2L)) > 999000L,
      s"iterate must rotate onto the diagonal: $pc")
    assert(byJ(1L).sign === byJ(2L).sign, s"same-sign diagonal: $pc")
  }

  test("deflation recovers PC2: diagonal dominant, anti-diagonal second") {
    // PC1 = (1,1) (points ±(10,10)), PC2 = (1,−1) (points ±(1,−1)).
    // After shedding the PC1 projection, the second power iteration
    // must land on the anti-diagonal: both components near L∞-unit
    // with OPPOSITE signs, orthogonal to comp 1.
    val docs = Seq(
      (1L, Seq(10.0f, 10.0f)), (2L, Seq(-10.0f, -10.0f)),
      (3L, Seq(1.0f, -1.0f)), (4L, Seq(-1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pcs = Similarity.topTwoPrincipalComponents(docs, dim = 2)
      .orderBy("comp", "j").as[(Long, Long, Long, Double)].collect().toSeq
    val c1 = pcs.filter(_._1 == 1L).map(p => p._2 -> p._3).toMap
    val c2 = pcs.filter(_._1 == 2L).map(p => p._2 -> p._3).toMap
    assert(c1(1L).sign === c1(2L).sign && math.abs(c1(1L)) > 999000L &&
      math.abs(c1(2L)) > 999000L, s"comp1 must be the diagonal: $pcs")
    assert(c2(1L).sign === -c2(2L).sign && math.abs(c2(1L)) > 995000L &&
      math.abs(c2(2L)) > 995000L, s"comp2 must be the anti-diagonal: $pcs")
  }

  test("cellCountFor: k ∝ n contract — fixture resolves to k=4, big corpora scale linearly") {
    // both gate fixtures land on the historical operating point
    assert(Similarity.cellCountFor(500L) === 4, "sf0.01 embeddings → kMin")
    assert(Similarity.cellCountFor(2000L) === 4, "sf0.1 embeddings → exactly 4 cells of 500")
    assert(Similarity.cellCountFor(2049L) === 5, "first count past 4·512 splits")
    // linear growth: expected cell size never exceeds the target
    for (n <- Seq(10000L, 1000000L, 12345678901L)) {
      val k = Similarity.cellCountFor(n)
      assert(n <= k.toLong * Similarity.CellTargetSize,
        s"n=$n k=$k violates the ≤${Similarity.CellTargetSize} expected-cell-size contract")
      assert(n > (k.toLong - 1) * Similarity.CellTargetSize || k === Similarity.CellKMin,
        s"n=$n k=$k overshoots — k must be the minimal count meeting the target")
    }
    assertThrows[IllegalArgumentException](Similarity.cellCountFor(-1L))
    assertThrows[IllegalArgumentException](Similarity.cellCountFor(10L, targetCellSize = 0L))
  }

  test("requireCellBounded: guard fires on an oversized cell, passes the contract") {
    // a contract-derived k always passes
    for (n <- Seq(0L, 500L, 2000L, 1000000L))
      Similarity.requireCellBounded(n, Similarity.cellCountFor(n))
    // a pinned fixture literal k=4 against a grown corpus is REFUSED —
    // the r8 q258 scenario the guard exists for
    val ex = intercept[IllegalArgumentException](
      Similarity.requireCellBounded(1000000L, 4))
    assert(ex.getMessage.contains("cell-bounded pairwise pass refused"),
      s"refusal must name itself: ${ex.getMessage}")
    assert(ex.getMessage.contains("cellCountFor"),
      s"refusal must point at the contract: ${ex.getMessage}")
    assertThrows[IllegalArgumentException](Similarity.requireCellBounded(10L, 0))
  }

  test("kmeansFitMemo: memoized fit equals inline fit, derives once, keys by k") {
    // fixture corpus dir with an embeddings table (vec_id, embedding, label)
    val dir = java.nio.file.Files.createTempDirectory("kfit_fix").toString
    (0L until 40L).map(i => (i,
        Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat / 11f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = graft.model.Tables(spark, dir).embeddings
    val inline = Similarity.kmeansAssign(emb, k = 4, dim = 8)
      .as[(Long, Int, Double)].collect().toSet
    val fit1 = Similarity.kmeansFitMemo(spark, dir, k = 4, dim = 8)
    val fit2 = Similarity.kmeansFitMemo(spark, dir, k = 4, dim = 8)
    // one derivation for both calls, and the same object back
    assert(Memo.derivations("kmeans_fit", dir) === 1)
    assert(fit1 eq fit2)
    val memoed = Similarity.kmeansAssignWith(fit1, emb).drop("v")
      .as[(Long, Int, Double)].collect().toSet
    assert(memoed === inline,
      "memoized fit must reproduce the inline assignment bit-for-bit")
    // a different k keys its own fit (a Lloyd update may drop an empty
    // cell, so size is ≤ k — only the keying and re-derivation matter)
    val fit8 = Similarity.kmeansFitMemo(spark, dir, k = 8, dim = 8)
    assert(fit8.size > fit1.size && fit1.size === 4)
    assert(Memo.derivations("kmeans_fit", dir) === 2)
  }

  test("cellCountSql twins cellCountFor exactly (integer derivation)") {
    // the SQL is GREATEST(kMin, (n + target−1) // target) — replay it in
    // Scala over a hostile sweep including every boundary around the
    // target multiples
    val sql = Similarity.cellCountSql("n")
    assert(sql === s"GREATEST(${Similarity.CellKMin}, " +
      s"(n + ${Similarity.CellTargetSize - 1}) // ${Similarity.CellTargetSize})", sql)
    def sqlK(n: Long): Long =
      math.max(Similarity.CellKMin.toLong,
        (n + (Similarity.CellTargetSize - 1)) / Similarity.CellTargetSize)
    for (n <- (0L to 6000L by 1L) ++ Seq(1000000L, 987654321L))
      assert(sqlK(n) === Similarity.cellCountFor(n).toLong, s"divergence at n=$n")
  }
}
