package graft

import graft.analytics.StatsOps

/** Hand-computed fixtures for the exact-statistics operators: every
  * expected value below is derived on paper from the documented
  * integer-micros arithmetic, including the truncation-toward-zero
  * division on NEGATIVE numerators (the slope/skew sign paths the
  * declared queries don't exercise).
  */
class StatsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("OLS on an exact positive line: slope 2, intercept 0, r² = 1") {
    val df = Seq(("g", 1L, 2L), ("g", 2L, 4L), ("g", 3L, 6L)).toDF("g", "x", "y")
    val r = StatsOps.olsMicros(df, "g", "x", "y").collect().head
    assert(r.getAs[Long]("slope_micros") === 2000000L)
    assert(r.getAs[Long]("intercept_micros") === 0L)
    assert(r.getAs[Long]("r_sign") === 1L)
    assert(r.getAs[Long]("r2_micros") === 1000000L)
  }

  test("OLS on an exact negative line exercises signed truncating division") {
    // (1,3),(2,2),(3,1): num = 3*10-6*6 = -6, denx = deny = 6
    // slope = -1e6, intercept = (6e6 + 1e6*6)/3 = 4e6, r² = 1e6
    val df = Seq(("g", 1L, 3L), ("g", 2L, 2L), ("g", 3L, 1L)).toDF("g", "x", "y")
    val r = StatsOps.olsMicros(df, "g", "x", "y").collect().head
    assert(r.getAs[Long]("slope_micros") === -1000000L)
    assert(r.getAs[Long]("intercept_micros") === 4000000L)
    assert(r.getAs[Long]("r_sign") === -1L)
    assert(r.getAs[Long]("r2_micros") === 1000000L)
  }

  test("source JSD: identical distributions give 0, partial overlap matches hand arithmetic") {
    // A = [x x y], B = [x z z]: shared {x}, term_x = (2/3)ln(4/3) +
    // (1/3)ln(2/3); sa = 2/3, sb = 1/3 →
    // jsd = term/2 + ln2/2 ≈ 0.374890
    val docs = Seq(("A", "x x y"), ("B", "x z z")).toDF("source", "text")
    val r = graft.analytics.StatsOps.sourceJsdPairs(docs).collect().head
    assert(r.getAs[String]("src_a") === "A")
    assert(r.getAs[Long]("n_shared") === 1L)
    assert(math.abs(r.getAs[Double]("jsd_r") - 0.374890) < 2e-6)
    // identical corpora: every term is p·ln(1) = 0 and the exclusive
    // tails are empty
    val same = Seq(("A", "x x y"), ("B", "x x y")).toDF("source", "text")
    val r0 = graft.analytics.StatsOps.sourceJsdPairs(same).collect().head
    assert(r0.getAs[Double]("jsd_r") === 0.0)
    assert(r0.getAs[Long]("n_shared") === 2L)
    // fully disjoint vocabularies: the pair has no intersection row and
    // is OMITTED (its JSD is exactly ln 2) — documented contract
    val dis = Seq(("A", "x x"), ("B", "z z")).toDF("source", "text")
    assert(graft.analytics.StatsOps.sourceJsdPairs(dis).count() === 0L)
  }

  test("OLS degenerate group (zero x variance) floors to slope 0, not ÷0") {
    val df = Seq(("g", 2L, 1L), ("g", 2L, 5L)).toDF("g", "x", "y")
    val r = StatsOps.olsMicros(df, "g", "x", "y").collect().head
    assert(r.getAs[Long]("slope_micros") === 0L)
    assert(r.getAs[Long]("r2_micros") === 0L)
  }

  test("moments of {1,2,3}: symmetric, exact m2/m4 floors, kurtosis 1500001") {
    // mean = 2e6, devs = {-1e6, 0, 1e6}: s2 = 2e12 -> m2 = 666666
    // m3 = 0; s4 = 2e24 -> m4 = 666666
    // kurt = 666666*1e12 div 666666² = 1500001 (exact truncation)
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L)).toDF("g", "x")
    val r = StatsOps.momentsMicros(df, "g").collect().head
    assert(r.getAs[Long]("mean_micros") === 2000000L)
    assert(r.getAs[Long]("sum_dev") === 0L)
    assert(r.getAs[Long]("m2_micros") === 666666L)
    assert(r.getAs[Long]("m3_micros") === 0L)
    assert(r.getAs[Long]("m4_micros") === 666666L)
    assert(r.getAs[Long]("skew_sign") === 0L)
    assert(r.getAs[Long]("skew2_micros") === 0L)
    assert(r.getAs[Long]("kurt_micros") === 1500001L)
  }

  test("moments flooring certificate: |sum_dev| < n and negative skew sign") {
    // {1,1,4}: mean = 2e6, floor exact; devs {-1e6,-1e6,2e6} sum 0;
    // {1,1,3}: mean_micros = 5e6 div 3 = 1666666, devs
    //   {-666666,-666666,1333334} -> sum_dev = 2 (the floored mass)
    val df = Seq(("g", 1L), ("g", 1L), ("g", 3L)).toDF("g", "x")
    val r = StatsOps.momentsMicros(df, "g").collect().head
    assert(r.getAs[Long]("mean_micros") === 1666666L)
    assert(r.getAs[Long]("sum_dev") === 2L)
    assert(math.abs(r.getAs[Long]("sum_dev")) < r.getAs[Long]("n"))
    assert(r.getAs[Long]("skew_sign") === 1L) // long right tail
  }

  test("chi² isolates the class-exclusive term with the exact 2×2 score") {
    // 4 docs: class A docs contain 'aa bb', class B docs just 'bb'.
    // (A, aa): a=2, df=2, n_cls=2, N=4 -> ad-bc = 4,
    //   chi2 = 4*16*1e6 / (2*2*2*2) = 4e6; 'bb' is uniform -> 0.
    val docs = Seq(("A", "aa bb"), ("A", "aa bb"), ("B", "bb"), ("B", "bb"))
      .toDF("lang", "text")
    val r = StatsOps.chi2Terms(docs, minDf = 1, topK = 2)
      .collect().map(x => (x.getAs[String]("cls"), x.getAs[String]("w")) ->
        (x.getAs[Long]("chi2_micros"), x.getAs[Long]("rnk"))).toMap
    assert(r(("A", "aa")) === ((4000000L, 1L)))
    assert(r(("A", "bb")) === ((0L, 2L)))
    assert(r(("B", "bb")) === ((0L, 1L)))
    assert(!r.contains(("B", "aa"))) // absent-from-class terms are not scored
  }

  test("CUPED recovers the exact slope and collapses a perfectly linear covariate to zero variance") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // four users with post = 2·pre exactly: θ must come out 2.0 in
    // micros, every adjusted value lands on 50e6, both arm variances
    // collapse to 0, and the zz row pins θ and x̄ = 25e6
    val dir = java.nio.file.Files.createTempDirectory("cuped_fix").toString
    val rows = Seq(
      (1L, 10.0, 20.0), (2L, 20.0, 40.0), (3L, 30.0, 60.0), (4L, 40.0, 80.0))
    rows.zipWithIndex.flatMap { case ((u, pre, post), i) => Seq(
      (i * 2 + 1L, ts("2024-01-05 10:00:00"), u, "purchase", pre, "{}"),
      (i * 2 + 2L, ts("2024-01-20 10:00:00"), u, "purchase", post, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q167_cuped")(spark, dir).collect()
      .map(r => r.getAs[Long]("arm") -> (r.getAs[Long]("n_users"),
        r.getAs[Long]("mean_y_micros"), r.getAs[Long]("mean_adj_micros"),
        r.getAs[Long]("varratio_micros"))).toMap
    assert(out(0L) === ((2L, 60000000L, 50000000L, 0L)))
    assert(out(1L) === ((2L, 40000000L, 50000000L, 0L)))
    assert(out(999L) === ((4L, 2000000L, 25000000L, 0L))) // θ, x̄
  }

  test("information gain scores a perfect splitter ln2 and a constant feature 0") {
    val dir = java.nio.file.Files.createTempDirectory("ig_fix").toString
    // has_digit ⟺ lang: IG = H(lang) = 2·round(−½·ln½, 9) → 0.693147;
    // long_doc is constant-true: H(lang|f) = H(lang) → IG = 0
    Seq((1L, "a 1", "en", "A", 300L), (2L, "b 2", "en", "A", 300L),
      (3L, "c", "fr", "A", 300L), (4L, "d", "fr", "A", 300L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q179_infogain")(spark, dir).collect()
      .map(r => r.getAs[String]("feature") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("p_true_ppm"), r.getAs[Double]("ig_r"))).toMap
    assert(out("has_digit") === ((4L, 500000L, 0.693147)))
    assert(out("long_doc") === ((4L, 1000000L, 0.0)))
  }

  test("jackknife: leave-one-source estimates from totals, variance over the g estimates") {
    val dir = java.nio.file.Files.createTempDirectory("jack_fix").toString
    // sources A{10,20} B{60} C{10}: θ̂=25e6; θ₍A₎=35e6, θ₍B₎=13333333,
    // θ₍C₎=30e6 → θ̄=26111111, SE² = 2·Σdev²÷9 = 57201647983539 μ²
    Seq((1L, "a", "en", "A", 10L), (2L, "b", "en", "A", 20L),
      (3L, "c", "en", "B", 60L), (4L, "d", "en", "C", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q185_jackknife")(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> (r.getAs[Long]("n_i"),
        r.getAs[Long]("theta_loo_micros"))).toMap
    assert(out("A") === ((2L, 35000000L)))
    assert(out("B") === ((1L, 13333333L)))
    assert(out("C") === ((1L, 30000000L)))
    assert(out("zz_theta") === ((4L, 25000000L)))
    assert(out("zz_se2") === ((3L, 57201647983539L)))
  }

  test("bootstrap CI: deterministic resamples bracket the exact full mean") {
    import org.apache.spark.sql.functions._
    val df = (1L to 200L).map(i => (i, i * 1000L)).toDF("k", "xm")
    def run() = graft.analytics.StatsOps
      .bootstrapCI(df, keyCol = "k", valueMicros = col("xm"))
      .collect()
      .map(r => (r.getAs[Long]("b"), r.getAs[Long]("n_eff"),
        r.getAs[Long]("mean_micros")))
    val a = run()
    assert(a.toSeq === run().toSeq, "hash-seeded resampling must be deterministic")
    assert(a.length === 43) // 40 resamples + full + lo + hi
    val byB = a.map(x => x._1 -> x).toMap
    // exact full mean of 1000·(1..200): 1000·201/2 = 100500
    assert(byB(-1L) === ((-1L, 200L, 100500L)))
    // Poisson(1) multiplicities: every resample's effective n stays
    // near 200 and its mean inside the support
    val boots = a.filter(_._1 >= 0)
    assert(boots.forall { case (_, n, m) =>
      n > 100 && n < 300 && m >= 1000 && m <= 200000 })
    // the rank-2 / rank-39 endpoints bracket the full mean and each other
    assert(byB(-2L)._3 <= byB(-1L)._3 && byB(-1L)._3 <= byB(-3L)._3)
  }

  test("Friedman: a perfectly consistent ordering hits the textbook chi2") {
    // b=2 blocks, k=3 treatments, same order both blocks:
    // R_j = 2,4,6 → chi2 = 12·56/(2·3·4) − 3·2·4 = 4 → 4e6 micros
    import spark.implicits._
    val grid = Seq(
      (1L, "t1", 10L), (1L, "t2", 20L), (1L, "t3", 30L),
      (2L, "t1", 11L), (2L, "t2", 21L), (2L, "t3", 31L))
      .toDF("b", "t", "v")
    val out = graft.analytics.StatsOps.friedman(grid).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      ("t1", 2L, 4L), ("t2", 2L, 8L), ("t3", 2L, 12L), ("zz_f", 2L, 4000000L)))
  }

  test("Friedman: full within-block ties score exactly zero") {
    import spark.implicits._
    val grid = Seq(
      (1L, "t1", 5L), (1L, "t2", 5L), (1L, "t3", 5L),
      (2L, "t1", 7L), (2L, "t2", 7L), (2L, "t3", 7L))
      .toDF("b", "t", "v")
    val zz = graft.analytics.StatsOps.friedman(grid).collect()
      .find(_.getString(0) == "zz_f").get
    // every treatment's doubled mid-rank is 2·1+3−1 = 4 per block →
    // R2 = 8 each; s = 3·16 = 48; (12e6·48) DIV 24 − 3e6·2·4 = 0
    assert(zz.getLong(2) === 0L)
  }

  test("sign-flip permutation: planted one-sided effect gets a small p, " +
    "|S_b| never exceeds |S_obs| when every pair agrees") {
    import spark.implicits._
    // all day diffs strictly positive → S_obs = Σd is the maximum over
    // every sign assignment, so n_ge counts exactly the all-+1 draws
    // (prob 2^-10 per draw) and p lands near the 1/(B+1) floor
    val dayDiffs = (1 to 10).map(i => ("all", i.toLong, 5L + i))
      .toDF("grp", "od", "d")
    val r = graft.analytics.StatsOps.signFlipPermutation(dayDiffs)
      .collect().head
    assert(r.getAs[Long]("n_days") === 10L)
    assert(r.getAs[Long]("s_obs") === (6L to 15L).sum)
    assert(r.getAs[Long]("n_perms") === 200L)
    assert(r.getAs[Long]("p_ppm") <= 100000L,
      s"planted effect should reject: p_ppm=${r.getAs[Long]("p_ppm")}")
    // determinism: the hash-seeded draws replay bit-for-bit
    val r2 = graft.analytics.StatsOps.signFlipPermutation(dayDiffs)
      .collect().head
    assert(r.getAs[Long]("n_ge") === r2.getAs[Long]("n_ge"))
  }

  test("BH step-up rejects a prefix of the p-ranked battery") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q265_fdr_bh")(spark, dir).collect()
    val m = rows.length.toLong
    assert(rows.map(_.getAs[Long]("m")).forall(_ === m))
    assert(rows.map(_.getAs[Long]("bh_rank")).sorted === (1L to m).toArray)
    // step-up property: the reject set is exactly ranks ≤ r_max
    val rej = rows.filter(_.getAs[Long]("rejected") === 1L)
      .map(_.getAs[Long]("bh_rank"))
    if (rej.nonEmpty) assert(rej.sorted === (1L to rej.max).toArray)
  }

  test("Cramér's V matches the hand 2x2 grid including its exact chi-square") {
    import spark.implicits._
    // counts [[3,1],[1,3]]: every E = 2, chi2 = 4·(1/2) = 2.0,
    // V² = 2/(8·1) = 0.25
    val dir = java.nio.file.Files.createTempDirectory("cv_fix").toString
    (Seq.fill(3)(("en", "a")) ++ Seq(("en", "b")) ++ Seq(("fr", "a")) ++
      Seq.fill(3)(("fr", "b"))).zipWithIndex
      .map { case ((l, src), i) => (i.toLong, s"text $i", l, src, 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q294_cramers_v")(spark, dir).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("n_langs"),
      r.getAs[Long]("n_sources"), r.getAs[Long]("chi2_micros"),
      r.getAs[Long]("dof"), r.getAs[Long]("v2_micros")) ===
      ((8L, 2L, 2L, 2000000L, 1L, 250000L)))
  }

  test("Jarque-Bera: symmetric 1..5 has zero skew and hand-computed kurtosis") {
    import spark.implicits._
    // y = 1..5 (dollar floors of y+0.25): μ_f = 3, d = [−2..2] →
    // S1 = 0, S2 = 10, S3 = 0, S4 = 34; m2 = 2, m4 = 6.8 → g1 = 0,
    // g2 = 6.8/4 − 3 = −1.3, JB = 5·(1.69/24) = 0.352083 (round 6)
    val dir = java.nio.file.Files.createTempDirectory("jb_fix").toString
    (1 to 5).map(i => (i.toLong, i.toLong, "O", i + 0.25,
        java.sql.Date.valueOf("2024-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q327_jarque_bera")(spark, dir).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("mu_f")) === ((5L, 3L)))
    assert(r.getAs[Double]("skew_r") === 0.0)
    assert(r.getAs[Double]("exkurt_r") === -1.3)
    assert(r.getAs[Double]("jb_r") === 0.352083)
  }

  test("Simpson diversity: hand counts for two sources and the pooled corpus") {
    import spark.implicits._
    // A = "x x y": Σn(n−1) = 2, N = 3 → D = 2/6, inv = 3e6/... = 3e6
    // B = "z z": D = 1, inv = 1e6; pooled x:2 y:1 z:2 → D = 4/20,
    // inv = 5e6
    val dir = java.nio.file.Files.createTempDirectory("simp_fix").toString
    Seq((1L, "x x y", "en", "A", 5L), (2L, "z z", "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q329_simpson_diversity")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_types"), r.getAs[Long]("d_ppm"),
        r.getAs[Long]("inv_simpson_micros")))
    assert(out.toSeq === Seq(("A", 3L, 2L, 333333L, 3000000L),
      ("B", 2L, 1L, 1000000L, 1000000L),
      ("zz_all", 5L, 3L, 200000L, 5000000L)))
  }

  test("Cornish-Fisher: zero-skew fixture pins the median estimate and the formula") {
    import spark.implicits._
    // same 1..5 fixture as Jarque-Bera: μ = 3, σ = √2, g1 = 0,
    // g2 = −1.3. At p = 0.5, w = 0 → est2 = 600 vs exact doubled
    // median 650 (cents 125..525) → err = 1e6·50//650 = 76923. The
    // 0.9/0.99 rows follow the same mirrored chain, recomputed here.
    val dir = java.nio.file.Files.createTempDirectory("cf_fix").toString
    (1 to 5).map(i => (i.toLong, i.toLong, "O", i + 0.25,
        java.sql.Date.valueOf("2024-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q331_cornish_fisher")(spark, dir).collect()
      .map(r => r.getAs[Long]("p_bp") -> (r.getAs[Long]("est2_cents"),
        r.getAs[Long]("exact2_cents"), r.getAs[Long]("err_ppm"))).toMap
    assert(out(5000L) === ((600L, 650L, 76923L)))
    def expect(z: Double, exact2: Long): (Long, Long, Long) = {
      val g2 = -1.3
      val w = z + (z * z - 1) * 0.0 / 6 + (z * z * z - 3 * z) * g2 / 24 - 0.0
      val est2 = math.round((3.0 + math.sqrt(2.0) * w) * 200)
      (est2, exact2, 1000000L * math.abs(est2 - exact2) / exact2)
    }
    // exact ranks over cents [125..525]: p=0.9 → 485 (×2 = 970),
    // p=0.99 → 521 (×2 = 1042)
    assert(out(9000L) === expect(1.2815515655446004, 970L))
    assert(out(9900L) === expect(2.3263478740408408, 1042L))
  }

  test("Gini: tie-adjusted midranks reproduce the hand Lorenz value") {
    import spark.implicits._
    // revenues [100, 100, 200, 400] cents: midranks (1.5, 1.5, 3, 4)
    // → 2Σmx = 5000, Σx = 800 → G = (5000 − 5·800)/(4·800) = 0.3125
    val dir = java.nio.file.Files.createTempDirectory("gini_fix").toString
    Seq((1L, 1L, 1.00), (2L, 2L, 1.00), (3L, 3L, 2.00), (4L, 4L, 4.00))
      .map { case (ok, ck, tp) => (ok, ck, "O", tp,
        java.sql.Date.valueOf("2024-01-01"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q332_gini_revenue")(spark, dir).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("total_cents"),
      r.getAs[Long]("mean_cents"), r.getAs[Long]("gini_ppm")) ===
      ((4L, 800L, 200L, 312500L)))
  }

  test("Markov entropy rate: a fair binary branch costs exactly ln 2 nanos") {
    import spark.implicits._
    // one user: click,view,click,click → click branches 50/50 (h =
    // ln 2 nanos), view is deterministic (h = 0); rate = 2·ln9(2)
    // DIV 3 transitions
    val dir = java.nio.file.Files.createTempDirectory("mer_fix").toString
    def ts(t: String) = java.sql.Timestamp.valueOf(s"2024-06-01 $t")
    Seq((1L, ts("10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("10:01:00"), 1L, "view", 0.0, "{}"),
      (3L, ts("10:02:00"), 1L, "click", 0.0, "{}"),
      (4L, ts("10:03:00"), 1L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q333_markov_entropy_rate")(spark, dir).collect()
      .map(r => (r.getAs[String]("src_et"), r.getAs[Long]("n_out"),
        r.getAs[Long]("n_dst"), r.getAs[Long]("h_nanos")))
    assert(out.toSeq === Seq(("click", 2L, 2L, 693147181L),
      ("view", 1L, 1L, 0L), ("zz_rate", 3L, 3L, 462098120L)))
  }

  test("dispersion index: hand VMR for a bursty and a constant type") {
    import spark.implicits._
    // 2-hour spine; click counts [3,1]: VMR = (2·10−16)/(1·4) = 1;
    // view counts [1,1]: zero variance → 0
    val dir = java.nio.file.Files.createTempDirectory("vmr_fix").toString
    def ts(t: String) = java.sql.Timestamp.valueOf(s"2024-06-01 $t")
    (Seq(("10:05:00", "click"), ("10:10:00", "click"), ("10:15:00", "click"),
      ("11:05:00", "click"), ("10:20:00", "view"), ("11:20:00", "view"))
      .zipWithIndex.map { case ((t, et), i) => (i.toLong, ts(t), 1L, et, 0.0, "{}") })
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q336_dispersion_index")(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Long]("n_events"), r.getAs[Long]("vmr_ppm"),
        r.getAs[Long]("chi2_micros")))
    assert(out.toSeq === Seq(("click", 2L, 4L, 1000000L, 1000000L),
      ("view", 2L, 2L, 0L, 0L)))
  }

  test("key discovery: the declared key is the only exact-unique combo") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("key_fix").toString
    Seq((1L, 7L, "O", 1.0, java.sql.Date.valueOf("2024-01-01"), "1-URGENT"),
      (2L, 7L, "O", 2.0, java.sql.Date.valueOf("2024-01-01"), "1-URGENT"),
      (3L, 8L, "F", 3.0, java.sql.Date.valueOf("2024-01-02"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q337_key_discovery")(spark, dir).collect()
    assert(out.length === 11)
    val head = out.head
    assert((head.getAs[String]("combo"), head.getAs[Long]("n_distinct"),
      head.getAs[Long]("unique_ppm"), head.getAs[Boolean]("is_key")) ===
      (("o_orderkey", 3L, 1000000L, true)))
    assert(out.count(_.getAs[Boolean]("is_key")) === 1)
    val last = out.last
    assert((last.getAs[String]("combo"), last.getAs[Long]("unique_ppm")) ===
      (("o_orderpriority", 333333L)))
  }

  test("Wilson CI: mirrors the pinned-z chain and brackets the rate") {
    import spark.implicits._
    // one priority, n = 4, k = 1
    val dir = java.nio.file.Files.createTempDirectory("wilson_fix").toString
    Seq(("F", 1L), ("O", 2L), ("O", 3L), ("O", 4L))
      .map { case (st, i) => (i, i, st, 10.0,
        java.sql.Date.valueOf("2024-01-01"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q338_wilson_ci")(spark, dir).collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("k"),
      r.getAs[Long]("rate_ppm")) === ((4L, 1L, 250000L)))
    val z = 1.959963985; val nd = 4.0; val kd = 1.0
    val center = (kd + z * z / 2) / (nd + z * z)
    val halfw = z * math.sqrt(kd * (nd - kd) / nd + z * z / 4) / (nd + z * z)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("lo_r") === r6(center - halfw))
    assert(r.getAs[Double]("hi_r") === r6(center + halfw))
    assert(r.getAs[Double]("lo_r") < 0.25 && 0.25 < r.getAs[Double]("hi_r"))
  }

  test("effect size: hand-pooled SD gives d = 1 and Hedges J = 4/7") {
    import spark.implicits._
    // urgent cents [100, 300] (m = 200, v = 20000), rest [100, 100]
    // (m = 100, v = 0): sp = 100 → d = 1; J = 1 − 3/7 → g = 0.571429
    val dir = java.nio.file.Files.createTempDirectory("eff_fix").toString
    Seq((1L, "1-URGENT", 1.00), (2L, "1-URGENT", 3.00),
      (3L, "3-MEDIUM", 1.00), (4L, "3-MEDIUM", 1.00))
      .map { case (k, pr, tp) => (k, k, "O", tp,
        java.sql.Date.valueOf("2024-01-01"), pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q339_effect_size")(spark, dir).collect().head
    assert((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
      r.getAs[Long]("mean1_cents"), r.getAs[Long]("mean2_cents")) ===
      ((2L, 2L, 200L, 100L)))
    assert(r.getAs[Double]("d_r") === 1.0)
    assert(r.getAs[Double]("g_r") === 0.571429)
  }

  test("RLE advisor: prefix-distinct bounds rank the low-cardinality-first layout") {
    import spark.implicits._
    // rows (rf,ls,qy,day): (A,O,1,d0) (A,O,2,d0) (B,F,1,d1) (B,F,2,d1)
    // → totals: sd,rf,ls,qy = 2+2+2+4 = 10 < rf,ls,qy,sd = 2+2+4+4
    // = 12 < ls,qy,rf,sd = qy,sd,rf,ls = 14 (tie broken by name)
    val dir = java.nio.file.Files.createTempDirectory("rle_fix").toString
    def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
    Seq((1L, 1L, 1L, 1, 1.0, 100.0, 0.0, 0.0, "A", "O", ts("2024-01-01")),
      (1L, 2L, 1L, 2, 2.0, 100.0, 0.0, 0.0, "A", "O", ts("2024-01-01")),
      (2L, 1L, 1L, 1, 1.0, 100.0, 0.0, 0.0, "B", "F", ts("2024-01-02")),
      (2L, 2L, 1L, 2, 2.0, 100.0, 0.0, 0.0, "B", "F", ts("2024-01-02")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q326_rle_advisor")(spark, dir).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[Long]("total_bound")))
    assert(out.toSeq === Seq(("sd,rf,ls,qy", 10L), ("rf,ls,qy,sd", 12L),
      ("ls,qy,rf,sd", 14L), ("qy,sd,rf,ls", 14L)))
  }

  test("selectivity certification: uniform fixture estimates land near exact") {
    import spark.implicits._
    // 32 evenly spread values (cents 25, 125, …, 3125) → one per
    // bucket; the uniform-interpolation estimate must sit within the
    // one-bucket band of the exact count at every cutoff
    val dir = java.nio.file.Files.createTempDirectory("sel_fix").toString
    (0 until 32).map(i => (i.toLong, i.toLong, "O", i + 0.25,
        java.sql.Date.valueOf("2024-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q352_selectivity_cert")(spark, dir).collect()
      .map(r => (r.getAs[Long]("cut"), r.getAs[Long]("est"),
        r.getAs[Long]("n_exact"), r.getAs[Long]("err_ppm")))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    // exact counts: x = 25+100i ≤ mn + span·k/6
    assert(out.map(_._3).toSeq === Seq(6L, 11L, 16L, 21L, 26L))
    out.foreach { case (cut, est, exact, err) =>
      assert(math.abs(est - exact) <= 1,
        s"cut $cut: est $est vs exact $exact — more than one bucket off")
      assert(err <= 1000000L / 6 + 1)
    }
  }

  test("Wilcoxon signed-rank: hand-ranked paired differences, zero pair audited") {
    import spark.implicits._
    // 10-day span, mid = day 5. Pairs (late − early, cents):
    // c1 +1000, c2 −2000, c3 0 (audited, dropped), c4 early-only
    // (excluded), c5 +3000. |d| ranks 1..3 → doubled 2,4,6;
    // W2x = 2+6 = 8, W4 = 16 − 12 = 4, z² = 3e6·16 // 168 = 285714
    val dir = java.nio.file.Files.createTempDirectory("wsr_fix").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    Seq((1L, 1L, 10.25, "2024-01-01"), (2L, 1L, 20.25, "2024-01-10"),
      (3L, 2L, 30.25, "2024-01-01"), (4L, 2L, 10.25, "2024-01-10"),
      (5L, 3L, 10.25, "2024-01-02"), (6L, 3L, 10.25, "2024-01-09"),
      (7L, 4L, 99.25, "2024-01-03"),
      (8L, 5L, 10.25, "2024-01-04"), (9L, 5L, 40.25, "2024-01-08"))
      .map { case (k, c, p, dt) => (k, c, "O", p, d(dt), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q346_wilcoxon_signed_rank")(spark, dir)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("n_g"),
        r.getAs[Long]("r2x"), r.getAs[Long]("z2_micros")))
    assert(out.toSeq === Seq(("neg", 1L, 4L, 0L), ("pos", 2L, 8L, 0L),
      ("zero", 1L, 0L, 0L), ("zz_w", 3L, 4L, 285714L)))
  }

  test("Ansari-Bradley: extreme-heavy group scores low, hand z²") {
    import spark.implicits._
    // combined cents 125,425,525,625,925 → a2 = 2,4,6,4,2 (min toward
    // the extremes); urgent holds both tails → ab2 = 4;
    // s1 = 18, s2 = 76, N·ab2 − n1·s1 = −16,
    // q = 256 // 6 = 42, z² = (1e6·4·42) // 56 = 3000000
    val dir = java.nio.file.Files.createTempDirectory("ab_fix").toString
    Seq((1L, "1-URGENT", 1.25), (2L, "1-URGENT", 9.25),
      (3L, "3-MEDIUM", 4.25), (4L, "3-MEDIUM", 5.25), (5L, "3-MEDIUM", 6.25))
      .map { case (k, pr, p) =>
        (k, k, "O", p, java.sql.Date.valueOf("2024-01-01"), pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q349_ansari_bradley")(spark, dir)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("n_g"),
        r.getAs[Long]("ab2x"), r.getAs[Long]("z2_micros")))
    assert(out.toSeq === Seq(("g0", 3L, 14L, 0L), ("g1", 2L, 4L, 0L),
      ("zz_ab", 5L, 4L, 3000000L)))
  }

  test("Theil decomposition: between-segment concentration, nanoscale identity gap") {
    import spark.implicits._
    // two customers at 100 cents in A, two at 900 in B: inequality is
    // ENTIRELY between segments → within ≈ 0 (ln-rounding nanos),
    // between = Σ_g (X_g/X)·ln((X_g/X)/(n_g/N))
    //         = 0.1·ln 0.2 + 0.9·ln 1.8 ≈ 3.681e8 nanos
    val dir = java.nio.file.Files.createTempDirectory("theil_fix").toString
    Seq((1L, 1L, "O", 1.0, java.sql.Date.valueOf("2024-01-01"), "p"),
      (2L, 2L, "O", 1.0, java.sql.Date.valueOf("2024-01-01"), "p"),
      (3L, 3L, "O", 9.0, java.sql.Date.valueOf("2024-01-01"), "p"),
      (4L, 4L, "O", 9.0, java.sql.Date.valueOf("2024-01-01"), "p"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "c1", 1, 0.0, "A"), (2L, "c2", 1, 0.0, "A"),
      (3L, "c3", 1, 0.0, "B"), (4L, "c4", 1, 0.0, "B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q355_theil_decomposition")(spark, dir)
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_g"), r.getAs[Long]("x_cents"),
          r.getAs[Long]("t_nanos"))).toMap
    assert(out("A")._1 === 2L && out("A")._2 === 200L)
    assert(math.abs(out("A")._3) <= 3L && math.abs(out("B")._3) <= 3L)
    assert(math.abs(out("zz_within")._3) <= 3L)
    val expBetween = (200 * math.log(0.2) + 1800 * math.log(1.8)) / 2000 * 1e9
    assert(math.abs(out("zz_between")._3 - expBetween) < 1e6)
    assert(math.abs(out("zz_gap")._3) <= 5L)
    assert(out("zz_total")._3 ===
      out("zz_between")._3 + out("zz_within")._3 + out("zz_gap")._3)
  }

  test("Page trend: a monotone priority ordering concentrates into the weighted z²") {
    import spark.implicits._
    // two month blocks, three priorities, value rising with the
    // priority digit in both blocks → within-block doubled ranks
    // 2,4,6; rr2 = 4,8,12; L2 = 1·4+2·8+3·12 = 56, E = 48,
    // z² = 36e6·64 // 576 = 4000000
    val dir = java.nio.file.Files.createTempDirectory("page_fix").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    Seq((1L, "1-URGENT", 1.25, "2024-01-05"), (2L, "2-HIGH", 2.25, "2024-01-06"),
      (3L, "3-MEDIUM", 3.25, "2024-01-07"),
      (4L, "1-URGENT", 1.25, "2024-02-05"), (5L, "2-HIGH", 2.25, "2024-02-06"),
      (6L, "3-MEDIUM", 3.25, "2024-02-07"))
      .map { case (k, pr, p, dt) => (k, k, "O", p, d(dt), pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q351_page_trend")(spark, dir)
      .collect().map(r => (r.getAs[String]("t"), r.getAs[Long]("n_blocks"),
        r.getAs[Long]("rr2"), r.getAs[Long]("z2_micros")))
    assert(out.toSeq === Seq(("1-URGENT", 2L, 4L, 0L), ("2-HIGH", 2L, 8L, 0L),
      ("3-MEDIUM", 2L, 12L, 0L), ("zz_l", 2L, 8L, 4000000L)))
  }
}
