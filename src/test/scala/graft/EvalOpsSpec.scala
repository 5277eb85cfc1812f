package graft

import org.apache.spark.sql.functions._
import graft.analytics.EvalOps

/** Hand-computed fixtures for the evaluation / robust-statistics
  * operators: every expected value is derived on paper from the
  * documented integer micros/ppm arithmetic, including the floors the
  * declared queries can't isolate (per-bin gap before ECE, per-class
  * recall before balanced accuracy, the TVD half-sum).
  */
class EvalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("agreement report replays the textbook 2x2 kappa example") {
    // cells: (a,a)=20 (a,b)=5 (b,a)=10 (b,b)=15 → n=50, agree=35
    // pe_num = 25·30 + 25·20 = 1250; kappa = (1750-1250)e6/1250 = 400000
    // recalls 800000/600000 → bal acc 700000
    // MCC(a): tp=20 fp=10 fn=5 tn=15; num=250; den=30·25·25·20=375000
    //   → mcc2 = 250²·1e6 DIV 375000 = 166666
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val r = EvalOps.agreementReport(rows.toDF("act", "pred"), posClass = "a")
      .collect().head
    assert(r.getAs[Long]("n") === 50L)
    assert(r.getAs[Long]("agree") === 35L)
    assert(r.getAs[Long]("accuracy_micros") === 700000L)
    assert(r.getAs[Long]("kappa_micros") === 400000L)
    assert(r.getAs[Long]("bal_acc_micros") === 700000L)
    assert(r.getAs[Long]("mcc_sign") === 1L)
    assert(r.getAs[Long]("mcc2_micros") === 166666L)
  }

  test("agreement single-class degenerate hits the kappa guard, not ÷0") {
    // all act = pred = 'a': pe_num = n², denominator guard → kappa 0
    val r = EvalOps.agreementReport(
      Seq.fill(4)(("a", "a")).toDF("act", "pred"), posClass = "a").collect().head
    assert(r.getAs[Long]("accuracy_micros") === 1000000L)
    assert(r.getAs[Long]("kappa_micros") === 0L)
    assert(r.getAs[Long]("mcc_sign") === 0L) // tn = 0 → num = 0
  }

  test("spearman: ties and the centered doubled-rank arithmetic") {
    // x=(1,1,2) y=(1,2,3): ex=(-1,-1,2), ey=(-2,0,2)
    // sxy=6 sxx=6 syy=8 → rho2 = 36e6 DIV 48 = 750000, sign +
    val df = Seq(("g", 1L, 1L), ("g", 1L, 2L), ("g", 2L, 3L)).toDF("g", "x", "y")
    val r = EvalOps.spearmanMicros(df, "g").collect().head
    assert(r.getAs[Long]("sum_ex") === 0L) // centering certificate
    assert(r.getAs[Long]("sum_ey") === 0L)
    assert(r.getAs[Long]("rho_sign") === 1L)
    assert(r.getAs[Long]("rho2_micros") === 750000L)
  }

  test("spearman is 1 for any monotone map and -1 reversed") {
    val up = Seq(("g", 1L, 1L), ("g", 2L, 4L), ("g", 3L, 9L)).toDF("g", "x", "y")
    val ru = EvalOps.spearmanMicros(up, "g").collect().head
    assert(ru.getAs[Long]("rho_sign") === 1L)
    assert(ru.getAs[Long]("rho2_micros") === 1000000L)
    val dn = Seq(("g", 1L, 9L), ("g", 2L, 4L), ("g", 3L, 1L)).toDF("g", "x", "y")
    val rd = EvalOps.spearmanMicros(dn, "g").collect().head
    assert(rd.getAs[Long]("rho_sign") === -1L)
    assert(rd.getAs[Long]("rho2_micros") === 1000000L)
  }

  test("calibration bins, per-bin floors, and the ECE row") {
    val scored = Seq((50000L, true), (150000L, false), (150000L, true),
      (950000L, true), (1000000L, true)).toDF("score_ppm", "pos")
    val out = EvalOps.calibrationReport(scored).orderBy("bin").collect()
    val bins = out.map(r => r.getAs[Long]("bin") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("mean_score_ppm"),
        r.getAs[Long]("pos_ppm"), r.getAs[Long]("gap_ppm"))).toMap
    assert(bins(0L) === ((1L, 50000L, 1000000L, 950000L)))
    assert(bins(1L) === ((2L, 150000L, 500000L, 350000L)))
    assert(bins(9L) === ((2L, 975000L, 1000000L, 25000L))) // 1e6 clamps into bin 9
    // zz: mean = 2300000 DIV 5, pos = 4e6 DIV 5, ECE = 1700000 DIV 5
    assert(bins(999L) === ((5L, 460000L, 800000L, 340000L)))
  }

  test("winsorized/trimmed means at nearest-rank p10/p90 on 1..10") {
    // klo = ceil(1) = 1 → lo = 1; khi = ceil(9) = 9 → hi = 9
    // winsorized sum = 55 - 10 + 9 = 54; trimmed = mean(1..9) = 5
    val df = (1L to 10L).map(("g", _)).toDF("g", "x")
    val r = EvalOps.winsorizedMeans(df, "g").collect().head
    assert(r.getAs[Long]("lo") === 1L)
    assert(r.getAs[Long]("hi") === 9L)
    assert(r.getAs[Long]("wins_mean_micros") === 5400000L)
    assert(r.getAs[Long]("trim_n") === 9L)
    assert(r.getAs[Long]("trim_mean_micros") === 5000000L)
  }

  test("benford audit: observed ppm, absent digits, and the TVD row") {
    // digits: 1×3 (1,10,19), 2×2 (2,25), 9×1 (9); n = 6
    val df = Seq(1L, 10L, 19L, 2L, 25L, 9L).toDF("x")
    val out = EvalOps.benfordAudit(df, "x").orderBy("d").collect()
    val by = out.map(r => r.getAs[String]("d") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("obs_ppm"), r.getAs[Long]("dev_ppm"))).toMap
    assert(by("1") === ((3L, 500000L, 198970L)))
    assert(by("2") === ((2L, 333333L, 157242L)))
    assert(by("9") === ((1L, 166666L, 120909L)))
    assert(by("3")._1 === 0L) // absent digit still emits a row
    assert(by("3")._3 === 124939L)
    // TVD = (198970+157242+120909+477122) DIV 2
    assert(by("zz") === ((6L, 1000000L, 477121L)))
    // the nine Benford ppm literals partition 1e6 exactly
    assert(EvalOps.benfordPpm.map(_._2).sum === 1000000L)
  }

  test("retrieval eval: first-hit rank, reciprocal rank, and the zz MRR row") {
    // query 1 (label 7, vec (1,0)); corpus: id 2 label 9 at cos 1.0
    // (rank 1, miss), id 3 label 7 at cos≈0.994 (rank 2, hit)
    val emb = Seq(
      (1L, Array(1f, 0f), 7), (2L, Array(2f, 0f), 9), (3L, Array(0.9f, 0.1f), 7)
    ).toDF("vec_id", "embedding", "label")
    val out = EvalOps.retrievalEval(emb, qHi = 1L)
      .orderBy("q_id").collect()
    val per = out.find(_.getAs[Long]("q_id") == 1L).get
    assert(per.getAs[Long]("first_hit_rank") === 2L)
    assert(per.getAs[Long]("rr_micros") === 500000L)
    assert(per.getAs[Long]("n_hits") === 1L)
    assert(per.getAs[Long]("p10_micros") === 100000L)
    val zz = out.find(_.getAs[Long]("q_id") == -1L).get
    assert(zz.getAs[Long]("rr_micros") === 500000L) // single query: MRR = its RR
  }

  test("retrieval eval: query with no same-label doc floors to rank 0, rr 0") {
    val emb = Seq(
      (1L, Array(1f, 0f), 7), (2L, Array(1f, 0f), 9), (3L, Array(0f, 1f), 9)
    ).toDF("vec_id", "embedding", "label")
    val per = EvalOps.retrievalEval(emb, 1L)
      .filter(col("q_id") === 1L).collect().head
    assert(per.getAs[Long]("first_hit_rank") === 0L)
    assert(per.getAs[Long]("rr_micros") === 0L)
  }

  test("z-interleave: hand-computed bit placements and 8x8 bijectivity") {
    // z(3, 5): x bits {0,1} → z {0,2} = 5; y bits {0,2} → z {1,5} = 34
    val df = Seq((3L, 5L), (1L, 0L), (0L, 1L)).toDF("x", "y")
    val z = df.selectExpr(s"${EvalOps.zInterleave16Sql} AS z")
      .collect().map(_.getLong(0)).toSeq
    assert(z === Seq(39L, 1L, 2L))
    // the interleave is a bijection on the 8x8 grid → 64 distinct
    // values covering exactly 0..63
    val grid = (for { x <- 0L to 7L; y <- 0L to 7L } yield (x, y)).toDF("x", "y")
    val zs = grid.selectExpr(s"${EvalOps.zInterleave16Sql} AS z")
      .collect().map(_.getLong(0)).toSet
    assert(zs === (0L to 63L).toSet)
  }

  test("skew report: exact histogram percentiles and the salt factor") {
    // counts: u1 x5, u2/u3/u4 x1 → n_rows 8, n_keys 4, max 5
    // p50: k=2 → 1; p90: k=ceil(3.6)=4 → 5; p99: k=4 → 5
    // ideal = ceil(8/32) = 1 → salt = 5; top share = 625000 ppm
    val rows = (Seq.fill(5)(1L) ++ Seq(2L, 3L, 4L)).toDF("user_id")
    val r = EvalOps.skewReport(rows).collect().head
    assert(r.getAs[Long]("n_rows") === 8L)
    assert(r.getAs[Long]("n_keys") === 4L)
    assert(r.getAs[Long]("max_c") === 5L)
    assert(r.getAs[Long]("p50_c") === 1L)
    assert(r.getAs[Long]("p90_c") === 5L)
    assert(r.getAs[Long]("p99_c") === 5L)
    assert(r.getAs[Long]("top_key") === 1L)
    assert(r.getAs[Long]("top_share_ppm") === 625000L)
    assert(r.getAs[Long]("salt_factor") === 5L)
  }

  test("RFM features: exact monetary micros and deterministic quintiles") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("rfm_fix").toString
    Seq(
      (1L, 10L, "O", 100.5, Timestamp.valueOf("2024-01-01 00:00:00"), "1-URGENT"),
      (2L, 10L, "O", 200.25, Timestamp.valueOf("2024-01-11 00:00:00"), "1-URGENT"),
      (3L, 20L, "O", 50.0, Timestamp.valueOf("2024-01-06 00:00:00"), "1-URGENT")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q160_rfm_features")(spark, dir)
      .collect().map(r => r.getAs[Long]("o_custkey") ->
        (r.getAs[Long]("recency_days"), r.getAs[Long]("frequency"),
          r.getAs[Long]("monetary_micros"), r.getAs[Long]("rfm_code"))).toMap
    // c10: recency 0, freq 2, monetary 300.75e6 → best on all → 222
    // (2 rows over 5 tiles: tiles 1 and 2)
    assert(out(10L) === ((0L, 2L, 300750000L, 222L)))
    assert(out(20L) === ((5L, 1L, 50000000L, 111L)))
  }

  test("quantile normalization maps every source onto the corpus distribution") {
    val dir = java.nio.file.Files.createTempDirectory("qn_fix").toString
    Seq(
      (1L, "a", "en", "A", 1L), (2L, "a b", "en", "A", 3L),
      (3L, "a b c", "en", "B", 5L), (4L, "a b c d", "en", "B", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q161_quantile_norm")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("mean_before_micros"), r.getAs[Long]("mean_after_micros"))).toMap
    // A=[1,2] ranks 1,2 of 2 → corpus order stats at k=2,4 → [2,4];
    // B=[3,4] → same ks → [2,4]: both sources land on mean 3e6
    assert(out("A") === ((1500000L, 3000000L)))
    assert(out("B") === ((3500000L, 3000000L)))
  }

  test("eval operators tolerate null text/lang and empty inputs") {
    // null-feature rows: spearman/winsorize must not throw; benford
    // skips nulls and non-positives by contract
    val r = EvalOps.winsorizedMeans(
      Seq(("g", Option(5L)), ("g", Option.empty[Long])).toDF("g", "x"), "g")
      .collect().head
    assert(r.getAs[Long]("n") === 1L)
    val b = EvalOps.benfordAudit(
      Seq(Option(7L), Option.empty[Long], Option(0L)).toDF("x"), "x")
      .filter("d = 'zz'").collect().head
    assert(b.getAs[Long]("n_docs") === 1L)
  }

  test("split conformal picks the ⌈0.9(n+1)⌉-th residual and scores test coverage") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("conformal_fix").toString
    // cal (even ids): values 1..9 → mean 5e6, sorted |v−5|e6 =
    // [0,1,1,2,2,3,3,4,4]; k = ⌈0.9·10⌉ = 9 → q̂ = 4e6.
    // test (odd ids): 0.5 (score 4.5e6, out), 5.5 (in), 9.0 (4e6, in)
    // → coverage 2e6 DIV 3 = 666666.
    val cal = (1 to 9).map(i => (i * 2L, ts, 1L, "view", i.toDouble, "{}"))
    val tst = Seq((1L, ts, 1L, "view", 0.5, "{}"),
      (3L, ts, 1L, "view", 5.5, "{}"), (5L, ts, 1L, "view", 9.0, "{}"))
    // a type whose n_cal is too small for the 90% index (k > n_cal)
    // has no finite q̂ and must drop from the report entirely
    val tiny = Seq((100L, ts, 1L, "click", 1.0, "{}"),
      (101L, ts, 1L, "click", 2.0, "{}"))
    (cal ++ tst ++ tiny)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q172_conformal")(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("et") === "view")
    assert(r.getAs[Long]("n_cal") === 9L)
    assert(r.getAs[Long]("n_test") === 3L)
    assert(r.getAs[Long]("mean_cal_micros") === 5000000L)
    assert(r.getAs[Long]("qhat_micros") === 4000000L)
    assert(r.getAs[Long]("coverage_ppm") === 666666L)
  }

  test("NDCG@10: nano discounts, ideal normalization, and the mean row") {
    val dir = java.nio.file.Files.createTempDirectory("ndcg_fix").toString
    // query 1 = (1,0) label 1; ranking: 21 (rel, rank 1), 22 (rank 2),
    // 23 (rel, rank 3), 24. R = 2 →
    // DCG = 1e9 + 5e8; IDCG = 1e9 + round(1e9/log2(3)) = 1630929754
    // → ndcg_ppm = 15e14 // 1630929754 = 919720
    Seq(
      (1L, Array(1.0f, 0.0f), 1),
      (21L, Array(1.0f, 0.0f), 1),
      (22L, Array(0.9f, 0.1f), 0),
      (23L, Array(0.5f, 0.5f), 1),
      (24L, Array(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q180_ndcg")(spark, dir).collect()
      .map(r => r.getAs[Long]("q_id") -> (r.getAs[Long]("dcg_nanos"),
        r.getAs[Long]("idcg_nanos"), r.getAs[Long]("ndcg_ppm"))).toMap
    assert(out(1L) === ((1500000000L, 1630929754L, 919720L)))
    assert(out(-1L)._3 === 919720L) // mean over the single query
  }

  test("isotonic minimax pools a decreasing rate sequence to the weighted mean") {
    val dir = java.nio.file.Files.createTempDirectory("iso_fix").toString
    // stopword-ratio bins: "xx yy"→bin 0 (2 docs, both en → rate 1e6),
    // "the xx"→bin 5 (1 of 2 en → 500000), "the the xx"→bin 6 (0) —
    // globally decreasing, so PAV pools ALL bins to 3/5 = 600000
    Seq((1L, "xx yy", "en", "A", 5L), (2L, "xx yy", "en", "A", 5L),
      (3L, "the xx", "en", "A", 6L), (4L, "the xx", "fr", "A", 6L),
      (5L, "the the xx", "fr", "A", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q190_isotonic")(spark, dir).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("rate_ppm"),
        r.getAs[Long]("iso_ppm"), r.getAs[Boolean]("monotone_ok")))
    assert(out.toSeq === Seq(
      (0L, 1000000L, 600000L, true),
      (5L, 500000L, 600000L, true),
      (6L, 0L, 600000L, true)))
  }

  test("woe/iv: two mirrored bins replay the smoothed log arithmetic") {
    // bin1 g=4 b=1, bin2 g=1 b=4 (values 0..4 / 5..9, 2 bins):
    // gs/bs = (g+1)·1e6 div 7 → 714285/285714; woe = ±(L6−L2... ) =
    // ±916290731 nanos; iv per bin = 392695 micros; IV total 785390.
    val df = ((0 to 3).map(v => (v.toLong, false)) ++ Seq((4L, true)) ++
      Seq((5L, false)) ++ (6 to 9).map(v => (v.toLong, true)))
      .toDF("v", "bad")
    val out = EvalOps.woeIv(df, valueMicros = col("v"), isBad = col("bad"),
        bins = 2).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_good"),
        r.getAs[Long]("n_bad"), r.getAs[Long]("gs_ppm"),
        r.getAs[Long]("bs_ppm"), r.getAs[Long]("woe_nanos"),
        r.getAs[Long]("iv_micros")))
    assert(out.toSeq === Seq(
      (-1L, 5L, 5L, 0L, 0L, 0L, 785390L),
      (1L, 4L, 1L, 714285L, 285714L, 916290731L, 392695L),
      (2L, 1L, 4L, 285714L, 714285L, -916290731L, 392695L)))
  }

  test("label-noise audit flags the planted mislabel and only it") {
    val dir = java.nio.file.Files.createTempDirectory("noise_fix").toString
    // two clean 2-D clusters + vec 4: sits inside cluster 1's cone but
    // carries label 0 → all 5 of its neighbors disagree; every other
    // vector has ≥2 same-label vectors among its top 5.
    Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.8f, 0.2f), 0),
      (4L, Seq(0.0f, 1.0f), 0), // mislabeled
      (5L, Seq(0.0f, 0.9f), 1), (6L, Seq(0.1f, 1.0f), 1),
      (7L, Seq(0.05f, 0.95f), 1), (8L, Seq(0.15f, 0.85f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q230_label_noise")(spark, dir).collect()
      .map(r => r.getAs[Long]("label") -> (r.getAs[Long]("n_points"),
        r.getAs[Long]("n_noisy"))).toMap
    assert(out(0L) === ((4L, 1L)), "exactly the planted point is noisy")
    assert(out(1L)._2 === 0L)
    assert(out(-1L) === ((8L, 1L)))
  }

  test("mmr rerank: duplicates are demoted by exactly the diversity penalty") {
    val dir = java.nio.file.Files.createTempDirectory("mmr_fix").toString
    // query (1,0); candidates 1,2 identical to it (rel 1e6), 3
    // orthogonal (rel 0). Picks: 1 (λ·rel = 700000), then its
    // duplicate 2 at 400000 (the −3e5·1e6 div 1e6 penalty), then 3 at
    // 0 — and a 3-candidate pool must yield exactly 3 rows, not 5.
    Seq((0L, Seq(1.0f, 0.0f), 0), (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0), (3L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q235_mmr_rerank")(spark, dir).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rel_micros"), r.getAs[Long]("mmr_score_micros")))
    assert(out.toSeq === Seq(
      (1L, 1L, 1000000L, 700000L),
      (2L, 2L, 1000000L, 400000L),
      (3L, 3L, 0L, 0L)))
  }

  test("RBO: identical rankings score 1, disjoint rankings score 0") {
    def ranked(ids: Seq[Long]) =
      ids.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
        .toDF("doc_id", "pos")
    val same = EvalOps.rboTruncated(ranked(1L to 5L), ranked(1L to 5L), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toMap2
    // identical lists: X_d = d at every depth, so term_d = (1-p)p^(d-1)
    // and the truncated sum is 1 − p^k = 1 − 0.9^5 = 0.40951 exactly;
    // per-term truncation can only lose nanos, hence the ±5 band.
    val rboSame = same((99L))._2
    assert(math.abs(rboSame - 409510000L) <= 5L)
    val disj = EvalOps.rboTruncated(ranked(1L to 5L), ranked(11L to 15L), k = 5)
      .collect().filter(_.getLong(0) == 99L).head
    assert(disj.getLong(1) === 0L && disj.getLong(2) === 0L)
  }

  test("CKA: an exact linear rescale of the view scores 1") {
    // y = 3x is a pure per-matrix scale → CKA must be exactly 1
    // (the invariance the operator exists to measure).
    val xy = (for (v <- 1 to 6; i <- 1 to 2) yield
      (v.toLong, i.toLong, (v * i).toDouble / 7.0, 3.0 * (v * i).toDouble / 7.0))
      .toDF("vec_id", "i", "x", "y")
    val r = EvalOps.linearCka(xy, dim = 2).collect().head
    assert(r.getAs[Long]("n") === 6L)
    assert(math.abs(r.getAs[Double]("cka_r") - 1.0) < 1e-5)
  }

  test("Krippendorff alpha matches the hand-computed 2x2 gate table") {
    import spark.implicits._
    // (ra, rb) per doc: (1,1), (0,0), (1,0), (0,1) → N=4, disagree=2,
    // n1=4, n0=4, M=8: D_o = 1/2, D_e = 32/56, alpha = 1 − (2·8·7·1e6)
    // DIV (2·4·4·4)/1e6 = 1 − 0.875 = 0.125
    val dir = java.nio.file.Files.createTempDirectory("kripp_fix").toString
    def toks(k: Int) = Seq.fill(k)("w").mkString(" ")
    Seq((1L, toks(60), 350L), (2L, toks(30), 200L),
      (3L, toks(30), 350L), (4L, toks(60), 200L))
      .map { case (id, t, nc) => (id, t, "en", "src", nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q270_krippendorff")(spark, dir).collect().head
    assert((r.getAs[Long]("n_units"), r.getAs[Long]("n0"), r.getAs[Long]("n1"),
      r.getAs[Long]("n_disagree"), r.getAs[Long]("d_o_ppm"),
      r.getAs[Long]("d_e_ppm"), r.getAs[Long]("alpha_micros")) ===
      ((4L, 4L, 4L, 2L, 500000L, 571428L, 125000L)))
  }

  test("Mahalanobis outliers match the hand-standardized 2-D triangle") {
    import spark.implicits._
    // micros per dim: [0, 5e5, 0] and [0, 0, 5e5] → per dim vn = 5e11,
    // terms (3x−S)²·1e6/vn: center 5e5, spike 2e6 → scores 1e6 / 2.5e6
    val dir = java.nio.file.Files.createTempDirectory("maha_fix").toString
    Seq((1L, Array(0f, 0f), 0), (2L, Array(0.5f, 0f), 0), (3L, Array(0f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q272_mahalanobis_outliers")(spark, dir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score_ppm")))
    assert(out.toSeq === Seq((2L, 2500000L), (3L, 2500000L), (1L, 1000000L)))
  }

  test("label windows: firewall certified, cold-start users excluded") {
    import java.sql.Timestamp
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("lbl_fix").toString
    // span day0..day3 → cutoff day2; u1 obs day0 + outcome day2 → label 1;
    // u2 obs day1 only → label 0; u3 outcome-only day3 → excluded
    Seq((1L, "2024-06-01", 1L, "click"), (2L, "2024-06-03", 1L, "purchase"),
      (3L, "2024-06-02", 2L, "purchase"), (4L, "2024-06-04", 3L, "view"))
      .map { case (id, d, u, t) => (id, ts(s"$d 12:00:00"), u, t, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q285_label_windows")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events_obs"),
        r.getAs[Long]("n_purchase_obs"), r.getAs[Long]("label")))
    assert(rows.toSeq === Seq(
      (-1L, 2L, 19877L, 1L),          // zz: 2 users, cutoff od, leak_free=1
      (1L, 1L, 0L, 1L), (2L, 1L, 1L, 0L)))
  }

  test("Brier decomposition: Murphy identity holds within the floor slop") {
    val dir = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q286_brier_decomposition")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("murphy_ok") === 1L)
    assert(r.getAs[Long]("rel_micros") >= 0L)
    assert(r.getAs[Long]("res_micros") >= 0L)
    val ybar = r.getAs[Long]("ybar_ppm")
    // unc = ȳ(1−ȳ) ≤ 250000 micros always
    assert(r.getAs[Long]("unc_micros") <= 250000L && ybar <= 1000000L)
  }

  test("negative sampling: exactly 5 per anchor, labels always differ, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q287_negative_sampling")(spark, dir).collect()
    val byAnchor = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(byAnchor.size === 500 && byAnchor.values.forall(_.length == 5))
    assert(rows.forall(r =>
      r.getAs[Long]("anchor_label") != r.getAs[Long]("neg_label")))
    assert(rows.forall(r => r.getAs[Long]("neg_id") != r.getAs[Long]("vec_id")))
    val again = SparkEntry.queries("q287_negative_sampling")(spark, dir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neg_rank"),
        r.getAs[Long]("neg_id")))
    assert(again.toSet === rows.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Long]("neg_rank"), r.getAs[Long]("neg_id"))).toSet)
  }

  test("silhouette: partition accounting closes and scores stay in [-1, 1]") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q288_silhouette")(spark, dir).collect()
    val per = rows.filter(_.getAs[Long]("cid") >= 0L)
    val zz = rows.find(_.getAs[Long]("cid") == -1L).get
    assert(per.map(_.getAs[Long]("n_members")).sum === zz.getAs[Long]("n_members"))
    assert(rows.forall(r => math.abs(r.getAs[Long]("mean_sil_micros")) <= 1000000L))
  }

  test("adversarial validation on an A/A split reads ~0.5 and is symmetric") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q289_adversarial_validation")(spark, dir)
      .collect().map(r => (r.getAs[String]("feature"), r.getAs[String]("split"),
        r.getAs[Long]("auc_micros")))
    assert(rows.length === 4)
    assert(rows.forall { case (_, _, a) => a > 400000L && a < 600000L })
    // AUC(A as positive) + AUC(B as positive) = 1 up to the two floors
    rows.groupBy(_._1).foreach { case (_, fr) =>
      val s = fr.map(_._3).sum
      assert(s >= 999998L && s <= 1000000L, s"asymmetric AUC pair: $fr")
    }
  }

  test("Bradley-Terry: transitive dominance orders the strengths") {
    import spark.implicits._
    // three parts sharing orders; part 1 always gets the largest
    // quantity, part 2 the middle, part 3 the least — every duel is
    // 1 > 2 > 3, so the MM fixed point must order s1 > s2 > s3
    val li = (1 to 8).flatMap { o =>
      Seq((o.toLong, 1L, 30.0), (o.toLong, 2L, 20.0), (o.toLong, 3L, 10.0))
    }.toDF("l_orderkey", "l_partkey", "l_quantity")
    val out = graft.analytics.EvalOps.bradleyTerry(li)
      .collect().map(r => r.getAs[Long]("p") ->
        (r.getAs[Long]("n_wins"), r.getAs[Long]("strength_micros"))).toMap
    assert(out(1L)._1 === 16L && out(2L)._1 === 8L && out(3L)._1 === 0L,
      s"win counts: $out")
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > out(3L)._2,
      s"dominance must order strengths: $out")
    assert(out(3L)._2 === 0L, "a never-winning part sits at the MM zero fixed point")
  }

  test("SAX segments: constant series is all-'c', a step series splits the alphabet") {
    import spark.implicits._
    val flat = (0L until 32L).map(i => (i, 100L)).toDF("od", "x")
    val fs = graft.analytics.TemporalOps.saxSegments(flat).collect()
    assert(fs.forall(_.getAs[String]("symbol") == "c"),
      "zero z-score must land in 'c' (the [0, 0.6745) letter)")
    // low half then high half: first 8 segments below the mean, last 8 above
    val step = (0L until 32L).map(i => (i, if (i < 16) 0L else 1000L)).toDF("od", "x")
    val ss = graft.analytics.TemporalOps.saxSegments(step).collect()
      .map(r => r.getAs[Long]("seg") -> r.getAs[String]("symbol")).toMap
    assert((0L to 7L).forall(s => ss(s) == "a") && (8L to 15L).forall(s => ss(s) == "d"),
      s"step series must use the outer letters: $ss")
  }

  test("Fleiss kappa: hand votes across the three profile raters") {
    import spark.implicits._
    // doc1 "the and of is that": all raters en (s=9); doc2 "the von
    // mit": full+h2 say de, h1 says en (s=5); doc3 "zzz": all-zero
    // scores tie to fr on every rater (s=9). N=3, S=23, c = (en 4,
    // de 2, fr 3), Σc² = 29 → κ = (9·14 − 58)/(162 − 58) = 68/104
    val dir = java.nio.file.Files.createTempDirectory("fleiss_fix").toString
    Seq((1L, "the and of is that", "en", "A", 18L),
      (2L, "the von mit", "de", "A", 11L),
      (3L, "zzz", "en", "A", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q354_fleiss_kappa")(spark, dir).collect()
      .map(r => (r.getAs[String]("cat"), r.getAs[Long]("n_ratings"),
        r.getAs[Long]("stat_ppm")))
    assert(out.toSeq === Seq(("de", 2L, 222222L), ("en", 4L, 444444L),
      ("fr", 3L, 333333L), ("zz_kappa", 9L, 653846L),
      ("zz_pbar", 9L, 777777L)))
  }

  private implicit class Map2[A](rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] =
      rows.map { case (d, x, t) => d -> (x, t) }.toMap
  }
}
