package graft

import org.apache.spark.sql.functions._

import graft.analytics.InferOps

/** Hand-computed fixtures for the round-8 inference operators: KS
  * sup-distance arithmetic (including the min-v tie-break), the
  * sequential-pattern first/last-occurrence witness (including the
  * same-type and reversed-order edge cases), Welch sufficient-statistic
  * arithmetic (including the exact equal-variance df identity), and
  * average-precision rank arithmetic.
  */
class InferOpsSpec extends SparkSpec {
  import spark.implicits._

  test("KS: fully separated samples give D = 1 at the last A value") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("v", "g")
    val r = InferOps.ksTest(df, col("v"), col("g") === "a", col("g") === "b")
      .collect().head
    assert(r.getAs[Long]("n_a") === 2L)
    assert(r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("ks_ppm") === 1000000L)
    assert(r.getAs[Long]("v_at") === 2L)
  }

  test("KS: interleaved samples, sup attained at several v — smallest wins") {
    // A={1,3}, B={2,4}: diffs by v are 2,0,2,0 (in cum_a·n_b−cum_b·n_a
    // units) → D = 2/4, first attained at v=1
    val df = Seq((1L, "a"), (3L, "a"), (2L, "b"), (4L, "b")).toDF("v", "g")
    val r = InferOps.ksTest(df, col("v"), col("g") === "a", col("g") === "b")
      .collect().head
    assert(r.getAs[Long]("ks_ppm") === 500000L)
    assert(r.getAs[Long]("v_at") === 1L)
  }

  test("KS: identical samples give D = 0") {
    val df = Seq((1L, "a"), (2L, "a"), (1L, "b"), (2L, "b")).toDF("v", "g")
    val r = InferOps.ksTest(df, col("v"), col("g") === "a", col("g") === "b")
      .collect().head
    assert(r.getAs[Long]("ks_ppm") === 0L)
  }

  private def ev(rows: (Long, String, String)*) =
    rows.toDF("user_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))

  test("seq patterns: single a<b<c run supports exactly (a,b,c)") {
    val e = ev((1L, "a", "2024-01-01 00:00:01"),
      (1L, "b", "2024-01-01 00:00:02"),
      (1L, "c", "2024-01-01 00:00:03"))
    val rows = InferOps.seqPatterns(e, topK = 100).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getAs[String]("step_a"), r.getAs[String]("step_b"),
      r.getAs[String]("step_c")) === (("a", "b", "c")))
    assert(r.getAs[Long]("n_sup") === 1L)
    assert(r.getAs[Long]("support_ppm") === 1000000L)
  }

  test("seq patterns: same-type triples need three occurrences") {
    // two b's: no (b,b,b) — the witness probe excludes first and last
    assert(InferOps.seqPatterns(
      ev((1L, "b", "2024-01-01 00:00:01"),
        (1L, "b", "2024-01-01 00:00:02")), topK = 100).collect().isEmpty)
    // three b's: (b,b,b) supported via the middle occurrence
    val rows = InferOps.seqPatterns(
      ev((1L, "b", "2024-01-01 00:00:01"),
        (1L, "b", "2024-01-01 00:00:02"),
        (1L, "b", "2024-01-01 00:00:03")), topK = 100).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("step_a") === "b")
    assert(rows.head.getAs[Long]("n_sup") === 1L)
  }

  test("seq patterns: order matters and support counts users") {
    // user 1 runs a,b,c; user 2 runs c,b,a — (a,b,c) has support 1,
    // (c,b,a) has support 1, and the ppm denominator is BOTH users
    val e = ev((1L, "a", "2024-01-01 00:00:01"),
      (1L, "b", "2024-01-01 00:00:02"),
      (1L, "c", "2024-01-01 00:00:03"),
      (2L, "c", "2024-01-01 00:00:01"),
      (2L, "b", "2024-01-01 00:00:02"),
      (2L, "a", "2024-01-01 00:00:03"))
    val rows = InferOps.seqPatterns(e, topK = 100).collect()
      .map(r => ((r.getAs[String]("step_a"), r.getAs[String]("step_b"),
        r.getAs[String]("step_c")), r.getAs[Long]("n_sup"),
        r.getAs[Long]("support_ppm"))).toSet
    assert(rows === Set((("a", "b", "c"), 1L, 500000L),
      (("c", "b", "a"), 1L, 500000L)))
  }

  private def wev(rows: (String, Long, String)*) =
    rows.toDF("event_type", "v", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))

  test("Welch: no drift gives t² = 0; small variances floor df via the guard") {
    // days 1..4 → mid = 3, early = days {1,2}; both halves {10, 20}
    val e = wev(("t", 10L, "2024-01-01 00:00:00"), ("t", 20L, "2024-01-02 00:00:00"),
      ("t", 10L, "2024-01-03 00:00:00"), ("t", 20L, "2024-01-04 00:00:00"))
    val r = InferOps.welchDrift(e, col("v")).collect().head
    assert(r.getAs[Long]("n_early") === 2L)
    assert(r.getAs[Long]("n_late") === 2L)
    assert(r.getAs[Long]("mean_early_micros") === 15L)
    assert(r.getAs[Long]("mean_late_micros") === 15L)
    assert(r.getAs[Long]("t2_ppm") === 0L)
    assert(r.getAs[Long]("df_micros") === 0L) // am = bm = 0 → guard path
  }

  test("Welch: equal variance and n recovers df = ne + nl − 2 exactly") {
    // early {0, 2000}, late {1000000, 1002000}: Δmean = 1e6,
    // ve = vl = 2e6 → a = b = 1e6, t² = (1e6)²·1e6/2e6 = 5e11 ppm,
    // am = bm = 1000 → df = (2000)²·1e6 / (1e6 + 1e6) = 2e6 = 2.0
    val e = wev(("t", 0L, "2024-01-01 00:00:00"), ("t", 2000L, "2024-01-02 00:00:00"),
      ("t", 1000000L, "2024-01-03 00:00:00"),
      ("t", 1002000L, "2024-01-04 00:00:00"))
    val r = InferOps.welchDrift(e, col("v")).collect().head
    assert(r.getAs[Long]("mean_early_micros") === 1000L)
    assert(r.getAs[Long]("mean_late_micros") === 1001000L)
    assert(r.getAs[Long]("t2_ppm") === 500000000000L)
    assert(r.getAs[Long]("df_micros") === 2000000L)
  }

  test("average precision: hit at rank 1 of 2 relevant gives AP = 1/2") {
    val emb = Seq(
      (1L, Array(1f, 0f), 0), // query
      (2L, Array(1f, 0f), 0), // rank 1, hit
      (3L, Array(0.9f, 0.1f), 1), // rank 2, miss
      (4L, Array(0f, 1f), 0)) // rank 3, cut by k=2; still counts in R
      .toDF("vec_id", "embedding", "label")
    val rows = InferOps.averagePrecision(emb, qHi = 1L, k = 2)
      .collect()
    assert(rows.length === 2)
    // orderBy(q_id) puts the zz row (−1) first
    val per = rows.find(_.getAs[Long]("q_id") === 1L).get
    assert(per.getAs[Long]("q_id") === 1L)
    assert(per.getAs[Long]("n_rel_k") === 2L)
    assert(per.getAs[Long]("n_hits") === 1L)
    assert(per.getAs[Long]("ap_micros") === 500000L)
    val zz = rows.find(_.getAs[Long]("q_id") === -1L).get
    assert(zz.getAs[Long]("ap_micros") === 500000L)
  }

  test("NB lang ID: disjoint vocabularies classify the holdout perfectly") {
    val docs = ((1L to 20L).map(i => (i, "apple banana cherry", "aa"))
      ++ (21L to 40L).map(i => (i, "zebra yak walrus", "bb")))
      .toDF("doc_id", "text", "lang")
    val rows = InferOps.nbLangId(docs).collect()
    val zz = rows.find(_.getAs[String]("lang") === "zz").get
    assert(zz.getAs[Long]("n_docs") > 0L) // the hash split has a holdout
    assert(zz.getAs[Long]("row_ppm") === 1000000L) // perfect accuracy
    // confusion matrix is purely diagonal
    assert(rows.filter(r => r.getAs[String]("lang") != "zz")
      .forall(r => r.getAs[String]("lang") === r.getAs[String]("pred")))
  }

  test("item CF: co-purchase cosine and the minSupport floor") {
    // baskets {p1,p2}, {p1,p2}, {p1,p3}: c1=3, c2=2, c3=1;
    // (p1,p2) c_ab=2 → cos² = 4e6/6 = 666666; (p1,p3) dropped (< 2)
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val rows = InferOps.itemNeighbors(li)
      .collect()
    assert(rows.length === 2)
    val m = rows.map(r => r.getAs[Long]("item") ->
      ((r.getAs[Long]("neighbor"), r.getAs[Long]("c_ab"),
        r.getAs[Long]("cos2_ppm")))).toMap
    assert(m(1L) === ((2L, 2L, 666666L)))
    assert(m(2L) === ((1L, 2L, 666666L)))
  }

  test("KMV sketch: below k the estimate is exact; at k it follows the k-th hash") {
    import org.apache.spark.sql.functions.{col => fcol}
    val small = (1L to 3L).map(i => ("g", s"v$i")).toDF("g", "v")
    val r3 = InferOps.kmvDistinct(small, "g", fcol("v"), k = 4).collect().head
    assert(r3.getAs[Long]("n_exact") === 3L)
    assert(r3.getAs[Long]("est") === 3L)
    assert(r3.getAs[Long]("err_ppm") === 0L)
    // 10 distinct values, k=4: est = 3·2^60 / h_4, replayed independently
    val big = (1L to 10L).map(i => ("g", s"v$i")).toDF("g", "v")
    val h4 = big.select(
        graft.text.TextStats.portableHash64(fcol("v")).as("h"))
      .orderBy(fcol("h")).limit(4).orderBy(fcol("h").desc).limit(1)
      .collect().head.getAs[Long]("h")
    val rb = InferOps.kmvDistinct(big, "g", fcol("v"), k = 4).collect().head
    assert(rb.getAs[Long]("n_exact") === 10L)
    assert(rb.getAs[Long]("est") ===
      (BigInt(3) * BigInt("1152921504606846976") / BigInt(h4)).toLong)
  }

  test("Fellegi-Sunter: full agreement outranks partial, flags are per-field") {
    // one block, balances 100 / 150 / 5000: pair (1,2) agrees on all
    // three fields, pairs with 3 disagree on both bucket fields
    val cust = Seq((1L, 1, "SEG", 100.0), (2L, 1, "SEG", 150.0),
      (3L, 1, "SEG", 5000.0))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
    val rows = InferOps.fellegiSunter(cust, topK = 10).collect()
    assert(rows.length === 3)
    val top = rows.head
    assert((top.getAs[Long]("id_a"), top.getAs[Long]("id_b")) === ((1L, 2L)))
    assert(top.getAs[Long]("agree_sign") === 1L)
    assert(top.getAs[Long]("agree_b1000") === 1L)
    assert(top.getAs[Long]("agree_b100") === 1L)
    val p13 = rows.find(r => r.getAs[Long]("id_b") === 3L).get
    assert(p13.getAs[Long]("agree_b1000") === 0L)
    assert(p13.getAs[Long]("agree_b100") === 0L)
    assert(top.getAs[Long]("score_nanos") > p13.getAs[Long]("score_nanos"))
  }

  private def writeEvents(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("infer_fix").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("Nelson-Aalen: hazard terms and the running sum match hand arithmetic") {
    // u1 converts day 0, u2/u3 day 2, u4 censored at day 4:
    // day 0: 4 at risk, 1 death → term 250000, H 250000
    // day 2: 3 at risk, 2 deaths → term 666666, H 916666
    val dir = writeEvents(Seq(
      (1L, ts("2024-01-01 08:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 09:00:00"), 1L, "purchase", 1.0, "{}"),
      (3L, ts("2024-01-01 08:00:00"), 2L, "view", 1.0, "{}"),
      (4L, ts("2024-01-03 08:00:00"), 2L, "purchase", 1.0, "{}"),
      (5L, ts("2024-01-01 08:00:00"), 3L, "view", 1.0, "{}"),
      (6L, ts("2024-01-03 09:00:00"), 3L, "purchase", 1.0, "{}"),
      (7L, ts("2024-01-01 08:00:00"), 4L, "view", 1.0, "{}"),
      (8L, ts("2024-01-05 08:00:00"), 4L, "view", 1.0, "{}")))
    val out = SparkEntry.queries("q201_nelson_aalen")(spark, dir).collect()
      .map(r => (r.getAs[Long]("day_off"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_deaths"), r.getAs[Long]("h_term_micros"),
        r.getAs[Long]("h_micros")))
    assert(out.toSeq === Seq((0L, 4L, 1L, 250000L, 250000L),
      (2L, 3L, 2L, 666666L, 916666L)))
  }

  test("position attribution: U-shape weights, k<=2 cases, and conservation") {
    // u1: view,click,view then purchase → 400000/200000/400000;
    // u2: click,error then purchase → 500000/500000
    val dir = writeEvents(Seq(
      (1L, ts("2024-01-02 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, ts("2024-01-02 11:00:00"), 1L, "click", 1.0, "{}"),
      (3L, ts("2024-01-02 12:00:00"), 1L, "view", 1.0, "{}"),
      (4L, ts("2024-01-02 13:00:00"), 1L, "purchase", 1.0, "{}"),
      (5L, ts("2024-01-02 10:00:00"), 2L, "click", 1.0, "{}"),
      (6L, ts("2024-01-02 11:00:00"), 2L, "error", 1.0, "{}"),
      (7L, ts("2024-01-02 12:00:00"), 2L, "purchase", 1.0, "{}")))
    val out = SparkEntry.queries("q202_position_attribution")(spark, dir).collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("n_touches"),
        r.getAs[Long]("credit_ppm")))
    assert(out.toSeq === Seq(("click", 2L, 700000L), ("error", 1L, 500000L),
      ("view", 2L, 800000L), ("zz", 2L, 2000000L)))
  }

  test("seasonal anomaly: deviation is measured against the SAME weekday") {
    // Mondays 10 vs 30 (mean 20 → dev 500000 each); Tuesdays 20 vs 20
    def burst(idBase: Long, day: String, n: Int) =
      (0 until n).map(i => (idBase + i, ts(s"$day 10:00:${"%02d".format(i)}"),
        1L, "view", 1.0, "{}"))
    val dir = writeEvents(
      burst(100L, "2024-01-01", 10) ++ burst(200L, "2024-01-08", 30)
        ++ burst(300L, "2024-01-02", 20) ++ burst(400L, "2024-01-09", 20))
    val out = SparkEntry.queries("q203_seasonal_anomaly")(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n_events"), r.getAs[Long]("mean_micros"),
        r.getAs[Long]("dev_ppm")))
    assert(out.take(2).toSeq === Seq(("2024-01-01", 10L, 20000000L, 500000L),
      ("2024-01-08", 30L, 20000000L, 500000L)))
    assert(out.drop(2).forall(_._4 === 0L))
  }

  test("forecast backtest: model and naive error sums replay the Holt fold") {
    // values 1,2,4: e_model = 1e6 then 2.35e6 (forecast 1.65e6),
    // e_naive = 1e6 then 2e6 → MASE = 1e6·3350000/3000000 = 1116666
    val dir = writeEvents(Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 7L, "view", 2.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 7L, "view", 4.0, "{}")))
    val out = SparkEntry.queries("q204_forecast_backtest")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("sae_model"), r.getAs[Long]("sae_naive"),
        r.getAs[Long]("mase_ppm")))
    assert(out.toSeq === Seq((-1L, 3L, 3350000L, 3000000L, 1116666L),
      (7L, 3L, 3350000L, 3000000L, 1116666L)))
  }

  test("markov attribution: removal effects replay the hand-built chain") {
    // u1: view,click,purchase  u2: view (no conv)  u3: click,purchase
    // u4: view,purchase
    // trans: START→view 3/4, START→click 1/4; view→{click,NULL,CONV}
    // 1/3 each; click→CONV 1.
    // K-step values: full v(START)=749999; no_view 250000; no_click
    // 249999 → removal view 499999 / click 500000, shares 499999 /
    // 500000 of te=999999.
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "purchase", 0.0, "{}"),
      (4L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0, "{}"),
      (5L, ts("2024-01-01 10:00:00"), 3L, "click", 0.0, "{}"),
      (6L, ts("2024-01-01 10:01:00"), 3L, "purchase", 0.0, "{}"),
      (7L, ts("2024-01-01 10:00:00"), 4L, "view", 0.0, "{}"),
      (8L, ts("2024-01-01 10:01:00"), 4L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = InferOps.markovAttribution(df, channels = Seq("view", "click"))
      .collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("conv_ppm"),
        r.getAs[Long]("removal_ppm"), r.getAs[Long]("share_ppm")))
    assert(out.toSeq === Seq(
      ("click", 249999L, 500000L, 500000L),
      ("view", 250000L, 499999L, 499999L),
      ("zz_full", 749999L, 0L, 0L)))
  }

  test("markov attribution: converted-only journeys credit START→CONV directly") {
    // u1's only event is the purchase itself → empty journey, the
    // START→CONV edge; u2 views without converting. Chain: START→CONV
    // 1/2, START→view 1/2, view→NULL 1 → full conv = 500000, removing
    // view changes nothing (its paths never convert).
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 0.0, "{}"),
      (2L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = InferOps.markovAttribution(df, channels = Seq("view", "click"))
      .collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("conv_ppm"),
        r.getAs[Long]("removal_ppm"), r.getAs[Long]("share_ppm")))
    // no_click drops nothing (click never occurs) → conv stays 500000;
    // no_view also stays 500000 (view's subtree is all NULL); both
    // removal effects 0, shares 0 of te=1 (the ÷0 guard).
    assert(out.toSeq === Seq(
      ("click", 500000L, 0L, 0L),
      ("view", 500000L, 0L, 0L),
      ("zz_full", 500000L, 0L, 0L)))
  }

  test("sprt: crossings fire at the 15th net observation in either direction") {
    // per-hit LLR = 200670695 nanos, bound ln 19 = 2944438979 → 15
    // same-direction observations cross (14·L = 2809389730 < bound).
    // A: 5 hits/day ×4 days → h1 at day 3 (15 obs); B: mirror → h0;
    // C: 5 misses only → continue at −5·L.
    val L = InferOps.sprtLPosNanos
    assert(L === 200670695L && InferOps.sprtBoundNanos === 2944438979L)
    val rows = for {
      (tpe, v) <- Seq(("A", 100.0), ("B", 1.0), ("C", 1.0))
      day <- 1 to (if (tpe == "C") 1 else 4)
      i <- 1 to 5
    } yield (tpe, ts(f"2024-01-0$day 10:0$i:00"), v)
    val df = rows.toDF("event_type", "ts", "value")
    val out = InferOps.sprtDaily(df).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_days"),
        r.getAs[Long]("n_obs"), r.getAs[String]("decision"),
        r.getAs[Long]("n_at_decision"), r.getAs[Long]("llr_nanos")))
    assert(out.toSeq === Seq(
      ("A", 4L, 20L, "h1", 15L, 15L * L),
      ("B", 4L, 20L, "h0", 15L, -15L * L),
      ("C", 1L, 5L, "continue", -1L, -5L * L)))
  }

  test("diff-in-diff: four cells and the DiD row replay the hand means") {
    // control u1: 10 pre / 12 post; treated u10: 20 pre / 30 post
    // → DiD = (30−20)−(12−10) = 8e6 micros.
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0, "{}"),
      (2L, ts("2024-01-09 10:00:00"), 1L, "purchase", 12.0, "{}"),
      (3L, ts("2024-01-01 10:00:00"), 10L, "purchase", 20.0, "{}"),
      (4L, ts("2024-01-09 10:00:00"), 10L, "purchase", 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = InferOps.diffInDiff(df, treat = col("user_id") >= 10L).collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("post"),
        r.getAs[Long]("n"), r.getAs[Long]("mean_micros")))
    assert(out.toSeq === Seq(
      (-1L, -1L, 4L, 8000000L),
      (0L, 0L, 1L, 10000000L), (0L, 1L, 1L, 12000000L),
      (1L, 0L, 1L, 20000000L), (1L, 1L, 1L, 30000000L)))
  }

  test("log-rank: O/E/V per event time and chi2 replay the hand table") {
    // view-first g=1: u1 dur 1 (event), u2 dur 3 (censored);
    // click-first g=0: u3 dur 2, u4 dur 1 (events).
    // t=1: d=2, d1=1, n=4, n1=2 → e1 = 1e6, v = 16e6 div 48 = 333333
    // t=2: d=1, d1=0, n=2, n1=1 → e1 = 5e5, v = 1e6 div 4 = 250000
    // zz: O=1, E=1.5e6, V=583333 → chi2 = (−5e5)² div 583333 = 428571.
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-02 10:00:00"), 1L, "purchase", 0.0, "{}"),
      (3L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0, "{}"),
      (4L, ts("2024-01-04 10:00:00"), 2L, "click", 0.0, "{}"),
      (5L, ts("2024-01-01 10:00:00"), 3L, "click", 0.0, "{}"),
      (6L, ts("2024-01-03 10:00:00"), 3L, "purchase", 0.0, "{}"),
      (7L, ts("2024-01-01 10:00:00"), 4L, "click", 0.0, "{}"),
      (8L, ts("2024-01-02 10:00:00"), 4L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = InferOps.logRank(df).collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("d1"), r.getAs[Long]("d"),
        r.getAs[Long]("n1"), r.getAs[Long]("n"), r.getAs[Long]("e1_micros"),
        r.getAs[Long]("v_micros"), r.getAs[Long]("chi2_micros")))
    assert(out.toSeq === Seq(
      (-1L, 1L, 3L, 0L, 0L, 1500000L, 583333L, 428571L),
      (1L, 1L, 2L, 2L, 4L, 1000000L, 333333L, 0L),
      (2L, 0L, 1L, 1L, 2L, 500000L, 250000L, 0L)))
  }

  test("cmh: stratified OR is 1 on a planted Simpson reversal") {
    // each stratum has OR = 1 (a·d = b·c), but pooling the tables
    // marginally gives OR = 2.25 — CMH must report 1e6, not 2.25e6.
    val dir = java.nio.file.Files.createTempDirectory("cmh_fix").toString
    import spark.implicits._
    Seq((1L, "c1", 1, 0.0, "BUILDING"), (2L, "c2", 1, 0.0, "AUTOMOBILE"),
      (3L, "c3", 2, 0.0, "BUILDING"), (4L, "c4", 2, 0.0, "AUTOMOBILE"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val t0 = ts("2024-01-01 10:00:00")
    def orders(ck: Long, nF: Int, nO: Int, base: Long) =
      (1 to nF).map(i => (base + i, ck, "F", 1.0, t0, "p")) ++
        (1 to nO).map(i => (base + 50 + i, ck, "O", 1.0, t0, "p"))
    (orders(1L, 8, 2, 100) ++ orders(2L, 4, 1, 200) ++
      orders(3L, 1, 4, 300) ++ orders(4L, 2, 8, 400))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q237_cmh_odds")(spark, dir).collect()
      .map(r => r.getAs[Long]("nk") -> (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("c"), r.getAs[Long]("d"), r.getAs[Long]("or_micros"))).toMap
    assert(out(1L) === ((8L, 2L, 4L, 1L, 0L)))
    assert(out(2L) === ((1L, 4L, 2L, 8L, 0L)))
    assert(out(-1L) === ((9L, 6L, 6L, 9L, 1000000L)))
  }

  test("classical decomposition: a constant series is pure trend") {
    // 9 days × 7 events → 3 full-window days, all with y = trend and
    // zero seasonal/remainder.
    val rows = for { d <- 1 to 9; j <- 1 to 7 } yield
      (d * 10L + j, ts(s"2024-01-0$d 10:00:0$j"), 1L, "view", 0.0, "{}")
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("dec_fix").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q238_classical_decomp")(spark, dir).collect()
      .map(r => (r.getAs[Long]("y_micros"), r.getAs[Long]("trend_micros"),
        r.getAs[Long]("seasonal_micros"), r.getAs[Long]("remainder_micros")))
    assert(out.length === 3)
    assert(out.forall(_ === ((7000000L, 7000000L, 0L, 0L))))
  }

  test("Shapley attribution: hand-computed phis and the efficiency band") {
    // u1: click→purchase (m1, conv), u2: view (m8), u3: click+view→
    // purchase (m9, conv), u4: error (m2). Hand Shapley (w24=[6,2,2,6],
    // truncating DIV toward zero): phi_click=694444, phi_error=-138888,
    // phi_signup=0, phi_view=-55555; v(15)-v(0)=500000 and the four
    // final floors keep |sum(phi) - 500000| <= 4.
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "purchase", 5.0, "{}"),
      (3L, ts("2024-01-02 10:00:00"), 2L, "view", 0.0, "{}"),
      (4L, ts("2024-01-03 10:00:00"), 3L, "click", 0.0, "{}"),
      (5L, ts("2024-01-03 11:00:00"), 3L, "view", 0.0, "{}"),
      (6L, ts("2024-01-03 12:00:00"), 3L, "purchase", 9.0, "{}"),
      (7L, ts("2024-01-04 10:00:00"), 4L, "error", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("shap_fix").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q250_shapley_attribution")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("phi_click") === 694444L)
    assert(out("phi_error") === -138888L)
    assert(out("phi_signup") === 0L)
    assert(out("phi_view") === -55555L)
    val phiSum = out("phi_click") + out("phi_error") + out("phi_signup") +
      out("phi_view")
    assert(math.abs(phiSum - (out("m15") - out("m00"))) <= 4L)
  }

  test("CEM ATT replays the hand-matched strata and drops one-armed ones") {
    // s1: treated {10, 20} mean 15, control {5} mean 5 → diff 10
    // s2: treated {100}, control {40, 60} mean 50 → diff 50
    // s3: treated only {999} → dropped (overlap audit)
    // ATT = (2·10 + 1·50) DIV 3 = 23
    val units = Seq(
      ("s1", 1L, 10L), ("s1", 1L, 20L), ("s1", 0L, 5L),
      ("s2", 1L, 100L), ("s2", 0L, 40L), ("s2", 0L, 60L),
      ("s3", 1L, 999L))
      .toDF("stratum", "treated", "y_micros")
    val out = graft.analytics.InferOps.cemAtt(units).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      ("s1", 2L, 1L, 15L, 5L, 10L),
      ("s2", 1L, 2L, 100L, 50L, 50L),
      ("zz_att", 3L, 3L, 23L, 0L, 0L),
      ("zz_unmatched", 1L, 0L, 0L, 0L, 0L)))
  }

  test("split-conformal: the finite-sample coverage guarantee holds on the " +
    "held-out split and the rank follows the ceil(0.9(n+1)) contract") {
    val dir = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q266_conformal")(spark, dir).collect().head
    val (nTrain, nCal, nTest) = (r.getAs[Long]("n_train"),
      r.getAs[Long]("n_cal"), r.getAs[Long]("n_test"))
    assert(nTrain + nCal + nTest ===
      spark.read.parquet(s"$dir/orders.parquet").count())
    assert(r.getAs[Long]("k_rank") ===
      math.min(((nCal + 1) * 9 + 9) / 10, nCal))
    // the conformal guarantee is P(cover) ≥ 0.9 in expectation over
    // splits; at n_test ≈ 300 the binomial noise band is ±5pp wide
    val cov = r.getAs[Long]("coverage_ppm")
    assert(cov >= 820000L && cov <= 1000000L, s"coverage_ppm=$cov")
    assert(r.getAs[Long]("qhat_micros") > 0L)
  }

  test("IPS replay: the hash match rate sits at the mixture 1/3 and the " +
    "estimate lands near the synthetic truth") {
    val dir = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q269_ips_offpolicy")(spark, dir).collect().head
    val (n, m) = (r.getAs[Long]("n"), r.getAs[Long]("n_matched"))
    // P(a_log = a*) = (1/2 + 1/3 + 1/6)/3 = 1/3 when a* is ~uniform;
    // at n = 1000 the binomial band is ±4.5pp at 3 sigma
    assert(m * 1000 / n > 250 && m * 1000 / n < 420, s"match rate $m/$n")
    assert(r.getAs[Long]("err_ips_ppm") < 300000L,
      s"IPS should track truth: err=${r.getAs[Long]("err_ips_ppm")} ppm")
    assert(r.getAs[Long]("v_snips_micros") > 0L)
  }

  test("regression discontinuity recovers a planted step at the cutoff") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // span 2024-01-01..01-12 → cutoff 01-07, bandwidth 1 day each side;
    // flat 10.0 on the left-day, flat 30.0 on the right-day → slopes 0,
    // boundary intercepts 1e7/3e7 micros, jump 2e7
    val dir = java.nio.file.Files.createTempDirectory("rd_fix").toString
    Seq((1L, "2024-01-01", 5.0), (2L, "2024-01-12", 7.0),
      (3L, "2024-01-06", 10.0), (4L, "2024-01-06", 10.0),
      (5L, "2024-01-07", 30.0), (6L, "2024-01-07", 30.0))
      .map { case (k, d, p) => (k, 1L, "O", p, ts(s"$d 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q275_regression_discontinuity")(spark, dir)
      .collect().head
    assert((r.getAs[Long]("h_days"), r.getAs[Long]("n_left"),
      r.getAs[Long]("n_right"), r.getAs[Long]("slope_left"),
      r.getAs[Long]("slope_right"), r.getAs[Long]("a_left"),
      r.getAs[Long]("a_right"), r.getAs[Long]("jump_micros")) ===
      ((1L, 2L, 2L, 0L, 0L, 10000000L, 30000000L, 20000000L)))
  }

  test("Cramer-von Mises: interleaved pairs accumulate exactly the hand L2 sum") {
    import spark.implicits._
    // clicks at values [1, 3], purchases at [2, 4]: scaled diffs
    // alternate [2, 0, 2, 0] → Σc·diff² = 8 → T = 8/(4²·2·2) = 0.125
    val dir = java.nio.file.Files.createTempDirectory("cvm_fix").toString
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-06-01 10:0$i:00")
    Seq((1L, ts(1), 1L, "click", 1.0, "{}"), (2L, ts(2), 1L, "click", 3.0, "{}"),
      (3L, ts(3), 1L, "purchase", 2.0, "{}"),
      (4L, ts(4), 1L, "purchase", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q345_cvm_test")(spark, dir).collect().head
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
      r.getAs[Long]("t_ppm")) === ((2L, 2L, 125000L)))
  }
}
