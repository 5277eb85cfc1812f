package graft

import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the round-7 temporal operators (the rest
  * of TemporalOps is pinned by the q50/q51/q52/q69 oracles and
  * MiningOpsSpec's interval-overlap case).
  */
class TemporalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("SCD2 history compresses runs and stitches validity intervals") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // user 7: A A B A  → 3 versions: A[10:00,10:20) B[10:20,10:30) A[10:30,∞)
    val dir = java.nio.file.Files.createTempDirectory("scd2_fix").toString
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "A", 0.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 7L, "A", 0.0, "{}"),
      (3L, ts("2024-01-01 10:20:00"), 7L, "B", 0.0, "{}"),
      (4L, ts("2024-01-01 10:30:00"), 7L, "A", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q157_scd2_history")(spark, dir).collect()
    assert(out.length === 3)
    val v = out.map(r => (r.getAs[Long]("version"), r.getAs[String]("state"),
      r.getAs[Timestamp]("valid_from"), Option(r.getAs[Timestamp]("valid_to")),
      r.getAs[Boolean]("is_current")))
    assert(v(0) === ((1L, "A", ts("2024-01-01 10:00:00"),
      Some(ts("2024-01-01 10:20:00")), false)))
    assert(v(1) === ((2L, "B", ts("2024-01-01 10:20:00"),
      Some(ts("2024-01-01 10:30:00")), false)))
    assert(v(2) === ((3L, "A", ts("2024-01-01 10:30:00"), None, true)))
  }

  test("EWMA replays the integer recurrence in event order") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // values 1, 2, 4 with α=0.3: s1=1e6; s2=(0.3·2+0.7·1)e6=1.3e6;
    // s3=(0.3·4+0.7·1.3)e6=2.11e6 — every step floored
    val dir = java.nio.file.Files.createTempDirectory("ewma_fix").toString
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 7L, "view", 2.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 7L, "view", 4.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q162_ewma")(spark, dir).collect().head
    assert(r.getAs[Long]("n_events") === 3L)
    assert(r.getAs[Long]("ewma_micros") === 2110000L)
  }

  test("gap-fill densifies the per-user span and forward-fills from the last observed day") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // user 7 views Jan 1 (1.5) and Jan 3 (2.0 + 0.5): Jan 2 is absent
    // from the data but must appear filled with Jan 1's sum; the
    // purchase row must not leak into the view resample
    val dir = java.nio.file.Files.createTempDirectory("gapfill_fix").toString
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.5, "{}"),
      (2L, ts("2024-01-03 09:00:00"), 7L, "view", 2.0, "{}"),
      (3L, ts("2024-01-03 11:00:00"), 7L, "view", 0.5, "{}"),
      (4L, ts("2024-01-02 10:00:00"), 7L, "purchase", 99.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q166_gapfill")(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n_obs"), r.getAs[Boolean]("is_filled"),
        r.getAs[Long]("filled_sum_micros")))
    assert(out.toSeq === Seq(
      ("2024-01-01", 1L, false, 1500000L),
      ("2024-01-02", 0L, true, 1500000L),
      ("2024-01-03", 2L, false, 2500000L)))
  }

  test("event-transition matrix counts consecutive pairs and row-normalizes in ppm") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("trans_fix").toString
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 0.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 7L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 7L, "view", 0.0, "{}"),
      (4L, ts("2024-01-01 10:03:00"), 7L, "click", 0.0, "{}"),
      (5L, ts("2024-01-01 10:00:00"), 8L, "view", 0.0, "{}") // lone event: no pair
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q174_event_transitions")(spark, dir).collect()
      .map(r => (r.getAs[String]("src_et"), r.getAs[String]("dst_et"),
        r.getAs[Long]("n"), r.getAs[Long]("p_ppm")))
    assert(out.toSeq === Seq(
      ("click", "view", 1L, 1000000L), ("view", "click", 2L, 1000000L)))
  }

  test("Kaplan-Meier steps at conversion days with censored users leaving the risk set") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("km_fix").toString
    Seq(
      // u1, u2: enter Jan 1, purchase Jan 3 → death at offset 2
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      (2L, ts("2024-01-03 10:00:00"), 1L, "purchase", 1.0, "{}"),
      (3L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0, "{}"),
      (4L, ts("2024-01-03 11:00:00"), 2L, "purchase", 1.0, "{}"),
      // u3: enters Jan 1, never purchases; last global day Jan 5 →
      // censored at offset 4 (leaves risk set, no survival step)
      (5L, ts("2024-01-01 10:00:00"), 3L, "view", 0.0, "{}"),
      (6L, ts("2024-01-05 10:00:00"), 3L, "view", 0.0, "{}"),
      // u4: enters and purchases Jan 2 → death at offset 0
      (7L, ts("2024-01-02 09:00:00"), 4L, "view", 0.0, "{}"),
      (8L, ts("2024-01-02 10:00:00"), 4L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q175_kaplan_meier")(spark, dir).collect()
      .map(r => (r.getAs[Long]("day_off"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_deaths"), r.getAs[Long]("s_micros")))
    // day 0: 4 at risk, 1 death → S = 750000
    // day 2: 3 at risk, 2 deaths → S = floor(750000/3) = 250000
    // day 4: censor only → no row
    assert(out.toSeq === Seq((0L, 4L, 1L, 750000L), (2L, 3L, 2L, 250000L)))
  }

  test("Holt trend replays both floored recurrences in order") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("holt_fix").toString
    // values 1, 2, 4 (α=.5, β=.3): l₁=1e6,b₁=0 → l₂=1.5e6, b₂=150000
    // → l₃=(.5·4e6+.5·1.65e6)=2825000, b₃=(.3·1325000+.7·150000)=502500
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 7L, "view", 2.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 7L, "view", 4.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q176_holt_trend")(spark, dir).collect().head
    assert(r.getAs[Long]("n_events") === 3L)
    assert(r.getAs[Long]("level_micros") === 2825000L)
    assert(r.getAs[Long]("trend_micros") === 502500L)
    assert(r.getAs[Long]("forecast_micros") === 3327500L)
  }

  test("CUSUM accumulates drift on both sides and alarms past mu/2") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("cusum_fix").toString
    // daily counts 1, 1, 4 → μ=2e6, k=1e5, h=1e6:
    // d1: s_lo=0.9e6 (no alarm); d2: s_lo=1.8e6 (alarm);
    // d3: s_hi=1.9e6 (alarm), s_lo resets to 0
    (Seq((1L, "2024-01-01"), (2L, "2024-01-02")) ++
      (3 to 6).map(i => (i.toLong, "2024-01-03")))
      .map { case (e, d) => (e, ts(s"$d 10:00:00"), 1L, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q182_cusum")(spark, dir).collect()
      .map(r => (r.getAs[Long]("x_micros"), r.getAs[Long]("s_hi"),
        r.getAs[Long]("s_lo"), r.getAs[Boolean]("alarm")))
    assert(out.toSeq === Seq(
      (1000000L, 0L, 900000L, false),
      (1000000L, 0L, 1800000L, true),
      (4000000L, 1900000L, 0L, true)))
  }

  test("autocorrelation replays the integer-centered cross products per lag") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("acf_fix").toString
    // daily counts 1,2,1,2: c = 4x−6 = [−2,2,−2,2], den = 16 →
    // r₁ = −12e6÷16 = −750000, r₂ = 500000, r₃ = −250000; lags 4..7
    // have no pairs and emit no row
    val days = Seq(("2024-01-01", 1), ("2024-01-02", 2),
      ("2024-01-03", 1), ("2024-01-04", 2))
    days.zipWithIndex.flatMap { case ((d, n), i) =>
      (1 to n).map(j => (i * 10L + j, ts(s"$d 10:00:00"), 1L, "view", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q183_autocorr")(spark, dir).collect()
      .map(r => (r.getAs[Long]("lag"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("r_micros")))
    assert(out.toSeq === Seq((1L, 3L, -750000L), (2L, 2L, 500000L),
      (3L, 1L, -250000L)))
  }

  test("Mann-Kendall flags a monotone series and zeroes out on constants") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    def write(dir: String, counts: Seq[Int]): Unit =
      counts.zipWithIndex.flatMap { case (n, i) =>
        (1 to n).map(j => (i * 100L + j,
          ts(f"2024-01-${i + 1}%02d 10:00:00"), 1L, "view", 0.0, "{}"))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // 1,2,3,4,5: S = C(5,2) = 10, no ties → var18 = 5·4·15 = 300;
    // 10000·18·81 = 14,580,000 > 38416·300 = 11,524,800 → increasing
    val d1 = java.nio.file.Files.createTempDirectory("mk_inc").toString
    write(d1, Seq(1, 2, 3, 4, 5))
    val r1 = SparkEntry.queries("q206_mann_kendall")(spark, d1).collect().head
    assert((r1.getAs[Long]("n_days"), r1.getAs[Long]("s"),
      r1.getAs[Long]("var18"), r1.getAs[String]("trend")) ===
      ((5L, 10L, 300L, "increasing")))
    // constant 2,2,2: S = 0 and the single tie group t=3 cancels the
    // variance entirely (var18 = 66 − 66 = 0) → no_trend
    val d2 = java.nio.file.Files.createTempDirectory("mk_const").toString
    write(d2, Seq(2, 2, 2))
    val r2 = SparkEntry.queries("q206_mann_kendall")(spark, d2).collect().head
    assert((r2.getAs[Long]("n_days"), r2.getAs[Long]("s"),
      r2.getAs[Long]("var18"), r2.getAs[String]("trend")) ===
      ((3L, 0L, 0L, "no_trend")))
  }

  test("Theil-Sen shrugs off the outlier day that would drag an OLS slope") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("ts_fix").toString
    // counts 1,3,5,100: pairwise slopes (micros)
    // [2e6, 2e6, 33e6, 2e6, 48.5e6, 95e6] → lower median (rank 3 of 6)
    // = 2e6, the true pre-outlier slope. Intercept is at the epoch
    // origin (od = days since 1970, same x both engines use):
    // x·1e6 − 2e6·od = −39445e6 for the three on-trend days, 60548e6
    // for the outlier → lower median (rank 2 of 4) = −39445e6
    Seq(1, 3, 5, 100).zipWithIndex.flatMap { case (n, i) =>
      (1 to n).map(j => (i * 1000L + j,
        ts(f"2024-01-${i + 1}%02d 10:00:00"), 1L, "view", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q207_theil_sen")(spark, dir).collect().head
    assert((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_days"),
      r.getAs[Long]("slope_micros"), r.getAs[Long]("intercept_micros")) ===
      ((6L, 4L, 2000000L, -39445000000L)))
  }

  test("rolling RANGE window shrinks over calendar gaps instead of spanning them") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("roll_fix").toString
    // counts: Jan 1 → 2, Jan 2 → 3, Jan 9 → 5 (six-day gap): the Jan 9
    // frame [Jan 3, Jan 9] must contain ONLY Jan 9 — a ROWS frame
    // would wrongly pull in the two older days
    (Seq.fill(2)("2024-01-01") ++ Seq.fill(3)("2024-01-02") ++
      Seq.fill(5)("2024-01-09")).zipWithIndex
      .map { case (d, i) => (i.toLong, ts(s"$d 10:00:00"), 1L, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q184_rolling_window")(spark, dir).collect()
      .map(r => (r.getAs[Long]("c"), r.getAs[Long]("n_days_in_window"),
        r.getAs[Long]("roll_sum"), r.getAs[Long]("roll_mean_micros"),
        r.getAs[Long]("roll_max")))
    assert(out.toSeq === Seq(
      (2L, 1L, 2L, 2000000L, 2L),
      (3L, 2L, 5L, 2500000L, 3L),
      (5L, 1L, 5L, 5000000L, 5L)))
  }

  test("growth accounting decomposes DAU into new/returning with cumulative and WAU") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("growth_fix").toString
    // day1: users {1,2} (both new); day2: {1,3} (3 new, 1 returning);
    // day9: {2} (returning; day2 falls outside the 7-day WAU window,
    // so WAU(day9) counts only {2})
    Seq(
      (1L, "2024-01-01", 1L), (2L, "2024-01-01", 2L),
      (3L, "2024-01-01", 1L), // same user+day dup must not inflate DAU
      (4L, "2024-01-02", 1L), (5L, "2024-01-02", 3L),
      (6L, "2024-01-09", 2L)
    ).map { case (e, d, u) => (e, ts(s"$d 10:00:00"), u, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q186_growth")(spark, dir).collect()
      .map(r => (r.getAs[Long]("dau"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_returning"), r.getAs[Long]("cum_users"),
        r.getAs[Long]("wau")))
    assert(out.toSeq === Seq(
      (2L, 2L, 0L, 2L, 2L),
      (2L, 1L, 1L, 3L, 3L),
      (1L, 0L, 1L, 3L, 1L)))
  }

  test("attribution credits the window bookends and counts untouched conversions") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("attr_fix").toString
    Seq(
      // u1: click → view → purchase (both touches in window):
      // first-touch = click, last-touch = view
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-02 10:00:00"), 1L, "view", 0.0, "{}"),
      (3L, ts("2024-01-03 10:00:00"), 1L, "purchase", 1.0, "{}"),
      // u2: bare purchase → unattributable
      (4L, ts("2024-01-03 10:00:00"), 2L, "purchase", 1.0, "{}"),
      // u3: only touch is 5 days before the purchase → outside the
      // 3-day lookback → also unattributable
      (5L, ts("2024-01-01 10:00:00"), 3L, "view", 0.0, "{}"),
      (6L, ts("2024-01-06 10:00:00"), 3L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q188_attribution")(spark, dir).collect()
      .map(r => r.getAs[String]("et") ->
        (r.getAs[Long]("n_first"), r.getAs[Long]("n_last"))).toMap
    assert(out("click") === ((1L, 0L)))
    assert(out("view") === ((0L, 1L)))
    assert(out("zz_untouched") === ((2L, 2L)))
  }

  test("cross-correlation finds the anti-phase at lag 0 and the shifted agreement at ±1") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("ccf_fix").toString
    // daily (views, purchases): (3,1) (1,3) (3,1) (1,3) → cv = −cp:
    // lag 0 r² = 1e6 sign −1; ±1: 48²/64² = 562500 sign +1;
    // ±2: 250000 sign −1; ±3: 62500 sign +1
    val days = Seq(("2024-01-01", 3, 1), ("2024-01-02", 1, 3),
      ("2024-01-03", 3, 1), ("2024-01-04", 1, 3))
    var id = 0L
    days.flatMap { case (d, nv, np) =>
      (1 to nv).map { _ => id += 1; (id, ts(s"$d 10:00:00"), 1L, "view", 0.0, "{}") } ++
      (1 to np).map { _ => id += 1; (id, ts(s"$d 11:00:00"), 1L, "purchase", 0.0, "{}") }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q191_crosscorr")(spark, dir).collect()
      .map(r => r.getAs[Long]("lag") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("r_sign"),
          r.getAs[Long]("r2_micros"))).toMap
    assert(out(0L) === ((4L, -1L, 1000000L)))
    assert(out(1L) === ((3L, 1L, 562500L)))
    assert(out(-1L) === ((3L, 1L, 562500L)))
    assert(out(2L) === ((2L, -1L, 250000L)))
    assert(out(3L) === ((1L, 1L, 62500L)))
  }

  test("holt-winters: an exactly periodic series converges with zero error") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // daily counts 1,3,1,3,1 with season m=2: l₀ = 2e6, s₀ = [−1e6, 1e6];
    // every fold step reproduces the state exactly → level 2e6, trend 0,
    // Σ|error| 0, seasons unchanged.
    val rows = Seq(
      ("2024-01-01", 1), ("2024-01-02", 3), ("2024-01-03", 1),
      ("2024-01-04", 3), ("2024-01-05", 1))
    val df = rows.zipWithIndex.flatMap { case ((d, n), i) =>
      (1 to n).map(j => (i * 10L + j, ts(s"$d 10:00:0$j"), 1L, "view", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.analytics.TemporalOps.holtWinters(df, m = 2).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_days") === 5L)
    assert(r.getAs[Long]("level_micros") === 2000000L)
    assert(r.getAs[Long]("trend_micros") === 0L)
    assert(r.getAs[Long]("sae_micros") === 0L)
    assert(r.getAs[Long]("s1_micros") === -1000000L)
    assert(r.getAs[Long]("s2_micros") === 1000000L)
  }

  test("kendall tau-b: hand-counted concordances, discordances, and ties") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // daily (clicks, purchases): (1,1) (2,2) (3,3) (4,1) → C=3 D=2,
    // one y-tie, n0=6 → tau_sign 1, tau2 = 1e6 div 30 = 33333.
    val dir = java.nio.file.Files.createTempDirectory("kt_fix").toString
    val rows = Seq(("2024-01-01", 1, 1), ("2024-01-02", 2, 2),
      ("2024-01-03", 3, 3), ("2024-01-04", 4, 1))
    rows.zipWithIndex.flatMap { case ((d, nc, np), i) =>
      (1 to nc).map(j => (i * 100L + j, ts(s"$d 10:00:0$j"), 1L, "click", 0.0, "{}")) ++
        (1 to np).map(j => (i * 100L + 50 + j, ts(s"$d 11:00:0$j"), 1L, "purchase", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q229_kendall_tau")(spark, dir).collect().head
    assert((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_concordant"),
      r.getAs[Long]("n_discordant"), r.getAs[Long]("n_ties_x"),
      r.getAs[Long]("n_ties_y"), r.getAs[Long]("tau_sign"),
      r.getAs[Long]("tau2_micros")) === ((6L, 3L, 2L, 0L, 1L, 1L, 33333L)))
  }

  test("changepoint locates the step in a hand series with exact gridded scores") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // daily volumes 1,1,5,5 → split after day 2:
    // score = (2²·2 + 10²·2)·1e6 DIV 4 = 52e6; base = 12²·1e6 DIV 4 = 36e6
    val dir = java.nio.file.Files.createTempDirectory("cp_fix").toString
    val days = Seq("2024-01-01" -> 1, "2024-01-02" -> 1,
      "2024-01-03" -> 5, "2024-01-04" -> 5)
    days.zipWithIndex.flatMap { case ((d, n), i) =>
      (1 to n).map(j => ((i * 10 + j).toLong, ts(s"$d 12:00:00"), 7L, "click", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q259_changepoint")(spark, dir).collect().head
    assert(r.getAs[Long]("n_left") === 2L && r.getAs[Long]("n_right") === 2L)
    assert(r.getAs[Long]("mean_left_micros") === 1000000L)
    assert(r.getAs[Long]("mean_right_micros") === 5000000L)
    assert(r.getAs[Long]("score_micro") === 52000000L)
    assert(r.getAs[Long]("gain_micro") === 16000000L)

    // same fixture, Hodges–Lehmann: Walsh multiset over volumes 1,1,5,5
    // (i ≤ j, 10 pairs) = [2,2,2,6,6,6,6,10,10,10] → lower median at
    // rank 5 is 6 → pseudo-median 3.0
    val hl = SparkEntry.queries("q261_hodges_lehmann")(spark, dir).collect().head
    assert(hl.getAs[Long]("n_days") === 4L)
    assert(hl.getAs[Long]("n_pairs") === 10L)
    assert(hl.getAs[Long]("hl_doubled") === 6L)
    assert(hl.getAs[Long]("hl_micros") === 3000000L)
  }

  test("acf matches the hand-computed alternating series, lags past n are zero") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // daily volumes 1,2,1,2,1,2: n=6, T=9, c_t = 6x−9 = ∓3 alternating,
    // den = 6·9 = 54; num_k = (6−k)·(−9)^[k odd]·9^[k even] →
    // rho = −45/54, 36/54, −27/54, 18/54, −9/54, then empty sums = 0
    val dir = java.nio.file.Files.createTempDirectory("acf_fix").toString
    val days = Seq("2024-02-01" -> 1, "2024-02-02" -> 2, "2024-02-03" -> 1,
      "2024-02-04" -> 2, "2024-02-05" -> 1, "2024-02-06" -> 2)
    days.zipWithIndex.flatMap { case ((d, n), i) =>
      (1 to n).map(j => ((i * 10 + j).toLong, ts(s"$d 12:00:00"), 7L, "click", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q263_acf_ljung_box")(spark, dir)
      .collect().map(r => r.getAs[Long]("lag_k") ->
        (r.getAs[Long]("n"), r.getAs[Long]("rho_micros"), r.getAs[Long]("q_lb_micros")))
      .toMap
    assert(rows.size === 7)
    assert(rows(1L)._1 === 6L)
    assert(rows.map { case (k, v) => k -> v._2 } ===
      Map(1L -> -833333L, 2L -> 666666L, 3L -> -500000L, 4L -> 333333L,
        5L -> -166666L, 6L -> 0L, 7L -> 0L))
    // Ljung-Box is a cumulative sum of nonnegative terms: non-decreasing,
    // and flat once the lagged sums go empty (the n−k=0 guard path)
    val qs = (1 to 7).map(k => rows(k.toLong)._3)
    assert(qs.zip(qs.tail).forall { case (a, b) => a <= b })
    assert(qs(5) === qs(6))
    assert(qs.head === 48L * (833333L * 833333L / 5L) / 1000000L)
  }

  test("pivot matrix buckets the epoch day-of-week and ignores unknown types") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("piv_fix").toString
    // 2024-02-05 was a Monday (dow 1), 2024-02-06 a Tuesday (dow 2)
    Seq((1L, ts("2024-02-05 09:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-02-05 10:00:00"), 2L, "click", 0.0, "{}"),
      (3L, ts("2024-02-05 11:00:00"), 3L, "view", 0.0, "{}"),
      (4L, ts("2024-02-06 11:00:00"), 1L, "purchase", 0.0, "{}"),
      (5L, ts("2024-02-06 12:00:00"), 1L, "weird", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q273_pivot_matrix")(spark, dir).collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("click"),
        r.getAs[Long]("view"), r.getAs[Long]("purchase"), r.getAs[Long]("n_total")))
    assert(out.toSeq === Seq((1L, 2L, 1L, 0L, 3L), (2L, 0L, 0L, 1L, 1L)))
  }

  test("active users: DAU ≤ WAU ≤ MAU and the window accumulates exactly") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("au_fix").toString
    // users {1,2} on day 1, {1} on day 2, {3} on day 9 (outside the
    // 7-day window of day 2 but inside day 9's own)
    Seq((1L, "2024-03-01", 1L), (2L, "2024-03-01", 2L),
      (3L, "2024-03-02", 1L), (4L, "2024-03-09", 3L))
      .map { case (id, d, u) => (id, ts(s"$d 12:00:00"), u, "click", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q274_active_users")(spark, dir).collect()
      .map(r => (r.getAs[Long]("od"), r.getAs[Long]("dau"),
        r.getAs[Long]("wau"), r.getAs[Long]("mau")))
    val byDay = out.map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val d0 = out.map(_._1).min
    assert(byDay(d0) === ((2L, 2L, 2L)))      // day 1
    assert(byDay(d0 + 1) === ((1L, 2L, 2L)))  // day 2: window carries user 2
    assert(byDay(d0 + 8) === ((1L, 1L, 3L)))  // day 9: WAU forgot days 1-2
    assert(out.forall(t => t._2 <= t._3 && t._3 <= t._4))
  }

  test("lead-lag beta matches the hand series and zeroes past the overlap") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // clicks x = [1,0,0,1], purchases y = [0,1,0,1] over 4 spine days:
    // cx = [2,−2,−2,2], cy = [−2,2,−2,2], dx = 16 →
    // beta(0) = 0, beta(+1) = 4e6 DIV 16 = 250000, beta(−1) = −250000
    val dir = java.nio.file.Files.createTempDirectory("ccf_fix").toString
    Seq((1L, "2024-04-01", "click"), (2L, "2024-04-02", "purchase"),
      (3L, "2024-04-04", "click"), (4L, "2024-04-04", "purchase"))
      .map { case (id, d, t) => (id, ts(s"$d 12:00:00"), 1L, t, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q277_leadlag_beta")(spark, dir).collect()
      .map(r => r.getAs[Long]("lag_k") -> r.getAs[Long]("beta_micros")).toMap
    assert(rows.size === 15)
    assert(rows(0L) === 0L)
    assert(rows(1L) === 250000L)
    assert(rows(-1L) === -250000L)
    assert((4 to 7).forall(k => rows(k.toLong) === 0L && rows(-k.toLong) === 0L))
  }

  test("cohort LTV accumulates revenue per cohort-age and divides by cohort size") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("ltv_fix").toString
    // cohort Jan-2024: customers 1,2; cust 1 returns in Feb.
    // cohort Feb-2024: customer 3.
    Seq((1L, 1L, 100.0, "2024-01-05"), (2L, 2L, 30.0, "2024-01-20"),
      (3L, 1L, 50.0, "2024-02-10"), (4L, 3L, 10.0, "2024-02-15"))
      .map { case (k, c, p, d) => (k, c, "O", p, ts(s"$d 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q278_cohort_ltv")(spark, dir).collect()
      .map(r => (r.getAs[Long]("cohort_m"), r.getAs[Long]("age_m"),
        r.getAs[Long]("n_customers"), r.getAs[Long]("cum_rev_micros"),
        r.getAs[Long]("ltv_micros")))
    val ja = 12L * 2024 + 0
    assert(out.toSeq === Seq(
      (ja, 0L, 2L, 130000000L, 65000000L),
      (ja, 1L, 2L, 180000000L, 90000000L),
      (ja + 1, 0L, 1L, 10000000L, 10000000L)))
  }

  test("TWAP weights by holding time where the plain mean does not") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("twap_fix").toString
    // v=10 held 10 s, v=30 held 30 s, final v=50 unheld (dropped):
    // twap = (10·10 + 30·30)/40 = 25.0; mean = 20.0
    Seq((1L, "2024-05-01 10:00:00", 10.0), (2L, "2024-05-01 10:00:10", 30.0),
      (3L, "2024-05-01 10:00:40", 50.0))
      .map { case (id, t, v) => (id, ts(t), 1L, "tick", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q280_twap")(spark, dir).collect().head
    assert((r.getAs[Long]("n_held"), r.getAs[Long]("twap_micros"),
      r.getAs[Long]("mean_micros")) === ((2L, 25000000L, 20000000L)))
  }

  test("Markov hit-rate is perfect on a deterministic alternating pattern") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("mkh_fix").toString
    // every user alternates click→view→click: the trained argmax is
    // exact, so held-out users score hit_ppm = 1e6 whatever the split
    (1L to 8L).flatMap { u =>
      Seq((u * 10 + 1, "10:00:00", "click"), (u * 10 + 2, "10:01:00", "view"),
        (u * 10 + 3, "10:02:00", "click"))
        .map { case (id, t, e) => (id, ts(s"2024-07-01 $t"), u, e, 0.0, "{}") }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q293_markov_hitrate")(spark, dir).collect()
    val zz = rows.find(_.getAs[String]("src") == "zz_all").get
    assert(zz.getAs[Long]("n_test") > 0L)
    assert(zz.getAs[Long]("hit_ppm") === 1000000L)
    assert(rows.filter(_.getAs[String]("src") != "zz_all")
      .map(_.getAs[Long]("n_test")).sum === zz.getAs[Long]("n_test"))
  }

  /** Writes `counts(h) = per-hour event totals` as an events fixture on
    * consecutive hours starting 2024-06-01 00:00 (no spine gaps), with
    * `types(h)(i)` naming each event's type when per-type series matter.
    */
  private def hourlyFixture(dir: String, counts: Seq[Seq[String]]): Unit = {
    import java.sql.Timestamp
    counts.zipWithIndex.flatMap { case (types, h) =>
      types.zipWithIndex.map { case (et, i) =>
        (h * 100L + i, Timestamp.valueOf(f"2024-06-01 $h%02d:15:00"), 1L, et, 0.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("runs test: a perfectly alternating series maximizes runs") {
    // hourly counts [5,1,5,1,5,1]: median (1+5)/2 → med2 = 6, signs
    // alternate 1,0,1,0,1,0 → a = b = 3, R = 6; z²_micros =
    // 1e6·(36−18−6)²·5 DIV (18·12) = 720e6 DIV 216 = 3333333
    val dir = java.nio.file.Files.createTempDirectory("runs_fix").toString
    hourlyFixture(dir, Seq(5, 1, 5, 1, 5, 1).map(n => Seq.fill(n)("click")))
    val rows = SparkEntry.queries("q322_runs_test")(spark, dir).collect()
    val bySgn = rows.map(r => r.getAs[Long]("sgn") ->
      (r.getAs[Long]("n_g"), r.getAs[Long]("runs_g"), r.getAs[Long]("z2_micros"))).toMap
    assert(bySgn(0L) === ((3L, 3L, 0L)))
    assert(bySgn(1L) === ((3L, 3L, 0L)))
    assert(bySgn(-1L) === ((6L, 6L, 3333333L)))
  }

  test("Durbin-Watson: hand-fit trend residuals give dw_ppm = 3400000") {
    // counts [2,1,2,1] on p=1..4: b̂ = −0.2, â = 2; residuals (millis)
    // [200,−600,600,−200] → Σe² = 800000, Σ(Δe)² = 2720000 →
    // dw_ppm = 3400000; per-day Σ|e| = 1600, max = 600
    val dir = java.nio.file.Files.createTempDirectory("dw_fix").toString
    hourlyFixture(dir, Seq(2, 1, 2, 1).map(n => Seq.fill(n)("click")))
    val rows = SparkEntry.queries("q323_durbin_watson")(spark, dir).collect()
    assert(rows.length === 2)
    val day = rows.find(_.getAs[Long]("od") >= 0L).get
    assert((day.getAs[Long]("n_g"), day.getAs[Long]("sae_milli"),
      day.getAs[Long]("max_ae_milli")) === ((4L, 1600L, 600L)))
    val zz = rows.find(_.getAs[Long]("od") === -1L).get
    assert((zz.getAs[Long]("n_g"), zz.getAs[Long]("sae_milli"),
      zz.getAs[Long]("max_ae_milli"), zz.getAs[Long]("dw_ppm")) ===
      ((4L, 800000L, 2720000L, 3400000L)))
    assert(zz.getAs[Double]("slope_r") === -0.2)
  }

  test("retention half-life: a clean halving fits to exactly 1.0 days") {
    import java.sql.Timestamp
    def ts(d: String) = Timestamp.valueOf(s"$d 12:00:00")
    // eligible users 1,2 (cohort day 0; user 3 at day 14 extends the
    // horizon): offsets n = [2, 1] → points (1, ln9 2), (2, 0) →
    // slope = −ln9(2), half-life = 1e9·ln2/693147181 → 1.0 (round 6)
    val dir = java.nio.file.Files.createTempDirectory("ret_fix").toString
    Seq((1L, "2024-01-01", 1L), (2L, "2024-01-02", 1L), (3L, "2024-01-03", 1L),
      (4L, "2024-01-01", 2L), (5L, "2024-01-02", 2L),
      (6L, "2024-01-15", 3L))
      .map { case (id, d, u) => (id, ts(d), u, "click", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q340_retention_halflife")(spark, dir).collect()
      .map(r => (r.getAs[Long]("o"), r.getAs[Long]("n_active"),
        r.getAs[Long]("ln_nanos"), r.getAs[Double]("slope_r"),
        r.getAs[Double]("half_life_r")))
    assert(out.toSeq === Seq(
      (-1L, 2L, 0L, -6.93147181e8, 1.0),
      (1L, 2L, 693147181L, 0.0, 0.0),
      (2L, 1L, 0L, 0.0, 0.0)))
  }

  test("Dickey-Fuller: a perfectly mean-reverting fixture hits the rss guard") {
    // counts [2,1,2,1]: Δx is EXACTLY −2·(x₁ − 1.5), so γ̂ = −2 and
    // RSS = 0 (up to float residue) → t is guard-zeroed
    val dir = java.nio.file.Files.createTempDirectory("df_fix").toString
    hourlyFixture(dir, Seq(2, 1, 2, 1).map(n => Seq.fill(n)("click")))
    val r = SparkEntry.queries("q341_dickey_fuller")(spark, dir).collect().head
    assert(r.getAs[Long]("n") === 3L)
    assert(r.getAs[Double]("gamma_r") === -2.0)
    assert(r.getAs[Double]("t_r") === 0.0)
    assert(!r.getAs[Boolean]("stationary"))
  }

  test("dominant period: a planted period-3 cycle wins the ACF argmax") {
    // counts [5,1,1]×3 over 9 hours: n-scaled deviations d = [24,−12,
    // −12,…]; r0 = 2592, r3 = 1728 → 666666 ppm (the argmax), r6 =
    // 333333, and the out-of-phase lags go negative (sign kept out of
    // the DIV). Lags beyond n−1 have no pairs and emit no row.
    val dir = java.nio.file.Files.createTempDirectory("acf_fix").toString
    hourlyFixture(dir,
      Seq(5, 1, 1, 5, 1, 1, 5, 1, 1).map(n => Seq.fill(n)("click")))
    val out = SparkEntry.queries("q343_dominant_period")(spark, dir).collect()
      .map(r => (r.getAs[Long]("l"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("sgn"), r.getAs[Long]("abs_rho_ppm"),
        r.getAs[Long]("period")))
    assert(out.toSeq === Seq(
      (-1L, 6L, 1L, 666666L, 3L),
      (2L, 7L, -1L, 444444L, 0L),
      (3L, 6L, 1L, 666666L, 0L),
      (4L, 5L, -1L, 222222L, 0L),
      (5L, 4L, -1L, 277777L, 0L),
      (6L, 3L, 1L, 333333L, 0L),
      (7L, 2L, -1L, 55555L, 0L),
      (8L, 1L, -1L, 111111L, 0L)))
  }

  test("Granger lag-F: hand-solved 2-predictor OLS gives F = 8") {
    // purchases y = [2,1,3,2,3], clicks x = [1,2,1,2,2]; the n = 4
    // lagged rows solve to b1 = 0.5, b2 = 2, RSS_r = 2.25, RSS_u =
    // 0.25 → F = (2.25−0.25)·1/0.25 = 8 (all dyadic — exact doubles)
    val dir = java.nio.file.Files.createTempDirectory("granger_fix").toString
    val y = Seq(2, 1, 3, 2, 3); val x = Seq(1, 2, 1, 2, 2)
    hourlyFixture(dir, y.zip(x).map { case (ny, nx) =>
      Seq.fill(ny)("purchase") ++ Seq.fill(nx)("click") })
    val rows = SparkEntry.queries("q324_granger_lagf")(spark, dir).collect()
    assert(rows.length === 2)
    val fwd = rows.find(_.getAs[String]("direction") == "click_to_purchase").get
    assert(fwd.getAs[Long]("n") === 4L)
    assert(fwd.getAs[Double]("ar_beta_r") === 0.5)
    assert(fwd.getAs[Double]("xlag_beta_r") === 2.0)
    assert(fwd.getAs[Double]("rss_restricted_r") === 2.25)
    assert(fwd.getAs[Double]("rss_full_r") === 0.25)
    assert(fwd.getAs[Double]("f_r") === 8.0)
  }

  test("PACF: Durbin-Levinson chain matches the same IEEE fold on hand sums") {
    import spark.implicits._
    import java.sql.Timestamp
    // daily counts [2,1,2,1,2,1] → c = [3,−3,3,−3,3,−3], den = 54,
    // num(1..4) = −45, 36, −27, 18; the expected φ values replay the
    // exact expression chain in plain Scala doubles (same IEEE ops)
    val dir = java.nio.file.Files.createTempDirectory("pacf_fix").toString
    val rows = (0 until 6).flatMap { i =>
      val n = if (i % 2 == 0) 2 else 1
      (0 until n).map(j => ((i * 10 + j).toLong,
        Timestamp.valueOf(f"2024-01-${i + 1}%02d 0$j:00:00"), 1L, "click",
        0.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q347_pacf")(spark, dir).collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Double]("pacf_r")).toMap
    val (r1, r2, r3, r4) = (-45.0 / 54, 36.0 / 54, -27.0 / 54, 18.0 / 54)
    val phi11 = r1
    val den2 = 1 - r1 * r1
    val phi22 = (r2 - r1 * r1) / den2
    val a21 = r1 - phi22 * r1
    val den3 = 1 - a21 * r1 - phi22 * r2
    val phi33 = (r3 - a21 * r2 - phi22 * r1) / den3
    val a31 = a21 - phi33 * phi22
    val a32 = phi22 - phi33 * a21
    val den4 = 1 - a31 * r1 - a32 * r2 - phi33 * r3
    val phi44 = (r4 - a31 * r3 - a32 * r2 - phi33 * r1) / den4
    Seq(1L -> phi11, 2L -> phi22, 3L -> phi33, 4L -> phi44).foreach {
      case (lag, exp) =>
        assert(math.abs(out(lag) - exp) < 5e-7,
          s"lag $lag: got ${out(lag)}, chain gives $exp")
    }
    // the alternating series is AR(1)-like: a strong negative lag-1
    // effect, partials shrinking after it
    assert(out(1L) < -0.8 && math.abs(out(4L)) < math.abs(out(1L)))
  }

  test("Croston: hand-folded intermittent demand with the standard init") {
    import spark.implicits._
    import java.sql.Timestamp
    // click demand over the 4-day spine [2,0,0,3]: init S=2e6, I=1e6;
    // second demand (gap 3): S=2.2e6, I=(0.2·3e6+0.8·1e6)=1.4e6 →
    // rate = 2.2e6·1e6 // 1.4e6 = 1571428. view [0,1,0,0]: S=1e6,
    // I=2e6 → rate 500000.
    val dir = java.nio.file.Files.createTempDirectory("croston_fix").toString
    val ev = Seq(
      (1L, "2024-01-02 01:00:00", "click"), (2L, "2024-01-02 02:00:00", "click"),
      (3L, "2024-01-05 01:00:00", "click"), (4L, "2024-01-05 02:00:00", "click"),
      (5L, "2024-01-05 03:00:00", "click"),
      (6L, "2024-01-03 01:00:00", "view"))
    ev.map { case (id, ts, et) => (id, Timestamp.valueOf(ts), 1L, et, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q356_croston")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("n_demand_days"),
          r.getAs[Long]("size_micros"), r.getAs[Long]("interval_micros"),
          r.getAs[Long]("rate_micros"))).toMap
    assert(out("click") === ((4L, 2L, 2200000L, 1400000L, 1571428L)))
    assert(out("view") === ((4L, 1L, 1000000L, 2000000L, 500000L)))
  }

  test("harmonic profile: two-level day/night split matches the same IEEE projection") {
    import spark.implicits._
    import java.sql.Timestamp
    // hours 0–11 hold 2 events, 12–23 hold 1 (36 total); expected
    // amp/strength replay the exact same constant-dot chain in Scala
    val dir = java.nio.file.Files.createTempDirectory("harm_fix").toString
    val rows = (0 until 24).flatMap { h =>
      val n = if (h < 12) 2 else 1
      (0 until n).map(j => ((h * 10 + j).toLong,
        Timestamp.valueOf(f"2024-01-0${j + 1} $h%02d:00:00"), 1L, "click",
        0.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q353_harmonic_profile")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_events") === 36L)
    assert((r.getAs[Long]("peak_h"), r.getAs[Long]("peak_p")) === ((0L, 2L)))
    val p = (0 until 24).map(h => if (h < 12) 2.0 else 1.0)
    val fb = (0 until 24).map(h => p(h) * math.cos(2 * math.Pi * h / 24)).sum / 12.0
    val fc = (0 until 24).map(h => p(h) * math.sin(2 * math.Pi * h / 24)).sum / 12.0
    val spp = p.map(x => x * x).sum; val sp = p.sum
    val sst = spp - sp * sp / 24.0
    assert(math.abs(r.getAs[Double]("amp_r") - math.sqrt(fb * fb + fc * fc)) < 5e-7)
    assert(math.abs(r.getAs[Double]("strength_r")
      - 12.0 * (fb * fb + fc * fc) / sst) < 5e-7)
    // a square wave's first harmonic carries 8/π² ≈ 81% of its power
    assert(r.getAs[Double]("strength_r") > 0.79 &&
      r.getAs[Double]("strength_r") < 0.83)
  }
}
