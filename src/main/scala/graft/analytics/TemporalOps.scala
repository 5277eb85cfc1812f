package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.Tables

/** Temporal operators Spark lacks as built-ins, composed from existing
  * ops (preference (a) of the custom-operator ladder): as-of join via
  * the union + last-non-null-window technique, session windows in batch
  * via gap detection + running session counter, and a bounded-range
  * interval join. All shuffle once on the entity key and scale linearly.
  */
object TemporalOps {
  import Relational.QFn

  /** Ordered n-step funnel: per user, `t_k` is the first time step k's
    * event occurs at-or-after `t_{k-1}`, and `steps` counts how deep the
    * user got. The standard conditional-min cascade: every stage joins
    * and aggregates on the user key, so all shuffles share one key
    * (co-partitioned end to end; AQE coalesces) and each stage's input
    * shrinks to funnel survivors — no whole-history window needed.
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col("user_id"), col("ts"),
      col("event_type").as("et"))
    val mins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    steps.zipWithIndex.foreach { case (st, i) =>
      val base = e.filter(col("et") === lit(st))
      val cur =
        if (i == 0) base.groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        else base.join(mins(i - 1).select(col("user_id"), col(s"t$i")), Seq("user_id"))
          .filter(col("ts") >= col(s"t$i"))
          .groupBy(col("user_id")).agg(min(col("ts")).as(s"t${i + 1}"))
      mins += cur
    }
    val joined = mins.zipWithIndex.foldLeft(e.select(col("user_id")).distinct()) {
      case (acc, (m, i)) =>
        acc.join(m.select(col("user_id"), col(s"t${i + 1}")), Seq("user_id"), "left")
    }
    var stepExpr = when(col(s"t${steps.size}").isNotNull, steps.size)
    for (i <- (steps.size - 1) to 1 by -1)
      stepExpr = stepExpr.when(col(s"t$i").isNotNull, i)
    joined
      .withColumn("steps", stepExpr.otherwise(0).cast("int"))
  }

  /** Interval-interval overlap pairs within an equi-key: input rows
    * (key, id, ivs, ive) — date-typed closed intervals — yield one row
    * (key, id_a, id_b, overlap_days) per overlapping same-key pair,
    * canonically id_a < id_b, with the exact inclusive overlap length.
    * The both-sides-ranges companion to the q52 point-in-range join.
    */
  def intervalOverlapPairs(iv: DataFrame): DataFrame = {
    val a = iv.select(col("key"), col("id").as("id_a"),
      col("ivs").as("sa"), col("ive").as("ea"))
    val b = iv.select(col("key"), col("id").as("id_b"),
      col("ivs").as("sb"), col("ive").as("eb"))
    a.join(b, Seq("key"))
      .filter(col("id_a") < col("id_b") && col("sa") <= col("eb") && col("sb") <= col("ea"))
      .select(col("key"), col("id_a"), col("id_b"),
        (datediff(least(col("ea"), col("eb")), greatest(col("sa"), col("sb")))
          + lit(1)).cast("long").as("overlap_days"))
  }

  /** Additive Holt–Winters (triple exponential smoothing, Winters
    * 1960) over the per-type daily volume series, season m = 7 (the
    * weekly cycle): level/trend/seasonal recursions in integer micros
    * with α/β/γ = 0.3/0.1/0.2 ppm, folded left-to-right exactly like
    * the q176 Holt fold — state is (l, b, s[1..m], Σ|one-step error|,
    * position), every update a truncating DIV, so the oracle's
    * list_reduce replays bit-for-bit (list accumulator, q182's
    * field-mutation-order note). Init: l₀ = mean of the first m days,
    * b₀ = 0, s₀ⱼ = yⱼ − l₀ — the textbook warm start. Seasonal slots
    * index the OBSERVED-day sequence; a gapped series should gap-fill
    * first (q173's resample) or slots drift off the weekday they
    * model.
    *
    * Scale shape: one daily count aggregate (span-bounded) then a
    * per-type fold whose state is m+4 longs — the q182 discipline;
    * nothing is ever corpus-sized. Emits per type the final level,
    * trend, in-sample Σ|error| (model-fit readout), and all m
    * seasonal components.
    */
  def holtWinters(events: DataFrame, m: Int = 7): DataFrame = {
    val slotS = s"element_at(acc.s, CAST((acc.p % $m) + 1 AS INT))"
    val lnew = s"((300000 * (x - $slotS) + 700000 * (acc.l + acc.b)) DIV 1000000)"
    val snew = s"((200000 * (x - $lnew) + 800000 * $slotS) DIV 1000000)"
    val fold = s"""aggregate(slice(ys, ${m + 1}, size(ys) - $m),
        named_struct('l', l0, 'b', CAST(0 AS BIGINT), 's', s0,
                     'sae', CAST(0 AS BIGINT), 'p', CAST($m AS BIGINT)),
        (acc, x) -> named_struct(
          'l', $lnew,
          'b', ((100000 * ($lnew - acc.l) + 900000 * acc.b) DIV 1000000),
          's', transform(sequence(1, $m),
                 j -> CASE WHEN j = (acc.p % $m) + 1 THEN $snew
                           ELSE element_at(acc.s, CAST(j AS INT)) END),
          'sae', acc.sae + abs(x - (acc.l + acc.b + $slotS)),
          'p', acc.p + 1)) AS st"""
    events
      .selectExpr("event_type", "CAST(ts AS DATE) AS day")
      .groupBy(col("event_type"), col("day"))
      .agg((count(lit(1)) * 1000000L).as("xm"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("xm")))).as("seq"))
      .selectExpr("event_type", "transform(seq, e -> e.xm) AS ys")
      .filter(expr(s"size(ys) >= ${m + 1}"))
      .selectExpr("event_type", "CAST(size(ys) AS BIGINT) AS n_days", "ys",
        s"aggregate(slice(ys, 1, $m), CAST(0 AS BIGINT), (a, x) -> a + x) DIV $m AS l0")
      .selectExpr("event_type", "n_days", "ys", "l0",
        s"transform(slice(ys, 1, $m), y -> y - l0) AS s0")
      .selectExpr(Seq("event_type", "n_days", fold): _*)
      .selectExpr(Seq("event_type", "n_days", "st.l AS level_micros",
        "st.b AS trend_micros", "st.sae AS sae_micros") ++
        (1 to m).map(j => s"element_at(st.s, $j) AS s${j}_micros"): _*)
      .orderBy(col("event_type"))
  }

  /** The DuckDB list_reduce twin of [[holtWinters]]'s fold — same
    * truncating updates over the [l, b, s1..sm, sae, p] list state. */
  private def holtWintersSql: String = {
    val slotS = s"acc[CAST((acc[11] % 7) + 3 AS BIGINT)]"
    val lnew = s"((300000 * (x[1] - $slotS) + 700000 * (acc[1] + acc[2])) // 1000000)"
    val snew = s"((200000 * (x[1] - $lnew) + 800000 * $slotS) // 1000000)"
    val sEntries = (1 to 7).map(j =>
      s"CASE WHEN (acc[11] % 7) + 1 = $j THEN $snew ELSE acc[${j + 2}] END")
      .mkString(",\n                   ")
    val zeros = Seq.fill(10)("0::BIGINT").mkString(", ")
    val initSeason = (1 to 7).map(j => s"ys[$j] - l0").mkString(", ")
    s"""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) * 1000000 AS xm
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
      packed AS (SELECT event_type, list(xm ORDER BY day) AS ys
                 FROM daily GROUP BY event_type),
      pre AS (SELECT event_type, len(ys) AS n_days, ys,
                     CAST(list_sum(ys[1:7]) // 7 AS BIGINT) AS l0
              FROM packed WHERE len(ys) >= 8),
      folded AS (
        SELECT event_type, n_days,
               list_reduce(
                 list_prepend(
                   [l0, 0::BIGINT, $initSeason, 0::BIGINT, 7::BIGINT],
                   list_transform(ys[8:], v -> [v, $zeros])),
                 (acc, x) -> [
                   $lnew,
                   ((100000 * ($lnew - acc[1]) + 900000 * acc[2]) // 1000000),
                   $sEntries,
                   acc[10] + abs(x[1] - (acc[1] + acc[2] + $slotS)),
                   acc[11] + 1]) AS st
        FROM pre)
      SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
             st[1] AS level_micros, st[2] AS trend_micros,
             st[10] AS sae_micros,
             ${(1 to 7).map(j => s"st[${j + 2}] AS s${j}_micros").mkString(", ")}
      FROM folded ORDER BY event_type"""
  }

  /** Day-grain event volumes — the shared series behind the
    * change-point family (q259/q260).
    */
  private def dailyVolumes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .selectExpr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od")
      .groupBy(col("od")).agg(count(lit(1)).as("x"))

  /** Tail of the sessionizers' `flagged` CTE (q51, q153's session
    * windows): `is_new` marks an event more than 10 minutes after the
    * user's previous one, over `events` in (ts, event_id) order. */
  private val sessionBreakSql: String = """CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                 OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 600000000
               THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** Daily event counts centered by n (the q183/q347 autocorrelation
    * inputs): CTEs `daily(day, x)`, `tot`, `c(day, c)` with c = n·x − Σx,
    * and the one-row `den`, Σc². */
  private val centeredDailySql: String = """daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY day),
      tot AS (SELECT CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(count(*) AS BIGINT) AS n FROM daily),
      c AS (SELECT day, n * x - sx AS c FROM daily, tot),
      den AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS den FROM c)"""

  /** DuckDB twin of [[dailyVolumes]] plus [[bestSplit]]'s candidate
    * table: CTEs `daily(od, x)`, `tot`, `pre` and `cand` (one row per
    * split with both segments' counts and sums).
    */
  private val splitCandidatesSql: String = """daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY od),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS tn, CAST(SUM(x) AS BIGINT) AS ts
              FROM daily),
      pre AS (SELECT od, CAST(row_number() OVER (ORDER BY od) AS BIGINT) AS i,
                     CAST(SUM(x) OVER (ORDER BY od) AS BIGINT) AS sl
              FROM daily),
      cand AS (
        SELECT od AS split_od, i AS n_left, tn - i AS n_right,
               sl AS s_left, ts - sl AS s_right, tn, ts
        FROM pre CROSS JOIN tot WHERE i < tn)"""

  /** Zero-filled hourly event-count spine (q111's gap-fill idiom on an
    * integer epoch-hour key): (hb, x, p) with p the 1-based hour
    * position. The position rank is ONE unpartitioned window over the
    * 24·span-day spine — the q111 PlanSpec regime; q312/q313 are
    * allowlisted on it. Mat'd: both consumers fold it several ways.
    */
  private def hourlySpine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(s, dir).events
      .select(expr("unix_micros(ts) DIV 3600000000").as("hb"))
      .groupBy(col("hb")).agg(count(lit(1)).as("x"))
    val spine = counts.agg(min(col("hb")).as("h0"), max(col("hb")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hb"))
    graft.Stage.mat(spine.join(counts, Seq("hb"), "left")
      .select(col("hb"), coalesce(col("x"), lit(0L)).as("x"))
      .withColumn("p", row_number().over(Window.orderBy(col("hb"))).cast("long")))
  }

  /** DuckDB twin of [[hourlySpine]]'s inputs: CTEs `counts(hb, x)` and
    * the gap-free epoch-hour `spine(hb)`; callers left-join them into
    * their own `hourly` table.
    */
  private val hourSpineSql: String = """counts AS (
        SELECT epoch_us(ts) // 3600000000 AS hb, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1),
      spine AS (SELECT unnest(generate_series(h0, h1)) AS hb
                FROM (SELECT min(hb) AS h0, max(hb) AS h1 FROM counts))"""

  /** The q259 two-segment SSE argmin over a (od, x) day table: one row
    * (split_od, n_left, n_right, mean_left_micros, mean_right_micros,
    * score_micro, gain_micro) — the 1e-6-grid argmax with earliest-day
    * ties (see the q259 scaladoc for the exact arithmetic contract).
    */
  private def bestSplit(daily: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("od"))
    val tot = daily.agg(count(lit(1)).as("tn"), sum(col("x")).as("ts"))
    daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("sl", sum(col("x")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("i") < col("tn")) // a split needs a non-empty right segment
      .selectExpr("od AS split_od", "i AS n_left", "tn - i AS n_right",
        "sl AS s_left", "ts - sl AS s_right", "tn", "ts")
      .selectExpr("split_od", "n_left", "n_right",
        "(s_left * 1000000) DIV n_left AS mean_left_micros",
        "(s_right * 1000000) DIV n_right AS mean_right_micros",
        """CAST((CAST(s_left AS DECIMAL(38,0)) * s_left * n_right
               + CAST(s_right AS DECIMAL(38,0)) * s_right * n_left)
              * 1000000 DIV (CAST(n_left AS DECIMAL(38,0)) * n_right)
           AS DECIMAL(38,0)) AS score_micro""",
        """CAST(CAST(ts AS DECIMAL(38,0)) * ts * 1000000 DIV tn
           AS DECIMAL(38,0)) AS base_micro""")
      .selectExpr("split_od", "n_left", "n_right", "mean_left_micros",
        "mean_right_micros", "CAST(score_micro AS BIGINT) AS score_micro",
        "CAST(score_micro - base_micro AS BIGINT) AS gain_micro")
      .orderBy(col("score_micro").desc, col("split_od")).limit(1)
  }

  /** Sample autocorrelation function + Ljung–Box portmanteau (Box &
    * Pierce 1970, Ljung & Box 1978) over an ordered (od, x) day table —
    * the serial-dependence audit every forecasting/monitoring pipeline
    * runs before trusting an i.i.d. assumption (and the diagnostic
    * behind the q226 Holt / q238 decomposition residual story).
    *
    * Exact arithmetic: with n = #days and T = Σx, the centered value
    * scaled by n is c_t = n·x_t − T (exact integers — no rational mean),
    * and because every ACF term carries the same n² factor it cancels:
    *   rho_k = Σ_{t>k} c_t·c_{t−k} / Σ_t c_t²
    * Emitted as sign(num)·((|num|·1e6) DIV den) — the engine's
    * nonneg-numerator floor-division convention, identical in DuckDB.
    * Ljung–Box through lag k, in the same micros discipline:
    *   Q_k = n(n+2)·Σ_{j≤k} (rho_j_micros² DIV (n−j)) DIV 1e6.
    *
    * Scale shape: ONE map-side-combined day aggregate builds the series
    * (time-span-bounded, never corpus-sized); the lag windows and the
    * maxLag-row cumulation run on that bounded table (PlanSpec
    * allowlist). DECIMAL(38,0) bounds: |c| ≤ n·max(x) ≲ 4e11 at 1e9
    * rows/day over a decade of days, c² ≲ 1.6e23, den ≲ 6e26 — inside
    * 38 digits; numerators ×1e6 still clear by five orders.
    */
  def acfLjungBox(daily: DataFrame): DataFrame = {
    val w = Window.orderBy(col("od"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
    val cent = daily.crossJoin(broadcast(tot))
      .selectExpr("od", "n", "CAST(n * x - t AS DECIMAL(38,0)) AS c")
    val lagged = cent.select(
      Seq(col("n"), col("c")) ++
        (1 to 7).map(k => lag(col("c"), k).over(w).as(s"c$k")): _*)
    val aggs = Seq(max(col("n")).as("n"),
      sum(expr("c * c")).cast("decimal(38,0)").as("den")) ++
      (1 to 7).map(k =>
        coalesce(sum(expr(s"c * c$k")), lit(0)).cast("decimal(38,0)").as(s"num$k"))
    val sums = lagged.agg(aggs.head, aggs.tail: _*)
    val stacked = sums.selectExpr("n", "den",
      s"stack(7, " +
        (1 to 7).map(k => s"CAST($k AS BIGINT), num$k").mkString(", ") +
        ") AS (lag_k, num)")
    val rho = stacked.selectExpr("lag_k", "n",
      """CAST(CASE WHEN num < 0 THEN -((-num * 1000000) DIV greatest(den, 1))
              ELSE (num * 1000000) DIV greatest(den, 1) END AS BIGINT)
         AS rho_micros""")
    rho
      .withColumn("s2", sum(expr(
        "(rho_micros * rho_micros) DIV greatest(n - lag_k, 1)"))
        .over(Window.orderBy(col("lag_k"))))
      .selectExpr("lag_k", "n", "rho_micros",
        """CAST((CAST(n AS DECIMAL(38,0)) * (n + 2) * s2) DIV 1000000 AS BIGINT)
           AS q_lb_micros""")
      .orderBy(col("lag_k"))
  }

  /** The q299 SAX chain (z-normalize → 16-segment PAA → 4-letter
    * alphabet at the Gaussian quartile breakpoints ±0.674490), shared
    * with q304's word alignment: input `d` must carry (od, x) with x
    * already integer-scaled so n·Σx² stays inside the 2⁵³ isqrt
    * envelope; output is (seg, n_days, paa_micros, symbol). All
    * arithmetic exact-integer (q271 isqrt, sign-safe truncation);
    * [[saxSql]] is the token-identical oracle chain.
    */
  private[graft] def saxSegments(d: DataFrame): DataFrame = {
    val st = d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr("x * x")).as("sxx"),
        min(col("od")).as("odmn"), max(col("od")).as("odmx"))
      .selectExpr("n", "sx", "odmn", "odmx", "n * sxx - sx * sx AS v")
      .selectExpr("n", "sx", "odmn", "odmx", "v",
        "CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0")
      .selectExpr("n", "sx", "odmn", "odmx",
        """CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
                WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS sig""")
    val z = d.crossJoin(broadcast(st))
      .selectExpr(
        "((od - odmn) * 16) DIV (odmx - odmn + 1) AS seg",
        "n * x - sx AS znum", "sig")
      .selectExpr("seg",
        """CASE WHEN znum < 0
                THEN -(((-znum) * 1000000) DIV greatest(sig, 1))
                ELSE (znum * 1000000) DIV greatest(sig, 1) END AS z_micros""")
    z.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_days"), sum(col("z_micros")).as("sz"))
      .selectExpr("seg", "n_days",
        """CASE WHEN sz < 0 THEN -((-sz) DIV n_days)
                ELSE sz DIV n_days END AS paa_micros""")
      .selectExpr("seg", "n_days", "paa_micros",
        """CASE WHEN paa_micros < -674490 THEN 'a'
                WHEN paa_micros < 0 THEN 'b'
                WHEN paa_micros < 674490 THEN 'c'
                ELSE 'd' END AS symbol""")
  }

  /** DuckDB twin of [[saxSegments]]: `src` must yield (od, x); emits a
    * CTE chain prefixed `p` ending in table `${p}sax` with columns
    * (seg, n_days, paa_micros, symbol). Compose after `WITH `.
    */
  private def saxSql(src: String, p: String): String = s"""${p}d AS ($src),
      ${p}st0 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     MIN(od) AS odmn, MAX(od) AS odmx
              FROM ${p}d),
      ${p}st1 AS (SELECT n, sx, odmn, odmx, n * sxx - sx * sx AS v FROM ${p}st0),
      ${p}st AS (SELECT n, sx, odmn, odmx,
               CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
                    WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS sig
             FROM (SELECT *, CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
                   FROM ${p}st1)),
      ${p}z AS (SELECT ((od - odmn) * 16) // (odmx - odmn + 1) AS seg,
              CASE WHEN n * x - sx < 0
                   THEN -(((sx - n * x) * 1000000) // GREATEST(sig, 1))
                   ELSE ((n * x - sx) * 1000000) // GREATEST(sig, 1) END AS z_micros
            FROM ${p}d CROSS JOIN ${p}st),
      ${p}paa AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_days,
                CAST(CASE WHEN SUM(z_micros) < 0
                     THEN -((-SUM(z_micros)) // count(*))
                     ELSE SUM(z_micros) // count(*) END AS BIGINT) AS paa_micros
              FROM ${p}z GROUP BY seg),
      ${p}sax AS (SELECT seg, n_days, paa_micros,
             CASE WHEN paa_micros < -674490 THEN 'a'
                  WHEN paa_micros < 0 THEN 'b'
                  WHEN paa_micros < 674490 THEN 'c'
                  ELSE 'd' END AS symbol
      FROM ${p}paa)"""

  /** Each user's numeric events as micros in time order — the series the
    * q162/q176/q204 smoothing folds consume: (user_id, n_events, seq of
    * (ts, event_id, xm)). */
  private[analytics] def userValueSeqs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .selectExpr("user_id", "ts", "event_id",
        "CAST(floor(value * 1000000) AS BIGINT) AS xm")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("ts"), col("event_id"), col("xm"))))
          .as("seq"))

  /** DuckDB twin of [[userValueSeqs]]'s rows before the fold: CTE
    * `f(user_id, ts, event_id, xm)`. */
  private[analytics] val userValueSql: String = """f AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS xm
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL)"""

  /** Right-censored per-user survival table shared by q175 (Kaplan–Meier)
    * and q201 (Nelson–Aalen): the event is a user's first purchase, in
    * days from first activity; users without one are censored at the
    * window's end. One row per end day: (e_off, n = users still at
    * risk, d = deaths that day). Day-table sized, never corpus sized.
    */
  private[analytics] def survivalRisk(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), expr("CAST(ts AS DATE)").as("d"))
      .transform(graft.Stage.mat) // feeds span, entry, AND conv — one scan
    val span = ev.agg(max(col("d")).as("d1"))
    val entry = ev.groupBy(col("user_id")).agg(min(col("d")).as("ad"))
    val conv = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("d")).as("pd"))
    val users = entry.join(conv, Seq("user_id"), "left")
      .crossJoin(broadcast(span))
      .selectExpr(
        "CASE WHEN pd IS NOT NULL THEN datediff(pd, ad) ELSE datediff(d1, ad) END AS e_off",
        "CAST(pd IS NOT NULL AS INT) AS is_death")
    val days = users.groupBy(col("e_off"))
      .agg(count(lit(1)).as("n_end"),
        sum(col("is_death")).cast("long").as("d"))
    val tot = days.agg(sum(col("n_end")).as("n_total"))
    days.crossJoin(broadcast(tot))
      .withColumn("cum_prev",
        coalesce(sum(col("n_end")).over(
          Window.orderBy(col("e_off"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .selectExpr("e_off", "n_total - cum_prev AS n", "d")
  }

  /** DuckDB twin of [[survivalRisk]]: CTEs `ev` through `risk(e_off, n, d)`. */
  private[analytics] val survivalRiskSql: String = """ev AS (
        SELECT user_id, event_type, CAST(ts AS DATE) AS d
        FROM events WHERE user_id IS NOT NULL),
      span AS (SELECT MAX(d) AS d1 FROM ev),
      entry AS (SELECT user_id, MIN(d) AS ad FROM ev GROUP BY user_id),
      conv AS (SELECT user_id, MIN(d) AS pd FROM ev
               WHERE event_type = 'purchase' GROUP BY user_id),
      users AS (
        SELECT CASE WHEN pd IS NOT NULL THEN datediff('day', ad, pd)
                    ELSE datediff('day', ad, d1) END AS e_off,
               CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS is_death
        FROM entry LEFT JOIN conv USING (user_id) CROSS JOIN span),
      days AS (
        SELECT e_off, CAST(count(*) AS BIGINT) AS n_end,
               CAST(SUM(is_death) AS BIGINT) AS d
        FROM users GROUP BY e_off),
      risk AS (
        SELECT e_off,
               CAST((SELECT SUM(n_end) FROM days) AS BIGINT)
                 - CAST(COALESCE(SUM(n_end) OVER (ORDER BY e_off
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n,
               d
        FROM days)"""

  /** [[saxSql]] over daily order revenue in kilodollars (prefix `r`,
    * ending in `rsax`) — the q299 series that q304 aligns against
    * order counts. */
  private val revenueSaxSql: String = saxSql(
    """SELECT od, SUM(cents) // 100000 AS x FROM (
          SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS od,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders)
        GROUP BY od""", "r")

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- inter-event gap dispersion (index of dispersion / CV² on
    //      waiting times): per event type, mean gap and
    //        cv2_micros = ((n·Σg² − (Σg)²)·1e6) DIV (Σg)²
    //      over consecutive-event gaps in epoch micros. CV² ≈ 1e6 is
    //      the Poisson/exponential baseline; ≫1e6 is bursty arrivals
    //      (batched ingestion, retries), ≪1e6 is scheduled traffic —
    //      the q218 token-burstiness audit transplanted to the TIME
    //      axis. Exact integers (DECIMAL(38,0) squares); the gap
    //      window is PARTITIONed BY event type with the (ts, event_id)
    //      total order both engines replay. At unbounded per-key
    //      volume the per-type sort takes the scoreOrder two-phase
    //      range decomposition; the aggregate is one map-side-combined
    //      pass either way.
    ("q256_gap_dispersion", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("tm"))
        .withColumn("g", col("tm") - lag(col("tm"), 1)
          .over(Window.partitionBy(col("event_type"))
            .orderBy(col("tm"), col("event_id"))))
        .filter(col("g").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sg"),
          sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("sg2"))
        .selectExpr("event_type", "n_gaps",
          "sg DIV n_gaps AS mean_gap_micros",
          """CAST(((CAST(n_gaps AS DECIMAL(38,0)) * sg2
                    - CAST(sg AS DECIMAL(38,0)) * sg) * 1000000)
                  DIV greatest(CAST(sg AS DECIMAL(38,0)) * sg, 1)
              AS BIGINT) AS cv2_micros""")
        .orderBy(col("event_type"))
    }, Some("""
      WITH t AS (
        SELECT event_type, event_id, epoch_us(ts) AS tm FROM events),
      g AS (
        SELECT event_type,
               tm - lag(tm) OVER (PARTITION BY event_type
                                  ORDER BY tm, event_id) AS g
        FROM t),
      a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(SUM(g) AS BIGINT) AS sg,
               SUM(CAST(g AS HUGEINT) * g) AS sg2
        FROM g WHERE g IS NOT NULL GROUP BY event_type)
      SELECT event_type, n_gaps, sg // n_gaps AS mean_gap_micros,
             CAST(((CAST(n_gaps AS HUGEINT) * sg2
                    - CAST(sg AS HUGEINT) * sg) * 1000000)
                  // greatest(CAST(sg AS HUGEINT) * sg, 1)
               AS BIGINT) AS cv2_micros
      FROM a ORDER BY event_type""")),

    // ---- as-of (backward) join: each purchase picks the latest view at
    // or before its timestamp, per user. Implementation: tag both sides,
    // union, and carry the last non-null quote forward within the
    // user's time-ordered stream — one shuffle on user_id, no range
    // explosion, the classic scalable as-of technique.
    ("q50_asof_join", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events
      // quotes deduped per (user, ts): keep the highest event_id so the
      // as-of match is unambiguous on both engines
      val qw = Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val quotes = e.filter(col("event_type") === "view")
        .withColumn("qrn", row_number().over(qw)).filter(col("qrn") === 1)
        .select(col("user_id"), col("ts"),
          lit(null).cast("long").as("event_id"),
          col("ts").as("quote_ts"), col("value").as("quote_val"), lit(0).as("marker"))
      val trades = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("timestamp").as("quote_ts"),
          lit(null).cast("double").as("quote_val"), lit(1).as("marker"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("marker"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      quotes.unionByName(trades)
        .withColumn("asof_ts", last(col("quote_ts"), ignoreNulls = true).over(w))
        .withColumn("asof_val", last(col("quote_val"), ignoreNulls = true).over(w))
        .filter(col("marker") === 1)
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"), col("asof_val"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH quotes AS (
        SELECT user_id, ts, value FROM (
          SELECT user_id, ts, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS qrn
          FROM events WHERE event_type = 'view') WHERE qrn = 1),
      trades AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      SELECT t.event_id, t.user_id, t.ts, q.ts AS asof_ts, q.value AS asof_val
      FROM trades t ASOF LEFT JOIN quotes q
        ON t.user_id = q.user_id AND t.ts >= q.ts
      ORDER BY t.event_id""")),

    // ---- batch sessionization: a 10-minute inactivity gap starts a new
    // session; one window pass computes the session index, one groupBy
    // aggregates it (streaming twin: session_window in stream/Sync).
    ("q51_sessionize", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 600L * 1000000L
      Tables(s, dir).events
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("is_new",
          (col("prev_us").isNull || (unix_micros(col("ts")) - col("prev_us") > gapUs)).cast("int"))
        .withColumn("session_idx",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("session_start"),
             max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_idx"))
    }, Some(s"""
      WITH flagged AS (
        SELECT user_id, event_id, ts,
          ${sessionBreakSql}),
      sessions AS (
        SELECT user_id, ts,
          -- DuckDB windowed SUM(int) yields HUGEINT; Spark yields BIGINT —
          -- pin BIGINT so the driver hash agrees (VERDICT r1 #1b).
          CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM flagged)
      SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sessions GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx""")),

    // ---- bounded interval join: clicks within 5 minutes after each
    // purchase, same user. Equi-join on user_id carries the shuffle;
    // the range predicate filters inside the join — no cross product.
    ("q52_range_join", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events
      // Both sides descend from the same scan: alias them so the join
      // condition resolves explicitly (no ambiguous-self-join WARN).
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
        .alias("p")
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
        .alias("c")
      p.join(c, col("p.user_id") === col("c.user_id")
          && col("c.cts") >= col("p.pts")
          && unix_micros(col("c.cts")) - unix_micros(col("p.pts")) <= 300L * 1000000L, "left")
        .groupBy(col("purchase_id"))
        .agg(count(col("click_id")).as("n_clicks_5m"))
        .orderBy(col("purchase_id"))
    }, Some("""
      SELECT p.event_id AS purchase_id,
             CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks_5m
      FROM events p LEFT JOIN events c
        ON p.user_id = c.user_id AND c.event_type = 'click'
       AND c.ts >= p.ts AND epoch_us(c.ts) - epoch_us(p.ts) <= 300000000
      WHERE p.event_type = 'purchase'
      GROUP BY p.event_id
      ORDER BY purchase_id""")),

    // ---- ordered funnel: view → click → purchase, each step's first
    // completion at-or-after the previous step's. The standard
    // conditional-min cascade: every stage joins and aggregates on
    // user_id, so all shuffles share one key (co-partitioned end to
    // end; AQE coalesces) and each stage's input shrinks to funnel
    // survivors. No window over a user's whole history is needed.
    ("q69_funnel", (s: SparkSession, dir: String) => {
      funnel(Tables(s, dir).events, Seq("view", "click", "purchase"))
        .select(col("user_id"), col("t1"), col("t2"), col("t3"), col("steps"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
             FROM events e JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts >= s1.t1
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
             FROM events e JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
             GROUP BY e.user_id)
      SELECT u.user_id, s1.t1, s2.t2, s3.t3,
             CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                       WHEN s2.t2 IS NOT NULL THEN 2
                       WHEN s1.t1 IS NOT NULL THEN 1
                       ELSE 0 END AS INTEGER) AS steps
      FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
             LEFT JOIN s3 USING (user_id)
      ORDER BY user_id""")),

    // ---- interval-INTERVAL overlap self-join (q52 is point-in-range;
    //      this is the both-sides-ranges variant): each order's
    //      fulfillment interval is [orderdate, max shipdate]; pairs of
    //      the SAME customer's orders whose intervals overlap are
    //      counted with exact overlap lengths in days. The equi-key
    //      (o_custkey) co-partitions the self-join — one shuffle per
    //      side, per-customer pair work C(k,2) for bounded k; on
    //      interval sets WITHOUT a natural equi-key the scale path is
    //      time-bin replication + the count-once-in-the-bin-of-
    //      max(start) responsibility rule (the q81 pigeonhole
    //      discipline). Canonical a<b on the order key counts each
    //      pair once.
    ("q152_interval_overlap", (s: SparkSession, dir: String) => {
      val t = Tables(s, dir)
      val iv = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"))
        .agg(to_date(min(col("o_orderdate"))).as("ivs"),
          to_date(max(col("l_shipdate"))).as("ive"))
        .select(col("o_custkey").as("key"), col("o_orderkey").as("id"),
          col("ivs"), col("ive"))
      intervalOverlapPairs(iv)
        .groupBy(col("key").as("custkey"))
        .agg(count(lit(1)).as("n_pairs"),
          max(col("overlap_days")).as("max_overlap_days"),
          sum(col("overlap_days")).as("sum_overlap_days"))
        .orderBy(col("custkey"))
    }, Some("""
      WITH iv AS (
        SELECT o.o_orderkey, o.o_custkey,
               CAST(MIN(o.o_orderdate) AS DATE) AS ivs,
               CAST(MAX(l.l_shipdate) AS DATE) AS ive
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_custkey),
      pr AS (
        SELECT a.o_custkey AS custkey,
               CAST(date_diff('day', greatest(a.ivs, b.ivs),
                              least(a.ive, b.ive)) + 1 AS BIGINT) AS overlap_days
        FROM iv a JOIN iv b
          ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
         AND a.ivs <= b.ive AND b.ivs <= a.ive)
      SELECT custkey, CAST(count(*) AS BIGINT) AS n_pairs,
             MAX(overlap_days) AS max_overlap_days,
             CAST(SUM(overlap_days) AS BIGINT) AS sum_overlap_days
      FROM pr GROUP BY custkey ORDER BY custkey""")),

    // ---- NATIVE session windows (q51's twin through Spark's built-in
    //      session_window aggregate — the operator Structured Streaming
    //      runs; here exercised in batch so the oracle can check it).
    //      Boundary semantics pinned by probe + spec: two events spaced
    //      EXACTLY one gap apart merge (new session iff diff > gap —
    //      identical membership to q51), and end = last activity + gap.
    //      The oracle replays q51's gap detector and shifts the end.
    ("q153_session_window", (s: SparkSession, dir: String) => {
      Tables(s, dir).events
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }, Some(s"""
      WITH flagged AS (
        SELECT user_id, ts,
          ${sessionBreakSql}),
      sessions AS (
        SELECT user_id, ts,
          CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sidx
        FROM flagged)
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 10 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, sidx
      ORDER BY user_id, session_start""")),

    // ---- SCD2 history build (state-change compression): each user's
    //      event-type stream collapses to one row per RUN of identical
    //      consecutive states — version number, valid_from, valid_to =
    //      next change (NULL while current), is_current — the
    //      slowly-changing-dimension type-2 table a warehouse derives
    //      from an event log. Two windows over the same (user, ts,
    //      event_id) sort: the change filter (lag) runs on the full
    //      stream, the interval stitch (lead) only on the surviving
    //      change rows — both streaming frames, no buffered partition;
    //      one shuffle total (the shared sort is reused).
    ("q157_scd2_history", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val changes = Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .withColumn("prev_et", lag(col("event_type"), 1).over(w))
        .filter(col("prev_et").isNull || col("prev_et") =!= col("event_type"))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      changes
        .withColumn("version", row_number().over(w2).cast("long"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w2))
        .select(col("user_id"), col("version"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("version"))
    }, Some("""
      WITH ch AS (
        SELECT user_id, ts, event_id, event_type,
               LAG(event_type) OVER w AS prev_et
        FROM events WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      runs AS (
        SELECT user_id, ts, event_id, event_type
        FROM ch WHERE prev_et IS NULL OR prev_et <> event_type)
      SELECT user_id,
             CAST(row_number() OVER w2 AS BIGINT) AS version,
             event_type AS state,
             ts AS valid_from,
             LEAD(ts) OVER w2 AS valid_to,
             (LEAD(ts) OVER w2 IS NULL) AS is_current
      FROM runs
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, version""")),

    // ---- per-user EWMA of event values (α = 0.3): the inherently
    //      SEQUENTIAL recurrence s_t = (α·x_t + (1−α)·s_{t−1}), run in
    //      integer micros with a per-step floor so both engines replay
    //      it bit-for-bit (floats would accumulate order-dependent
    //      error; q109's half-boundary lesson). Values enter the
    //      integer grid via floor(value·1e6) — floor, not CAST: Spark
    //      truncates double→long while DuckDB ROUNDS, so the explicit
    //      floor is the only portable quantizer. Batch replays the
    //      recurrence as an ordered-list fold (collect per user, fold
    //      in one higher-order expression — group-history-sized state,
    //      the documented bound); unbounded keys belong to the
    //      streaming form (flatMapGroupsWithState carrying s_t, the
    //      StatefulDedup shape) where state is ONE long per key.
    ("q162_ewma", (s: SparkSession, dir: String) => {
      userValueSeqs(s, dir)
        .selectExpr("user_id", "n_events",
          """aggregate(slice(transform(seq, e -> e.xm), 2, size(seq) - 1),
                       element_at(transform(seq, e -> e.xm), 1),
                       (acc, x) -> (300000 * x + 700000 * acc) DIV 1000000)
             AS ewma_micros""")
        .orderBy(col("user_id"))
    }, Some(s"""
      WITH ${userValueSql}
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             list_reduce(list(xm ORDER BY ts, event_id),
                         (acc, x) -> (300000 * x + 700000 * acc) // 1000000)
               AS ewma_micros
      FROM f GROUP BY user_id ORDER BY user_id""")),

    // ---- gap-fill / resample: per-user daily 'view' activity on a
    //      DENSE calendar grid (every day between that user's first and
    //      last observation), missing days forward-filled from the last
    //      observed day and flagged. This is the regularization step
    //      every downstream window/EWMA/PSI consumer silently assumes —
    //      without it, gaps make "previous row" mean "previous
    //      observation", not "yesterday". Day sums enter the exact
    //      integer grid as floor(value·1e6) addends (the q162 quantizer)
    //      so fill values replay bit-for-bit.
    //
    //      Scale shape: the grid is sequence(d0, d1) exploded PER USER —
    //      span-bounded (days, not events) and generated distributed, no
    //      driver calendar. One shuffle on user_id shared by the daily
    //      agg, the grid left-join, and the fill window (co-partitioned;
    //      AQE coalesces). The fill itself is the last-non-null rows
    //      window, the same one-pass technique as the q50 as-of join —
    //      state is one value per user regardless of span. A 100 TB
    //      corpus with multi-year spans bounds the blow-up at
    //      users × span_days, and the span filter (d0/d1 per user, not
    //      global min/max) keeps short-lived users from exploding to the
    //      corpus time range.
    ("q166_gapfill", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("event_type") === "view" &&
          col("value").isNotNull)
        .selectExpr("user_id", "CAST(ts AS DATE) AS day",
          "CAST(floor(value * 1000000) AS BIGINT) AS vm")
      val daily = ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_obs"), sum(col("vm")).as("day_sum_micros"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("is_filled", col("n_obs").isNull)
        .withColumn("filled_sum_micros",
          last(col("day_sum_micros"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("day"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          col("is_filled"), col("filled_sum_micros"))
        .orderBy(col("user_id"), col("day"))
    }, Some("""
      WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000000) AS BIGINT) AS vm
        FROM events
        WHERE user_id IS NOT NULL AND event_type = 'view' AND value IS NOT NULL),
      daily AS (
        SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_obs,
               CAST(SUM(vm) AS BIGINT) AS day_sum_micros
        FROM ev GROUP BY user_id, day),
      grid AS (
        SELECT user_id,
               CAST(unnest(range(CAST(d0 AS TIMESTAMP),
                                 CAST(d1 AS TIMESTAMP) + INTERVAL 1 DAY,
                                 INTERVAL 1 DAY)) AS DATE) AS day
        FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY user_id)),
      j AS (
        SELECT g.user_id, g.day, d.n_obs, d.day_sum_micros
        FROM grid g LEFT JOIN daily d
          ON g.user_id = d.user_id AND g.day = d.day)
      SELECT user_id, day, COALESCE(n_obs, 0) AS n_obs,
             (n_obs IS NULL) AS is_filled,
             last_value(day_sum_micros IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_sum_micros
      FROM j ORDER BY user_id, day""")),

    // ---- event-transition matrix (first-order Markov paths): for every
    //      consecutive pair of events in a user's stream, count the
    //      (src → dst) transition and ship the row-normalized
    //      probability in ppm — the "what do users do next" table
    //      product analytics reads, and the transition model a
    //      next-event predictor baselines against. One lag window per
    //      user (state = one row), one map-side-combined count, one
    //      constant-size (|types|²) matrix — nothing here grows with
    //      the corpus except the embarrassingly-parallel window.
    ("q174_event_transitions", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wsrc = Window.partitionBy(col("src_et"))
      Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .withColumn("dst_et", lead(col("event_type"), 1).over(w))
        .filter(col("dst_et").isNotNull)
        .groupBy(col("event_type").as("src_et"), col("dst_et"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum(col("n")).over(wsrc))
        .withColumn("p_ppm", expr("(n * 1000000) DIV row_total"))
        .select(col("src_et"), col("dst_et"), col("n"), col("p_ppm"))
        .orderBy(col("src_et"), col("dst_et"))
    }, Some("""
      WITH tr AS (
        SELECT event_type AS src_et,
               LEAD(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS dst_et
        FROM events WHERE user_id IS NOT NULL),
      m AS (
        SELECT src_et, dst_et, CAST(count(*) AS BIGINT) AS n
        FROM tr WHERE dst_et IS NOT NULL GROUP BY src_et, dst_et)
      SELECT src_et, dst_et, n,
             CAST((n * 1000000) // SUM(n) OVER (PARTITION BY src_et) AS BIGINT) AS p_ppm
      FROM m ORDER BY src_et, dst_et""")),

    // ---- Kaplan-Meier time-to-conversion curve (Kaplan & Meier 1958)
    //      with right-censoring: per user, the "event" is the FIRST
    //      purchase, measured in days from the user's first activity;
    //      users who never purchase are censored at the observation
    //      window's end — still unconverted when observation stopped,
    //      so they leave the risk set without counting against
    //      survival. S(t) steps only at event days:
    //      S = Π (n_risk − d)/n_risk, replayed as a per-step floored
    //      integer product (micros), so both engines walk the
    //      identical lattice. The curve a conversion/churn analysis
    //      plots, with censoring done correctly (naive curves treat
    //      censored users as converted-never and bias the estimate).
    //
    //      Scale shape: the per-user endpoint is one max() aggregate;
    //      everything after runs on the DAY-level table — rows bounded
    //      by the time span, never the corpus — so the single-group
    //      collect + O(days²) prefix fold is span-bounded driver-safe
    //      state, the same argument as q129's vocab-sized merge loop.
    ("q175_kaplan_meier", (s: SparkSession, dir: String) => {
      survivalRisk(s, dir)
        .agg(sort_array(collect_list(struct(col("e_off"), col("n"), col("d"))))
          .as("arr"))
        .selectExpr("""explode(transform(sequence(1, size(arr)), k ->
            named_struct(
              'day_off', CAST(element_at(arr, k).e_off AS BIGINT),
              'n_risk', element_at(arr, k).n,
              'n_deaths', element_at(arr, k).d,
              's_micros', aggregate(slice(arr, 1, k), CAST(1000000 AS BIGINT),
                (acc, x) -> (acc * (x.n - x.d)) DIV x.n)))) AS e""")
        .selectExpr("e.day_off", "e.n_risk", "e.n_deaths", "e.s_micros")
        .filter(col("n_deaths") > 0)
        .orderBy(col("day_off"))
    }, Some(s"""
      WITH ${survivalRiskSql},
      packed AS (
        SELECT list_prepend({'e_off': 0::BIGINT, 'n': 1::BIGINT, 'd': 0::BIGINT,
                             's': 1000000::BIGINT},
                 list({'e_off': CAST(e_off AS BIGINT), 'n': n, 'd': d,
                       's': 0::BIGINT} ORDER BY e_off)) AS arr
        FROM risk),
      steps AS (
        -- struct accumulator is safe HERE (unlike q176): DuckDB
        -- mutates fields in declaration order, and 's' — the only
        -- field reading the accumulator — is declared last and reads
        -- only acc.s, which nothing before it overwrites
        SELECT unnest(list_transform(range(1, len(arr)), k ->
          list_reduce(list_slice(arr, 1, k + 1),
            (acc, x) -> {'e_off': x.e_off, 'n': x.n, 'd': x.d,
                         's': (acc.s * (x.n - x.d)) // x.n}))) AS e
        FROM packed)
      SELECT e.e_off AS day_off, e.n AS n_risk, e.d AS n_deaths,
             e.s AS s_micros
      FROM steps WHERE e.d > 0
      ORDER BY day_off""")),

    // ---- Holt linear-trend smoothing (Holt 1957): the two coupled
    //      recurrences l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    //      b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} with α=0.5, β=0.3, run
    //      per user in integer micros with a floor after EVERY
    //      multiplication — the q162 EWMA discipline extended to a
    //      two-value state, which is exactly what the streaming form
    //      carries per key. Initialization l₁=x₁, b₁=0 (documented;
    //      the x₂−x₁ variant changes only the seed element). Output:
    //      final level, trend, and the one-step forecast l+b —
    //      the "where is this metric heading" per-entity readout.
    //
    //      Scale shape: identical to q162 — group-history-sized fold
    //      state per user (the documented bound), one shuffle; the
    //      unbounded-stream form belongs to flatMapGroupsWithState
    //      with TWO longs of state per key.
    ("q176_holt_trend", (s: SparkSession, dir: String) => {
      userValueSeqs(s, dir)
        .selectExpr("user_id", "n_events",
          """aggregate(slice(transform(seq, e -> e.xm), 2, size(seq) - 1),
               named_struct('l', element_at(transform(seq, e -> e.xm), 1),
                            'b', CAST(0 AS BIGINT)),
               (acc, x) -> named_struct(
                 'l', (500000 * x + 500000 * (acc.l + acc.b)) DIV 1000000,
                 'b', (300000 * (((500000 * x + 500000 * (acc.l + acc.b))
                                  DIV 1000000) - acc.l)
                       + 700000 * acc.b) DIV 1000000)) AS st""")
        .selectExpr("user_id", "n_events", "st.l AS level_micros",
          "st.b AS trend_micros", "st.l + st.b AS forecast_micros")
        .orderBy(col("user_id"))
    }, Some(s"""
      WITH ${userValueSql},
      folded AS (
        -- state is a 2-list [l, b], NOT a struct: DuckDB's list_reduce
        -- mutates a struct accumulator field-by-field during
        -- construction (the 'b' formula would see the NEW 'l'),
        -- while list construction evaluates all elements against the
        -- old accumulator — matching Spark's functional semantics
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               list_reduce(
                 list_transform(list(xm ORDER BY ts, event_id),
                   v -> [v, 0::BIGINT]),
                 (acc, x) -> [
                   (500000 * x[1] + 500000 * (acc[1] + acc[2])) // 1000000,
                   (300000 * (((500000 * x[1] + 500000 * (acc[1] + acc[2]))
                               // 1000000) - acc[1])
                    + 700000 * acc[2]) // 1000000]) AS st
        FROM f GROUP BY user_id)
      SELECT user_id, n_events, st[1] AS level_micros, st[2] AS trend_micros,
             st[1] + st[2] AS forecast_micros
      FROM folded ORDER BY user_id""")),

    // ---- CUSUM change-point monitor (Page 1954) over the daily event
    //      volume: S⁺_t = max(0, S⁺_{t−1} + x_t − μ − k) accumulates
    //      upward drift, S⁻ the mirror — the sequential detector that
    //      fires on a sustained small shift long before any per-day
    //      threshold does. μ = the series' truncated mean count in
    //      micros; slack k = μ/20 and alarm threshold h = μ/2 (both
    //      documented parameter choices, derived from μ by truncating
    //      DIV so the oracle replays them). Per-day statistics via the
    //      q175 prefix-fold (day-count-bounded O(days²)); the fold
    //      state is the [s_hi, s_lo] 2-list — the q176 list-accumulator
    //      discipline, since both fields read both old values.
    //
    //      Scale shape: one count aggregate to the day table (span-
    //      bounded, never corpus-bounded), everything after runs on
    //      days. The streaming form carries two longs per key.
    ("q182_cusum", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .selectExpr("CAST(ts AS DATE) AS day")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("c"))
        .selectExpr("day", "c * 1000000 AS xm")
      val mu = daily.agg(sum(col("xm")).as("sx"), count(lit(1)).as("n"))
        .selectExpr("sx DIV n AS mu")
      daily.crossJoin(broadcast(mu))
        .agg(max(col("mu")).as("mu"),
          sort_array(collect_list(struct(col("day"), col("xm")))).as("arr"))
        .selectExpr("mu", """explode(transform(sequence(1, size(arr)), j ->
            named_struct(
              'day', element_at(arr, j).day,
              'x_micros', element_at(arr, j).xm,
              'st', aggregate(slice(arr, 1, j),
                array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
                (acc, e) -> array(
                  greatest(CAST(0 AS BIGINT),
                    acc[0] + e.xm - mu - mu DIV 20),
                  greatest(CAST(0 AS BIGINT),
                    acc[1] - e.xm + mu - mu DIV 20)))))) AS e""")
        .selectExpr("e.day", "e.x_micros", "e.st[0] AS s_hi", "e.st[1] AS s_lo",
          "e.st[0] > mu DIV 2 OR e.st[1] > mu DIV 2 AS alarm")
        .orderBy(col("day"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) * 1000000 AS xm
        FROM events GROUP BY day),
      mu AS (SELECT CAST(SUM(xm) AS BIGINT) // count(*) AS mu FROM daily),
      packed AS (
        SELECT mu.mu, list({'day': day, 'xm': xm} ORDER BY day) AS arr
        FROM daily, mu GROUP BY mu.mu),
      steps AS (
        SELECT mu, unnest(list_transform(range(1, len(arr) + 1), j -> {
          'day': arr[j].day, 'xm': arr[j].xm,
          'st': list_reduce(
            list_prepend([0::BIGINT, 0::BIGINT],
              list_transform(list_slice(arr, 1, j), e -> [e.xm, 0::BIGINT])),
            (acc, x) -> [
              greatest(0, acc[1] + x[1] - mu - mu // 20),
              greatest(0, acc[2] - x[1] + mu - mu // 20)])})) AS e
        FROM packed)
      SELECT e.day AS day, e.xm AS x_micros,
             e.st[1] AS s_hi, e.st[2] AS s_lo,
             (e.st[1] > mu // 2 OR e.st[2] > mu // 2) AS alarm
      FROM steps ORDER BY day""")),

    // ---- autocorrelation function of the daily event volume at lags
    //      1..7 (the weekly-seasonality audit): with the exact-integer
    //      centering trick (c_t = n·x_t − Σx, integers scaled by n),
    //      r_L = Σ c_t·c_{t+L} · 1e6 DIV Σ c_t² — one DECIMAL(38,0)
    //      cross-product sum per lag over the day table, no sqrt, no
    //      float. An r₇ spike says weekly cycle; all-lags-near-zero
    //      says the volume is white — the check that q182's μ-shift
    //      alarm and q111's spike detector assume.
    //
    //      Scale shape: day-table self-join on day+L — 7·days rows.
    ("q183_autocorr", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .selectExpr("CAST(ts AS DATE) AS day")
        .groupBy(col("day")).agg(count(lit(1)).as("x"))
        .transform(graft.Stage.mat) // feeds totals, the pair join, and den
      val tot = daily.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      val c = daily.crossJoin(broadcast(tot))
        .selectExpr("day", "n * x - sx AS c", "n")
      val den = c.agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("den"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      c.select(col("day"), col("c"))
        .crossJoin(broadcast(lags))
        .join(c.selectExpr("day AS day2", "c AS c2"),
          expr("date_add(day, CAST(lag AS INT)) = day2"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c2")).as("num"))
        .crossJoin(broadcast(den))
        .selectExpr("lag", "n_pairs",
          "CAST((num * 1000000) DIV greatest(den, CAST(1 AS DECIMAL(38,0))) AS BIGINT) AS r_micros")
        .orderBy(col("lag"))
    }, Some(s"""
      WITH ${centeredDailySql},
      lags AS (SELECT unnest(range(1, 8)) AS lag),
      num AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
               SUM(CAST(a.c AS HUGEINT) * b.c) AS num
        FROM c a JOIN lags ON TRUE
        JOIN c b ON a.day + CAST(lag AS INTEGER) = b.day
        GROUP BY lag)
      SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
             CAST((num * 1000000) // greatest(den, 1) AS BIGINT) AS r_micros
      FROM num CROSS JOIN den
      ORDER BY lag""")),

    // ---- rolling 7-day window statistics of the daily event volume —
    //      the RANGE-frame capability (value-based bounds, not row
    //      counts): each day aggregates the days whose OFFSET lies in
    //      [d−6, d], so calendar gaps shrink the window instead of
    //      silently pulling in older rows the way a ROWS frame would.
    //      Implemented on integer days-since-epoch so the frame bound
    //      arithmetic is identical in both engines (Spark's
    //      rangeBetween and DuckDB's RANGE both take plain integer
    //      offsets); mean in micros by truncating DIV.
    //
    //      Scale shape: one span-bounded day aggregate, then a single
    //      ordered window over days — days, never events, flow
    //      through the sort.
    ("q184_rolling_window", (s: SparkSession, dir: String) => {
      val w = Window.orderBy(col("od")).rangeBetween(-6, 0)
      Tables(s, dir).events
        .selectExpr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od")
        .groupBy(col("od")).agg(count(lit(1)).as("c"))
        .withColumn("n_days_in_window", count(lit(1)).over(w))
        .withColumn("roll_sum", sum(col("c")).over(w))
        .withColumn("roll_mean_micros",
          expr("(roll_sum * 1000000) DIV n_days_in_window"))
        .withColumn("roll_max", max(col("c")).over(w))
        .select(col("od"), col("c"), col("n_days_in_window"),
          col("roll_sum"), col("roll_mean_micros"), col("roll_max"))
        .orderBy(col("od"))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY od)
      SELECT od, c,
             CAST(count(*) OVER w AS BIGINT) AS n_days_in_window,
             CAST(SUM(c) OVER w AS BIGINT) AS roll_sum,
             CAST((CAST(SUM(c) OVER w AS BIGINT) * 1000000)
                  // CAST(count(*) OVER w AS BIGINT) AS BIGINT) AS roll_mean_micros,
             CAST(MAX(c) OVER w AS BIGINT) AS roll_max
      FROM daily
      WINDOW w AS (ORDER BY od RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY od""")),

    // ---- growth accounting: per day, active users (DAU), first-time
    //      users, returning users, the cumulative user count, and the
    //      7-day active count (WAU) — the new/retained/resurrected
    //      decomposition every growth dashboard opens with. Built
    //      entirely on the (user, day) DISTINCT activity table: new =
    //      first-seen-day match, cumulative = running sum of new (the
    //      identity that makes cumulative-distinct a one-pass
    //      aggregate, never a giant distinct-over-window), WAU = the
    //      user-day table joined to the day spine on a 7-day offset
    //      range then counted distinct per day.
    //
    //      Scale shape: one distinct shuffle to user-days (map-side
    //      combined), one user-keyed min for first-seen; the WAU join
    //      replicates each user-day ≤ 7× against the span-bounded day
    //      spine — linear in user-days, and the spine side broadcasts.
    ("q186_growth", (s: SparkSession, dir: String) => {
      val ud = Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .selectExpr("user_id",
          "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od")
        .distinct()
        .transform(graft.Stage.mat) // feeds dau, first-seen, AND the wau join
      val firstSeen = ud.groupBy(col("user_id")).agg(min(col("od")).as("fs"))
      val dau = ud.groupBy(col("od")).agg(count(lit(1)).as("dau"))
      val newu = firstSeen.groupBy(col("fs").as("od")).agg(count(lit(1)).as("n_new"))
      val spine = dau.select(col("od")).distinct()
      val wau = ud.join(broadcast(spine.select(col("od").as("d0"))),
          col("od").between(col("d0") - 6, col("d0")))
        .groupBy(col("d0")).agg(countDistinct(col("user_id")).as("wau"))
        .withColumnRenamed("d0", "od")
      val w = Window.orderBy(col("od"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dau.join(newu, Seq("od"), "left")
        .join(wau, Seq("od"), "left")
        .selectExpr("od", "dau", "coalesce(n_new, 0L) AS n_new",
          "coalesce(wau, 0L) AS wau")
        .withColumn("n_returning", col("dau") - col("n_new"))
        .withColumn("cum_users", sum(col("n_new")).over(w))
        .select(col("od"), col("dau"), col("n_new"), col("n_returning"),
          col("cum_users"), col("wau"))
        .orderBy(col("od"))
    }, Some("""
      WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od
        FROM events WHERE user_id IS NOT NULL),
      fs AS (SELECT user_id, MIN(od) AS fs FROM ud GROUP BY user_id),
      dau AS (SELECT od, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY od),
      newu AS (SELECT fs AS od, CAST(count(*) AS BIGINT) AS n_new
               FROM fs GROUP BY fs),
      wau AS (
        SELECT d.od, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
        FROM (SELECT od FROM dau) d
        JOIN ud ON ud.od BETWEEN d.od - 6 AND d.od
        GROUP BY d.od)
      SELECT dau.od, dau.dau,
             COALESCE(newu.n_new, 0) AS n_new,
             dau.dau - COALESCE(newu.n_new, 0) AS n_returning,
             CAST(SUM(COALESCE(newu.n_new, 0)) OVER (ORDER BY dau.od
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users,
             COALESCE(wau.wau, 0) AS wau
      FROM dau LEFT JOIN newu ON dau.od = newu.od
      LEFT JOIN wau ON dau.od = wau.od
      ORDER BY dau.od""")),

    // ---- conversion attribution (first-touch vs last-touch): each
    //      purchase looks back over the user's non-purchase events in
    //      the preceding 3 days and credits the earliest and the
    //      latest touch's event type — the two bookend models every
    //      attribution report starts from (the gap between them is the
    //      upper/lower envelope any fancier position-based model must
    //      land inside). Per type: first-touch credits, last-touch
    //      credits; zz row = conversions with NO touch in window (the
    //      unattributable base both models must agree on).
    //
    //      Scale shape: the lookback join is user-keyed (one shuffle
    //      per side, co-partitioned) and time-bounded — each purchase
    //      pulls only its 3-day window; both bookends come from ONE
    //      sort per conversion (rn ascending + the partition count),
    //      then two constant-size credit aggregates.
    ("q188_attribution", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .transform(graft.Stage.mat) // feeds conversions AND touches
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"), col("ts").as("pts"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("et"))
      val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("event_id"))
      val wc = Window.partitionBy(col("conv_id"))
      val j = conv.join(touch, Seq("user_id"))
        .filter(col("ts") < col("pts") &&
          col("ts") >= expr("pts - INTERVAL 3 DAYS"))
        .withColumn("rn", row_number().over(w))
        .withColumn("nt", count(lit(1)).over(wc))
      val first = j.filter(col("rn") === 1)
        .groupBy(col("et")).agg(count(lit(1)).as("n_first"))
      val last = j.filter(col("rn") === col("nt"))
        .groupBy(col("et")).agg(count(lit(1)).as("n_last"))
      val touched = j.select(col("conv_id")).distinct()
      val zz = conv.join(touched, Seq("conv_id"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .selectExpr("'zz_untouched' AS et", "n AS n_first", "n AS n_last")
      first.join(last, Seq("et"), "full_outer")
        .selectExpr("et", "coalesce(n_first, 0L) AS n_first",
          "coalesce(n_last, 0L) AS n_last")
        .unionAll(zz)
        .orderBy(col("et"))
    }, Some("""
      WITH conv AS (
        SELECT user_id, event_id AS conv_id, ts AS pts
        FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'),
      touch AS (
        SELECT user_id, ts, event_id, event_type AS et
        FROM events WHERE user_id IS NOT NULL AND event_type <> 'purchase'),
      j AS (
        SELECT c.conv_id, t.et,
               row_number() OVER (PARTITION BY c.conv_id
                 ORDER BY t.ts, t.event_id) AS rn,
               count(*) OVER (PARTITION BY c.conv_id) AS nt
        FROM conv c JOIN touch t
          ON c.user_id = t.user_id
         AND t.ts < c.pts AND t.ts >= c.pts - INTERVAL 3 DAY),
      first AS (SELECT et, CAST(count(*) AS BIGINT) AS n_first
                FROM j WHERE rn = 1 GROUP BY et),
      last AS (SELECT et, CAST(count(*) AS BIGINT) AS n_last
               FROM j WHERE rn = nt GROUP BY et),
      zz AS (
        SELECT 'zz_untouched' AS et,
               CAST(count(*) AS BIGINT) AS n_first,
               CAST(count(*) AS BIGINT) AS n_last
        FROM conv WHERE conv_id NOT IN (SELECT DISTINCT conv_id FROM j))
      SELECT COALESCE(first.et, last.et) AS et,
             COALESCE(n_first, 0) AS n_first,
             COALESCE(n_last, 0) AS n_last
      FROM first FULL OUTER JOIN last ON first.et = last.et
      UNION ALL SELECT et, n_first, n_last FROM zz
      ORDER BY et""")),

    // ---- cross-correlation of the daily 'view' and 'purchase' volume
    //      series at lags −3..+3 (does browsing LEAD buying?): the q183
    //      integer-centering discipline per series (c = n·x − Σx over
    //      the days both series span), r_L = Σ cv_t·cp_{t+L} · 1e6 DIV
    //      √-free normalizer — shipped as the ratio against the
    //      GEOMETRIC-MEAN-FREE bound Σcv²·Σcp² in the no-sqrt
    //      convention: sign + squared micros (r² preserves ordering
    //      and the lead/lag argmax, which is what the analysis reads).
    //      A positive-lag peak says views precede purchases by that
    //      many days — the planning signal a demand forecaster feeds.
    //
    //      Scale shape: two span-bounded day aggregates densified onto
    //      the shared day spine (absent days = 0, exact), one 7-lag
    //      self-join on the day table.
    ("q191_crosscorr", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events
        .selectExpr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od",
          "event_type")
      val days = ev.groupBy(col("od"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
        .transform(graft.Stage.mat) // feeds totals, both join sides, both dens
      val tot = days.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("p")).as("sp"))
      val c = days.crossJoin(broadcast(tot))
        .selectExpr("od", "n * v - sv AS cv", "n * p - sp AS cp")
        .transform(graft.Stage.mat)
      val den = c.agg(sum(expr("CAST(cv AS DECIMAL(38,0)) * cv")).as("dv"),
        sum(expr("CAST(cp AS DECIMAL(38,0)) * cp")).as("dp"))
      val lags = s.range(-3, 4).select(col("id").as("lag"))
      c.select(col("od"), col("cv"))
        .crossJoin(broadcast(lags))
        .join(c.selectExpr("od AS od2", "cp AS cp2"),
          expr("od + lag = od2"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(cv AS DECIMAL(38,0)) * cp2")).as("num"))
        .crossJoin(broadcast(den))
        .selectExpr("lag", "n_pairs",
          "CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END AS BIGINT) AS r_sign",
          """CAST((num * num * 1000000)
                  DIV greatest(dv * dp, CAST(1 AS DECIMAL(38,0))) AS BIGINT)
             AS r2_micros""")
        .orderBy(col("lag"))
    }, Some("""
      WITH ev AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               event_type
        FROM events),
      days AS (
        SELECT od,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM ev GROUP BY od),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv,
                     CAST(SUM(p) AS BIGINT) AS sp FROM days),
      c AS (SELECT od, n * v - sv AS cv, n * p - sp AS cp FROM days, tot),
      den AS (SELECT SUM(CAST(cv AS HUGEINT) * cv) AS dv,
                     SUM(CAST(cp AS HUGEINT) * cp) AS dp FROM c),
      lags AS (SELECT unnest(range(-3, 4)) AS lag),
      num AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
               SUM(CAST(a.cv AS HUGEINT) * b.cp) AS num
        FROM c a JOIN lags ON TRUE
        JOIN c b ON a.od + lag = b.od
        GROUP BY lag)
      SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
             CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END AS BIGINT) AS r_sign,
             CAST((num * num * 1000000) // greatest(dv * dp, 1) AS BIGINT) AS r2_micros
      FROM num CROSS JOIN den
      ORDER BY lag""")),

    // ---- Mann-Kendall trend test on the daily event volume — the
    //      nonparametric "is this series drifting" answer q183's
    //      autocorrelation and q182's CUSUM both presuppose. ENTIRELY
    //      integer: S = Σ_{i<j} sign(x_j − x_i) over ordered day
    //      pairs; the tie-corrected variance rides ×18
    //      (var18 = n(n−1)(2n+5) − Σ_k t_k(t_k−1)(2t_k+5), so no /18
    //      ever happens); significance at 95% compares the
    //      continuity-corrected z² as the exact integer inequality
    //      10000·18·(|S|−1)² > 38416·var18 (1.96² = 3.8416). No sqrt,
    //      no float — both engines replay the decision bit-for-bit.
    //
    //      Scale shape: day-pair join is span-bounded O(days²), the
    //      tie table is value-bounded; the corpus contributes one
    //      count-by-day aggregate and nothing else.
    ("q206_mann_kendall", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .selectExpr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od")
        .groupBy(col("od")).agg(count(lit(1)).as("x"))
        .transform(graft.Stage.mat) // feeds the pair join, ties, and n
      val sAgg = daily.select(col("od"), col("x"))
        .join(daily.selectExpr("od AS od2", "x AS x2"), expr("od < od2"))
        .agg(coalesce(sum(signum(col("x2") - col("x")).cast("long")), lit(0L)).as("s"))
      val nTies = daily.groupBy(col("x")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t")).cast("long"), lit(0L)).as("n"),
          coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie18"))
      sAgg.crossJoin(broadcast(nTies))
        .selectExpr("n AS n_days", "s",
          "n * (n - 1) * (2 * n + 5) - tie18 AS var18")
        .selectExpr("n_days", "s", "var18",
          """CASE WHEN abs(s) > 0
                   AND 10000 * 18 * (abs(s) - 1) * (abs(s) - 1) > 38416 * var18
                  THEN (CASE WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END)
                  ELSE 'no_trend' END AS trend""")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY od),
      sv AS (
        SELECT COALESCE(CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT), 0) AS s
        FROM daily a JOIN daily b ON a.od < b.od),
      ties AS (
        SELECT COALESCE(CAST(SUM(t) AS BIGINT), 0) AS n,
               COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0) AS tie18
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x))
      SELECT n AS n_days, s,
             n * (n - 1) * (2 * n + 5) - tie18 AS var18,
             CASE WHEN abs(s) > 0
                   AND 10000 * 18 * (abs(s) - 1) * (abs(s) - 1) > 38416 * (n * (n - 1) * (2 * n + 5) - tie18)
                  THEN (CASE WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END)
                  ELSE 'no_trend' END AS trend
      FROM sv CROSS JOIN ties""")),

    // ---- Theil-Sen robust trend line of the daily event volume — the
    //      estimator q206 says exists and q140's OLS can't protect
    //      from outlier days (one traffic spike drags a least-squares
    //      slope; the median of pairwise slopes shrugs it off).
    //      Exact-integer convention: each pair contributes
    //      slope_micros = (Δx · 1e6) DIV Δday (truncating DIV, both
    //      engines truncate toward zero); the estimate is the LOWER
    //      MEDIAN (rank ceil(n/2) of the ordered multiset) — a
    //      deterministic element of the data, no averaging of middles,
    //      no float. Intercept = lower median of x_i·1e6 − slope·od_i
    //      over the days, the standard Theil-Sen companion.
    //
    //      Scale shape: O(days²) pairs + two bounded rank windows —
    //      span-bounded throughout; corpus contributes one aggregate.
    ("q207_theil_sen", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .selectExpr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od")
        .groupBy(col("od")).agg(count(lit(1)).as("x"))
        .transform(graft.Stage.mat) // feeds slopes and the intercept pass
      val slopes = daily.select(col("od"), col("x"))
        .join(daily.selectExpr("od AS od2", "x AS x2"), expr("od < od2"))
        .selectExpr("((x2 - x) * 1000000) DIV (od2 - od) AS sl")
      val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("sl"))
      val med = slopes
        .withColumn("rn", row_number().over(wAll))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(expr("rn = (n + 1) DIV 2"))
        .select(col("sl").as("slope_micros"), col("n").as("n_pairs"))
      val wDay = org.apache.spark.sql.expressions.Window.orderBy(col("ic"))
      daily.crossJoin(broadcast(med))
        .selectExpr("slope_micros", "n_pairs", "x * 1000000 - slope_micros * od AS ic")
        .withColumn("rn", row_number().over(wDay))
        .withColumn("nd", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(expr("rn = (nd + 1) DIV 2"))
        .selectExpr("n_pairs", "CAST(nd AS BIGINT) AS n_days", "slope_micros",
          "ic AS intercept_micros")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY od),
      slopes AS (
        SELECT ((b.x - a.x) * 1000000) // (b.od - a.od) AS sl
        FROM daily a JOIN daily b ON a.od < b.od),
      med AS (
        SELECT sl AS slope_micros, n AS n_pairs
        FROM (SELECT sl, row_number() OVER (ORDER BY sl) AS rn,
                     CAST(count(*) OVER () AS BIGINT) AS n
              FROM slopes)
        WHERE rn = (n + 1) // 2),
      ics AS (
        SELECT m.slope_micros, m.n_pairs,
               d.x * 1000000 - m.slope_micros * d.od AS ic
        FROM daily d CROSS JOIN med m)
      SELECT n_pairs, CAST(nd AS BIGINT) AS n_days, slope_micros,
             ic AS intercept_micros
      FROM (SELECT *, row_number() OVER (ORDER BY ic) AS rn,
                   count(*) OVER () AS nd
            FROM ics)
      WHERE rn = (nd + 1) // 2""")),

    // ---- additive Holt–Winters, weekly season, on daily volumes per
    //      event type: final level/trend, the in-sample Σ|error| fit
    //      readout, and all 7 seasonal components in integer micros.
    //      The oracle's list_reduce replays the fold bit-for-bit.
    ("q226_holt_winters", (s: SparkSession, dir: String) => {
      holtWinters(Tables(s, dir).events)
    }, Some(holtWintersSql)),

    // ---- Kendall tau-b between the daily click and purchase volumes:
    //      concordant/discordant/tie counts over the span-bounded
    //      day-pair join (the q206 idiom), tau shipped as sign +
    //      squared ratio in micros (the assortativity no-sqrt
    //      convention): tau2 = (C−D)²·1e6 div ((n0−n1)(n0−n2)). The
    //      rank-based complement of q146's Spearman — robust to the
    //      volume spikes that shred a Pearson r.
    ("q229_kendall_tau", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .filter(col("event_type").isin("click", "purchase"))
        .selectExpr("CAST(ts AS DATE) AS day", "event_type")
        .groupBy(col("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .transform(graft.Stage.mat)
      val b = daily.selectExpr("day AS day2", "x AS x2", "y AS y2")
      val agg = daily.join(b, expr("day < day2"))
        .selectExpr(
          "CASE WHEN (x - x2) * (y - y2) > 0 THEN 1 ELSE 0 END AS c",
          "CASE WHEN (x - x2) * (y - y2) < 0 THEN 1 ELSE 0 END AS d",
          "CASE WHEN x = x2 THEN 1 ELSE 0 END AS tx",
          "CASE WHEN y = y2 THEN 1 ELSE 0 END AS ty")
        .agg(sum(col("c")).as("nc"), sum(col("d")).as("nd"),
          sum(col("tx")).as("n1"), sum(col("ty")).as("n2"),
          count(lit(1)).as("n0"))
      agg.selectExpr("n0 AS n_pairs", "nc AS n_concordant", "nd AS n_discordant",
        "n1 AS n_ties_x", "n2 AS n_ties_y",
        "CAST(sign(nc - nd) AS BIGINT) AS tau_sign",
        """CAST((CAST(nc - nd AS DECIMAL(38,0)) * (nc - nd) * 1000000)
            DIV greatest(CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n2), 1)
            AS BIGINT) AS tau2_micros""")
    }, Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY CAST(ts AS DATE)),
      ag AS (
        SELECT CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
               CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
               CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(count(*) AS BIGINT) AS n0
        FROM daily a JOIN daily b ON a.day < b.day)
      SELECT n0 AS n_pairs, nc AS n_concordant, nd AS n_discordant,
             n1 AS n_ties_x, n2 AS n_ties_y,
             CAST(CASE WHEN nc > nd THEN 1 WHEN nc < nd THEN -1 ELSE 0 END AS BIGINT) AS tau_sign,
             CAST((CAST(nc - nd AS HUGEINT) * (nc - nd) * 1000000)
                  // greatest(CAST(n0 - n1 AS HUGEINT) * (n0 - n2), 1)
                  AS BIGINT) AS tau2_micros
      FROM ag""")),

    // ---- classical seasonal decomposition (the moving-average
    //      decomposition STL descends from): daily volume y split into
    //      trend (centered 7-day MA, full windows only), weekly
    //      seasonal (per-cycle-slot mean of the detrended series,
    //      re-centered so the 7 components sum ≈ 0), and remainder —
    //      all truncating integer micros over the span-bounded daily
    //      table, so the oracle replays every window mean. Cycle slot
    //      is epoch-day mod 7 (a consistent 7-cycle; calendar DOW is a
    //      fixed rotation of it). Rows-frame MA assumes a gap-free
    //      daily series — gap-fill first (q173) on sparse data.
    ("q238_classical_decomp", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .selectExpr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od")
        .groupBy(col("od")).agg((count(lit(1)) * 1000000L).as("y"))
        .transform(graft.Stage.mat)
      val w = Window.orderBy(col("od")).rowsBetween(-3, 3)
      val tr = daily
        .withColumn("cnt7", count(lit(1)).over(w))
        .withColumn("s7", sum(col("y")).over(w))
        .withColumn("trend", expr("s7 DIV 7"))
        .filter(col("cnt7") === 7)
        .withColumn("det", col("y") - col("trend"))
        .withColumn("slot", expr("od % 7"))
        .transform(graft.Stage.mat)
      val sraw = tr.groupBy(col("slot"))
        .agg(sum(col("det")).as("sd"), count(lit(1)).as("cc"))
        .selectExpr("slot", "sd DIV cc AS sw")
      val smean = sraw.agg(sum(col("sw")).as("ssw"), count(lit(1)).as("nsl"))
        .selectExpr("ssw DIV nsl AS sm")
      val sadj = sraw.crossJoin(broadcast(smean))
        .select(col("slot"), (col("sw") - col("sm")).as("seasonal"))
      tr.join(sadj, Seq("slot"))
        .selectExpr("od AS day", "y AS y_micros", "trend AS trend_micros",
          "seasonal AS seasonal_micros",
          "det - seasonal AS remainder_micros")
        .orderBy(col("day"))
    }, Some("""
      WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS od,
               CAST(count(*) AS BIGINT) * 1000000 AS y
        FROM events GROUP BY 1),
      ma AS (
        SELECT od, y,
               count(*) OVER (ORDER BY od ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7,
               CAST(SUM(y) OVER (ORDER BY od ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    // 7 AS BIGINT) AS trend
        FROM daily),
      tr AS (SELECT od, y, trend, y - trend AS det, od % 7 AS slot
             FROM ma WHERE cnt7 = 7),
      sraw AS (SELECT slot, CAST(SUM(det) // count(*) AS BIGINT) AS sw
               FROM tr GROUP BY slot),
      sm AS (SELECT CAST(SUM(sw) // count(*) AS BIGINT) AS m FROM sraw),
      sadj AS (SELECT slot, sw - m AS seasonal FROM sraw CROSS JOIN sm)
      SELECT tr.od AS day, tr.y AS y_micros, tr.trend AS trend_micros,
             CAST(sadj.seasonal AS BIGINT) AS seasonal_micros,
             CAST(tr.det - sadj.seasonal AS BIGINT) AS remainder_micros
      FROM tr JOIN sadj ON tr.slot = sadj.slot
      ORDER BY day""")),

    // ---- exact single change-point of the daily event volume (binary
    //      segmentation's first split, the two-segment special case of
    //      PELT): the split i minimizing the two-segment SSE, i.e.
    //      maximizing f(i) = SL²/nL + SR²/nR — both engines score every
    //      candidate split on the FIXED MICRO GRID (BIGINT holds the
    //      gridded score while S²·1e6/T < 9.2e18; beyond that corpus
    //      size drop the multiplier — the integer part alone still
    //      separates splits)
    //      score = (SL²·nR + SR²·nL)·1e6 DIV (nL·nR)
    //      (products in DECIMAL(38,0) — SL² alone can pass 2e11) and
    //      take the gridded argmax with the earliest-day tie-break, so
    //      the selected split is deterministic and engine-identical by
    //      construction (the documented 1e-6-grid argmax, not an
    //      infinite-precision one). Reports the split day, both segment
    //      means in floored micros, and the gain over the unsplit
    //      baseline S²/T on the same grid — the "did traffic actually
    //      shift, and when" primitive the q182 CUSUM alarm only hints
    //      at (CUSUM is sequential/online; this is the exact offline
    //      locator). Scale shape: one corpus aggregate to the day
    //      table; every window and the T−1 candidate rows are
    //      span-bounded (the q184/q186 day-grain regime); argmax is a
    //      TakeOrdered top-1.
    ("q259_changepoint", (s: SparkSession, dir: String) => {
      bestSplit(dailyVolumes(s, dir))
    }, Some(s"""
      WITH ${splitCandidatesSql},
      scored AS (
        SELECT split_od, n_left, n_right,
               (s_left * 1000000) // n_left AS mean_left_micros,
               (s_right * 1000000) // n_right AS mean_right_micros,
               (CAST(s_left AS HUGEINT) * s_left * n_right
                  + CAST(s_right AS HUGEINT) * s_right * n_left)
                 * 1000000 // (CAST(n_left AS HUGEINT) * n_right) AS score,
               CAST(ts AS HUGEINT) * ts * 1000000 // tn AS base
        FROM cand)
      SELECT split_od, n_left, n_right, mean_left_micros, mean_right_micros,
             CAST(score AS BIGINT) AS score_micro,
             CAST(score - base AS BIGINT) AS gain_micro
      FROM scored
      ORDER BY score DESC, split_od LIMIT 1""")),

    // ---- segmented trend: per-segment OLS of daily volume on the day
    //      index around the q259 split — quantifies WHAT changed at the
    //      change-point (level vs slope): rows grp ∈ {all, left, right}
    //      with the q140 normal-equation integers (slope/intercept
    //      micros, signed r² micros). A split cutting a LEVEL shift
    //      shows flat within-segment slopes with distant intercepts; a
    //      trend break shows diverging slopes; an r² that collapses
    //      from 'all' to the segments says one line was never the
    //      right model. Same day-grain scale shape as q259 plus one
    //      grouped sufficient-statistics aggregate.
    ("q260_segmented_trend", (s: SparkSession, dir: String) => {
      val daily = graft.Stage.mat(dailyVolumes(s, dir))
      val split = bestSplit(daily).select(col("split_od"))
      val seg = daily.crossJoin(broadcast(split))
        .selectExpr("CASE WHEN od <= split_od THEN 'left' ELSE 'right' END AS grp",
          "od", "x")
        .unionByName(daily.selectExpr("'all' AS grp", "od", "x"))
      StatsOps.olsMicros(seg, group = "grp", x = "od", y = "x")
        .orderBy(col("grp"))
    }, Some(s"""
      WITH ${splitCandidatesSql},
      best AS (
        SELECT split_od
        FROM (SELECT split_od,
                     (CAST(s_left AS HUGEINT) * s_left * n_right
                        + CAST(s_right AS HUGEINT) * s_right * n_left)
                       * 1000000 // (CAST(n_left AS HUGEINT) * n_right) AS score
              FROM cand)
        ORDER BY score DESC, split_od LIMIT 1),
      seg AS (
        SELECT CASE WHEN d.od <= b.split_od THEN 'left' ELSE 'right' END AS grp,
               d.od, d.x
        FROM daily d CROSS JOIN best b
        UNION ALL SELECT 'all' AS grp, od, x FROM daily),
      sums AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               SUM(od) AS sx, SUM(x) AS sy, SUM(od * x) AS sxy,
               SUM(od * od) AS sxx, SUM(x * x) AS syy
        FROM seg GROUP BY grp),
      t AS (
        SELECT grp, n, sx, sy,
               CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
               CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
               CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
        FROM sums),
      sl AS (
        SELECT grp, n, num, denx, deny, sx, sy,
               CAST((num * 1000000) // greatest(denx, 1) AS BIGINT) AS slope_micros
        FROM t)
      SELECT grp, n, slope_micros,
             CAST((CAST(sy AS HUGEINT) * 1000000
                   - CAST(slope_micros AS HUGEINT) * sx)
                  // greatest(n, 1) AS BIGINT) AS intercept_micros,
             CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END AS BIGINT) AS r_sign,
             CAST((num * num * 1000000) // greatest(denx * deny, 1) AS BIGINT) AS r2_micros
      FROM sl ORDER BY grp""")),

    // ---- Hodges–Lehmann pseudo-median (1963) of the daily volume:
    //      the lower median of the Walsh-average multiset
    //      (x_i + x_j)/2 over i ≤ j — the location estimate behind the
    //      Wilcoxon signed-rank test, with 29% breakdown and ~96%
    //      efficiency at the normal: the robust-location family's
    //      missing member beside the mean (q-OLS), median (q114), MAD
    //      (q114) and winsorized mean (q148). Kept exact by carrying
    //      DOUBLED sums (d = x_i + x_j — never a halved fraction) and
    //      selecting the rank-⌈m/2⌉ order statistic of d (a VALUE, so
    //      the arbitrary row_number order within ties cannot change
    //      it — the q207 selection argument); hl_micros = d·5e5.
    //      Scale shape: the q207 day-pair regime — O(days²) rows and
    //      two span²-bounded rank windows, corpus contributes one
    //      day aggregate.
    ("q261_hodges_lehmann", (s: SparkSession, dir: String) => {
      val daily = graft.Stage.mat(dailyVolumes(s, dir))
      val walsh = daily.select(col("od"), col("x"))
        .join(daily.selectExpr("od AS od2", "x AS x2"), expr("od <= od2"))
        .selectExpr("x + x2 AS d")
      val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      walsh
        .withColumn("rn", row_number().over(wAll))
        .withColumn("m", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(expr("rn = (m + 1) DIV 2"))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
        .selectExpr("n_days", "CAST(m AS BIGINT) AS n_pairs",
          "d AS hl_doubled", "d * 500000 AS hl_micros")
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY od),
      walsh AS (
        SELECT a.x + b.x AS d
        FROM daily a JOIN daily b ON a.od <= b.od),
      sel AS (
        SELECT d FROM (
          SELECT d, row_number() OVER (ORDER BY d) AS rn,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM walsh)
        WHERE rn = (m + 1) // 2),
      m2 AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM walsh),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
      SELECT n_days, n_pairs, d AS hl_doubled, d * 500000 AS hl_micros
      FROM sel CROSS JOIN m2 CROSS JOIN nd""")),

    // ---- autocorrelation + Ljung-Box: rho_1..rho_7 of the daily
    //      event-volume series in exact micros, plus the cumulative
    //      Ljung-Box Q through each lag — the serial-dependence
    //      diagnostic behind every i.i.d. assumption the monitoring
    //      family (q111 spikes, q182 CUSUM, q226 Holt) quietly makes.
    //      Arithmetic/scale contract in [[acfLjungBox]].
    ("q263_acf_ljung_box", (s: SparkSession, dir: String) => {
      acfLjungBox(graft.Stage.mat(dailyVolumes(s, dir)))
    }, Some("""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY od),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t
              FROM daily),
      cent AS (SELECT od, n, CAST(n * x - t AS HUGEINT) AS c
               FROM daily CROSS JOIN tot),
      lagged AS (
        SELECT n, c,
               lag(c, 1) OVER (ORDER BY od) AS c1,
               lag(c, 2) OVER (ORDER BY od) AS c2,
               lag(c, 3) OVER (ORDER BY od) AS c3,
               lag(c, 4) OVER (ORDER BY od) AS c4,
               lag(c, 5) OVER (ORDER BY od) AS c5,
               lag(c, 6) OVER (ORDER BY od) AS c6,
               lag(c, 7) OVER (ORDER BY od) AS c7
        FROM cent),
      sums AS (
        SELECT MAX(n) AS n, SUM(c * c) AS den,
               coalesce(SUM(c * c1), 0) AS num1, coalesce(SUM(c * c2), 0) AS num2,
               coalesce(SUM(c * c3), 0) AS num3, coalesce(SUM(c * c4), 0) AS num4,
               coalesce(SUM(c * c5), 0) AS num5, coalesce(SUM(c * c6), 0) AS num6,
               coalesce(SUM(c * c7), 0) AS num7
        FROM lagged),
      st AS (
        SELECT n, den, CAST(k AS BIGINT) AS lag_k,
               CASE k WHEN 1 THEN num1 WHEN 2 THEN num2 WHEN 3 THEN num3
                      WHEN 4 THEN num4 WHEN 5 THEN num5 WHEN 6 THEN num6
                      ELSE num7 END AS num
        FROM sums CROSS JOIN (SELECT unnest(range(1, 8)) AS k)),
      rho AS (
        SELECT lag_k, n,
               CAST(CASE WHEN num < 0 THEN -((-num * 1000000) // greatest(den, 1))
                    ELSE (num * 1000000) // greatest(den, 1) END AS BIGINT)
                 AS rho_micros
        FROM st),
      q AS (
        SELECT lag_k, n, rho_micros,
               SUM((rho_micros * rho_micros) // greatest(n - lag_k, 1))
                 OVER (ORDER BY lag_k) AS s2
        FROM rho)
      SELECT lag_k, n, rho_micros,
             CAST((CAST(n AS HUGEINT) * (n + 2) * s2) // 1000000 AS BIGINT)
               AS q_lb_micros
      FROM q ORDER BY lag_k"""))
  ,

    // ---- rolling active users (DAU / WAU-7 / MAU-28): the product
    //      engagement triple. Exact distributed form: dedup to the
    //      user-day table once, then each user-day CONTRIBUTES to the w
    //      window-end days [d, d+w−1] — a bounded explode (≤28×) feeding
    //      one count-DISTINCT-user aggregate per window, which Spark
    //      runs as the standard two-phase distinct (partial dedup
    //      map-side). No window function, no per-day rescans, no
    //      fact-side sort — the day-grain result joins on the bounded
    //      day axis. The alternative — a distinct-count over a sliding
    //      range frame — doesn't exist in either engine, and the naive
    //      per-day semi-join rescans the corpus 30×.
    //
    //      Semantics (documented choice, ADVICE r8): the readout joins
    //      WAU/MAU onto the DAU table, so a calendar day with ZERO
    //      same-day actives is absent from the output even when its
    //      trailing 7/28-day windows are nonempty — the row exists only
    //      where dau ≥ 1. Both engines drop identically (the oracle is
    //      the same inner join), so this is a contract, not a parity
    //      risk; a consumer needing dau=0 rows left-joins from a day
    //      spine (sequence(mn, mx)) instead.
    ("q274_active_users", (s: SparkSession, dir: String) => {
      val ud = graft.Stage.mat(Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .selectExpr(
          "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od",
          "user_id")
        .distinct())
      val span = ud.agg(min(col("od")).as("mn"), max(col("od")).as("mx"))
      def windowed(w: Int, name: String) = ud
        .select(explode(expr(s"sequence(od, od + ${w - 1})")).as("e"),
          col("user_id"))
        .groupBy(col("e"))
        .agg(countDistinct(col("user_id")).as(name))
      windowed(1, "dau")
        .join(windowed(7, "wau"), Seq("e"))
        .join(windowed(28, "mau"), Seq("e"))
        .crossJoin(broadcast(span))
        .filter(col("e").between(col("mn"), col("mx")))
        .selectExpr("e AS od", "dau", "wau", "mau")
        .orderBy(col("od"))
    }, Some("""
      WITH ud AS (
        SELECT DISTINCT
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                 AS od,
               user_id
        FROM events WHERE user_id IS NOT NULL),
      span AS (SELECT MIN(od) AS mn, MAX(od) AS mx FROM ud),
      dau AS (SELECT od AS e, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
              FROM ud GROUP BY od),
      wau AS (SELECT e, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
              FROM (SELECT unnest(range(od, od + 7)) AS e, user_id FROM ud)
              GROUP BY e),
      mau AS (SELECT e, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
              FROM (SELECT unnest(range(od, od + 28)) AS e, user_id FROM ud)
              GROUP BY e)
      SELECT d.e AS od, d.dau, w.wau, m.mau
      FROM dau d JOIN wau w ON d.e = w.e JOIN mau m ON d.e = m.e
      CROSS JOIN span WHERE d.e BETWEEN mn AND mx
      ORDER BY od""")),

    // ---- distributed-lag (lead-lag) regression between two event
    //      series (Almon 1965's distributed-lag model in its
    //      single-regressor exact form): beta_k = regression coefficient
    //      of purchase volume at day t+k on click volume at day t, for
    //      k ∈ [−7, +7] over the zero-filled day spine — the
    //      "does clicking LEAD purchasing, and by how many days" readout
    //      the q263 ACF can't answer (it's one series). The q263
    //      n-scaling applies per series and the n² factor cancels in
    //      beta = Σ cx·cy⁺ᵏ / Σ cx² — one denominator, so no sqrt and no
    //      num² blowup (the reason beta, not the CCF rho, is the exact
    //      integer form here; |num|·1e6 ≲ 6e31 stays inside
    //      DECIMAL(38,0) at decade spans × 1e9 rows/day). Sign-safe
    //      toward-zero division, micros output.
    //
    //      Scale shape: two day-grain aggregates + one bounded day-spine
    //      window block (PlanSpec allowlist); the ±7 lead columns read
    //      off ONE shared sort.
    ("q277_leadlag_beta", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .filter(col("event_type").isin("click", "purchase"))
        .selectExpr(
          "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od",
          "event_type")
        .groupBy(col("od"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val span = daily.agg(min(col("od")).as("mn"), max(col("od")).as("mx"))
      val spine = span.select(explode(expr("sequence(mn, mx)")).as("od"))
        .join(daily, Seq("od"), "left")
        .selectExpr("od", "coalesce(x, 0) AS x", "coalesce(y, 0) AS y")
        .transform(graft.Stage.mat)
      val tot = spine.agg(count(lit(1)).as("n"),
        sum(col("x")).as("tx"), sum(col("y")).as("ty"))
      val w = Window.orderBy(col("od"))
      val cent = spine.crossJoin(broadcast(tot))
        .selectExpr("od", "n", "CAST(n * x - tx AS DECIMAL(38,0)) AS cx",
          "CAST(n * y - ty AS DECIMAL(38,0)) AS cy")
      val shifted = cent.select(
        Seq(col("n"), col("cx")) ++ (-7 to 7).map { k =>
          val c = if (k >= 0) lead(col("cy"), k) else lag(col("cy"), -k)
          c.over(w).as(s"cy_${if (k < 0) "m" + (-k) else "p" + k}")
        }: _*)
      val aggs = Seq(max(col("n")).as("n"),
        sum(expr("cx * cx")).cast("decimal(38,0)").as("dx")) ++
        (-7 to 7).map { k =>
          val nm = if (k < 0) "m" + (-k) else "p" + k
          coalesce(sum(expr(s"cx * cy_$nm")), lit(0))
            .cast("decimal(38,0)").as(s"num_$nm")
        }
      val sums = shifted.agg(aggs.head, aggs.tail: _*)
      sums.selectExpr("n", "dx",
        s"stack(15, " + (-7 to 7).map { k =>
          val nm = if (k < 0) "m" + (-k) else "p" + k
          s"CAST($k AS BIGINT), num_$nm"
        }.mkString(", ") + ") AS (lag_k, num)")
        .selectExpr("lag_k", "n",
          """CAST(CASE WHEN num < 0 THEN -((-num * 1000000) DIV greatest(dx, 1))
                  ELSE (num * 1000000) DIV greatest(dx, 1) END AS BIGINT)
             AS beta_micros""")
        .orderBy(col("lag_k"))
    }, Some {
      val shifts = (-7 to 7).map { k =>
        val nm = if (k < 0) "m" + (-k) else "p" + k
        if (k >= 0) s"lead(cy, $k) OVER (ORDER BY od) AS cy_$nm"
        else s"lag(cy, ${-k}) OVER (ORDER BY od) AS cy_$nm"
      }.mkString(",\n               ")
      val nums = (-7 to 7).map { k =>
        val nm = if (k < 0) "m" + (-k) else "p" + k
        s"coalesce(SUM(cx * cy_$nm), 0) AS num_$nm"
      }.mkString(",\n               ")
      val cases = (-7 to 7).map { k =>
        val nm = if (k < 0) "m" + (-k) else "p" + k
        s"WHEN $k THEN num_$nm"
      }.mkString(" ")
      s"""
      WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                 AS od,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS y
        FROM events WHERE event_type IN ('click', 'purchase') GROUP BY od),
      span AS (SELECT MIN(od) AS mn, MAX(od) AS mx FROM daily),
      spine AS (
        SELECT g.od, coalesce(d.x, 0) AS x, coalesce(d.y, 0) AS y
        FROM (SELECT unnest(range(mn, mx + 1)) AS od FROM span) g
        LEFT JOIN daily d ON g.od = d.od),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS tx,
                     CAST(SUM(y) AS BIGINT) AS ty FROM spine),
      cent AS (SELECT od, n, CAST(n * x - tx AS HUGEINT) AS cx,
                      CAST(n * y - ty AS HUGEINT) AS cy
               FROM spine CROSS JOIN tot),
      shifted AS (
        SELECT n, cx,
               $shifts
        FROM cent),
      sums AS (
        SELECT MAX(n) AS n, SUM(cx * cx) AS dx,
               $nums
        FROM shifted),
      st AS (
        SELECT n, dx, CAST(k AS BIGINT) AS lag_k,
               CASE k $cases END AS num
        FROM sums CROSS JOIN (SELECT unnest(range(-7, 8)) AS k))
      SELECT lag_k, n,
             CAST(CASE WHEN num < 0 THEN -((-num * 1000000) // greatest(dx, 1))
                  ELSE (num * 1000000) // greatest(dx, 1) END AS BIGINT)
               AS beta_micros
      FROM st ORDER BY lag_k"""
    }),

    // ---- cohort LTV curve: customers grouped by first-order month,
    //      cumulative revenue per cohort at each month-age, divided by
    //      cohort size — the lifetime-value triangle finance reads next
    //      to q112's activity-retention triangle. Month index =
    //      12·year + month − 1 from date parts (identical extraction
    //      both engines); revenue in exact micros; the cumulation runs
    //      per cohort over the month-grain (cohort, age) table —
    //      PARTITIONed BY cohort and calendar-bounded, never
    //      fact-scaled.
    //
    //      Scale shape: one customer-grain first-order aggregate, one
    //      broadcast-joinable (customer → cohort) map folded back via a
    //      fact-side equi-join co-keyed on o_custkey, one (cohort, age)
    //      aggregate, one bounded window.
    ("q278_cohort_ltv", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir).orders.selectExpr("o_custkey",
        "CAST(12 * year(o_orderdate) + month(o_orderdate) - 1 AS BIGINT) AS m",
        "CAST(floor(o_totalprice * 1000000) AS BIGINT) AS rev")
      val first = graft.Stage.mat(o.groupBy(col("o_custkey"))
        .agg(min(col("m")).as("m0")))
      val csize = first.groupBy(col("m0")).agg(count(lit(1)).as("n_customers"))
      val perAge = o.join(first, Seq("o_custkey"))
        .selectExpr("m0 AS cohort_m", "m - m0 AS age_m", "rev")
        .groupBy(col("cohort_m"), col("age_m"))
        .agg(sum(col("rev")).as("rev_micros"))
      val w = Window.partitionBy(col("cohort_m")).orderBy(col("age_m"))
      perAge
        .withColumn("cum_rev_micros", sum(col("rev_micros")).over(w))
        .join(broadcast(csize.selectExpr("m0 AS cohort_m", "n_customers")),
          Seq("cohort_m"))
        .selectExpr("cohort_m", "age_m", "n_customers", "rev_micros",
          "cum_rev_micros",
          "cum_rev_micros DIV n_customers AS ltv_micros")
        .orderBy(col("cohort_m"), col("age_m"))
    }, Some("""
      WITH o AS (
        SELECT o_custkey,
               12 * year(CAST(o_orderdate AS DATE))
                 + month(CAST(o_orderdate AS DATE)) - 1 AS m,
               CAST(floor(o_totalprice * 1000000) AS BIGINT) AS rev
        FROM orders),
      first_o AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY o_custkey),
      csize AS (SELECT m0, CAST(count(*) AS BIGINT) AS n_customers
                FROM first_o GROUP BY m0),
      per_age AS (
        SELECT f.m0 AS cohort_m, o.m - f.m0 AS age_m,
               CAST(SUM(rev) AS BIGINT) AS rev_micros
        FROM o JOIN first_o f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2),
      cum AS (
        SELECT cohort_m, age_m, rev_micros,
               CAST(SUM(rev_micros) OVER (PARTITION BY cohort_m ORDER BY age_m)
                 AS BIGINT) AS cum_rev_micros
        FROM per_age)
      SELECT CAST(c.cohort_m AS BIGINT) AS cohort_m,
             CAST(c.age_m AS BIGINT) AS age_m,
             s.n_customers, c.rev_micros, c.cum_rev_micros,
             c.cum_rev_micros // s.n_customers AS ltv_micros
      FROM cum c JOIN csize s ON c.cohort_m = s.m0
      ORDER BY cohort_m, age_m""")),

    // ---- time-weighted average (TWAP): per event type, each value
    //      holds until the NEXT observation, so the average weights each
    //      value by its holding duration — the right "average level"
    //      when observations arrive irregularly (the plain mean
    //      over-weights bursts; the output carries both so the bias is
    //      visible). Exact integers: Σ v·Δt DIV Σ Δt with v in micros,
    //      Δt in epoch micros, products in DECIMAL(38,0). The lead
    //      window is PARTITIONed BY event type with the (ts, event_id)
    //      total order (the q256 regime; at unbounded per-key volume
    //      the per-type sort takes the scoreOrder two-phase
    //      decomposition).
    ("q280_twap", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("tm"), col("event_id"))
      Tables(s, dir).events
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("tm"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("v"))
        .withColumn("dt", lead(col("tm"), 1).over(w) - col("tm"))
        .filter(col("dt").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_held"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * dt")).as("svdt"),
          sum(col("dt")).as("sdt"), sum(col("v")).as("sv"))
        .selectExpr("event_type", "n_held",
          "CAST(svdt DIV greatest(sdt, 1) AS BIGINT) AS twap_micros",
          "sv DIV greatest(n_held, 1) AS mean_micros")
        .orderBy(col("event_type"))
    }, Some("""
      WITH base AS (
        SELECT event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tm,
               CAST(floor(value * 1000000) AS BIGINT) AS v
        FROM events),
      held AS (
        SELECT event_type, v,
               lead(tm, 1) OVER (PARTITION BY event_type
                                 ORDER BY tm, event_id) - tm AS dt
        FROM base)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_held,
             CAST(SUM(CAST(v AS HUGEINT) * dt) // greatest(SUM(dt), 1)
               AS BIGINT) AS twap_micros,
             CAST(SUM(v) // greatest(count(*), 1) AS BIGINT) AS mean_micros
      FROM held WHERE dt IS NOT NULL
      GROUP BY event_type ORDER BY event_type""")),

    // ---- next-event prediction eval (Markov hit-rate): the q174
    //      transition matrix turned into a MODEL and scored honestly —
    //      train users (hash parity) build per-source argmax
    //      predictions — count ties break on the LARGER dst, on both
    //      sides: Spark's max(struct(c, dst)) and the oracle's ORDER BY
    //      c DESC, dst DESC agree (ADVICE r8: an earlier comment said
    //      'dst asc'; a one-sided "fix" toward it would break parity);
    //      held-out users' transitions score
    //      hit@1 per source + the zz overall row, beside the
    //      majority-baseline hit-rate (predicting the globally most
    //      common destination) so the lift of conditioning on the
    //      source is visible in the same table. All counts exact; the
    //      per-user lag windows are the q174/q256 regime.
    ("q293_markov_hitrate", (s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tr = graft.Stage.mat(Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("dst"))
        .withColumn("src", lag(col("dst"), 1).over(w))
        .filter(col("src").isNotNull)
        .withColumn("is_train",
          graft.text.TextStats.portableHash64(
            concat(lit("mk2:"), col("user_id").cast("string"))) % 2L === 0L)
        .select(col("src"), col("dst"), col("is_train")))
      val model = tr.filter(col("is_train"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max(expr("struct(c, dst)")).as("mm"))
        .selectExpr("src", "mm.dst AS pred")
      val base = tr.filter(col("is_train"))
        .groupBy(col("dst")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("dst")).limit(1)
        .selectExpr("dst AS base_pred")
      val test = tr.filter(!col("is_train"))
        .join(broadcast(model), Seq("src"))
        .crossJoin(broadcast(base))
      val per = test.groupBy(col("src"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("dst") === col("pred"), 1L).otherwise(0L)).as("n_hit"),
          sum(when(col("dst") === col("base_pred"), 1L).otherwise(0L))
            .as("n_base_hit"))
        .selectExpr("src", "n_test", "n_hit",
          "(n_hit * 1000000) DIV greatest(n_test, 1) AS hit_ppm",
          "(n_base_hit * 1000000) DIV greatest(n_test, 1) AS base_ppm")
        .transform(graft.Stage.mat)
      val zz = per.agg(sum(col("n_test")).as("n_test"),
        sum(col("n_hit")).as("n_hit"),
        sum(expr("(base_ppm * n_test)")).as("bw"))
        .selectExpr("'zz_all' AS src", "n_test", "n_hit",
          "(n_hit * 1000000) DIV greatest(n_test, 1) AS hit_ppm",
          "bw DIV greatest(n_test, 1) AS base_ppm")
      per.unionByName(zz).orderBy(col("src"))
    }, Some {
      val h = graft.text.TextStats.portableHash64Sql(
        "concat('mk2:', CAST(user_id AS VARCHAR))")
      s"""
      WITH ev AS (
        SELECT user_id, ts, event_id, event_type AS dst,
               lag(event_type, 1) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS src,
               $h % 2 = 0 AS is_train
        FROM events WHERE user_id IS NOT NULL),
      tr AS (SELECT src, dst, is_train FROM ev WHERE src IS NOT NULL),
      mc AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
             FROM tr WHERE is_train GROUP BY src, dst),
      model AS (
        SELECT src, dst AS pred FROM (
          SELECT *, row_number() OVER (PARTITION BY src
                                       ORDER BY c DESC, dst DESC) AS rn
          FROM mc) WHERE rn = 1),
      base AS (SELECT dst AS base_pred FROM (
          SELECT dst, CAST(count(*) AS BIGINT) AS c FROM tr WHERE is_train
          GROUP BY dst ORDER BY c DESC, dst LIMIT 1)),
      test AS (
        SELECT t.src, t.dst, m.pred, b.base_pred
        FROM tr t JOIN model m ON t.src = m.src CROSS JOIN base b
        WHERE NOT t.is_train),
      per AS (
        SELECT src, CAST(count(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN dst = pred THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hit,
               CAST(SUM(CASE WHEN dst = base_pred THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_base_hit
        FROM test GROUP BY src),
      scored AS (
        SELECT src, n_test, n_hit,
               (n_hit * 1000000) // greatest(n_test, 1) AS hit_ppm,
               (n_base_hit * 1000000) // greatest(n_test, 1) AS base_ppm
        FROM per)
      SELECT src, n_test, n_hit, hit_ppm, base_ppm FROM scored
      UNION ALL
      SELECT 'zz_all', CAST(SUM(n_test) AS BIGINT), CAST(SUM(n_hit) AS BIGINT),
             (CAST(SUM(n_hit) AS BIGINT) * 1000000)
               // greatest(CAST(SUM(n_test) AS BIGINT), 1),
             CAST(SUM(base_ppm * n_test) AS BIGINT)
               // greatest(CAST(SUM(n_test) AS BIGINT), 1)
      FROM scored
      ORDER BY src"""
    }),

    // ---- SAX symbolic discretization (Lin, Keogh, Lonardi & Chiu
    //      2003) of the daily revenue series: z-normalize, PAA into 16
    //      equal day-range segments, map each segment mean to a 4-letter
    //      alphabet at the Gaussian quartile breakpoints (±0.674490, 0)
    //      — the time-series → token step that turns a metric stream
    //      into matchable/indexable symbols (motif mining, anomaly
    //      grep). Everything is exact integer arithmetic: daily revenue
    //      floors to kilodollars (keeps n·Σx² inside the 2⁵³ isqrt
    //      envelope at any plausible span), σ comes from the q271
    //      isqrt(±1-adjust) on V = n·Σx² − (Σx)², z-scores are
    //      znum·1e6 DIV isqrt(V) with znum = n·x − Σx (the n cancels —
    //      no μ rounding anywhere), segment ids are pure od-range
    //      projections (NO window, no rank), and PAA means divide
    //      truncating-toward-zero on both engines. One day-grain
    //      aggregate + one 16-group aggregate — nothing fact-scaled
    //      past the first groupBy.
    ("q299_sax_symbols", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).orders.selectExpr(
          "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS od",
          "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
        .groupBy(col("od"))
        .agg(expr("sum(cents) DIV 100000").as("x"))
        .transform(graft.Stage.mat)
      saxSegments(d).orderBy(col("seg"))
    }, Some(s"""
      WITH $revenueSaxSql
      SELECT seg, n_days, paa_micros, symbol
      FROM rsax ORDER BY seg"""))
  ) ++ Seq(

    // ---- unnormalized Haar wavelet synopsis (Matias, Vitter & Wang
    //      1998 — wavelet histograms) of the daily order-count series:
    //      12 exact integer (sum, difference) levels over the day index
    //      grid (span < 4096 by require), keeping the 8
    //      largest-|detail| coefficients + the level-0 scaling total —
    //      the classic compressed series summary (top-k Haar
    //      coefficients reconstruct the series with minimal L2 error).
    //      Absent days are implicit zeros: a pair with one present
    //      member aggregates as (v, ±v) and an all-absent pair simply
    //      never emits a row — identically on both engines, so no
    //      padding rows exist anywhere. Integer exactness is free
    //      (sums/differences of counts); each level is one
    //      map-side-combined groupBy on a table that HALVES per level,
    //      so the whole pyramid costs ~2× the day-grain aggregate.
    ("q300_haar_topk", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).orders.selectExpr(
          "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS od")
        .groupBy(col("od")).agg(count(lit(1)).as("v"))
        .transform(graft.Stage.mat)
      val mn = d.agg(min(col("od")).as("odmn"), max(col("od")).as("odmx"))
      val span = mn.selectExpr("odmx - odmn").first().getLong(0)
      require(span < 4096,
        s"Haar grid is 4096 days (12 levels); span $span exceeds it — widen the pyramid")
      var lvl = d.crossJoin(broadcast(mn))
        .selectExpr("od - odmn AS pos", "v")
      val coeffs = (1 to 12).map { l =>
        val nxt = lvl.groupBy(expr("pos DIV 2").as("pos"))
          .agg(sum(col("v")).as("v"),
            sum(expr("CASE WHEN pos % 2 = 0 THEN v ELSE -v END")).as("dc"))
          .transform(graft.Stage.mat)
        lvl = nxt.select(col("pos"), col("v"))
        nxt.selectExpr(s"CAST($l AS BIGINT) AS level", "pos", "dc AS coeff")
      }
      val top = coeffs.reduce(_ unionByName _)
        .orderBy(abs(col("coeff")).desc, col("level"), col("pos")).limit(8)
      val scaling = lvl.selectExpr("CAST(0 AS BIGINT) AS level", "pos",
        "v AS coeff")
      top.unionByName(scaling).orderBy(col("level"), col("pos"))
    }, Some {
      def iter(l: Int) =
        s"""l$l AS (SELECT pos // 2 AS pos, CAST(SUM(v) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN pos % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS dc
             FROM l${l - 1} GROUP BY pos // 2)"""
      s"""
      WITH d AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS od,
               CAST(count(*) AS BIGINT) AS v
        FROM orders GROUP BY 1),
      mn AS (SELECT MIN(od) AS odmn FROM d),
      l0 AS (SELECT od - odmn AS pos, v FROM d CROSS JOIN mn),
      ${(1 to 12).map(iter).mkString(",\n      ")},
      coeffs AS (${(1 to 12).map(l =>
        s"SELECT CAST($l AS BIGINT) AS level, pos, dc AS coeff FROM l$l")
        .mkString("\n        UNION ALL ")}),
      top AS (SELECT level, pos, coeff FROM coeffs
              ORDER BY abs(coeff) DESC, level, pos LIMIT 8)
      SELECT level, pos, coeff FROM top
      UNION ALL
      SELECT CAST(0 AS BIGINT), pos, v AS coeff FROM l12
      ORDER BY level, pos"""
    }),

    // ---- SAX word alignment: the q299 symbolization applied to TWO
    //      series over the same day axis — daily revenue (kilodollar
    //      floors) and daily order count — then compared as 16-letter
    //      WORDS: Levenshtein edit distance (both engines' builtin is
    //      the standard unit-cost DP) and per-segment Hamming
    //      disagreements. This is what SAX exists FOR (Lin et al.
    //      2003): once series are words, "do these two metrics move
    //      together" is string matching, not numeric DTW — at 100 TB a
    //      fleet of metric streams symbolizes once and pairwise
    //      screening runs on 16-char strings. Words assemble by
    //      ordered array aggregation (never a window); the day-grain
    //      chains are the shared saxSegments/saxSql helpers.
    ("q304_sax_alignment", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir).orders.selectExpr(
        "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS od",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
      val rev = saxSegments(o.groupBy(col("od"))
        .agg(expr("sum(cents) DIV 100000").as("x")).transform(graft.Stage.mat))
      val cnt = saxSegments(o.groupBy(col("od"))
        .agg(count(lit(1)).as("x")).transform(graft.Stage.mat))
      def word(df: org.apache.spark.sql.DataFrame) = df
        .agg(expr("""array_join(transform(
               array_sort(collect_list(struct(seg, symbol))),
               r -> r.symbol), '')""").as("w"))
      val joined = rev.select(col("seg"), col("symbol").as("sa"))
        .join(cnt.select(col("seg"), col("symbol").as("sb")), Seq("seg"))
      val ham = joined.agg(count(lit(1)).as("n_segments"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("hamming_dist"))
      word(rev).withColumnRenamed("w", "word_revenue")
        .crossJoin(word(cnt).withColumnRenamed("w", "word_orders"))
        .crossJoin(ham)
        .selectExpr("word_revenue", "word_orders", "n_segments",
          "hamming_dist",
          "CAST(levenshtein(word_revenue, word_orders) AS BIGINT) AS edit_dist")
    }, Some(s"""
      WITH $revenueSaxSql,
      ${saxSql(
        """SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS od,
                  CAST(count(*) AS BIGINT) AS x
           FROM orders GROUP BY 1""", "c")},
      wa AS (SELECT string_agg(symbol, '' ORDER BY seg) AS word_revenue FROM rsax),
      wb AS (SELECT string_agg(symbol, '' ORDER BY seg) AS word_orders FROM csax),
      hm AS (SELECT CAST(count(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN a.symbol <> b.symbol THEN 1 ELSE 0 END) AS BIGINT)
                 AS hamming_dist
             FROM rsax a JOIN csax b ON a.seg = b.seg)
      SELECT word_revenue, word_orders, n_segments, hamming_dist,
             CAST(levenshtein(word_revenue, word_orders) AS BIGINT) AS edit_dist
      FROM wa CROSS JOIN wb CROSS JOIN hm""")),

    // ---- Hurst exponent by rescaled-range analysis (Hurst 1951;
    //      Mandelbrot & Wallis 1969): is hourly event volume
    //      long-range-dependent (H > 0.5: bursts cluster across hours —
    //      capacity must be provisioned for persistent storms, not iid
    //      noise)? Series = the zero-filled hourly event-count spine
    //      (q111's gap-fill idiom; the span is 24·days hours, so every
    //      window is span-bounded). For each dyadic window w ∈
    //      {16,32,64,128}: split the spine into full blocks of w hours;
    //      per block the cumulative mean-adjusted deviation is kept
    //      EXACT by w-scaling, Z'_t = w·prefix_t − t·Σ_w (integers), so
    //      R' = max Z' − min Z' = w·R and w·S = isqrt(w·Σx² − (Σx)²)
    //      (the q271 double-sqrt ±1-adjust — V ≲ w²·x̂² stays far inside
    //      2⁵³), giving R/S = R' DIV isqrt(V) per block with no
    //      fractional step. Per window: block count, truncating mean
    //      rs_ppm, and round9ln(mean_rs_ppm) nanos (q292's
    //      integer-argument ln convention — the ln(1e6) offset cancels
    //      in the slope). The zz row carries H = the OLS slope of
    //      ln(R/S) on ln(w) over the four equally-ln-spaced windows,
    //      which collapses to (−3y₁−y₂+y₃+3y₄)·1e6 DIV (10·ln2·1e9)
    //      with the pinned constant 6931471810 (the SPRT
    //      constants-in-source discipline). Constant-blocks (S = 0) are
    //      excluded by the vnum > 0 guard on both engines.
    ("q312_hurst_rs", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val ws = Seq(16L, 32L, 64L, 128L)
      val hourly = hourlySpine(s, dir)
      val perW = ws.map { w =>
        val wb = Window.partitionBy(col("b"))
        val per = hourly
          .withColumn("b", expr(s"(p - 1) DIV $w"))
          .withColumn("t", expr(s"p - ((p - 1) DIV $w) * $w"))
          .withColumn("bn", count(lit(1)).over(wb))
          .filter(col("bn") === w)
          .withColumn("sw", sum(col("x")).over(wb))
          .withColumn("ssw", sum(col("x") * col("x")).over(wb))
          .withColumn("pref", sum(col("x")).over(wb.orderBy(col("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("z", lit(w) * col("pref") - col("t") * col("sw"))
          .groupBy(col("b"), col("sw"), col("ssw"))
          .agg((max(col("z")) - min(col("z"))).as("rng"))
          .withColumn("vnum", lit(w) * col("ssw") - col("sw") * col("sw"))
          .filter(col("vnum") > 0)
          .withColumn("s0", expr("CAST(floor(sqrt(CAST(vnum AS DOUBLE))) AS BIGINT)"))
          .withColumn("ws", expr(
            "CASE WHEN (s0 + 1) * (s0 + 1) <= vnum THEN s0 + 1 " +
              "WHEN s0 * s0 > vnum THEN s0 - 1 ELSE s0 END"))
          .selectExpr("b", "(rng * 1000000) DIV ws AS rs_ppm")
        per.agg(count(lit(1)).as("n_blocks"), sum(col("rs_ppm")).as("srs"))
          .selectExpr(s"CAST($w AS BIGINT) AS w", "n_blocks",
            "srs DIV greatest(n_blocks, 1) AS mean_rs_ppm")
          .selectExpr("w", "n_blocks", "mean_rs_ppm",
            """CAST(round(ln(CAST(mean_rs_ppm AS DOUBLE)) * 1000000000, 0)
               AS BIGINT) AS ln_rs_nanos""")
      }
      val rows = perW.reduce(_ unionByName _)
        .withColumn("hurst_micros", lit(0L))
      val zz = rows.agg(
          sum(when(col("w") === 16L, col("ln_rs_nanos")).otherwise(0L)).as("y1"),
          sum(when(col("w") === 32L, col("ln_rs_nanos")).otherwise(0L)).as("y2"),
          sum(when(col("w") === 64L, col("ln_rs_nanos")).otherwise(0L)).as("y3"),
          sum(when(col("w") === 128L, col("ln_rs_nanos")).otherwise(0L)).as("y4"),
          sum(col("n_blocks")).as("nb"))
        .selectExpr("CAST(-1 AS BIGINT) AS w", "nb AS n_blocks",
          "CAST(0 AS BIGINT) AS mean_rs_ppm", "CAST(0 AS BIGINT) AS ln_rs_nanos",
          "((-3 * y1 - y2 + y3 + 3 * y4) * 1000000) DIV 6931471810 AS hurst_micros")
      rows.unionByName(zz).orderBy(col("w"))
    }, Some(s"""
      WITH ${hourSpineSql},
      hourly AS (SELECT s.hb, COALESCE(c.x, 0) AS x,
                        CAST(row_number() OVER (ORDER BY s.hb) AS BIGINT) AS p
                 FROM spine s LEFT JOIN counts c USING (hb)),
      wl AS (SELECT CAST(unnest([16, 32, 64, 128]) AS BIGINT) AS w),
      blk AS (SELECT w, (p - 1) // w AS b, p - ((p - 1) // w) * w AS t, x
              FROM hourly CROSS JOIN wl),
      fullb AS (SELECT w, b, t, x,
                       count(*) OVER (PARTITION BY w, b) AS bn,
                       CAST(SUM(x) OVER (PARTITION BY w, b) AS BIGINT) AS sw,
                       CAST(SUM(x * x) OVER (PARTITION BY w, b) AS BIGINT) AS ssw,
                       CAST(SUM(x) OVER (PARTITION BY w, b ORDER BY t) AS BIGINT) AS pref
                FROM blk),
      per AS (SELECT w, b, sw, ssw,
                     MAX(w * pref - t * sw) - MIN(w * pref - t * sw) AS rng
              FROM fullb WHERE bn = w GROUP BY w, b, sw, ssw),
      v AS (SELECT w, b, rng, w * ssw - sw * sw AS vnum FROM per
            WHERE w * ssw - sw * sw > 0),
      sq AS (SELECT w, rng, vnum,
                    CAST(floor(sqrt(CAST(vnum AS DOUBLE))) AS BIGINT) AS s0
             FROM v),
      rs AS (SELECT w, (rng * 1000000) //
                       (CASE WHEN (s0 + 1) * (s0 + 1) <= vnum THEN s0 + 1
                             WHEN s0 * s0 > vnum THEN s0 - 1 ELSE s0 END) AS rs_ppm
             FROM sq),
      pw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
                    CAST(SUM(rs_ppm) // GREATEST(count(*), 1) AS BIGINT) AS mean_rs_ppm
             FROM rs GROUP BY w),
      lw AS (SELECT w, n_blocks, mean_rs_ppm,
                    CAST(round(ln(CAST(mean_rs_ppm AS DOUBLE)) * 1000000000, 0)
                      AS BIGINT) AS ln_rs_nanos
             FROM pw)
      SELECT w, n_blocks, mean_rs_ppm, ln_rs_nanos,
             CAST(0 AS BIGINT) AS hurst_micros
      FROM lw
      UNION ALL
      SELECT CAST(-1 AS BIGINT), (SELECT CAST(SUM(n_blocks) AS BIGINT) FROM lw),
             0, 0,
             CAST(((-3 * y1 - y2 + y3 + 3 * y4) * 1000000) // 6931471810 AS BIGINT)
      FROM (SELECT CAST(SUM(CASE WHEN w = 16 THEN ln_rs_nanos ELSE 0 END) AS BIGINT) AS y1,
                   CAST(SUM(CASE WHEN w = 32 THEN ln_rs_nanos ELSE 0 END) AS BIGINT) AS y2,
                   CAST(SUM(CASE WHEN w = 64 THEN ln_rs_nanos ELSE 0 END) AS BIGINT) AS y3,
                   CAST(SUM(CASE WHEN w = 128 THEN ln_rs_nanos ELSE 0 END) AS BIGINT) AS y4
            FROM lw)
      ORDER BY w""")),

    // ---- permutation entropy (Bandt & Pompe 2002, m = 3): the
    //      complexity of the hourly event-volume series from the
    //      distribution of its order-3 ORDINAL PATTERNS — the
    //      regularity audit that is invariant to any monotone rescaling
    //      of the counts (unlike spectral/variance measures) and so
    //      survives load normalization. Stable tie rule (earlier hour
    //      wins on equal counts): position i precedes j > i iff
    //      x_i ≤ x_j — one 6-way CASE chain over (x≤x₂, x≤x₃, x₂≤x₃),
    //      written identically on both engines. Entropy exactly as
    //      H = ln N − (Σ c·round9ln(c)) DIV N in nanos (q292's
    //      integer-argument ln convention), normalized by the pinned
    //      ln(3!)·1e9 = 1791759469 (SPRT constants-in-source
    //      discipline). Triples ride two lead() windows over the
    //      span-bounded hourly spine; everything downstream is a 6-row
    //      pattern table.
    ("q313_permutation_entropy", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val wh = Window.orderBy(col("hb"))
      val patternCase = """CASE
        WHEN x <= x2 AND x2 <= x3 THEN '123'
        WHEN x <= x3 AND NOT x2 <= x3 THEN '132'
        WHEN NOT x <= x2 AND x <= x3 THEN '213'
        WHEN NOT x <= x3 AND x2 <= x3 THEN '231'
        WHEN x <= x2 AND NOT x <= x3 THEN '312'
        ELSE '321' END AS pattern"""
      val per = graft.Stage.mat(hourlySpine(s, dir)
        .withColumn("x2", lead(col("x"), 1).over(wh))
        .withColumn("x3", lead(col("x"), 2).over(wh))
        .filter(col("x3").isNotNull)
        .selectExpr(patternCase)
        .groupBy(col("pattern")).agg(count(lit(1)).as("cnt")))
      val zz = per.agg(sum(col("cnt")).as("n"),
          sum(expr("cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000000, 0) AS BIGINT)"))
            .as("slc"))
        .selectExpr("n",
          """CAST(round(ln(CAST(n AS DOUBLE)) * 1000000000, 0) AS BIGINT)
             - slc DIV n AS pe_nanos""")
        .selectExpr("'zz' AS pattern", "n AS cnt", "CAST(0 AS BIGINT) AS share_ppm",
          "pe_nanos", "(pe_nanos * 1000000) DIV 1791759469 AS pe_norm_ppm")
      per.crossJoin(broadcast(per.agg(sum(col("cnt")).as("nt"))))
        .selectExpr("pattern", "cnt", "(cnt * 1000000) DIV nt AS share_ppm",
          "CAST(0 AS BIGINT) AS pe_nanos", "CAST(0 AS BIGINT) AS pe_norm_ppm")
        .unionByName(zz).orderBy(col("pattern"))
    }, Some(s"""
      WITH ${hourSpineSql},
      hourly AS (SELECT s.hb, COALESCE(c.x, 0) AS x
                 FROM spine s LEFT JOIN counts c USING (hb)),
      trip AS (SELECT x, lead(x, 1) OVER (ORDER BY hb) AS x2,
                      lead(x, 2) OVER (ORDER BY hb) AS x3
               FROM hourly),
      pat AS (SELECT CASE
                WHEN x <= x2 AND x2 <= x3 THEN '123'
                WHEN x <= x3 AND NOT x2 <= x3 THEN '132'
                WHEN NOT x <= x2 AND x <= x3 THEN '213'
                WHEN NOT x <= x3 AND x2 <= x3 THEN '231'
                WHEN x <= x2 AND NOT x <= x3 THEN '312'
                ELSE '321' END AS pattern
              FROM trip WHERE x3 IS NOT NULL),
      per AS (SELECT pattern, CAST(count(*) AS BIGINT) AS cnt
              FROM pat GROUP BY pattern),
      zz AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                    CAST(SUM(cnt * CAST(round(ln(CAST(cnt AS DOUBLE))
                      * 1000000000, 0) AS BIGINT)) AS BIGINT) AS slc
             FROM per)
      SELECT pattern, cnt,
             (cnt * 1000000) // (SELECT n FROM zz) AS share_ppm,
             CAST(0 AS BIGINT) AS pe_nanos, CAST(0 AS BIGINT) AS pe_norm_ppm
      FROM per
      UNION ALL
      SELECT 'zz', n, CAST(0 AS BIGINT), pe_nanos,
             (pe_nanos * 1000000) // 1791759469
      FROM (SELECT n,
              CAST(round(ln(CAST(n AS DOUBLE)) * 1000000000, 0) AS BIGINT)
                - slc // n AS pe_nanos
            FROM zz)
      ORDER BY pattern""")),

    // ---- Wald–Wolfowitz runs test (1940): is hourly event volume
    //      RANDOMLY ordered around its median, or do high/low hours
    //      cluster (too few runs) / alternate (too many)? The ordering
    //      complement of q313's permutation entropy — sensitive to any
    //      serial dependence, assumption-free on the marginal. Series =
    //      the zero-filled hourly spine (q111 regime); dichotomized at
    //      the exact doubled-rank median (2·med is an integer;
    //      at-or-below ties land in the 0 cell — the q320 convention).
    //      A run starts where the sign differs from its predecessor
    //      (lag over the span-bounded spine). All-integer statistic
    //      with a = #above, b = #below-or-equal, n = a + b, R = runs:
    //        z²_micros = 1e6·(R·n − 2ab − n)²·(n−1) DIV (2ab·(2ab−n))
    //      (μ = 2ab/n + 1 and σ² = 2ab(2ab−n)/(n²(n−1)) cleared of
    //      denominators exactly; ≲ 5e19 at the 720-hour fixture span —
    //      the spine is TIME-bounded, so magnitudes never scale with
    //      SF). Degenerate one-sign series hit the greatest(…,1) floor.
    //      Output: per-sign (n, runs) rows + the zz row (sgn = −1)
    //      carrying total n, total R, and z²_micros.
    ("q322_runs_test", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = hourlySpine(s, dir)
      val med = graft.analytics.Quantiles.quantilesRaw(
          hourly.selectExpr("'all' AS g", "x"), "g", "x", Seq(0.5))
        .selectExpr("CAST(2 * q AS BIGINT) AS med2")
      val wh = Window.orderBy(col("hb"))
      val per = graft.Stage.mat(hourly.crossJoin(broadcast(med))
        .selectExpr("hb", "CASE WHEN 2 * x > med2 THEN 1 ELSE 0 END AS sgn")
        .withColumn("prev", lag(col("sgn"), 1).over(wh))
        .selectExpr("CAST(sgn AS BIGINT) AS sgn",
          "CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END AS st")
        .groupBy(col("sgn"))
        .agg(count(lit(1)).as("n_g"), sum(col("st")).as("runs_g")))
      val zz = per.agg(sum(col("n_g")).as("n"),
          sum(when(col("sgn") === 1L, col("n_g")).otherwise(0L)).as("a"),
          sum(when(col("sgn") === 0L, col("n_g")).otherwise(0L)).as("b"),
          sum(col("runs_g")).as("r"))
        .selectExpr("CAST(-1 AS BIGINT) AS sgn", "n AS n_g", "r AS runs_g",
          """CAST((CAST(1000000 AS DECIMAL(38,0))
                    * (r * n - 2 * a * b - n) * (r * n - 2 * a * b - n) * (n - 1))
               DIV greatest(CAST(2 AS DECIMAL(38,0)) * a * b * (2 * a * b - n), 1)
               AS BIGINT) AS z2_micros""")
      per.selectExpr("sgn", "n_g", "runs_g", "CAST(0 AS BIGINT) AS z2_micros")
        .unionByName(zz).orderBy(col("sgn"))
    }, Some(s"""
      WITH ${hourSpineSql},
      hourly AS (SELECT s.hb, COALESCE(c.x, 0) AS x
                 FROM spine s LEFT JOIN counts c USING (hb)),
      med AS (SELECT CAST(2 * q AS BIGINT) AS med2 FROM (
        ${graft.analytics.Quantiles.rawSql(
          """SELECT 'all' AS g, COALESCE(c.x, 0) AS x
             FROM (SELECT unnest(generate_series(
                     (SELECT min(epoch_us(ts) // 3600000000) FROM events),
                     (SELECT max(epoch_us(ts) // 3600000000) FROM events))) AS hb) s
             LEFT JOIN (SELECT epoch_us(ts) // 3600000000 AS hb,
                               CAST(count(*) AS BIGINT) AS x
                        FROM events GROUP BY 1) c USING (hb)""",
          "(VALUES (0.5)) ps(p)")})),
      sg AS (SELECT hb, CASE WHEN 2 * x > med2 THEN 1 ELSE 0 END AS sgn
             FROM hourly CROSS JOIN med),
      st AS (SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY hb) IS NULL
                              OR lag(sgn) OVER (ORDER BY hb) <> sgn
                              THEN 1 ELSE 0 END AS st
             FROM sg),
      per AS (SELECT CAST(sgn AS BIGINT) AS sgn, CAST(count(*) AS BIGINT) AS n_g,
                     CAST(SUM(st) AS BIGINT) AS runs_g
              FROM st GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN sgn = 1 THEN n_g ELSE 0 END) AS BIGINT) AS a,
                     CAST(SUM(CASE WHEN sgn = 0 THEN n_g ELSE 0 END) AS BIGINT) AS b,
                     CAST(SUM(runs_g) AS BIGINT) AS r
              FROM per)
      SELECT sgn, n_g, runs_g, CAST(0 AS BIGINT) AS z2_micros FROM per
      UNION ALL
      SELECT CAST(-1 AS BIGINT), n, r,
             CAST((CAST(1000000 AS HUGEINT)
                     * (r * n - 2 * a * b - n) * (r * n - 2 * a * b - n) * (n - 1))
                  // GREATEST(CAST(2 AS HUGEINT) * a * b * (2 * a * b - n), 1) AS BIGINT)
      FROM tot
      ORDER BY sgn""")),

    // ---- Durbin–Watson statistic (Durbin & Watson 1950): after
    //      removing the LINEAR trend from hourly event volume, do the
    //      residuals still carry lag-1 serial correlation (DW < 2:
    //      positive — the q111 spike z-scores understate; DW ≈ 2:
    //      clean)? The regression-residual complement of q322's
    //      distribution-free runs test. Trend fit is exact-integer
    //      sufficient statistics (n, Σp, Σp², Σx, Σpx over the
    //      span-bounded spine) → ONE mirrored IEEE chain for (b̂, â)
    //      (the q111 double-chain convention: scalar math from integer
    //      aggregates, never a double SUM), then each residual is
    //      QUANTIZED to integer millis (round(e·1000)) so Σe² and
    //      Σ(Δe)² are exact integer sums — order-free under Spark's
    //      partial aggregation. DW needs no sqrt:
    //        dw_ppm = 1e6·Σ(Δe)² DIV Σe²   (both sums ≥ 0).
    //      e_milli ≲ 1e8 even at sf1000 (hourly counts ~1e6), so Σe²
    //      ≲ 7e24 — both SUMS run in DECIMAL(38,0) (HUGEINT oracle-
    //      side), so dw_ppm is exact at any documented scale; the two
    //      reused BIGINT magnitude output columns raise identically on
    //      both engines past 2^63 rather than wrapping. Output:
    //      per-day residual diagnostics (n hours, Σ|e|, max |e| in
    //      millis) + the zz row (od = −1) reusing the two magnitude
    //      columns for Σe² / Σ(Δe)² and carrying dw_ppm and the fitted
    //      slope (round 6).
    ("q323_durbin_watson", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = hourlySpine(s, dir)
      val tot = hourly.agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
        sum(expr("p * p")).as("spp"), sum(col("x")).as("sx"),
        sum(expr("p * x")).as("spx"))
      val res = graft.Stage.mat(hourly.crossJoin(broadcast(tot))
        .withColumn("bhat", expr(
          "CAST(n * spx - sp * sx AS DOUBLE) / CAST(n * spp - sp * sp AS DOUBLE)"))
        .withColumn("ahat", expr(
          "(CAST(sx AS DOUBLE) - bhat * CAST(sp AS DOUBLE)) / CAST(n AS DOUBLE)"))
        .selectExpr("hb", "bhat",
          """CAST(round((CAST(x AS DOUBLE) - ahat - bhat * CAST(p AS DOUBLE))
               * 1000, 0) AS BIGINT) AS e_milli"""))
      val wh = Window.orderBy(col("hb"))
      val lagd = graft.Stage.mat(res
        .withColumn("ep", lag(col("e_milli"), 1).over(wh))
        .withColumn("od", expr("hb DIV 24")))
      val days = lagd.groupBy(col("od"))
        .agg(count(lit(1)).as("n_g"), sum(abs(col("e_milli"))).as("sae_milli"),
          max(abs(col("e_milli"))).as("max_ae_milli"))
        .selectExpr("od", "n_g", "sae_milli", "max_ae_milli",
          "CAST(0 AS BIGINT) AS dw_ppm", "CAST(0.0 AS DOUBLE) AS slope_r")
      // Σe² and Σ(Δe)² summed in DECIMAL(38,0) — the header's ~7e24
      // sf1000 bound applies to the SUMS, not just the ppm DIV (ADVICE
      // r10 #1); the oracle mirrors with HUGEINT products and no BIGINT
      // cast on the sums. The reused BIGINT output columns then RAISE
      // identically on both engines (ANSI / HUGEINT→BIGINT cast) past
      // 2^63 instead of Spark wrapping where DuckDB raises.
      val zz = lagd.agg(count(lit(1)).as("n"),
          sum(expr("CAST(e_milli AS DECIMAL(38,0)) * e_milli")).as("see"),
          sum(expr(
            """CASE WHEN ep IS NULL THEN CAST(0 AS DECIMAL(38,0))
               ELSE CAST(e_milli - ep AS DECIMAL(38,0)) * (e_milli - ep) END"""))
            .as("sdd"),
          max(col("bhat")).as("bh"))
        .selectExpr("CAST(-1 AS BIGINT) AS od", "n AS n_g",
          "CAST(see AS BIGINT) AS sae_milli",
          "CAST(sdd AS BIGINT) AS max_ae_milli",
          """CAST((sdd * 1000000) DIV greatest(see, 1) AS BIGINT) AS dw_ppm""",
          "round(bh, 6) AS slope_r")
      days.unionByName(zz).orderBy(col("od"))
    }, Some(s"""
      WITH ${hourSpineSql},
      hourly AS (SELECT s.hb, COALESCE(c.x, 0) AS x,
                        CAST(row_number() OVER (ORDER BY s.hb) AS BIGINT) AS p
                 FROM spine s LEFT JOIN counts c USING (hb)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS sp,
                     CAST(SUM(p * p) AS BIGINT) AS spp,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(p * x) AS BIGINT) AS spx
              FROM hourly),
      fit AS (SELECT n, sp, sx,
                     CAST(n * spx - sp * sx AS DOUBLE)
                       / CAST(n * spp - sp * sp AS DOUBLE) AS bhat
              FROM tot),
      fit2 AS (SELECT n, bhat,
                      (CAST(sx AS DOUBLE) - bhat * CAST(sp AS DOUBLE))
                        / CAST(n AS DOUBLE) AS ahat
               FROM fit),
      res AS (SELECT hb, bhat,
                     CAST(round((CAST(x AS DOUBLE) - ahat - bhat * CAST(p AS DOUBLE))
                       * 1000, 0) AS BIGINT) AS e_milli
              FROM hourly CROSS JOIN fit2),
      lagd AS (SELECT hb, hb // 24 AS od, bhat, e_milli,
                      lag(e_milli) OVER (ORDER BY hb) AS ep
               FROM res),
      days AS (SELECT od, CAST(count(*) AS BIGINT) AS n_g,
                      CAST(SUM(abs(e_milli)) AS BIGINT) AS sae_milli,
                      CAST(MAX(abs(e_milli)) AS BIGINT) AS max_ae_milli
               FROM lagd GROUP BY od),
      zz AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    SUM(CAST(e_milli AS HUGEINT) * e_milli) AS see,
                    SUM(CASE WHEN ep IS NULL THEN CAST(0 AS HUGEINT)
                             ELSE CAST(e_milli - ep AS HUGEINT)
                                  * (e_milli - ep) END) AS sdd,
                    MAX(bhat) AS bh
             FROM lagd)
      SELECT od, n_g, sae_milli, max_ae_milli, CAST(0 AS BIGINT) AS dw_ppm,
             CAST(0.0 AS DOUBLE) AS slope_r
      FROM days
      UNION ALL
      SELECT CAST(-1 AS BIGINT), n, CAST(see AS BIGINT), CAST(sdd AS BIGINT),
             CAST((sdd * 1000000) // GREATEST(see, 1) AS BIGINT),
             round(bh, 6)
      FROM zz
      ORDER BY od""")),

    // ---- Granger-style lagged-predictor F (Granger 1969, one lag):
    //      does last hour's CLICK volume predict this hour's PURCHASE
    //      volume beyond what purchases' own history explains (and the
    //      reverse direction as the placebo)? Series = per-type hourly
    //      counts zero-filled on the shared spine; per direction the
    //      restricted model t ~ own-lag and the full model t ~ own-lag
    //      + cross-lag are both CLOSED-FORM: ten exact-integer
    //      sufficient statistics (n, Σ of each series, and all pairwise
    //      products — counts are small, products never leave BIGINT
    //      even at sf1000) feed one mirrored IEEE chain (the q111
    //      convention: scalar double math on a one-row aggregate, never
    //      a double SUM) — centered moments, the 2×2 normal-equation
    //      solve, RSS_restricted, RSS_full, and
    //        F = (RSS_r − RSS_u)·(n−3) / RSS_u   (1 numerator df).
    //      Degenerate guards (det = 0, RSS_u ≤ 0) zero the statistic on
    //      both engines. Output: one row per direction with the fitted
    //      betas and F (round 6).
    ("q324_granger_lagf", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events
        .select(expr("unix_micros(ts) DIV 3600000000").as("hb"), col("event_type"))
      val counts = e.groupBy(col("hb")).agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("yc"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("xc"))
      val spine = counts.agg(min(col("hb")).as("h0"), max(col("hb")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("hb"))
      val wh = Window.orderBy(col("hb"))
      val lagd = graft.Stage.mat(spine.join(counts, Seq("hb"), "left")
        .select(col("hb"), coalesce(col("yc"), lit(0L)).as("y"),
          coalesce(col("xc"), lit(0L)).as("x"))
        .withColumn("y1", lag(col("y"), 1).over(wh))
        .withColumn("x1", lag(col("x"), 1).over(wh))
        .filter(col("y1").isNotNull))
      // t = target series, own = its lag, cr = the cross lag under test
      def granger(t: String, own: String, cr: String, label: String): DataFrame =
        lagd.agg(count(lit(1)).as("n"),
            sum(col(t)).as("st"), sum(col(own)).as("s1"), sum(col(cr)).as("s2"),
            sum(expr(s"$t * $t")).as("stt"), sum(expr(s"$t * $own")).as("st1"),
            sum(expr(s"$t * $cr")).as("st2"), sum(expr(s"$own * $own")).as("s11"),
            sum(expr(s"$cr * $cr")).as("s22"), sum(expr(s"$own * $cr")).as("s12"))
          .withColumn("ctt", expr(
            "CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("c11", expr(
            "CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("c22", expr(
            "CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("c12", expr(
            "CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("ct1", expr(
            "CAST(st1 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("ct2", expr(
            "CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("det", expr("c11 * c22 - c12 * c12"))
          .withColumn("b1", expr(
            "CASE WHEN det = 0 THEN 0.0 ELSE (ct1 * c22 - ct2 * c12) / det END"))
          .withColumn("b2", expr(
            "CASE WHEN det = 0 THEN 0.0 ELSE (ct2 * c11 - ct1 * c12) / det END"))
          .withColumn("rss_r0", expr(
            "CASE WHEN c11 = 0 THEN ctt ELSE ctt - ct1 * ct1 / c11 END"))
          .withColumn("rss_u", expr("ctt - b1 * ct1 - b2 * ct2"))
          .withColumn("f", expr(
            """CASE WHEN rss_u <= 0 THEN 0.0
               ELSE (rss_r0 - rss_u) * CAST(n - 3 AS DOUBLE) / rss_u END"""))
          .selectExpr(s"'$label' AS direction", "n", "round(b1, 6) AS ar_beta_r",
            "round(b2, 6) AS xlag_beta_r", "round(rss_r0, 6) AS rss_restricted_r",
            "round(rss_u, 6) AS rss_full_r", "round(f, 6) AS f_r")
      granger("y", "y1", "x1", "click_to_purchase")
        .unionByName(granger("x", "x1", "y1", "purchase_to_click"))
        .orderBy(col("direction"))
    }, Some {
      def gSql(t: String, own: String, cr: String, label: String) = s"""
        SELECT '$label' AS direction, n, round(b1, 6) AS ar_beta_r,
               round(b2, 6) AS xlag_beta_r, round(rss_r0, 6) AS rss_restricted_r,
               round(rss_u, 6) AS rss_full_r,
               round(CASE WHEN rss_u <= 0 THEN 0.0
                     ELSE (rss_r0 - rss_u) * CAST(n - 3 AS DOUBLE) / rss_u END, 6) AS f_r
        FROM (
          SELECT n, b1, b2, rss_r0, ctt - b1 * ct1 - b2 * ct2 AS rss_u
          FROM (
            SELECT n, ctt, ct1, ct2,
                   CASE WHEN det = 0 THEN 0.0
                        ELSE (ct1 * c22 - ct2 * c12) / det END AS b1,
                   CASE WHEN det = 0 THEN 0.0
                        ELSE (ct2 * c11 - ct1 * c12) / det END AS b2,
                   CASE WHEN c11 = 0 THEN ctt ELSE ctt - ct1 * ct1 / c11 END AS rss_r0
            FROM (
              SELECT n, ctt, c11, c22, c12, ct1, ct2,
                     c11 * c22 - c12 * c12 AS det
              FROM (
                SELECT n,
                  CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS ctt,
                  CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS c11,
                  CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c22,
                  CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c12,
                  CAST(st1 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS ct1,
                  CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS ct2
                FROM (
                  SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(SUM($t) AS BIGINT) AS st,
                         CAST(SUM($own) AS BIGINT) AS s1,
                         CAST(SUM($cr) AS BIGINT) AS s2,
                         CAST(SUM($t * $t) AS BIGINT) AS stt,
                         CAST(SUM($t * $own) AS BIGINT) AS st1,
                         CAST(SUM($t * $cr) AS BIGINT) AS st2,
                         CAST(SUM($own * $own) AS BIGINT) AS s11,
                         CAST(SUM($cr * $cr) AS BIGINT) AS s22,
                         CAST(SUM($own * $cr) AS BIGINT) AS s12
                  FROM lagd)))))"""
      s"""
      WITH counts AS (
        SELECT epoch_us(ts) // 3600000000 AS hb,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS yc,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS xc
        FROM events GROUP BY 1),
      spine AS (SELECT unnest(generate_series(h0, h1)) AS hb
                FROM (SELECT min(hb) AS h0, max(hb) AS h1 FROM counts)),
      hourly AS (SELECT s.hb, COALESCE(c.yc, 0) AS y, COALESCE(c.xc, 0) AS x
                 FROM spine s LEFT JOIN counts c USING (hb)),
      lagd AS (SELECT * FROM (
                 SELECT hb, y, x,
                        lag(y) OVER (ORDER BY hb) AS y1,
                        lag(x) OVER (ORDER BY hb) AS x1
                 FROM hourly) WHERE y1 IS NOT NULL)
      ${gSql("y", "y1", "x1", "click_to_purchase")}
      UNION ALL
      ${gSql("x", "x1", "y1", "purchase_to_click")}
      ORDER BY direction"""
    }),

    // ---- retention half-life: fit ln(active users) against day
    //      offset over the pooled retention curve (q112's engagement
    //      triangle collapsed to offsets 1..14) and report the
    //      exponential-decay half-life ln2/(−slope) — the ONE number a
    //      growth review wants from the cohort matrix. Edge-effect
    //      honest: only cohorts with a full 14-day runway
    //      (cohort_day ≤ max_day − 14) enter, so every offset sees the
    //      same cohort population. ln through integer-argument round9ln
    //      (q292 convention) so the regression's sufficient statistics
    //      are exact integers over a 14-row table; the slope and
    //      half-life are the one-row mirrored IEEE chain. Per-offset
    //      rows carry the curve; the zz row (o = −1) the fit.
    ("q340_retention_halflife", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .select(col("user_id"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").as("d"))
      val first = e.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      val eligible = first.crossJoin(broadcast(e.agg(max(col("d")).as("dmax"))))
        .filter(col("d0") <= col("dmax") - 14)
        .select(col("user_id"), col("d0"))
      val curve = graft.Stage.mat(e.join(eligible, Seq("user_id"))
        .select(col("user_id"), (col("d") - col("d0")).as("o"))
        .filter(col("o").between(1, 14))
        .groupBy(col("o"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .selectExpr("o", "n_active",
          """CAST(round(ln(CAST(n_active AS DOUBLE)) * 1000000000, 0)
             AS BIGINT) AS ln_nanos"""))
      val fit = curve.agg(count(lit(1)).as("n"), sum(col("o")).as("sx"),
          sum(expr("o * o")).as("sxx"), sum(col("ln_nanos")).as("sy"),
          sum(expr("o * ln_nanos")).as("sxy"))
        .withColumn("b", expr(
          "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"))
        .selectExpr("CAST(-1 AS BIGINT) AS o", "n AS n_active",
          "CAST(0 AS BIGINT) AS ln_nanos", "round(b, 6) AS slope_r",
          """round(CASE WHEN b >= 0 THEN 0.0
             ELSE 1000000000 * ln(CAST(2 AS DOUBLE)) / (0 - b) END, 6)
             AS half_life_r""")
      curve.selectExpr("o", "n_active", "ln_nanos",
          "CAST(0.0 AS DOUBLE) AS slope_r", "CAST(0.0 AS DOUBLE) AS half_life_r")
        .unionByName(fit).orderBy(col("o"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
                 FROM events WHERE user_id IS NOT NULL),
      first AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY user_id),
      eligible AS (SELECT user_id, d0 FROM first
                   WHERE d0 <= (SELECT MAX(d) FROM e) - 14),
      curve AS (
        SELECT o, n_active,
               CAST(round(ln(CAST(n_active AS DOUBLE)) * 1000000000, 0)
                 AS BIGINT) AS ln_nanos
        FROM (SELECT e.d - el.d0 AS o,
                     CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
              FROM e JOIN eligible el USING (user_id)
              WHERE e.d - el.d0 BETWEEN 1 AND 14
              GROUP BY 1)),
      fit AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(o) AS BIGINT) AS sx,
                     CAST(SUM(o * o) AS BIGINT) AS sxx,
                     CAST(SUM(ln_nanos) AS BIGINT) AS sy,
                     CAST(SUM(o * ln_nanos) AS BIGINT) AS sxy
              FROM curve),
      zz AS (SELECT CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) AS b, n
             FROM fit)
      SELECT o, n_active, ln_nanos, CAST(0.0 AS DOUBLE) AS slope_r,
             CAST(0.0 AS DOUBLE) AS half_life_r
      FROM curve
      UNION ALL
      SELECT CAST(-1 AS BIGINT), n, CAST(0 AS BIGINT), round(b, 6),
             round(CASE WHEN b >= 0 THEN 0.0
                   ELSE 1000000000 * ln(CAST(2 AS DOUBLE)) / (0 - b) END, 6)
      FROM zz
      ORDER BY o""")),

    // ---- Dickey–Fuller unit-root test (Dickey & Fuller 1979, the
    //      constant-only form): is hourly event volume MEAN-REVERTING
    //      (γ < 0, t below the pinned −2.86 critical value) or a random
    //      walk (γ ≈ 0 — in which case q111's trailing z-scores and
    //      q323's trend residuals are differencing the wrong model)?
    //      Regress Δx_t on x_{t−1} over the zero-filled spine:
    //      Δ and the lag ride ONE span-bounded window; the sufficient
    //      statistics (n, Σx₁, Σx₁², ΣΔ, Σx₁Δ, ΣΔ²) are exact integer
    //      aggregates and everything after is the q324 one-row mirrored
    //      IEEE chain — γ̂ = Cxy/Cxx, RSS = Cyy − γ̂·Cxy,
    //      t = γ̂·√Cxx / √(RSS/(n−2)). Output: one row with n, γ̂, t,
    //      and the stationary verdict at the pinned critical value.
    ("q341_dickey_fuller", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val wh = Window.orderBy(col("hb"))
      val lagd = graft.Stage.mat(hourlySpine(s, dir)
        .withColumn("x1", lag(col("x"), 1).over(wh))
        .filter(col("x1").isNotNull)
        .selectExpr("x - x1 AS dx", "x1"))
      lagd.agg(count(lit(1)).as("n"), sum(col("x1")).as("s1"),
          sum(expr("x1 * x1")).as("s11"), sum(col("dx")).as("sd"),
          sum(expr("x1 * dx")).as("s1d"), sum(expr("dx * dx")).as("sdd"))
        .withColumn("nd", expr("CAST(n AS DOUBLE)"))
        .withColumn("cxx", expr(
          "CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nd"))
        .withColumn("cxy", expr(
          "CAST(s1d AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sd AS DOUBLE) / nd"))
        .withColumn("cyy", expr(
          "CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / nd"))
        .withColumn("g", expr("CASE WHEN cxx = 0 THEN 0.0 ELSE cxy / cxx END"))
        .withColumn("rss", expr("cyy - g * cxy"))
        .withColumn("t", expr(
          """CASE WHEN cxx = 0 OR rss <= 0 THEN 0.0
             ELSE g * sqrt(cxx) / sqrt(rss / (nd - 2)) END"""))
        .selectExpr("n", "round(g, 6) AS gamma_r", "round(t, 6) AS t_r",
          "t < CAST(-2.86 AS DOUBLE) AS stationary")
    }, Some(s"""
      WITH ${hourSpineSql},
      hourly AS (SELECT s.hb, COALESCE(c.x, 0) AS x
                 FROM spine s LEFT JOIN counts c USING (hb)),
      lagd AS (SELECT x - x1 AS dx, x1 FROM (
                 SELECT x, lag(x) OVER (ORDER BY hb) AS x1 FROM hourly)
               WHERE x1 IS NOT NULL),
      sums AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x1) AS BIGINT) AS s1,
                      CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                      CAST(SUM(dx) AS BIGINT) AS sd,
                      CAST(SUM(x1 * dx) AS BIGINT) AS s1d,
                      CAST(SUM(dx * dx) AS BIGINT) AS sdd
               FROM lagd),
      c AS (SELECT n, nd,
                   CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nd AS cxx,
                   CAST(s1d AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sd AS DOUBLE) / nd AS cxy,
                   CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / nd AS cyy
            FROM (SELECT *, CAST(n AS DOUBLE) AS nd FROM sums)),
      g AS (SELECT n, nd, cxx, cxy, cyy,
                   CASE WHEN cxx = 0 THEN 0.0 ELSE cxy / cxx END AS g
            FROM c),
      t AS (SELECT n, g,
                   CASE WHEN cxx = 0 OR cyy - g * cxy <= 0 THEN 0.0
                        ELSE g * sqrt(cxx) / sqrt((cyy - g * cxy) / (nd - 2)) END AS t
            FROM g)
      SELECT n, round(g, 6) AS gamma_r, round(t, 6) AS t_r,
             t < CAST(-2.86 AS DOUBLE) AS stationary
      FROM t""")),

    // ---- dominant-period detection by autocorrelation argmax: WHICH
    //      cycle drives hourly volume (the daily 24, the weekly 168)?
    //      The biased sample ACF at lags 2..48 over the zero-filled
    //      spine, ALL-INTEGER: with n-scaled deviations dₜ = n·xₜ − Σx
    //      (the q328 exactness trick — no float mean), r_ℓ = Σ dₜ·dₜ₊ℓ
    //      and ρ_ℓ = r_ℓ/r₀ are exact ratios; signs stay out of the
    //      truncating DIV (olsMicros discipline). Lag pairs ride ONE
    //      equi-join of the spine against itself through an exploded
    //      lag catalog (47·span rows — span-bounded, never a window),
    //      and the argmax row is a TakeOrdered. The complement of
    //      q263's Ljung-Box: that TESTS for autocorrelation, this
    //      LOCATES the cycle. Per-lag rows + the zz row (l = −1)
    //      carrying the detected period.
    ("q343_dominant_period", (s: SparkSession, dir: String) => {
      val hourly = hourlySpine(s, dir)
      val tot = hourly.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val dev = graft.Stage.mat(hourly.crossJoin(broadcast(tot))
        .selectExpr("hb", "n * x - sx AS d"))
      val r0 = dev.agg(sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("r0"))
      val lags = dev
        .crossJoin(broadcast(s.range(2, 49).selectExpr("id AS l")))
        .selectExpr("hb + l AS hb2", "l", "d AS da")
      val rl = graft.Stage.mat(lags
        .join(dev.selectExpr("hb AS hb2", "d AS db"), Seq("hb2"))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(da AS DECIMAL(38,0)) * db")).as("rl"))
        .crossJoin(broadcast(r0))
        .selectExpr("l", "n_pairs",
          "CAST(CASE WHEN rl > 0 THEN 1 WHEN rl < 0 THEN -1 ELSE 0 END AS BIGINT) AS sgn",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(rl))
               DIV greatest(r0, 1) AS BIGINT) AS abs_rho_ppm"""))
      val zz = rl.filter(col("sgn") === 1L)
        .orderBy(col("abs_rho_ppm").desc, col("l")).limit(1)
        .selectExpr("CAST(-1 AS BIGINT) AS l", "n_pairs", "sgn", "abs_rho_ppm",
          "l AS period")
      rl.selectExpr("l", "n_pairs", "sgn", "abs_rho_ppm",
          "CAST(0 AS BIGINT) AS period")
        .unionByName(zz).orderBy(col("l"))
    }, Some(s"""
      WITH ${hourSpineSql},
      hourly AS (SELECT s.hb, COALESCE(c.x, 0) AS x
                 FROM spine s LEFT JOIN counts c USING (hb)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
              FROM hourly),
      dev AS (SELECT hb, n * x - sx AS d FROM hourly CROSS JOIN tot),
      r0 AS (SELECT CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS r0 FROM dev),
      lagcat AS (SELECT CAST(unnest(generate_series(2, 48)) AS BIGINT) AS l),
      rl AS (SELECT l, CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(SUM(CAST(a.d AS HUGEINT) * b.d) AS HUGEINT) AS rl
             FROM dev a CROSS JOIN lagcat
             JOIN dev b ON b.hb = a.hb + l
             GROUP BY l),
      rows_ AS (SELECT l, n_pairs,
                       CAST(CASE WHEN rl > 0 THEN 1 WHEN rl < 0 THEN -1
                                 ELSE 0 END AS BIGINT) AS sgn,
                       CAST((CAST(1000000 AS HUGEINT) * abs(rl))
                            // GREATEST(r0, 1) AS BIGINT) AS abs_rho_ppm
                FROM rl CROSS JOIN r0),
      zz AS (SELECT CAST(-1 AS BIGINT) AS l, n_pairs, sgn, abs_rho_ppm, period
             FROM (SELECT l AS period, n_pairs, sgn, abs_rho_ppm
                   FROM rows_ WHERE sgn = 1
                   ORDER BY abs_rho_ppm DESC, l LIMIT 1))
      SELECT l, n_pairs, sgn, abs_rho_ppm, CAST(0 AS BIGINT) AS period
      FROM rows_
      UNION ALL
      SELECT l, n_pairs, sgn, abs_rho_ppm, period FROM zz
      ORDER BY l""")),

    // ---- partial autocorrelation (PACF lags 1–4) of the daily event
    //      volume via Durbin–Levinson (Durbin 1960): the AR-ORDER
    //      diagnostic q183's raw ACF can't give — ρ_k confounds direct
    //      lag-k dependence with everything transmitted through lags
    //      < k; φ_kk is lag k's effect with the shorter lags partialed
    //      out, so an AR(p) series shows φ_kk ≈ 0 past p (the Box–
    //      Jenkins identification plot). ρ₁..ρ₄ come from q183's
    //      exact-integer centered sums (DECIMAL/HUGEINT num, shared
    //      den) as one row of DOUBLE ratios; the Levinson recursion is
    //      then a one-row mirrored IEEE chain whose per-step expression
    //      strings ([[pacfSteps]]) are spliced VERBATIM into both the
    //      Spark plan and the DuckDB CTE ladder — the hilbertLevelExprs
    //      portability discipline, so both engines run the same
    //      correctly-rounded double ops. Zero denominators (constant
    //      series) guard to 0 on both sides.
    //
    //      Scale shape: q183's — one span-bounded day aggregate, a
    //      4-lag day-keyed self-join, then one-row arithmetic.
    ("q347_pacf", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .selectExpr("CAST(ts AS DATE) AS day")
        .groupBy(col("day")).agg(count(lit(1)).as("x"))
        .transform(graft.Stage.mat)
      val tot = daily.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      val c = graft.Stage.mat(daily.crossJoin(broadcast(tot))
        .selectExpr("day", "n * x - sx AS c"))
      val den = c.agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("den"))
      val lags = s.range(1, 5).select(col("id").as("lag"))
      val nums = c.crossJoin(broadcast(lags))
        .join(c.selectExpr("day AS day2", "c AS c2"),
          expr("date_add(day, CAST(lag AS INT)) = day2"))
        .groupBy(col("lag"))
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c2")).as("num"))
      val rhos = nums
        .agg(sum(when(col("lag") === 1L, col("num"))).as("m1"),
          sum(when(col("lag") === 2L, col("num"))).as("m2"),
          sum(when(col("lag") === 3L, col("num"))).as("m3"),
          sum(when(col("lag") === 4L, col("num"))).as("m4"))
        .crossJoin(broadcast(den))
        .selectExpr(
          "CAST(m1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1",
          "CAST(m2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2",
          "CAST(m3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3",
          "CAST(m4 AS DOUBLE) / CAST(den AS DOUBLE) AS r4")
      val chained = pacfSteps.foldLeft(rhos) { case (df, (nm, ex)) =>
        df.withColumn(nm, expr(ex))
      }.transform(graft.Stage.mat)
      Seq(1, 2, 3, 4).map { k =>
        chained.selectExpr(s"CAST($k AS BIGINT) AS lag",
          s"round(phi$k$k, 6) AS pacf_r")
      }.reduce(_ unionByName _).orderBy(col("lag"))
    }, Some {
      val ladder = pacfSteps.zipWithIndex.map { case ((nm, ex), i) =>
        s"p${i + 1} AS (SELECT *, $ex AS $nm FROM p$i)"
      }.mkString(",\n      ")
      s"""
      WITH ${centeredDailySql},
      lags AS (SELECT unnest(range(1, 5)) AS lag),
      nums AS (
        SELECT lag, SUM(CAST(a.c AS HUGEINT) * b.c) AS num
        FROM c a JOIN lags ON TRUE
        JOIN c b ON a.day + CAST(lag AS INTEGER) = b.day
        GROUP BY lag),
      mrow AS (
        SELECT SUM(CASE WHEN lag = 1 THEN num END) AS m1,
               SUM(CASE WHEN lag = 2 THEN num END) AS m2,
               SUM(CASE WHEN lag = 3 THEN num END) AS m3,
               SUM(CASE WHEN lag = 4 THEN num END) AS m4
        FROM nums),
      p0 AS (
        SELECT CAST(m1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
               CAST(m2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
               CAST(m3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3,
               CAST(m4 AS DOUBLE) / CAST(den AS DOUBLE) AS r4
        FROM mrow CROSS JOIN den),
      $ladder
      SELECT CAST(1 AS BIGINT) AS lag, round(phi11, 6) AS pacf_r FROM p${pacfSteps.length}
      UNION ALL
      SELECT 2, round(phi22, 6) FROM p${pacfSteps.length}
      UNION ALL
      SELECT 3, round(phi33, 6) FROM p${pacfSteps.length}
      UNION ALL
      SELECT 4, round(phi44, 6) FROM p${pacfSteps.length}
      ORDER BY lag"""
    }),

    // ---- first-harmonic fit of the hour-of-day profile (harmonic
    //      regression; the parametric member of the seasonality family —
    //      q238 decomposes, q343 locates the period, this one SIZES the
    //      diurnal cycle): project the 24-slot event-count profile onto
    //      cos/sin(2πh/24) and report the harmonic's amplitude and the
    //      share of profile variance it explains,
    //        b = Σ p_h·cos_h / 12,  c = Σ p_h·sin_h / 12,
    //        amp = √(b²+c²),  strength = 12·(b²+c²) / Σ(p_h − p̄)²
    //      — the Fourier-orthogonality identities at N = 24. The 24
    //      slot totals are EXACT integers (conditional sums, absent
    //      hours genuinely 0); the projection is one-row IEEE
    //      arithmetic over cos/sin constants whose decimal literals
    //      ([[hourCos]]/[[hourSin]]) splice VERBATIM into both engines
    //      (round-trip doubles — both parsers land on the identical
    //      bit pattern), with a fixed textual addition order. sqrt is
    //      correctly rounded IEEE on both; no atan2 (phase is reported
    //      as the exact integer argmax hour instead — transcendental
    //      library functions other than sqrt aren't cross-engine
    //      bit-stable).
    //
    //      Scale shape: one 24-group aggregate over events, then
    //      one-row arithmetic + a 24-row argmax.
    ("q353_harmonic_profile", (s: SparkSession, dir: String) => {
      val prof = graft.Stage.mat(Tables(s, dir).events
        .selectExpr("(unix_micros(ts) DIV 3600000000) % 24 AS h")
        .groupBy(col("h")).agg(count(lit(1)).as("p")))
      val aggs = (0 until 24).map(h =>
        sum(when(col("h") === h, col("p")).otherwise(0L)).as(s"p$h")) :+
        sum(col("p")).as("sp") :+
        sum(expr("CAST(p AS DECIMAL(38,0)) * p")).as("spp")
      val row = prof.agg(aggs.head, aggs.tail: _*)
      val peak = prof.orderBy(col("p").desc, col("h")).limit(1)
        .selectExpr("h AS peak_h", "p AS peak_p")
      row.crossJoin(broadcast(peak))
        .withColumn("fb", expr(s"($hourCosDot) / 12.0"))
        .withColumn("fc", expr(s"($hourSinDot) / 12.0"))
        .withColumn("sst", expr(
          "CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / 24.0"))
        .selectExpr("sp AS n_events", "peak_h", "peak_p",
          "round(sqrt(fb * fb + fc * fc), 6) AS amp_r",
          """round(CASE WHEN sst = 0 THEN 0.0
                   ELSE 12.0 * (fb * fb + fc * fc) / sst END, 6) AS strength_r""")
    }, Some(s"""
      WITH prof AS (
        SELECT (epoch_us(ts) // 3600000000) % 24 AS h,
               CAST(count(*) AS BIGINT) AS p
        FROM events GROUP BY 1),
      row_ AS (
        SELECT ${(0 until 24).map(h =>
          s"CAST(SUM(CASE WHEN h = $h THEN p ELSE 0 END) AS BIGINT) AS p$h")
          .mkString(",\n               ")},
               CAST(SUM(p) AS BIGINT) AS sp,
               SUM(CAST(p AS HUGEINT) * p) AS spp
        FROM prof),
      peak AS (SELECT h AS peak_h, p AS peak_p FROM prof
               ORDER BY p DESC, h LIMIT 1),
      fit AS (
        SELECT sp, peak_h, peak_p,
               ($hourCosDot) / 12.0 AS fb,
               ($hourSinDot) / 12.0 AS fc,
               CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / 24.0 AS sst
        FROM row_ CROSS JOIN peak)
      SELECT sp AS n_events, peak_h, peak_p,
             round(sqrt(fb * fb + fc * fc), 6) AS amp_r,
             round(CASE WHEN sst = 0 THEN 0.0
                   ELSE 12.0 * (fb * fb + fc * fc) / sst END, 6) AS strength_r
      FROM fit""")),

    // ---- Croston's method (Croston 1972) for INTERMITTENT demand:
    //      the forecasting family's sparse-series member — EWMA (q162)
    //      and Holt (q176) are biased toward zero on series that are
    //      mostly zeros, so Croston smooths the nonzero demand SIZES
    //      and the inter-demand INTERVALS separately and forecasts
    //      their ratio. Per event type over the zero-filled daily
    //      spine (absent days are real zeros), α = 0.2 in exact
    //      integer micros, the q176 fold discipline: Spark `aggregate`
    //      with an explicit named_struct init, DuckDB `list_reduce`
    //      over a PREPENDED [0,0,0] init (its struct accumulator
    //      mutates field-by-field; lists evaluate against the old
    //      accumulator — the q176 note). First demand initializes
    //      S = x, I = its arrival gap (the standard init). Demand-size
    //      smoothing stays in BIGINT to daily counts < 4.6e7 (the
    //      2e11·x product) — document-scale daily counts at sf1000 sit
    //      orders of magnitude under that.
    //
    //      Scale shape: one (type, day) aggregate, the zero-fill grid
    //      is span-bounded, and the per-type fold array is days-long —
    //      catalog × span state, never event-scale.
    ("q356_croston", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events
        .select(expr("CAST(ts AS DATE)").as("day"), col("event_type"))
      val counts = e.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("x0"))
      val spine = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr("sequence(d0, d1)")).as("day"))
      val types = e.select(col("event_type")).distinct()
      val filled = spine.crossJoin(broadcast(types))
        .join(counts, Seq("day", "event_type"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("x0"), lit(0L)).as("x"))
      filled.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_demand_days"),
          sort_array(collect_list(struct(col("day"), col("x")))).as("seq"))
        .selectExpr("event_type", "n_days", "n_demand_days",
          """aggregate(transform(seq, e -> e.x),
               named_struct('s', CAST(0 AS BIGINT), 'i', CAST(0 AS BIGINT),
                            'g', CAST(0 AS BIGINT)),
               (acc, x) -> CASE
                 WHEN x > 0 AND acc.s = 0 THEN named_struct(
                   's', x * 1000000, 'i', (acc.g + 1) * 1000000,
                   'g', CAST(0 AS BIGINT))
                 WHEN x > 0 THEN named_struct(
                   's', (200000 * x * 1000000 + 800000 * acc.s) DIV 1000000,
                   'i', (200000 * (acc.g + 1) * 1000000 + 800000 * acc.i)
                        DIV 1000000,
                   'g', CAST(0 AS BIGINT))
                 ELSE named_struct('s', acc.s, 'i', acc.i, 'g', acc.g + 1)
               END) AS st""")
        .selectExpr("event_type", "n_days", "n_demand_days",
          "st.s AS size_micros", "st.i AS interval_micros",
          """CAST((CAST(st.s AS DECIMAL(38,0)) * 1000000)
               DIV greatest(st.i, 1) AS BIGINT) AS rate_micros""")
        .orderBy(col("event_type"))
    }, Some("""
      WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
      counts AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS x0
                 FROM e GROUP BY 1, 2),
      spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
                FROM (SELECT min(day) AS d0, max(day) AS d1 FROM e)),
      types AS (SELECT DISTINCT event_type FROM e),
      filled AS (SELECT t.event_type, s.day, COALESCE(c.x0, 0) AS x
                 FROM spine s CROSS JOIN types t
                 LEFT JOIN counts c ON c.day = s.day AND c.event_type = t.event_type),
      folded AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_demand_days,
               list_reduce(
                 list_prepend([0::BIGINT, 0::BIGINT, 0::BIGINT],
                   list_transform(list(x ORDER BY day),
                     v -> [v, 0::BIGINT, 0::BIGINT])),
                 (acc, e) -> CASE
                   WHEN e[1] > 0 AND acc[1] = 0 THEN
                     [e[1] * 1000000, (acc[3] + 1) * 1000000, 0::BIGINT]
                   WHEN e[1] > 0 THEN [
                     (200000 * e[1] * 1000000 + 800000 * acc[1]) // 1000000,
                     (200000 * (acc[3] + 1) * 1000000 + 800000 * acc[2])
                       // 1000000,
                     0::BIGINT]
                   ELSE [acc[1], acc[2], acc[3] + 1] END) AS st
        FROM filled GROUP BY event_type)
      SELECT event_type, n_days, n_demand_days,
             st[1] AS size_micros, st[2] AS interval_micros,
             CAST((CAST(st[1] AS HUGEINT) * 1000000)
                  // GREATEST(st[2], 1) AS BIGINT) AS rate_micros
      FROM folded ORDER BY event_type"""))
  )

  /** Round-trip double literals of cos/sin(2π·h/24), h = 0..23, dotted
    * against the exact integer slot totals p0..p23 in a FIXED textual
    * order — the q347 portability discipline: both engines parse the
    * identical decimal literal to the identical double and add in the
    * identical order, so the projection is bit-stable cross-engine.
    */
  private lazy val hourCosDot: String = (0 until 24)
    .map(h => s"p$h * ${java.lang.Double.toString(math.cos(2 * math.Pi * h / 24))}")
    .mkString(" + ")
  private lazy val hourSinDot: String = (0 until 24)
    .map(h => s"p$h * ${java.lang.Double.toString(math.sin(2 * math.Pi * h / 24))}")
    .mkString(" + ")

  /** Durbin–Levinson recursion unrolled to lag 4 as ENGINE-PORTABLE
    * expression strings (plain double arithmetic + CASE — no function
    * whose rounding differs between engines), consumed VERBATIM by both
    * the Spark plan and the DuckDB oracle ladder of q347. Step k uses
    * the level-(k−1) coefficients a{k−1,j} to partial the shorter lags
    * out of ρ_k; zero denominators (degenerate/constant series) guard
    * the quotient to 0 identically on both engines.
    */
  private lazy val pacfSteps: Seq[(String, String)] = Seq(
    "phi11" -> "r1",
    "den2" -> "1 - r1 * r1",
    "phi22" -> "CASE WHEN den2 = 0 THEN 0.0 ELSE (r2 - r1 * r1) / den2 END",
    "a21" -> "r1 - phi22 * r1",
    "den3" -> "1 - a21 * r1 - phi22 * r2",
    "phi33" -> ("CASE WHEN den3 = 0 THEN 0.0 " +
      "ELSE (r3 - a21 * r2 - phi22 * r1) / den3 END"),
    "a31" -> "a21 - phi33 * phi22",
    "a32" -> "phi22 - phi33 * a21",
    "den4" -> "1 - a31 * r1 - a32 * r2 - phi33 * r3",
    "phi44" -> ("CASE WHEN den4 = 0 THEN 0.0 " +
      "ELSE (r4 - a31 * r3 - a32 * r2 - phi33 * r1) / den4 END"))
}
