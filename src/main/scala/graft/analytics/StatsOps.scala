package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.TextStats

/** Round-8 exact-statistics operators: closed-form regression /
  * correlation, chi-squared term–class association, and robust
  * higher-moment profiles — the statistical QA layer a curation
  * pipeline runs over its own feature columns (is this quality signal
  * actually linear in that one? which terms are over-represented in a
  * language split? is a source's length distribution skewed or
  * heavy-tailed enough to need stratified caps?).
  *
  * Arithmetic discipline (the GraphOps precedent): every derived ratio
  * is integer micros computed with DIV over exact integer sums; the
  * quadratic/cubic/quartic products run in DECIMAL(38,0) (Spark) /
  * HUGEINT (DuckDB). Negative numerators are safe: Spark's `div` and
  * DuckDB's `//` both truncate toward zero (verified), so signed
  * slopes/covariances replay exactly. No sqrt ever: correlations ship
  * as sign + r² micros (the assortativity convention).
  */
object StatsOps {
  import Relational.QFn

  private val ws = TextStats.wsClassSql

  /** Per-group closed-form OLS of y on x plus Pearson r² — computed
    * from the five classic sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    * Σy²) in ONE map-side-combined aggregate pass; the normal-equation
    * solution needs no iteration and no centering pass. Emits
    *   slope_micros     = (n·Σxy − ΣxΣy)·1e6 div (n·Σx² − Σx²)
    *   intercept_micros = (Σy·1e6 − slope_micros·Σx) div n
    *   r_sign, r2_micros (no-sqrt convention)
    * all exact integers. Inputs must be integer-valued columns.
    *
    * Scale shape: a single groupBy(group) aggregate — partial+final,
    * one vocabulary-of-groups-sized shuffle, nothing else. The raw sums
    * stay in longs (exact to |x|·√n ≲ 3e9 per group); the cross terms
    * n·Σxy etc. run in DECIMAL(38,0), good to n·|x|·|y| ≲ 1e38 — far
    * past any per-source corpus slice. Degenerate groups (zero x
    * variance) floor to slope 0 via the greatest(·,1) guard rather
    * than dividing by zero.
    */
  def olsMicros(df: DataFrame, group: String, x: String, y: String): DataFrame =
    df.groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        sum(col(x)).as("sx"), sum(col(y)).as("sy"),
        sum(col(x) * col(y)).as("sxy"),
        sum(col(x) * col(x)).as("sxx"),
        sum(col(y) * col(y)).as("syy"))
      .selectExpr(group, "n", "sx", "sy",
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS num",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS denx",
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS deny")
      .selectExpr(group, "n", "num", "denx", "deny", "sx", "sy",
        "CAST((num * 1000000) DIV greatest(denx, 1) AS BIGINT) AS slope_micros")
      .selectExpr(group, "n", "slope_micros",
        """CAST((CAST(sy AS DECIMAL(38,0)) * 1000000
                 - CAST(slope_micros AS DECIMAL(38,0)) * sx)
                DIV greatest(n, 1) AS BIGINT) AS intercept_micros""",
        "CAST(sign(num) AS BIGINT) AS r_sign",
        """CAST((num * num * 1000000) DIV greatest(denx * deny, 1) AS BIGINT)
           AS r2_micros""")

  /** Chi-squared term–class association over document-level term
    * presence: for each (class, term) 2×2 contingency table
    * (a = class docs containing the term, df = all docs containing it,
    * n_cls = class size, n = corpus size),
    *   chi2_micros = n·(ad − bc)²·1e6 div (n_cls·(n−n_cls)·df·(n−df))
    * — the classic supervised feature-selection score (Yang & Pedersen
    * 1997), here ranking each language's most over-represented
    * vocabulary. Exact integers end to end; ties in the per-class
    * top-k break on the term string.
    *
    * Scale shape: one distinct-tokens generator pass → two
    * map-side-combined count aggregates ((class, term) and term) →
    * a term-keyed join (bucketable) → a per-class top-k window over
    * class-vocabulary-sized partitions (never the corpus). `minDf`
    * prunes the long hapax tail before the join — at corpus scale that
    * is the difference between a vocabulary-sized and a
    * token-instance-sized shuffle.
    */
  def chi2Terms(docs: DataFrame, minDf: Long = 10,
                topK: Int = 10): DataFrame = {
    val toks = docs
      .select(col("lang").as("cls"),
        explode(array_distinct(
          filter(TextStats.tokens(lower(col("text"))), x => x =!= lit("")))).as("w"))
    val byCls = toks.groupBy(col("cls"), col("w")).agg(count(lit(1)).as("a"))
    val byW = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nCls = docs.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_cls"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = byCls
      .join(byW, Seq("w"))
      .join(broadcast(nCls), Seq("cls"))
      .crossJoin(broadcast(n))
      .selectExpr("cls", "w", "a", "df", "n_cls", "n",
        """CAST(a AS DECIMAL(38,0)) * (n - n_cls - df + a)
           - CAST(n_cls - a AS DECIMAL(38,0)) * (df - a) AS adbc""")
      .selectExpr("cls", "w", "a", "df",
        """CAST((CAST(n AS DECIMAL(38,0)) * adbc * adbc * 1000000)
                DIV greatest(CAST(n_cls AS DECIMAL(38,0)) * (n - n_cls)
                             * df * (n - df), 1) AS BIGINT) AS chi2_micros""")
    val byChi = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cls")).orderBy(col("chi2_micros").desc, col("w"))
    scored.withColumn("rnk", row_number().over(byChi).cast("long"))
      .filter(col("rnk") <= topK)
  }

  /** Per-group central-moment profile of an integer feature, two-pass
    * exact: pass 1 floors the group mean to micros; pass 2 accumulates
    * the signed deviations dev = x·1e6 − mean_micros and their powers.
    * Emits the 2nd/3rd/4th central moments in micros plus the no-sqrt
    * shape ratios
    *   skew²_micros = m3²·1e6 div m2³   (with skew_sign = sign(m3))
    *   kurt_micros  = m4·1e12 div m2²   (Pearson kurtosis; normal ≈ 3e6)
    * — the Gopher-style distribution-health screen (a source whose
    * length kurtosis explodes is boilerplate + outliers, not prose).
    * sum_dev is emitted as the flooring certificate: |sum_dev| < n
    * always, exactly the mass the mean floor discarded.
    *
    * Scale shape: two map-side-combined aggregates over one scan each,
    * joined on the group key (group table broadcast — source-catalog-
    * sized). dev³/dev⁴ products run in DECIMAL(38,0): exact to
    * |dev| ≲ 3e8 micros (feature range ≲ 300 from its mean — token
    * counts, ratios; for wider features divide the feature first).
    */
  def momentsMicros(df: DataFrame, group: String): DataFrame = {
    val means = df.groupBy(col(group))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .selectExpr(group, "n", "(1000000 * sx) div n AS mean_micros")
    df.join(broadcast(means), Seq(group))
      .selectExpr(group, "n", "mean_micros",
        s"CAST(x AS BIGINT) * 1000000 - mean_micros AS dev")
      .groupBy(col(group), col("n"), col("mean_micros"))
      .agg(sum(col("dev")).as("sum_dev"),
        sum(expr("dev * dev")).as("s2"),
        sum(expr("CAST(dev AS DECIMAL(38,0)) * dev * dev")).as("s3"),
        sum(expr("CAST(dev AS DECIMAL(38,0)) * dev * dev * dev")).as("s4"))
      .selectExpr(group, "n", "mean_micros", "sum_dev",
        "s2 DIV (n * 1000000) AS m2_micros",
        "CAST(s3 DIV (CAST(n AS DECIMAL(38,0)) * 1000000000000) AS BIGINT) AS m3_micros",
        "CAST(s4 DIV (CAST(n AS DECIMAL(38,0)) * 1000000000000000000) AS BIGINT) AS m4_micros")
      .selectExpr(group, "n", "mean_micros", "sum_dev",
        "m2_micros", "m3_micros", "m4_micros",
        "CAST(sign(m3_micros) AS BIGINT) AS skew_sign",
        """CAST((CAST(m3_micros AS DECIMAL(38,0)) * m3_micros * 1000000)
                DIV greatest(CAST(m2_micros AS DECIMAL(38,0)) * m2_micros * m2_micros, 1)
                AS BIGINT) AS skew2_micros""",
        """CAST((CAST(m4_micros AS DECIMAL(38,0)) * 1000000000000)
                DIV greatest(CAST(m2_micros AS DECIMAL(38,0)) * m2_micros, 1)
                AS BIGINT) AS kurt_micros""")
  }

  /** One shared word's round-9 JSD term over its (ca/na, cb/nb) source
    * frequencies, as SQL text that Spark's selectExpr and DuckDB parse
    * alike — the q159 kernel and its oracle evaluate the same string. */
  private val jsdTermSql: String = """round(
             (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
               * ln((2.0 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)))
                    / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                       + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))
             + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
               * ln((2.0 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))
                    / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                       + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))),
             9) AS term"""

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the symmetric, bounded (≤ ln 2) companion to
    * q103's source-vs-corpus KL: a SOURCE SIMILARITY MATRIX (which
    * feeds merge very similar sources / flag a source that drifted
    * from its sibling mirror).
    *
    * The union-support sum is algebraically split so only the
    * INTERSECTION vocabulary is ever joined: for a word one side lacks
    * the JSD term is exactly `½·p·ln 2`, so the exclusive tails
    * contribute `½·ln 2·((1−sa) + (1−sb))` where sa/sb are each side's
    * SHARED-vocabulary mass — two integer sums that ride the same
    * aggregate. No per-pair anti-joins, no zero-filled cross join.
    *
    * Float discipline (the q103 convention): each shared-word term is
    * one mirrored IEEE chain snapped round-9, summed as DECIMAL(30,9)
    * (order-independent ⇒ partial aggregation safe), final round-6.
    *
    * Scale shape: one tokenize pass → (source, w) counts → a
    * vocabulary-keyed self-join whose per-word width is (#sources
    * carrying w)² — source-count-bounded, never corpus-sized — then a
    * pairs-sized aggregate. The hapax tail only widens the join by
    * rows, not width; bucket by w at 100 TB.
    */
  def sourceJsdPairs(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"),
      explode(filter(TextStats.tokens(lower(col("text"))), x => x =!= lit("")))
        .as("w"))
    val bysrc = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val srctot = tok.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val bw = bysrc.join(broadcast(srctot), Seq("source"))
    val a = bw.select(col("source").as("src_a"), col("w"),
      col("c").as("ca"), col("n").as("na"))
    val b = bw.select(col("source").as("src_b"), col("w"),
      col("c").as("cb"), col("n").as("nb"))
    a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      .selectExpr("src_a", "src_b", "ca", "na", "cb", "nb",
        jsdTermSql)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("term").cast("decimal(30,9)")).as("s"),
        sum(col("ca")).as("sa_num"), min(col("na")).as("na"),
        sum(col("cb")).as("sb_num"), min(col("nb")).as("nb"))
      .selectExpr("src_a", "src_b", "n_shared",
        """round(0.5 * CAST(s AS DOUBLE)
                 + 0.5 * ln(2.0)
                   * ((1.0 - CAST(sa_num AS DOUBLE) / CAST(na AS DOUBLE))
                      + (1.0 - CAST(sb_num AS DOUBLE) / CAST(nb AS DOUBLE))),
                 6) AS jsd_r""")
  }

  /** Deterministic Poisson bootstrap confidence interval for a mean
    * (Chamandy et al. 2012 — the resampling scheme built FOR
    * distributed one-pass engines): resample `b` includes row `i` with
    * multiplicity `m ~ Poisson(1)`, drawn from ONE portable row hash
    * expanded to B multiplicative-congruential draws (see the inline
    * note) mapped through the floor-ppm Poisson inverse-CDF thresholds
    * (367879 / 735758 / 919698 / 981011 / 996340 / 999405, capped at
    * 6) — fully deterministic, so the oracle replays every
    * multiplicity. Emits one row per resample
    * (b, effective n, mean in micros) plus b = −1 (the full-sample
    * mean), b = −2 / −3 (the CI endpoints: the ⌊0.05B⌋-th and
    * (B−⌊0.05B⌋+1)-th order statistics of the resample means, ties on
    * b — the documented percentile convention).
    *
    * Scale shape: the B-fold explode is map-side row expansion feeding
    * ONE B-group aggregate (partial+final) — no shuffle grows with B
    * beyond the B-row result; the order-statistic window runs on the
    * B-row table. Σ m·x stays in longs — exact to B·n·|x| ≲ 9e18;
    * swap the product to DECIMAL(38,0) past that.
    */
  def bootstrapCI(df: DataFrame, keyCol: String, valueMicros: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE portable hash per row, then B multiplicative-congruential
    // draws u_b = ((h mod p)·(2b+1)) mod p mod 1e6 over the Mersenne
    // prime p = 2³¹−1 — products stay < 2⁶² (ANSI-overflow-safe), the
    // oracle replays each draw, and the per-row md5 cost is paid once
    // instead of B times (measured 5.3 s → sub-second at sf0.1).
    val base = df.select(col(keyCol).cast("string").as("k"), valueMicros.as("x"))
      .withColumn("h", TextStats.portableHash64(
        concat(lit("boot:"), col("k"))) % 2147483647L)
    val rep = base.select(col("h"), col("x"),
        explode(expr(s"sequence(0, 39)")).as("rb"))
      .withColumn("u", expr("((h * (2 * rb + 1)) % 2147483647) % 1000000"))
      .withColumn("m", expr(
        """CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
                WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
                WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
                ELSE 6 END"""))
    val means = rep.groupBy(col("rb"))
      .agg(sum(col("m")).as("n_eff"), sum(col("m") * col("x")).as("sx"))
      .selectExpr("CAST(rb AS BIGINT) AS b", "n_eff",
        "sx DIV greatest(n_eff, 1) AS mean_micros")
      .transform(graft.Stage.mat)
    val ranked = means.withColumn("rk",
      row_number().over(Window.orderBy(col("mean_micros"), col("b"))))
    val kLo = math.max(1, 40 / 20)
    val kHi = 40 - math.max(1, 40 / 20) + 1
    val lo = ranked.filter(col("rk") === kLo)
      .selectExpr("CAST(-2 AS BIGINT) AS b", "n_eff", "mean_micros")
    val hi = ranked.filter(col("rk") === kHi)
      .selectExpr("CAST(-3 AS BIGINT) AS b", "n_eff", "mean_micros")
    val full = base.agg(count(lit(1)).as("n"), sum(col("x")).as("sxf"))
      .selectExpr("CAST(-1 AS BIGINT) AS b", "n AS n_eff",
        "sxf DIV greatest(n, 1) AS mean_micros")
    means.unionByName(full).unionByName(lo).unionByName(hi).orderBy(col("b"))
  }

  /** Paired sign-flip permutation core shared by q264/q265: from a
    * per-group day-difference table (grp, od, d), the observed statistic
    * S = Σd, B deterministic sign assignments per day from one portable
    * hash expanded q213-style over p = 2³¹−1, and the add-one permutation
    * p-value (1 + #{b: |S_b| ≥ |S|}) / (B+1), floored to ppm for display
    * — callers needing exact comparisons (q265's BH step-up) use the
    * returned integer (n_ge, n_perms) pair, never the floored ppm.
    *
    * Scale shape: the B-fold explode expands only the day-grain input
    * (time-span-bounded) into ONE (grp, b)-group aggregate — map-side
    * combined, no window, no sort. Σ|d| ≤ #days·max-day-volume keeps
    * s_b in long range up to ~9e18 row-days.
    */
  def signFlipPermutation(dayDiffs: DataFrame): DataFrame = {
    val base = dayDiffs.withColumn("h",
      TextStats.portableHash64(concat(lit("flip:"), col("grp"), lit(":"),
        col("od").cast("string"))) % 2147483647L)
    val obs = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_days"), sum(col("d")).as("s_obs"))
    val perms = base.select(col("grp"), col("d"), col("h"),
        explode(expr(s"sequence(1, 200)")).as("rb"))
      .withColumn("sg", lit(1L) - lit(2L) *
        expr("((h * (2 * rb + 1)) % 2147483647) % 2"))
      .groupBy(col("grp"), col("rb"))
      .agg(sum(col("sg") * col("d")).as("s_b"))
    perms.join(broadcast(obs), Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("n_days")).as("n_days"), max(col("s_obs")).as("s_obs"),
        sum(when(abs(col("s_b")) >= abs(col("s_obs")), 1L).otherwise(0L)).as("n_ge"),
        count(lit(1)).as("n_perms"))
      .selectExpr("grp", "n_days", "s_obs", "n_perms", "n_ge",
        "((1 + n_ge) * 1000000) DIV (n_perms + 1) AS p_ppm")
  }

  /** The A/A cohort hash of q264/q265: a user's sign is 1 − 2·(h mod 2). */
  private val signFlipUserHSql: String =
    TextStats.portableHash64Sql("concat('pt:', CAST(user_id AS VARCHAR))")

  /** DuckDB twin of [[signFlipPermutation]]: given CTE `dd(grp, od, d)`,
    * CTEs `base`, `obs(grp, n_days, s_obs)`, `perms` and
    * `cnt(grp, n_ge, n_perms)`. Follows `dd` in the WITH list.
    */
  private val signFlipCountsSql: String = {
    val dayH = TextStats.portableHash64Sql(
      "concat('flip:', grp, ':', CAST(od AS VARCHAR))")
    s"""base AS (SELECT grp, od, d, $dayH % 2147483647 AS h FROM dd),
      obs AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days,
                     CAST(SUM(d) AS BIGINT) AS s_obs
              FROM base GROUP BY grp),
      perms AS (
        SELECT grp, rb,
               CAST(SUM((1 - 2 * (((h * (2 * rb + 1)) % 2147483647) % 2)) * d)
                 AS BIGINT) AS s_b
        FROM base CROSS JOIN (SELECT unnest(range(1, 201)) AS rb)
        GROUP BY grp, rb),
      cnt AS (
        SELECT p.grp,
               CAST(count(*) FILTER (WHERE abs(s_b) >= abs(s_obs)) AS BIGINT) AS n_ge,
               CAST(count(*) AS BIGINT) AS n_perms
        FROM perms p JOIN obs o ON p.grp = o.grp GROUP BY p.grp)"""
  }

  /** Kruskal–Wallis H across k groups (Kruskal & Wallis 1952), with the
    * standard tie correction — the nonparametric k-group extension of
    * q124's Mann–Whitney rank sum: does at least one group's value
    * distribution differ, without assuming normality? Run over integer
    * scores so the rank arithmetic is exact.
    *
    * Rank discipline: no row ever gets a per-row global rank. Scores
    * reduce to tie groups (score → min-rank mn, count cnt) via a
    * cumulative count over the DISTINCT-SCORE table; each member's
    * DOUBLED average rank is the exact integer 2·mn + cnt − 1, so the
    * per-group doubled rank sum r2 = Σ pc·(2·mn + cnt − 1) carries no
    * halves. H then follows the one-fraction form
    *   s        = Σ_g [r2_g² DIV (4·n_g)]        (≈ Σ R_g²/n_g, ≤ N²)
    *   H_micros = (12e6·s) DIV (N(N+1)) − 3e6·(N+1)
    * — the 1e6 scale is applied AFTER the per-group division so each
    * term stays ≤ N² ≈ 3.6e10 at 600k rows (the ×1e6-inside form
    * overflows BIGINT once r2² ≳ 1e19); products run in DECIMAL(38,0)
    * and every truncating DIV is mirrored by the oracle. Tie factor:
    *   C_micros = 1e6 − (1e6·Σ(t³−t)) DIV (N³−N),
    *   H_corr_micros = (H_micros·1e6) DIV C_micros.
    *
    * Output: one row per group (n_g, doubled rank sum, mean doubled
    * rank) + a zz row (group = 'zz_h') carrying N, H_micros and the
    * corrected H in the same columns (the q185 trailing-row convention).
    *
    * Scale shape: one (group, score) aggregate and one distinct-score
    * aggregate — both map-side combined. The distinct-score table can
    * approach corpus size for near-continuous scores, so the
    * cumulative count that yields each tie group's min-rank runs the
    * [[graft.text.Packing.scoreOrder]] two-phase decomposition: linear
    * value-range buckets (monotone ⇒ order-preserving), per-bucket
    * totals, one window over the 1024-row bucket table (the only
    * serial step), within-bucket prefix sums PARTITIONed BY bucket —
    * no unpartitioned window anywhere. Everything downstream is k-row
    * arithmetic. DECIMAL(38,0) bounds: r2 ≲ 2N² ≤ 1e12 at 600k rows,
    * r2² ≲ 1e24 — comfortably inside 1e38. The oracle computes mn with
    * a plain single cumulative window, so hash equality doubles as the
    * decomposition-exactness proof (the scoreOrder convention).
    */
  /** DuckDB twin of [[kruskalWallis]]'s and [[mannWhitneyU]]'s shared
    * midrank pass: given CTE `base(grp, score)`, CTEs `ties(score, cnt)`,
    * `mr` (first rank `mn` of each tie group) and `pergs(grp, score, pc)`.
    */
  private val scoreMidranksSql: String = """ties AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt
               FROM base GROUP BY score),
      mr AS (SELECT score, cnt,
                    SUM(cnt) OVER (ORDER BY score) - cnt + 1 AS mn
             FROM ties),
      pergs AS (SELECT grp, score, CAST(count(*) AS BIGINT) AS pc
                FROM base GROUP BY grp, score)"""

  /** Two-phase distributed midrank over a tie-group table (score, cnt):
    * range-bucket the distinct scores, cumulate bucket counts in ONE
    * ≤1024-row window (the PlanSpec-allowlisted bucket-offset
    * idiom), then rank within each bucket by a PARTITIONED window.
    * Returns (score, cnt, mn) with mn = the 1-based minimum rank of the
    * tie group — midrank·2 = 2·mn + cnt − 1, the integer form every
    * rank statistic here consumes. Shared by [[kruskalWallis]] (k
    * groups) and [[mannWhitneyU]] (2 groups).
    */
  private def tieMidranks(ties: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = ties.agg(min(col("score")).as("smn"), max(col("score")).as("smx"))
    val bucketed = ties.crossJoin(broadcast(stats))
      .withColumn("rb", floor(
        (col("score") - col("smn")).cast("double") * 1024 /
          (col("smx") - col("smn") + 1).cast("double")).cast("long"))
    val offsets = bucketed.groupBy(col("rb")).agg(sum(col("cnt")).as("bcnt"))
      .withColumn("off", coalesce(
        sum(col("bcnt")).over(Window.orderBy(col("rb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rb"), col("off"))
    bucketed.join(broadcast(offsets), Seq("rb"))
      .withColumn("mn", col("off")
        + sum(col("cnt")).over(Window.partitionBy(col("rb")).orderBy(col("score")))
        - col("cnt") + 1)
      .select(col("score"), col("cnt"), col("mn"))
  }

  def kruskalWallis(df: DataFrame, score: Column): DataFrame = {
    val base = df.select(col("o_orderpriority").as("grp"), score.cast("long").as("score"))
    val ties = base.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
      .transform(graft.Stage.mat) // feeds the stats row AND the ranked pass
    val mn = tieMidranks(ties)
    val perGs = base.groupBy(col("grp"), col("score")).agg(count(lit(1)).as("pc"))
    val perG = perGs.join(mn, Seq("score"))
      .groupBy(col("grp"))
      .agg(sum(col("pc")).as("n_g"),
        sum(col("pc") * (lit(2L) * col("mn") + col("cnt") - 1)).as("r2"))
      .transform(graft.Stage.mat) // feeds the group rows AND the H fold
    val nTie = ties.agg(
      sum(col("cnt")).as("n"),
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tsum"))
    val h = perG.agg(
      sum(expr("(CAST(r2 AS DECIMAL(38,0)) * r2) DIV (4 * n_g)")).as("s"))
      .crossJoin(broadcast(nTie))
      .selectExpr("n", "tsum", "s",
        """CAST((12000000 * CAST(s AS DECIMAL(38,0)))
                DIV (CAST(n AS DECIMAL(38,0)) * (n + 1))
                - 3000000 * (n + 1) AS BIGINT) AS h_micros""")
      .selectExpr("n", "h_micros",
        """CAST(1000000 - (1000000 * tsum)
                DIV greatest(CAST(n AS DECIMAL(38,0)) * n * n - n, 1)
            AS BIGINT) AS c_micros""")
      .selectExpr("'zz_h' AS grp", "n AS n_g", "h_micros AS r2",
        "(h_micros * 1000000) DIV greatest(c_micros, 1) AS mean2_micros")
    perG.selectExpr("grp", "n_g", "r2", "(r2 * 1000000) DIV n_g AS mean2_micros")
      .unionAll(h).orderBy(col("grp"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum, Mann & Whitney 1947) for a
    * binary treatment — the 2-group special case beside
    * [[kruskalWallis]], sharing its [[tieMidranks]] two-phase rank.
    * Everything rides the doubled-rank integers (no halves ever):
    *   R1·2 = Σ pc·(2·mn + cnt − 1)          (2× the tie-midrank sum)
    *   U·2  = R1·2 − n1(n1+1)                 (2× the U statistic)
    *   d·2  = U·2 − n1·n2                     (2× the deviation from μ)
    *   z²_micros = 1e6·3n(n−1)·(d·2)² DIV (n1n2·[n(n²−1) − Σ(t³−t)])
    * (the (d·2)² numerator and the 12 in σ² cancel to the single 3;
    * tie-corrected normal approximation). DECIMAL(38,0) products: the
    * numerator is ≲1e36 at sf0.1 (d·2 ≤ n1n2 ≈ 5e9) and crosses 1e38
    * near n ≈ 4e5 rows — past that, pre-divide d·2² by n1n2's GCD scale
    * or emit the three factors separately.
    *
    * Output: 'g0'/'g1' rows (n_g, doubled rank-sum r2x) + 'zz_u' row
    * (n, U·2 in r2x, z²_micros) — the q239/q240 zz-row shape.
    */
  def mannWhitneyU(df: DataFrame, treat: Column, score: Column): DataFrame = {
    val base = df.select(treat.cast("long").as("grp"), score.cast("long").as("score"))
    val ties = base.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
      .transform(graft.Stage.mat)
    val mn = tieMidranks(ties)
    val perGs = base.groupBy(col("grp"), col("score")).agg(count(lit(1)).as("pc"))
    val perG = perGs.join(mn, Seq("score"))
      .groupBy(col("grp"))
      .agg(sum(col("pc")).as("n_g"),
        sum(col("pc") * (lit(2L) * col("mn") + col("cnt") - 1)).as("r2x"))
      .transform(graft.Stage.mat)
    val nTie = ties.agg(sum(col("cnt")).as("n"),
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tsum"))
    val zz = perG.agg(
        sum(when(col("grp") === 1L, col("n_g")).otherwise(0L)).as("n1"),
        sum(when(col("grp") =!= 1L, col("n_g")).otherwise(0L)).as("n2"),
        sum(when(col("grp") === 1L, col("r2x")).otherwise(0L)).as("r2x1"))
      .crossJoin(broadcast(nTie))
      .selectExpr("n1", "n2", "n", "tsum", "r2x1 - n1 * (n1 + 1) AS u2x")
      .selectExpr("'zz_u' AS grp", "n AS n_g", "u2x AS r2x",
        """CAST((CAST(3 AS DECIMAL(38,0)) * n * (n - 1)
                 * (u2x - n1 * n2) * (u2x - n1 * n2) * 1000000)
            DIV greatest(CAST(n1 AS DECIMAL(38,0)) * n2
                 * (CAST(n AS DECIMAL(38,0)) * (n * n - 1) - tsum), 1)
            AS BIGINT) AS z2_micros""")
    perG.selectExpr("concat('g', CAST(grp AS STRING)) AS grp", "n_g", "r2x",
        "CAST(0 AS BIGINT) AS z2_micros")
      .unionByName(zz).orderBy(col("grp"))
  }

  /** One-way ANOVA F statistic (Fisher) across k groups, exact
    * integers: from the three sufficient statistics per group
    * (n, Σx, Σx²) — one map-side-combined aggregate pass —
    *   SSB_sc = Σ_g [(1e6·S_g²) DIV n_g] − (1e6·S²) DIV N
    *   SST_sc = 1e6·Σx² − (1e6·S²) DIV N,  SSW_sc = SST_sc − SSB_sc
    *   F_micros = (SSB_sc·(N−k)·1e6) DIV greatest(SSW_sc·(k−1), 1)
    * (scaled sums of squares in micros; DECIMAL(38,0) products,
    * truncating DIVs replayed term-for-term by the oracle — the
    * olsMicros discipline).
    *
    * Output: per-group (n, mean_micros) rows + 'zz_f' row carrying
    * (N, SSB_sc in the mean column? no —) n_g = N, mean_micros =
    * F_micros, with ssb/ssw shipped in dedicated columns on all rows
    * (null-free: group rows carry 0).
    *
    * Scale shape: one aggregate over the fact table, then k-row
    * arithmetic. Σx² in DECIMAL stays exact for |x| ≤ 1e9 over 1e12
    * rows — any per-doc length/score column qualifies.
    */
  def anovaF(df: DataFrame, group: String, x: Column): DataFrame = {
    val base = df.select(col(group).as("grp"), x.cast("long").as("x"))
    val perG = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q_g"))
      .transform(graft.Stage.mat) // feeds the group rows AND the F fold
    val f = perG.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"),
      sum(col("q_g")).as("q"), count(lit(1)).as("k"),
      sum(expr("(CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) DIV n_g")).as("bsum"))
      .selectExpr("n", "k",
        "bsum - (CAST(s AS DECIMAL(38,0)) * s * 1000000) DIV n AS ssb_sc",
        "q * 1000000 - (CAST(s AS DECIMAL(38,0)) * s * 1000000) DIV n AS sst_sc")
      .selectExpr("n", "k", "ssb_sc", "sst_sc - ssb_sc AS ssw_sc")
      .selectExpr("'zz_f' AS grp", "n AS n_g",
        """CAST((CAST(ssb_sc AS DECIMAL(38,0)) * (n - k) * 1000000)
                DIV greatest(CAST(ssw_sc AS DECIMAL(38,0)) * (k - 1), 1)
            AS BIGINT) AS mean_micros""",
        "CAST(ssb_sc DIV 1000000 AS BIGINT) AS ssb",
        "CAST(ssw_sc DIV 1000000 AS BIGINT) AS ssw")
    perG.selectExpr("grp", "n_g", "(s_g * 1000000) DIV n_g AS mean_micros",
      "CAST(0 AS BIGINT) AS ssb", "CAST(0 AS BIGINT) AS ssw")
      .unionAll(f).orderBy(col("grp"))
  }

  /** DuckDB twin of [[anovaF]] after its per-group pass: given CTE
    * `perg(grp, n_g, s_g, q_g)`, the F fold and the final rows (group
    * means, then the `zz_f` row). Follows `perg` in the WITH list.
    */
  private val anovaFSql: String = """f AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS BIGINT) AS s,
               SUM(q_g) AS q, CAST(count(*) AS BIGINT) AS k,
               SUM((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g) AS bsum
        FROM perg),
      sc AS (
        SELECT n, k,
               bsum - (CAST(s AS HUGEINT) * s * 1000000) // n AS ssb_sc,
               q * 1000000 - (CAST(s AS HUGEINT) * s * 1000000) // n AS sst_sc
        FROM f),
      sc2 AS (SELECT n, k, ssb_sc, sst_sc - ssb_sc AS ssw_sc FROM sc)
      SELECT grp, n_g, (s_g * 1000000) // n_g AS mean_micros,
             CAST(0 AS BIGINT) AS ssb, CAST(0 AS BIGINT) AS ssw
      FROM perg
      UNION ALL
      SELECT 'zz_f', n,
             CAST((ssb_sc * (n - k) * 1000000)
                  // greatest(ssw_sc * (k - 1), 1) AS BIGINT),
             CAST(ssb_sc // 1000000 AS BIGINT),
             CAST(ssw_sc // 1000000 AS BIGINT)
      FROM sc2
      ORDER BY grp"""

  /** Burrows' Delta stylometric distance between sources (Burrows
    * 2002; the robust scaling follows the Evert et al. 2017 analysis
    * of Delta variants): over the T most frequent corpus terms, each
    * source's relative frequency is centered by the cross-source mean
    * and scaled by the cross-source MEAN ABSOLUTE deviation (the
    * no-sqrt house substitute for the z-score's σ — same ordering
    * behavior, exact integers), and Delta(a,b) is the mean |z_a − z_b|
    * over the T terms. The "which sources write alike" matrix — the
    * authorship/register companion of q159's topical JSD.
    *
    * Exact integer discipline end to end: f in ppm by truncating DIV,
    * μ and MAD by truncating DIV over the g-source column, z in micros
    * DIV-scaled by greatest(MAD, 1), Delta by DIV T. Absent terms
    * enter as genuine f = 0 rows via the g×T grid, not dropped — a
    * source that never uses "the" must pull its z strongly negative.
    *
    * Scale shape: one tokenize pass → (source, term) counts (map-side
    * combined) → top-T via TakeOrderedAndProject → everything after
    * runs on the g×T grid (sources × 40 terms — catalog-sized). The
    * pair join is (g·T) ⋈ (g·T) on term: per-term width g², bounded by
    * the source catalog, never the corpus.
    */
  def burrowsDelta(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"),
      explode(filter(TextStats.tokens(lower(col("text"))), x => x =!= lit("")))
        .as("w"))
    val c = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .transform(graft.Stage.mat) // feeds top-T, totals, AND the grid join
    val ns = c.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val top = c.groupBy(col("w")).agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("w")).limit(40).select(col("w"))
    val grid = ns.crossJoin(broadcast(top))
      .join(c, Seq("source", "w"), "left")
      .selectExpr("source", "w", "(1000000 * coalesce(c, 0L)) DIV n_s AS f")
    val mu = grid.groupBy(col("w"))
      .agg(sum(col("f")).as("sf"), count(lit(1)).as("gg"))
      .selectExpr("w", "sf DIV gg AS mu")
    val dev = grid.join(broadcast(mu), Seq("w"))
      .withColumn("dev", col("f") - col("mu"))
    val md = dev.groupBy(col("w"))
      .agg(sum(abs(col("dev"))).as("sad"), count(lit(1)).as("gg"))
      .selectExpr("w", "sad DIV gg AS md")
    val z = dev.join(broadcast(md), Seq("w"))
      .selectExpr("source", "w", "(dev * 1000000) DIV greatest(md, 1) AS z")
    z.select(col("w"), col("source").as("src_a"), col("z").as("za"))
      .join(z.select(col("w"), col("source").as("src_b"), col("z").as("zb")),
        Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_terms"),
        sum(abs(col("za") - col("zb"))).as("sz"))
      .selectExpr("src_a", "src_b", "n_terms", "sz DIV n_terms AS delta_micros")
  }

  /** Per-treatment sums of doubled within-block midranks over a complete
    * (b, t, v) grid — the rank pass of [[friedman]] and q351's Page
    * test: (t, n_blocks, rr2), materialized because it feeds both the
    * treatment rows and the statistic's fold.
    */
  private def blockRankSums(grid: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tg = grid.groupBy(col("b"), col("v")).agg(count(lit(1)).as("cnt"))
    val mn = tg.withColumn("mn",
      sum(col("cnt")).over(Window.partitionBy(col("b")).orderBy(col("v")))
        - col("cnt") + 1)
    grid.join(mn, Seq("b", "v"))
      .withColumn("r2", lit(2L) * col("mn") + col("cnt") - 1)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("r2")).as("rr2"))
      .transform(graft.Stage.mat)
  }

  /** DuckDB twin of [[blockRankSums]]: given CTE `grid(b, t, v)`, CTEs
    * `tg`, `mr`, `r2` and `pert(t, n_blocks, rr2)`.
    */
  private val blockRankSumsSql: String = """tg AS (SELECT b, v, CAST(count(*) AS BIGINT) AS cnt
             FROM grid GROUP BY b, v),
      mr AS (SELECT b, v, cnt,
                    SUM(cnt) OVER (PARTITION BY b ORDER BY v) - cnt + 1 AS mn
             FROM tg),
      r2 AS (SELECT grid.b, grid.t, 2 * mn + cnt - 1 AS r2
             FROM grid JOIN mr ON grid.b = mr.b AND grid.v = mr.v),
      pert AS (SELECT t, CAST(count(*) AS BIGINT) AS n_blocks,
                      CAST(SUM(r2) AS BIGINT) AS rr2
               FROM r2 GROUP BY t)"""

  /** Friedman rank test (Friedman 1937) over a complete block design:
    * within each block, rank the k treatments by value (doubled
    * average ranks — the [[kruskalWallis]] tie discipline), then
    *   χ²_F(micros) = (12e6·Σ_j [R2_j² DIV 4]) DIV (b·k·(k+1))
    *                  − 3e6·b·(k+1)
    * where R2_j sums treatment j's doubled ranks over the b blocks.
    * The repeated-measures companion of Kruskal–Wallis: blocks absorb
    * the block-level nuisance (a heavy day lifts ALL event types), so
    * only the within-block ORDERING drives the statistic. Untied-form
    * statistic; within-block ties enter through the exact doubled
    * average ranks (the standard mid-rank treatment).
    *
    * Input: a COMPLETE (block, treatment, value) grid — zero-fill
    * absent cells upstream; missing cells would silently shift every
    * rank in the block. Output: per-treatment rows (treatment,
    * n_blocks, r2) + 'zz_f' (b, χ²_F micros).
    *
    * Scale shape: ranks come from a (block, value) tie-group aggregate
    * plus a window PARTITIONED BY block (k rows per partition — never
    * unpartitioned); the treatment fold is a k-row table. DECIMAL
    * bound: R2 ≤ 2·k·b — squares stay tiny for any feasible design.
    */
  def friedman(grid: DataFrame): DataFrame = {
    val perT = blockRankSums(grid)
    val f = perT.agg(count(lit(1)).as("k"), max(col("n_blocks")).as("nb"),
      sum(expr("(CAST(rr2 AS DECIMAL(38,0)) * rr2) DIV 4")).as("s"))
      .selectExpr("'zz_f' AS t", "nb AS n_blocks",
        """CAST((12000000 * CAST(s AS DECIMAL(38,0)))
                DIV (CAST(nb AS DECIMAL(38,0)) * k * (k + 1))
                - 3000000 * nb * (k + 1) AS BIGINT) AS rr2""")
    perT.selectExpr("t", "n_blocks", "rr2").unionAll(f).orderBy(col("t"))
  }

  /** Pairwise 1-D Wasserstein-1 (earth mover's) distance between
    * per-group distributions of a bucketed integer feature, via the
    * closed form W1 = Σ_support |CDF_a − CDF_b| · width. The
    * METRIC-AWARE companion of q159's JSD: JSD saturates when supports
    * barely overlap, W1 keeps growing with HOW FAR apart the mass
    * sits — the right drift statistic for ordered features (lengths,
    * scores, dates). Exact integers: per-bucket CDFs in ppm by
    * truncating DIV, the |diff| sum scaled by the bucket width.
    *
    * Scale shape: one (group, bucket) aggregate (map-side combined,
    * support is bucket-bounded by construction) → zero-filled
    * group×bucket grid → cumulative sums PARTITIONed BY group (support-
    * sized partitions) → bucket-keyed pair join (per-bucket width g²,
    * group-catalog-bounded) → pair aggregate. Nothing scales with the
    * row count past the first aggregate.
    */
  def wasserstein1Pairs(df: DataFrame, group: String, bucket: Column,
                        width: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = df.select(col(group).as("g"), bucket.cast("long").as("bk"))
      .groupBy(col("g"), col("bk")).agg(count(lit(1)).as("c"))
      .transform(graft.Stage.mat) // feeds the grid AND the totals
    val grid = h.select(col("g")).distinct()
      .crossJoin(broadcast(h.select(col("bk")).distinct()))
      .join(h, Seq("g", "bk"), "left")
      .select(col("g"), col("bk"), coalesce(col("c"), lit(0L)).as("c"))
    val cum = grid.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("bk"))))
      .join(h.groupBy(col("g")).agg(sum(col("c")).as("n")), Seq("g"))
      .selectExpr("g", "bk", "(1000000 * cum) DIV n AS cdf_ppm")
    cum.select(col("bk"), col("g").as("src_a"), col("cdf_ppm").as("ca"))
      .join(cum.select(col("bk"), col("g").as("src_b"), col("cdf_ppm").as("cb")),
        Seq("bk"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(abs(col("ca") - col("cb"))).as("sd"))
      .selectExpr("src_a", "src_b", "n_buckets",
        s"$width * sd AS w1_scaled_ppm")
  }

  /** One-row exact-moment kernel over order totals in whole dollars,
    * shared by q327 (Jarque–Bera) and q331 (Cornish–Fisher): two-pass
    * floor-mean-centered integer power sums S₁..S₄ (exact — |d| ≤ the
    * dollar range keeps Σd⁴ inside DECIMAL(38,0) to sf ≈ 100), then
    * the δ-corrected central moments and standardized g₁/g₂ in ONE
    * mirrored IEEE chain (scalar doubles from integer aggregates,
    * never a double SUM). Columns: n, mu_f, s1, nd, m2, g1, g2.
    * [[dollarMomentsSqlCtes]] is the same chain as DuckDB CTEs ending
    * in `g` — the two are a mirrored pair; edit together.
    */
  private def dollarMoments(s: SparkSession, dir: String): DataFrame = {
    val y = Tables(s, dir).orders
      .selectExpr("CAST(floor(o_totalprice) AS BIGINT) AS y")
    val mu = y.agg(sum(col("y")).as("sy"), count(lit(1)).as("n"))
      .selectExpr("sy DIV n AS mu_f")
    y.crossJoin(broadcast(mu))
      .selectExpr("mu_f", "y - mu_f AS d")
      .agg(count(lit(1)).as("n"), max(col("mu_f")).as("mu_f"),
        sum(col("d")).as("s1"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("s2"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d * d")).as("s3"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d * d * d")).as("s4"))
      .withColumn("nd", expr("CAST(n AS DOUBLE)"))
      .withColumn("m2", expr(
        "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nd) / nd"))
      .withColumn("m3", expr(
        """(CAST(s3 AS DOUBLE) - 3 * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / nd
            + 2 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
              / (nd * nd)) / nd"""))
      .withColumn("m4", expr(
        """(CAST(s4 AS DOUBLE) - 4 * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE) / nd
            + 6 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
              / (nd * nd)
            - 3 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
              * CAST(s1 AS DOUBLE) / (nd * nd * nd)) / nd"""))
      .withColumn("g1", expr(
        "CASE WHEN m2 <= 0 THEN 0.0 ELSE m3 / (m2 * sqrt(m2)) END"))
      .withColumn("g2", expr(
        "CASE WHEN m2 <= 0 THEN 0.0 ELSE m4 / (m2 * m2) - 3 END"))
  }

  /** DuckDB mirror of [[dollarMoments]]; CTE chain ending in `g`. */
  private val dollarMomentsSqlCtes: String = """
      y AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS y FROM orders),
      mu AS (SELECT CAST(SUM(y) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu_f
             FROM y),
      sums AS (SELECT CAST(count(*) AS BIGINT) AS n, MAX(mu_f) AS mu_f,
                      CAST(SUM(y - mu_f) AS BIGINT) AS s1,
                      CAST(SUM(CAST(y - mu_f AS HUGEINT) * (y - mu_f)) AS HUGEINT) AS s2,
                      CAST(SUM(CAST(y - mu_f AS HUGEINT) * (y - mu_f) * (y - mu_f))
                        AS HUGEINT) AS s3,
                      CAST(SUM(CAST(y - mu_f AS HUGEINT) * (y - mu_f) * (y - mu_f)
                        * (y - mu_f)) AS HUGEINT) AS s4
               FROM y CROSS JOIN mu),
      mom AS (SELECT n, mu_f, s1,
                (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nd) / nd AS m2,
                (CAST(s3 AS DOUBLE) - 3 * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / nd
                  + 2 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / (nd * nd)) / nd AS m3,
                (CAST(s4 AS DOUBLE) - 4 * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE) / nd
                  + 6 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                    / (nd * nd)
                  - 3 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / (nd * nd * nd)) / nd AS m4,
                nd
              FROM (SELECT *, CAST(n AS DOUBLE) AS nd FROM sums)),
      g AS (SELECT n, mu_f, s1, nd, m2,
                   CASE WHEN m2 <= 0 THEN 0.0 ELSE m3 / (m2 * sqrt(m2)) END AS g1,
                   CASE WHEN m2 <= 0 THEN 0.0 ELSE m4 / (m2 * m2) - 3 END AS g2
            FROM mom)"""

  /** Per document: its source, token count `x` and character count `y`
    * — the regression input of q140 (OLS) and q146 (Spearman). */
  private[analytics] def tokensVsChars(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents.select(col("source"),
      TextStats.tokenCount(col("text")).cast("long").as("x"),
      col("n_chars").cast("long").as("y"))

  /** DuckDB twin of [[tokensVsChars]]: CTE `f(source, x, y)`. */
  private[analytics] val tokensVsCharsSql: String = s"""f AS (
        SELECT source,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS x,
               CAST(n_chars AS BIGINT) AS y
        FROM documents)"""

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- Simpson's-paradox slope audit: the pooled OLS slope of
    //      discounted price on quantity vs the same slope within each
    //      (returnflag, linestatus) stratum, with a per-stratum flip
    //      flag (sign(stratum slope) ≠ sign(pooled slope)) and a
    //      trailing 'zz~pooled' row. An aggregation-bias screen every
    //      metrics pipeline should run before trusting a corpus-level
    //      trend: confounded strata can reverse the pooled sign
    //      (Simpson 1951). Pure reuse of the olsMicros sufficient-
    //      statistics pass — one aggregate over the fact table per
    //      grouping, exact integers; the oracle replays both
    //      regressions and the flag.
    ("q253_simpsons_audit", (s: SparkSession, dir: String) => {
      val f = Tables(s, dir).lineitem.select(
        concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("g"),
        col("l_quantity").cast("long").as("x"),
        expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
          .as("y"))
      val strata = olsMicros(f, group = "g", x = "x", y = "y")
        .select(col("g"), col("n"), col("slope_micros"))
      val pooled = olsMicros(f.withColumn("g", lit("zz~pooled")),
          group = "g", x = "x", y = "y")
        .select(col("g"), col("n"), col("slope_micros"))
      strata.unionByName(pooled)
        .crossJoin(broadcast(pooled.select(col("slope_micros").as("ps"))))
        .selectExpr("g", "n", "slope_micros",
          """CAST(CASE WHEN g <> 'zz~pooled'
                        AND sign(slope_micros) <> sign(ps)
                       THEN 1 ELSE 0 END AS BIGINT) AS flip""")
        .orderBy(col("g"))
    }, Some("""
      WITH f AS (
        SELECT concat(l_returnflag, '/', l_linestatus) AS g,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS y
        FROM lineitem),
      fp AS (SELECT 'zz~pooled' AS g, x, y FROM f),
      u AS (SELECT * FROM f UNION ALL SELECT * FROM fp),
      sums AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM u GROUP BY g),
      sl AS (
        SELECT g, n,
               CAST(((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000)
                    // greatest(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx, 1)
                 AS BIGINT) AS slope_micros
        FROM sums),
      ps AS (SELECT slope_micros AS ps FROM sl WHERE g = 'zz~pooled')
      SELECT g, n, slope_micros,
             CAST(CASE WHEN g <> 'zz~pooled'
                        AND sign(slope_micros) <> sign(ps)
                       THEN 1 ELSE 0 END AS BIGINT) AS flip
      FROM sl CROSS JOIN ps
      ORDER BY g""")),

    // ---- pairwise W1 between source token-count distributions
    //      (buckets of 20 tokens): the how-far-did-the-mass-move drift
    //      matrix. The oracle replays the histogram, the zero-filled
    //      CDF grid, and every truncating ppm.
    ("q252_wasserstein_pairs", (s: SparkSession, dir: String) => {
      wasserstein1Pairs(
        Tables(s, dir).documents.select(col("source"),
          TextStats.tokenCount(col("text")).cast("long").as("ntok")),
        group = "source", bucket = expr("ntok DIV 20"), width = 20L)
        .orderBy(col("src_a"), col("src_b"))
    }, Some(s"""
      WITH f AS (
        SELECT source AS g,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) // 20 AS bk
        FROM documents),
      h AS (SELECT g, bk, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY g, bk),
      grid AS (
        SELECT gg.g, bb.bk, coalesce(h.c, 0) AS c
        FROM (SELECT DISTINCT g FROM h) gg
        CROSS JOIN (SELECT DISTINCT bk FROM h) bb
        LEFT JOIN h ON h.g = gg.g AND h.bk = bb.bk),
      n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY g),
      cum AS (
        SELECT grid.g, grid.bk,
               (1000000 * SUM(grid.c) OVER (PARTITION BY grid.g ORDER BY grid.bk))
                 // n.n AS cdf_ppm
        FROM grid JOIN n ON grid.g = n.g)
      SELECT a.g AS src_a, b.g AS src_b,
             CAST(count(*) AS BIGINT) AS n_buckets,
             20 * CAST(SUM(abs(a.cdf_ppm - b.cdf_ppm)) AS BIGINT) AS w1_scaled_ppm
      FROM cum a JOIN cum b ON a.bk = b.bk AND a.g < b.g
      GROUP BY a.g, b.g
      ORDER BY src_a, src_b""")),

    // ---- Friedman test: do the five event types keep the same
    //      within-day volume ordering across the month? Blocks = days,
    //      treatments = event types, value = daily count (complete
    //      grid, zero-filled). The oracle replays the mid-rank
    //      arithmetic and the χ²_F fold exactly.
    ("q248_friedman", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .groupBy(expr("CAST(day(ts) AS BIGINT)").as("b"),
          col("event_type").as("t"))
        .agg(count(lit(1)).as("v0"))
      val grid = daily.select(col("b")).distinct()
        .crossJoin(broadcast(daily.select(col("t")).distinct()))
        .join(daily, Seq("b", "t"), "left")
        .select(col("b"), col("t"), coalesce(col("v0"), lit(0L)).as("v"))
      friedman(grid)
    }, Some(s"""
      WITH daily AS (
        SELECT CAST(day(ts) AS BIGINT) AS b, event_type AS t,
               CAST(count(*) AS BIGINT) AS v0
        FROM events GROUP BY 1, 2),
      grid AS (
        SELECT bb.b, tt.t, coalesce(d.v0, 0) AS v
        FROM (SELECT DISTINCT b FROM daily) bb
        CROSS JOIN (SELECT DISTINCT t FROM daily) tt
        LEFT JOIN daily d ON d.b = bb.b AND d.t = tt.t),
      ${blockRankSumsSql},
      f AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(MAX(n_blocks) AS BIGINT) AS nb,
                   SUM((CAST(rr2 AS HUGEINT) * rr2) // 4) AS s
            FROM pert)
      SELECT t, n_blocks, rr2 FROM pert
      UNION ALL
      SELECT 'zz_f', nb,
             CAST((12000000 * CAST(s AS HUGEINT))
                  // (CAST(nb AS HUGEINT) * k * (k + 1))
                  - 3000000 * nb * (k + 1) AS BIGINT)
      FROM f
      ORDER BY t""")),

    // ---- Kruskal–Wallis H: does order value distribution differ across
    //      the 5 order priorities? Scores are exact cents; the oracle
    //      replays the tie-group reduction, every truncating DIV, and
    //      the tie-corrected H. The distribution-free complement of
    //      q240's ANOVA on the same design question.
    ("q239_kruskal_wallis", (s: SparkSession, dir: String) => {
      kruskalWallis(Tables(s, dir).orders,
        score = expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
    }, Some(s"""
      WITH base AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS score
        FROM orders),
      ${scoreMidranksSql},
      perg AS (
        SELECT grp, CAST(SUM(pc) AS BIGINT) AS n_g,
               CAST(SUM(pc * (2 * mn + cnt - 1)) AS BIGINT) AS r2
        FROM pergs JOIN mr USING (score) GROUP BY grp),
      nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tsum
             FROM ties),
      hh AS (SELECT n, tsum,
                    SUM((CAST(r2 AS HUGEINT) * r2) // (4 * n_g)) AS s
             FROM perg CROSS JOIN nt GROUP BY n, tsum),
      h2 AS (
        SELECT n,
               CAST((12000000 * CAST(s AS HUGEINT))
                    // (CAST(n AS HUGEINT) * (n + 1))
                    - 3000000 * (n + 1) AS BIGINT) AS h_micros,
               CAST(1000000 - (1000000 * tsum)
                    // greatest(CAST(n AS HUGEINT) * n * n - n, 1)
                 AS BIGINT) AS c_micros
        FROM hh)
      SELECT grp, n_g, r2, (r2 * 1000000) // n_g AS mean2_micros FROM perg
      UNION ALL
      SELECT 'zz_h', n, h_micros,
             (h_micros * 1000000) // greatest(c_micros, 1)
      FROM h2
      ORDER BY grp""")),

    // ---- Mann–Whitney U: do URGENT orders differ in value from the
    //      rest? The 2-group rank-sum complement of q239's k-group H
    //      (same tie table, same two-phase midrank, same exact-cents
    //      scores); doubled-rank integers end to end, tie-corrected z²
    //      in micros. The oracle replays the midrank reduction, the
    //      doubled U, and the single truncating quotient.
    ("q310_mann_whitney", (s: SparkSession, dir: String) => {
      mannWhitneyU(Tables(s, dir).orders,
        treat = (col("o_orderpriority") === "1-URGENT").cast("long"),
        score = expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
    }, Some(s"""
      WITH base AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS score
        FROM orders),
      ${scoreMidranksSql},
      perg AS (
        SELECT grp, CAST(SUM(pc) AS BIGINT) AS n_g,
               CAST(SUM(pc * (2 * mn + cnt - 1)) AS BIGINT) AS r2x
        FROM pergs JOIN mr USING (score) GROUP BY grp),
      nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tsum
             FROM ties),
      zz AS (
        SELECT n1, n2, n, tsum, r2x1 - n1 * (n1 + 1) AS u2x FROM (
          SELECT CAST(SUM(CASE WHEN grp = 1 THEN n_g ELSE 0 END) AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN grp <> 1 THEN n_g ELSE 0 END) AS BIGINT) AS n2,
                 CAST(SUM(CASE WHEN grp = 1 THEN r2x ELSE 0 END) AS BIGINT) AS r2x1
          FROM perg) CROSS JOIN nt)
      SELECT concat('g', CAST(grp AS VARCHAR)) AS grp, n_g, r2x,
             CAST(0 AS BIGINT) AS z2_micros
      FROM perg
      UNION ALL
      SELECT 'zz_u', n, u2x,
             CAST((CAST(3 AS HUGEINT) * n * (n - 1)
                    * (u2x - n1 * n2) * (u2x - n1 * n2) * 1000000)
                  // GREATEST(CAST(n1 AS HUGEINT) * n2
                    * (CAST(n AS HUGEINT) * (n * n - 1) - tsum), 1) AS BIGINT)
      FROM zz
      ORDER BY grp""")),

    // ---- Burrows' Delta between sources over the top-40 corpus
    //      terms: the stylometric who-writes-alike matrix, exact
    //      integers end to end (ppm frequencies, MAD scaling, micros
    //      z). The oracle replays the grid zero-fill, every truncating
    //      DIV, and the (tc desc, w) top-40 tie-break.
    ("q246_burrows_delta", (s: SparkSession, dir: String) => {
      burrowsDelta(Tables(s, dir).documents)
        .orderBy(col("src_a"), col("src_b"))
    }, Some(s"""
      WITH ${TextStats.sourceTokensSql},
      c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY source, w),
      ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM c GROUP BY source),
      top AS (SELECT w FROM (SELECT w, SUM(c) AS tc FROM c GROUP BY w)
              ORDER BY tc DESC, w LIMIT 40),
      grid AS (
        SELECT ns.source, top.w,
               (1000000 * coalesce(c.c, 0)) // ns.n_s AS f
        FROM ns CROSS JOIN top
        LEFT JOIN c ON c.source = ns.source AND c.w = top.w),
      mu AS (SELECT w, CAST(SUM(f) AS BIGINT) // count(*) AS mu
             FROM grid GROUP BY w),
      dv AS (SELECT grid.source, grid.w, f - mu AS dev
             FROM grid JOIN mu ON grid.w = mu.w),
      md AS (SELECT w, CAST(SUM(abs(dev)) AS BIGINT) // count(*) AS md
             FROM dv GROUP BY w),
      z AS (SELECT dv.source, dv.w, (dev * 1000000) // greatest(md, 1) AS z
            FROM dv JOIN md ON dv.w = md.w)
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(SUM(abs(a.z - b.z)) AS BIGINT) // count(*) AS delta_micros
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
      ORDER BY src_a, src_b""")),

    // ---- one-way ANOVA F: does mean document length differ across
    //      languages? Exact sums-of-squares identity from one
    //      (n, Σx, Σx²) pass; the oracle replays SSB/SSW and the F
    //      micros including every truncation.
    ("q240_anova_f", (s: SparkSession, dir: String) => {
      anovaF(Tables(s, dir).documents, group = "lang",
        x = col("n_chars"))
    }, Some(s"""
      WITH perg AS (
        SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_g,
               CAST(SUM(n_chars) AS BIGINT) AS s_g,
               SUM(CAST(n_chars AS HUGEINT) * n_chars) AS q_g
        FROM documents GROUP BY lang),
      ${anovaFSql}""")),

    // ---- Mood's median test (Mood 1950): the distribution-free
    //      LOCATION complement of q315's spread test — classify every
    //      order as above / at-or-below the GLOBAL median and χ²-test
    //      the 2×k table. Deliberately the blunt-but-assumption-free
    //      member of the family (q239/q310 are more powerful when
    //      shapes match; Mood's survives when they don't). The global
    //      median is the exact doubled rank pair (2·med is an integer;
    //      ties at the median land in the at-or-below cell — the
    //      documented convention, identical on both engines). Per-group
    //      χ² contribution uses the 2×k identity that both cells of a
    //      group share one squared deviation D = O_above·N − n_g·C_above:
    //        chi_g = D²·1e6 DIV (N·n_g·C_above) + D²·1e6 DIV (N·n_g·C_beloweq)
    //      (one truncating DIV per cell, the q294 Cramér's-V
    //      discipline). zz row carries Σ chi_g micros and df = k−1.
    ("q320_mood_median", (s: SparkSession, dir: String) => {
      val base = graft.Stage.mat(Tables(s, dir).orders.selectExpr(
        "o_orderpriority AS grp",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents"))
      val med = graft.analytics.Quantiles.quantilesRaw(
          base.selectExpr("'all' AS g", "cents AS x"), "g", "x", Seq(0.5))
        .selectExpr("CAST(2 * q AS BIGINT) AS med2")
      val per = graft.Stage.mat(base.crossJoin(broadcast(med))
        .selectExpr("grp", "CASE WHEN 2 * cents > med2 THEN 1 ELSE 0 END AS ab")
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("ab")).as("n_above")))
      val tot = per.agg(sum(col("n_g")).as("n"), sum(col("n_above")).as("ca"),
        count(lit(1)).as("k"))
      val chi = per.crossJoin(broadcast(tot))
        .selectExpr("n", "k", "n_g", "ca", "n - ca AS cb",
          "CAST(n_above AS DECIMAL(38,0)) * n - CAST(n_g AS DECIMAL(38,0)) * ca AS d")
        .selectExpr("k",
          """CAST((d * d * 1000000) DIV greatest(CAST(n AS DECIMAL(38,0)) * n_g * ca, 1)
              + (d * d * 1000000) DIV greatest(CAST(n AS DECIMAL(38,0)) * n_g * cb, 1)
              AS BIGINT) AS chi_g""")
        .groupBy(col("k")).agg(sum(col("chi_g")).as("chi2"))
      val zz = chi.crossJoin(broadcast(tot.select(col("n"), col("ca"))))
        .selectExpr("'zz_chi2' AS grp", "n AS n_g", "ca AS n_above",
          "n - ca AS n_beloweq", "(1000000 * ca) DIV n AS above_ppm",
          "chi2 AS chi2_micros", "k - 1 AS df")
      per.crossJoin(broadcast(tot.select(col("n"))))
        .selectExpr("grp", "n_g", "n_above", "n_g - n_above AS n_beloweq",
          "(1000000 * n_above) DIV n_g AS above_ppm",
          "CAST(0 AS BIGINT) AS chi2_micros", "CAST(0 AS BIGINT) AS df")
        .unionByName(zz).orderBy(col("grp"))
    }, Some(s"""
      WITH med AS (
        SELECT CAST(2 * q AS BIGINT) AS med2 FROM (
          ${graft.analytics.Quantiles.rawSql(
            "SELECT 'all' AS g, CAST(floor(o_totalprice * 100) AS BIGINT) AS x FROM orders",
            "(VALUES (0.5)) ps(p)")})),
      per AS (
        SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_g,
               CAST(SUM(CASE WHEN 2 * CAST(floor(o_totalprice * 100) AS BIGINT)
                                  > med2 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        FROM orders CROSS JOIN med GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                     CAST(SUM(n_above) AS BIGINT) AS ca,
                     CAST(count(*) AS BIGINT) AS k FROM per),
      chi AS (
        SELECT MAX(k) AS k, CAST(SUM(
                 (d * d * 1000000) // GREATEST(CAST(n AS HUGEINT) * n_g * ca, 1)
               + (d * d * 1000000) // GREATEST(CAST(n AS HUGEINT) * n_g * (n - ca), 1))
               AS BIGINT) AS chi2
        FROM (SELECT n, k, n_g, ca,
                     CAST(n_above AS HUGEINT) * n - CAST(n_g AS HUGEINT) * ca AS d
              FROM per CROSS JOIN tot))
      SELECT grp, n_g, n_above, n_g - n_above AS n_beloweq,
             (1000000 * n_above) // n_g AS above_ppm,
             CAST(0 AS BIGINT) AS chi2_micros, CAST(0 AS BIGINT) AS df
      FROM per
      UNION ALL
      SELECT 'zz_chi2', n, ca, n - ca, (1000000 * ca) // n, chi2, chi.k - 1
      FROM chi CROSS JOIN tot
      ORDER BY grp""")),

    // ---- G-test (log-likelihood-ratio χ², Sokal & Rohlf's G) on the
    //      priority × status contingency: G = 2·Σ O·ln(O·N/(r·c)) — the
    //      additive-decomposable counterpart of Pearson's χ² (q294's
    //      Cramér's V reads the same table Pearson-style). ln enters
    //      only through integer-argument round9ln (the q292/q197
    //      convention): per cell O·(ln O + ln N − ln r − ln c) in
    //      nanos, so both engines round the same doubles of the same
    //      integers. Per-cell rows carry the expected count in
    //      thousandths; zz carries G nanos and df = (k_r−1)(k_c−1).
    ("q321_g_test", (s: SparkSession, dir: String) => {
      def ln9(x: String) =
        s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000000, 0) AS BIGINT)"
      val per = graft.Stage.mat(Tables(s, dir).orders
        .groupBy(col("o_orderpriority").as("grp"), col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("o")))
      val rows = per.groupBy(col("grp")).agg(sum(col("o")).as("r"))
      val cols = per.groupBy(col("st")).agg(sum(col("o")).as("c"))
      val tot = per.agg(sum(col("o")).as("n"),
        countDistinct(col("grp")).as("kr"), countDistinct(col("st")).as("kc"))
      val cells = graft.Stage.mat(per
        .join(broadcast(rows), Seq("grp")).join(broadcast(cols), Seq("st"))
        .crossJoin(broadcast(tot))
        .selectExpr("grp", "st", "o", "(r * c * 1000) DIV n AS e_milli",
          s"o * (${ln9("o")} + ${ln9("n")} - ${ln9("r")} - ${ln9("c")}) AS gt"))
      val zz = cells.agg(sum(col("gt")).as("sg"))
        .crossJoin(broadcast(tot))
        .selectExpr("'zz_g' AS grp", "'' AS st", "n AS o",
          "(kr - 1) * (kc - 1) AS e_milli", "2 * sg AS g_nanos")
      cells.selectExpr("grp", "st", "o", "e_milli", "CAST(0 AS BIGINT) AS g_nanos")
        .unionByName(zz).orderBy(col("grp"), col("st"))
    }, Some("""
      WITH per AS (
        SELECT o_orderpriority AS grp, o_orderstatus AS st,
               CAST(count(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2),
      r AS (SELECT grp, CAST(SUM(o) AS BIGINT) AS r FROM per GROUP BY grp),
      c AS (SELECT st, CAST(SUM(o) AS BIGINT) AS c FROM per GROUP BY st),
      tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                     CAST(count(DISTINCT grp) AS BIGINT) AS kr,
                     CAST(count(DISTINCT st) AS BIGINT) AS kc FROM per),
      cells AS (
        SELECT grp, st, o, (r.r * c.c * 1000) // n AS e_milli,
               o * (CAST(round(ln(CAST(o AS DOUBLE)) * 1000000000, 0) AS BIGINT)
                  + CAST(round(ln(CAST(n AS DOUBLE)) * 1000000000, 0) AS BIGINT)
                  - CAST(round(ln(CAST(r.r AS DOUBLE)) * 1000000000, 0) AS BIGINT)
                  - CAST(round(ln(CAST(c.c AS DOUBLE)) * 1000000000, 0) AS BIGINT)) AS gt
        FROM per JOIN r USING (grp) JOIN c USING (st) CROSS JOIN tot)
      SELECT grp, st, o, e_milli, CAST(0 AS BIGINT) AS g_nanos FROM cells
      UNION ALL
      SELECT 'zz_g', '', n, (kr - 1) * (kc - 1),
             2 * (SELECT CAST(SUM(gt) AS BIGINT) FROM cells)
      FROM tot
      ORDER BY grp, st""")),

    // ---- Cochran–Armitage trend test (Cochran 1954, Armitage 1955):
    //      does the order-failure rate TREND with priority rank? The
    //      ordered-alternative complement of a plain k-group
    //      homogeneity χ² — a monotone dose-response that χ² dilutes
    //      across k−1 df concentrates into one. Scores = the priority's
    //      leading digit (the column's own encoded rank, not a magic
    //      weight). All-integer form: with N = Σn, K = Σk,
    //        T_N = Σ s_i·(k_i·N − n_i·K)        (N× the centered trend)
    //        z²_micros = 1e6·N·T_N² DIV (K(N−K)·(N·Σn s² − (Σn s)²))
    //      (the N scalings cancel exactly; DECIMAL(38,0) products —
    //      numerator ≲ 1.5e33 at sf0.1, crossing 1e38 near N ≈ 6e6
    //      orders, past which pre-divide T_N by its GCD with N).
    //      Output: per-priority (score, n, k, fail-rate ppm) rows + the
    //      'zz_trend' row carrying the statistic.
    ("q318_cochran_armitage", (s: SparkSession, dir: String) => {
      val per = graft.Stage.mat(Tables(s, dir).orders.selectExpr(
          "o_orderpriority AS grp",
          "CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc",
          "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y")
        .groupBy(col("grp"), col("sc"))
        .agg(count(lit(1)).as("n_g"), sum(col("y")).as("k_g")))
      val tot = per.agg(sum(col("n_g")).as("n"), sum(col("k_g")).as("k"),
        sum(expr("n_g * sc")).as("ns"), sum(expr("n_g * sc * sc")).as("nss"))
      val zz = per.crossJoin(broadcast(tot))
        .agg(sum(expr("sc * (k_g * n - n_g * k)")).as("t"),
          max(col("n")).as("n"), max(col("k")).as("k"),
          max(col("ns")).as("ns"), max(col("nss")).as("nss"))
        .selectExpr("'zz_trend' AS grp", "CAST(0 AS BIGINT) AS sc",
          "n AS n_g", "k AS k_g", "(1000000 * k) DIV n AS rate_ppm",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * n * t * t)
              DIV greatest(CAST(k AS DECIMAL(38,0)) * (n - k)
                * (CAST(n AS DECIMAL(38,0)) * nss - CAST(ns AS DECIMAL(38,0)) * ns), 1)
              AS BIGINT) AS z2_micros""")
      per.selectExpr("grp", "sc", "n_g", "k_g",
          "(1000000 * k_g) DIV n_g AS rate_ppm", "CAST(0 AS BIGINT) AS z2_micros")
        .unionByName(zz).orderBy(col("grp"))
    }, Some("""
      WITH per AS (
        SELECT o_orderpriority AS grp,
               CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k_g
        FROM orders GROUP BY 1, 2),
      tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(k_g) AS BIGINT) AS k,
                     CAST(SUM(n_g * sc) AS BIGINT) AS ns,
                     CAST(SUM(n_g * sc * sc) AS BIGINT) AS nss
              FROM per),
      zz AS (SELECT CAST(SUM(sc * (k_g * n - n_g * k)) AS BIGINT) AS t,
                    MAX(n) AS n, MAX(k) AS k, MAX(ns) AS ns, MAX(nss) AS nss
             FROM per CROSS JOIN tot)
      SELECT grp, sc, n_g, k_g, (1000000 * k_g) // n_g AS rate_ppm,
             CAST(0 AS BIGINT) AS z2_micros
      FROM per
      UNION ALL
      SELECT 'zz_trend', CAST(0 AS BIGINT), n, k, (1000000 * k) // n,
             CAST((CAST(1000000 AS HUGEINT) * n * t * t)
                  // GREATEST(CAST(k AS HUGEINT) * (n - k)
                    * (CAST(n AS HUGEINT) * nss - CAST(ns AS HUGEINT) * ns), 1)
               AS BIGINT)
      FROM zz
      ORDER BY grp""")),

    // ---- Brown–Forsythe variance-homogeneity test (Brown & Forsythe
    //      1974; Levene's test with MEDIAN centers — robust to the
    //      heavy-tailed order values that shred the mean-centered
    //      form): do the five priorities differ in order-value SPREAD,
    //      not location? The missing precondition check for q240's
    //      ANOVA (which assumes homoscedasticity). Statistic = the
    //      one-way F on z = |x − med_g| — computed by the SAME anovaF
    //      arithmetic as q240, over 2×-scaled deviations
    //      z2 = |2x − med2_g| so the group median (a .5 when n_g is
    //      even) never introduces a fraction: med2 = vlo + vhi from the
    //      exact rank pair is an integer, and the uniform 2× scale
    //      cancels in F. Medians via Quantiles' two-phase rank
    //      selection (never a per-group sort); the oracle replays the
    //      rank selection (rawSql) and the F fold term for term.
    ("q315_brown_forsythe", (s: SparkSession, dir: String) => {
      val base = graft.Stage.mat(Tables(s, dir).orders.selectExpr(
        "o_orderpriority AS grp",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents"))
      val med = graft.analytics.Quantiles.quantilesRaw(
          base.select(col("grp").as("g"), col("cents").as("x")), "g", "x", Seq(0.5))
        .selectExpr("g AS grp", "CAST(2 * q AS BIGINT) AS med2")
      // kilodollar-floored deviations (the q307 scale discipline):
      // anovaF's DIV-based sums-of-squares are Long, and cent-scale
      // z2 ~ 1e8 pushes s_g^2*1e6/n_g past 2^63; the uniform floor is
      // replayed by the oracle before the F
      val z = base.join(broadcast(med), Seq("grp"))
        .selectExpr("grp", "abs(2 * cents - med2) DIV 100000 AS z2")
      anovaF(z, group = "grp", x = col("z2"))
    }, Some(s"""
      WITH med AS (
        SELECT g AS grp, CAST(2 * q AS BIGINT) AS med2 FROM (
          ${graft.analytics.Quantiles.rawSql(
            "SELECT o_orderpriority AS g, CAST(floor(o_totalprice * 100) AS BIGINT) AS x FROM orders",
            "(VALUES (0.5)) ps(p)")})),
      z AS (
        SELECT o_orderpriority AS grp,
               abs(2 * CAST(floor(o_totalprice * 100) AS BIGINT) - med2) // 100000 AS z2
        FROM orders JOIN med ON o_orderpriority = med.grp),
      perg AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
               CAST(SUM(z2) AS BIGINT) AS s_g,
               SUM(CAST(z2 AS HUGEINT) * z2) AS q_g
        FROM z GROUP BY grp),
      ${anovaFSql}""")),

    // ---- per-source OLS of n_chars on token count: the linearity
    //      audit of the cheapest two length signals (a source whose
    //      slope or r² drifts from the corpus norm has structurally
    //      different tokenization — code, tables, CJK). Five sufficient
    //      statistics in one aggregate pass; the oracle replays the
    //      normal-equation integer arithmetic term for term.
    ("q140_ols_chars_tokens", (s: SparkSession, dir: String) => {
      olsMicros(
        tokensVsChars(s, dir),
        group = "source", x = "x", y = "y")
        .orderBy(col("source"))
    }, Some(s"""
      WITH $tokensVsCharsSql,
      sums AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM f GROUP BY source),
      t AS (
        SELECT source, n, sx, sy,
               CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
               CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
               CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
        FROM sums),
      sl AS (
        SELECT source, n, num, denx, deny, sx, sy,
               CAST((num * 1000000) // greatest(denx, 1) AS BIGINT) AS slope_micros
        FROM t)
      SELECT source, n, slope_micros,
             CAST((CAST(sy AS HUGEINT) * 1000000
                   - CAST(slope_micros AS HUGEINT) * sx)
                  // greatest(n, 1) AS BIGINT) AS intercept_micros,
             CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END AS BIGINT) AS r_sign,
             CAST((num * num * 1000000) // greatest(denx * deny, 1) AS BIGINT) AS r2_micros
      FROM sl ORDER BY source""")),

    // ---- chi-squared over-represented terms per language: top-10
    //      document-presence terms by the 2×2 chi² score (df >= 10).
    //      The distinctive-vocabulary screen for language splits — the
    //      supervised complement of q107's unsupervised log-odds. The
    //      oracle replays the contingency construction and the integer
    //      chi² exactly, including the (chi2 desc, term) tie-break.
    ("q141_chi2_terms", (s: SparkSession, dir: String) => {
      chi2Terms(Tables(s, dir).documents, minDf = 10, topK = 10)
        .withColumnRenamed("cls", "lang")
        .orderBy(col("lang"), col("rnk"))
    }, Some(s"""
      WITH dt AS (
        SELECT lang AS cls,
               unnest(list_distinct(list_filter(
                 regexp_split_to_array(lower(text), '$ws+'), x -> x <> ''))) AS w
        FROM documents),
      bycls AS (SELECT cls, w, CAST(count(*) AS BIGINT) AS a FROM dt GROUP BY cls, w),
      byw AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY w
              HAVING count(*) >= 10),
      ncls AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_cls
               FROM documents GROUP BY lang),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      sc AS (
        SELECT b.cls, b.w, b.a, byw.df,
               CAST((CAST(t.n AS HUGEINT)
                     * (CAST(b.a AS HUGEINT) * (t.n - nc.n_cls - byw.df + b.a)
                        - CAST(nc.n_cls - b.a AS HUGEINT) * (byw.df - b.a))
                     * (CAST(b.a AS HUGEINT) * (t.n - nc.n_cls - byw.df + b.a)
                        - CAST(nc.n_cls - b.a AS HUGEINT) * (byw.df - b.a))
                     * 1000000)
                    // greatest(CAST(nc.n_cls AS HUGEINT) * (t.n - nc.n_cls)
                               * byw.df * (t.n - byw.df), 1) AS BIGINT) AS chi2_micros
        FROM bycls b JOIN byw USING (w) JOIN ncls nc USING (cls) CROSS JOIN tot t),
      r AS (
        SELECT cls AS lang, w, a, df, chi2_micros,
               CAST(row_number() OVER (PARTITION BY cls
                      ORDER BY chi2_micros DESC, w) AS BIGINT) AS rnk
        FROM sc)
      SELECT lang, w, a, df, chi2_micros, rnk FROM r WHERE rnk <= 10
      ORDER BY lang, rnk""")),

    // ---- per-source token-count moment profile: mean/m2/m3/m4 in
    //      micros plus skew sign, skew² micros and Pearson kurtosis
    //      micros, all exact integers (two-pass centered sums — the
    //      flooring certificate sum_dev rides along). The oracle
    //      replays both passes including every floor.
    ("q143_length_moments", (s: SparkSession, dir: String) => {
      momentsMicros(
        Tables(s, dir).documents.select(col("source"),
          TextStats.tokenCount(col("text")).cast("long").as("x")),
        group = "source")
        .orderBy(col("source"))
    }, Some(s"""
      WITH f AS (
        SELECT source, CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS x
        FROM documents),
      mn AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               (1000000 * SUM(x)) // count(*) AS mean_micros
        FROM f GROUP BY source),
      dv AS (
        SELECT f.source, mn.n, mn.mean_micros, f.x * 1000000 - mn.mean_micros AS dev
        FROM f JOIN mn ON f.source = mn.source),
      agg AS (
        SELECT source, n, mean_micros,
               SUM(dev) AS sum_dev, SUM(dev * dev) AS s2,
               SUM(CAST(dev AS HUGEINT) * dev * dev) AS s3,
               SUM(CAST(dev AS HUGEINT) * dev * dev * dev) AS s4
        FROM dv GROUP BY source, n, mean_micros),
      m AS (
        SELECT source, n, mean_micros, CAST(sum_dev AS BIGINT) AS sum_dev,
               CAST(s2 // (n * 1000000) AS BIGINT) AS m2_micros,
               CAST(s3 // (CAST(n AS HUGEINT) * 1000000000000) AS BIGINT) AS m3_micros,
               CAST(s4 // (CAST(n AS HUGEINT) * 1000000000000000000) AS BIGINT) AS m4_micros
        FROM agg)
      SELECT source, n, CAST(mean_micros AS BIGINT) AS mean_micros, sum_dev,
             m2_micros, m3_micros, m4_micros,
             CAST(CASE WHEN m3_micros < 0 THEN -1 WHEN m3_micros > 0 THEN 1 ELSE 0 END
                  AS BIGINT) AS skew_sign,
             CAST((CAST(m3_micros AS HUGEINT) * m3_micros * 1000000)
                  // greatest(CAST(m2_micros AS HUGEINT) * m2_micros * m2_micros, 1)
                  AS BIGINT) AS skew2_micros,
             CAST((CAST(m4_micros AS HUGEINT) * 1000000000000)
                  // greatest(CAST(m2_micros AS HUGEINT) * m2_micros, 1)
                  AS BIGINT) AS kurt_micros
      FROM m ORDER BY source""")),

    // ---- pairwise source JSD matrix (canonical a<b): the oracle
    //      replays the tokenize, the intersection self-join, every
    //      round-9 term, the DECIMAL sum, and the exclusive-tail
    //      ln2 closed form.
    ("q159_source_jsd", (s: SparkSession, dir: String) => {
      sourceJsdPairs(Tables(s, dir).documents)
        .orderBy(col("src_a"), col("src_b"))
    }, Some(s"""
      WITH ${TextStats.sourceTokensSql},
      bysrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      srctot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      bw AS (SELECT b.source, b.w, b.c, t.n FROM bysrc b JOIN srctot t USING (source)),
      pr AS (
        SELECT a.source AS src_a, b.source AS src_b, a.w,
               a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
        FROM bw a JOIN bw b ON a.w = b.w AND a.source < b.source),
      terms AS (
        SELECT src_a, src_b, ca, na, cb, nb,
               $jsdTermSql
        FROM pr),
      agg AS (
        SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared,
               SUM(CAST(term AS DECIMAL(30,9))) AS s,
               SUM(ca) AS sa_num, MIN(na) AS na,
               SUM(cb) AS sb_num, MIN(nb) AS nb
        FROM terms GROUP BY src_a, src_b)
      SELECT src_a, src_b, n_shared,
             round(0.5 * CAST(s AS DOUBLE)
                   + 0.5 * ln(2.0)
                     * ((1.0 - CAST(sa_num AS DOUBLE) / CAST(na AS DOUBLE))
                        + (1.0 - CAST(sb_num AS DOUBLE) / CAST(nb AS DOUBLE))),
                   6) AS jsd_r
      FROM agg ORDER BY src_a, src_b""")),

    // ---- CUPED experiment readout (Deng et al., WSDM 2013): per-user
    //      post-period purchase spend adjusted by the pre-period
    //      covariate, y_adj = y − θ·(x − x̄), with θ the pooled OLS
    //      slope of y on x. The variance-reduced A/B readout every
    //      experimentation platform runs — here over a deterministic
    //      arm split (user_id mod 2) so both engines replay the same
    //      assignment. Exact-integer discipline throughout: per-user
    //      x/y are sums of floor(value·1e6) addends; θ is the q140
    //      normal-equation slope in micros (DECIMAL(38,0) cross terms,
    //      truncating DIV); the adjustment re-scales through one more
    //      DECIMAL product; per-arm means truncate; the variance ratio
    //      ships as var_adj·1e6 DIV var_y on the n·Σv²−(Σv)² integer
    //      identity. zz row (arm 999) pins θ and x̄ so the oracle
    //      certifies the coefficients, not just the readout.
    //
    //      Scale shape: one user-keyed aggregate (map-side combined),
    //      one 5-number pooled-stats broadcast, one arm-keyed
    //      aggregate — two shuffles total, no per-user state beyond
    //      the row. DECIMAL(38,0) exhausts near |Σxy|·1e6 ≈ 1e38:
    //      micros-valued spend sums support ~1e9 users at ~1e9-micros
    //      x·y cross terms before the bound matters (document, don't
    //      guard: ANSI overflow errors loudly rather than corrupting).
    ("q167_cuped", (s: SparkSession, dir: String) => {
      val per = Tables(s, dir).events
        .filter(col("user_id").isNotNull && col("event_type") === "purchase" &&
          col("value").isNotNull)
        .selectExpr("user_id", "day(ts) <= 15 AS pre",
          "CAST(floor(value * 1000000) AS BIGINT) AS vm")
        .groupBy(col("user_id"))
        .agg(sum(when(col("pre"), col("vm")).otherwise(lit(0L))).as("x"),
          sum(when(!col("pre"), col("vm")).otherwise(lit(0L))).as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2)).cast("long"))
        .transform(graft.Stage.mat) // feeds the pooled stats AND the adjust join
      val pooled = per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .selectExpr("n", "sx",
          """CAST((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
                  DIV greatest(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx,
                               CAST(1 AS DECIMAL(38,0)))
              AS BIGINT) AS theta_micros""",
          "sx DIV n AS xbar")
      val adj = per.crossJoin(broadcast(pooled))
        .selectExpr("arm", "y",
          """y - CAST(CAST(theta_micros AS DECIMAL(38,0)) * (x - xbar)
                      DIV 1000000 AS BIGINT) AS y_adj""")
      val arms = adj.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"), sum(col("y")).as("ty"),
          sum(col("y_adj")).as("ta"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
          sum(expr("CAST(y_adj AS DECIMAL(38,0)) * y_adj")).as("saa"))
        .selectExpr("arm", "n_users",
          "ty DIV n_users AS mean_y_micros",
          "ta DIV n_users AS mean_adj_micros",
          """CAST((CAST(n_users AS DECIMAL(38,0)) * saa - CAST(ta AS DECIMAL(38,0)) * ta) * 1000000
                  DIV greatest(CAST(n_users AS DECIMAL(38,0)) * syy - CAST(ty AS DECIMAL(38,0)) * ty,
                               CAST(1 AS DECIMAL(38,0)))
              AS BIGINT) AS varratio_micros""")
      val zz = pooled.selectExpr("CAST(999 AS BIGINT) AS arm", "n AS n_users",
        "theta_micros AS mean_y_micros", "xbar AS mean_adj_micros",
        "CAST(0 AS BIGINT) AS varratio_micros")
      arms.unionAll(zz).orderBy(col("arm"))
    }, Some("""
      WITH per AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN day(ts) <= 15
                             THEN CAST(floor(value * 1000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN day(ts) > 15
                             THEN CAST(floor(value * 1000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y,
               CAST(user_id % 2 AS BIGINT) AS arm
        FROM events
        WHERE user_id IS NOT NULL AND event_type = 'purchase'
          AND value IS NOT NULL
        GROUP BY user_id),
      pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM per),
      coef AS (
        SELECT n, sx,
               CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
                    // greatest(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx,
                               CAST(1 AS HUGEINT))
                 AS BIGINT) AS theta_micros,
               sx // n AS xbar
        FROM pooled),
      adj AS (
        SELECT arm, y,
               y - CAST(CAST(theta_micros AS HUGEINT) * (x - xbar)
                        // 1000000 AS BIGINT) AS y_adj
        FROM per CROSS JOIN coef),
      arms AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
               CAST(SUM(y) AS BIGINT) AS ty, CAST(SUM(y_adj) AS BIGINT) AS ta,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(y_adj AS HUGEINT) * y_adj) AS saa
        FROM adj GROUP BY arm)
      SELECT arm, n_users,
             ty // n_users AS mean_y_micros,
             ta // n_users AS mean_adj_micros,
             CAST((CAST(n_users AS HUGEINT) * saa - CAST(ta AS HUGEINT) * ta) * 1000000
                  // greatest(CAST(n_users AS HUGEINT) * syy - CAST(ty AS HUGEINT) * ty,
                             CAST(1 AS HUGEINT))
               AS BIGINT) AS varratio_micros
      FROM arms
      UNION ALL
      SELECT CAST(999 AS BIGINT), n, theta_micros, xbar, CAST(0 AS BIGINT)
      FROM coef
      ORDER BY arm""")),

    // ---- information-gain feature ranking (Quinlan 1986; Yang &
    //      Pedersen 1997 for text): IG(f) = H(lang) − H(lang|f) for
    //      two candidate routing features (has-digit, long-doc) against
    //      the language label — the decision-stump score that says
    //      which cheap predicate is worth a routing split. Entropy
    //      terms follow the q103/q159 float discipline: every term is
    //      computed from exact integer counts with one ln and one
    //      round(·, 9) — bit-identical IEEE in both engines — then
    //      summed as DECIMAL(30,9) (order-free), final round(·, 6).
    //      H(lang|f) is taken directly from the joint counts,
    //      −Σ_{v,l} (c/n)·ln(c/n_v), avoiding any nested float product.
    //
    //      Scale shape: one stack projection + one (feature, v, lang)
    //      aggregate; everything downstream runs on the
    //      |features|·2·|langs| count table — constant-size at any
    //      corpus scale.
    ("q179_infogain", (s: SparkSession, dir: String) => {
      val joint = Tables(s, dir).documents
        .selectExpr("lang",
          "CASE WHEN text RLIKE '[0-9]' THEN 1 ELSE 0 END AS fd",
          "CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS fl")
        .selectExpr("lang",
          "stack(2, 'has_digit', fd, 'long_doc', fl) AS (feature, v)")
        .groupBy(col("feature"), col("v"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val nv = joint.groupBy(col("feature"), col("v"))
        .agg(sum(col("c")).as("n_v"))
      val n = joint.groupBy(col("feature")).agg(sum(col("c")).as("n"))
      val cond = joint.join(nv, Seq("feature", "v")).join(n, Seq("feature"))
        .selectExpr("feature",
          """round(-(CAST(c AS DOUBLE) / n)
                   * ln(CAST(c AS DOUBLE) / n_v), 9) AS term""")
        .groupBy(col("feature"))
        .agg(sum(col("term").cast("decimal(30,9)")).as("h_cond"))
      val prior = joint.groupBy(col("feature"), col("lang"))
        .agg(sum(col("c")).as("cl"))
        .join(n, Seq("feature"))
        .selectExpr("feature",
          """round(-(CAST(cl AS DOUBLE) / n)
                   * ln(CAST(cl AS DOUBLE) / n), 9) AS term""")
        .groupBy(col("feature"))
        .agg(sum(col("term").cast("decimal(30,9)")).as("h_prior"))
      val ptrue = nv.filter(col("v") === 1)
        .join(n, Seq("feature"))
        .selectExpr("feature", "(n_v * 1000000) DIV n AS p_true_ppm")
      prior.join(cond, Seq("feature")).join(n, Seq("feature"))
        .join(ptrue, Seq("feature"), "left")
        .selectExpr("feature", "n AS n_docs",
          "coalesce(p_true_ppm, 0L) AS p_true_ppm",
          "round(CAST(h_prior - h_cond AS DOUBLE), 6) AS ig_r")
        .orderBy(col("feature"))
    }, Some("""
      WITH f AS (
        SELECT lang,
               CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END AS fd,
               CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS fl
        FROM documents),
      unp AS (
        SELECT lang, 'has_digit' AS feature, fd AS v FROM f
        UNION ALL SELECT lang, 'long_doc', fl FROM f),
      joint AS (
        SELECT feature, v, lang, CAST(count(*) AS BIGINT) AS c
        FROM unp GROUP BY feature, v, lang),
      nv AS (SELECT feature, v, CAST(SUM(c) AS BIGINT) AS n_v
             FROM joint GROUP BY feature, v),
      n AS (SELECT feature, CAST(SUM(c) AS BIGINT) AS n
            FROM joint GROUP BY feature),
      cond AS (
        SELECT j.feature,
               SUM(CAST(round(-(CAST(c AS DOUBLE) / n.n)
                              * ln(CAST(c AS DOUBLE) / nv.n_v), 9)
                   AS DECIMAL(30,9))) AS h_cond
        FROM joint j JOIN nv ON j.feature = nv.feature AND j.v = nv.v
        JOIN n ON j.feature = n.feature
        GROUP BY j.feature),
      prior AS (
        SELECT p.feature,
               SUM(CAST(round(-(CAST(cl AS DOUBLE) / n.n)
                              * ln(CAST(cl AS DOUBLE) / n.n), 9)
                   AS DECIMAL(30,9))) AS h_prior
        FROM (SELECT feature, lang, CAST(SUM(c) AS BIGINT) AS cl
              FROM joint GROUP BY feature, lang) p
        JOIN n ON p.feature = n.feature
        GROUP BY p.feature),
      ptrue AS (
        SELECT nv.feature, CAST((n_v * 1000000) // n AS BIGINT) AS p_true_ppm
        FROM nv JOIN n ON nv.feature = n.feature WHERE v = 1)
      SELECT prior.feature AS feature, n.n AS n_docs,
             COALESCE(ptrue.p_true_ppm, 0) AS p_true_ppm,
             round(CAST(h_prior - h_cond AS DOUBLE), 6) AS ig_r
      FROM prior JOIN cond ON prior.feature = cond.feature
      JOIN n ON prior.feature = n.feature
      LEFT JOIN ptrue ON prior.feature = ptrue.feature
      ORDER BY feature""")),

    // ---- delete-one-group jackknife (Quenouille/Tukey; the
    //      grouped-data variance estimator production A/B systems use
    //      when rows within a source are correlated): for each source,
    //      the corpus mean doc length recomputed WITHOUT that source —
    //      from totals minus group sums, one pass, the q181 trick —
    //      plus the jackknife variance
    //      SE² = (g−1)/g · Σ (θ̂₍ᵢ₎ − θ̄)² over the g leave-one-out
    //      estimates. No RNG (the bootstrap alternative needs one),
    //      exact integers end to end: θ values in micros, squared
    //      deviations in DECIMAL(38,0) micros², truncating DIVs.
    //      A source whose θ̂₍ᵢ₎ sits far from θ̄ is single-handedly
    //      dragging the corpus statistic — the influence audit.
    //
    //      Scale shape: one doc-level aggregate to the per-source sums
    //      (map-side combined), everything after on the g-row table.
    ("q185_jackknife", (s: SparkSession, dir: String) => {
      val per = Tables(s, dir).documents
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_i"), sum(col("n_chars")).as("s_i"))
      val tot = per.agg(sum(col("n_i")).as("n"), sum(col("s_i")).as("s"),
        count(lit(1)).as("g"))
      val loo = per.crossJoin(broadcast(tot))
        .selectExpr("source", "n_i", "g", "n", "s",
          "((s - s_i) * 1000000) DIV greatest(n - n_i, 1) AS theta_loo_micros")
        .transform(graft.Stage.mat) // feeds the mean AND the deviation pass
      val jm = loo.agg(sum(col("theta_loo_micros")).as("st"),
        max(col("g")).as("g"))
        .selectExpr("st DIV g AS theta_bar")
      val rows = loo.select(col("source"), col("n_i"), col("theta_loo_micros"))
      val zz = loo
        .agg(max(col("n")).as("n"), max(col("s")).as("s"))
        .selectExpr(
          "'zz_theta' AS source", "n AS n_i", "(s * 1000000) DIV n AS theta_loo_micros")
      val zz2 = loo.crossJoin(broadcast(jm))
        .agg(max(col("g")).as("g"),
          sum(expr("""CAST(theta_loo_micros - theta_bar AS DECIMAL(38,0))
                      * (theta_loo_micros - theta_bar)""")).as("ssq"))
        .selectExpr("'zz_se2' AS source", "g AS n_i",
          "CAST(((g - 1) * ssq) DIV (CAST(g AS DECIMAL(38,0)) * g) AS BIGINT) AS theta_loo_micros")
      rows.unionAll(zz).unionAll(zz2).orderBy(col("source"))
    }, Some("""
      WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_i,
               CAST(SUM(n_chars) AS BIGINT) AS s_i
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(s_i) AS BIGINT) AS s,
                     CAST(count(*) AS BIGINT) AS g FROM per),
      loo AS (
        SELECT source, n_i, g, n, s,
               ((s - s_i) * 1000000) // greatest(n - n_i, 1) AS theta_loo_micros
        FROM per CROSS JOIN tot),
      jm AS (SELECT CAST(SUM(theta_loo_micros) AS BIGINT) // MAX(g) AS theta_bar
             FROM loo)
      SELECT source, n_i, CAST(theta_loo_micros AS BIGINT) AS theta_loo_micros
      FROM loo
      UNION ALL
      SELECT 'zz_theta', MAX(n), CAST((MAX(s) * 1000000) // MAX(n) AS BIGINT)
      FROM loo
      UNION ALL
      SELECT 'zz_se2', MAX(g),
             CAST(((MAX(g) - 1)
                   * SUM(CAST(theta_loo_micros - theta_bar AS HUGEINT)
                         * (theta_loo_micros - theta_bar)))
                  // (CAST(MAX(g) AS HUGEINT) * MAX(g)) AS BIGINT)
      FROM loo CROSS JOIN jm
      ORDER BY source""")),

    // ---- deterministic Poisson-bootstrap 90% CI for the mean order
    //      total: 40 hash-seeded resamples + full mean + the rank-2 /
    //      rank-39 order-statistic endpoints. The oracle replays every
    //      hash multiplicity, each resample's truncating mean, and the
    //      rank selection.
    ("q213_bootstrap_ci", (s: SparkSession, dir: String) => {
      bootstrapCI(Tables(s, dir).orders, keyCol = "o_orderkey",
        valueMicros = expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)"))
    }, Some {
      s"""
      WITH base AS (
        SELECT CAST(floor(o_totalprice * 1000000) AS BIGINT) AS x,
               ${TextStats.portableHash64Sql(
          "concat('boot:', CAST(o_orderkey AS VARCHAR))")} % 2147483647 AS h
        FROM orders),
      rep AS (
        SELECT h, x, rb, ((h * (2 * rb + 1)) % 2147483647) % 1000000 AS u
        FROM base CROSS JOIN (SELECT unnest(range(0, 40)) AS rb)),
      m AS (
        SELECT rb, x,
               CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
                    WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
                    WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
                    ELSE 6 END AS mm
        FROM rep),
      means AS (
        SELECT CAST(rb AS BIGINT) AS b, CAST(SUM(mm) AS BIGINT) AS n_eff,
               CAST(SUM(mm * x) // greatest(SUM(mm), 1) AS BIGINT) AS mean_micros
        FROM m GROUP BY rb),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY mean_micros, b) AS rk FROM means),
      full_m AS (
        SELECT CAST(-1 AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS n_eff,
               CAST(SUM(x) // greatest(count(*), 1) AS BIGINT) AS mean_micros
        FROM base)
      SELECT b, n_eff, mean_micros FROM means
      UNION ALL SELECT b, n_eff, mean_micros FROM full_m
      UNION ALL SELECT CAST(-2 AS BIGINT), n_eff, mean_micros FROM ranked WHERE rk = 2
      UNION ALL SELECT CAST(-3 AS BIGINT), n_eff, mean_micros FROM ranked WHERE rk = 39
      ORDER BY b"""
    }),

    // ---- paired sign-flip permutation test (Fisher 1935's randomization
    //      test in its exchangeable-pairs form), A/A-calibrated: users
    //      hash-split into two cohorts, d_i = cohort-volume difference on
    //      day i, observed statistic S = Σd_i, and B=200 deterministic
    //      sign assignments s_{i,b} = 1−2·((h_i·(2b+1)) mod p mod 2) from
    //      ONE portable day hash (the q213 multiplicative-congruential
    //      expansion over p = 2³¹−1). p-value = (1 + #{b: |S_b| ≥ |S|})
    //      / (B+1) — the standard add-one convention, an exact rational
    //      the oracle replays bit-for-bit. Under the A/A split the test
    //      is its own calibration: p should land well away from 0.
    //
    //      Scale shape: one map-side-combined day aggregate builds the
    //      (day, d) table (time-span-bounded); the B-fold explode is
    //      bounded-input row expansion feeding ONE B-group aggregate.
    //      Nothing fact-scaled ever sorts or windows.
    ("q264_signflip_permutation", (s: SparkSession, dir: String) => {
      val dayDiffs = Tables(s, dir).events
        .select(
          expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("od"),
          (lit(1L) - lit(2L) * (TextStats.portableHash64(
            concat(lit("pt:"), col("user_id").cast("string"))) % 2L)).as("w"))
        .groupBy(col("od")).agg(sum(col("w")).as("d"))
        .withColumn("grp", lit("all"))
      signFlipPermutation(dayDiffs).orderBy(col("grp"))
    }, Some(s"""
      WITH dd AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(SUM(1 - 2 * ($signFlipUserHSql % 2)) AS BIGINT) AS d,
               'all' AS grp
        FROM events GROUP BY od),
      ${signFlipCountsSql}
      SELECT o.grp, n_days, s_obs, n_perms, n_ge,
             ((1 + n_ge) * 1000000) // (n_perms + 1) AS p_ppm
      FROM obs o JOIN cnt c ON o.grp = c.grp
      ORDER BY o.grp""")),

    // ---- Benjamini-Hochberg FDR battery (Benjamini & Hochberg 1995):
    //      one q264 sign-flip A/A test PER EVENT TYPE (independent day
    //      hashes per group), then the BH step-up at q* = 0.05 over the
    //      m per-type p-values. The step-up comparison runs on the EXACT
    //      rational — (1+n_ge)·20·m ≤ rank·(B+1) ⟺ p ≤ rank·0.05/m —
    //      never on the floored ppm display value, so the reject set is
    //      bit-deterministic. Under A/A all m nulls are true, so the
    //      expected reject count is ≤ q*·m — the battery certifies its
    //      own false-discovery control.
    //
    //      Scale shape: everything per-type day-grain as in q264; the BH
    //      rank window runs over the m-row p-value table (event-type
    //      domain — catalog-sized, PlanSpec allowlist).
    ("q265_fdr_bh", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val dayDiffs = Tables(s, dir).events
        .select(col("event_type").as("grp"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("od"),
          (lit(1L) - lit(2L) * (TextStats.portableHash64(
            concat(lit("pt:"), col("user_id").cast("string"))) % 2L)).as("w"))
        .groupBy(col("grp"), col("od")).agg(sum(col("w")).as("d"))
      val res = graft.Stage.mat(signFlipPermutation(dayDiffs))
      val m = res.agg(count(lit(1)).as("m"))
      val ranked = res.crossJoin(broadcast(m))
        .withColumn("bh_rank", row_number().over(
          Window.orderBy(col("n_ge"), col("grp"))).cast("long"))
      val rmax = ranked.agg(max(when(
        (lit(1L) + col("n_ge")) * 20L * col("m") <=
          col("bh_rank") * (col("n_perms") + 1L), col("bh_rank"))).as("r_max"))
      ranked.crossJoin(broadcast(rmax))
        .selectExpr("grp", "n_days", "s_obs", "n_ge", "p_ppm", "m", "bh_rank",
          """CAST(CASE WHEN r_max IS NOT NULL AND bh_rank <= r_max
                  THEN 1 ELSE 0 END AS BIGINT) AS rejected""")
        .orderBy(col("grp"))
    }, Some(s"""
      WITH dd AS (
        SELECT event_type AS grp,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
               CAST(SUM(1 - 2 * ($signFlipUserHSql % 2)) AS BIGINT) AS d
        FROM events GROUP BY grp, od),
      ${signFlipCountsSql},
      pv AS (
        SELECT o.grp, n_days, s_obs, n_ge, n_perms,
               ((1 + n_ge) * 1000000) // (n_perms + 1) AS p_ppm
        FROM obs o JOIN cnt c ON o.grp = c.grp),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
      ranked AS (
        SELECT pv.*, m,
               CAST(row_number() OVER (ORDER BY n_ge, grp) AS BIGINT) AS bh_rank
        FROM pv CROSS JOIN mm),
      rmax AS (
        SELECT MAX(CASE WHEN (1 + n_ge) * 20 * m <= bh_rank * (n_perms + 1)
                   THEN bh_rank END) AS r_max
        FROM ranked)
      SELECT grp, n_days, s_obs, n_ge, p_ppm, m, bh_rank,
             CAST(CASE WHEN r_max IS NOT NULL AND bh_rank <= r_max
                  THEN 1 ELSE 0 END AS BIGINT) AS rejected
      FROM ranked CROSS JOIN rmax
      ORDER BY grp""")),

    // ---- r×c chi-square independence + Cramér's V (Cramér 1946): is
    //      language independent of source? The general contingency
    //      companion to q247's 2×2 McNemar and q237's stratified CMH.
    //      Exact per-cell arithmetic via the n-scaling identity:
    //      (O − E)²/E with E = r_i·c_j/n becomes
    //      (n·n_ij − r_i·c_j)²·1e6 DIV (n·r_i·c_j) — and EMPTY cells
    //      participate (the margin cross join materializes the full
    //      r×c grid; a groupBy over observed cells alone would
    //      silently drop their E-mass). V² = χ²/(n·min(r−1, c−1))
    //      in micros — squared per the house no-sqrt convention.
    //      DECIMAL(38,0): (n·n_ij)² ≤ 1e36 at 1e9 docs.
    //
    //      Scale shape: one (lang, source) cell aggregate + two
    //      catalog-sized margin tables cross-joined and broadcast —
    //      no window, no fact-side rescan.
    ("q294_cramers_v", (s: SparkSession, dir: String) => {
      val cells = graft.Stage.mat(Tables(s, dir).documents
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c")))
      val rm = cells.groupBy(col("lang")).agg(sum(col("c")).as("r_i"))
      val cm = cells.groupBy(col("source")).agg(sum(col("c")).as("c_j"))
      val tot = cells.agg(sum(col("c")).as("n"),
        countDistinct(col("lang")).as("nr"),
        countDistinct(col("source")).as("nc"))
      val grid = rm.crossJoin(cm)
        .join(cells, Seq("lang", "source"), "left")
        .crossJoin(broadcast(tot))
        .selectExpr("r_i", "c_j", "coalesce(c, 0) AS o", "n", "nr", "nc")
      grid.agg(max(col("n")).as("n"), max(col("nr")).as("n_langs"),
        max(col("nc")).as("n_sources"),
        sum(expr("""(CAST(n AS DECIMAL(38,0)) * o - CAST(r_i AS DECIMAL(38,0)) * c_j)
                    * (CAST(n AS DECIMAL(38,0)) * o - CAST(r_i AS DECIMAL(38,0)) * c_j)
                    * 1000000
                    DIV (CAST(n AS DECIMAL(38,0)) * r_i * c_j)"""))
          .as("chi2"))
        .selectExpr("n", "n_langs", "n_sources",
          "CAST(chi2 AS BIGINT) AS chi2_micros",
          "(n_langs - 1) * (n_sources - 1) AS dof",
          """CAST(chi2 DIV (CAST(n AS DECIMAL(38,0))
                * least(n_langs - 1, n_sources - 1)) AS BIGINT) AS v2_micros""")
    }, Some("""
      WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source),
      rm AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS r_i FROM cells GROUP BY lang),
      cm AS (SELECT source, CAST(SUM(c) AS BIGINT) AS c_j FROM cells GROUP BY source),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                     CAST(count(DISTINCT lang) AS BIGINT) AS nr,
                     CAST(count(DISTINCT source) AS BIGINT) AS nc
              FROM cells),
      grid AS (
        SELECT rm.r_i, cm.c_j, coalesce(ce.c, 0) AS o, n, nr, nc
        FROM rm CROSS JOIN cm
        LEFT JOIN cells ce ON rm.lang = ce.lang AND cm.source = ce.source
        CROSS JOIN tot),
      agg AS (
        SELECT MAX(n) AS n, MAX(nr) AS n_langs, MAX(nc) AS n_sources,
               SUM((CAST(n AS HUGEINT) * o - CAST(r_i AS HUGEINT) * c_j)
                   * (CAST(n AS HUGEINT) * o - CAST(r_i AS HUGEINT) * c_j)
                   * 1000000
                   // (CAST(n AS HUGEINT) * r_i * c_j)) AS chi2
        FROM grid)
      SELECT n, n_langs, n_sources, CAST(chi2 AS BIGINT) AS chi2_micros,
             (n_langs - 1) * (n_sources - 1) AS dof,
             CAST(chi2 // (CAST(n AS HUGEINT)
                  * least(n_langs - 1, n_sources - 1)) AS BIGINT) AS v2_micros
      FROM agg""")),

    // ---- Jarque–Bera normality test (Jarque & Bera 1980): are order
    //      totals Gaussian, or (as every revenue distribution is)
    //      right-skewed and heavy-tailed? JB = n·(g₁²/6 + g₂²/24) from
    //      sample skewness g₁ = m₃/m₂^1.5 and excess kurtosis
    //      g₂ = m₄/m₂² − 3 — the moments complement of q193's KS
    //      distance and q292's tail index. Two-pass exact-integer
    //      moment accumulation: pass 1 takes the FLOOR mean μ_f =
    //      Σy DIV n (y = whole dollars, so Σd⁴ ≤ (6e5)⁴·n keeps
    //      DECIMAL(38,0) headroom to sf ≈ 100); pass 2 sums the shifted
    //      powers Σd, Σd², Σd³, Σd⁴ with d = y − μ_f exactly. The
    //      sub-unit offset δ = Σd/n ∈ [0,1) is then corrected EXACTLY
    //      in the one-row mirrored IEEE chain (the q111/q324
    //      convention — scalar double math on integer aggregates,
    //      never a double SUM): m₂ = (S₂ − S₁²/n)/n,
    //      m₃ = (S₃ − 3S₁S₂/n + 2S₁³/n²)/n,
    //      m₄ = (S₄ − 4S₁S₃/n + 6S₁²S₂/n² − 3S₁⁴/n³)/n (S₁ < n, so the
    //      correction terms stay tiny and exact). Output: one row with
    //      n, μ_f, and the rounded skewness / excess kurtosis / JB.
    ("q327_jarque_bera", (s: SparkSession, dir: String) =>
      dollarMoments(s, dir)
        .selectExpr("n", "mu_f", "round(g1, 6) AS skew_r",
          "round(g2, 6) AS exkurt_r",
          "round(nd * (g1 * g1 / 6 + g2 * g2 / 24), 6) AS jb_r"),
      Some(s"""
      WITH $dollarMomentsSqlCtes
      SELECT n, mu_f, round(g1, 6) AS skew_r, round(g2, 6) AS exkurt_r,
             round(nd * (g1 * g1 / 6 + g2 * g2 / 24), 6) AS jb_r
      FROM g""")),

    // ---- Cornish–Fisher quantile estimate WITH exact certification
    //      (Cornish & Fisher 1938): can four moments stand in for a
    //      full quantile pass? The one-row moment summary (q327's
    //      shared kernel) predicts q_p ≈ μ + σ·w_p with
    //        w = z + (z²−1)g₁/6 + (z³−3z)g₂/24 − (2z³−5z)g₁²/36,
    //      z the pinned standard-normal quantiles (constants-in-source
    //      discipline, like SPRT's thresholds), and the in-plan
    //      certification compares against the EXACT doubled-rank cent
    //      quantile from the range-bucket selector — the same
    //      sketch-vs-exact audit shape as q276/q305. At 100 TB the
    //      moment row costs one pass with a 4-long payload; the exact
    //      side is the certificate you run on the sample, not the
    //      corpus. err_ppm carries both the expansion error and the
    //      dollar-floor binning (documented).
    ("q331_cornish_fisher", (s: SparkSession, dir: String) => {
      val qs = graft.analytics.Quantiles.quantilesRaw(
          Tables(s, dir).orders.selectExpr("'all' AS g",
            "CAST(floor(o_totalprice * 100) AS BIGINT) AS x"),
          "g", "x", Seq(0.5, 0.9, 0.99))
        .selectExpr("p", "CAST(2 * q AS BIGINT) AS exact2_cents")
      dollarMoments(s, dir).crossJoin(qs)
        .withColumn("z", expr(
          """CASE WHEN p = 0.5 THEN CAST(0.0 AS DOUBLE)
                  WHEN p = 0.9 THEN CAST(1.2815515655446004 AS DOUBLE)
                  ELSE CAST(2.3263478740408408 AS DOUBLE) END"""))
        .withColumn("w", expr(
          """z + (z * z - 1) * g1 / 6 + (z * z * z - 3 * z) * g2 / 24
             - (2 * z * z * z - 5 * z) * g1 * g1 / 36"""))
        .withColumn("est2_cents", expr(
          """CAST(round((CAST(mu_f AS DOUBLE) + CAST(s1 AS DOUBLE) / nd
               + sqrt(m2) * w) * 200, 0) AS BIGINT)"""))
        .selectExpr("CAST(round(p * 10000, 0) AS BIGINT) AS p_bp",
          "est2_cents", "exact2_cents",
          """CAST((1000000 * abs(est2_cents - exact2_cents))
               DIV greatest(exact2_cents, 1) AS BIGINT) AS err_ppm""")
        .orderBy(col("p_bp"))
    }, Some(s"""
      WITH $dollarMomentsSqlCtes,
      qs AS (SELECT p, CAST(2 * q AS BIGINT) AS exact2_cents FROM (
        ${graft.analytics.Quantiles.rawSql(
          """SELECT 'all' AS g, CAST(floor(o_totalprice * 100) AS BIGINT) AS x
             FROM orders""",
          """(VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
              (CAST(0.99 AS DOUBLE))) ps(p)""")})),
      cf AS (SELECT p, exact2_cents, mu_f, s1, nd, m2, g1, g2,
                    CASE WHEN p = 0.5 THEN CAST(0.0 AS DOUBLE)
                         WHEN p = 0.9 THEN CAST(1.2815515655446004 AS DOUBLE)
                         ELSE CAST(2.3263478740408408 AS DOUBLE) END AS z
             FROM g CROSS JOIN qs),
      est AS (SELECT p, exact2_cents,
                     CAST(round((CAST(mu_f AS DOUBLE) + CAST(s1 AS DOUBLE) / nd
                       + sqrt(m2) * (z + (z * z - 1) * g1 / 6
                         + (z * z * z - 3 * z) * g2 / 24
                         - (2 * z * z * z - 5 * z) * g1 * g1 / 36)) * 200, 0)
                       AS BIGINT) AS est2_cents
              FROM cf)
      SELECT CAST(round(p * 10000, 0) AS BIGINT) AS p_bp, est2_cents,
             exact2_cents,
             CAST((1000000 * abs(est2_cents - exact2_cents))
                  // GREATEST(exact2_cents, 1) AS BIGINT) AS err_ppm
      FROM est ORDER BY p_bp""")),

    // ---- Simpson diversity per source (Simpson 1949): the probability
    //      two tokens drawn WITHOUT replacement from a source are the
    //      same type, D = Σ nᵢ(nᵢ−1) / (N(N−1)) — exactly integer-
    //      rational, no logs (the sampling-theory complement of q316's
    //      Chao1 richness and the entropy family: D weights ABUNDANT
    //      types where Shannon weights all). inv-Simpson (effective
    //      type count, the 'how many equally-common types would look
    //      like this' diversity number) is the reciprocal, emitted as
    //      micros by one truncating DIV. Per-source rows from the one
    //      (source, term) count matrix (map-side combine; dictionary-
    //      sized downstream) + the zz_all pooled-corpus row. N(N−1)
    //      crosses BIGINT near N ≈ 3e9 tokens — DECIMAL(38,0)/HUGEINT
    //      on both engines.
    ("q329_simpson_diversity", (s: SparkSession, dir: String) => {
      val tok = Tables(s, dir).documents.select(col("source"),
        explode(filter(TextStats.tokens(lower(col("text"))),
          w => w =!= lit(""))).as("w"))
      val bySrc = graft.Stage.mat(
        tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
      def divRow(grouped: org.apache.spark.sql.RelationalGroupedDataset,
                 label: Column): DataFrame = grouped
        // Σc(c−1) summed in DECIMAL(38,0) — the BIGINT crossover at
        // c ≈ 3e9 the header documents applies to the SUM, not just
        // the final DIV (ADVICE r10 #4); the oracle mirrors with a
        // HUGEINT product and no BIGINT cast on the sum
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).as("sp"))
        .select(label.as("source"), col("n_tokens"), col("n_types"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * sp)
                   DIV greatest(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1), 1)
                   AS BIGINT)""").as("d_ppm"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * n_tokens * (n_tokens - 1))
                   DIV greatest(sp, 1) AS BIGINT)""").as("inv_simpson_micros"))
      val per = divRow(bySrc.groupBy(col("source")), col("source"))
      // pooled corpus: same TYPE key, counts summed across sources
      val all = divRow(bySrc.groupBy(col("w"))
          .agg(sum(col("c")).as("c")).groupBy(), lit("zz_all"))
      per.unionByName(all).orderBy(col("source"))
    }, Some(s"""
      WITH ${TextStats.sourceTokensSql},
      bysrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY 1, 2),
      per AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               SUM(CAST(c AS HUGEINT) * (c - 1)) AS sp
        FROM bysrc GROUP BY source),
      allw AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               SUM(CAST(c AS HUGEINT) * (c - 1)) AS sp
        FROM (SELECT w, CAST(SUM(c) AS BIGINT) AS c FROM bysrc GROUP BY w)),
      u AS (SELECT source, n_tokens, n_types, sp FROM per
            UNION ALL
            SELECT 'zz_all', n_tokens, n_types, sp FROM allw)
      SELECT source, n_tokens, n_types,
             CAST((CAST(1000000 AS HUGEINT) * sp)
                  // GREATEST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1), 1)
                  AS BIGINT) AS d_ppm,
             CAST((CAST(1000000 AS HUGEINT) * n_tokens * (n_tokens - 1))
                  // GREATEST(sp, 1) AS BIGINT) AS inv_simpson_micros
      FROM u ORDER BY source""")),

    // ---- Gini coefficient of customer revenue (Gini 1912, the
    //      rank-covariance form): G = [Σ 2m̄ᵢxᵢ − (n+1)Σx] / (n·Σx)
    //      with m̄ the TIE-ADJUSTED midrank — the scalar inequality
    //      summary whose cumulative-curve cousin is q192's ABC table.
    //      Within a tie group Σ rank·x is invariant to rank order, so
    //      doubled midranks (2·mn + cnt − 1, exact integers from the
    //      shared tieMidranks two-phase rank — q239/q310's kernel) give
    //      the canonical tie value with NO sort of the fact table: rank
    //      work is value-histogram-sized, never customer-sized. The
    //      numerator is ≥ 0 by the rearrangement inequality, so one
    //      truncating DIV suffices:
    //        gini_ppm = 1e6·(Σdm̄x − (n+1)Σx) DIV (n·Σx).
    ("q332_gini_revenue", (s: SparkSession, dir: String) => {
      val rev = Tables(s, dir).orders
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("r"))
      val ties = graft.Stage.mat(
        rev.groupBy(col("r").as("score")).agg(count(lit(1)).as("cnt")))
      tieMidranks(ties)
        .agg(sum(col("cnt")).as("n"),
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * score")).as("sx"),
          sum(expr(
            "CAST(cnt AS DECIMAL(38,0)) * (2 * mn + cnt - 1) * score")).as("sdmx"))
        .selectExpr("n", "CAST(sx AS BIGINT) AS total_cents",
          "CAST(sx DIV n AS BIGINT) AS mean_cents",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * (sdmx - (n + 1) * sx))
               DIV greatest(CAST(n AS DECIMAL(38,0)) * sx, 1) AS BIGINT)
             AS gini_ppm""")
    }, Some("""
      WITH rev AS (SELECT o_custkey,
                          CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS score
                   FROM orders GROUP BY o_custkey),
      ties AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt
               FROM rev GROUP BY score),
      mr AS (SELECT score, cnt,
                    SUM(cnt) OVER (ORDER BY score) - cnt + 1 AS mn
             FROM ties)
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * score) AS BIGINT) AS total_cents,
             CAST(SUM(CAST(cnt AS HUGEINT) * score) // SUM(cnt) AS BIGINT)
               AS mean_cents,
             CAST((CAST(1000000 AS HUGEINT)
                     * (SUM(CAST(cnt AS HUGEINT) * (2 * mn + cnt - 1) * score)
                        - (SUM(cnt) + 1) * SUM(CAST(cnt AS HUGEINT) * score)))
                  // GREATEST(CAST(SUM(cnt) AS HUGEINT)
                       * SUM(CAST(cnt AS HUGEINT) * score), 1) AS BIGINT)
               AS gini_ppm
      FROM mr""")),

    // ---- Markov entropy rate of the event stream (Shannon 1948 §7,
    //      empirical form): how predictable is the NEXT event type
    //      given the current one? H = Σᵢⱼ (cᵢⱼ/N)·ln(cᵢ·/cᵢⱼ) over the
    //      per-user transition counts (q174's lead-window matrix —
    //      user-partitioned, never a global window), which is exactly
    //      the lead-one cross-entropy a sequence model must beat. All
    //      ln through integer-argument round9ln (the q292/q321
    //      convention), so per-source conditional entropies and the
    //      pooled rate are exact integer nanos:
    //        h_src = Σⱼ cᵢⱼ·(ln9 cᵢ· − ln9 cᵢⱼ) DIV cᵢ·
    //        rate  = Σᵢⱼ cᵢⱼ·(ln9 cᵢ· − ln9 cᵢⱼ) DIV N.
    //      Weighting by empirical source frequencies (not the chain's
    //      stationary vector — the documented choice; they coincide as
    //      the chain mixes). The transition matrix is k² ≤ 25 rows —
    //      everything after the one lead pass is catalog-sized.
    ("q333_markov_entropy_rate", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      def ln9(x: String) =
        s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000000, 0) AS BIGINT)"
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tr = graft.Stage.mat(Tables(s, dir).events
        .filter(col("user_id").isNotNull)
        .withColumn("dst_et", lead(col("event_type"), 1).over(w))
        .filter(col("dst_et").isNotNull)
        .groupBy(col("event_type").as("src_et"), col("dst_et"))
        .agg(count(lit(1)).as("c")))
      val rows = tr.groupBy(col("src_et"))
        .agg(sum(col("c")).as("ci"), count(lit(1)).as("n_dst"))
      val terms = graft.Stage.mat(tr.join(broadcast(rows), Seq("src_et"))
        .selectExpr("src_et", "ci", "n_dst",
          s"c * (${ln9("ci")} - ${ln9("c")}) AS t"))
      val per = terms.groupBy(col("src_et"), col("ci"), col("n_dst"))
        .agg(sum(col("t")).as("st"))
        .selectExpr("src_et", "ci AS n_out", "n_dst",
          "st DIV ci AS h_nanos")
      val zzRow = tr.agg(sum(col("c")).as("nn"), count(lit(1)).as("cells"))
        .crossJoin(broadcast(terms.agg(sum(col("t")).as("st"))))
        .selectExpr("'zz_rate' AS src_et", "nn AS n_out", "cells AS n_dst",
          "st DIV nn AS h_nanos")
      per.unionByName(zzRow).orderBy(col("src_et"))
    }, Some("""
      WITH trr AS (
        SELECT event_type AS src_et,
               LEAD(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS dst_et
        FROM events WHERE user_id IS NOT NULL),
      tr AS (SELECT src_et, dst_et, CAST(count(*) AS BIGINT) AS c
             FROM trr WHERE dst_et IS NOT NULL GROUP BY 1, 2),
      rows_ AS (SELECT src_et, CAST(SUM(c) AS BIGINT) AS ci,
                       CAST(count(*) AS BIGINT) AS n_dst
                FROM tr GROUP BY src_et),
      terms AS (
        SELECT t.src_et, r.ci, r.n_dst,
               t.c * (CAST(round(ln(CAST(r.ci AS DOUBLE)) * 1000000000, 0) AS BIGINT)
                    - CAST(round(ln(CAST(t.c AS DOUBLE)) * 1000000000, 0) AS BIGINT)) AS t
        FROM tr t JOIN rows_ r USING (src_et))
      SELECT src_et, ci AS n_out, n_dst,
             CAST(SUM(t) // ci AS BIGINT) AS h_nanos
      FROM terms GROUP BY src_et, ci, n_dst
      UNION ALL
      SELECT 'zz_rate', (SELECT CAST(SUM(c) AS BIGINT) FROM tr),
             (SELECT CAST(count(*) AS BIGINT) FROM tr),
             CAST((SELECT CAST(SUM(t) AS BIGINT) FROM terms)
                  // (SELECT CAST(SUM(c) AS BIGINT) FROM tr) AS BIGINT)
      ORDER BY src_et""")),

    // ---- dispersion index (variance-to-mean ratio; Fisher 1950's
    //      Poisson overdispersion check): are per-type hourly arrivals
    //      Poisson (VMR ≈ 1), or bursty (VMR > 1 — q312's Hurst
    //      question asked distribution-free, answered moment-wise)? Per
    //      event type over the ZERO-FILLED hourly spine (type catalog ×
    //      hour spine — catalog-sized, outage hours count):
    //        vmr_ppm  = 1e6·(n·Σx² − (Σx)²) DIV ((n−1)·Σx)
    //        chi2_micros = (n−1)·VMR = 1e6·(n·Σx² − (Σx)²) DIV Σx
    //      (df = n−1) — all integer-exact, numerators provably ≥ 0 by
    //      Cauchy–Schwarz, one truncating DIV each.
    ("q336_dispersion_index", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).events
        .select(expr("unix_micros(ts) DIV 3600000000").as("hb"), col("event_type"))
      val counts = e.groupBy(col("hb"), col("event_type"))
        .agg(count(lit(1)).as("x"))
      val spine = e.agg(min(col("hb")).as("h0"), max(col("hb")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("hb"))
      val types = e.select(col("event_type")).distinct()
      val filled = spine.crossJoin(broadcast(types))
        .join(counts, Seq("hb", "event_type"), "left")
        .select(col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
      filled.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(expr("x * x")).as("s2"))
        .selectExpr("event_type", "n", "s1 AS n_events",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * (n * s2 - s1 * s1))
               DIV greatest(CAST(n - 1 AS DECIMAL(38,0)) * s1, 1) AS BIGINT)
             AS vmr_ppm""",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * (n * s2 - s1 * s1))
               DIV greatest(CAST(s1 AS DECIMAL(38,0)), 1) AS BIGINT)
             AS chi2_micros""")
        .orderBy(col("event_type"))
    }, Some("""
      WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hb, event_type FROM events),
      counts AS (SELECT hb, event_type, CAST(count(*) AS BIGINT) AS x
                 FROM e GROUP BY 1, 2),
      spine AS (SELECT unnest(generate_series(h0, h1)) AS hb
                FROM (SELECT min(hb) AS h0, max(hb) AS h1 FROM e)),
      types AS (SELECT DISTINCT event_type FROM e),
      filled AS (SELECT t.event_type, COALESCE(c.x, 0) AS x
                 FROM spine s CROSS JOIN types t
                 LEFT JOIN counts c ON c.hb = s.hb AND c.event_type = t.event_type),
      agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
              FROM filled GROUP BY event_type)
      SELECT event_type, n, s1 AS n_events,
             CAST((CAST(1000000 AS HUGEINT) * (n * s2 - s1 * s1))
                  // GREATEST(CAST(n - 1 AS HUGEINT) * s1, 1) AS BIGINT) AS vmr_ppm,
             CAST((CAST(1000000 AS HUGEINT) * (n * s2 - s1 * s1))
                  // GREATEST(CAST(s1 AS HUGEINT), 1) AS BIGINT) AS chi2_micros
      FROM agg ORDER BY event_type""")),

    // ---- key-candidate discovery: which column (combination) is a
    //      KEY? The profiling advisor beside q283's FD discovery and
    //      q169's column profile — uniqueness ratio distinct/n for
    //      every single column and pair over the orders catalog
    //      attributes + the declared key as the positive control.
    //      is_key pins the exact-uniqueness verdict.
    //
    //      Plan shape (VERDICT r10 ask #2's sweep): TWO fact-scale
    //      passes total, not one per combo — the declared key's own
    //      distinct count (necessarily row-scale: grouping by a key
    //      collapses nothing), plus ONE distinct-4-tuples pass over the
    //      four non-key attributes; all ten attribute combos (4 singles
    //      + 6 pairs) are then aggregates over that SMALL table, since
    //      a subset's distinct count over the base equals its distinct
    //      count over the distinct-tuple set. Non-null precondition
    //      (ADVICE r10 #3): the profiled orders columns are non-null;
    //      countDistinct drops rows where ANY column is NULL while
    //      DuckDB's tuple form counts them — coalesce first on both
    //      sides before profiling a nullable column.
    ("q337_key_discovery", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir).orders
      val quad = Seq("o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate")
      val dt = graft.Stage.mat(
        o.groupBy(quad.map(col): _*).agg(count(lit(1)).as("cnt")))
      val nRow = graft.Stage.mat(dt.agg(sum(col("cnt")).as("n")))
      val keyRow = o.agg(countDistinct(col("o_orderkey")).as("nd"),
          count(lit(1)).as("n"))
        .selectExpr("'o_orderkey' AS combo",
          "CAST(nd AS BIGINT) AS n_distinct", "n",
          "(1000000 * nd) DIV n AS unique_ppm", "nd = n AS is_key")
      val combos: Seq[Seq[String]] = quad.map(Seq(_)) ++
        (for { i <- quad.indices; j <- i + 1 until quad.length }
          yield Seq(quad(i), quad(j)))
      val rest = combos.map { cs =>
        dt.agg(countDistinct(cs.head, cs.tail: _*).as("nd"))
          .crossJoin(broadcast(nRow))
          .selectExpr(s"'${cs.mkString(",")}' AS combo",
            "CAST(nd AS BIGINT) AS n_distinct", "n",
            "(1000000 * nd) DIV n AS unique_ppm",
            "nd = n AS is_key")
      }
      (keyRow +: rest).reduce(_ unionByName _)
        .orderBy(col("unique_ppm").desc, col("combo"))
    }, Some {
      def comboSql(cs: Seq[String]) = {
        val tuple = if (cs.length == 1) cs.head else s"(${cs.mkString(", ")})"
        s"""
        SELECT '${cs.mkString(",")}' AS combo,
               CAST(COUNT(DISTINCT $tuple) AS BIGINT) AS n_distinct,
               CAST(count(*) AS BIGINT) AS n,
               (1000000 * CAST(COUNT(DISTINCT $tuple) AS BIGINT)) // count(*)
                 AS unique_ppm,
               CAST(COUNT(DISTINCT $tuple) AS BIGINT) = CAST(count(*) AS BIGINT)
                 AS is_key
        FROM orders"""
      }
      val singles = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      val combos: Seq[Seq[String]] = singles.map(Seq(_)) ++
        (for { i <- singles.indices; j <- i + 1 until singles.length
               if singles(i) != "o_orderkey" }
          yield Seq(singles(i), singles(j)))
      combos.map(comboSql).mkString("", "\n        UNION ALL", "") +
        "\n        ORDER BY unique_ppm DESC, combo"
    }),

    // ---- Wilson score intervals (Wilson 1927) for per-priority order
    //      failure rates: the CI companion to q318's trend test and
    //      q236's two-sample z — the interval that stays inside [0,1]
    //      and behaves at k = 0 (where the Wald interval q213 bootstraps
    //      around collapses). Sufficient statistics (n, k) per priority
    //      are exact integer aggregates; the interval itself is the
    //      one-row mirrored IEEE chain (q111/q324 convention) with the
    //      pinned z = 1.959963985 (95%, constants-in-source):
    //        center = (k + z²/2)/(n + z²),
    //        halfw  = z·√(k(n−k)/n + z²/4)/(n + z²),
    //      emitted as round-6 rates plus the exact integer rate_ppm.
    ("q338_wilson_ci", (s: SparkSession, dir: String) => {
      Tables(s, dir).orders
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("k"))
        .withColumn("z", expr("CAST(1.959963985 AS DOUBLE)"))
        .withColumn("nd", expr("CAST(n AS DOUBLE)"))
        .withColumn("kd", expr("CAST(k AS DOUBLE)"))
        .withColumn("center", expr("(kd + z * z / 2) / (nd + z * z)"))
        .withColumn("halfw", expr(
          "z * sqrt(kd * (nd - kd) / nd + z * z / 4) / (nd + z * z)"))
        .selectExpr("grp", "n", "k", "(1000000 * k) DIV n AS rate_ppm",
          "round(center - halfw, 6) AS lo_r", "round(center + halfw, 6) AS hi_r")
        .orderBy(col("grp"))
    }, Some("""
      WITH per AS (
        SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS BIGINT) AS k
        FROM orders GROUP BY 1),
      d AS (SELECT grp, n, k, CAST(1.959963985 AS DOUBLE) AS z,
                   CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
            FROM per),
      c AS (SELECT grp, n, k, z, nd, kd,
                   (kd + z * z / 2) / (nd + z * z) AS center,
                   z * sqrt(kd * (nd - kd) / nd + z * z / 4) / (nd + z * z)
                     AS halfw
            FROM d)
      SELECT grp, n, k, (1000000 * k) // n AS rate_ppm,
             round(center - halfw, 6) AS lo_r, round(center + halfw, 6) AS hi_r
      FROM c ORDER BY grp""")),

    // ---- Cohen's d / Hedges' g (Cohen 1969; Hedges 1981): HOW BIG is
    //      the urgent-vs-rest order-value difference the rank tests
    //      (q310) only declare significant? Standardized mean
    //      difference on the pooled SD, with Hedges' small-sample
    //      correction J = 1 − 3/(4·df − 1). Per-group sufficient
    //      statistics (n, Σ cents, Σ cents² — DECIMAL(38,0), exact to
    //      sf ≈ 1000) feed the one-row mirrored IEEE chain (q111/q324
    //      convention). Exact integer mean_ppm columns ride beside the
    //      rounded effect sizes so the gate pins both layers.
    ("q339_effect_size", (s: SparkSession, dir: String) => {
      Tables(s, dir).orders
        .selectExpr(
          "CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' ELSE 'rest' END AS grp",
          "CAST(floor(o_totalprice * 100) AS BIGINT) AS y")
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s1"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("s2"))
        .agg(
          sum(when(col("grp") === "urgent", col("n")).otherwise(0L)).as("n1"),
          sum(when(col("grp") === "urgent", col("s1")).otherwise(0L)).as("a1"),
          sum(when(col("grp") === "urgent", col("s2"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q1"),
          sum(when(col("grp") === "rest", col("n")).otherwise(0L)).as("n2"),
          sum(when(col("grp") === "rest", col("s1")).otherwise(0L)).as("a2"),
          sum(when(col("grp") === "rest", col("s2"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q2"))
        .withColumn("m1", expr("CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE)"))
        .withColumn("m2", expr("CAST(a2 AS DOUBLE) / CAST(n2 AS DOUBLE)"))
        .withColumn("v1", expr(
          "(CAST(q1 AS DOUBLE) - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE)"))
        .withColumn("v2", expr(
          "(CAST(q2 AS DOUBLE) - CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)"))
        .withColumn("sp", expr(
          "sqrt((CAST(n1 - 1 AS DOUBLE) * v1 + CAST(n2 - 1 AS DOUBLE) * v2) / CAST(n1 + n2 - 2 AS DOUBLE))"))
        .withColumn("d", expr("CASE WHEN sp = 0 THEN 0.0 ELSE (m1 - m2) / sp END"))
        .withColumn("j", expr("1 - 3.0 / (4 * CAST(n1 + n2 - 2 AS DOUBLE) - 1)"))
        .selectExpr("n1", "n2", "a1 DIV n1 AS mean1_cents", "a2 DIV n2 AS mean2_cents",
          "round(d, 6) AS d_r", "round(j * d, 6) AS g_r")
    }, Some("""
      WITH b AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
                    ELSE 'rest' END AS grp,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS y
        FROM orders),
      per AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                     CAST(SUM(y) AS BIGINT) AS s1,
                     CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
              FROM b GROUP BY grp),
      w AS (SELECT
              CAST(SUM(CASE WHEN grp = 'urgent' THEN n ELSE 0 END) AS BIGINT) AS n1,
              CAST(SUM(CASE WHEN grp = 'urgent' THEN s1 ELSE 0 END) AS BIGINT) AS a1,
              CAST(SUM(CASE WHEN grp = 'urgent' THEN s2 ELSE 0 END) AS HUGEINT) AS q1,
              CAST(SUM(CASE WHEN grp = 'rest' THEN n ELSE 0 END) AS BIGINT) AS n2,
              CAST(SUM(CASE WHEN grp = 'rest' THEN s1 ELSE 0 END) AS BIGINT) AS a2,
              CAST(SUM(CASE WHEN grp = 'rest' THEN s2 ELSE 0 END) AS HUGEINT) AS q2
            FROM per),
      m AS (SELECT n1, n2, a1, a2,
                   CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
                   CAST(a2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
                   (CAST(q1 AS DOUBLE) - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE) AS v1,
                   (CAST(q2 AS DOUBLE) - CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE) AS v2
            FROM w),
      sd AS (SELECT n1, n2, a1, a2, m1, m2,
                    sqrt((CAST(n1 - 1 AS DOUBLE) * v1 + CAST(n2 - 1 AS DOUBLE) * v2)
                         / CAST(n1 + n2 - 2 AS DOUBLE)) AS sp
             FROM m),
      eff AS (SELECT n1, n2, a1, a2,
                     CASE WHEN sp = 0 THEN 0.0 ELSE (m1 - m2) / sp END AS d,
                     1 - 3.0 / (4 * CAST(n1 + n2 - 2 AS DOUBLE) - 1) AS j
              FROM sd)
      SELECT n1, n2, a1 // n1 AS mean1_cents, a2 // n2 AS mean2_cents,
             round(d, 6) AS d_r, round(j * d, 6) AS g_r
      FROM eff""")),

    // ---- Wilcoxon signed-rank (Wilcoxon 1945): did per-customer spend
    //      SHIFT between the two halves of the calendar span? The
    //      PAIRED location test the battery was missing — q310's
    //      rank-sum compares two cohorts, this compares each customer
    //      WITH THEMSELVES (pair = early-half vs late-half revenue, so
    //      customer-level spend scale cancels). Pairs missing either
    //      half are excluded; zero differences are dropped (standard)
    //      but COUNTED in the 'zero' audit row. |d| ranked by the
    //      shared [[tieMidranks]] two-phase kernel; doubled-rank
    //      integers end to end:
    //        W2x  = Σ_{d>0} pc·(2·mn + cnt − 1)      (2·W⁺)
    //        W4   = 2·W2x − n(n+1)                    (4× the deviation)
    //        z²_micros = 3e6·W4² DIV (2n(n+1)(2n+1) − Σ(t³−t))
    //      (tie-corrected normal approximation; numerator ≥ 0). The
    //      3e6·W4² product crosses DECIMAL(38) near n ≈ 5e7 nonzero
    //      pairs — past that, pre-divide W4² by the variance's GCD
    //      scale (the q310 note's regime). BIGINT contract for the
    //      emitted r2x columns themselves: W2x ≤ 2n² and
    //      |W4| = |2·W2x − n(n+1)| ≤ 2n² stay in BIGINT for
    //      n ≤ 2.1e9 nonzero pairs (pairs = customers, so ~100×
    //      beyond a 100 TB customer catalog).
    //
    //      Scale shape: one (customer, half) aggregate, one customer-
    //      sized pivot, then the value-histogram-sized midrank path —
    //      no unpartitioned window, no sort of the fact table.
    ("q346_wilcoxon_signed_rank", (s: SparkSession, dir: String) => {
      val od = Tables(s, dir).orders.selectExpr("o_custkey AS ck",
        """CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')
           AS BIGINT) AS od""",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
      val span = od.agg(min(col("od")).as("dmn"), max(col("od")).as("dmx"))
      val halves = od.crossJoin(broadcast(span))
        .selectExpr("ck",
          "CASE WHEN od <= dmn + (dmx - dmn) DIV 2 THEN 0 ELSE 1 END AS h",
          "cents")
        .groupBy(col("ck"), col("h")).agg(sum(col("cents")).as("v"))
      val paired = graft.Stage.mat(halves.groupBy(col("ck"))
        .agg(count(lit(1)).as("nh"),
          sum(when(col("h") === 0, col("v")).otherwise(0L)).as("e"),
          sum(when(col("h") === 1, col("v")).otherwise(0L)).as("l"))
        .filter(col("nh") === 2)
        .selectExpr("ck", "l - e AS d"))
      val nz = graft.Stage.mat(paired.filter(col("d") =!= 0)
        .selectExpr("CAST(CASE WHEN d > 0 THEN 1 ELSE 0 END AS BIGINT) AS sgn",
          "abs(d) AS score"))
      val ties = nz.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
        .transform(graft.Stage.mat)
      val mn = tieMidranks(ties)
      val perSgn = nz.groupBy(col("sgn"), col("score"))
        .agg(count(lit(1)).as("pc"))
        .join(mn, Seq("score"))
        .groupBy(col("sgn"))
        .agg(sum(col("pc")).as("n_g"),
          sum(col("pc") * (lit(2L) * col("mn") + col("cnt") - 1)).as("r2x"))
        .transform(graft.Stage.mat)
      // coalesce: on a fixture with NO nonzero paired differences the
      // aggregates below run over empty inputs; without the defaults
      // Spark would emit a zz_w row of NULLs while the (scalar-
      // subquery) oracle emits zeros — identical on any non-degenerate
      // input, where the sums are non-null anyway.
      val nTie = ties.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"),
        coalesce(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")),
          expr("CAST(0 AS DECIMAL(38,0))")).as("tsum"))
      val zeroRow = paired
        .agg(coalesce(sum(when(col("d") === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_g"))
        .selectExpr("'zero' AS grp", "n_g", "CAST(0 AS BIGINT) AS r2x",
          "CAST(0 AS BIGINT) AS z2_micros")
      val zz = perSgn
        .agg(coalesce(sum(when(col("sgn") === 1L, col("r2x")).otherwise(0L)),
          lit(0L)).as("w2x"))
        .crossJoin(broadcast(nTie))
        .selectExpr("'zz_w' AS grp", "n AS n_g",
          "2 * w2x - n * (n + 1) AS r2x",
          """CAST((CAST(3000000 AS DECIMAL(38,0))
                   * (2 * w2x - n * (n + 1)) * (2 * w2x - n * (n + 1)))
              DIV greatest(CAST(2 AS DECIMAL(38,0)) * n * (n + 1) * (2 * n + 1)
                   - tsum, 1) AS BIGINT) AS z2_micros""")
      perSgn.selectExpr("CASE WHEN sgn = 1 THEN 'pos' ELSE 'neg' END AS grp",
          "n_g", "r2x", "CAST(0 AS BIGINT) AS z2_micros")
        .unionByName(zeroRow).unionByName(zz).orderBy(col("grp"))
    }, Some("""
      WITH od AS (
        SELECT o_custkey AS ck,
               CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 AS BIGINT) AS od,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      sp AS (SELECT MIN(od) AS dmn, MAX(od) AS dmx FROM od),
      hv AS (SELECT ck, h, CAST(SUM(cents) AS BIGINT) AS v FROM (
               SELECT ck,
                      CASE WHEN od <= dmn + (dmx - dmn) // 2 THEN 0 ELSE 1 END AS h,
                      cents
               FROM od CROSS JOIN sp) GROUP BY ck, h),
      paired AS (
        SELECT ck, CAST(SUM(CASE WHEN h = 1 THEN v ELSE 0 END)
                        - SUM(CASE WHEN h = 0 THEN v ELSE 0 END) AS BIGINT) AS d
        FROM hv GROUP BY ck HAVING count(*) = 2),
      nz AS (SELECT CAST(CASE WHEN d > 0 THEN 1 ELSE 0 END AS BIGINT) AS sgn,
                    abs(d) AS score
             FROM paired WHERE d <> 0),
      ties AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt FROM nz GROUP BY score),
      mr AS (SELECT score, cnt,
                    SUM(cnt) OVER (ORDER BY score) - cnt + 1 AS mn
             FROM ties),
      pergs AS (SELECT sgn, score, CAST(count(*) AS BIGINT) AS pc
                FROM nz GROUP BY sgn, score),
      perg AS (SELECT sgn, CAST(SUM(pc) AS BIGINT) AS n_g,
                      CAST(SUM(pc * (2 * mn + cnt - 1)) AS BIGINT) AS r2x
               FROM pergs JOIN mr USING (score) GROUP BY sgn),
      zz AS (SELECT
               (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) FROM ties) AS n,
               (SELECT COALESCE(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt),
                                CAST(0 AS HUGEINT)) FROM ties) AS tsum,
               (SELECT CAST(COALESCE(SUM(CASE WHEN sgn = 1 THEN r2x ELSE 0 END),
                                     0) AS BIGINT) FROM perg) AS w2x)
      SELECT CASE WHEN sgn = 1 THEN 'pos' ELSE 'neg' END AS grp, n_g, r2x,
             CAST(0 AS BIGINT) AS z2_micros
      FROM perg
      UNION ALL
      SELECT 'zero',
             (SELECT CAST(count(*) AS BIGINT) FROM paired WHERE d = 0),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'zz_w', n, 2 * w2x - n * (n + 1),
             CAST((CAST(3000000 AS HUGEINT)
                    * (2 * w2x - n * (n + 1)) * (2 * w2x - n * (n + 1)))
                  // GREATEST(CAST(2 AS HUGEINT) * n * (n + 1) * (2 * n + 1)
                    - tsum, 1) AS BIGINT)
      FROM zz
      ORDER BY grp""")),

    // ---- Ansari–Bradley (Ansari & Bradley 1960): do URGENT order
    //      values differ in DISPERSION from the rest around a common
    //      median? The rank-based scale test beside q315's Brown–
    //      Forsythe (moment-based) and q320's Mood median (location) —
    //      same combined-sample midrank table as q310, but scored
    //      toward the EXTREMES: a = min(rank, N+1−rank), small at both
    //      tails, so a LOW group-1 score sum means group 1 spreads
    //      wider. Doubled integers: a2 = least(m2, 2(N+1) − m2) with
    //      m2 = 2·mn + cnt − 1 constant within a tie group. With
    //      S1 = Σ cnt·a2, S2 = Σ cnt·a2² (exact moments of the score
    //      distribution), the tie-exact normal approximation is
    //        z²_micros = (1e6·(N−1)·q) DIV (N·S2 − S1²),
    //        q = (N·AB2 − n1·S1)² DIV (n1·n2)
    //      — the inner DIV keeps the chain inside DECIMAL(38) to
    //      N ≈ 4e5 (the q310 regime; past that pre-scale the
    //      deviation). Both truncations replayed verbatim by the
    //      oracle.
    ("q349_ansari_bradley", (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).orders.selectExpr(
        "CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS grp",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS score")
      val ties = base.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
        .transform(graft.Stage.mat)
      val nTie = graft.Stage.mat(ties.agg(sum(col("cnt")).as("n")))
      val scored = tieMidranks(ties).crossJoin(broadcast(nTie))
        .selectExpr("score", "cnt",
          "least(2 * mn + cnt - 1, 2 * (n + 1) - (2 * mn + cnt - 1)) AS a2")
        .transform(graft.Stage.mat)
      val moms = scored.agg(
        sum(col("cnt") * col("a2")).as("s1"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * a2 * a2")).as("s2"))
      val perG = base.groupBy(col("grp"), col("score"))
        .agg(count(lit(1)).as("pc"))
        .join(scored, Seq("score"))
        .groupBy(col("grp"))
        .agg(sum(col("pc")).as("n_g"), sum(col("pc") * col("a2")).as("ab2x"))
        .transform(graft.Stage.mat)
      val zz = perG.agg(
          sum(when(col("grp") === 1L, col("n_g")).otherwise(0L)).as("n1"),
          sum(when(col("grp") =!= 1L, col("n_g")).otherwise(0L)).as("n2"),
          sum(when(col("grp") === 1L, col("ab2x")).otherwise(0L)).as("ab2"))
        .crossJoin(broadcast(nTie)).crossJoin(broadcast(moms))
        .selectExpr("'zz_ab' AS grp", "n AS n_g", "ab2 AS ab2x",
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * (n - 1)
                   * (((CAST(n AS DECIMAL(38,0)) * ab2 - n1 * s1)
                       * (CAST(n AS DECIMAL(38,0)) * ab2 - n1 * s1))
                      DIV greatest(CAST(n1 AS DECIMAL(38,0)) * n2, 1)))
              DIV greatest(CAST(n AS DECIMAL(38,0)) * s2
                   - CAST(s1 AS DECIMAL(38,0)) * s1, 1)
              AS BIGINT) AS z2_micros""")
      perG.selectExpr("concat('g', CAST(grp AS STRING)) AS grp", "n_g", "ab2x",
          "CAST(0 AS BIGINT) AS z2_micros")
        .unionByName(zz).orderBy(col("grp"))
    }, Some("""
      WITH base AS (
        SELECT CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                 AS BIGINT) AS grp,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS score
        FROM orders),
      ties AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt
               FROM base GROUP BY score),
      nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM ties),
      mr AS (SELECT score, cnt,
                    SUM(cnt) OVER (ORDER BY score) - cnt + 1 AS mn
             FROM ties),
      scored AS (SELECT score, cnt,
                        least(2 * mn + cnt - 1,
                              2 * (n + 1) - (2 * mn + cnt - 1)) AS a2
                 FROM mr CROSS JOIN nt),
      moms AS (SELECT CAST(SUM(cnt * a2) AS BIGINT) AS s1,
                      SUM(CAST(cnt AS HUGEINT) * a2 * a2) AS s2
               FROM scored),
      pergs AS (SELECT grp, score, CAST(count(*) AS BIGINT) AS pc
                FROM base GROUP BY grp, score),
      perg AS (SELECT grp, CAST(SUM(pc) AS BIGINT) AS n_g,
                      CAST(SUM(pc * a2) AS BIGINT) AS ab2x
               FROM pergs JOIN scored USING (score) GROUP BY grp),
      zz AS (SELECT n, s1, s2,
                    CAST(SUM(CASE WHEN grp = 1 THEN n_g ELSE 0 END) AS BIGINT) AS n1,
                    CAST(SUM(CASE WHEN grp <> 1 THEN n_g ELSE 0 END) AS BIGINT) AS n2,
                    CAST(SUM(CASE WHEN grp = 1 THEN ab2x ELSE 0 END) AS BIGINT) AS ab2
             FROM perg CROSS JOIN nt CROSS JOIN moms
             GROUP BY n, s1, s2)
      SELECT concat('g', CAST(grp AS VARCHAR)) AS grp, n_g, ab2x,
             CAST(0 AS BIGINT) AS z2_micros
      FROM perg
      UNION ALL
      SELECT 'zz_ab', n, ab2,
             CAST((CAST(1000000 AS HUGEINT) * (n - 1)
                    * (((CAST(n AS HUGEINT) * ab2 - n1 * s1)
                        * (CAST(n AS HUGEINT) * ab2 - n1 * s1))
                       // GREATEST(CAST(n1 AS HUGEINT) * n2, 1)))
                  // GREATEST(CAST(n AS HUGEINT) * s2
                    - CAST(s1 AS HUGEINT) * s1, 1) AS BIGINT)
      FROM zz
      ORDER BY grp""")),

    // ---- Page's trend test (Page 1963): does order value RISE
    //      monotonically across the five priority levels, month after
    //      month? The ORDERED-alternative sibling of q248's Friedman —
    //      same complete block design (blocks = calendar months,
    //      treatments = priorities, value = total cents), same
    //      within-block doubled midranks, but the statistic weights
    //      treatment rank sums by the HYPOTHESIZED order (the priority
    //      digit), so a consistent monotone ordering that Friedman's
    //      omnibus χ² dilutes across k−1 df concentrates into one z:
    //        L2 = Σ_j w_j·R2_j,  E[L2] = b·k(k+1)²/2 (exact integer),
    //        Var(L2) = b·k²(k+1)²(k−1)/36,
    //        z²_micros = 36e6·(L2 − E[L2])² DIV (b·k²(k+1)²(k−1)).
    //      Untied-form variance (the q248 convention: within-block
    //      ties enter through the exact doubled midranks). Weights are
    //      parsed from the priority prefix — data-derived, no magic
    //      mapping.
    //
    //      Scale shape: one (month, priority) aggregate, ranks from a
    //      window PARTITIONED BY block (k rows each), then k-row
    //      arithmetic — the friedman() shape exactly.
    ("q351_page_trend", (s: SparkSession, dir: String) => {
      val cell = Tables(s, dir).orders
        .groupBy(expr("CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT)").as("b"),
          col("o_orderpriority").as("t"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("v0"))
      val grid = cell.select(col("b")).distinct()
        .crossJoin(broadcast(cell.select(col("t")).distinct()))
        .join(cell, Seq("b", "t"), "left")
        .select(col("b"), col("t"), coalesce(col("v0"), lit(0L)).as("v"))
      val perT = blockRankSums(grid)
      val zz = perT
        .agg(count(lit(1)).as("k"), max(col("n_blocks")).as("nb"),
          sum(expr("CAST(substring(t, 1, 1) AS BIGINT) * rr2")).as("l2"))
        .selectExpr("'zz_l' AS t", "nb AS n_blocks",
          "l2 - (nb * k * (k + 1) * (k + 1)) DIV 2 AS rr2",
          """CAST((CAST(36000000 AS DECIMAL(38,0))
                   * (l2 - (nb * k * (k + 1) * (k + 1)) DIV 2)
                   * (l2 - (nb * k * (k + 1) * (k + 1)) DIV 2))
              DIV greatest(CAST(nb AS DECIMAL(38,0)) * k * k * (k + 1) * (k + 1)
                   * (k - 1), 1) AS BIGINT) AS z2_micros""")
      perT.selectExpr("t", "n_blocks", "rr2", "CAST(0 AS BIGINT) AS z2_micros")
        .unionByName(zz).orderBy(col("t"))
    }, Some(s"""
      WITH cell AS (
        SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS b,
               o_orderpriority AS t,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v0
        FROM orders GROUP BY 1, 2),
      grid AS (
        SELECT bb.b, tt.t, coalesce(c.v0, 0) AS v
        FROM (SELECT DISTINCT b FROM cell) bb
        CROSS JOIN (SELECT DISTINCT t FROM cell) tt
        LEFT JOIN cell c ON c.b = bb.b AND c.t = tt.t),
      ${blockRankSumsSql},
      f AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(MAX(n_blocks) AS BIGINT) AS nb,
                   CAST(SUM(CAST(substring(t, 1, 1) AS BIGINT) * rr2) AS BIGINT) AS l2
            FROM pert)
      SELECT t, n_blocks, rr2, CAST(0 AS BIGINT) AS z2_micros FROM pert
      UNION ALL
      SELECT 'zz_l', nb, l2 - (nb * k * (k + 1) * (k + 1)) // 2,
             CAST((CAST(36000000 AS HUGEINT)
                    * (l2 - (nb * k * (k + 1) * (k + 1)) // 2)
                    * (l2 - (nb * k * (k + 1) * (k + 1)) // 2))
                  // GREATEST(CAST(nb AS HUGEINT) * k * k * (k + 1) * (k + 1)
                    * (k - 1), 1) AS BIGINT)
      FROM f
      ORDER BY t""")),

    // ---- Theil-T inequality decomposition (Theil 1967): the
    //      DECOMPOSABLE inequality index the Gini (q332) famously
    //      isn't — customer-revenue inequality splits EXACTLY into
    //      between-segment + revenue-weighted within-segment terms,
    //      answering "is the concentration ACROSS market segments or
    //      inside them?". ln enters only through integer-argument
    //      round9ln (the q321/q333 convention), so every term is a
    //      mirrored integer-nanos sum:
    //        T_g   = Σ_{i∈g} x_i·(ln9 x_i + ln9 n_g − ln9 X_g) DIV X_g
    //        T_btw = Σ_g X_g·(ln9 X_g + ln9 N − ln9 n_g − ln9 X) DIV X
    //        T_tot = Σ_i x_i·(ln9 x_i + ln9 N − ln9 X) DIV X
    //      with the zz_gap row CERTIFYING the decomposition identity
    //      in-plan: T_tot − T_btw − Σ(X_g·T_g) DIV X is nanoscale ln-
    //      rounding residue, not structure (the q281/q319 cert shape).
    //      DECIMAL(38,0)/HUGEINT products (x·ln9 x crosses BIGINT near
    //      x ≈ 4e8 cents).
    //
    //      Scale shape: one orders aggregate per customer, one
    //      broadcast dim join to segments, then segment-catalog-sized
    //      arithmetic; the only customer-scale work is a codegen'd ln
    //      projection and one map-side-combined sum.
    ("q355_theil_decomposition", (s: SparkSession, dir: String) => {
      def ln9(x: String) =
        s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000000, 0) AS BIGINT)"
      val t = Tables(s, dir)
      val rev = graft.Stage.mat(t.orders
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("x"))
        .join(t.customer.select(col("c_custkey").as("ck"),
          col("c_mktsegment").as("grp")), Seq("ck"))
        .selectExpr("grp", "x", s"CAST(x AS DECIMAL(38,0)) * ${ln9("x")} AS xlx"))
      val perG = graft.Stage.mat(rev.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("xg"),
          sum(col("xlx")).as("sxlx")))
      val tot = graft.Stage.mat(perG.agg(sum(col("n_g")).as("n"),
        sum(col("xg")).as("xx"), sum(col("sxlx")).as("sxlx_all")))
      val gRows = perG.selectExpr("grp", "n_g", "xg AS x_cents",
        s"""CAST((sxlx + CAST(xg AS DECIMAL(38,0)) * (${ln9("n_g")} - ${ln9("xg")}))
             DIV xg AS BIGINT) AS t_nanos""")
        .transform(graft.Stage.mat)
      val between = perG.crossJoin(broadcast(tot))
        .selectExpr(
          s"""CAST(xg AS DECIMAL(38,0))
              * (${ln9("xg")} + ${ln9("n")} - ${ln9("n_g")} - ${ln9("xx")})
              AS bterm""",
          "xg")
        .agg(sum(col("bterm")).as("sb")).crossJoin(broadcast(tot))
        .selectExpr("'zz_between' AS grp", "n AS n_g", "xx AS x_cents",
          "CAST(sb DIV xx AS BIGINT) AS t_nanos")
      val within = gRows.join(perG.select(col("grp"), col("xg")), Seq("grp"))
        .selectExpr("CAST(xg AS DECIMAL(38,0)) * t_nanos AS wterm")
        .agg(sum(col("wterm")).as("sw")).crossJoin(broadcast(tot))
        .selectExpr("'zz_within' AS grp", "n AS n_g", "xx AS x_cents",
          "CAST(sw DIV xx AS BIGINT) AS t_nanos")
      val total = tot.selectExpr("'zz_total' AS grp", "n AS n_g",
        "xx AS x_cents",
        s"""CAST((sxlx_all + CAST(xx AS DECIMAL(38,0)) * (${ln9("n")} - ${ln9("xx")}))
             DIV xx AS BIGINT) AS t_nanos""")
      val parts = gRows.unionByName(between).unionByName(within)
        .unionByName(total).transform(graft.Stage.mat)
      val gap = parts.agg(
          sum(when(col("grp") === "zz_total", col("t_nanos")).otherwise(0L))
            .as("tt"),
          sum(when(col("grp") === "zz_between" || col("grp") === "zz_within",
            col("t_nanos")).otherwise(0L)).as("bw"))
        .crossJoin(broadcast(tot))
        .selectExpr("'zz_gap' AS grp", "n AS n_g", "xx AS x_cents",
          "tt - bw AS t_nanos")
      parts.unionByName(gap).orderBy(col("grp"))
    }, Some {
      def ln9(x: String) =
        s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000000, 0) AS BIGINT)"
      s"""
      WITH rev AS (
        SELECT c.c_mktsegment AS grp, x,
               CAST(x AS HUGEINT) * ${ln9("x")} AS xlx
        FROM (SELECT o_custkey AS ck,
                     CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS x
              FROM orders GROUP BY o_custkey) r
        JOIN customer c ON c.c_custkey = r.ck),
      perg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
                      CAST(SUM(x) AS BIGINT) AS xg,
                      SUM(xlx) AS sxlx
               FROM rev GROUP BY grp),
      tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                     CAST(SUM(xg) AS BIGINT) AS xx,
                     SUM(sxlx) AS sxlx_all
              FROM perg),
      grows AS (
        SELECT grp, n_g, xg AS x_cents,
               CAST((sxlx + CAST(xg AS HUGEINT) * (${ln9("n_g")} - ${ln9("xg")}))
                    // xg AS BIGINT) AS t_nanos
        FROM perg),
      btw AS (
        SELECT 'zz_between' AS grp, n AS n_g, xx AS x_cents,
               CAST(SUM(CAST(xg AS HUGEINT)
                        * (${ln9("xg")} + ${ln9("n")} - ${ln9("n_g")} - ${ln9("xx")}))
                    // xx AS BIGINT) AS t_nanos
        FROM perg CROSS JOIN tot GROUP BY n, xx),
      wth AS (
        SELECT 'zz_within' AS grp, n AS n_g, xx AS x_cents,
               CAST(SUM(CAST(perg.xg AS HUGEINT) * grows.t_nanos)
                    // xx AS BIGINT) AS t_nanos
        FROM grows JOIN perg USING (grp) CROSS JOIN tot GROUP BY n, xx),
      ttl AS (
        SELECT 'zz_total' AS grp, n AS n_g, xx AS x_cents,
               CAST((sxlx_all + CAST(xx AS HUGEINT) * (${ln9("n")} - ${ln9("xx")}))
                    // xx AS BIGINT) AS t_nanos
        FROM tot),
      parts AS (SELECT * FROM grows UNION ALL SELECT * FROM btw
                UNION ALL SELECT * FROM wth UNION ALL SELECT * FROM ttl),
      gap AS (
        SELECT 'zz_gap' AS grp, n AS n_g, xx AS x_cents,
               CAST(SUM(CASE WHEN grp = 'zz_total' THEN t_nanos ELSE 0 END)
                    - SUM(CASE WHEN grp IN ('zz_between', 'zz_within')
                               THEN t_nanos ELSE 0 END) AS BIGINT) AS t_nanos
        FROM parts CROSS JOIN tot GROUP BY n, xx)
      SELECT * FROM parts UNION ALL SELECT * FROM gap
      ORDER BY grp"""
    })
  )
}
