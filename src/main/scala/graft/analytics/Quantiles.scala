package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact multi-quantile computation by TWO-PHASE RANK SELECTION — the
  * 100 TB form of `percentile(x, array(...))`.
  *
  * Spark's exact `percentile` buffers every group value inside the
  * aggregation buffer and sorts it per group: a billion-row group is
  * an OOM, not a plan. The approx_percentile sketch (q82) bounds the
  * buffer but gives rank-tolerance answers. This operator returns
  * EXACT quantile_cont values while never materializing more than
  * bucket-resolution state:
  *
  *  1. one agg → (n, min, max) per group;
  *  2. every row maps to one of 1024 range buckets — a pure projection
  *     of identical IEEE ops in both engines;
  *  3. the per-(group, bucket) count table (≤1024 rows per group)
  *     locates, for every requested quantile p, the buckets holding
  *     ranks klo = ⌊(n−1)p⌋+1 and khi (the quantile_cont rank pair) —
  *     the only windows in the plan run over this tiny table;
  *  4. only candidate-bucket rows (≈ n/1024 each) are re-scanned,
  *     cumulated by distinct value with rank offsets carried from the
  *     bucket table, and interpolated: q = vlo + (vhi − vlo)·frac.
  *
  * Every step is mirrored token-for-token by [[sql]], so the result is
  * value-checkable with no dependence on either engine's quantile
  * implementation (q18's percentile ↔ quantile_cont parity is an
  * implementation coincidence this operator does not need).
  *
  * Null handling (quantile_cont semantics): rows with a null measure
  * are ignored — both sides filter `x IS NOT NULL` before counting, so
  * ranks are computed over real values only. Rows with a NULL GROUP
  * KEY are excluded (g behaves as a join key throughout; coalesce g
  * upstream if null groups must be ranked) — the exclusion is
  * identical in both engines, never a divergence.
  */
object Quantiles {

  private val B = 1024

  /** Exact per-group quantile_cont for each p in `ps`, UNROUNDED.
    * Returns rows (g, p, q); [[exactQuantiles]] adds the round-6 snap
    * that hash-compared pipelines need, while median-of-deviation
    * chains (q114 MAD) consume the raw value.
    */
  def quantilesRaw(vals: DataFrame, g: String, x: String,
                   ps: Seq[Double]): DataFrame = {
    val clean = vals.filter(col(x).isNotNull)
    val stats = clean.groupBy(col(g)).agg(count(lit(1)).as("n"),
      min(col(x)).as("mn"), max(col(x)).as("mx"))
    val withB = clean.join(broadcast(stats), Seq(g))
      .withColumn("b", when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(lit((B - 1).toLong),
          floor((col(x) - col("mn")) / (col("mx") - col("mn")) * B))))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col(g)).orderBy(col("b"))
    val bcum = withB.groupBy(col(g), col("b")).agg(count(lit(1)).as("c"))
      .withColumn("cum_end", sum(col("c")).over(wB))
      .withColumn("cum_start", col("cum_end") - col("c"))
    val probes = stats
      .select(col(g), col("n"), explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("pos0", (col("n") - 1) * col("p"))
      .withColumn("klo", floor(col("pos0")) + 1)
      .withColumn("frac", col("pos0") - floor(col("pos0")))
      .withColumn("khi", col("klo") + when(col("frac") > 0, 1L).otherwise(0L))
      .select(col(g), col("p"), col("klo"), col("khi"), col("frac"))
    val cand = bcum.join(broadcast(probes), Seq(g))
      .filter((col("cum_start") < col("klo") && col("klo") <= col("cum_end")) ||
        (col("cum_start") < col("khi") && col("khi") <= col("cum_end")))
      .select(col(g), col("b"), col("cum_start")).distinct()
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col(g), col("b")).orderBy(col(x))
    val vcums = withB.select(col(g), col("b"), col(x))
      .join(broadcast(cand), Seq(g, "b"))
      .groupBy(col(g), col("b"), col("cum_start"), col(x))
      .agg(count(lit(1)).as("c"))
      .withColumn("vcum", sum(col("c")).over(wv) + col("cum_start"))
      .select(col(g), col(x), col("vcum"))
    vcums.join(broadcast(probes), Seq(g))
      .groupBy(col(g), col("p"), col("frac"))
      .agg(min(when(col("vcum") >= col("klo"), col(x))).as("vlo"),
        min(when(col("vcum") >= col("khi"), col(x))).as("vhi"))
      .select(col(g), col("p"),
        (col("vlo") + (col("vhi") - col("vlo")) * col("frac")).as("q"))
  }

  /** Exact per-group quantile_cont for each p in `ps`. Returns rows
    * (g, p, q_r) — q_r round-6 snapped, ordered output left to the
    * caller.
    */
  def exactQuantiles(vals: DataFrame,
                     ps: Seq[Double]): DataFrame =
    quantilesRaw(vals, "g", "x", ps)
      .select(col("g"), col("p"), round(col("q"), 6).as("q_r"))

  /** The mirrored DuckDB form of [[quantilesRaw]]: `src` must yield
    * columns (g, x); `psSql` e.g. "(VALUES (0.25), (0.5)) ps(p)".
    * Yields (g, p, q) unrounded.
    */
  def rawSql(src: String, psSql: String): String = {
    val clean = s"SELECT g, x FROM ($src) WHERE x IS NOT NULL"
    // each value's equal-width bucket b within its group's [min, max]
    val bucketed = s"""SELECT s.g, s.x,
                     CASE WHEN st.mx = st.mn THEN 0
                          ELSE CAST(least(${B - 1}.0,
                            floor(((s.x - st.mn) / (st.mx - st.mn)) * $B)) AS BIGINT)
                     END AS b
              FROM ($clean) s
              JOIN (SELECT g, MIN(x) AS mn, MAX(x) AS mx
                    FROM ($clean) GROUP BY g) st USING (g)"""
    s"""SELECT vp.g, vp.p,
               MIN(CASE WHEN vcum >= klo THEN x END)
                 + (MIN(CASE WHEN vcum >= khi THEN x END)
                    - MIN(CASE WHEN vcum >= klo THEN x END)) * frac AS q
        FROM (
          SELECT vc.g, vc.x, vc.vcum, pr.p, pr.klo, pr.khi, pr.frac
          FROM (
            SELECT wb.g, wb.b, cand.cum_start, wb.x,
                   SUM(count(*)) OVER (PARTITION BY wb.g, wb.b ORDER BY wb.x)
                     + cand.cum_start AS vcum
            FROM (
              $bucketed) wb
            JOIN (
              SELECT DISTINCT bc.g, bc.b, bc.cum_start
              FROM (
                SELECT g, b, c, SUM(c) OVER (PARTITION BY g ORDER BY b) AS cum_end,
                       SUM(c) OVER (PARTITION BY g ORDER BY b) - c AS cum_start
                FROM (
                  SELECT wb2.g, wb2.b, CAST(count(*) AS BIGINT) AS c
                  FROM (
                    $bucketed) wb2
                  GROUP BY wb2.g, wb2.b)) bc
              JOIN (
                SELECT g, p, CAST(floor((n - 1) * p) AS BIGINT) + 1 AS klo,
                       CAST(floor((n - 1) * p) AS BIGINT) + 1
                         + CASE WHEN (n - 1) * p - floor((n - 1) * p) > 0
                                THEN 1 ELSE 0 END AS khi
                FROM (SELECT g, CAST(count(*) AS BIGINT) AS n FROM ($clean) GROUP BY g)
                CROSS JOIN $psSql) pr2
                ON bc.g = pr2.g
               AND (bc.cum_start < pr2.klo AND pr2.klo <= bc.cum_end
                 OR bc.cum_start < pr2.khi AND pr2.khi <= bc.cum_end)) cand
              ON wb.g = cand.g AND wb.b = cand.b
            GROUP BY wb.g, wb.b, cand.cum_start, wb.x) vc
          JOIN (
            SELECT g, p, (n - 1) * p - floor((n - 1) * p) AS frac,
                   CAST(floor((n - 1) * p) AS BIGINT) + 1 AS klo,
                   CAST(floor((n - 1) * p) AS BIGINT) + 1
                     + CASE WHEN (n - 1) * p - floor((n - 1) * p) > 0
                            THEN 1 ELSE 0 END AS khi
            FROM (SELECT g, CAST(count(*) AS BIGINT) AS n FROM ($clean) GROUP BY g)
            CROSS JOIN $psSql) pr USING (g)) vp
        GROUP BY vp.g, vp.p, vp.frac"""
  }

  /** The mirrored DuckDB form of [[exactQuantiles]]. Yields (g, p, q_r). */
  def sql(src: String, psSql: String): String =
    s"SELECT g, p, round(q, 6) AS q_r FROM (${rawSql(src, psSql)})"

  private def bucketOf(v: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L)).otherwise(least(lit((B - 1).toLong),
      floor((v - mn).cast("double") / (mx - mn).cast("double") * B)))

  /** ORDER-STATISTIC SELECTION over the total order (x ASC, key ASC):
    * for each requested rank row (t, k) in `ranks` (a driver-bounded
    * probe table; 1 ≤ k ≤ n; x is `r` and key is `o_orderkey`, distinct per row so the order is
    * total), returns (t, bx, bk) — the (x, key) pair at global rank k —
    * WITHOUT a global sort or any fact-scaled window. This is the
    * scale-safe primitive behind rank features (ntile scoring, exact
    * percentile cut-points with deterministic tie-breaks): find the k-th
    * pair here, then score the corpus by broadcast comparison.
    *
    * Three-level range-bucket refinement, each level bounded:
    *  1. x range-buckets (≤[[B]]): the only unpartitioned window runs
    *     over the ≤1024-row bucket histogram — bounded by construction;
    *  2. within candidate buckets, cumulate by DISTINCT VALUE
    *     (per-bucket window over value groups, ≈ n/1024 worst case) to
    *     find the value v_t holding rank k and the residual rank k′
    *     within v_t's tie group;
    *  3. among the ties x = v_t (which can be fact-scaled — a
    *     small-domain dimension like order frequency puts millions of
    *     customers on one value), range-bucket again on KEY and select
    *     the k′-th key per-bucket. No level ever sorts more than a
    *     1/1024 slice in one partition, even under adversarial ties —
    *     the property a plain per-value row_number would lose.
    *
    * Every arithmetic step (bucket floor, cumulation, residual rank) is
    * deterministic and engine-independent, so callers can oracle their
    * output against a plain ORDER BY in DuckDB: the selected pairs are
    * definitionally the same.
    */
  def pairRankSelect(base: DataFrame,
                     ranks: DataFrame): DataFrame =
    pairRankSelectBy(base.withColumn("_prs_g", lit(0L)), "_prs_g", "r", "o_orderkey",
      ranks.withColumn("_prs_g", lit(0L)))
      .select(col("t"), col("bx"), col("bk"))

  /** Grouped [[pairRankSelect]]: the (t, k) probes in `ranks` carry a
    * GROUP column `g` matching `base`'s, and every selection runs for
    * all groups in ONE distributed pass — a caller with several rank
    * features over the same table (q160's three RFM dimensions) pays
    * one shuffle schedule, not one per feature. Same three bounded
    * levels as the ungrouped form, with every window additionally
    * partitioned by g. Returns (g, t, bx, bk); `ranks` stays
    * driver-bounded by contract (it is broadcast at every probe join).
    */
  def pairRankSelectBy(base: DataFrame, g: String, x: String, key: String,
                       ranks: DataFrame): DataFrame = {
    val clean = base.select(col(g).as("g"), col(x).as("x"), col(key).as("kk"))
    val stats = clean.groupBy(col("g"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val withB = clean.join(broadcast(stats), Seq("g"))
      .withColumn("b", bucketOf(col("x"), col("mn"), col("mx")))
      .select(col("g"), col("b"), col("x"), col("kk"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("b"))
    val bcum = withB.groupBy(col("g"), col("b")).agg(count(lit(1)).as("c"))
      .withColumn("cum_end", sum(col("c")).over(wB))
      .withColumn("cum_start", col("cum_end") - col("c"))
    // vt is ranks-sized (≤ a few rows) but sits upstream of multiple
    // level-3 consumers: materialize it (Stage.mat) so levels 1–2 run
    // ONCE instead of re-expanding per reference. cand stays lazy — its
    // only consumer is vt's one job, and re-expanding the ≤1024-row
    // bucket histogram twice inside that job is cheaper than an extra
    // eager barrier.
    val rks = ranks.select(col(g).as("g"), col("t"), col("k"))
    val cand = bcum.join(broadcast(rks), Seq("g"))
      .filter(col("cum_start") < col("k") && col("k") <= col("cum_end"))
      .select(col("g"), col("t"), col("k"), col("b"), col("cum_start"))
    // level 2: distinct-value cumulation inside candidate buckets only
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"), col("b")).orderBy(col("x"))
    val vt = graft.Stage.mat(withB
      .join(broadcast(cand.select(col("g"), col("b"), col("cum_start")).distinct()),
        Seq("g", "b"))
      .groupBy(col("g"), col("b"), col("cum_start"), col("x"))
      .agg(count(lit(1)).as("c"))
      .withColumn("vcum_end", sum(col("c")).over(wv) + col("cum_start"))
      .withColumn("vcum_start", col("vcum_end") - col("c"))
      .join(broadcast(cand.select(col("g"), col("t"), col("k"), col("b"))),
        Seq("g", "b"))
      .filter(col("vcum_start") < col("k") && col("k") <= col("vcum_end"))
      .select(col("g"), col("t"), col("x").as("vx"),
        (col("k") - col("vcum_start")).as("k2")))
    // vt is ranks-sized (one row per (g, t)) — broadcastable by contract
    // level 3: key rank-selection among the ties x = v_t, per (g, t)
    val vtr = vt.select(col("g").as("g2"), col("t"), col("vx"), col("k2"))
    val ties = clean.join(broadcast(vtr),
        col("g") === col("g2") && col("x") === col("vx"))
      .select(col("g"), col("t"), col("vx"), col("k2"), col("kk"))
    val kstats = ties.groupBy(col("g"), col("t"))
      .agg(min(col("kk")).as("kmn"), max(col("kk")).as("kmx"))
    val tiesB = ties.join(broadcast(kstats), Seq("g", "t"))
      .withColumn("kb", bucketOf(col("kk"), col("kmn"), col("kmx")))
      .select(col("g"), col("t"), col("vx"), col("k2"), col("kk"), col("kb"))
    val wKB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"), col("t")).orderBy(col("kb"))
    val kcand = tiesB.groupBy(col("g"), col("t"), col("k2"), col("kb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum_end", sum(col("c")).over(wKB))
      .withColumn("cum_start", col("cum_end") - col("c"))
      .filter(col("cum_start") < col("k2") && col("k2") <= col("cum_end"))
      .select(col("g"), col("t"), col("kb"), col("cum_start"))
    val wkk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"), col("t"), col("kb")).orderBy(col("kk"))
    tiesB.join(broadcast(kcand), Seq("g", "t", "kb"))
      .withColumn("r", row_number().over(wkk) + col("cum_start"))
      .filter(col("r") === col("k2"))
      .select(col("g"), col("t"), col("vx").as("bx"), col("kk").as("bk"))
  }
}
