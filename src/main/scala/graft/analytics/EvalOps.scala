package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.TextStats

/** Round-7 evaluation / robust-statistics operators: classifier
  * agreement beyond accuracy (Cohen's kappa, MCC), rank correlation,
  * score calibration, winsorized location estimates, and the Benford
  * first-digit audit — the measurement layer a curation pipeline runs
  * over its OWN classifiers and features before trusting them to gate
  * a 100 TB corpus (is the language-ID gate better than chance-level
  * agreement? is the quality score calibrated against outcomes, or
  * just correlated? is a numeric column's digit distribution natural
  * or synthetic?).
  *
  * Arithmetic discipline (the StatsOps/GraphOps precedent): every
  * derived ratio is integer micros/ppm computed with `DIV` over exact
  * integer sums; quadratic products run in DECIMAL(38,0) (Spark) /
  * HUGEINT (DuckDB); no sqrt ever — correlations ship as sign +
  * squared micros. Spark's `div` and DuckDB's `//` both truncate
  * toward zero, so signed numerators (kappa, MCC, Spearman) replay
  * exactly.
  */
object EvalOps {
  import Relational.QFn

  /** Bradley–Terry preference-strength fit (Bradley & Terry 1952; the
    * pairwise-preference model reward-model training stands on — given
    * duels "i beat j", recover a strength s_i with
    * P[i beats j] = s_i/(s_i+s_j)). Duels here: within each order,
    * for every pair of universe parts, the one with the larger
    * floor-micros quantity total wins (ties abstain). The universe is
    * the 24 most-ordered parts (count desc, id), so the pair/
    * strength state is INDEX-SIZED (≤ topN² counts) — the kmeansFit
    * precedent: the corpus-side work is one (order, part) aggregate
    * and one basket-bounded self-join, the fit itself folds on the
    * driver over ≤ C(topN, 2) collected pair counts.
    *
    * The update is the standard MM iteration
    * s_i ← W_i / Σ_j n_ij/(s_i+s_j), run 3 fixed rounds from
    * s = 1e6 in EXACT integer arithmetic: every division is a Long
    * floor at scale 1e12 with GREATEST(·, 1) guards, so DuckDB replays
    * the whole fit bit-for-bit (the oracle unrolls the rounds as
    * CTEs via [[btIterSql]]). Strengths are reported unnormalized —
    * BT is scale-invariant and the fixed init pins the scale.
    * Zero-win parts go to 0, the MM fixed point.
    */
  def bradleyTerry(li: DataFrame): DataFrame = {
    val spark = li.sparkSession
    import spark.implicits._
    val oq = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"),
        expr("CAST(floor(l_quantity * 1000000) AS BIGINT)").as("qm"))
      .groupBy(col("o"), col("p")).agg(sum(col("qm")).as("q"))
    val top = oq.groupBy(col("p")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("p")).limit(24)
    val lu = graft.Stage.mat(oq.join(broadcast(top.select(col("p"))), Seq("p")))
    val duels = lu.select(col("o"), col("p").as("i"), col("q").as("qa"))
      .join(lu.select(col("o"), col("p").as("j"), col("q").as("qb")), Seq("o"))
      .filter(col("i") =!= col("j") && col("qa") > col("qb"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("wins"))
    val ps: Seq[Long] = top.select(col("p")).as[Long].collect().toSeq.sorted
    val winMap: Map[(Long, Long), Long] =
      duels.as[(Long, Long, Long)].collect().map { case (i, j, w) => (i, j) -> w }.toMap
    val nMap: Map[(Long, Long), Long] = (winMap.keySet ++ winMap.keySet.map(_.swap))
      .map { k => k -> (winMap.getOrElse(k, 0L) + winMap.getOrElse(k.swap, 0L)) }.toMap
    val wTot: Map[Long, Long] =
      ps.map(i => i -> ps.map(j => winMap.getOrElse((i, j), 0L)).sum).toMap
    val S = 1000000000000L
    var s: Map[Long, Long] = ps.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      s = ps.map { i =>
        val wi = wTot(i)
        if (wi == 0L) i -> 0L
        else {
          val denom = ps.iterator.filter(j => j != i && nMap.getOrElse((i, j), 0L) > 0L)
            .map(j => nMap((i, j)) * S / math.max(s(i) + s(j), 1L)).sum
          i -> wi * S / math.max(denom, 1L)
        }
      }.toMap
    }
    val nComp: Map[Long, Long] =
      ps.map(i => i -> ps.map(j => nMap.getOrElse((i, j), 0L)).sum).toMap
    ps.map(i => (i, wTot(i), nComp(i), s(i)))
      .toDF("p", "n_wins", "n_comp", "strength_micros").orderBy(col("p"))
  }

  /** One MM round of the [[bradleyTerry]] oracle: r$t from r${t-1} over
    * the symmetric comparison-count CTE `nsym` and the win-total CTE
    * `wt` — token-for-token the driver fold's integer arithmetic.
    */
  private def btIterSql(t: Int): String = {
    val p = t - 1
    s"""t$t AS (SELECT n.i AS i,
               n.n * 1000000000000 // GREATEST(ri.s + rj.s, 1) AS term
             FROM nsym n
             JOIN r$p ri ON ri.i = n.i JOIN r$p rj ON rj.i = n.j),
      r$t AS (SELECT wt.i,
               CASE WHEN wt.w_total = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(wt.w_total * 1000000000000
                         // GREATEST(COALESCE(d.sd, 0), 1) AS BIGINT) END AS s
             FROM wt LEFT JOIN (SELECT i, SUM(term) AS sd FROM t$t GROUP BY i) d
               ON d.i = wt.i)"""
  }

  private val ws = TextStats.wsClassSql

  /** Full agreement report for a (act, pred) classification:
    *   - accuracy_micros            exact 1e6·agree div n
    *   - kappa_micros               Cohen's kappa (Cohen 1960):
    *       (n·agree − Σ_c n_act_c·n_pred_c)·1e6 div (n² − Σ_c ·)
    *     — chance-corrected agreement; the marginal product runs in
    *     DECIMAL(38,0) so n up to ~1e16 is exact.
    *   - bal_acc_micros             unweighted mean of per-actual-class
    *     recall micros (each recall floored first — the floor order is
    *     part of the contract the oracle replays).
    *   - mcc_sign / mcc2_micros     binary Matthews correlation for the
    *     `posClass`-vs-rest collapse, in the no-sqrt convention:
    *     sign(tp·tn − fp·fn) and (tp·tn − fp·fn)²·1e6 div Πmarginals.
    *
    * Scale shape: ONE map-side-combined (act, pred) count aggregate —
    * the confusion matrix is classes²-sized driver-safe state — and
    * every metric derives from broadcast-joined slices of it. One
    * shuffle total regardless of corpus size.
    */
  def agreementReport(p: DataFrame, posClass: String): DataFrame = {
    val cells = p.groupBy(col("act"), col("pred")).agg(count(lit(1)).as("c"))
    val tot = cells.agg(sum(col("c")).as("n"),
      sum(when(col("act") === col("pred"), col("c")).otherwise(lit(0L))).as("agree"))
    val na = cells.groupBy(col("act").as("cls")).agg(sum(col("c")).as("n_act"))
    val np = cells.groupBy(col("pred").as("cls")).agg(sum(col("c")).as("n_pred"))
    val pe = na.join(np, Seq("cls"), "full_outer")
      .agg(sum(expr(
        "CAST(coalesce(n_act, 0) AS DECIMAL(38,0)) * coalesce(n_pred, 0)")).as("pe_num"))
    val diag = cells.filter(col("act") === col("pred"))
      .select(col("act").as("cls"), col("c").as("tp"))
    val rec = na.join(diag, Seq("cls"), "left")
      .selectExpr("(1000000 * coalesce(tp, 0L)) DIV n_act AS rec")
      .agg(sum(col("rec")).as("sum_rec"), count(lit(1)).as("n_cls"))
    val bin = cells.agg(
      sum(when(col("act") === posClass && col("pred") === posClass, col("c"))
        .otherwise(lit(0L))).as("tp"),
      sum(when(col("act") =!= posClass && col("pred") === posClass, col("c"))
        .otherwise(lit(0L))).as("fp"),
      sum(when(col("act") === posClass && col("pred") =!= posClass, col("c"))
        .otherwise(lit(0L))).as("fn"),
      sum(when(col("act") =!= posClass && col("pred") =!= posClass, col("c"))
        .otherwise(lit(0L))).as("tn"))
    // 1-row × 1-row composition: broadcast → BroadcastNestedLoopJoin,
    // never CartesianProduct (the chi2Terms convention; PlanSpec-safe).
    tot.crossJoin(broadcast(pe)).crossJoin(broadcast(rec)).crossJoin(broadcast(bin))
      .selectExpr("n", "agree",
        "(1000000 * agree) DIV n AS accuracy_micros",
        """CAST(((CAST(n AS DECIMAL(38,0)) * agree - pe_num) * 1000000)
                DIV greatest(CAST(n AS DECIMAL(38,0)) * n - pe_num, 1)
                AS BIGINT) AS kappa_micros""",
        "sum_rec DIV n_cls AS bal_acc_micros",
        """CAST(sign(CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn)
                AS BIGINT) AS mcc_sign""",
        """CAST(((CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn)
                 * (CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn)
                 * 1000000)
                DIV greatest(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
                             * (tn + fp) * (tn + fn), 1)
                AS BIGINT) AS mcc2_micros""")
  }

  /** Per-group exact Spearman rank correlation of two integer features,
    * computed as Pearson over CENTERED DOUBLED average ranks: the
    * doubled average rank of a tied value is `2·minrank + ties − 1`
    * (an exact integer — no .5 halves ever materialize), and centering
    * by its known mean `n + 1` keeps every product within
    * DECIMAL(38,0) for n ≲ 1e6 per group (pre-aggregate or sample
    * beyond — the StatsOps moment-range note). Σcentered ≡ 0 rides
    * along as `sum_ex`/`sum_ey` — the exactness certificate.
    * Output: (g, n, rho_sign, rho2_micros) in the no-sqrt convention.
    *
    * Scale shape: two per-group sort windows assign the ranks (running
    * rank is streaming state, never a buffered group), then ONE
    * map-side-combined sufficient-statistics aggregate. The windows are
    * the unavoidable cost of exact ranks; at corpus scale the same
    * suffstat pass runs over bucketed approximate ranks instead.
    */
  def spearmanMicros(df: DataFrame, g: String): DataFrame = {
    val wx = Window.partitionBy(col(g)).orderBy(col("x"))
    val wy = Window.partitionBy(col(g)).orderBy(col("y"))
    val cx = Window.partitionBy(col(g), col("x"))
    val cy = Window.partitionBy(col(g), col("y"))
    val cg = Window.partitionBy(col(g))
    df.select(col(g), col("x"), col("y"))
      .withColumn("nn", count(lit(1)).over(cg))
      .withColumn("ex",
        lit(2L) * rank().over(wx) + count(lit(1)).over(cx) - 1L - (col("nn") + 1L))
      .withColumn("ey",
        lit(2L) * rank().over(wy) + count(lit(1)).over(cy) - 1L - (col("nn") + 1L))
      .groupBy(col(g))
      .agg(count(lit(1)).as("n"),
        sum(col("ex")).as("sum_ex"), sum(col("ey")).as("sum_ey"),
        sum(expr("CAST(ex AS DECIMAL(38,0)) * ey")).as("sxy"),
        sum(expr("CAST(ex AS DECIMAL(38,0)) * ex")).as("sxx"),
        sum(expr("CAST(ey AS DECIMAL(38,0)) * ey")).as("syy"))
      .selectExpr(g, "n", "sum_ex", "sum_ey",
        "CAST(sign(sxy) AS BIGINT) AS rho_sign",
        """CAST((sxy * sxy * 1000000) DIV greatest(sxx * syy, 1) AS BIGINT)
           AS rho2_micros""")
  }

  /** Reliability diagram + expected calibration error for an integer
    * ppm score against a binary outcome: 10 equal-width score bins,
    * each reporting its size, mean score and positive rate (both
    * floored ppm), and the |mean − rate| gap; the zz total row (bin
    * 999) carries the corpus-level rates and ECE = Σ_b n_b·gap_b div n
    * — the Naeini/Guo-style calibration audit in exact integers (each
    * per-bin floor is part of the contract).
    *
    * Scale shape: one projection computes (bin, score, outcome); one
    * 10-group map-side-combined aggregate; the total row derives from
    * the bin table (10 rows). One shuffle, constant state.
    */
  def calibrationReport(scored: DataFrame): DataFrame = {
    val b = scored
      .withColumn("bin", least(lit(9L), expr("(score_ppm * 10) DIV 1000000")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score_ppm")).as("ssum"),
        sum(col("pos").cast("long")).as("n_pos"))
      .selectExpr("bin", "n_docs",
        "ssum DIV n_docs AS mean_score_ppm",
        "(1000000 * n_pos) DIV n_docs AS pos_ppm",
        "ssum", "n_pos")
      .withColumn("gap_ppm", abs(col("mean_score_ppm") - col("pos_ppm")))
    val total = b.agg(sum(col("n_docs")).as("n"), sum(col("ssum")).as("ssum"),
        sum(col("n_pos")).as("n_pos"),
        sum(expr("n_docs * gap_ppm")).as("wgap"))
      .selectExpr("CAST(999 AS BIGINT) AS bin", "n AS n_docs",
        "ssum DIV n AS mean_score_ppm",
        "(1000000 * n_pos) DIV n AS pos_ppm",
        "wgap DIV n AS gap_ppm")
    b.select(col("bin"), col("n_docs"), col("mean_score_ppm"), col("pos_ppm"),
        col("gap_ppm"))
      .unionAll(total)
  }

  /** Per-group winsorized and trimmed means of an integer feature at
    * the [pLo, pHi] nearest-rank percentiles (k = ceil(p·n/100), the
    * classic definition — exact integers end to end): `lo`/`hi` are the
    * k-th order statistics, the winsorized mean clamps every value into
    * [lo, hi], the trimmed mean keeps only values inside it. The robust
    * location estimates a curation pipeline caps token budgets with
    * (q114's MAD measures spread; this is the matching location pair).
    *
    * Scale shape: the q119 histogram discipline — ONE (g, x) value
    * histogram aggregate (distinct-value-sized, never row-sized), a
    * per-group cumulative window over distinct VALUES, threshold
    * selection by `min(x | cum ≥ k)`, then one more histogram-sized
    * aggregate for the clamped/trimmed sums. No row-level sort, no
    * buffered group, no percentile() OOM hazard.
    */
  def winsorizedMeans(df: DataFrame, g: String): DataFrame = {
    val hist = df.filter(col("x").isNotNull)
      .groupBy(col(g), col("x")).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col(g)).orderBy(col("x"))
    val hc = hist.withColumn("cum", sum(col("c")).over(wcum))
    val ns = hist.groupBy(col(g)).agg(sum(col("c")).as("n"))
      .withColumn("klo", expr(s"(n * 10 + 99) DIV 100"))
      .withColumn("khi", expr(s"(n * 90 + 99) DIV 100"))
    val thr = hc.join(broadcast(ns), Seq(g))
      .groupBy(col(g), col("n"))
      .agg(min(when(col("cum") >= col("klo"), col("x"))).as("lo"),
        min(when(col("cum") >= col("khi"), col("x"))).as("hi"))
    hist.join(broadcast(thr), Seq(g))
      .groupBy(col(g), col("n"), col("lo"), col("hi"))
      .agg(
        sum(col("c") * greatest(col("lo"), least(col("hi"), col("x")))).as("wsum"),
        sum(when(col("x").between(col("lo"), col("hi")), col("c"))
          .otherwise(lit(0L))).as("trim_n"),
        sum(when(col("x").between(col("lo"), col("hi")), col("c") * col("x"))
          .otherwise(lit(0L))).as("trim_sum"))
      .selectExpr(g, "n", "lo", "hi",
        "(1000000 * wsum) DIV n AS wins_mean_micros",
        "trim_n",
        "(1000000 * trim_sum) DIV greatest(trim_n, 1) AS trim_mean_micros")
  }

  /** Benford's-law expected first-digit shares in ppm
    * (round(log10(1 + 1/d)·1e6); the nine literals sum to exactly 1e6).
    */
  val benfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** First-significant-digit audit of a positive integer column against
    * Benford's law: per digit 1–9 the observed count and ppm share, the
    * expected Benford ppm (literal constants — no runtime log), and the
    * absolute deviation; the zz total row carries n and the total
    * variation distance Σ|obs − exp| div 2 — the classic synthetic-data
    * / fabricated-metrics screen. Digits absent from the data still
    * emit a row (left join from the digit frame) so the TVD is complete.
    *
    * Scale shape: first digit via substring of the decimal rendering
    * (pure projection), one 9-group aggregate, literal digit frame
    * broadcast. One shuffle, constant state.
    */
  def benfordAudit(df: DataFrame, x: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val digits = benfordPpm.toDF("dd", "benford_ppm")
      .select(col("dd").cast("string").as("d"), col("benford_ppm"))
    val counts = df.filter(col(x).isNotNull && col(x) > 0)
      .select(substring(col(x).cast("string"), 1, 1).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("c"))
    val n1 = counts.agg(sum(col("c")).as("n"))
    // digit frame drives the left join; the build side is the 9-row
    // counts aggregate (auto-broadcast — hinting the LEFT of a left
    // outer join is unsupported and would only WARN).
    val per = digits.join(counts, Seq("d"), "left")
      .crossJoin(broadcast(n1))
      .selectExpr("d", "coalesce(c, 0L) AS n_docs",
        "(1000000 * coalesce(c, 0L)) DIV n AS obs_ppm", "benford_ppm")
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
    val total = per.agg(sum(col("n_docs")).as("n"), sum(col("dev_ppm")).as("sdev"))
      .selectExpr("'zz' AS d", "n AS n_docs",
        "CAST(1000000 AS BIGINT) AS obs_ppm", "CAST(1000000 AS BIGINT) AS benford_ppm",
        "sdev DIV 2 AS dev_ppm")
    per.unionAll(total)
  }

  // ------------------------------------------------------------------
  // declared queries + oracles
  // ------------------------------------------------------------------

  /** The labels-as-relevance ranking behind [[retrievalEval]] and
    * [[InferOps.averagePrecision]]: each query vec_id in [qLo, qHi] gets
    * its exact cosine top-k among vec_id > qHi, with both labels and
    * `hit` = 1 for a same-label retrieval.
    */
  private[analytics] def labeledTopK(emb: DataFrame, qHi: Long,
                                     k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id").between(1L, qHi))
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("label").cast("long").as("q_label"))
    val corpus = emb.filter(col("vec_id") > qHi)
    graft.text.Similarity
      .topKPerQuery(corpus, queries.select(col("q_id"), col("qvec")), k, qidCol = "q_id")
      .join(broadcast(queries.select(col("q_id"), col("q_label"))), Seq("q_id"))
      .join(emb.select(col("vec_id"), col("label").cast("long").as("c_label")),
        Seq("vec_id"))
      .withColumn("hit", (col("c_label") === col("q_label")).cast("long"))
  }

  /** Oracle twin of [[labeledTopK]]'s inputs at the declared split
    * (queries 1–20): CTEs `q(q_id, qv, q_label)` and `c(vec_id, v, c_label)`. */
  private[analytics] val retrievalSplitSql: String = """q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
                        CAST(label AS BIGINT) AS q_label
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 20),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   CAST(label AS BIGINT) AS c_label
            FROM embeddings WHERE vec_id > 20)"""

  /** Labels-as-relevance retrieval eval: queries are vec_ids in
    * [qLo, qHi], the corpus is every vec_id > qHi, the system is exact
    * cosine top-k, and a hit is a same-label retrieval. Per query:
    * first-hit rank (0 = none), reciprocal rank, and precision@k in
    * exact micros; the zz row (q_id −1) carries corpus MRR and mean
    * P@k. One corpus pass (queries broadcast, per-query top-k window);
    * the label join touches only the (nQueries·k)-row result.
    */
  def retrievalEval(emb: DataFrame, qHi: Long): DataFrame = {
    val ranked = labeledTopK(emb, qHi, 10)
    val per = ranked.groupBy(col("q_id"), col("q_label"))
      .agg(min(when(col("hit") === 1L, col("rn"))).cast("long").as("fr"),
        sum(col("hit")).as("n_hits"))
      .selectExpr("q_id", "q_label AS label",
        "coalesce(fr, 0L) AS first_hit_rank",
        "coalesce(1000000 DIV fr, 0L) AS rr_micros",
        "n_hits", s"(1000000 * n_hits) DIV 10 AS p10_micros")
    val zz = per.agg(count(lit(1)).as("nq"), sum(col("rr_micros")).as("srr"),
        sum(col("n_hits")).as("sh"), sum(col("p10_micros")).as("sp"))
      .selectExpr("CAST(-1 AS BIGINT) AS q_id", "CAST(-1 AS BIGINT) AS label",
        "CAST(0 AS BIGINT) AS first_hit_rank",
        "srr DIV nq AS rr_micros", "sh AS n_hits", "sp DIV nq AS p10_micros")
    per.unionAll(zz).orderBy(col("q_id"))
  }

  /** Shuffle-skew advisor for a join/agg key: one row with the key
    * cardinality, exact nearest-rank p50/p90/p99 of per-key row counts
    * (computed over the count-of-counts histogram — distinct-count-
    * sized, never key-sized), the heaviest key with its ppm share, and
    * the derived `salt_factor = ceil(max_c / ceil(n_rows / 32))` — how
    * many salt splits bring the hottest key down to an even
    * 32-partition share (the q43 salted-agg parameter, measured
    * instead of guessed). Two map-side-combined aggregates and
    * constant-size state after the first.
    */
  def skewReport(rows: DataFrame): DataFrame = {
    val kc = rows.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = kc.groupBy(col("c")).agg(count(lit(1)).as("f"))
    val wc = Window.orderBy(col("c")) // count-of-counts-sized input
    val hcum = hist.withColumn("cum", sum(col("f")).over(wc))
    val tot = kc.agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
      max(col("c")).as("max_c"))
    val qs = hcum.crossJoin(broadcast(tot))
      .agg(min(when(col("cum") >= expr("(n_keys * 50 + 99) DIV 100"), col("c"))).as("p50_c"),
        min(when(col("cum") >= expr("(n_keys * 90 + 99) DIV 100"), col("c"))).as("p90_c"),
        min(when(col("cum") >= expr("(n_keys * 99 + 99) DIV 100"), col("c"))).as("p99_c"))
    val top = kc.orderBy(col("c").desc, col("user_id")).limit(1)
      .select(col("user_id").as("top_key"), col("c").as("top_c"))
    tot.crossJoin(broadcast(qs)).crossJoin(broadcast(top))
      .selectExpr("n_rows", "n_keys", "max_c", "p50_c", "p90_c", "p99_c",
        "top_key", "(1000000 * top_c) DIV n_rows AS top_share_ppm",
        """(max_c + ((n_rows + 31) DIV 32) - 1) DIV ((n_rows + 31) DIV 32)
           AS salt_factor""")
  }

  def zInterleave16Sql: String =
    (0 until 16).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " | ", ")")

  /** Truncated rank-biased overlap (Webber, Moffat & Zobel 2010)
    * between two top-k rankings at persistence p = 9/10:
    *   RBO@k = Σ_{d=1..k} (1−p)·p^(d−1) · |A_d ∩ B_d| / d
    * — the ranking-agreement measure that, unlike q146 Spearman /
    * q229 Kendall over full permutations, is TOP-WEIGHTED and defined
    * on non-conjoint lists: exactly what comparing two retrieval or
    * quality orderings over a corpus needs (swaps at rank 2 matter,
    * swaps at rank 200 don't).
    *
    * EXACT integer arithmetic — no floats and no libm pow anywhere:
    * since p = 9/10, (1−p)·p^(d−1) = 9^(d−1)/10^d, so each depth's
    * term is the rational (9^(d−1)·X_d·1e9) DIV (10^(d−1)·10·d) in
    * nanos, with both power tables shipped as exact literals (9^19
    * fits a BIGINT; 10^19 rides as DECIMAL(38,0) strings) and every
    * truncating DIV mirrored by the oracle. This is the truncated
    * RBO_min form (no p^k extrapolation tail) — documented, and the
    * right form when both lists are materialized to the same depth.
    *
    * Output: one row per depth (d, x_d = overlap at d, term_nanos) +
    * a trailing d = 99 row carrying |A_k ∩ B_k| and RBO@k in nanos.
    *
    * Scale shape: each ranking is TakeOrderedAndProject top-k (never a
    * global window over the corpus); everything downstream runs on the
    * ≤ 2k-row union — the k×k depth expansion is k² ≤ 400 rows.
    */
  def rboTruncated(rankA: DataFrame, rankB: DataFrame, k: Int = 20): DataFrame = {
    require(k <= 20, "9^(d-1) literal table is built to depth 20")
    val pw9 = (0 until k).map(BigInt(9).pow(_)).mkString(",")
    val pw10 = (0 until k).map(e => s"CAST('${BigInt(10).pow(e)}' AS DECIMAL(38,0))")
      .mkString(",")
    val m = rankA.select(col("doc_id"), col("pos").as("pos_a"))
      .join(rankB.select(col("doc_id"), col("pos").as("pos_b")), Seq("doc_id"), "full_outer")
      .select(greatest(coalesce(col("pos_a"), lit(99L)),
        coalesce(col("pos_b"), lit(99L))).as("m"))
    val depths = m.sparkSession.range(1, k + 1).select(col("id").as("d"))
    val xd = broadcast(depths).join(m, col("m") <= col("d"), "left")
      .groupBy(col("d")).agg(count(col("m")).as("x_d"))
      .selectExpr("d", "x_d",
        s"""CAST((CAST(element_at(array($pw9), CAST(d AS INT)) AS DECIMAL(38,0))
                  * x_d * 1000000000)
                 DIV (element_at(array($pw10), CAST(d AS INT)) * 10 * d)
             AS BIGINT) AS term_nanos""")
      .transform(graft.Stage.mat) // feeds the depth rows AND the RBO fold
    val zz = xd.agg(max(when(col("d") === k, col("x_d"))).as("xk"),
      sum(col("term_nanos")).as("rbo_nanos"))
      .selectExpr(s"CAST(99 AS BIGINT) AS d", "xk AS x_d", "rbo_nanos AS term_nanos")
    xd.unionAll(zz).orderBy(col("d"))
  }

  /** Linear Centered Kernel Alignment (Kornblith et al., ICML 2019)
    * between two d-dimensional representations of the same rows:
    *   CKA = ‖Yc'Xc‖²_F / (‖Xc'Xc‖_F · ‖Yc'Yc‖_F)
    * over column-centered matrices — the standard "how much structure
    * survived" audit between an embedding table and any derived view
    * of it (here: the q67 int8 quantize→dequantize round trip; the
    * same operator compares two encoder versions or a Matryoshka
    * truncation). CKA ≈ 1 ⇒ the views agree up to rotation+scale.
    *
    * Arithmetic discipline (micro-snapped integers): raw float32
    * values widen to double exactly; the per-dim means snap round-9
    * (q103/q159 float convention); each CENTERED VALUE then snaps ONCE
    * to integer micros (`round((v − m)·1e6, 0)` — the q67 round-parity
    * chain), after which the entire gram computation is EXACT Long
    * multiply-add, order-independent by construction. The earlier
    * per-term-rounding forms paid for it at the n·d² row scale:
    * DECIMAL(30,9) terms measured 23 s at sf0.1, BIGINT nanos terms
    * 5.9 s — the snap-the-inputs form makes the hot loop integer-only.
    * The 4096-entry Frobenius folds keep the round-9/DECIMAL(30,9)
    * form; the single final division and sqrt (IEEE-correctly-rounded
    * in both engines) round to 6.
    *
    * Scale shape: one posexplode pass → d-row per-dim mean table
    * (broadcast back) → per-vector micro arrays → ONE
    * [[graft.catalyst.GramSumsMicros]] native aggregate: constant
    * 3·d²·8-byte state per partition, partial+final merge by array
    * addition — the shuffle carries one 96 KiB buffer per partition
    * regardless of corpus size (the join formulation it replaces
    * shuffled n·d² rows). The oracle replays the join formulation over
    * the SAME snapped integers, so hash equality doubles as the
    * aggregate's correctness proof. Long bound: n·B² < 2⁶³ for
    * |centered micros| ≤ B — see the GramSumsMicros scaladoc.
    */
  def linearCka(xy: DataFrame, dim: Int = 64): DataFrame = {
    import graft.catalyst.GraftFunctions
    // xy: (vec_id, i, x, y) — one row per vector per dimension,
    // x/y the two views' raw doubles.
    val n = xy.agg(countDistinct(col("vec_id")).as("n"))
    val means = xy.groupBy(col("i"))
      .agg(sum(expr("CAST(round(x, 9) AS DECIMAL(30,9))")).as("sx"),
        sum(expr("CAST(round(y, 9) AS DECIMAL(30,9))")).as("sy"))
      .crossJoin(broadcast(n))
      .selectExpr("i", "n",
        "round(CAST(sx AS DOUBLE) / n, 9) AS mx",
        "round(CAST(sy AS DOUBLE) / n, 9) AS my")
    val c = xy.join(broadcast(means), Seq("i"))
      .selectExpr("vec_id", "i",
        "CAST(round((x - mx) * 1000000, 0) AS BIGINT) AS xcm",
        "CAST(round((y - my) * 1000000, 0) AS BIGINT) AS ycm")
    val arrs = c.groupBy(col("vec_id")).agg(
      expr("transform(array_sort(collect_list(struct(i, xcm))), s -> s.xcm)").as("xa"),
      expr("transform(array_sort(collect_list(struct(i, ycm))), s -> s.ycm)").as("ya"))
    val g = arrs.agg(GraftFunctions.gramSumsMicros(col("xa"), col("ya"), dim).as("g"))
    val d2 = dim * dim
    val frob = g.select(posexplode(col("g")).as(Seq("pos", "v")))
      .selectExpr(s"pos DIV $d2 AS blk", "v")
      .groupBy()
      .agg(
        sum(when(col("blk") === 0,
          expr("CAST(round((v / 1e12) * (v / 1e12), 9) AS DECIMAL(30,9))"))).as("fxx"),
        sum(when(col("blk") === 1,
          expr("CAST(round((v / 1e12) * (v / 1e12), 9) AS DECIMAL(30,9))"))).as("fxy"),
        sum(when(col("blk") === 2,
          expr("CAST(round((v / 1e12) * (v / 1e12), 9) AS DECIMAL(30,9))"))).as("fyy"))
    frob.crossJoin(broadcast(n))
      .selectExpr("n", s"CAST($dim AS BIGINT) AS d",
        "round(CAST(fxy AS DOUBLE), 6) AS fxy_r",
        "round(CAST(fxx AS DOUBLE), 6) AS fxx_r",
        "round(CAST(fyy AS DOUBLE), 6) AS fyy_r",
        """round(CAST(fxy AS DOUBLE)
                 / greatest(sqrt(CAST(fxx AS DOUBLE)) * sqrt(CAST(fyy AS DOUBLE)),
                            1e-12), 6) AS cka_r""")
  }

  private val rboPw9Sql: String =
    (0 until 20).map(BigInt(9).pow(_)).mkString(",")
  private val rboPw10Sql: String =
    (0 until 20).map(BigInt(10).pow(_)).mkString(",")

  /** The stopword-rate English detector the calibration queries (q147,
    * q190) score: per labelled document, `hits_scaled` = 1e6 × stopword
    * hits, `ntoks` (≥ 1) and `pos` = (lang is en). */
  private def stopwordScores(s: SparkSession, dir: String): DataFrame = {
    val toks = TextStats.tokens(lower(col("text")))
    Tables(s, dir).documents
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .select(
        (lit(1000000L) * size(filter(toks, t => t.isin(TextStats.stopwords: _*)))
          .cast("long")).as("hits_scaled"),
        greatest(size(toks), lit(1)).cast("long").as("ntoks"),
        (col("lang") === "en").as("pos"))
  }

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- McNemar's paired test (with Edwards' continuity correction):
    //      is the q34 rule-based language-ID actually better than the
    //      majority-class baseline ON THE SAME DOCUMENTS? Accuracy
    //      deltas ignore pairing; McNemar uses only the DISCORDANT
    //      counts b (rule right, baseline wrong) and c (rule wrong,
    //      baseline right):
    //        chi2_cc_micros = (|b−c|−1)²·1e6 DIV greatest(b+c, 1)
    //      — exact integers; the majority class is COMPUTED (mode of
    //      lang, ties on the label), not hard-coded, so the operator
    //      generalizes to any pair of per-row classifiers. One row out;
    //      the oracle replays the predictor, the mode, and the 2×2
    //      discordant cells. Scale shape: one narrow classify scan →
    //      one 4-cell aggregate; the mode is a TakeOrderedAndProject
    //      over language-cardinality counts, broadcast back.
    ("q247_mcnemar", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).documents.select(col("doc_id"), col("lang"),
        TextStats.langIdPredicted(col("text")).as("pred"))
      val mode = Tables(s, dir).documents.groupBy(col("lang").as("mlang"))
        .agg(count(lit(1)).as("mc"))
        .orderBy(col("mc").desc, col("mlang")).limit(1).select(col("mlang"))
      d.crossJoin(broadcast(mode))
        .selectExpr(
          "CAST(CASE WHEN pred = lang THEN 1 ELSE 0 END AS BIGINT) AS r_ok",
          "CAST(CASE WHEN mlang = lang THEN 1 ELSE 0 END AS BIGINT) AS b_ok")
        .agg(count(lit(1)).as("n"),
          sum(expr("CASE WHEN r_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END")).as("b"),
          sum(expr("CASE WHEN r_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END")).as("c"),
          sum(col("r_ok")).as("n_rule_ok"), sum(col("b_ok")).as("n_base_ok"))
        .selectExpr("n", "b", "c",
          "(1000000 * n_rule_ok) DIV n AS acc_rule_micros",
          "(1000000 * n_base_ok) DIV n AS acc_base_micros",
          """((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000)
             DIV greatest(b + c, 1) AS chi2_cc_micros""")
    }, Some(s"""
      WITH scored AS (
        SELECT doc_id, lang,
               ${TextStats.langScoresSql}
        FROM documents),
      pred AS (
        SELECT doc_id, lang,
          ${TextStats.langPredSql} AS pred
        FROM scored),
      mode AS (SELECT lang AS mlang FROM documents GROUP BY lang
               ORDER BY count(*) DESC, lang LIMIT 1),
      cells AS (
        SELECT CASE WHEN pred = lang THEN 1 ELSE 0 END AS r_ok,
               CASE WHEN mlang = lang THEN 1 ELSE 0 END AS b_ok
        FROM pred CROSS JOIN mode)
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN r_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN r_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             (1000000 * CAST(SUM(r_ok) AS BIGINT)) // count(*) AS acc_rule_micros,
             (1000000 * CAST(SUM(b_ok) AS BIGINT)) // count(*) AS acc_base_micros,
             CAST(((abs(CAST(SUM(CASE WHEN r_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
                        - SUM(CASE WHEN r_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END)) - 1)
                   * (abs(CAST(SUM(CASE WHEN r_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
                          - SUM(CASE WHEN r_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END)) - 1)
                   * 1000000)
                  // greatest(CAST(SUM(CASE WHEN r_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
                             + SUM(CASE WHEN r_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END), 1)
               AS BIGINT) AS chi2_cc_micros
      FROM cells""")),

    // ---- truncated RBO@20 (p=0.9) between the by-chars and by-tokens
    //      document rankings: the top-weighted agreement of the two
    //      cheapest length orderings. Each ranking is
    //      TakeOrderedAndProject top-20; the rational-power identity
    //      makes every depth term an exact integer in nanos, and the
    //      oracle replays the full table including the d=99 RBO fold.
    ("q241_rbo", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir).documents.select(col("doc_id"),
        col("n_chars"), TextStats.tokenCount(col("text")).cast("long").as("ntok"))
      val a = t.orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("pos", row_number()
          .over(Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      val b = t.orderBy(col("ntok").desc, col("doc_id")).limit(20)
        .withColumn("pos", row_number()
          .over(Window.orderBy(col("ntok").desc, col("doc_id"))).cast("long"))
      rboTruncated(a, b, k = 20)
    }, Some(s"""
      WITH t AS (
        SELECT doc_id, n_chars,
               CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS ntok
        FROM documents),
      a AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS pos_a
            FROM t ORDER BY n_chars DESC, doc_id LIMIT 20),
      b AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY ntok DESC, doc_id) AS BIGINT) AS pos_b
            FROM t ORDER BY ntok DESC, doc_id LIMIT 20),
      m AS (SELECT greatest(coalesce(pos_a, 99), coalesce(pos_b, 99)) AS m
            FROM a FULL OUTER JOIN b USING (doc_id)),
      ds AS (SELECT unnest(range(1, 21)) AS d),
      xd AS (SELECT d, CAST(count(m.m) AS BIGINT) AS x_d
             FROM ds LEFT JOIN m ON m.m <= ds.d GROUP BY d),
      terms AS (
        SELECT CAST(d AS BIGINT) AS d, x_d,
               CAST((CAST(list_extract([$rboPw9Sql], d) AS HUGEINT)
                     * x_d * 1000000000)
                    // (CAST(list_extract([$rboPw10Sql], d) AS HUGEINT) * 10 * d)
                 AS BIGINT) AS term_nanos
        FROM xd)
      SELECT d, x_d, term_nanos FROM terms
      UNION ALL
      SELECT CAST(99 AS BIGINT), (SELECT x_d FROM terms WHERE d = 20),
             CAST(SUM(term_nanos) AS BIGINT)
      FROM terms
      ORDER BY d""")),

    // ---- linear CKA between the raw embeddings and their q67
    //      int8 quantize→dequantize reconstruction: the one-number
    //      "how much representational structure did quantization
    //      destroy" audit (≈1 ⇒ lossless up to rotation/scale). The
    //      oracle replays the quantization chain, the per-dim means,
    //      the one-pass gram triple, and the Frobenius folds.
    ("q242_cka_quantization", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        .withColumn("amax",
          expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"))
        .withColumn("quantizable", expr("amax > 0.0 AND NOT isnan(amax)"))
        .withColumn("scale", expr("CASE WHEN quantizable THEN 127.0 / amax END"))
      val xy = e.select(col("vec_id"), col("quantizable"), col("scale"),
          posexplode(col("embedding")).as(Seq("i0", "xf")))
        .selectExpr("vec_id", "CAST(i0 + 1 AS BIGINT) AS i",
          "CAST(xf AS DOUBLE) AS x", "quantizable", "scale")
        .selectExpr("vec_id", "i", "x",
          """CASE WHEN quantizable
               THEN CAST(greatest(-127, least(127,
                      CAST(round(x * scale, 0) AS INT))) AS DOUBLE) / scale
               ELSE 0.0 END AS y""")
      linearCka(xy, dim = 64)
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      a AS (SELECT vec_id, v,
              list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
      sc AS (SELECT vec_id, v,
              amax > 0.0 AND NOT isnan(amax) AS quantizable,
              CASE WHEN amax > 0.0 AND NOT isnan(amax)
                   THEN 127.0 / amax END AS scale
             FROM a),
      ix AS (SELECT vec_id, v, quantizable, scale,
                    unnest(range(1, len(v) + 1)) AS i
             FROM sc),
      xy AS (SELECT vec_id, CAST(i AS BIGINT) AS i,
                    list_extract(v, i) AS x,
                    CASE WHEN quantizable
                      THEN CAST(greatest(-127, least(127,
                             CAST(round(list_extract(v, i) * scale, 0) AS INTEGER)))
                           AS DOUBLE) / scale
                      ELSE 0.0 END AS y
             FROM ix),
      n AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM xy),
      means AS (
        SELECT i,
               round(CAST(SUM(CAST(round(x, 9) AS DECIMAL(30,9))) AS DOUBLE)
                     / (SELECT n FROM n), 9) AS mx,
               round(CAST(SUM(CAST(round(y, 9) AS DECIMAL(30,9))) AS DOUBLE)
                     / (SELECT n FROM n), 9) AS my
        FROM xy GROUP BY i),
      c AS (SELECT xy.vec_id, xy.i,
                   CAST(round((x - mx) * 1000000, 0) AS BIGINT) AS xcm,
                   CAST(round((y - my) * 1000000, 0) AS BIGINT) AS ycm
            FROM xy JOIN means ON xy.i = means.i),
      gram AS (
        SELECT l.i, r.i AS j,
               CAST(SUM(l.xcm * r.xcm) AS BIGINT) AS gxx_pp,
               CAST(SUM(l.xcm * r.ycm) AS BIGINT) AS gxy_pp,
               CAST(SUM(l.ycm * r.ycm) AS BIGINT) AS gyy_pp
        FROM c l JOIN c r ON l.vec_id = r.vec_id
        GROUP BY l.i, r.i),
      frob AS (
        SELECT SUM(CAST(round((gxx_pp / 1e12) * (gxx_pp / 1e12), 9)
                   AS DECIMAL(30,9))) AS fxx,
               SUM(CAST(round((gxy_pp / 1e12) * (gxy_pp / 1e12), 9)
                   AS DECIMAL(30,9))) AS fxy,
               SUM(CAST(round((gyy_pp / 1e12) * (gyy_pp / 1e12), 9)
                   AS DECIMAL(30,9))) AS fyy
        FROM gram)
      SELECT (SELECT n FROM n) AS n, CAST(64 AS BIGINT) AS d,
             round(CAST(fxy AS DOUBLE), 6) AS fxy_r,
             round(CAST(fxx AS DOUBLE), 6) AS fxx_r,
             round(CAST(fyy AS DOUBLE), 6) AS fyy_r,
             round(CAST(fxy AS DOUBLE)
                   / greatest(sqrt(CAST(fxx AS DOUBLE)) * sqrt(CAST(fyy AS DOUBLE)),
                              1e-12), 6) AS cka_r
      FROM frob""")),

    // ---- language-ID agreement report: accuracy, Cohen's kappa,
    //      balanced accuracy, and binary-en MCC (sign + squared micros)
    //      in one row — the chance-corrected complement of q126's
    //      per-class P/R/F1 (an unbalanced corpus can score 90%
    //      accuracy at kappa ≈ 0). The oracle replays the prediction,
    //      the confusion marginals, and every floor.
    ("q145_agreement_kappa", (s: SparkSession, dir: String) => {
      val p = Tables(s, dir).documents.select(col("lang").as("act"),
        TextStats.langIdPredicted(col("text")).as("pred"))
      agreementReport(p, posClass = "en")
    }, Some(s"""
      WITH scored AS (
        SELECT lang AS act,
               ${TextStats.langScoresSql}
        FROM documents),
      p AS (SELECT act,
              ${TextStats.langPredSql} AS pred
            FROM scored),
      cells AS (SELECT act, pred, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY act, pred),
      tot AS (SELECT SUM(c) AS n,
                     SUM(CASE WHEN act = pred THEN c ELSE 0 END) AS agree
              FROM cells),
      na AS (SELECT act AS cls, SUM(c) AS n_act FROM cells GROUP BY act),
      np AS (SELECT pred AS cls, SUM(c) AS n_pred FROM cells GROUP BY pred),
      pe AS (SELECT SUM(CAST(COALESCE(n_act, 0) AS HUGEINT) * COALESCE(n_pred, 0)) AS pe_num
             FROM na FULL OUTER JOIN np USING (cls)),
      diag AS (SELECT act AS cls, c AS tp FROM cells WHERE act = pred),
      rec AS (SELECT SUM((1000000 * COALESCE(tp, 0)) // n_act) AS sum_rec,
                     CAST(count(*) AS BIGINT) AS n_cls
              FROM na LEFT JOIN diag USING (cls)),
      bin AS (SELECT
                SUM(CASE WHEN act = 'en' AND pred = 'en' THEN c ELSE 0 END) AS tp,
                SUM(CASE WHEN act <> 'en' AND pred = 'en' THEN c ELSE 0 END) AS fp,
                SUM(CASE WHEN act = 'en' AND pred <> 'en' THEN c ELSE 0 END) AS fn,
                SUM(CASE WHEN act <> 'en' AND pred <> 'en' THEN c ELSE 0 END) AS tn
              FROM cells)
      SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
             CAST((1000000 * agree) // n AS BIGINT) AS accuracy_micros,
             CAST(((CAST(n AS HUGEINT) * agree - pe_num) * 1000000)
                  // greatest(CAST(n AS HUGEINT) * n - pe_num, 1) AS BIGINT) AS kappa_micros,
             CAST(sum_rec // n_cls AS BIGINT) AS bal_acc_micros,
             CAST(CASE WHEN CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn < 0 THEN -1
                       WHEN CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn > 0 THEN 1
                       ELSE 0 END AS BIGINT) AS mcc_sign,
             CAST(((CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn)
                   * (CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn)
                   * 1000000)
                  // greatest(CAST(tp + fp AS HUGEINT) * (tp + fn)
                             * (tn + fp) * (tn + fn), 1) AS BIGINT) AS mcc2_micros
      FROM tot CROSS JOIN pe CROSS JOIN rec CROSS JOIN bin""")),

    // ---- per-source Spearman of token count vs n_chars: the
    //      monotonic-association audit of q140's linear fit (Spearman
    //      far above Pearson r² flags a nonlinear but monotone length
    //      relation — CJK, code). Centered doubled average ranks keep
    //      the arithmetic exact; sum_ex/sum_ey ≡ 0 certify centering.
    ("q146_spearman", (s: SparkSession, dir: String) => {
      spearmanMicros(
        StatsOps.tokensVsChars(s, dir),
        g = "source")
        .orderBy(col("source"))
    }, Some(s"""
      WITH ${StatsOps.tokensVsCharsSql},
      rk AS (
        SELECT source,
               2 * rank() OVER (PARTITION BY source ORDER BY x)
                 + count(*) OVER (PARTITION BY source, x) - 1
                 - (count(*) OVER (PARTITION BY source) + 1) AS ex,
               2 * rank() OVER (PARTITION BY source ORDER BY y)
                 + count(*) OVER (PARTITION BY source, y) - 1
                 - (count(*) OVER (PARTITION BY source) + 1) AS ey
        FROM f),
      st AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(ex) AS BIGINT) AS sum_ex, CAST(SUM(ey) AS BIGINT) AS sum_ey,
               SUM(CAST(ex AS HUGEINT) * ey) AS sxy,
               SUM(CAST(ex AS HUGEINT) * ex) AS sxx,
               SUM(CAST(ey AS HUGEINT) * ey) AS syy
        FROM rk GROUP BY source)
      SELECT source, n, sum_ex, sum_ey,
             CAST(CASE WHEN sxy < 0 THEN -1 WHEN sxy > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS rho_sign,
             CAST((sxy * sxy * 1000000) // greatest(sxx * syy, 1) AS BIGINT)
               AS rho2_micros
      FROM st ORDER BY source""")),

    // ---- stopword-score calibration vs the is-English outcome: 10
    //      ppm-score bins, per-bin mean score / positive rate / gap,
    //      zz row with the exact-integer ECE. The oracle replays the
    //      binning and every per-bin floor.
    ("q147_calibration", (s: SparkSession, dir: String) => {
      val scored = stopwordScores(s, dir)
        .selectExpr("hits_scaled DIV ntoks AS score_ppm", "pos")
      calibrationReport(scored).orderBy(col("bin"))
    }, Some {
      val sw = TextStats.stopwords.map("'" + _ + "'").mkString(",")
      s"""
      WITH sc AS (
        SELECT (1000000 * len(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                               t -> t IN ($sw))))
                 // greatest(len(regexp_split_to_array(lower(text), '$ws+')), 1)
                 AS score_ppm,
               (lang = 'en') AS pos
        FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL),
      b AS (
        SELECT least(9, score_ppm * 10 // 1000000) AS bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               SUM(score_ppm) AS ssum,
               SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
        FROM sc GROUP BY 1),
      bm AS (
        SELECT bin, n_docs,
               CAST(ssum // n_docs AS BIGINT) AS mean_score_ppm,
               CAST((1000000 * n_pos) // n_docs AS BIGINT) AS pos_ppm,
               ssum, n_pos
        FROM b),
      bg AS (SELECT bin, n_docs, mean_score_ppm, pos_ppm,
                    abs(mean_score_ppm - pos_ppm) AS gap_ppm, ssum, n_pos
             FROM bm),
      tot AS (
        SELECT CAST(999 AS BIGINT) AS bin,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(ssum) // SUM(n_docs) AS BIGINT) AS mean_score_ppm,
               CAST((1000000 * SUM(n_pos)) // SUM(n_docs) AS BIGINT) AS pos_ppm,
               CAST(SUM(n_docs * gap_ppm) // SUM(n_docs) AS BIGINT) AS gap_ppm
        FROM bg)
      SELECT bin, n_docs, mean_score_ppm, pos_ppm, gap_ppm FROM bg
      UNION ALL
      SELECT bin, n_docs, mean_score_ppm, pos_ppm, gap_ppm FROM tot
      ORDER BY bin"""
    }),

    // ---- per-source winsorized/trimmed token-count means at the
    //      nearest-rank p10/p90: the robust location pair to q143's
    //      moment profile and q114's MAD spread. The oracle replays the
    //      histogram cumulative, the order-statistic selection, and the
    //      clamped/trimmed integer sums.
    ("q148_winsorized", (s: SparkSession, dir: String) => {
      winsorizedMeans(
        Tables(s, dir).documents.select(col("source"),
          TextStats.tokenCount(col("text")).cast("long").as("x")),
        g = "source")
        .orderBy(col("source"))
    }, Some(s"""
      WITH f AS (
        SELECT source, CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS x
        FROM documents),
      hist AS (SELECT source, x, CAST(count(*) AS BIGINT) AS c
               FROM f WHERE x IS NOT NULL GROUP BY source, x),
      hc AS (SELECT source, x, c,
                    SUM(c) OVER (PARTITION BY source ORDER BY x) AS cum
             FROM hist),
      ns AS (SELECT source, SUM(c) AS n,
                    (SUM(c) * 10 + 99) // 100 AS klo,
                    (SUM(c) * 90 + 99) // 100 AS khi
             FROM hist GROUP BY source),
      thr AS (SELECT hc.source, ns.n,
                     min(CASE WHEN hc.cum >= ns.klo THEN hc.x END) AS lo,
                     min(CASE WHEN hc.cum >= ns.khi THEN hc.x END) AS hi
              FROM hc JOIN ns USING (source) GROUP BY hc.source, ns.n),
      out AS (
        SELECT h.source, t.n, t.lo, t.hi,
               SUM(h.c * greatest(t.lo, least(t.hi, h.x))) AS wsum,
               SUM(CASE WHEN h.x BETWEEN t.lo AND t.hi THEN h.c ELSE 0 END) AS trim_n,
               SUM(CASE WHEN h.x BETWEEN t.lo AND t.hi THEN h.c * h.x ELSE 0 END) AS trim_sum
        FROM hist h JOIN thr t USING (source)
        GROUP BY h.source, t.n, t.lo, t.hi)
      SELECT source, CAST(n AS BIGINT) AS n, lo, hi,
             CAST((1000000 * wsum) // n AS BIGINT) AS wins_mean_micros,
             CAST(trim_n AS BIGINT) AS trim_n,
             CAST((1000000 * trim_sum) // greatest(trim_n, 1) AS BIGINT) AS trim_mean_micros
      FROM out ORDER BY source""")),

    // ---- Benford first-digit audit of document lengths: per digit
    //      observed vs expected ppm and the zz total-variation row —
    //      the synthetic-data screen (fixture lengths are driver-
    //      generated, so the TVD row QUANTIFIES how un-Benford they
    //      are; on organic corpora the same query is the fabrication
    //      alarm). Digits absent from the data still emit rows.
    ("q149_benford", (s: SparkSession, dir: String) => {
      benfordAudit(Tables(s, dir).documents, x = "n_chars")
        .orderBy(col("d"))
    }, Some {
      val vals = benfordPpm.map { case (d, p) => s"('$d', ${p})" }.mkString(", ")
      s"""
      WITH digits(d, benford_ppm) AS (VALUES $vals),
      counts AS (
        SELECT substring(CAST(n_chars AS VARCHAR), 1, 1) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        GROUP BY 1),
      n1 AS (SELECT SUM(c) AS n FROM counts),
      per AS (
        SELECT digits.d, COALESCE(c, 0) AS n_docs,
               CAST((1000000 * COALESCE(c, 0)) // n AS BIGINT) AS obs_ppm,
               CAST(benford_ppm AS BIGINT) AS benford_ppm,
               CAST(abs((1000000 * COALESCE(c, 0)) // n - benford_ppm) AS BIGINT) AS dev_ppm
        FROM digits LEFT JOIN counts ON digits.d = counts.d
        CROSS JOIN n1),
      tot AS (
        SELECT 'zz' AS d, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(1000000 AS BIGINT) AS obs_ppm, CAST(1000000 AS BIGINT) AS benford_ppm,
               CAST(SUM(dev_ppm) // 2 AS BIGINT) AS dev_ppm
        FROM per)
      SELECT d, n_docs, obs_ppm, benford_ppm, dev_ppm FROM per
      UNION ALL
      SELECT d, n_docs, obs_ppm, benford_ppm, dev_ppm FROM tot
      ORDER BY d"""
    }),

    // ---- labels-as-relevance retrieval eval: queries are vecs 1–20,
    //      the system is exact cosine top-10 over the rest, a hit is a
    //      same-label retrieval. Per query: first-hit rank, reciprocal
    //      rank, precision@10, all exact integers after the
    //      (replayable) double-cosine ordering; the zz row (q_id −1)
    //      carries corpus MRR and mean P@10 — the embedding-quality
    //      scoreboard (q110 certifies the ANN index against this exact
    //      ranking; this scores the EMBEDDING itself). One corpus pass:
    //      queries broadcast, per-query top-k window, label join on the
    //      200-row result.
    ("q154_retrieval_mrr", (s: SparkSession, dir: String) => {
      retrievalEval(Tables(s, dir).embeddings, qHi = 20L)
    }, Some(s"""
      WITH ${retrievalSplitSql},
      r AS (SELECT q_id, q_label, vec_id, c_label,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rn
            FROM c, q),
      t AS (SELECT q_id, q_label, vec_id, c_label, rn,
                   CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS hit
            FROM r WHERE rn <= 10),
      per AS (
        SELECT q_id, q_label AS label,
               CAST(COALESCE(MIN(CASE WHEN hit = 1 THEN rn END), 0) AS BIGINT)
                 AS first_hit_rank,
               CAST(COALESCE(1000000 // MIN(CASE WHEN hit = 1 THEN rn END), 0)
                 AS BIGINT) AS rr_micros,
               CAST(SUM(hit) AS BIGINT) AS n_hits,
               CAST((1000000 * SUM(hit)) // 10 AS BIGINT) AS p10_micros
        FROM t GROUP BY q_id, q_label),
      zz AS (
        SELECT CAST(-1 AS BIGINT) AS q_id, CAST(-1 AS BIGINT) AS label,
               CAST(0 AS BIGINT) AS first_hit_rank,
               CAST(SUM(rr_micros) // count(*) AS BIGINT) AS rr_micros,
               CAST(SUM(n_hits) AS BIGINT) AS n_hits,
               CAST(SUM(p10_micros) // count(*) AS BIGINT) AS p10_micros
        FROM per)
      SELECT * FROM per UNION ALL SELECT * FROM zz ORDER BY q_id""")),

    // ---- Z-order layout audit: orders keyed by the Morton interleave
    //      of (custkey, order-day), cut into 64 z-range "files"; each
    //      bucket reports its row count and its min-max ENVELOPE on
    //      both dimensions — the zone-map bounds a z-ordered write
    //      would give every file, i.e. the data-skipping effectiveness
    //      a 100 TB table gets for predicates on EITHER column. The
    //      interleave is one shared generated expression (verbatim in
    //      the oracle); everything else is one group-by.
    ("q155_zorder_layout", (s: SparkSession, dir: String) => {
      val z = zInterleave16Sql
      val raw = Tables(s, dir).orders
        .selectExpr("o_custkey AS xr",
          // CAST up front: Spark's datediff is INT, DuckDB's date_diff
          // is BIGINT — pin BIGINT so every derived column agrees
          "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT) AS yr")
      // normalize each dim onto the full 16-bit grid (exact integer
      // min-max scaling) so the interleave exercises all 32 z bits at
      // ANY scale factor — raw TPC-H key ranges fill only the low bits
      // at small SF and every row would land in one z-range otherwise
      val stats = raw.agg(min(col("xr")).as("x0"), max(col("xr")).as("x1"),
        min(col("yr")).as("y0"), max(col("yr")).as("y1"))
      raw.crossJoin(broadcast(stats))
        .selectExpr("((xr - x0) * 65535) DIV greatest(x1 - x0, 1) AS x",
          "((yr - y0) * 65535) DIV greatest(y1 - y0, 1) AS y")
        .selectExpr("x", "y", s"$z AS z")
        .selectExpr("x", "y", "z >> 26 AS bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .selectExpr("bucket", "n_rows",
          "x_min", "x_max", "x_max - x_min + 1 AS x_span",
          "y_min", "y_max", "y_max - y_min + 1 AS y_span")
        .orderBy(col("bucket"))
    }, Some {
      val z = zInterleave16Sql
      s"""
      WITH raw AS (
        SELECT o_custkey AS xr,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS yr
        FROM orders),
      st AS (SELECT MIN(xr) AS x0, MAX(xr) AS x1, MIN(yr) AS y0, MAX(yr) AS y1
             FROM raw),
      f AS (SELECT ((xr - x0) * 65535) // greatest(x1 - x0, 1) AS x,
                   ((yr - y0) * 65535) // greatest(y1 - y0, 1) AS y
            FROM raw CROSS JOIN st),
      zz AS (SELECT x, y, $z AS z FROM f),
      b AS (SELECT x, y, z >> 26 AS bucket FROM zz)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
             MIN(x) AS x_min, MAX(x) AS x_max, MAX(x) - MIN(x) + 1 AS x_span,
             MIN(y) AS y_min, MAX(y) AS y_max, MAX(y) - MIN(y) + 1 AS y_span
      FROM b GROUP BY bucket ORDER BY bucket"""
    }),

    // ---- shuffle-skew advisor for a join/agg key: one row with the
    //      key cardinality, the exact nearest-rank p50/p90/p99 of
    //      per-key row counts (computed over the count-of-counts
    //      histogram — distinct-count-sized, never key-sized), the
    //      heaviest key and its ppm share, and the derived salt factor
    //      `ceil(max_c / ceil(n_rows / 32))` — how many salt splits
    //      bring the hottest key down to an even 32-partition share
    //      (the q43 salted-agg parameter, measured instead of guessed).
    ("q156_skew_report", (s: SparkSession, dir: String) => {
      skewReport(Tables(s, dir).events.filter(col("user_id").isNotNull))
    }, Some("""
      WITH kc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      hist AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM kc GROUP BY c),
      hcum AS (SELECT c, f, SUM(f) OVER (ORDER BY c) AS cum FROM hist),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_keys,
                     MAX(c) AS max_c
              FROM kc),
      qs AS (SELECT
               MIN(CASE WHEN cum >= (n_keys * 50 + 99) // 100 THEN c END) AS p50_c,
               MIN(CASE WHEN cum >= (n_keys * 90 + 99) // 100 THEN c END) AS p90_c,
               MIN(CASE WHEN cum >= (n_keys * 99 + 99) // 100 THEN c END) AS p99_c
             FROM hcum CROSS JOIN tot),
      top AS (SELECT user_id AS top_key, c AS top_c FROM kc
              ORDER BY c DESC, user_id LIMIT 1)
      SELECT n_rows, n_keys, max_c, p50_c, p90_c, p99_c, top_key,
             CAST((1000000 * top_c) // n_rows AS BIGINT) AS top_share_ppm,
             CAST((max_c + ((n_rows + 31) // 32) - 1) // ((n_rows + 31) // 32)
               AS BIGINT) AS salt_factor
      FROM tot CROSS JOIN qs CROSS JOIN top""")),

    // ---- RFM feature engineering: per customer the classic recency /
    //      frequency / monetary triple plus ntile-quintile scores and
    //      the composed rfm_code — the canonical warehouse feature
    //      block. Monetary runs in the q01 DECIMAL(25,6)-addend micros
    //      discipline (never a raw double sum). Quintile SCORING is the
    //      scale-safe form (VERDICT r7 ask #1): customers are a
    //      fact-scaled entity (~1e8–1e9 rows at 100 TB), so the three
    //      ntile(5) windows this query semantically computes are NOT
    //      planned as unpartitioned windows over the customer
    //      aggregate. Instead the four ntile boundary ranks per
    //      dimension — k_t = t·(n DIV 5) + least(t, n MOD 5), the exact
    //      tile-edge row of the (value, custkey) total order — are
    //      located by Quantiles.pairRankSelect (three-level range-
    //      bucket rank selection: every window is either the ≤1024-row
    //      bucket histogram or a per-bucket slice), and each customer's
    //      tile is then a pure broadcast projection:
    //      score = 1 + #{t : boundary_t < (value, custkey)}. Identical
    //      integers to ntile — the oracle keeps the plain ntile SQL —
    //      with no single-partition sort anywhere in the plan.
    ("q160_rfm_features", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir).orders
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("frequency"),
          sum((col("o_totalprice").cast("decimal(25,6)") * lit(1000000L))
            .cast("long")).as("monetary_micros"))
      val anchor = o.agg(max(to_date(col("o_orderdate"))).as("d1"))
      // consumed by 3 boundary selections + the final scoring pass:
      // materialize the customer aggregate once (Stage.mat discipline)
      val base = graft.Stage.mat(per.crossJoin(broadcast(anchor))
        .selectExpr("o_custkey", "CAST(datediff(d1, last_order) AS BIGINT) AS recency_days",
          "frequency", "monetary_micros"))
      // the 4 tile-boundary ranks, one probe row per (dimension g, t):
      // all THREE dimensions rank-select in ONE grouped pass
      val ranks = base.agg(count(lit(1)).as("n"))
        .select(explode(expr(
          """transform(sequence(1, 4), i -> struct(
               CAST(i AS BIGINT) AS t,
               CAST(i AS BIGINT) * (n DIV 5) + least(CAST(i AS BIGINT), n % 5) AS k))"""))
          .as("tk"))
        .select(explode(expr("sequence(1, 3)")).as("g0"), col("tk.t").as("t"),
          col("tk.k").as("k"))
        .selectExpr("CAST(g0 AS BIGINT) AS g", "t", "k")
      // recency ranks DESC, so dimension 1 selects on the negated value
      val dims = base.selectExpr("o_custkey AS kk",
        """stack(3, CAST(1 AS BIGINT), -recency_days,
                    CAST(2 AS BIGINT), frequency,
                    CAST(3 AS BIGINT), monetary_micros) AS (g, x)""")
      // one broadcastable row of all 12 boundary (value, custkey) pairs
      val bCols = (for (g <- 1 to 3; t <- 1 to 4) yield Seq(
        min(when(col("g") === g && col("t") === t, col("bx"))).as(s"q$g${t}x"),
        min(when(col("g") === g && col("t") === t, col("bk"))).as(s"q$g${t}k")))
        .flatten
      val bRow = Quantiles.pairRankSelectBy(dims, "g", "x", "kk", ranks)
        .agg(bCols.head, bCols.tail: _*)
      def tile(x: Column, k: Column, g: Int): Column =
        lit(1L) + Seq(1, 2, 3, 4).map { t =>
          when(col(s"q$g${t}x") < x ||
            (col(s"q$g${t}x") === x && col(s"q$g${t}k") < k), 1L).otherwise(0L)
        }.reduce(_ + _)
      base
        .crossJoin(broadcast(bRow))
        .withColumn("r_score", tile(-col("recency_days"), col("o_custkey"), 1))
        .withColumn("f_score", tile(col("frequency"), col("o_custkey"), 2))
        .withColumn("m_score", tile(col("monetary_micros"), col("o_custkey"), 3))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary_micros"), col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100L + col("f_score") * 10L + col("m_score")).as("rfm_code"))
        .orderBy(col("o_custkey"))
    }, Some("""
      WITH per AS (
        SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(25,6)) * 1000000
                             AS BIGINT)) AS BIGINT) AS monetary_micros
        FROM orders GROUP BY o_custkey),
      anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      base AS (
        SELECT o_custkey,
               CAST(date_diff('day', last_order, d1) AS BIGINT) AS recency_days,
               frequency, monetary_micros
        FROM per CROSS JOIN anchor),
      scored AS (
        SELECT o_custkey, recency_days, frequency, monetary_micros,
               CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary_micros, o_custkey) AS BIGINT) AS m_score
        FROM base)
      SELECT o_custkey, recency_days, frequency, monetary_micros,
             r_score, f_score, m_score,
             r_score * 100 + f_score * 10 + m_score AS rfm_code
      FROM scored ORDER BY o_custkey""")),

    // ---- quantile normalization across sources: each source's
    //      token-count distribution is rank-mapped onto the CORPUS
    //      distribution (doc at within-source rank r of ns maps to the
    //      corpus order statistic at ceil(r·nc/ns)) — the batch-effect
    //      correction that makes per-source length signals comparable
    //      before corpus-wide thresholds. Everything runs at VALUE
    //      granularity (source histogram → rank → target lookup), so
    //      state is distinct-value-sized; the report certifies the
    //      transform by the per-source mean before/after vs the corpus
    //      mean, all exact micros.
    ("q161_quantile_norm", (s: SparkSession, dir: String) => {
      val f = Tables(s, dir).documents.select(col("source"),
        TextStats.tokenCount(col("text")).cast("long").as("x"))
      val sh = f.groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
      val ws = Window.partitionBy(col("source")).orderBy(col("x"))
      val shc = sh.withColumn("r", sum(col("c")).over(ws)) // rank of last tie
      val ns = sh.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val ch = f.groupBy(col("x")).agg(count(lit(1)).as("cc"))
      val wc = Window.orderBy(col("x")) // corpus histogram — value-sized
      val chc = ch.withColumn("cumc", sum(col("cc")).over(wc))
        .select(col("x").as("cx"), col("cumc"))
      val nc = f.agg(count(lit(1)).as("nc"))
      val mapped = shc.join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(nc))
        .withColumn("k", expr("(r * nc + ns - 1) DIV ns")) // ceil(r·nc/ns)
        .join(broadcast(chc), col("cumc") >= col("k"))
        .groupBy(col("source"), col("x"), col("c"), col("ns"))
        .agg(min(col("cx")).as("mapped"))
      val corpusMean = f.agg((sum(col("x")) * 1000000L).as("sx"), count(lit(1)).as("n"))
        .selectExpr("sx DIV n AS corpus_mean_micros")
      mapped.groupBy(col("source"), col("ns"))
        .agg(sum(expr("c * x")).as("sb"), sum(expr("c * mapped")).as("sa"))
        .crossJoin(broadcast(corpusMean))
        .selectExpr("source", "ns AS n",
          "(1000000 * sb) DIV ns AS mean_before_micros",
          "(1000000 * sa) DIV ns AS mean_after_micros",
          "corpus_mean_micros")
        .orderBy(col("source"))
    }, Some(s"""
      WITH f AS (
        SELECT source, CAST(len(regexp_split_to_array(text, '$ws+')) AS BIGINT) AS x
        FROM documents),
      sh AS (SELECT source, x, CAST(count(*) AS BIGINT) AS c
             FROM f GROUP BY source, x),
      shc AS (SELECT source, x, c,
                     SUM(c) OVER (PARTITION BY source ORDER BY x) AS r
              FROM sh),
      ns AS (SELECT source, SUM(c) AS ns FROM sh GROUP BY source),
      chc AS (SELECT x, SUM(cc) OVER (ORDER BY x) AS cumc FROM
               (SELECT x, CAST(count(*) AS BIGINT) AS cc FROM f GROUP BY x)),
      nc AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM f),
      mapped AS (
        SELECT s.source, s.x, s.c, ns.ns, MIN(chc.x) AS mapped
        FROM shc s JOIN ns USING (source) CROSS JOIN nc
        JOIN chc ON chc.cumc >= (s.r * nc.nc + ns.ns - 1) // ns.ns
        GROUP BY s.source, s.x, s.c, ns.ns),
      cm AS (SELECT (1000000 * SUM(x)) // count(*) AS corpus_mean_micros FROM f)
      SELECT source, CAST(ns AS BIGINT) AS n,
             CAST((1000000 * SUM(c * x)) // ns AS BIGINT) AS mean_before_micros,
             CAST((1000000 * SUM(c * mapped)) // ns AS BIGINT) AS mean_after_micros,
             CAST(corpus_mean_micros AS BIGINT) AS corpus_mean_micros
      FROM mapped CROSS JOIN cm
      GROUP BY source, ns, corpus_mean_micros
      ORDER BY source""")),

    // ---- Matryoshka truncation eval: the q154 labels-as-relevance
    //      scoreboard run at full dimension AND on the first-32-dim
    //      prefix of every vector — the measured cost of storing /
    //      searching half the embedding (MRL-style truncation). Two
    //      corpus passes, each the one-scan q154 shape; only the two
    //      zz summary rows ship.
    ("q163_matryoshka_eval", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      def zzRow(e: DataFrame, dim: Int) =
        retrievalEval(e, qHi = 20L)
          .filter(col("q_id") === -1L)
          .selectExpr(s"CAST($dim AS BIGINT) AS dim",
            "rr_micros AS mrr_micros", "n_hits", "p10_micros AS mean_p10_micros")
      zzRow(emb, 64).unionAll(
        zzRow(emb.select(col("vec_id"),
          slice(col("embedding"), 1, 32).as("embedding"), col("label")), 32))
        .orderBy(col("dim"))
    }, Some("""
      WITH em AS (
        SELECT 64 AS dim, vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CAST(label AS BIGINT) AS lbl
        FROM embeddings
        UNION ALL
        SELECT 32 AS dim, vec_id, CAST(embedding[1:32] AS DOUBLE[]) AS v,
               CAST(label AS BIGINT) AS lbl
        FROM embeddings),
      q AS (SELECT dim, vec_id AS q_id, v AS qv, lbl AS q_label
            FROM em WHERE vec_id BETWEEN 1 AND 20),
      c AS (SELECT dim, vec_id, v, lbl AS c_label FROM em WHERE vec_id > 20),
      r AS (SELECT q.dim, q_id, q_label, c.vec_id, c_label,
                   row_number() OVER (PARTITION BY q.dim, q_id
                     ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rn
            FROM c JOIN q ON c.dim = q.dim),
      t AS (SELECT dim, q_id,
                   CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS hit, rn
            FROM r WHERE rn <= 10),
      per AS (
        SELECT dim, q_id,
               CAST(COALESCE(1000000 // MIN(CASE WHEN hit = 1 THEN rn END), 0)
                 AS BIGINT) AS rr_micros,
               CAST(SUM(hit) AS BIGINT) AS n_hits,
               CAST((1000000 * SUM(hit)) // 10 AS BIGINT) AS p10_micros
        FROM t GROUP BY dim, q_id)
      SELECT CAST(dim AS BIGINT) AS dim,
             CAST(SUM(rr_micros) // count(*) AS BIGINT) AS mrr_micros,
             CAST(SUM(n_hits) AS BIGINT) AS n_hits,
             CAST(SUM(p10_micros) // count(*) AS BIGINT) AS mean_p10_micros
      FROM per GROUP BY dim ORDER BY dim""")),

    // ---- hubness audit: how often each corpus vector appears across
    //      all query top-10 lists (its k-occurrence). A heavy-tailed
    //      k-occurrence is the classic symptom of degenerate embedding
    //      geometry (hub points polluting every neighbor list —
    //      Radovanović et al. 2010). Top-10 hubs by occurrence; the zz
    //      row counts how many distinct corpus vectors appear in ANY
    //      list (coverage). Same one-scan ranking as q154.
    ("q164_hubness", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id").between(1, 20))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
      val corpus = emb.filter(col("vec_id") > 20)
      val occ = graft.text.Similarity
        .topKPerQuery(corpus, queries, 10, qidCol = "q_id")
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_occ"))
      val top = occ.orderBy(col("n_occ").desc, col("vec_id")).limit(10)
      val zz = occ.agg(count(lit(1)).as("n"))
        .selectExpr("CAST(-1 AS BIGINT) AS vec_id", "n AS n_occ")
      top.unionAll(zz).orderBy(col("vec_id"))
    }, Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 20),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id > 20),
      r AS (SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rn
            FROM c, q),
      occ AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_occ
              FROM r WHERE rn <= 10 GROUP BY vec_id),
      top AS (SELECT vec_id, n_occ FROM occ ORDER BY n_occ DESC, vec_id LIMIT 10),
      zz AS (SELECT CAST(-1 AS BIGINT) AS vec_id,
                    CAST(count(*) AS BIGINT) AS n_occ FROM occ)
      SELECT vec_id, n_occ FROM top UNION ALL SELECT vec_id, n_occ FROM zz
      ORDER BY vec_id""")),

    // ---- population stability index of event values, first half of
    //      the time range vs second (the deployment-monitoring drift
    //      score): 10 equal-width bins over the observed range,
    //      add-one smoothing so empty bins stay defined, per-bin
    //      round-9 IEEE terms summed as DECIMAL(30,9) (the q103
    //      discipline), zz row carries the PSI. Integer binning via
    //      epoch-micros midpoint — no float boundary ambiguity.
    ("q165_psi_drift", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events
        .filter(col("value").isNotNull)
        .selectExpr("unix_micros(ts) AS tu",
          "CAST(floor(value * 1000000) AS BIGINT) AS vm")
      val rng = ev.agg(min(col("tu")).as("t0"), max(col("tu")).as("t1"),
        min(col("vm")).as("v0"), max(col("vm")).as("v1"))
      // densified 0..9 spine: an EMPTY bin must still smooth to +1 on
      // both sides or the add-one denominators drift between corpora
      val observed = ev.crossJoin(broadcast(rng))
        .selectExpr(
          "CASE WHEN tu < t0 + (t1 - t0) DIV 2 THEN 0 ELSE 1 END AS half",
          "least(9L, ((vm - v0) * 10) DIV greatest(v1 - v0, 1)) AS bin")
        .groupBy(col("bin"))
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
      val binned = s.range(0, 10).select(col("id").as("bin"))
        .join(observed, Seq("bin"), "left")
        .selectExpr("bin", "coalesce(ca, 0L) AS ca", "coalesce(cb, 0L) AS cb")
      val tot = binned.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      val terms = binned.crossJoin(broadcast(tot))
        .selectExpr("bin", "ca", "cb",
          """round((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)
                    - CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
                   * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
                        / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))),
                   9) AS term_r""")
      val zz = terms.agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"),
          sum(col("term_r").cast("decimal(30,9)")).as("s"))
        .selectExpr("CAST(999 AS BIGINT) AS bin", "ca", "cb",
          "round(CAST(s AS DOUBLE), 6) AS term_r")
      terms.unionAll(zz).orderBy(col("bin"))
    }, Some("""
      WITH ev AS (
        SELECT epoch_us(ts) AS tu, CAST(floor(value * 1000000) AS BIGINT) AS vm
        FROM events WHERE value IS NOT NULL),
      rng AS (SELECT MIN(tu) AS t0, MAX(tu) AS t1, MIN(vm) AS v0, MAX(vm) AS v1
              FROM ev),
      b AS (
        SELECT CASE WHEN tu < t0 + (t1 - t0) // 2 THEN 0 ELSE 1 END AS half,
               least(9, ((vm - v0) * 10) // greatest(v1 - v0, 1)) AS bin
        FROM ev CROSS JOIN rng),
      observed AS (
        SELECT bin,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM b GROUP BY bin),
      spine AS (SELECT unnest(range(0, 10)) AS bin),
      binned AS (
        SELECT spine.bin, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        FROM spine LEFT JOIN observed ON spine.bin = observed.bin),
      tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM binned),
      terms AS (
        SELECT bin, ca, cb,
               round((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)
                      - CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
                     * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
                          / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))),
                     9) AS term_r
        FROM binned CROSS JOIN tot),
      zz AS (SELECT CAST(999 AS BIGINT) AS bin,
                    CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb,
                    round(CAST(SUM(CAST(term_r AS DECIMAL(30,9))) AS DOUBLE), 6) AS term_r
             FROM terms)
      SELECT bin, ca, cb, term_r FROM terms
      UNION ALL SELECT bin, ca, cb, term_r FROM zz
      ORDER BY bin""")),

    // ---- split conformal prediction (Vovk; Papadopoulos et al. 2002;
    //      Lei et al. 2018) at 90%: the distribution-free interval
    //      audit. Calibration half (even event_id) fits the trivial
    //      per-type mean model and takes q̂ = the k-th smallest
    //      absolute residual with k = ⌈0.9·(n_cal+1)⌉ — the
    //      finite-sample-corrected split-conformal index; the test
    //      half (odd event_id) reports empirical coverage of
    //      mean ± q̂ in ppm. Everything is exact integers: values
    //      floor-quantized to micros, the model mean a truncating DIV,
    //      q̂ an order statistic selected by row_number (the k-th
    //      VALUE is tie-order-invariant because rows are sorted by
    //      score), coverage a counted DIV.
    //
    //      Scale shape: one pass builds per-type sums, one window
    //      ranks calibration residuals within each type (partition =
    //      stratum — for corpus-scale strata swap in the q119 two-
    //      phase histogram rank selection, same contract), one counted
    //      aggregate scores the test half. All three shuffles share
    //      the event_type key.
    ("q172_conformal", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events
        .filter(col("value").isNotNull)
        .selectExpr("event_type AS et", "event_id",
          "CAST(floor(value * 1000000) AS BIGINT) AS vm",
          "event_id % 2 = 0 AS is_cal")
        .transform(graft.Stage.mat) // feeds the model agg AND the score join
      val model = ev.filter(col("is_cal"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n_cal"), sum(col("vm")).as("sv"))
        .selectExpr("et", "n_cal", "sv DIV n_cal AS mean_cal_micros")
      val scored = ev.join(model, Seq("et"))
        .withColumn("score", abs(col("vm") - col("mean_cal_micros")))
        .transform(graft.Stage.mat) // feeds the q̂ window AND the coverage agg
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("et")).orderBy(col("score"), col("event_id"))
      val qhat = scored.filter(col("is_cal"))
        .withColumn("rn", row_number().over(w))
        // ⌈9(n+1)/10⌉ under truncating DIV: (a + b − 1) DIV b
        .filter(col("rn") === expr("CAST((9 * (n_cal + 1) + 9) DIV 10 AS INT)"))
        .select(col("et"), col("score").as("qhat_micros"))
      scored.filter(!col("is_cal"))
        .join(qhat, Seq("et"))
        .groupBy(col("et"), col("n_cal"), col("mean_cal_micros"), col("qhat_micros"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("score") <= col("qhat_micros"), 1L).otherwise(0L)).as("n_in"))
        .selectExpr("et", "n_cal", "n_test", "mean_cal_micros", "qhat_micros",
          "(n_in * 1000000) DIV n_test AS coverage_ppm")
        .orderBy(col("et"))
    }, Some("""
      WITH ev AS (
        SELECT event_type AS et, event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS vm,
               event_id % 2 = 0 AS is_cal
        FROM events WHERE value IS NOT NULL),
      model AS (
        SELECT et, CAST(count(*) AS BIGINT) AS n_cal,
               CAST(SUM(vm) AS BIGINT) // count(*) AS mean_cal_micros
        FROM ev WHERE is_cal GROUP BY et),
      scored AS (
        SELECT ev.et, ev.event_id, ev.is_cal, m.n_cal, m.mean_cal_micros,
               abs(ev.vm - m.mean_cal_micros) AS score
        FROM ev JOIN model m ON ev.et = m.et),
      qh AS (
        SELECT et, score AS qhat_micros
        FROM (SELECT et, score, n_cal,
                     row_number() OVER (PARTITION BY et
                       ORDER BY score, event_id) AS rn
              FROM scored WHERE is_cal)
        WHERE rn = (9 * (n_cal + 1) + 9) // 10)
      SELECT s.et, s.n_cal, CAST(count(*) AS BIGINT) AS n_test,
             s.mean_cal_micros, q.qhat_micros,
             (CAST(SUM(CASE WHEN s.score <= q.qhat_micros THEN 1 ELSE 0 END) AS BIGINT)
              * 1000000) // count(*) AS coverage_ppm
      FROM scored s JOIN qh q ON s.et = q.et
      WHERE NOT s.is_cal
      GROUP BY s.et, s.n_cal, s.mean_cal_micros, q.qhat_micros
      ORDER BY s.et""")),

    // ---- isotonic calibration of the q147 score-vs-label bins via the
    //      MINIMAX identity: iso_i = max_{j≤i} min_{k≥i} wmean(y[j..k])
    //      (Ayer et al. 1955 / Robertson-Wright-Dykstra) — equivalent
    //      to pool-adjacent-violators but SET-EXPRESSIBLE: interval
    //      means from prefix sums, then a min-per-(i,j) and a
    //      max-per-i aggregate, no sequential merge loop either engine
    //      would have to simulate. Monotonicity is guaranteed by the
    //      index-set structure (growing j-set, shrinking k-set), which
    //      holds even under truncated integer means — the in-data
    //      monotone_ok column certifies it anyway. This is the
    //      calibration MAP q147's ECE only diagnoses: the monotone
    //      score→probability table a production scorer actually applies.
    //
    //      Scale shape: the corpus pass is the q147 bin aggregate; the
    //      minimax runs on the ≤10-row bin table (≤ 55 intervals ×
    //      ≤ 10 positions) — constant work at any corpus size.
    ("q190_isotonic", (s: SparkSession, dir: String) => {
      val sc = stopwordScores(s, dir)
        .selectExpr("least(9L, (hits_scaled DIV ntoks) * 10 DIV 1000000) AS bin",
          "pos")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val pre = sc.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
        .withColumn("ord", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("bin")))
          .cast("long"))
        .withColumn("cw", sum(col("n")).over(w))
        .withColumn("cp", sum(col("np")).over(w))
        .transform(graft.Stage.mat) // tiny; feeds j-rows, k-rows, and the spine
      val jr = pre.select(col("ord").as("j"),
        (col("cw") - col("n")).as("cwp"), (col("cp") - col("np")).as("cpp"))
      val kr = pre.select(col("ord").as("k"), col("cw").as("cwk"), col("cp").as("cpk"))
      val iv = jr.join(broadcast(kr), col("j") <= col("k"))
        .selectExpr("j", "k", "((cpk - cpp) * 1000000) DIV (cwk - cwp) AS m")
      val iso = pre.select(col("ord").as("i"), col("bin"), col("n"), col("np"))
        .join(broadcast(iv), col("j") <= col("i") && col("k") >= col("i"))
        .groupBy(col("i"), col("bin"), col("n"), col("np"), col("j"))
        .agg(min(col("m")).as("tmin"))
        .groupBy(col("i"), col("bin"), col("n"), col("np"))
        .agg(max(col("tmin")).as("iso_ppm"))
      val wb = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      iso.withColumn("rate_ppm", expr("(np * 1000000) DIV n"))
        .withColumn("monotone_ok",
          col("iso_ppm") >= coalesce(lag(col("iso_ppm"), 1).over(wb), col("iso_ppm")))
        .select(col("bin"), col("n").as("n_docs"), col("rate_ppm"),
          col("iso_ppm"), col("monotone_ok"))
        .orderBy(col("bin"))
    }, Some {
      val sw = TextStats.stopwords.map("'" + _ + "'").mkString(",")
      s"""
      WITH sc AS (
        SELECT least(9, ((1000000 * len(list_filter(regexp_split_to_array(lower(text), '$ws+'),
                               t -> t IN ($sw))))
                 // greatest(len(regexp_split_to_array(lower(text), '$ws+')), 1))
                 * 10 // 1000000) AS bin,
               (lang = 'en') AS pos
        FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL),
      b AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np
        FROM sc GROUP BY bin),
      pre AS (
        SELECT bin, n, np,
               CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS ord,
               CAST(SUM(n) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
               CAST(SUM(np) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
        FROM b),
      iv AS (
        SELECT j.ord AS j, k.ord AS k,
               ((k.cp - (j.cp - j.np)) * 1000000)
                 // (k.cw - (j.cw - j.n)) AS m
        FROM pre j JOIN pre k ON j.ord <= k.ord),
      t1 AS (
        SELECT i.ord AS i, i.bin, i.n, i.np, iv.j, MIN(iv.m) AS tmin
        FROM pre i JOIN iv ON iv.j <= i.ord AND iv.k >= i.ord
        GROUP BY i.ord, i.bin, i.n, i.np, iv.j),
      iso AS (
        SELECT i, bin, n, np, CAST(MAX(tmin) AS BIGINT) AS iso_ppm
        FROM t1 GROUP BY i, bin, n, np)
      SELECT bin, n AS n_docs,
             (np * 1000000) // n AS rate_ppm,
             iso_ppm,
             iso_ppm >= COALESCE(lag(iso_ppm) OVER (ORDER BY bin), iso_ppm)
               AS monotone_ok
      FROM iso ORDER BY bin"""
    }),

    // ---- NDCG@10 (Järvelin & Kekäläinen 2002) over the q154/q164
    //      labels-as-relevance ranking: per query, DCG = Σ rel/log2(i+1)
    //      with each rank's discount pre-rounded to integer NANOS
    //      (round(1e9/log2(i+1)) — one float op per rank constant,
    //      identical IEEE in both engines), IDCG from the same constants
    //      over min(R, 10) ideal ranks (R = relevant corpus docs for the
    //      query's label), ndcg_ppm = DCG·1e6 DIV IDCG — all integers
    //      after the per-rank constants. zz row (-1) carries the mean.
    //      Completes the retrieval-eval suite: MRR says where the FIRST
    //      hit lands, P@k how MANY hit, NDCG how WELL-ORDERED they are.
    //
    //      Scale shape: the q154 one-scan broadcast ranking + two
    //      query-keyed aggregates; IDCG's sequence fold is ≤ 10
    //      elements per query.
    ("q180_ndcg", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      val queries = emb.filter(col("vec_id").between(1, 20))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          col("label").as("q_label"))
      val corpus = emb.filter(col("vec_id") > 20)
      val dcg = graft.text.Similarity
        .topKPerQuery(corpus, queries.select(col("q_id"), col("qvec")), 10,
          qidCol = "q_id")
        .join(corpus.select(col("vec_id"), col("label").as("c_label")),
          Seq("vec_id"))
        .join(broadcast(queries.select(col("q_id"), col("q_label"))), Seq("q_id"))
        .withColumn("gain", when(col("c_label") === col("q_label"),
          expr("CAST(round(1000000000 / log2(rn + 1)) AS BIGINT)"))
          .otherwise(0L))
        .groupBy(col("q_id")).agg(sum(col("gain")).as("dcg_nanos"))
      val rel = queries.select(col("q_id"), col("q_label"))
        .join(corpus.groupBy(col("label")).agg(count(lit(1)).as("r")),
          col("q_label") === col("label"), "left")
        .selectExpr("q_id", "coalesce(r, 0L) AS r")
      val per = dcg.join(rel, Seq("q_id"))
        .selectExpr("q_id", "dcg_nanos", "least(r, 10L) AS m")
        .selectExpr("q_id", "dcg_nanos",
          """CASE WHEN m >= 1 THEN
               aggregate(sequence(1L, m), CAST(0 AS BIGINT),
                 (acc, i) -> acc + CAST(round(1000000000 / log2(i + 1)) AS BIGINT))
             ELSE CAST(0 AS BIGINT) END AS idcg_nanos""")
        .selectExpr("q_id", "dcg_nanos", "idcg_nanos",
          """CASE WHEN idcg_nanos > 0 THEN (dcg_nanos * 1000000) DIV idcg_nanos
             ELSE 0L END AS ndcg_ppm""")
      val zz = per.agg(count(lit(1)).as("nq"), sum(col("ndcg_ppm")).as("sn"))
        .selectExpr("CAST(-1 AS BIGINT) AS q_id", "CAST(0 AS BIGINT) AS dcg_nanos",
          "CAST(0 AS BIGINT) AS idcg_nanos", "sn DIV nq AS ndcg_ppm")
      per.unionAll(zz).orderBy(col("q_id"))
    }, Some("""
      WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
               CAST(label AS BIGINT) AS q_label
        FROM embeddings WHERE vec_id BETWEEN 1 AND 20),
      c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CAST(label AS BIGINT) AS c_label
        FROM embeddings WHERE vec_id > 20),
      r AS (
        SELECT q_id, q_label, c_label,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rn
        FROM c JOIN q ON TRUE),
      dcg AS (
        SELECT q_id,
               CAST(SUM(CASE WHEN c_label = q_label
                 THEN CAST(round(1000000000 / log2(rn + 1)) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS dcg_nanos
        FROM r WHERE rn <= 10 GROUP BY q_id),
      rel AS (
        SELECT q.q_id,
               CAST(COALESCE((SELECT count(*) FROM c
                              WHERE c.c_label = q.q_label), 0) AS BIGINT) AS rr
        FROM q),
      per AS (
        SELECT d.q_id, d.dcg_nanos,
               CASE WHEN least(rr, 10) >= 1 THEN
                 CAST((SELECT SUM(CAST(round(1000000000 / log2(i + 1)) AS BIGINT))
                       FROM unnest(range(1, least(rr, 10) + 1)) AS t(i)) AS BIGINT)
               ELSE 0 END AS idcg_nanos
        FROM dcg d JOIN rel ON d.q_id = rel.q_id),
      scored AS (
        SELECT q_id, dcg_nanos, idcg_nanos,
               CASE WHEN idcg_nanos > 0 THEN (dcg_nanos * 1000000) // idcg_nanos
                    ELSE 0 END AS ndcg_ppm
        FROM per)
      SELECT q_id, dcg_nanos, idcg_nanos, ndcg_ppm FROM scored
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(SUM(ndcg_ppm) // count(*) AS BIGINT)
      FROM scored
      ORDER BY q_id""")),

    // ---- WOE / information value of order total vs the 'F' status
    //      label across 10 value-range bins + the zz IV row. The
    //      oracle replays the bucketing, the smoothed shares, all four
    //      nanos logs, and the signed truncating IV products.
    ("q227_woe_iv", (s: SparkSession, dir: String) => {
      woeIv(Tables(s, dir).orders,
        valueMicros = expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)"),
        isBad = col("o_orderstatus") === "F", bins = 10)
    }, Some {
      def l(e: String) = s"CAST(round(ln(CAST($e AS DOUBLE)) * 1000000000, 0) AS BIGINT)"
      s"""
      WITH base AS (
        SELECT CAST(floor(o_totalprice * 1000000) AS BIGINT) AS v,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
        FROM orders),
      rng AS (SELECT min(v) AS mnv, max(v) AS mxv FROM base),
      perbin AS (
        SELECT ((v - mnv) * 10) // (mxv - mnv + 1) + 1 AS bin,
               CAST(SUM(1 - bad) AS BIGINT) AS g, CAST(SUM(bad) AS BIGINT) AS b
        FROM base CROSS JOIN rng GROUP BY 1),
      tot AS (SELECT CAST(SUM(g) AS BIGINT) AS gt, CAST(SUM(b) AS BIGINT) AS bt
              FROM perbin),
      scored AS (
        SELECT bin, g AS n_good, b AS n_bad,
               (1000000 * (g + 1)) // (gt + 10) AS gs_ppm,
               (1000000 * (b + 1)) // (bt + 10) AS bs_ppm,
               ${l("g + 1")} - ${l("gt + 10")} - ${l("b + 1")} + ${l("bt + 10")}
                 AS woe_nanos
        FROM perbin CROSS JOIN tot),
      s2 AS (
        SELECT *, ((gs_ppm - bs_ppm) * woe_nanos) // 1000000000 AS iv_micros
        FROM scored)
      SELECT CAST(bin AS BIGINT) AS bin, n_good, n_bad,
             CAST(gs_ppm AS BIGINT) AS gs_ppm, CAST(bs_ppm AS BIGINT) AS bs_ppm,
             CAST(woe_nanos AS BIGINT) AS woe_nanos,
             CAST(iv_micros AS BIGINT) AS iv_micros
      FROM s2
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(SUM(n_good) AS BIGINT),
             CAST(SUM(n_bad) AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(SUM(iv_micros) AS BIGINT)
      FROM s2
      ORDER BY bin"""
    }),

    // ---- Krippendorff's alpha (nominal, 2 raters; Krippendorff 1970):
    //      chance-corrected agreement with POOLED value marginals —
    //      where q145's Cohen kappa corrects by each rater's OWN
    //      marginal, alpha treats the 2N judgments as one value
    //      population, which is the right correction when the "raters"
    //      are interchangeable gates (here: the n_chars ≥ 300 length
    //      gate vs the ≥ 55-whitespace-token gate judging the same
    //      documents). Binary nominal closed form, all exact integers:
    //        D_o = disagree / N
    //        D_e = 2·n0·n1 / (M·(M−1)),  M = 2N pooled judgments
    //        alpha_micros = 1e6 − (disagree·M·(M−1)·1e6)
    //                             DIV (2·N·n0·n1)
    //      (nonneg numerator/denominator — the floor-division
    //      convention; alpha itself may go negative by exact
    //      subtraction). DECIMAL(38,0) products hold to N ≈ 1e9.
    //
    //      Scale shape: ONE map-side-combined aggregate over a pure
    //      two-gate projection; no join, no window.
    ("q270_krippendorff", (s: SparkSession, dir: String) => {
      Tables(s, dir).documents
        .select((col("n_chars") >= 300L).cast("long").as("ra"),
          (TextStats.tokenCount(col("text")).cast("long") >= 55L)
            .cast("long").as("rb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ra") =!= col("rb"), 1L).otherwise(0L)).as("n_disagree"),
          sum(col("ra") + col("rb")).as("n1"))
        .selectExpr("n AS n_units", "2 * n - n1 AS n0", "n1", "n_disagree",
          "(n_disagree * 1000000) DIV n AS d_o_ppm",
          """CAST((CAST(2 AS DECIMAL(38,0)) * (2 * n - n1) * n1 * 1000000)
                DIV greatest(CAST(2 AS DECIMAL(38,0)) * n * (2 * n - 1), 1)
              AS BIGINT) AS d_e_ppm""",
          """1000000 - CAST((CAST(n_disagree AS DECIMAL(38,0)) * (2 * n)
                             * (2 * n - 1) * 1000000)
                DIV greatest(CAST(2 AS DECIMAL(38,0)) * n * (2 * n - n1) * n1, 1)
              AS BIGINT) AS alpha_micros""")
    }, Some(s"""
      WITH g AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
               CASE WHEN len(regexp_split_to_array(text, '$ws+')) >= 55
                    THEN 1 ELSE 0 END AS rb
        FROM documents),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ra <> rb THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_disagree,
               CAST(SUM(ra + rb) AS BIGINT) AS n1
        FROM g)
      SELECT n AS n_units, 2 * n - n1 AS n0, n1, n_disagree,
             (n_disagree * 1000000) // n AS d_o_ppm,
             CAST((CAST(2 AS HUGEINT) * (2 * n - n1) * n1 * 1000000)
                // greatest(CAST(2 AS HUGEINT) * n * (2 * n - 1), 1)
                AS BIGINT) AS d_e_ppm,
             1000000 - CAST((CAST(n_disagree AS HUGEINT) * (2 * n)
                             * (2 * n - 1) * 1000000)
                // greatest(CAST(2 AS HUGEINT) * n * (2 * n - n1) * n1, 1)
                AS BIGINT) AS alpha_micros
      FROM agg""")),

    // ---- diagonal-Mahalanobis embedding outliers: per-dimension
    //      standardized squared distance Σ_j (x_j − μ_j)²/σ_j², top-10
    //      by score — the anisotropy-aware outlier audit (plain L2
    //      treats every dimension as equally scaled; embedding dims are
    //      not). Exact integers through the n-scaling identity:
    //      (x − μ)²/σ² = (n·x − S)² / (n·SS − S²) — both n² factors
    //      cancel, so each per-dim term is (n·x − S)²·1e6 DIV vn in
    //      DECIMAL(38,0) (floored per term, summed after; |n·x| ≤ 1e15
    //      at 1e9 vectors keeps the square inside 38 digits).
    //
    //      Scale shape: one posexplode pass → d-row dimension stats
    //      (map-side combined, broadcast back) → per-vector sum →
    //      TakeOrderedAndProject top-10. No window, no fact-side sort.
    ("q272_mahalanobis_outliers", (s: SparkSession, dir: String) => {
      val xq = graft.Stage.mat(Tables(s, dir).embeddings
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("i0", "xf")))
        .selectExpr("vec_id", "label", "CAST(i0 + 1 AS BIGINT) AS j",
          "CAST(floor(CAST(xf AS DOUBLE) * 1000000) AS BIGINT) AS x"))
      val stats = xq.groupBy(col("j")).agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("ssx"))
        .selectExpr("j", "n", "sx",
          "CAST(n AS DECIMAL(38,0)) * ssx - CAST(sx AS DECIMAL(38,0)) * sx AS vn")
      xq.join(broadcast(stats), Seq("j"))
        .selectExpr("vec_id", "label",
          """CAST((CAST(n AS DECIMAL(38,0)) * x - sx)
                * (CAST(n AS DECIMAL(38,0)) * x - sx) * 1000000
                DIV greatest(vn, 1) AS BIGINT) AS term_ppm""")
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("term_ppm")).as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("vec_id")).limit(10)
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                        CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      ix AS (SELECT vec_id, label, v, unnest(range(1, len(v) + 1)) AS j
             FROM e),
      xq AS (SELECT vec_id, label, CAST(j AS BIGINT) AS j,
                    CAST(floor(list_extract(v, j) * 1000000) AS BIGINT) AS x
             FROM ix),
      st AS (SELECT j, CAST(count(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS BIGINT) AS sx,
                    SUM(CAST(x AS HUGEINT) * x) AS ssx
             FROM xq GROUP BY j),
      vv AS (SELECT j, n, sx,
                    CAST(n AS HUGEINT) * ssx - CAST(sx AS HUGEINT) * sx AS vn
             FROM st),
      sc AS (SELECT vec_id, label,
                    CAST(SUM((CAST(n AS HUGEINT) * x - sx)
                             * (CAST(n AS HUGEINT) * x - sx) * 1000000
                             // greatest(vn, 1)) AS BIGINT) AS score_ppm
             FROM xq JOIN vv ON xq.j = vv.j GROUP BY vec_id, label)
      SELECT vec_id, label, score_ppm FROM sc
      ORDER BY score_ppm DESC, vec_id LIMIT 10""")),

    // ---- leakage-safe label construction: the supervised-learning
    //      prep step q244's purged CV presupposes — features from the
    //      OBSERVATION window [t₀, cutoff), label = any activity in the
    //      OUTCOME window [cutoff, t₁], cutoff = calendar midpoint. The
    //      zz row CERTIFIES the temporal firewall in-plan: the maximum
    //      feature timestamp must sit strictly before the cutoff
    //      (leak_free = 1 hashed against the oracle's replay), so a
    //      refactor that lets a post-cutoff event into a feature fails
    //      the gate instead of silently inflating offline metrics.
    //      Cold-start users (outcome-window-only) are excluded by
    //      construction — features must exist to predict with.
    //
    //      Scale shape: one user-grain aggregate per window, one
    //      user-co-keyed join, everything map-side combined.
    ("q285_label_windows", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .selectExpr("user_id",
          "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od",
          "event_type")
      val cut = ev.agg(expr("(min(od) + max(od) + 1) DIV 2").as("cutoff"))
      val obs = ev.crossJoin(broadcast(cut)).filter(col("od") < col("cutoff"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events_obs"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchase_obs"),
          max(col("od")).as("last_od_obs"))
      val out = ev.crossJoin(broadcast(cut)).filter(col("od") >= col("cutoff"))
        .select(col("user_id")).distinct().withColumn("label", lit(1L))
      val rows = obs.join(out, Seq("user_id"), "left")
        .selectExpr("user_id", "n_events_obs", "n_purchase_obs",
          "last_od_obs", "coalesce(label, 0) AS label")
        .transform(graft.Stage.mat)
      val zz = rows.crossJoin(broadcast(cut)).agg(
        count(lit(1)).as("n_users"), max(col("cutoff")).as("cutoff"),
        max(col("last_od_obs")).as("max_obs_od"))
        .selectExpr("CAST(-1 AS BIGINT) AS user_id", "n_users AS n_events_obs",
          "cutoff AS n_purchase_obs", "max_obs_od AS last_od_obs",
          "CAST(CASE WHEN max_obs_od < cutoff THEN 1 ELSE 0 END AS BIGINT) AS label")
      rows.unionByName(zz).orderBy(col("user_id"))
    }, Some("""
      WITH ev AS (
        SELECT user_id,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                 AS od,
               event_type
        FROM events WHERE user_id IS NOT NULL),
      cut AS (SELECT (MIN(od) + MAX(od) + 1) // 2 AS cutoff FROM ev),
      obs AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events_obs,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_purchase_obs,
               MAX(od) AS last_od_obs
        FROM ev CROSS JOIN cut WHERE od < cutoff GROUP BY user_id),
      outw AS (
        SELECT DISTINCT user_id FROM ev CROSS JOIN cut WHERE od >= cutoff),
      rows_ AS (
        SELECT o.user_id, o.n_events_obs, o.n_purchase_obs, o.last_od_obs,
               CAST(CASE WHEN w.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
                 AS label
        FROM obs o LEFT JOIN outw w ON o.user_id = w.user_id)
      SELECT user_id, n_events_obs, n_purchase_obs, last_od_obs, label
      FROM rows_
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
             MAX(cutoff), MAX(last_od_obs),
             CAST(CASE WHEN MAX(last_od_obs) < MAX(cutoff) THEN 1 ELSE 0 END
               AS BIGINT)
      FROM rows_ CROSS JOIN cut
      ORDER BY user_id""")),

    // ---- Brier score with the Murphy (1973) decomposition:
    //      Brier = REL − RES + UNC over 10 deterministic hash-score
    //      bins (forecast p̂ = (2b+1)/20, outcome = the q236 high-value
    //      predicate) — reliability (calibration error), resolution
    //      (discrimination) and base-rate uncertainty in one exact-
    //      integer pass. Each term is floored ONCE to micros, so the
    //      identity is certified in-plan up to ±3 floor slop
    //      (murphy_ok) — both engines replay the identical floors, and
    //      a real identity violation (wrong binning, wrong base rate)
    //      lands far outside the slop. REL/RES use the cross-multiplied
    //      exact forms (p·n_k − 1e6·s_k)²/n_k and (s_k·n − s·n_k)²/n_k
    //      in DECIMAL(38,0) — valid to ~1e9 rows.
    ("q286_brier_decomposition", (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).events.select(
        (graft.text.TextStats.portableHash64(
          concat(lit("br:"), col("event_id").cast("string"))) % 10L).as("b"),
        when(col("value") >= 35.0, 1L).otherwise(0L).as("y"))
        .withColumn("p", (lit(2L) * col("b") + 1L) * 50000L)
      val bins = base.groupBy(col("b"), col("p"))
        .agg(count(lit(1)).as("n_k"), sum(col("y")).as("s_k"))
      val tot = bins.agg(sum(col("n_k")).as("n"), sum(col("s_k")).as("s"))
      val direct = base.crossJoin(broadcast(tot))
        .selectExpr("CAST(p - 1000000 * y AS DECIMAL(38,0)) AS d", "n")
        .agg(max(col("n")).as("n"), sum(expr("d * d")).as("sq"))
        .selectExpr("CAST(sq DIV (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT) AS brier_micros")
      bins.crossJoin(broadcast(tot)).agg(
        max(col("n")).as("n"), max(col("s")).as("s"),
        sum(expr("""(CAST(p AS DECIMAL(38,0)) * n_k - 1000000 * s_k)
                    * (CAST(p AS DECIMAL(38,0)) * n_k - 1000000 * s_k)
                    DIV n_k""")).as("rel_num"),
        sum(expr("""(CAST(s_k AS DECIMAL(38,0)) * n - CAST(s AS DECIMAL(38,0)) * n_k)
                    * (CAST(s_k AS DECIMAL(38,0)) * n - CAST(s AS DECIMAL(38,0)) * n_k)
                    DIV n_k""")).as("res_num"))
        .selectExpr("n", "s", "(s * 1000000) DIV n AS ybar_ppm",
          "CAST(rel_num DIV (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT) AS rel_micros",
          """CAST(res_num * 1000000
                DIV (CAST(n AS DECIMAL(38,0)) * n * n) AS BIGINT) AS res_micros""",
          """CAST((CAST(s AS DECIMAL(38,0)) * (n - s) * 1000000)
                DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) AS unc_micros""")
        .crossJoin(broadcast(direct))
        .selectExpr("n", "ybar_ppm", "brier_micros", "rel_micros", "res_micros",
          "unc_micros",
          """CAST(CASE WHEN abs(brier_micros - (rel_micros - res_micros + unc_micros)) <= 3
                  THEN 1 ELSE 0 END AS BIGINT) AS murphy_ok""")
    }, Some {
      val h = graft.text.TextStats.portableHash64Sql(
        "concat('br:', CAST(event_id AS VARCHAR))")
      s"""
      WITH base AS (
        SELECT $h % 10 AS b,
               CASE WHEN value >= 35.0 THEN 1 ELSE 0 END AS y
        FROM events),
      wp AS (SELECT b, (2 * b + 1) * 50000 AS p, y FROM base),
      bins AS (SELECT b, p, CAST(count(*) AS BIGINT) AS n_k,
                      CAST(SUM(y) AS BIGINT) AS s_k
               FROM wp GROUP BY b, p),
      tot AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n, CAST(SUM(s_k) AS BIGINT) AS s
              FROM bins),
      direct AS (
        SELECT CAST(SUM(CAST(p - 1000000 * y AS HUGEINT)
                        * (p - 1000000 * y))
                    // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS brier_micros
        FROM wp CROSS JOIN tot GROUP BY n),
      terms AS (
        SELECT MAX(n) AS n, MAX(s) AS s,
               SUM((CAST(p AS HUGEINT) * n_k - 1000000 * s_k)
                   * (CAST(p AS HUGEINT) * n_k - 1000000 * s_k) // n_k) AS rel_num,
               SUM((CAST(s_k AS HUGEINT) * n - CAST(s AS HUGEINT) * n_k)
                   * (CAST(s_k AS HUGEINT) * n - CAST(s AS HUGEINT) * n_k) // n_k)
                 AS res_num
        FROM bins CROSS JOIN tot),
      scored AS (
        SELECT n, (s * 1000000) // n AS ybar_ppm,
               CAST(rel_num // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
                 AS rel_micros,
               CAST(res_num * 1000000 // (CAST(n AS HUGEINT) * n * n) AS BIGINT)
                 AS res_micros,
               CAST((CAST(s AS HUGEINT) * (n - s) * 1000000)
                    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS unc_micros
        FROM terms)
      SELECT n, ybar_ppm, brier_micros, rel_micros, res_micros, unc_micros,
             CAST(CASE WHEN abs(brier_micros
                               - (rel_micros - res_micros + unc_micros)) <= 3
                  THEN 1 ELSE 0 END AS BIGINT) AS murphy_ok
      FROM scored CROSS JOIN direct"""
    }),

    // ---- simplified (centroid) silhouette for the q225/q258 k-means
    //      partition (Rousseeuw 1987's silhouette with the per-point
    //      neighbor distances replaced by centroid distances — the
    //      standard O(n·k) form, since the exact pairwise silhouette is
    //      quadratic by definition): per vector a = cosine distance to
    //      its own final centroid, b = distance to the best OTHER
    //      centroid, s = (b − a)/max(a, b); per cluster the member
    //      count and mean s in micros + the zz overall row. ~1e6 is
    //      well-separated, ~0 says the clusters touch — the "was k=4
    //      reasonable" readout the SemDeDup/DBSCAN family assumes.
    //      Centroids come from Similarity.kmeansFitMemo (the
    //      IDENTICAL fit the oracle replays: hash seeds, round-6
    //      means); scoring is a k-literal broadcast projection, one
    //      map-side-combined aggregate, no window, no join.
    ("q288_silhouette", (s: SparkSession, dir: String) => {
      val emb = Tables(s, dir).embeddings
      // same fit the cell-bounded family scores against ⇒ same k
      // contract (Similarity.cellCountFor, r8 ask #1); oracle kp CTE twin
      val k = graft.text.Similarity.cellCountFor(emb.count())
      // identical fit, from the per-corpus memo (Similarity.kmeansFitMemo)
      val cents = graft.text.Similarity.kmeansFitMemo(s, dir, k, 64)
      val e = emb.select(col("vec_id"), col("embedding").as("v"))
      val cosCols = cents.map { case (i, c) =>
        round(graft.text.Similarity.cosine(col("v"), typedlit(c)), 6).as(s"c$i") }
      val own = greatest(cents.map { case (i, _) =>
        struct(col(s"c$i").as("s"), lit(-i).as("nid")) }: _*)
      val wc = e.select((col("vec_id") +: cosCols): _*)
        .withColumn("m", own)
        .withColumn("cid", (-col("m.nid")).cast("int"))
      val second = greatest(cents.map { case (i, _) =>
        struct(when(col("cid") === i, lit(-2.0d)).otherwise(col(s"c$i")).as("s"),
          lit(-i).as("nid")) }: _*)
      val scored = wc.withColumn("m2", second)
        .selectExpr("vec_id", "CAST(cid AS BIGINT) AS cid",
          "CAST(1000000 - round(`m`.s * 1000000, 0) AS BIGINT) AS a_m",
          "CAST(1000000 - round(`m2`.s * 1000000, 0) AS BIGINT) AS b_m")
        .selectExpr("cid",
          """CAST(CASE WHEN b_m - a_m < 0
                  THEN -(((a_m - b_m) * 1000000) DIV greatest(greatest(a_m, b_m), 1))
                  ELSE ((b_m - a_m) * 1000000) DIV greatest(greatest(a_m, b_m), 1)
                  END AS BIGINT) AS s_micros""")
        .transform(graft.Stage.mat)
      val meanSafe = """CAST(CASE WHEN ss < 0 THEN -((-ss) DIV n_members)
                             ELSE ss DIV n_members END AS BIGINT)
                        AS mean_sil_micros"""
      val per = scored.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("s_micros")).as("ss"))
        .selectExpr("cid", "n_members", meanSafe)
      val zz = scored.agg(count(lit(1)).as("n_members"),
        sum(col("s_micros")).as("ss"))
        .selectExpr("CAST(-1 AS BIGINT) AS cid", "n_members", meanSafe)
      per.unionByName(zz).orderBy(col("cid"))
    }, Some(s"""
      WITH ${graft.text.Similarity.kmeansFitSql},
      cos2 AS (SELECT e.vec_id, c.cid,
                 round(list_cosine_similarity(e.v, c.cv), 6) AS cs
               FROM e CROSS JOIN c2 c),
      own AS (SELECT vec_id, cid, cs,
                row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
              FROM cos2),
      aown AS (SELECT vec_id, cid AS own_cid,
                 CAST(1000000 - round(cs * 1000000, 0) AS BIGINT) AS a_m
               FROM own WHERE rn = 1),
      bbest AS (SELECT c.vec_id,
                  CAST(1000000 - round(MAX(c.cs) * 1000000, 0) AS BIGINT) AS b_m
                FROM cos2 c JOIN aown o
                  ON c.vec_id = o.vec_id AND c.cid <> o.own_cid
                GROUP BY c.vec_id),
      sil AS (
        SELECT o.own_cid AS cid,
               CAST(CASE WHEN b.b_m - o.a_m < 0
                 THEN -(((o.a_m - b.b_m) * 1000000)
                        // greatest(greatest(o.a_m, b.b_m), 1))
                 ELSE ((b.b_m - o.a_m) * 1000000)
                      // greatest(greatest(o.a_m, b.b_m), 1)
                 END AS BIGINT) AS s_micros
        FROM aown o JOIN bbest b ON o.vec_id = b.vec_id)
      SELECT CAST(cid AS BIGINT) AS cid, CAST(count(*) AS BIGINT) AS n_members,
             CAST(CASE WHEN SUM(s_micros) < 0
                  THEN -((-SUM(s_micros)) // count(*))
                  ELSE SUM(s_micros) // count(*) END AS BIGINT)
               AS mean_sil_micros
      FROM sil GROUP BY cid
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
             CAST(CASE WHEN SUM(s_micros) < 0
                  THEN -((-SUM(s_micros)) // count(*))
                  ELSE SUM(s_micros) // count(*) END AS BIGINT)
      FROM sil
      ORDER BY cid""")),

    // ---- Bradley–Terry preference strengths over order-level part
    //      duels — the pairwise-preference primitive (the reward-model
    //      fit of an RLHF pipeline, run here on fully deterministic
    //      duels so the whole MM iteration is value-checked): universe
    //      = top-24 most-ordered parts; within an order the larger
    //      floor-micros quantity wins; 3 exact integer MM rounds. The
    //      oracle rebuilds duels, win/comparison tables, and unrolls
    //      all 3 rounds via btIterSql — token-for-token the driver
    //      fold's arithmetic.
    ("q297_bradley_terry", (s: SparkSession, dir: String) =>
      bradleyTerry(Tables(s, dir).lineitem),
      Some(s"""
      WITH oq AS (SELECT l_orderkey AS o, l_partkey AS p,
              CAST(SUM(CAST(floor(l_quantity * 1000000) AS BIGINT)) AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2),
      top AS (SELECT p FROM (SELECT p, count(*) AS c FROM oq GROUP BY p
              ORDER BY c DESC, p LIMIT 24)),
      lu AS (SELECT oq.* FROM oq JOIN top USING (p)),
      w AS (SELECT a.p AS i, b.p AS j, CAST(count(*) AS BIGINT) AS wins
            FROM lu a JOIN lu b ON a.o = b.o AND a.p <> b.p AND a.q > b.q
            GROUP BY 1, 2),
      nsym AS (SELECT i, j, CAST(SUM(n) AS BIGINT) AS n FROM (
                 SELECT i, j, wins AS n FROM w
                 UNION ALL SELECT j AS i, i AS j, wins AS n FROM w)
               GROUP BY 1, 2),
      wt AS (SELECT top.p AS i, CAST(COALESCE(SUM(w.wins), 0) AS BIGINT) AS w_total
             FROM top LEFT JOIN w ON w.i = top.p GROUP BY 1),
      r0 AS (SELECT p AS i, CAST(1000000 AS BIGINT) AS s FROM top),
      ${btIterSql(1)},
      ${btIterSql(2)},
      ${btIterSql(3)},
      nc AS (SELECT i, CAST(SUM(n) AS BIGINT) AS n_comp FROM nsym GROUP BY i)
      SELECT wt.i AS p, wt.w_total AS n_wins,
             CAST(COALESCE(nc.n_comp, 0) AS BIGINT) AS n_comp,
             r3.s AS strength_micros
      FROM wt LEFT JOIN nc ON nc.i = wt.i JOIN r3 ON r3.i = wt.i
      ORDER BY p""")),

    // ---- deterministic ε-greedy bandit replay (Sutton & Barto's
    //      textbook policy, made exactly replayable): arms = event
    //      types, one decision per calendar day, reward = that day's
    //      truncated-mean event value in micros (absent arm-day → 0).
    //      Exploration fires when md5-hash('eg:'||day_rank) % 10 < 2
    //      (ε = 0.2) and picks arm hash('ega:'||rank) % n_arms;
    //      exploitation takes the best running truncated mean with
    //      unpulled arms at +∞ (pull-each-arm-first) and ties to the
    //      lowest arm index. This is the POLICY-SELECTION eval an
    //      experimentation pipeline replays offline before deploying a
    //      bandit — scored here against the hindsight-best fixed arm
    //      (zz_best/zz_policy/zz_regret rows). The day×arm reward
    //      matrix is index-sized (require-bounded), so the sequential
    //      fold runs on the driver (kmeansFit precedent); the oracle
    //      replays the ENTIRE episode in a recursive CTE that carries
    //      the per-arm (n, s) state as a LIST column — scalar
    //      list_transform/list_max/list_position only, no aggregate
    //      ever touches the recursive reference — so every pull,
    //      update, and tie-break is value-checked cross-engine.
    ("q302_bandit_replay", (s: SparkSession, dir: String) => {
      val spark = s
      import spark.implicits._
      val ev = Tables(s, dir).events
        .selectExpr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS od",
          "event_type AS arm", "CAST(floor(value * 1000000) AS BIGINT) AS vm")
      val rw = ev.groupBy(col("od"), col("arm"))
        .agg(expr("sum(vm) DIV count(1)").as("rm"))
        .as[(Long, String, Long)].collect()
      val arms = rw.map(_._2).distinct.sorted
      val days = rw.map(_._1).distinct.sorted
      require(arms.length <= 64 && days.length <= 4096,
        s"bandit replay state is (arms=${arms.length}) × (days=${days.length}) — " +
          "index-sized by contract; re-bucket the day grain past 4096")
      val ai = arms.zipWithIndex.toMap
      val rm = rw.map { case (od, a, r) => (days.indexOf(od) + 1, ai(a)) -> r }.toMap
      def pHash(x: String): Long = {
        val b = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        graft.catalyst.PortableWinnow.portableHash(b, b.length)
      }
      val n = Array.fill(arms.length)(0L)
      val sm = Array.fill(arms.length)(0L)
      for (rd <- 1 to days.length) {
        val cidx =
          if (pHash(s"eg:$rd") % 10L < 2L) (pHash(s"ega:$rd") % arms.length).toInt
          else {
            val keys = Array.tabulate(arms.length)(i =>
              if (n(i) == 0L) Long.MaxValue else sm(i) / n(i))
            keys.indexOf(keys.max)
          }
        n(cidx) += 1L
        sm(cidx) += rm.getOrElse((rd, cidx), 0L)
      }
      val t = days.length.toLong
      val policyTotal = sm.sum
      val bestTotal = arms.indices.map(i =>
        (1 to days.length).map(rd => rm.getOrElse((rd, i), 0L)).sum).max
      val perArm = arms.indices.map(i =>
        (arms(i), n(i), sm(i), if (n(i) == 0L) 0L else sm(i) / n(i)))
      // regret can be NEGATIVE (a day-switching policy may beat the best
      // FIXED arm) — sign-safe truncation, the suite-wide negative-DIV
      // discipline
      val rg = bestTotal - policyTotal
      val rgMean = if (rg < 0L) -((-rg) / t) else rg / t
      val zz = Seq(
        ("zz_best", t, bestTotal, bestTotal / t),
        ("zz_policy", t, policyTotal, policyTotal / t),
        ("zz_regret", t, rg, rgMean))
      (perArm ++ zz).toDF("arm", "n_pulls", "sum_rm", "mean_rm")
        .orderBy(col("arm"))
    }, Some {
      val hE = graft.text.TextStats.portableHash64Sql(
        "concat('eg:', CAST(r.rd + 1 AS VARCHAR))")
      val hA = graft.text.TextStats.portableHash64Sql(
        "concat('ega:', CAST(r.rd + 1 AS VARCHAR))")
      // chosen 0-based arm index for step rd+1 — spelled once here,
      // interpolated twice below (condition + reward lookup)
      val cidx =
        s"""CASE WHEN $hE % 10 < 2 THEN $hA % na.n_arms
                 ELSE list_position(
                        list_transform(range(1, na.n_arms + 1), ii ->
                          CASE WHEN r.st[ii]['n'] = 0 THEN 9223372036854775807
                               ELSE r.st[ii]['s'] // r.st[ii]['n'] END),
                        list_max(
                          list_transform(range(1, na.n_arms + 1), ii ->
                            CASE WHEN r.st[ii]['n'] = 0 THEN 9223372036854775807
                                 ELSE r.st[ii]['s'] // r.st[ii]['n'] END))) - 1
            END"""
      s"""
      WITH RECURSIVE
      ev AS (SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS od,
                    event_type AS arm, CAST(floor(value * 1000000) AS BIGINT) AS vm
             FROM events),
      arms AS (SELECT arm, CAST(row_number() OVER (ORDER BY arm) - 1 AS BIGINT) AS ai
               FROM (SELECT DISTINCT arm FROM ev)),
      na AS (SELECT CAST(count(*) AS BIGINT) AS n_arms FROM arms),
      days AS (SELECT od, CAST(row_number() OVER (ORDER BY od) AS BIGINT) AS rd
               FROM (SELECT DISTINCT od FROM ev)),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS t_max FROM days),
      rmt AS (SELECT od, arm, CAST(SUM(vm) // count(*) AS BIGINT) AS rm
              FROM ev GROUP BY od, arm),
      rlist AS (SELECT d.rd, list(COALESCE(r.rm, 0) ORDER BY a.ai) AS rs
                FROM days d CROSS JOIN arms a
                LEFT JOIN rmt r ON r.od = d.od AND r.arm = a.arm
                GROUP BY d.rd),
      rec AS (
        SELECT CAST(0 AS BIGINT) AS rd,
               (SELECT list_transform(range(1, n_arms + 1),
                  x -> struct_pack(n := CAST(0 AS BIGINT), s := CAST(0 AS BIGINT)))
                FROM na) AS st
        UNION ALL
        SELECT r.rd + 1,
               list_transform(range(1, na.n_arms + 1), x ->
                 CASE WHEN x - 1 = ($cidx)
                      THEN struct_pack(n := r.st[x]['n'] + 1,
                                       s := r.st[x]['s'] + rl.rs[CAST(($cidx) AS BIGINT) + 1])
                      ELSE r.st[x] END)
        FROM rec r, na, nt, rlist rl
        WHERE r.rd < nt.t_max AND rl.rd = r.rd + 1),
      fin AS (SELECT st FROM rec, nt WHERE rd = nt.t_max),
      per AS (SELECT a.arm, fin.st[a.ai + 1]['n'] AS n_pulls,
                     fin.st[a.ai + 1]['s'] AS sum_rm
              FROM arms a CROSS JOIN fin),
      ptot AS (SELECT CAST(SUM(sum_rm) AS BIGINT) AS pt FROM per),
      btot AS (SELECT MAX(tot) AS bt FROM (
                 SELECT a.ai, CAST(SUM(COALESCE(r.rm, 0)) AS BIGINT) AS tot
                 FROM arms a CROSS JOIN days d
                 LEFT JOIN rmt r ON r.od = d.od AND r.arm = a.arm
                 GROUP BY a.ai))
      SELECT arm, CAST(n_pulls AS BIGINT) AS n_pulls,
             CAST(sum_rm AS BIGINT) AS sum_rm,
             CAST(CASE WHEN n_pulls = 0 THEN 0 ELSE sum_rm // n_pulls END AS BIGINT) AS mean_rm
      FROM per
      UNION ALL SELECT 'zz_best', t_max, bt, bt // t_max FROM btot, nt
      UNION ALL SELECT 'zz_policy', t_max, pt, pt // t_max FROM ptot, nt
      UNION ALL SELECT 'zz_regret', t_max, bt - pt,
                       CASE WHEN bt - pt < 0 THEN -((pt - bt) // t_max)
                            ELSE (bt - pt) // t_max END
                FROM btot, ptot, nt
      ORDER BY arm"""
    }),

    // ---- Fleiss' kappa (Fleiss 1971): chance-corrected agreement of
    //      THREE raters — the multi-rater nominal member of the
    //      agreement family (q145 Cohen's two-rater κ, q270
    //      Krippendorff's α). Raters are three deterministic language
    //      identifiers: the full stopword-profile predictor and the
    //      same predictor run on the two disjoint profile HALVES —
    //      degraded raters with real disagreement, no RNG. With r = 3
    //      everything is exact-rational: per item Σ_j n_ij² is 9/5/3
    //      by the equality pattern of the three votes, and
    //        κ = (3N·(S − 3N) − 2Σc²) / (18N² − 2Σc²)
    //      (both sides ×18N²; S = Σ_i Σ_j n_ij², c_j = category
    //      marginals), emitted in ppm with the sign kept OUT of the
    //      truncating DIV. Both engines' integer division truncates
    //      toward zero (verified: DuckDB -7 // 2 = -3, same as Spark
    //      DIV — see the file header), so the sign wrap is belt-and-
    //      braces for magnitude-identical rounding, not a divergence
    //      fix; κ < 0 is reachable.
    //      DECIMAL(38,0)/HUGEINT products throughout (18N² crosses
    //      BIGINT near N ≈ 7e8 docs). Output: per-category marginal
    //      rows (share of all 3N ratings) + zz_pbar (observed
    //      agreement ppm) + zz_kappa.
    //
    //      Scale shape: one predictor projection (three native
    //      filter/size expressions per row), one count, one 4-row
    //      marginal aggregate — nothing scales past the corpus scan.
    ("q354_fleiss_kappa", (s: SparkSession, dir: String) => {
      import graft.text.TextStats
      val halves = TextStats.langProfiles.map { case (l, ws) =>
        (l, ws.take((ws.size + 1) / 2), ws.drop((ws.size + 1) / 2)) }
      // tokenize ONCE; all 12 (rater × lang) scores read the shared
      // token array — the naive per-rater predictor re-runs the regexp
      // split 12× per row (measured 9.7 → 1.2 s min at sf0.1)
      val tk = Tables(s, dir).documents
        .select(TextStats.tokens(lower(col("text"))).as("tk"))
      val preds = graft.Stage.mat(tk.select(
        TextStats.langIdPredictedWith(col("tk"), TextStats.langProfiles).as("r1"),
        TextStats.langIdPredictedWith(col("tk"), halves.map(t => (t._1, t._2))).as("r2"),
        TextStats.langIdPredictedWith(col("tk"), halves.map(t => (t._1, t._3))).as("r3")))
      val items = preds.selectExpr(
          """CASE WHEN r1 = r2 AND r2 = r3 THEN 9
                  WHEN r1 = r2 OR r2 = r3 OR r1 = r3 THEN 5
                  ELSE 3 END AS sq""")
        .agg(count(lit(1)).as("n"), sum(col("sq")).as("ssum"))
      val cats = graft.Stage.mat(preds
        .select(explode(array(col("r1"), col("r2"), col("r3"))).as("cat"))
        .groupBy(col("cat")).agg(count(lit(1)).as("c")))
      val c2 = cats.agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("c2"))
      val nRow = graft.Stage.mat(items.crossJoin(broadcast(c2)))
      val perCat = cats.crossJoin(broadcast(nRow.select(col("n"))))
        .selectExpr("cat", "c AS n_ratings",
          "(1000000 * c) DIV (3 * n) AS stat_ppm")
      val zz = nRow.selectExpr("n", "ssum", "c2",
          "CAST(3 AS DECIMAL(38,0)) * n * (ssum - 3 * n) - 2 * c2 AS knum",
          "greatest(CAST(18 AS DECIMAL(38,0)) * n * n - 2 * c2, 1) AS kden")
        .selectExpr(
          "'zz_pbar' AS cat", "3 * n AS n_ratings",
          "(1000000 * (ssum - 3 * n)) DIV (6 * n) AS stat_ppm",
          "knum", "kden")
        .selectExpr("cat", "n_ratings", "stat_ppm")
        .unionByName(nRow.selectExpr(
          "CAST(3 AS DECIMAL(38,0)) * n * (ssum - 3 * n) - 2 * c2 AS knum",
          "greatest(CAST(18 AS DECIMAL(38,0)) * n * n - 2 * c2, 1) AS kden",
          "n")
          .selectExpr("'zz_kappa' AS cat", "3 * n AS n_ratings",
            """CAST(CASE WHEN knum < 0
                 THEN -((CAST(1000000 AS DECIMAL(38,0)) * (- knum)) DIV kden)
                 ELSE (CAST(1000000 AS DECIMAL(38,0)) * knum) DIV kden
               END AS BIGINT) AS stat_ppm"""))
      perCat.unionByName(zz).orderBy(col("cat"))
    }, Some {
      import graft.text.TextStats
      val ws = TextStats.wsClassSql
      def score(words: Seq[String]): String =
        s"len(list_filter(regexp_split_to_array(lower(text), '$ws+'), t -> t IN (${words.map("'" + _ + "'").mkString(",")})))"
      def predSql(profiles: Seq[(String, Seq[String])]): String = {
        val m = profiles.toMap
        s"""CASE WHEN ${score(m("fr"))} >= ${score(m("es"))} AND ${score(m("fr"))} >= ${score(m("en"))} AND ${score(m("fr"))} >= ${score(m("de"))} THEN 'fr'
             WHEN ${score(m("es"))} >= ${score(m("en"))} AND ${score(m("es"))} >= ${score(m("de"))} THEN 'es'
             WHEN ${score(m("en"))} >= ${score(m("de"))} THEN 'en'
             ELSE 'de' END"""
      }
      val halves = TextStats.langProfiles.map { case (l, wds) =>
        (l, wds.take((wds.size + 1) / 2), wds.drop((wds.size + 1) / 2)) }
      s"""
      WITH preds AS (
        SELECT ${predSql(TextStats.langProfiles)} AS r1,
               ${predSql(halves.map(t => (t._1, t._2)))} AS r2,
               ${predSql(halves.map(t => (t._1, t._3)))} AS r3
        FROM documents),
      items AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN r1 = r2 AND r2 = r3 THEN 9
                             WHEN r1 = r2 OR r2 = r3 OR r1 = r3 THEN 5
                             ELSE 3 END) AS BIGINT) AS ssum
        FROM preds),
      cats AS (
        SELECT cat, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest([r1, r2, r3]) AS cat FROM preds) GROUP BY cat),
      c2t AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS c2 FROM cats),
      nrow AS (SELECT n, ssum, c2 FROM items CROSS JOIN c2t),
      k AS (SELECT n, ssum, c2,
                   CAST(3 AS HUGEINT) * n * (ssum - 3 * n) - 2 * c2 AS knum,
                   GREATEST(CAST(18 AS HUGEINT) * n * n - 2 * c2, 1) AS kden
            FROM nrow)
      SELECT cat, c AS n_ratings,
             (1000000 * c) // (3 * (SELECT n FROM items)) AS stat_ppm
      FROM cats
      UNION ALL
      SELECT 'zz_kappa', 3 * n,
             CAST(CASE WHEN knum < 0
                  THEN -((CAST(1000000 AS HUGEINT) * (- knum)) // kden)
                  ELSE (CAST(1000000 AS HUGEINT) * knum) // kden
                  END AS BIGINT)
      FROM k
      UNION ALL
      SELECT 'zz_pbar', 3 * n, (1000000 * (ssum - 3 * n)) // (6 * n)
      FROM items
      ORDER BY cat"""
    })
  )

  /** Weight-of-evidence / information-value binning (the credit-scoring
    * feature readout, Siddiqi 2006): the feature is cut into 10
    * VALUE-RANGE bins (the q216 bucketing — no global sort), each bin
    * scored WOE = ln(good-share / bad-share) with add-one smoothing on
    * the integer-nanos log grid:
    *   woe_nanos = L(g_b+1) − L(G+10) − L(b_b+1) + L(B+10)
    * (every L argument an integer — the q197 convention), and the IV
    * contribution ((gs−bs)·woe) div 1e9 in micros; the zz row sums IV.
    * IV < 0.02 ⇒ the feature is useless for this label; > 0.5 ⇒
    * suspiciously strong (leakage check). One pass to the bin
    * aggregate; everything after runs on 10 rows.
    */
  def woeIv(df: DataFrame, valueMicros: Column, isBad: Column,
            bins: Int = 10): DataFrame = {
    def L(e: String) = s"CAST(round(ln(CAST($e AS DOUBLE)) * 1000000000, 0) AS BIGINT)"
    val base = df.select(valueMicros.as("v"), isBad.cast("long").as("bad"))
    val rng = base.agg(min(col("v")).as("mnv"), max(col("v")).as("mxv"))
    val perBin = base.crossJoin(broadcast(rng))
      .selectExpr(s"((v - mnv) * $bins) DIV (mxv - mnv + 1) + 1 AS bin", "bad")
      .groupBy(col("bin"))
      .agg(sum(lit(1L) - col("bad")).as("g"), sum(col("bad")).as("b"))
      .transform(graft.Stage.mat)
    val tot = perBin.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"))
    val scored = perBin.crossJoin(broadcast(tot))
      .selectExpr("bin", "g AS n_good", "b AS n_bad",
        s"(1000000 * (g + 1)) DIV (gt + $bins) AS gs_ppm",
        s"(1000000 * (b + 1)) DIV (bt + $bins) AS bs_ppm",
        s"${L("g + 1")} - ${L(s"gt + $bins")} - ${L("b + 1")} + ${L(s"bt + $bins")} AS woe_nanos")
      .withColumn("iv_micros",
        expr("((gs_ppm - bs_ppm) * woe_nanos) DIV 1000000000"))
      .transform(graft.Stage.mat)
    val zz = scored.agg(sum(col("n_good")).as("sg"), sum(col("n_bad")).as("sb"),
        sum(col("iv_micros")).as("iv"))
      .selectExpr("CAST(-1 AS BIGINT) AS bin", "sg AS n_good", "sb AS n_bad",
        "CAST(0 AS BIGINT) AS gs_ppm", "CAST(0 AS BIGINT) AS bs_ppm",
        "CAST(0 AS BIGINT) AS woe_nanos", "iv AS iv_micros")
    scored.unionByName(zz).orderBy(col("bin"))
  }
}
