package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Round-8 inference / evaluation operators: the two-sample
  * Kolmogorov–Smirnov distribution test, ordered sequential-pattern
  * mining (the sequence counterpart of q125/q151's itemset mining),
  * the Welch unequal-variance drift test, and ranked-retrieval average
  * precision (the area-under-PR companion of q154's MRR / q180's
  * NDCG).
  *
  * Arithmetic discipline (house convention): every emitted ratio is
  * integer micros/ppm produced by truncating DIV over exact integer
  * sums; wide products run in DECIMAL(38,0) (Spark) / HUGEINT
  * (DuckDB); no sqrt ever (squared statistics ship instead, the
  * assortativity convention), so every oracle replays bit-for-bit.
  */
object InferOps {
  import Relational.QFn

  private val ws = graft.text.TextStats.wsClassSql

  /** SPRT integer-nanos constants — ln(11/9), ln(9/11), ln 19, each
    * `math.round(·1e9)`, computed ONCE in Scala and embedded as
    * literals in both engines' SQL (see [[sprtDaily]] for why an
    * in-SQL ln is not portable). */
  val sprtLPosNanos: Long = math.round(math.log(11.0 / 9.0) * 1e9)
  val sprtLNegNanos: Long = math.round(math.log(9.0 / 11.0) * 1e9)
  val sprtBoundNanos: Long = math.round(math.log(19.0) * 1e9)

  /** Multinomial Naive Bayes language classifier, trained and scored
    * in one job — the "train a model over the corpus" primitive a
    * curation pipeline uses to BOOTSTRAP labels (q34's rule-based
    * language ID is the cold-start; this learns from whatever labels
    * exist). Add-one smoothing; an 80/20 portable-hash split; output
    * is the holdout confusion matrix with per-true-language row shares
    * and a zz accuracy row.
    *
    * Exact-replay arithmetic: every log-probability is pre-rounded to
    * integer NANOS (the q180 discount convention) — prior_l =
    * round9ln(d_l/D), per-token denominator round9ln(n_l + V), and
    * per-(lang, term) round9ln(c + 1) — so a document's score is a
    * plain BIGINT sum both engines replay bit-for-bit. The add-one
    * numerator means absent (lang, term) pairs contribute ln 1 = 0:
    * scoring needs only an INNER join on observed model rows (the
    * q159 exclusive-tail trick), with the dense part folded into
    * T_doc·logden_l.
    *
    * Scale shape: the model is one tokenize + count pass (map-side
    * combined); scoring joins test-token counts to the model on the
    * term key (bucketable), ≤ |langs| rows per term; per-doc argmax is
    * a |langs|-row window per doc; the lang-level constants ride as a
    * broadcast. At corpus scale nothing holds more than (vocab ×
    * langs) counts.
    */
  def nbLangId(docs: DataFrame): DataFrame = {
    import graft.text.TextStats
    val sp = docs.select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .withColumn("h",
        TextStats.portableHash64(concat(lit("nb:"), col("doc_id").cast("string"))) % 5)
      .transform(graft.Stage.mat)
    val tr = sp.filter(col("h") =!= 0)
    val te = sp.filter(col("h") === 0)
    val trtok = tr.select(col("lang"),
      explode(filter(TextStats.tokens(col("t")), x => x =!= lit(""))).as("w"))
    val model = trtok.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("c")).transform(graft.Stage.mat)
    val consts = model.groupBy(col("lang")).agg(sum(col("c")).as("n_tok"))
      .crossJoin(broadcast(model.agg(countDistinct(col("w")).as("v"))))
      .join(tr.groupBy(col("lang")).agg(count(lit(1)).as("d_l")), Seq("lang"))
      .crossJoin(broadcast(tr.agg(count(lit(1)).as("d_tot"))))
      .selectExpr("lang",
        "CAST(round(ln(CAST(d_l AS DOUBLE) / d_tot) * 1000000000, 0) AS BIGINT) AS prior_nanos",
        "CAST(round(ln(CAST(n_tok + v AS DOUBLE)) * 1000000000, 0) AS BIGINT) AS logden_nanos")
    val tetok = te.select(col("doc_id"),
      explode(filter(TextStats.tokens(col("t")), x => x =!= lit(""))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
    val matched = tetok.join(model, Seq("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(expr(
        "cnt * CAST(round(ln(CAST(c + 1 AS DOUBLE)) * 1000000000, 0) AS BIGINT)"))
        .as("s"))
    val spine = te.select(col("doc_id"), col("lang").as("true_lang"),
        size(filter(TextStats.tokens(col("t")), x => x =!= lit(""))).cast("long").as("t_doc"))
      .crossJoin(broadcast(consts))
      .join(matched, Seq("doc_id", "lang"), "left")
      .withColumn("score",
        col("prior_nanos") - col("t_doc") * col("logden_nanos")
          + coalesce(col("s"), lit(0L)))
    val wArg = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang").asc)
    val pred = spine.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"), col("lang").as("pred"))
      .transform(graft.Stage.mat)
    val conf = pred.groupBy(col("true_lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
    val rowTot = conf.groupBy(col("true_lang")).agg(sum(col("n_docs")).as("nt"))
    val per = conf.join(rowTot, Seq("true_lang"))
      .selectExpr("true_lang AS lang", "pred", "n_docs",
        "(1000000 * n_docs) DIV nt AS row_ppm")
    val zz = pred.agg(count(lit(1)).as("n"),
        sum(when(col("true_lang") === col("pred"), 1L).otherwise(0L)).as("ok"))
      .selectExpr("'zz' AS lang", "'zz' AS pred", "n AS n_docs",
        "(1000000 * ok) DIV greatest(n, 1) AS row_ppm")
    per.unionByName(zz).orderBy(col("lang"), col("pred"))
  }

  /** Item-item collaborative filtering from order baskets: for every
    * part, its top co-purchase neighbors by squared co-occurrence
    * cosine, cos²(a,b) = c_ab² / (c_a·c_b) in ppm (no-sqrt convention
    * — monotone in cosine, so rankings are identical). The
    * recommendation-side reading of the same counts q125 ranks by
    * lift: lift finds globally surprising pairs, this builds the
    * per-item neighbor lists a recommender serves.
    *
    * Scale shape (round 13): the q257 partCoPurchaseEdges discipline
    * applied to the DIRECTED pair stream — ONE fact shuffle (groupBy
    * to the distinct per-order basket, collect_set dedups in-task)
    * feeds both the pair counts and the item counts; per-basket
    * ordered pairs come from an in-task HOF explode (Σ k(k−1) work,
    * linear for bounded baskets — the fixture caps baskets at 7
    * parts), replacing the former distinct + co-partitioned self-join
    * (three fact-scale exchanges → one; measured 10.5 → ~4 s CPU at
    * sf0.1). Both orientations survive (pa ≠ pb, not <): each item
    * sees the pair from its own side, which IS the directed neighbor
    * list. The neighbor window is per-item over its co-purchase
    * fan-out, not global; item counts re-attach by a part-dimension
    * join.
    */
  def itemNeighbors(lineitem: DataFrame): DataFrame = {
    val baskets = graft.Stage.mat(lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(collect_set(col("p")).as("ps")))
    val itemC = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    val pairs = baskets.select(explode(expr(
        """flatten(transform(ps, x ->
             transform(filter(ps, y -> y != x), y -> struct(x AS pa, y AS pb))))"""))
        .as("pr"))
      .select(col("pr.pa"), col("pr.pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 2L)
    val scored = pairs
      .join(itemC.select(col("l_partkey").as("pa"), col("c").as("c_a")), Seq("pa"))
      .join(itemC.select(col("l_partkey").as("pb"), col("c").as("c_b")), Seq("pb"))
      .selectExpr("pa", "pb", "c_ab",
        """(CAST(c_ab AS DECIMAL(38,0)) * c_ab * 1000000)
           DIV (CAST(c_a AS DECIMAL(38,0)) * c_b) AS cos2_ppm""")
    val wN = Window.partitionBy(col("pa"))
      .orderBy(col("cos2_ppm").desc, col("c_ab").desc, col("pb").asc)
    scored.withColumn("rnk", row_number().over(wN))
      .filter(col("rnk") <= 3)
      .selectExpr("pa AS item", "CAST(rnk AS BIGINT) AS rnk", "pb AS neighbor", "c_ab",
        "CAST(cos2_ppm AS BIGINT) AS cos2_ppm")
      .orderBy(col("item"), col("rnk"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group, with its
    * in-plan accuracy certificate: keep the k smallest portable 60-bit
    * hashes of the values; the (k−1)·2⁶⁰ / h_k estimator (Bar-Yossef
    * et al.) reads cardinality off the k-th order statistic. Unlike
    * q42's opaque HLL buffer this sketch is ENGINE-PORTABLE — the
    * oracle rebuilds the identical registers from md5, so the
    * ESTIMATE itself hash-verifies, and two sketches merge by k-min
    * union (mergeable across shards/days by construction). Groups with
    * < k distinct values report exactly.
    *
    * Scale shape: one distinct pass, then a per-group k-smallest rank
    * window (per-group sort of the distinct-value set — the declared,
    * oracle-replayable form; at 100 TB swap in a bounded-buffer k-min
    * TypedImperativeAggregate, the q93 Misra-Gries pattern, for
    * constant-memory partial+final merge). The exact side is the
    * certificate, not the operator.
    */
  def kmvDistinct(rows: DataFrame, grp: String, valueCol: Column,
                  k: Int = 64): DataFrame = {
    import graft.text.TextStats
    val hv = rows.select(col(grp).as("g"), valueCol.as("val"))
      .distinct()
      .select(col("g"), TextStats.portableHash64(col("val").cast("string")).as("h"))
      .transform(graft.Stage.mat) // feeds the rank window and the exact count
    val exact = hv.groupBy(col("g")).agg(count(lit(1)).as("n_exact"))
    val wK = Window.partitionBy(col("g")).orderBy(col("h").asc)
    val kth = hv.withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .groupBy(col("g")).agg(max(col("h")).as("h_k"), count(lit(1)).as("n_in"))
    exact.join(kth, Seq("g"))
      .selectExpr("g", "n_exact",
        s"""CASE WHEN n_in < $k THEN n_exact
                 ELSE CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)
                           DIV h_k AS BIGINT) END AS est""")
      .selectExpr(s"g AS $grp", "n_exact", "est",
        """(CAST(1000000 AS DECIMAL(38,0)) * abs(est - n_exact))
           DIV greatest(n_exact, 1) AS err_ppm""")
      .orderBy(col(grp))
  }

  /** Fellegi–Sunter probabilistic record-linkage scoring over blocked
    * candidate pairs: each field contributes log(m/u) when it agrees
    * and log((1−m)/(1−u)) when it disagrees, with u (the chance-
    * agreement rate) ESTIMATED FROM THE DATA as Σ c_v(c_v−1) /
    * (N(N−1)) over the field's value counts and m fixed (0.95,
    * documented). The probabilistic upgrade of q171's binary
    * match/no-match: pairs rank by accumulated evidence, and a rare
    * shared value outweighs a common one automatically.
    *
    * Exact replay: u is an exact integer ratio; the four weights per
    * field are pre-rounded to integer nanos (ln parity, the q103
    * convention), so every pair score is a BIGINT sum. Fields here:
    * account-balance sign, 1000-bucket, and 100-bucket — nested
    * granularities, so agreement at the fine level implies the coarse
    * and the score grades smoothly.
    *
    * Scale shape: weights are three value-count aggregates folded to a
    * 1-row broadcast; pairs are generated ONLY within (nation,
    * segment) blocks (the q171 blocking argument — block-size-bounded,
    * never all-pairs); scoring is a pure projection; top-k is
    * TakeOrderedAndProject.
    */
  def fellegiSunter(customer: DataFrame, topK: Int = 50): DataFrame = {
    val c = customer.selectExpr("c_custkey", "c_nationkey", "c_mktsegment",
      "CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS f_sign",
      "CAST(floor(c_acctbal / 1000) AS BIGINT) AS f_b1000",
      "CAST(floor(c_acctbal / 100) AS BIGINT) AS f_b100")
      .transform(graft.Stage.mat)
    val n = c.agg(count(lit(1)).as("n"))
    def uOf(f: String): DataFrame = c.groupBy(col(f)).agg(count(lit(1)).as("cv"))
      .agg(sum(expr("CAST(cv AS DECIMAL(38,0)) * (cv - 1)")).as("num"))
      .crossJoin(broadcast(n))
      .selectExpr(
        s"""CAST(round((ln(950000 / 1e6) - ln(CAST(num AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000000, 0) AS BIGINT)
            AS wa_$f""",
        s"""CAST(round((ln(1.0 - 950000 / 1e6) - ln(1.0 - CAST(num AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000000, 0) AS BIGINT)
            AS wd_$f""")
    val weights = uOf("f_sign").crossJoin(uOf("f_b1000")).crossJoin(uOf("f_b100"))
    val a = c.selectExpr("c_custkey AS id_a", "c_nationkey", "c_mktsegment",
      "f_sign AS sa", "f_b1000 AS ba1000", "f_b100 AS ba100")
    val b = c.selectExpr("c_custkey AS id_b", "c_nationkey", "c_mktsegment",
      "f_sign AS sb", "f_b1000 AS bb1000", "f_b100 AS bb100")
    a.join(b, Seq("c_nationkey", "c_mktsegment"))
      .filter(col("id_a") < col("id_b"))
      .crossJoin(broadcast(weights))
      .selectExpr("id_a", "id_b",
        "CAST(sa = sb AS BIGINT) AS agree_sign",
        "CAST(ba1000 = bb1000 AS BIGINT) AS agree_b1000",
        "CAST(ba100 = bb100 AS BIGINT) AS agree_b100",
        """(CASE WHEN sa = sb THEN wa_f_sign ELSE wd_f_sign END
            + CASE WHEN ba1000 = bb1000 THEN wa_f_b1000 ELSE wd_f_b1000 END
            + CASE WHEN ba100 = bb100 THEN wa_f_b100 ELSE wd_f_b100 END)
           AS score_nanos""")
      .orderBy(col("score_nanos").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

  /** Two-sample Kolmogorov–Smirnov D over an integer-valued column:
    * D = sup_x |F_a(x) − F_b(x)|, computed exactly as
    * max_v |cum_a(v)·n_b − cum_b(v)·n_a| over the merged distinct
    * values, reported as `ks_ppm` = 1e6·D_num div (n_a·n_b) plus the
    * location `v_at` (the smallest v attaining the sup — the point of
    * largest distributional disagreement). No distributional
    * assumption, no binning loss — the classic detector for "did this
    * source/arm/period change shape, not just mean".
    *
    * Scale shape: per-distinct-value counts are one map-side-combined
    * aggregate; the global cumulative sums use the q58/q86 two-phase
    * bucket decomposition — linear value-range buckets (any monotone
    * bucketing preserves bucket-order + in-bucket-order = global
    * order), per-bucket window cumsums in parallel, bucket offsets
    * from a window over the 1024-row bucket table. Nothing is
    * ever globally sorted; the cross products run DECIMAL(38,0) so
    * corpus-scale n_a·n_b cannot overflow.
    */
  /** Oracle inputs of the click-vs-purchase value tests (q193 KS, q345
    * CvM): CTEs `base(v, ga)`, the per-value counts `pv(v, c0, c1)` and
    * the one-row `tot(n0, n1)`. */
  private val clickPurchaseCountsSql: String = """base AS (
        SELECT CAST(floor(value * 1000000) AS BIGINT) AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ga
        FROM events WHERE event_type IN ('click', 'purchase')),
      pv AS (SELECT v, SUM(ga) AS c0, SUM(1 - ga) AS c1 FROM base GROUP BY v),
      tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1 FROM pv)"""

  /** The merged two-sample CDF table (v, c0, c1, n0, n1, cum0, cum1)
    * via the two-phase bucket decomposition — q193's kernel, shared
    * with q345's Cramér–von Mises (both are functionals of the same
    * CDF gap; KS takes the sup, CvM the weighted L²).
    */
  private def mergedCdf(df: DataFrame, valueCol: Column, isA: Column,
                        isB: Column): DataFrame = {
    val base = df.filter(isA || isB)
      .select(valueCol.cast("long").as("v"), isA.cast("long").as("ga"))
    val pv = base.groupBy(col("v"))
      .agg(sum(col("ga")).as("c0"), sum(lit(1L) - col("ga")).as("c1"))
    val stats = pv.agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
      sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    val bucketed = pv.crossJoin(broadcast(stats))
      .withColumn("bucket",
        least(expr(s"((v - mn) * 1024) DIV greatest(mx - mn + 1, 1)"),
          lit(1023L)))
    val bAgg = bucketed.groupBy(col("bucket"))
      .agg(sum(col("c0")).as("b0"), sum(col("c1")).as("b1"))
    val wOff = Window.orderBy(col("bucket")) // buckets-row table
      .rowsBetween(Window.unboundedPreceding, -1)
    val bOff = bAgg.select(col("bucket"),
      coalesce(sum(col("b0")).over(wOff), lit(0L)).as("o0"),
      coalesce(sum(col("b1")).over(wOff), lit(0L)).as("o1"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(bOff), Seq("bucket"))
      .withColumn("cum0", col("o0") + sum(col("c0")).over(wIn))
      .withColumn("cum1", col("o1") + sum(col("c1")).over(wIn))
      .select(col("v"), col("c0"), col("c1"), col("n0"), col("n1"),
        col("cum0"), col("cum1"))
  }

  def ksTest(df: DataFrame, valueCol: Column, isA: Column, isB: Column): DataFrame = {
    val cum = mergedCdf(df, valueCol, isA, isB)
      .selectExpr("v", "n0", "n1",
        """abs(CAST(cum0 AS DECIMAL(38,0)) * n1
               - CAST(cum1 AS DECIMAL(38,0)) * n0) AS diff""")
    // single pass: struct-max orders by (diff, -v) — largest diff,
    // smallest v among ties — so the argmax needs no second scan
    cum.groupBy(col("n0"), col("n1"))
      .agg(max(struct(col("diff"), (-col("v")).as("nv"))).as("s"))
      .selectExpr("n0 AS n_a", "n1 AS n_b",
        """CAST((s.diff * 1000000)
                DIV greatest(CAST(n0 AS DECIMAL(38,0)) * n1, 1) AS BIGINT)
           AS ks_ppm""",
        "-s.nv AS v_at")
  }

  /** Two-sample Cramér–von Mises (Anderson 1962): T = (n0·n1/N²)·
    * Σ_obs (F0−F1)² — the WHOLE-CURVE complement of [[ksTest]]'s sup
    * gap, on the same mergedCdf kernel. With integer CDFs the sum is
    * exact: Σ c·(cum0·n1 − cum1·n0)² DIV (N²·n0·n1) in ppm.
    */
  def cvmTest(df: DataFrame, valueCol: Column, isA: Column, isB: Column): DataFrame =
    mergedCdf(df, valueCol, isA, isB)
      .selectExpr("n0", "n1", "c0 + c1 AS c",
        """CAST(cum0 AS DECIMAL(38,0)) * n1
           - CAST(cum1 AS DECIMAL(38,0)) * n0 AS diff""")
      .groupBy(col("n0"), col("n1"))
      .agg(sum(expr("c * diff * diff")).as("sw"), sum(col("c")).as("nn"))
      .selectExpr("n0 AS n_a", "n1 AS n_b",
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * sw)
             DIV greatest(CAST(nn AS DECIMAL(38,0)) * nn * n0 * n1, 1)
             AS BIGINT) AS t_ppm""")

  /** Frequent ordered event-type triples (a then b then c, arbitrary
    * gaps) with user-level support — sequential-pattern mining, the
    * ORDER-aware complement of q151's frequent itemset triples and the
    * higher-order complement of q174's one-step transition matrix.
    *
    * The naive form is a per-user 3-way self-join (C(k,3) per user —
    * quadratic-plus in activity). This uses the first/last-occurrence
    * witness instead: user supports (a,b,c) iff some b-event falls
    * strictly between the user's FIRST a and LAST c (⇒ t1<t2<t3 with
    * first_a as t1, last_c as t3; conversely any witness triple forces
    * first_a < t2 < last_c). The same-type edge cases fall out for
    * free: a=b needs a b after the first b, c=b one before the last.
    *
    * Scale shape: per-(user, type) min/max is one map-side-combined
    * aggregate; `bounds` is |types|²-wide per user (constant); the
    * witness probe joins events to bounds CO-PARTITIONED on user_id —
    * |types|²-fold linear in the fact, never C(k,3). Support counting
    * is a distinct + count on (user, triple); top-k is
    * TakeOrderedAndProject.
    */
  def seqPatterns(events: DataFrame, topK: Int = 20): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
      .transform(graft.Stage.mat) // feeds first/last, the probe, and n_users
    val fl = ev.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("fts"), max(col("ts")).as("lts"))
      .transform(graft.Stage.mat) // both sides of the bounds join
    val nUsers = ev.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val bounds = fl.select(col("user_id"), col("event_type").as("step_a"), col("fts"))
      .join(fl.select(col("user_id"), col("event_type").as("step_c"), col("lts")),
        Seq("user_id"))
    val hits = ev.select(col("user_id"), col("event_type").as("step_b"), col("ts"))
      .join(bounds, Seq("user_id"))
      .filter(col("ts") > col("fts") && col("ts") < col("lts"))
      .select(col("user_id"), col("step_a"), col("step_b"), col("step_c"))
      .distinct()
    hits.groupBy(col("step_a"), col("step_b"), col("step_c"))
      .agg(count(lit(1)).as("n_sup"))
      .crossJoin(broadcast(nUsers))
      .selectExpr("step_a", "step_b", "step_c", "n_sup",
        "(1000000 * n_sup) DIV n_users AS support_ppm")
      .orderBy(col("n_sup").desc, col("step_a"), col("step_b"), col("step_c"))
      .limit(topK)
  }

  /** Welch unequal-variance drift test per group: value distribution
    * of the EARLY calendar half vs the LATE half (split at the global
    * day midpoint), emitting the squared Welch statistic `t2_ppm` and
    * the Welch–Satterthwaite degrees of freedom `df_micros` — the
    * mean-shift companion to q165's PSI (shape) and [[ksTest]]
    * (whole-distribution). No p-value (that needs the t CDF); t² with
    * df IS the scoreboard, monotone in evidence strength.
    *
    * All from per-(group, half) sufficient statistics (n, Σx, Σx²) in
    * ONE map-side-combined aggregate: means in micros by DIV, sample
    * variance (n·Σx² − (Σx)²) div (n·(n−1)) in micros², sem² = v_e/n_e
    * + v_l/n_l, t² = Δmean²·1e6 div sem², df =
    * (a+b)²·1e6·(n_e−1)·(n_l−1) div (a²·(n_l−1) + b²·(n_e−1)) — the
    * Welch–Satterthwaite ratio with both (n−1) denominators cleared
    * into the single final DIV. Inner DIVs truncate — deterministic
    * and mirrored exactly in the oracle.
    *
    * Scale shape: one broadcast of the 1-row day-span stats, one
    * groupBy(group) aggregate — partial+final, group-count-sized
    * state; Σx² runs DECIMAL(38,0) so corpus-scale sums cannot
    * overflow.
    */
  def welchDrift(events: DataFrame, valueMicros: Column): DataFrame = {
    val base = events.select(col("event_type").as("grp"), valueMicros.as("x"),
      expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"))
    val span = base.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val halves = base.crossJoin(broadcast(span))
      .withColumn("early", (col("day") < expr("(mn + mx + 1) DIV 2")).cast("long"))
    val stats = halves.groupBy(col("grp"))
      .agg(sum(col("early")).as("ne"),
        sum(lit(1L) - col("early")).as("nl"),
        sum(when(col("early") === 1L, col("x")).otherwise(0L)).as("sxe"),
        sum(when(col("early") === 1L, expr("CAST(x AS DECIMAL(38,0)) * x"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("sxxe"),
        sum(when(col("early") === 0L, col("x")).otherwise(0L)).as("sxl"),
        sum(when(col("early") === 0L, expr("CAST(x AS DECIMAL(38,0)) * x"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("sxxl"))
    stats
      .selectExpr("grp", "ne", "nl",
        "sxe DIV greatest(ne, 1) AS mean_early_micros",
        "sxl DIV greatest(nl, 1) AS mean_late_micros",
        """(CAST(ne AS DECIMAL(38,0)) * sxxe - CAST(sxe AS DECIMAL(38,0)) * sxe)
           DIV greatest(CAST(ne AS DECIMAL(38,0)) * (ne - 1), 1) AS ve""",
        """(CAST(nl AS DECIMAL(38,0)) * sxxl - CAST(sxl AS DECIMAL(38,0)) * sxl)
           DIV greatest(CAST(nl AS DECIMAL(38,0)) * (nl - 1), 1) AS vl""")
      .selectExpr("grp", "ne", "nl", "mean_early_micros", "mean_late_micros",
        "ve DIV greatest(ne, 1) AS a", "vl DIV greatest(nl, 1) AS b")
      // df is scale-invariant in (a, b), so the df term uses a/1000,
      // b/1000 (millis²), and clears BOTH (n−1) denominators into ONE
      // final DIV: df = (a+b)²(ne−1)(nl−1) / (a²(nl−1) + b²(ne−1)).
      // The earlier inner form am² DIV (ne−1) overflowed BIGINT
      // (Spark's DIV always returns BIGINT) whenever am > ~3e9 —
      // exactly the sf0.001 fixture, whose smaller halves leave
      // a ≈ 3e13 (round-13 smoke; sf0.01 passed by < 2×). All products
      // here stay DECIMAL(38,0): with value ≤ ~1e3 units, x ≤ 1e9
      // micros, ve ≤ x²/(n−1) ≤ 1e18 fits the BIGINT a/b lanes and the
      // numerator is ≤ (2·s²_millis)²·1e6·(n−1)² ≈ 1e34 — widen ve/vl
      // to DECIMAL lanes if the value domain ever grows past ~1e4
      // units. t² keeps full micros².
      .selectExpr("grp", "ne", "nl", "mean_early_micros", "mean_late_micros",
        "a", "b", "a DIV 1000 AS am", "b DIV 1000 AS bm")
      .selectExpr("grp AS event_type",
        "ne AS n_early", "nl AS n_late",
        "CAST(mean_early_micros AS BIGINT) AS mean_early_micros",
        "CAST(mean_late_micros AS BIGINT) AS mean_late_micros",
        """CAST(((CAST(mean_early_micros AS DECIMAL(38,0)) - mean_late_micros)
                 * (CAST(mean_early_micros AS DECIMAL(38,0)) - mean_late_micros)
                 * 1000000) DIV greatest(a + b, 1) AS BIGINT) AS t2_ppm""",
        """CAST(((CAST(am AS DECIMAL(38,0)) + bm) * (CAST(am AS DECIMAL(38,0)) + bm)
                 * 1000000 * greatest(ne - 1, 1) * greatest(nl - 1, 1))
                DIV greatest(CAST(am AS DECIMAL(38,0)) * am * greatest(nl - 1, 1)
                             + CAST(bm AS DECIMAL(38,0)) * bm * greatest(ne - 1, 1), 1)
                AS BIGINT)
           AS df_micros""")
      .orderBy(col("event_type"))
  }

  /** Ranked-retrieval average precision @ k with labels-as-relevance
    * (the q154 protocol): AP = (Σ_{hit ranks r} P@r) / min(R, k) where
    * R is the query label's CORPUS relevant count — the area-under-PR
    * summary that MRR (first hit only) and P@10 (unweighted) both
    * miss; the zz row (q_id −1) is MAP. Exact integers after the
    * replayable double-cosine ordering: P@r in micros by DIV, AP by a
    * second DIV — truncation mirrored in the oracle.
    *
    * Scale shape: one corpus pass (queries broadcast, per-query top-k
    * window); the cumulative-hit window is per-query over ≤ k rows;
    * the relevant-count join is on the label dimension (broadcast).
    */
  def averagePrecision(emb: DataFrame, qHi: Long, k: Int): DataFrame = {
    val relc = emb.filter(col("vec_id") > qHi)
      .groupBy(col("label").cast("long").as("q_label"))
      .agg(count(lit(1)).as("n_rel"))
    val wc = Window.partitionBy(col("q_id")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = EvalOps.labeledTopK(emb, qHi, k)
      .withColumn("ch", sum(col("hit")).over(wc))
    val per = ranked.groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("hit") === 1L, expr("(1000000 * ch) DIV rn"))
        .otherwise(0L)).as("sum_prec"), sum(col("hit")).as("n_hits"))
      .join(broadcast(relc), Seq("q_label"))
      .selectExpr("q_id", "q_label AS label",
        s"least(n_rel, $k) AS n_rel_k", "n_hits",
        s"sum_prec DIV least(n_rel, $k) AS ap_micros")
    val zz = per.agg(count(lit(1)).as("nq"), sum(col("n_hits")).as("sh"),
        sum(col("ap_micros")).as("sap"))
      .selectExpr("CAST(-1 AS BIGINT) AS q_id", "CAST(-1 AS BIGINT) AS label",
        "CAST(0 AS BIGINT) AS n_rel_k", "sh AS n_hits",
        "sap DIV nq AS ap_micros")
    per.unionByName(zz).orderBy(col("q_id"))
  }

  /** Markov-chain removal-effect attribution (Anderl et al. 2016):
    * per-user journeys (events ordered by (ts, event_id), truncated at
    * the first conversion) become a first-order transition matrix over
    * channel states plus START/CONV/NULL absorbers; each channel's
    * credit is the REMOVAL EFFECT — how much the K-step absorption
    * probability into CONV drops when every path through that channel
    * is redirected to NULL — normalized to ppm shares. The ppm
    * transition probabilities and the K unrolled value-iteration
    * rounds (`Σ_b p(s→b)·v(b) div 1e6`, CONV pinned at 1e6) are all
    * truncating-integer arithmetic, so the oracle replays bit-for-bit;
    * K bounds path length explicitly rather than iterating "until
    * convergence" (the q117 unroll discipline). Removal effects are
    * clamped at 0 before normalizing — a removal can only lose
    * conversion mass in the model; sub-micro truncation wiggle must
    * not flip a sign the two engines would divide differently.
    *
    * Scale shape: journey construction is one per-user window pass
    * (user-keyed, bucketable); everything after the (s, b) count agg
    * lives on the CHANNEL-DOMAIN-sized transition table (≤ (|channels|
    * + 2)² rows) crossed with |channels|+1 variants — broadcast-sized
    * state, so the K iterations are driver-cheap tiny joins, never
    * corpus passes.
    */
  def markovAttribution(events: DataFrame, channels: Seq[String]): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = events
      .filter(col("user_id").isNotNull &&
        (col("event_type").isin(channels: _*) || col("event_type") === "purchase"))
      .withColumn("rn", row_number().over(w))
    val pfirst = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val jj = ev.join(pfirst, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") < col("prn"))
      .withColumn("converted", col("prn").isNotNull)
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val j2 = jj.withColumn("rn2", row_number().over(w2))
      .withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .transform(graft.Stage.mat)
    val tr = j2.filter(col("rn2") === 1)
      .select(lit("START").as("s"), col("event_type").as("b"))
      .unionByName(j2.filter(col("nxt").isNotNull)
        .select(col("event_type").as("s"), col("nxt").as("b")))
      .unionByName(j2.filter(col("nxt").isNull)
        .select(col("event_type").as("s"),
          when(col("converted"), lit("CONV")).otherwise(lit("NULL")).as("b")))
      .unionByName(pfirst
        .join(j2.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
        .select(lit("START").as("s"), lit("CONV").as("b")))
    val cnts = tr.groupBy(col("s"), col("b")).agg(count(lit(1)).as("c"))
    val tot = cnts.groupBy(col("s")).agg(sum(col("c")).as("ct"))
    val trans = cnts.join(tot, Seq("s"))
      .select(col("s"), col("b"), expr("(1000000 * c) div ct").as("p_ppm"))
    val variants = (("full", "") +: channels.map(c => (s"no_$c", c)))
      .toDF("variant", "removed")
    val tv = graft.Stage.mat(trans.crossJoin(broadcast(variants))
      .filter(col("s") =!= col("removed") && col("b") =!= col("removed")))
    val convRows = variants.select(col("variant"), lit("CONV").as("state"),
      lit(1000000L).as("v"))
    var v = convRows
    for (_ <- 1 to 6) {
      val prev = v.select(col("variant").as("pv"), col("state").as("pb"), col("v"))
      v = tv.join(prev, tv("variant") === prev("pv") && tv("b") === prev("pb"))
        .groupBy(tv("variant").as("variant"), col("s").as("state"))
        .agg(sum(expr("(p_ppm * v) div 1000000")).as("v"))
        .unionByName(convRows)
    }
    val cr = graft.Stage.mat(v.filter(col("state") === "START")
      .select(col("variant"), col("v").as("conv_ppm")))
    val full = cr.filter(col("variant") === "full")
      .select(col("conv_ppm").as("full_ppm"))
    val eff = cr.filter(col("variant") =!= "full")
      .crossJoin(broadcast(full))
      .select(expr("substring(variant, 4)").as("channel"), col("conv_ppm"),
        greatest(col("full_ppm") - col("conv_ppm"), lit(0L)).as("removal_ppm"))
      .transform(graft.Stage.mat)
    val te = eff.agg(greatest(sum(col("removal_ppm")), lit(1L)).as("t"))
    eff.crossJoin(broadcast(te))
      .select(col("channel"), col("conv_ppm"), col("removal_ppm"),
        expr("(1000000 * removal_ppm) div t").as("share_ppm"))
      .unionByName(full.select(lit("zz_full").as("channel"),
        col("full_ppm").as("conv_ppm"), lit(0L).as("removal_ppm"),
        lit(0L).as("share_ppm")))
      .orderBy(col("channel"))
  }

  /** Wald sequential probability ratio test (Wald 1945) on the daily
    * high-value-event rate, per event type: H0 p=9/20 vs H1 p=11/20
    * for P(value ≥ threshold), α = β = 0.05. Observations fold to
    * DAILY sufficient statistics first (s hits, n−s misses), so the
    * cumulative log-likelihood ratio is a day-granularity window sum —
    * the q182 CUSUM discipline that keeps the sequential scan
    * span-bounded, never corpus-bounded; a production deployment
    * monitors the live stream, this is its batch replay. LLR
    * increments and the ln 19 decision boundary are pre-rounded
    * integer nanos (the q197 round9ln convention), so every cumsum
    * and comparison replays bit-for-bit. Emits per type: the day
    * count, total observations, the decision ('h1' / 'h0' /
    * 'continue'), observations consumed at the FIRST boundary
    * crossing (−1 if none), and the LLR at that crossing (final LLR
    * when still continuing).
    */
  def sprtDaily(events: DataFrame): DataFrame = {
    // Constants are Scala-computed integer-nanos literals embedded in
    // BOTH engines' SQL — an in-SQL `ln(11.0/9.0)` is NOT portable:
    // Spark parses 11.0/9.0 as DECIMAL division (scale-truncated ratio,
    // ln off by ~1e-6) while DuckDB divides doubles.
    val lpos = InferOps.sprtLPosNanos   //  ln(11/9)·1e9 = 200670695
    val lneg = InferOps.sprtLNegNanos   //  ln(9/11)·1e9 = -200670695
    val bound = InferOps.sprtBoundNanos //  ln(19)·1e9 = 2944438979
    val daily = events
      .selectExpr("event_type", "CAST(ts AS DATE) AS day",
        s"CASE WHEN value >= 35.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS hit")
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("s"))
      .withColumn("llr_day", expr(s"s * ${lpos}L + (n - s) * ${lneg}L"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = daily
      .withColumn("cum_llr", sum(col("llr_day")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("rn", row_number().over(w))
      .transform(graft.Stage.mat)
    val firstX = cum.filter(expr(s"cum_llr >= ${bound}L OR cum_llr <= -${bound}L"))
      .withColumn("rx", row_number().over(w))
      .filter(col("rx") === 1)
      .selectExpr("event_type",
        s"CASE WHEN cum_llr >= ${bound}L THEN 'h1' ELSE 'h0' END AS decision",
        "cum_n AS n_at_decision", "cum_llr AS llr_cross")
    val last = cum
      .withColumn("rl", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day").desc)))
      .filter(col("rl") === 1)
      .selectExpr("event_type", "CAST(rn AS BIGINT) AS n_days",
        "cum_n AS n_obs", "cum_llr AS llr_final")
    last.join(firstX, Seq("event_type"), "left")
      .selectExpr("event_type", "n_days", "n_obs",
        "coalesce(decision, 'continue') AS decision",
        "coalesce(n_at_decision, CAST(-1 AS BIGINT)) AS n_at_decision",
        "coalesce(llr_cross, llr_final) AS llr_nanos")
      .orderBy(col("event_type"))
  }

  /** Difference-in-differences estimator over the event stream:
    * `treat` is any per-row treatment predicate (a user cohort flag, a
    * rollout ramp, an experiment assignment), outcome = the
    * floor-micros value of purchase events, periods = the q195
    * early/late calendar halves ((mn+mx+1) div 2 cutoff). Emits the
    * four (treat, post) cell means plus the zz row carrying
    * DiD = (T̄post − T̄pre) − (C̄post − C̄pre) — subtractions of
    * truncating cell means, exact on both engines. The parallel-trends
    * caveat is the reader's, not the query's; this is the standard
    * first-cut causal readout over logged events. (The declared q220
    * passes a hash-parity assignment — an A/A CALIBRATION run whose
    * DiD should sit near 0; the fixture's users all fire every event
    * type, so no behavioral cohort splits it.)
    *
    * Scale shape: one filtered outcome pass with a map-side treatment
    * flag, a 4-group aggregate. Nothing holds more than 4 rows after
    * the agg.
    */
  def diffInDiff(events: DataFrame, treat: Column): DataFrame = {
    val ev = events.filter(col("user_id").isNotNull)
    val base = ev.filter(col("event_type") === "purchase")
      .select(when(treat, 1L).otherwise(0L).as("is_t"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("x"))
    val span = base.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val cells = base
      .crossJoin(broadcast(span))
      .selectExpr("is_t AS t",
        "CASE WHEN day >= (mn + mx + 1) DIV 2 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS post",
        "x")
      .groupBy(col("t"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .selectExpr("t", "post", "n", "sx DIV n AS mean_micros")
      .transform(graft.Stage.mat)
    val zz = cells.agg(sum(col("n")).as("nt"),
        sum(when(col("t") === 1L && col("post") === 1L, col("mean_micros"))
          .otherwise(0L)).as("tp"),
        sum(when(col("t") === 1L && col("post") === 0L, col("mean_micros"))
          .otherwise(0L)).as("tr"),
        sum(when(col("t") === 0L && col("post") === 1L, col("mean_micros"))
          .otherwise(0L)).as("cp"),
        sum(when(col("t") === 0L && col("post") === 0L, col("mean_micros"))
          .otherwise(0L)).as("cr"))
      .selectExpr("CAST(-1 AS BIGINT) AS t", "CAST(-1 AS BIGINT) AS post",
        "nt AS n", "(tp - tr) - (cp - cr) AS mean_micros")
    cells.unionByName(zz).orderBy(col("t"), col("post"))
  }

  /** Two-group log-rank test (Mantel 1966) on time-to-first-conversion:
    * cohort g=1 = users whose FIRST event is a view, duration = days
    * from first-seen to first purchase (censored at the corpus's last
    * day) — "do view-first users convert on a different clock?", the
    * whole-curve sequel to the Kaplan–Meier estimate. Per event time:
    * observed group-1 deaths d1, expected e1 = d·n1·1e6 div n, and the
    * hypergeometric variance term, both truncating-integer with
    * DECIMAL(38,0) products (n⁴-scale at large risk sets); the zz row
    * (t = −1) carries O, E, V totals and chi2 = (O·1e6 − E)² div V in
    * micros. At-risk counts come from a REVERSE cumsum over the
    * duration-histogram table — span-bounded (days), never user-bounded
    * — so the only per-user state is one (duration, event) row.
    */
  def logRank(events: DataFrame): DataFrame = {
    val ev = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val first = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"),
        (col("event_type") === "view").cast("long").as("g"), col("day").as("t0"))
    val convDay = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("day")).as("tc"))
    val lastDay = ev.agg(max(col("day")).as("ld"))
    val dur = first.join(convDay, Seq("user_id"), "left")
      .crossJoin(broadcast(lastDay))
      .selectExpr("g",
        "CASE WHEN tc IS NOT NULL THEN tc - t0 ELSE ld - t0 END AS dur",
        "CASE WHEN tc IS NOT NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ev")
    val dc = dur.groupBy(col("dur")).agg(
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("r1"),
        count(lit(1)).as("rt"),
        sum(when(col("g") === 1L && col("ev") === 1L, 1L).otherwise(0L)).as("d1"),
        sum(when(col("ev") === 1L, 1L).otherwise(0L)).as("d"))
      .transform(graft.Stage.mat)
    // global desc window over the duration histogram — span-bounded
    val wd = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val et = dc.withColumn("n1", sum(col("r1")).over(wd))
      .withColumn("n", sum(col("rt")).over(wd))
      .filter(col("d") > 0)
      .selectExpr("dur AS t", "d1", "d", "n1", "n",
        "(d * n1 * 1000000) DIV n AS e1_micros",
        """CAST((CAST(d AS DECIMAL(38,0)) * n1 * (n - n1) * (n - d) * 1000000)
              DIV greatest(CAST(n AS DECIMAL(38,0)) * n * greatest(n - 1, 1), 1)
              AS BIGINT) AS v_micros""")
      .withColumn("chi2_micros", lit(0L))
      .transform(graft.Stage.mat)
    val zz = et.agg(sum(col("d1")).as("o1"), sum(col("d")).as("od"),
        sum(col("e1_micros")).as("e1"), sum(col("v_micros")).as("v"))
      .selectExpr("CAST(-1 AS BIGINT) AS t", "o1 AS d1", "od AS d",
        "CAST(0 AS BIGINT) AS n1", "CAST(0 AS BIGINT) AS n",
        "e1 AS e1_micros", "v AS v_micros",
        """CAST((CAST(o1 * 1000000 - e1 AS DECIMAL(38,0)) * (o1 * 1000000 - e1))
            DIV greatest(v, 1) AS BIGINT) AS chi2_micros""")
    et.unionByName(zz).orderBy(col("t"))
  }

  /** One unrolled removal-variant value-iteration round for the DuckDB
    * oracle — token-for-token the [[markovAttribution]] update. */
  private def mkvIterSql(i: Int): String = {
    val prev = s"v${i - 1}"
    s"""v$i AS (
        SELECT tv.variant, tv.s AS state,
               CAST(SUM((tv.p_ppm * p.v) // 1000000) AS BIGINT) AS v
        FROM tv JOIN $prev p ON tv.variant = p.variant AND tv.b = p.state
        GROUP BY tv.variant, tv.s
        UNION ALL
        SELECT variant, 'CONV', CAST(1000000 AS BIGINT) FROM variants)"""
  }

  /** Coarsened Exact Matching ATT (Iacus, King & Porro 2012): coarsen
    * the covariates into bins, keep only strata containing BOTH
    * treated and control units, and estimate the average treatment
    * effect on the treated as the treated-count-weighted mean of
    * within-stratum outcome differences:
    *   ATT_micros = Σ_s n_t_s·(ȳt_s − ȳc_s) DIV Σ_s n_t_s.
    * No model, no propensity score, no RNG — the entire estimator is
    * exact integer arithmetic over counts and sums, so the oracle
    * replays it including every truncating per-stratum mean.
    *
    * Input: one row per unit with (stratum, treated 0/1, y_micros).
    * Output: per-stratum rows (n_t, n_c, mean_t, mean_c, diff) for
    * MATCHED strata + 'zz_att' (ATT over matched treated) +
    * 'zz_unmatched' (dropped treated/control counts — the overlap
    * diagnostic CEM makes explicit; a large dropped-treated count
    * means the estimate covers a shrunken population).
    *
    * Scale shape: one unit-level aggregate to stratum sums (map-side
    * combined, stratum cardinality = product of bin counts, bounded by
    * construction), then strata-row arithmetic. Nothing downstream of
    * the first groupBy scales with the unit count.
    */
  def cemAtt(units: DataFrame): DataFrame = {
    val strata = units.groupBy(col("stratum"))
      .agg(sum(col("treated")).as("n_t"),
        sum(lit(1L) - col("treated")).as("n_c"),
        sum(when(col("treated") === 1L, col("y_micros")).otherwise(lit(0L))).as("sy_t"),
        sum(when(col("treated") === 0L, col("y_micros")).otherwise(lit(0L))).as("sy_c"))
      .transform(graft.Stage.mat) // feeds matched rows, the ATT fold, AND the drop audit
    val matched = strata.filter(col("n_t") > 0 && col("n_c") > 0)
      .selectExpr("stratum", "n_t", "n_c",
        "sy_t DIV n_t AS mean_t_micros", "sy_c DIV n_c AS mean_c_micros")
      .withColumn("diff_micros", col("mean_t_micros") - col("mean_c_micros"))
    val att = matched.agg(
      sum(col("n_t")).as("nt"), sum(col("n_c")).as("nc"),
      sum(expr("CAST(n_t AS DECIMAL(38,0)) * diff_micros")).as("wsum"))
      .selectExpr("'zz_att' AS stratum", "nt AS n_t", "nc AS n_c",
        "CAST(wsum DIV greatest(nt, 1) AS BIGINT) AS mean_t_micros",
        "CAST(0 AS BIGINT) AS mean_c_micros", "CAST(0 AS BIGINT) AS diff_micros")
    val dropped = strata.filter(col("n_t") === 0 || col("n_c") === 0)
      .agg(coalesce(sum(col("n_t")), lit(0L)).as("dt"),
        coalesce(sum(col("n_c")), lit(0L)).as("dc"))
      .selectExpr("'zz_unmatched' AS stratum", "dt AS n_t", "dc AS n_c",
        "CAST(0 AS BIGINT) AS mean_t_micros", "CAST(0 AS BIGINT) AS mean_c_micros",
        "CAST(0 AS BIGINT) AS diff_micros")
    matched.unionAll(att).unionAll(dropped).orderBy(col("stratum"))
  }

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ---- exact Shapley channel attribution (Shapley 1953; the
    //      coalition formulation marketing attribution uses, e.g.
    //      Dalessandro et al. 2012): with k = 4 non-purchase channels,
    //      a user's coalition is the bitmask of channels they touched,
    //      v(S) = conversion rate (ppm) among users whose mask ⊆ S
    //      (cumulative subset weighting), and each channel's Shapley
    //      value is the exact 2^(k−1)-term marginal-contribution sum
    //      with factorial weights shipped in 24ths:
    //        φ_j = Σ_{S ∌ j} w24(|S|)·(v(S∪j) − v(S)) DIV 24,
    //        w24 = [6, 2, 2, 6].
    //      Unlike q211's Markov / q202's position attribution this is
    //      the axiomatic credit split (efficiency: Σφ = v(K) − v(∅) up
    //      to the k final floors — pinned in InferOpsSpec). All exact
    //      integers; the oracle replays the mask build, the 16×16
    //      subset-sum, and every weighted term.
    //
    //      Scale shape: ONE user-level aggregate builds the 16-row
    //      mask table; everything after (subset-sum join, 4×8 marginal
    //      table) is constant-size arithmetic independent of corpus
    //      scale. k is fixed small by construction — the 2^k tables
    //      are the POINT of exact Shapley; larger channel sets switch
    //      to sampled permutations upstream.
    ("q250_shapley_attribution", (s: SparkSession, dir: String) => {
      val per = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("b_click"),
          max(when(col("event_type") === "error", 2L).otherwise(0L)).as("b_error"),
          max(when(col("event_type") === "signup", 4L).otherwise(0L)).as("b_signup"),
          max(when(col("event_type") === "view", 8L).otherwise(0L)).as("b_view"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .selectExpr("b_click + b_error + b_signup + b_view AS mask", "conv")
      val perMask = per.groupBy(col("mask"))
        .agg(count(lit(1)).as("n_u"), sum(col("conv")).as("n_c"))
      val masks = s.range(0, 16).select(col("id").as("s"))
      val v = broadcast(masks).join(perMask,
          expr("(mask & s) = mask"), "left")
        .groupBy(col("s"))
        .agg(coalesce(sum(col("n_u")), lit(0L)).as("users"),
          coalesce(sum(col("n_c")), lit(0L)).as("conv"))
        .withColumn("v_ppm", expr("(1000000 * conv) DIV greatest(users, 1)"))
        .transform(graft.Stage.mat) // feeds the mask rows AND the phi join
      val chans = s.range(0, 4).selectExpr("CAST(pow(2, id) AS BIGINT) AS bit",
        "element_at(array('click','error','signup','view'), CAST(id + 1 AS INT)) AS ch")
      val phi = broadcast(chans).join(v.select(col("s"), col("v_ppm")),
          expr("(s & bit) = 0"), "inner")
        .join(v.selectExpr("s AS s2", "v_ppm AS v2"), expr("s2 = s + bit"))
        .withColumn("w24", expr(
          """element_at(array(6L, 2L, 2L, 6L),
               CAST(bit_count(s) + 1 AS INT))"""))
        .groupBy(col("ch"))
        .agg(sum(col("w24") * (col("v2") - col("v_ppm"))).as("wsum"))
        .selectExpr("concat('phi_', ch) AS name", "CAST(0 AS BIGINT) AS users",
          "CAST(0 AS BIGINT) AS conv", "wsum DIV 24 AS value_micros")
      val maskRows = v.selectExpr("concat('m', lpad(CAST(s AS STRING), 2, '0')) AS name",
        "users", "conv", "v_ppm AS value_micros")
      maskRows.unionAll(phi).orderBy(col("name"))
    }, Some("""
      WITH per AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END) AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      pm AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_u,
                    CAST(SUM(conv) AS BIGINT) AS n_c
             FROM per GROUP BY mask),
      ms AS (SELECT unnest(range(0, 16)) AS s),
      v AS (
        SELECT s, CAST(coalesce(SUM(n_u), 0) AS BIGINT) AS users,
               CAST(coalesce(SUM(n_c), 0) AS BIGINT) AS conv,
               (1000000 * CAST(coalesce(SUM(n_c), 0) AS BIGINT))
                 // greatest(CAST(coalesce(SUM(n_u), 0) AS BIGINT), 1) AS v_ppm
        FROM ms LEFT JOIN pm ON (pm.mask & ms.s) = pm.mask
        GROUP BY s),
      ch AS (SELECT unnest([1, 2, 4, 8]) AS bit,
                    unnest(['click', 'error', 'signup', 'view']) AS ch),
      phi AS (
        SELECT ch.ch,
               CAST(SUM(list_extract([6, 2, 2, 6], bit_count(CAST(a.s AS BIGINT)) + 1)
                        * (b.v_ppm - a.v_ppm)) AS BIGINT) AS wsum
        FROM ch JOIN v a ON (a.s & ch.bit) = 0
        JOIN v b ON b.s = a.s + ch.bit
        GROUP BY ch.ch)
      SELECT concat('m', lpad(CAST(s AS VARCHAR), 2, '0')) AS name,
             users, conv, CAST(v_ppm AS BIGINT) AS value_micros
      FROM v
      UNION ALL
      SELECT concat('phi_', ch), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             wsum // 24
      FROM phi
      ORDER BY name""")),

    // ---- CEM ATT: effect of being a high-error user (n_err >= 14,
    //      the corpus-average cut) on total purchase spend, matched
    //      exactly within coarsened (activity DIV 20, active-days
    //      DIV 8) strata. The no-model causal readout + its overlap
    //      diagnostic; the oracle replays the coarsening, the
    //      both-arms stratum filter, every truncating mean, and the
    //      weighted ATT fold.
    ("q243_cem_att", (s: SparkSession, dir: String) => {
      val per = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          countDistinct(expr("day(ts)")).as("n_days"),
          sum(when(col("event_type") === "error", lit(1L)).otherwise(lit(0L)))
            .as("n_err"),
          sum(when(col("event_type") === "purchase" && col("value").isNotNull,
            expr("CAST(floor(value * 1000000) AS BIGINT)")).otherwise(lit(0L)))
            .as("y_micros"))
      cemAtt(per.selectExpr(
        """concat('a', CAST(n_ev DIV 20 AS STRING),
                  '_d', CAST(n_days DIV 8 AS STRING)) AS stratum""",
        "CAST(CASE WHEN n_err >= 14 THEN 1 ELSE 0 END AS BIGINT) AS treated",
        "y_micros"))
    }, Some("""
      WITH per AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
               CAST(count(DISTINCT day(ts)) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_err,
               CAST(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                             THEN CAST(floor(value * 1000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y_micros
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      units AS (
        SELECT concat('a', CAST(n_ev // 20 AS VARCHAR),
                      '_d', CAST(n_days // 8 AS VARCHAR)) AS stratum,
               CAST(CASE WHEN n_err >= 14 THEN 1 ELSE 0 END AS BIGINT) AS treated,
               y_micros
        FROM per),
      strata AS (
        SELECT stratum, CAST(SUM(treated) AS BIGINT) AS n_t,
               CAST(SUM(1 - treated) AS BIGINT) AS n_c,
               CAST(SUM(CASE WHEN treated = 1 THEN y_micros ELSE 0 END)
                 AS BIGINT) AS sy_t,
               CAST(SUM(CASE WHEN treated = 0 THEN y_micros ELSE 0 END)
                 AS BIGINT) AS sy_c
        FROM units GROUP BY stratum),
      matched AS (
        SELECT stratum, n_t, n_c,
               sy_t // n_t AS mean_t_micros, sy_c // n_c AS mean_c_micros,
               sy_t // n_t - sy_c // n_c AS diff_micros
        FROM strata WHERE n_t > 0 AND n_c > 0)
      SELECT stratum, n_t, n_c, mean_t_micros, mean_c_micros, diff_micros
      FROM matched
      UNION ALL
      SELECT 'zz_att', CAST(SUM(n_t) AS BIGINT), CAST(SUM(n_c) AS BIGINT),
             CAST(SUM(CAST(n_t AS HUGEINT) * diff_micros)
                  // greatest(SUM(n_t), 1) AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM matched
      UNION ALL
      SELECT 'zz_unmatched', CAST(coalesce(SUM(n_t), 0) AS BIGINT),
             CAST(coalesce(SUM(n_c), 0) AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM strata WHERE n_t = 0 OR n_c = 0
      ORDER BY stratum""")),

    // ---- two-sample KS on the click-vs-purchase value distribution:
    //      the whole-shape "are these two event populations priced the
    //      same" test, exact sup-distance integers over floor-micros
    //      values; the oracle replays the merged-CDF construction with
    //      a plain window cumsum (equality proves the two-phase bucket
    //      decomposition IS the global prefix sum — the q96 argument).
    ("q193_ks_test", (s: SparkSession, dir: String) => {
      ksTest(Tables(s, dir).events,
        valueCol = expr("CAST(floor(value * 1000000) AS BIGINT)"),
        isA = col("event_type") === "click",
        isB = col("event_type") === "purchase")
    }, Some(s"""
      WITH ${clickPurchaseCountsSql},
      cum AS (SELECT v, SUM(c0) OVER (ORDER BY v) AS cum0,
                     SUM(c1) OVER (ORDER BY v) AS cum1 FROM pv),
      d AS (SELECT v, abs(CAST(cum0 AS HUGEINT) * n1 - CAST(cum1 AS HUGEINT) * n0) AS diff
            FROM cum CROSS JOIN tot)
      SELECT n0 AS n_a, n1 AS n_b,
             CAST(((SELECT max(diff) FROM d) * 1000000)
                  // greatest(CAST(n0 AS HUGEINT) * n1, 1) AS BIGINT) AS ks_ppm,
             (SELECT min(v) FROM d WHERE diff = (SELECT max(diff) FROM d)) AS v_at
      FROM tot""")),

    // ---- frequent ordered event-type triples: top-20 sequential
    //      patterns by user support via the first/last-occurrence
    //      witness (linear, never C(k,3)); the oracle replays witness
    //      existence with the same bounds join.
    ("q194_seq_patterns", (s: SparkSession, dir: String) => {
      seqPatterns(Tables(s, dir).events, topK = 20)
    }, Some("""
      WITH ev AS (SELECT user_id, event_type, ts FROM events),
      fl AS (SELECT user_id, event_type, min(ts) AS fts, max(ts) AS lts
             FROM ev GROUP BY user_id, event_type),
      nb AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ev),
      bounds AS (
        SELECT a.user_id, a.event_type AS step_a, a.fts, c.event_type AS step_c, c.lts
        FROM fl a JOIN fl c ON a.user_id = c.user_id),
      hits AS (
        SELECT DISTINCT b.user_id, b.step_a, e.event_type AS step_b, b.step_c
        FROM bounds b JOIN ev e ON e.user_id = b.user_id
        WHERE e.ts > b.fts AND e.ts < b.lts),
      sup AS (SELECT step_a, step_b, step_c, CAST(count(*) AS BIGINT) AS n_sup
              FROM hits GROUP BY step_a, step_b, step_c)
      SELECT step_a, step_b, step_c, n_sup,
             CAST((1000000 * n_sup) // n_users AS BIGINT) AS support_ppm
      FROM sup CROSS JOIN nb
      ORDER BY n_sup DESC, step_a, step_b, step_c LIMIT 20""")),

    // ---- Welch drift test per event type, early vs late calendar
    //      half: squared t in ppm + Welch–Satterthwaite df in micros,
    //      all from one sufficient-statistics pass; the oracle replays
    //      every truncating DIV in the same order.
    ("q195_welch_drift", (s: SparkSession, dir: String) => {
      welchDrift(Tables(s, dir).events,
        valueMicros = expr("CAST(floor(value * 1000000) AS BIGINT)"))
    }, Some("""
      WITH base AS (
        SELECT event_type AS grp, CAST(floor(value * 1000000) AS BIGINT) AS x,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        FROM events),
      span AS (SELECT min(day) AS mn, max(day) AS mx FROM base),
      halves AS (
        SELECT grp, x,
               CASE WHEN day < (mn + mx + 1) // 2 THEN 1 ELSE 0 END AS early
        FROM base CROSS JOIN span),
      stats AS (
        SELECT grp,
               CAST(SUM(early) AS BIGINT) AS ne,
               CAST(SUM(1 - early) AS BIGINT) AS nl,
               SUM(CASE WHEN early = 1 THEN x ELSE 0 END) AS sxe,
               SUM(CASE WHEN early = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxe,
               SUM(CASE WHEN early = 0 THEN x ELSE 0 END) AS sxl,
               SUM(CASE WHEN early = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxl
        FROM halves GROUP BY grp),
      v AS (
        SELECT grp, ne, nl,
               sxe // greatest(ne, 1) AS mean_early_micros,
               sxl // greatest(nl, 1) AS mean_late_micros,
               (CAST(ne AS HUGEINT) * sxxe - CAST(sxe AS HUGEINT) * sxe)
                 // greatest(CAST(ne AS HUGEINT) * (ne - 1), 1) AS ve,
               (CAST(nl AS HUGEINT) * sxxl - CAST(sxl AS HUGEINT) * sxl)
                 // greatest(CAST(nl AS HUGEINT) * (nl - 1), 1) AS vl
        FROM stats),
      ab AS (
        SELECT grp, ne, nl, mean_early_micros, mean_late_micros,
               ve // greatest(ne, 1) AS a, vl // greatest(nl, 1) AS b,
               ve // greatest(ne, 1) // 1000 AS am,
               vl // greatest(nl, 1) // 1000 AS bm
        FROM v)
      SELECT grp AS event_type, ne AS n_early, nl AS n_late,
             CAST(mean_early_micros AS BIGINT) AS mean_early_micros,
             CAST(mean_late_micros AS BIGINT) AS mean_late_micros,
             CAST(((CAST(mean_early_micros AS HUGEINT) - mean_late_micros)
                   * (CAST(mean_early_micros AS HUGEINT) - mean_late_micros)
                   * 1000000) // greatest(a + b, 1) AS BIGINT) AS t2_ppm,
             CAST(((CAST(am AS HUGEINT) + bm) * (CAST(am AS HUGEINT) + bm)
                   * 1000000 * greatest(ne - 1, 1) * greatest(nl - 1, 1))
                  // greatest(CAST(am AS HUGEINT) * am * greatest(nl - 1, 1)
                             + CAST(bm AS HUGEINT) * bm * greatest(ne - 1, 1), 1)
                  AS BIGINT) AS df_micros
      FROM ab ORDER BY event_type""")),

    // ---- average precision @10 + MAP over the q154 retrieval
    //      protocol: per-query area-under-PR with corpus relevant
    //      counts in the denominator; the oracle replays the cosine
    //      ranking, the cumulative-hit precisions, and both DIVs.
    ("q196_avg_precision", (s: SparkSession, dir: String) => {
      averagePrecision(Tables(s, dir).embeddings, qHi = 20L, k = 10)
    }, Some(s"""
      WITH ${EvalOps.retrievalSplitSql},
      relc AS (SELECT c_label AS q_label, CAST(count(*) AS BIGINT) AS n_rel
               FROM c GROUP BY c_label),
      r AS (SELECT q_id, q_label, vec_id, c_label,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rn
            FROM c, q),
      t AS (SELECT q_id, q_label, rn,
                   CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS hit
            FROM r WHERE rn <= 10),
      cum AS (SELECT q_id, q_label, rn, hit,
                     SUM(hit) OVER (PARTITION BY q_id ORDER BY rn) AS ch
              FROM t),
      per AS (
        SELECT cum.q_id, cum.q_label AS label,
               CAST(least(relc.n_rel, 10) AS BIGINT) AS n_rel_k,
               CAST(SUM(hit) AS BIGINT) AS n_hits,
               CAST(SUM(CASE WHEN hit = 1 THEN (1000000 * ch) // rn ELSE 0 END)
                    // least(relc.n_rel, 10) AS BIGINT) AS ap_micros
        FROM cum JOIN relc ON cum.q_label = relc.q_label
        GROUP BY cum.q_id, cum.q_label, relc.n_rel),
      zz AS (
        SELECT CAST(-1 AS BIGINT) AS q_id, CAST(-1 AS BIGINT) AS label,
               CAST(0 AS BIGINT) AS n_rel_k, CAST(SUM(n_hits) AS BIGINT) AS n_hits,
               CAST(SUM(ap_micros) // count(*) AS BIGINT) AS ap_micros
        FROM per)
      SELECT * FROM per UNION ALL SELECT * FROM zz ORDER BY q_id""")),

    // ---- Naive Bayes language ID, trained on the 80% hash split and
    //      scored on the holdout: confusion matrix + zz accuracy row.
    //      The oracle retrains the identical model — same split, same
    //      add-one counts, same integer-nanos log terms — and replays
    //      every argmax including the lang-asc tie-break.
    ("q197_nb_langid", (s: SparkSession, dir: String) => {
      nbLangId(Tables(s, dir).documents)
    }, Some {
      val h = graft.text.TextStats.portableHash64Sql(
        "concat('nb:', CAST(doc_id AS VARCHAR))")
      s"""
      WITH sp AS (
        SELECT doc_id, lang, lower(text) AS t, $h % 5 AS hh
        FROM documents),
      tr AS (SELECT * FROM sp WHERE hh <> 0),
      te AS (SELECT * FROM sp WHERE hh = 0),
      trtok AS (SELECT lang, unnest(list_filter(
                  regexp_split_to_array(t, '$ws+'), x -> x <> '')) AS w
                FROM tr),
      model AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
                FROM trtok GROUP BY lang, w),
      consts AS (
        SELECT m.lang,
               CAST(round(ln(CAST(dl.d_l AS DOUBLE) / dd.d_tot)
                          * 1000000000) AS BIGINT) AS prior_nanos,
               CAST(round(ln(CAST(m.n_tok + vv.v AS DOUBLE))
                          * 1000000000) AS BIGINT) AS logden_nanos
        FROM (SELECT lang, SUM(c) AS n_tok FROM model GROUP BY lang) m
        JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS d_l FROM tr GROUP BY lang) dl
          ON m.lang = dl.lang
        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS d_tot FROM tr) dd
        CROSS JOIN (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM model) vv),
      tetok AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(t, '$ws+'), x -> x <> '')) AS w
              FROM te)
        GROUP BY doc_id, w),
      matched AS (
        SELECT tt.doc_id, m.lang,
               SUM(tt.cnt * CAST(round(ln(CAST(m.c + 1 AS DOUBLE))
                                       * 1000000000) AS BIGINT)) AS s
        FROM tetok tt JOIN model m ON tt.w = m.w
        GROUP BY tt.doc_id, m.lang),
      spine AS (
        SELECT te.doc_id, te.lang AS true_lang, co.lang,
               co.prior_nanos
                 - CAST(len(list_filter(regexp_split_to_array(te.t, '$ws+'),
                     x -> x <> '')) AS BIGINT) * co.logden_nanos
                 + COALESCE(mt.s, 0) AS score
        FROM te CROSS JOIN consts co
        LEFT JOIN matched mt ON mt.doc_id = te.doc_id AND mt.lang = co.lang),
      pred AS (
        SELECT doc_id, true_lang, lang AS pred
        FROM (SELECT doc_id, true_lang, lang,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, lang) AS rn
              FROM spine)
        WHERE rn = 1),
      conf AS (SELECT true_lang, pred, CAST(count(*) AS BIGINT) AS n_docs
               FROM pred GROUP BY true_lang, pred),
      per AS (
        SELECT conf.true_lang AS lang, conf.pred, conf.n_docs,
               CAST((1000000 * conf.n_docs) // rt.nt AS BIGINT) AS row_ppm
        FROM conf JOIN (SELECT true_lang, SUM(n_docs) AS nt
                        FROM conf GROUP BY true_lang) rt
          ON conf.true_lang = rt.true_lang),
      zz AS (
        SELECT 'zz' AS lang, 'zz' AS pred, CAST(count(*) AS BIGINT) AS n_docs,
               CAST((1000000 * SUM(CASE WHEN true_lang = pred THEN 1 ELSE 0 END))
                    // greatest(count(*), 1) AS BIGINT) AS row_ppm
        FROM pred)
      SELECT * FROM per UNION ALL SELECT * FROM zz ORDER BY lang, pred"""
    }),

    // ---- item-item CF neighbor lists: top-3 co-purchase neighbors
    //      per part by squared cosine; the oracle replays the distinct-
    //      basket pair counts, the integer cos², and the full
    //      (cos2 desc, c_ab desc, pb) tie-break.
    ("q198_item_cf", (s: SparkSession, dir: String) => {
      itemNeighbors(Tables(s, dir).lineitem)
    }, Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      itemc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1),
      pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS c_ab
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2),
      scored AS (
        SELECT pa, pb, c_ab,
               (CAST(c_ab AS HUGEINT) * c_ab * 1000000)
                 // (CAST(ca.c AS HUGEINT) * cb.c) AS cos2_ppm
        FROM pairs JOIN itemc ca ON pairs.pa = ca.l_partkey
                   JOIN itemc cb ON pairs.pb = cb.l_partkey),
      rnkd AS (SELECT pa, pb, c_ab, cos2_ppm,
                      row_number() OVER (PARTITION BY pa
                        ORDER BY cos2_ppm DESC, c_ab DESC, pb) AS rnk
               FROM scored)
      SELECT pa AS item, rnk, pb AS neighbor, c_ab,
             CAST(cos2_ppm AS BIGINT) AS cos2_ppm
      FROM rnkd WHERE rnk <= 3 ORDER BY item, rnk""")),

    // ---- KMV distinct-token sketch per source with the exact count
    //      as in-plan certificate: the oracle rebuilds the identical
    //      md5-hash registers, takes the same 64th order statistic,
    //      and replays the estimator division — the ESTIMATE itself is
    //      hash-verified, not just bounded.
    ("q199_kmv_distinct", (s: SparkSession, dir: String) => {
      import graft.text.TextStats
      val tok = Tables(s, dir).documents.select(col("source"),
        explode(filter(TextStats.tokens(lower(col("text"))), x => x =!= lit("")))
          .as("w"))
      kmvDistinct(tok, grp = "source", valueCol = col("w"), k = 64)
    }, Some(s"""
      WITH tokd AS (
        SELECT DISTINCT source, w
        FROM (SELECT source, unnest(list_filter(
                regexp_split_to_array(lower(text), '$ws+'), x -> x <> '')) AS w
              FROM documents)),
      hv AS (SELECT source,
                    ${graft.text.TextStats.portableHash64Sql("CAST(w AS VARCHAR)")} AS h
             FROM tokd),
      exact AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM hv GROUP BY 1),
      kth AS (SELECT source, max(h) AS h_k, CAST(count(*) AS BIGINT) AS n_in
              FROM (SELECT source, h,
                           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                    FROM hv)
              WHERE rn <= 64 GROUP BY source),
      est AS (
        SELECT e.source, e.n_exact,
               CASE WHEN k.n_in < 64 THEN e.n_exact
                    ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976)
                              // k.h_k AS BIGINT) END AS est
        FROM exact e JOIN kth k ON e.source = k.source)
      SELECT source, n_exact, est,
             CAST((CAST(1000000 AS HUGEINT) * abs(est - n_exact))
                  // greatest(n_exact, 1) AS BIGINT) AS err_ppm
      FROM est ORDER BY source""")),

    // ---- Fellegi–Sunter scored linkage: top-50 blocked customer
    //      pairs by accumulated field evidence; the oracle re-derives
    //      the u rates from the same value counts, re-rounds the same
    //      four nanos weights, and replays every pair score.
    ("q200_fellegi_sunter", (s: SparkSession, dir: String) => {
      fellegiSunter(Tables(s, dir).customer, topK = 50)
    }, Some {
      def w(f: String, alias: String) = s"""
        (SELECT CAST(round((ln(950000 / 1e6) - ln(CAST(num AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000000) AS BIGINT) AS wa_$alias,
                CAST(round((ln(1.0 - 950000 / 1e6) - ln(1.0 - CAST(num AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1)))) * 1000000000) AS BIGINT) AS wd_$alias
         FROM (SELECT SUM(CAST(cv AS HUGEINT) * (cv - 1)) AS num
               FROM (SELECT count(*) AS cv FROM c GROUP BY $f)) CROSS JOIN n)"""
      s"""
      WITH c AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS f_sign,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS f_b1000,
               CAST(floor(c_acctbal / 100) AS BIGINT) AS f_b100
        FROM customer),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      w1 AS ${w("f_sign", "sign")},
      w2 AS ${w("f_b1000", "b1000")},
      w3 AS ${w("f_b100", "b100")}
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             CAST(a.f_sign = b.f_sign AS BIGINT) AS agree_sign,
             CAST(a.f_b1000 = b.f_b1000 AS BIGINT) AS agree_b1000,
             CAST(a.f_b100 = b.f_b100 AS BIGINT) AS agree_b100,
             (CASE WHEN a.f_sign = b.f_sign THEN wa_sign ELSE wd_sign END
              + CASE WHEN a.f_b1000 = b.f_b1000 THEN wa_b1000 ELSE wd_b1000 END
              + CASE WHEN a.f_b100 = b.f_b100 THEN wa_b100 ELSE wd_b100 END)
               AS score_nanos
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
           AND a.c_custkey < b.c_custkey
      CROSS JOIN w1 CROSS JOIN w2 CROSS JOIN w3
      ORDER BY score_nanos DESC, id_a, id_b LIMIT 50"""
    }),

    // ---- Nelson–Aalen cumulative hazard over the q175 risk table:
    //      H(t) = Σ_{t_i ≤ t} d_i/n_i in per-term floored micros — the
    //      additive companion of Kaplan–Meier's product (more stable at
    //      small risk sets, and the quantity hazard-ratio models fit).
    //      Same right-censoring construction as q175; the cumulative
    //      sum is a day-table window (span-bounded, never corpus-
    //      bounded). Zero-death days contribute exactly 0, so
    //      filtering them before the running sum is identity-safe and
    //      both engines do it in the same order.
    ("q201_nelson_aalen", (s: SparkSession, dir: String) => {
      val wH = Window.orderBy(col("e_off")) // day-table sized
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      TemporalOps.survivalRisk(s, dir)
        .filter(col("d") > 0)
        .withColumn("h_term_micros", expr("(1000000 * d) DIV n"))
        .withColumn("h_micros", sum(col("h_term_micros")).over(wH))
        .selectExpr("CAST(e_off AS BIGINT) AS day_off", "n AS n_risk",
          "d AS n_deaths", "h_term_micros", "h_micros")
        .orderBy(col("day_off"))
    }, Some(s"""
      WITH ${TemporalOps.survivalRiskSql},
      ev_days AS (
        SELECT e_off, n, d, (1000000 * d) // n AS h_term_micros
        FROM risk WHERE d > 0)
      SELECT CAST(e_off AS BIGINT) AS day_off, n AS n_risk, d AS n_deaths,
             CAST(h_term_micros AS BIGINT) AS h_term_micros,
             CAST(SUM(h_term_micros) OVER (ORDER BY e_off) AS BIGINT) AS h_micros
      FROM ev_days ORDER BY day_off""")),

    // ---- U-shaped (position-based) multi-touch attribution: each
    //      purchase splits 1e6 ppm of credit over its 3-day-lookback
    //      touches — 40/20/40 first/middles/last (k=1 → all, k=2 →
    //      half each), with the middle rounding remainder assigned to
    //      the first touch so every conversion's credit sums to
    //      EXACTLY 1e6. The zz row certifies conservation in-plan:
    //      total credit = 1e6 × attributed conversions. The fractional
    //      upgrade of q188's winner-takes-all bookends.
    //
    //      Scale shape: the lookback join is user-keyed and 3-day
    //      bounded (the q188 argument); position ranks are per-
    //      conversion windows over that bounded fan-out; channel
    //      aggregation is map-side combined.
    ("q202_position_attribution", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir).events.filter(col("user_id").isNotNull)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"), col("ts").as("pts"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"),
          col("ts").as("tts"), col("event_id").as("tid"))
      val j = conv.join(touch, Seq("user_id"))
        .filter(col("tts") < col("pts")
          && col("tts") >= col("pts") - expr("INTERVAL 3 DAYS"))
      val wRank = Window.partitionBy(col("conv_id")).orderBy(col("tts"), col("tid"))
      val wK = Window.partitionBy(col("conv_id"))
      val credited = j
        .withColumn("rn", row_number().over(wRank).cast("long"))
        .withColumn("k", count(lit(1)).over(wK))
        .selectExpr("conv_id", "channel",
          """CASE WHEN k = 1 THEN 1000000
                  WHEN k = 2 AND rn = 1 THEN 500000
                  WHEN k = 2 THEN 500000
                  WHEN rn = 1 THEN 400000 + 200000 % (k - 2)
                  WHEN rn = k THEN 400000
                  ELSE 200000 DIV (k - 2) END AS w""")
        .transform(graft.Stage.mat) // feeds the channel agg and the zz cert
      val per = credited.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"), sum(col("w")).as("credit_ppm"))
      val zz = credited.agg(countDistinct(col("conv_id")).as("nc"),
          sum(col("w")).as("credit_ppm"))
        .selectExpr("'zz' AS channel", "nc AS n_touches", "credit_ppm")
      per.unionByName(zz).orderBy(col("channel"))
    }, Some("""
      WITH conv AS (
        SELECT event_id AS conv_id, user_id, ts AS pts
        FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'),
      touch AS (
        SELECT user_id, event_type AS channel, ts AS tts, event_id AS tid
        FROM events WHERE user_id IS NOT NULL AND event_type <> 'purchase'),
      j AS (
        SELECT conv.conv_id, touch.channel, touch.tts, touch.tid
        FROM conv JOIN touch ON conv.user_id = touch.user_id
        WHERE touch.tts < conv.pts AND touch.tts >= conv.pts - INTERVAL 3 DAY),
      ranked AS (
        SELECT conv_id, channel,
               CAST(row_number() OVER (PARTITION BY conv_id
                 ORDER BY tts, tid) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS k
        FROM j),
      credited AS (
        SELECT conv_id, channel,
               CASE WHEN k = 1 THEN 1000000
                    WHEN k = 2 THEN 500000
                    WHEN rn = 1 THEN 400000 + 200000 % (k - 2)
                    WHEN rn = k THEN 400000
                    ELSE 200000 // (k - 2) END AS w
        FROM ranked),
      per AS (
        SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
               CAST(SUM(w) AS BIGINT) AS credit_ppm
        FROM credited GROUP BY channel),
      zz AS (
        SELECT 'zz' AS channel,
               CAST(count(DISTINCT conv_id) AS BIGINT) AS n_touches,
               CAST(SUM(w) AS BIGINT) AS credit_ppm
        FROM credited)
      SELECT * FROM per UNION ALL SELECT * FROM zz ORDER BY channel""")),

    // ---- seasonally-adjusted volume anomalies: per (event type,
    //      day-of-week) baseline mean in micros, then the top-10 days
    //      by relative deviation from THEIR OWN weekday's baseline —
    //      the detector that doesn't page on every weekend dip the way
    //      a flat q111-style threshold does. Day-of-week is epoch-day
    //      mod 7 (engine-portable; both DATE part functions disagree
    //      on week start). Day-table-sized after one count aggregate.
    ("q203_seasonal_anomaly", (s: SparkSession, dir: String) => {
      val daily = Tables(s, dir).events
        .selectExpr("event_type", "CAST(ts AS DATE) AS day")
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("dow7",
          expr("CAST(datediff(day, DATE '1970-01-01') AS BIGINT) % 7"))
        .transform(graft.Stage.mat) // feeds the baseline and the scoring
      val base = daily.groupBy(col("event_type"), col("dow7"))
        .agg(expr("(1000000 * SUM(c)) DIV count(*)").as("mean_micros"))
      daily.join(base, Seq("event_type", "dow7"))
        .selectExpr("event_type", "day", "c AS n_events", "dow7", "mean_micros",
          """(1000000 * abs(c * 1000000 - mean_micros))
             DIV greatest(mean_micros, 1) AS dev_ppm""")
        .orderBy(col("dev_ppm").desc, col("event_type"), col("day"))
        .limit(10)
    }, Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
      dd AS (
        SELECT event_type, day, c,
               CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) % 7 AS dow7
        FROM daily),
      base AS (
        SELECT event_type, dow7,
               CAST((1000000 * SUM(c)) // count(*) AS BIGINT) AS mean_micros
        FROM dd GROUP BY event_type, dow7)
      SELECT dd.event_type, dd.day, dd.c AS n_events, dd.dow7, base.mean_micros,
             CAST((1000000 * abs(dd.c * 1000000 - base.mean_micros))
                  // greatest(base.mean_micros, 1) AS BIGINT) AS dev_ppm
      FROM dd JOIN base ON dd.event_type = base.event_type AND dd.dow7 = base.dow7
      ORDER BY dev_ppm DESC, dd.event_type, dd.day LIMIT 10""")),

    // ---- Holt one-step-ahead forecast backtest with MASE: replay the
    //      q176 recurrence per user, scoring each step's forecast
    //      l+b against the realized value and against the naive
    //      last-value forecast — MASE = Σ|e_model| / Σ|e_naive| in ppm
    //      (Hyndman & Koehler 2006), the scale-free "is the model
    //      beating persistence" scoreboard, plus a pooled zz row. Same
    //      fold-state discipline as q176 (the accumulator carries
    //      l, b, prev, and both error sums; the oracle's LIST
    //      accumulator avoids DuckDB's struct field-mutation order).
    ("q204_forecast_backtest", (s: SparkSession, dir: String) => {
      val per = TemporalOps.userValueSeqs(s, dir)
        .selectExpr("user_id", "n_events",
          """aggregate(slice(transform(seq, e -> e.xm), 2, size(seq) - 1),
               named_struct('l', element_at(transform(seq, e -> e.xm), 1),
                            'b', CAST(0 AS BIGINT),
                            'p', element_at(transform(seq, e -> e.xm), 1),
                            'sm', CAST(0 AS BIGINT), 'sn', CAST(0 AS BIGINT)),
               (acc, x) -> named_struct(
                 'l', (500000 * x + 500000 * (acc.l + acc.b)) DIV 1000000,
                 'b', (300000 * (((500000 * x + 500000 * (acc.l + acc.b))
                                  DIV 1000000) - acc.l)
                       + 700000 * acc.b) DIV 1000000,
                 'p', x,
                 'sm', acc.sm + abs(x - (acc.l + acc.b)),
                 'sn', acc.sn + abs(x - acc.p))) AS st""")
        .selectExpr("user_id", "n_events", "st.sm AS sae_model",
          "st.sn AS sae_naive",
          "(1000000 * st.sm) DIV greatest(st.sn, 1) AS mase_ppm")
        .transform(graft.Stage.mat) // feeds the output and the zz pool
      val zz = per.agg(sum(col("n_events")).as("n_events"),
          sum(col("sae_model")).as("sae_model"),
          sum(col("sae_naive")).as("sae_naive"))
        .selectExpr("CAST(-1 AS BIGINT) AS user_id", "n_events",
          "sae_model", "sae_naive",
          "(1000000 * sae_model) DIV greatest(sae_naive, 1) AS mase_ppm")
      per.unionByName(zz).orderBy(col("user_id"))
    }, Some(s"""
      WITH ${TemporalOps.userValueSql},
      folded AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               list_reduce(
                 list_transform(list(xm ORDER BY ts, event_id),
                   v -> [v, 0::BIGINT, v, 0::BIGINT, 0::BIGINT]),
                 (acc, x) -> [
                   (500000 * x[1] + 500000 * (acc[1] + acc[2])) // 1000000,
                   (300000 * (((500000 * x[1] + 500000 * (acc[1] + acc[2]))
                               // 1000000) - acc[1])
                    + 700000 * acc[2]) // 1000000,
                   x[1],
                   acc[4] + abs(x[1] - (acc[1] + acc[2])),
                   acc[5] + abs(x[1] - acc[3])]) AS st
        FROM f GROUP BY user_id),
      per AS (
        SELECT user_id, n_events,
               CAST(st[4] AS BIGINT) AS sae_model,
               CAST(st[5] AS BIGINT) AS sae_naive,
               CAST((1000000 * st[4]) // greatest(st[5], 1) AS BIGINT) AS mase_ppm
        FROM folded),
      zz AS (
        SELECT CAST(-1 AS BIGINT) AS user_id,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(SUM(sae_model) AS BIGINT) AS sae_model,
               CAST(SUM(sae_naive) AS BIGINT) AS sae_naive,
               CAST((1000000 * SUM(sae_model))
                    // greatest(SUM(sae_naive), 1) AS BIGINT) AS mase_ppm
        FROM per)
      SELECT * FROM per UNION ALL SELECT * FROM zz ORDER BY user_id""")),

    // ---- Markov removal-effect attribution over the four touchpoint
    //      channels: journeys truncated at first purchase, 6 unrolled
    //      K-step absorption rounds per removal variant, clamped
    //      removal effects normalized to ppm shares + the zz_full
    //      baseline row. The oracle replays the journey windows, the
    //      ppm matrix, and all 6 rounds for all 5 variants.
    ("q211_markov_attribution", (s: SparkSession, dir: String) => {
      markovAttribution(Tables(s, dir).events,
        channels = Seq("view", "click", "signup", "error"))
    }, Some {
      val channels = Seq("view", "click", "signup", "error")
      val variantsSql = (Seq(("full", "")) ++ channels.map(c => (s"no_$c", c)))
        .map { case (v, r) => s"SELECT '$v' AS variant, '$r' AS removed" }
        .mkString("\n        UNION ALL ")
      s"""
      WITH ev AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
        WHERE user_id IS NOT NULL
          AND event_type IN (${(channels :+ "purchase").map(c => s"'$c'").mkString(", ")})),
      pf AS (SELECT user_id, min(rn) AS prn FROM ev
             WHERE event_type = 'purchase' GROUP BY user_id),
      jj AS (SELECT e.user_id, e.event_type, e.rn,
                    (pf.prn IS NOT NULL) AS converted
             FROM ev e LEFT JOIN pf ON e.user_id = pf.user_id
             WHERE pf.prn IS NULL OR e.rn < pf.prn),
      j2 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rn) AS rn2,
                    lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
             FROM jj),
      tr AS (SELECT 'START' AS s, event_type AS b FROM j2 WHERE rn2 = 1
             UNION ALL SELECT event_type, nxt FROM j2 WHERE nxt IS NOT NULL
             UNION ALL SELECT event_type,
                              CASE WHEN converted THEN 'CONV' ELSE 'NULL' END
                       FROM j2 WHERE nxt IS NULL
             UNION ALL SELECT 'START', 'CONV' FROM pf
                       WHERE user_id NOT IN (SELECT DISTINCT user_id FROM jj)),
      cnts AS (SELECT s, b, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY s, b),
      tot AS (SELECT s, SUM(c) AS ct FROM cnts GROUP BY s),
      trans AS (SELECT cnts.s, cnts.b, (1000000 * c) // ct AS p_ppm
                FROM cnts JOIN tot ON cnts.s = tot.s),
      variants AS (
        $variantsSql),
      tv AS (SELECT t.s, t.b, t.p_ppm, v.variant, v.removed
             FROM trans t CROSS JOIN variants v
             WHERE t.s <> v.removed AND t.b <> v.removed),
      v0 AS (SELECT variant, 'CONV' AS state, CAST(1000000 AS BIGINT) AS v
             FROM variants),
      ${(1 to 6).map(mkvIterSql).mkString(",\n      ")},
      cr AS (SELECT variant, v AS conv_ppm FROM v6 WHERE state = 'START'),
      fl AS (SELECT conv_ppm AS full_ppm FROM cr WHERE variant = 'full'),
      eff AS (SELECT substring(variant, 4) AS channel, conv_ppm,
                     greatest(full_ppm - conv_ppm, 0) AS removal_ppm
              FROM cr CROSS JOIN fl WHERE variant <> 'full'),
      te AS (SELECT greatest(SUM(removal_ppm), 1) AS t FROM eff)
      SELECT channel, CAST(conv_ppm AS BIGINT) AS conv_ppm,
             CAST(removal_ppm AS BIGINT) AS removal_ppm,
             CAST((1000000 * removal_ppm) // t AS BIGINT) AS share_ppm
      FROM eff CROSS JOIN te
      UNION ALL
      SELECT 'zz_full', full_ppm, 0, 0 FROM fl
      ORDER BY channel"""
    }),

    // ---- Wald SPRT per event type on the daily ≥-35 value rate:
    //      integer-nanos LLR cumsum over days, first ±ln 19 crossing.
    //      The oracle replays the daily fold, both window sums, and
    //      the crossing selection.
    ("q212_sprt", (s: SparkSession, dir: String) => {
      sprtDaily(Tables(s, dir).events)
    }, Some(s"""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value >= 35.0 THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM events GROUP BY event_type, CAST(ts AS DATE)),
      lc AS (
        SELECT *, s * CAST($sprtLPosNanos AS BIGINT)
                  + (n - s) * CAST($sprtLNegNanos AS BIGINT) AS llr_day
        FROM daily),
      cum AS (
        SELECT event_type, day, n,
               SUM(llr_day) OVER (PARTITION BY event_type ORDER BY day) AS cum_llr,
               SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS cum_n,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM lc),
      firstx AS (
        SELECT event_type, decision, n_at_decision, llr_cross FROM (
          SELECT event_type,
                 CASE WHEN cum_llr >= CAST($sprtBoundNanos AS BIGINT)
                      THEN 'h1' ELSE 'h0' END AS decision,
                 cum_n AS n_at_decision, cum_llr AS llr_cross,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS rx
          FROM cum
          WHERE cum_llr >= CAST($sprtBoundNanos AS BIGINT)
             OR cum_llr <= -CAST($sprtBoundNanos AS BIGINT))
        WHERE rx = 1),
      lastd AS (
        SELECT event_type, CAST(rn AS BIGINT) AS n_days, cum_n AS n_obs,
               cum_llr AS llr_final FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rl
          FROM cum) WHERE rl = 1)
      SELECT l.event_type, l.n_days, CAST(l.n_obs AS BIGINT) AS n_obs,
             COALESCE(f.decision, 'continue') AS decision,
             CAST(COALESCE(f.n_at_decision, -1) AS BIGINT) AS n_at_decision,
             CAST(COALESCE(f.llr_cross, l.llr_final) AS BIGINT) AS llr_nanos
      FROM lastd l LEFT JOIN firstx f ON l.event_type = f.event_type
      ORDER BY l.event_type""")),

    // ---- difference-in-differences on a hash-parity A/A assignment:
    //      four cell means + the zz DiD row (expected ≈ 0 — the
    //      calibration reading; see the method scaladoc for why the
    //      fixture admits no behavioral cohort). The oracle replays
    //      the hash assignment, the day cutoff, and every truncating
    //      cell mean.
    ("q220_diff_in_diff", (s: SparkSession, dir: String) => {
      diffInDiff(Tables(s, dir).events,
        treat = graft.text.TextStats.portableHash64(
          concat(lit("did:"), col("user_id").cast("string"))) % 2 === 1)
    }, Some(s"""
      WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
      base AS (
        SELECT CASE WHEN ${graft.text.TextStats.portableHash64Sql(
          "concat('did:', CAST(e.user_id AS VARCHAR))")} % 2 = 1
                    THEN 1 ELSE 0 END AS is_t,
               date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) AS day,
               CAST(floor(e.value * 1000000) AS BIGINT) AS x
        FROM ev e WHERE e.event_type = 'purchase'),
      span AS (SELECT min(day) AS mn, max(day) AS mx FROM base),
      cells AS (
        SELECT b.is_t AS t,
               CASE WHEN b.day >= (mn + mx + 1) // 2 THEN 1 ELSE 0 END AS post,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(b.x) // count(*) AS BIGINT) AS mean_micros
        FROM base b
        CROSS JOIN span
        GROUP BY 1, 2)
      SELECT CAST(t AS BIGINT) AS t, CAST(post AS BIGINT) AS post, n, mean_micros
      FROM cells
      UNION ALL
      SELECT -1, -1, CAST(SUM(n) AS BIGINT),
             CAST((SUM(CASE WHEN t = 1 AND post = 1 THEN mean_micros ELSE 0 END)
                   - SUM(CASE WHEN t = 1 AND post = 0 THEN mean_micros ELSE 0 END))
                  - (SUM(CASE WHEN t = 0 AND post = 1 THEN mean_micros ELSE 0 END)
                     - SUM(CASE WHEN t = 0 AND post = 0 THEN mean_micros ELSE 0 END))
                  AS BIGINT)
      FROM cells
      ORDER BY t, post""")),

    // ---- two-proportion z-test per event type: the high-value-event
    //      RATE (value ≥ 35), early vs late calendar half — the
    //      proportion counterpart of q195's Welch mean test. The
    //      pooled z² is an exact integer rational once cross-
    //      multiplied:
    //        z² = (s1·n2 − s2·n1)²·(n1+n2)
    //             div (n1·n2·(s1+s2)·(n1+n2−s1−s2))
    //      shipped ×1e6 in micros via DECIMAL(38,0) products
    //      (exact to n ≈ 1e7 per type; rescale to daily means past
    //      that — the q195 note), significant at 95% iff
    //      z2_micros > 3841600. The oracle replays the halves and
    //      every product.
    ("q236_prop_test", (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).events
        .selectExpr("event_type AS grp",
          "CASE WHEN value >= 35.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS hit",
          "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS day")
      val span = base.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      base.crossJoin(broadcast(span))
        .withColumn("early", (col("day") < expr("(mn + mx + 1) DIV 2")).cast("long"))
        .groupBy(col("grp"))
        .agg(sum(col("early")).as("n1"), sum(lit(1L) - col("early")).as("n2"),
          sum(col("hit") * col("early")).as("s1"),
          sum(col("hit") * (lit(1L) - col("early"))).as("s2"))
        .selectExpr("grp AS event_type", "n1", "n2", "s1", "s2",
          "(1000000 * s1) DIV greatest(n1, 1) AS p1_ppm",
          "(1000000 * s2) DIV greatest(n2, 1) AS p2_ppm",
          """CAST((CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1)
                  * (CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1)
                  * (n1 + n2) * 1000000
                DIV greatest(CAST(n1 AS DECIMAL(38,0)) * n2 * (s1 + s2)
                             * (n1 + n2 - s1 - s2), 1) AS BIGINT) AS z2_micros""")
        .withColumn("significant", col("z2_micros") > 3841600L)
        .orderBy(col("event_type"))
    }, Some("""
      WITH base AS (
        SELECT event_type AS grp,
               CASE WHEN value >= 35.0 THEN 1 ELSE 0 END AS hit,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        FROM events),
      span AS (SELECT min(day) AS mn, max(day) AS mx FROM base),
      h AS (SELECT grp, hit,
                   CASE WHEN day < (mn + mx + 1) // 2 THEN 1 ELSE 0 END AS early
            FROM base CROSS JOIN span),
      ag AS (
        SELECT grp, CAST(SUM(early) AS BIGINT) AS n1,
               CAST(SUM(1 - early) AS BIGINT) AS n2,
               CAST(SUM(hit * early) AS BIGINT) AS s1,
               CAST(SUM(hit * (1 - early)) AS BIGINT) AS s2
        FROM h GROUP BY grp)
      SELECT grp AS event_type, n1, n2, s1, s2,
             (1000000 * s1) // greatest(n1, 1) AS p1_ppm,
             (1000000 * s2) // greatest(n2, 1) AS p2_ppm,
             CAST((CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
                  * (CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
                  * (n1 + n2) * 1000000
                  // greatest(CAST(n1 AS HUGEINT) * n2 * (s1 + s2)
                              * (n1 + n2 - s1 - s2), 1) AS BIGINT) AS z2_micros,
             (CAST((CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
                  * (CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
                  * (n1 + n2) * 1000000
                  // greatest(CAST(n1 AS HUGEINT) * n2 * (s1 + s2)
                              * (n1 + n2 - s1 - s2), 1) AS BIGINT) > 3841600)
               AS significant
      FROM ag ORDER BY event_type""")),

    // ---- Cochran–Mantel–Haenszel stratified odds ratio: does the
    //      BUILDING market segment carry different 'F'-status odds
    //      once NATION is controlled for? Per-stratum 2×2 cells plus
    //      the CMH pooled estimate OR = Σ(aᵢdᵢ/nᵢ) div Σ(bᵢcᵢ/nᵢ) —
    //      each stratum term a truncating ppm quotient, the pool an
    //      exact ratio of their sums (zz row). The confounder-proof
    //      counterpart of a naive marginal odds ratio: Simpson
    //      reversals show up as zz disagreeing with the pooled-table
    //      answer. One customer⋈orders join (customer-keyed,
    //      bucketable) + a nation-sized aggregate.
    ("q237_cmh_odds", (s: SparkSession, dir: String) => {
      val t = Tables(s, dir)
      val cells = t.orders
        .join(t.customer.select(col("c_custkey").as("o_custkey"),
          col("c_nationkey"), col("c_mktsegment")), Seq("o_custkey"))
        .selectExpr("CAST(c_nationkey AS BIGINT) AS nk",
          "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS ex",
          "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad")
        .groupBy(col("nk"))
        .agg(sum(expr("ex * bad")).as("a"), sum(expr("ex * (1 - bad)")).as("b"),
          sum(expr("(1 - ex) * bad")).as("c"),
          sum(expr("(1 - ex) * (1 - bad)")).as("d"))
        .selectExpr("nk", "a", "b", "c", "d",
          "(1000000 * a * d) DIV greatest(a + b + c + d, 1) AS num_ppm",
          "(1000000 * b * c) DIV greatest(a + b + c + d, 1) AS den_ppm")
        .withColumn("or_micros", lit(0L))
        .transform(graft.Stage.mat)
      val zz = cells.agg(sum(col("a")).as("sa"), sum(col("b")).as("sb"),
          sum(col("c")).as("sc"), sum(col("d")).as("sd"),
          sum(col("num_ppm")).as("sn"), sum(col("den_ppm")).as("sdn"))
        .selectExpr("CAST(-1 AS BIGINT) AS nk", "sa AS a", "sb AS b",
          "sc AS c", "sd AS d", "sn AS num_ppm", "sdn AS den_ppm",
          "(1000000 * sn) DIV greatest(sdn, 1) AS or_micros")
      cells.unionByName(zz).orderBy(col("nk"))
    }, Some("""
      WITH j AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS ex,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      cells AS (
        SELECT nk, CAST(SUM(ex * bad) AS BIGINT) AS a,
               CAST(SUM(ex * (1 - bad)) AS BIGINT) AS b,
               CAST(SUM((1 - ex) * bad) AS BIGINT) AS c,
               CAST(SUM((1 - ex) * (1 - bad)) AS BIGINT) AS d
        FROM j GROUP BY nk),
      p AS (
        SELECT nk, a, b, c, d,
               (1000000 * a * d) // greatest(a + b + c + d, 1) AS num_ppm,
               (1000000 * b * c) // greatest(a + b + c + d, 1) AS den_ppm,
               CAST(0 AS BIGINT) AS or_micros
        FROM cells)
      SELECT * FROM p
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(SUM(a) AS BIGINT), CAST(SUM(b) AS BIGINT),
             CAST(SUM(c) AS BIGINT), CAST(SUM(d) AS BIGINT),
             CAST(SUM(num_ppm) AS BIGINT), CAST(SUM(den_ppm) AS BIGINT),
             CAST((1000000 * SUM(num_ppm)) // greatest(SUM(den_ppm), 1) AS BIGINT)
      FROM p
      ORDER BY nk""")),

    // ---- log-rank test: view-first vs rest on days-to-first-purchase,
    //      per-event-time O/E/V rows + the zz chi² row. The oracle
    //      replays the first-event cohort window, the duration
    //      histogram, the reverse at-risk cumsum, and every truncating
    //      quotient.
    ("q222_log_rank", (s: SparkSession, dir: String) => {
      logRank(Tables(s, dir).events)
    }, Some("""
      WITH ev AS (
        SELECT user_id, event_type, ts, event_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        FROM events WHERE user_id IS NOT NULL),
      fst AS (
        SELECT user_id,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g,
               day AS t0 FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS rn
          FROM ev) WHERE rn = 1),
      cd AS (SELECT user_id, min(day) AS tc FROM ev
             WHERE event_type = 'purchase' GROUP BY user_id),
      ld AS (SELECT max(day) AS ld FROM ev),
      dur AS (
        SELECT f.g,
               CASE WHEN cd.tc IS NOT NULL THEN cd.tc - f.t0
                    ELSE ld.ld - f.t0 END AS dur,
               CASE WHEN cd.tc IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM fst f LEFT JOIN cd ON f.user_id = cd.user_id CROSS JOIN ld),
      dc AS (
        SELECT dur,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
               CAST(count(*) AS BIGINT) AS rt,
               CAST(SUM(CASE WHEN g = 1 AND ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(SUM(ev) AS BIGINT) AS d
        FROM dur GROUP BY dur),
      risk AS (
        SELECT *, SUM(r1) OVER (ORDER BY dur DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
               SUM(rt) OVER (ORDER BY dur DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        FROM dc),
      et AS (
        SELECT dur AS t, d1, d, CAST(n1 AS BIGINT) AS n1, CAST(n AS BIGINT) AS n,
               CAST((d * n1 * 1000000) // n AS BIGINT) AS e1_micros,
               CAST((CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d) * 1000000)
                    // greatest(CAST(n AS HUGEINT) * n * greatest(n - 1, 1), 1)
                    AS BIGINT) AS v_micros,
               CAST(0 AS BIGINT) AS chi2_micros
        FROM risk WHERE d > 0)
      SELECT * FROM et
      UNION ALL
      SELECT CAST(-1 AS BIGINT), CAST(SUM(d1) AS BIGINT), CAST(SUM(d) AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(SUM(e1_micros) AS BIGINT), CAST(SUM(v_micros) AS BIGINT),
             CAST((CAST(SUM(d1) * 1000000 - SUM(e1_micros) AS HUGEINT)
                   * (SUM(d1) * 1000000 - SUM(e1_micros)))
                  // greatest(SUM(v_micros), 1) AS BIGINT)
      FROM et
      ORDER BY t""")),

    // ---- split-conformal prediction interval (Papadopoulos et al.
    //      2002; Vovk's inductive conformal form): hash-split orders
    //      into train (h ≤ 5) / calibration (h ∈ {6,7}) / test
    //      (h ≥ 8); model = per-priority truncating mean of the order
    //      total on train; q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest
    //      calibration residual |y − ŷ| — located by the scale-safe
    //      Quantiles.pairRankSelect three-level range-bucket selection,
    //      never a global sort — and the certified finite-sample
    //      guarantee P(|y−ŷ| ≤ q̂) ≥ 0.9 is read back as the test-split
    //      coverage in ppm (self-certifying: the one-row output carries
    //      both the promise and the measurement). All arithmetic in
    //      exact integer micros; the oracle replays the split, the
    //      truncating means, the order statistic (plain ORDER BY — rank
    //      selection is definitionally the same pair), and the coverage.
    //
    //      Scale shape: two broadcast joins of the 5-row model, one
    //      rank selection whose windows are ≤1024-row bucket tables or
    //      per-bucket slices, and two map-side-combined aggregates.
    ("q266_conformal", (s: SparkSession, dir: String) => {
      val base = graft.Stage.mat(Tables(s, dir).orders.select(
        col("o_orderkey"), col("o_orderpriority").as("g"),
        expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)").as("y"),
        (graft.text.TextStats.portableHash64(
          concat(lit("cp:"), col("o_orderkey").cast("string"))) % 10L).as("h")))
      val model = base.filter(col("h") <= 5)
        .groupBy(col("g")).agg(expr("SUM(y) DIV count(1)").as("yhat"))
      val cal = graft.Stage.mat(base.filter(col("h").isin(6L, 7L))
        .join(broadcast(model), Seq("g"))
        .select(col("o_orderkey"), abs(col("y") - col("yhat")).as("r")))
      val ranks = cal.agg(count(lit(1)).as("n_cal"))
        .selectExpr("CAST(1 AS BIGINT) AS t",
          "least(((n_cal + 1) * 9 + 9) DIV 10, n_cal) AS k", "n_cal")
      val qh = Quantiles.pairRankSelect(cal,
        ranks.select(col("t"), col("k"))).selectExpr("bx AS qhat")
      val cov = base.filter(col("h") >= 8).join(broadcast(model), Seq("g"))
        .select(abs(col("y") - col("yhat")).as("r"))
        .crossJoin(broadcast(qh))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).as("n_cov"))
      base.filter(col("h") <= 5).agg(count(lit(1)).as("n_train"))
        .crossJoin(broadcast(ranks.selectExpr("n_cal", "k AS k_rank")))
        .crossJoin(broadcast(qh)).crossJoin(broadcast(cov))
        .selectExpr("n_train", "n_cal", "n_test", "k_rank",
          "qhat AS qhat_micros",
          "(n_cov * 1000000) DIV greatest(n_test, 1) AS coverage_ppm")
    }, Some {
      val keyH = graft.text.TextStats.portableHash64Sql(
        "concat('cp:', CAST(o_orderkey AS VARCHAR))")
      s"""
      WITH base AS (
        SELECT o_orderkey, o_orderpriority AS g,
               CAST(floor(o_totalprice * 1000000) AS BIGINT) AS y,
               $keyH % 10 AS h
        FROM orders),
      model AS (
        SELECT g, CAST(SUM(y) // count(*) AS BIGINT) AS yhat
        FROM base WHERE h <= 5 GROUP BY g),
      cal AS (
        SELECT abs(y - yhat) AS r
        FROM base b JOIN model m ON b.g = m.g WHERE h IN (6, 7)),
      nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
      kk AS (SELECT least(((n_cal + 1) * 9 + 9) // 10, n_cal) AS k_rank, n_cal
             FROM nc),
      ranked AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal),
      qh AS (SELECT r AS qhat FROM ranked CROSS JOIN kk WHERE rn = k_rank),
      cov AS (
        SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN abs(y - yhat) <= qhat THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_cov
        FROM base b JOIN model m ON b.g = m.g CROSS JOIN qh WHERE h >= 8),
      tr AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM base WHERE h <= 5)
      SELECT n_train, n_cal, n_test, k_rank, qhat AS qhat_micros,
             (n_cov * 1000000) // greatest(n_test, 1) AS coverage_ppm
      FROM tr CROSS JOIN kk CROSS JOIN qh CROSS JOIN cov"""
    }),

    // ---- inverse-propensity off-policy evaluation (Horvitz & Thompson
    //      1952; the bandit-replay form of Li et al. 2011): the logged
    //      policy picks action a ∈ {0,1,2} per event from a hash draw
    //      with KNOWN propensities (1/2, 1/3, 1/6) — so the importance
    //      weights are the exact integers 2/3/6, no float division
    //      anywhere — and the target policy is the deterministic rule
    //      a* = user_id mod 3. Reward r(x,a) = v_micros·(a+1) is a known
    //      function here, which makes the evaluation self-certifying:
    //      the one-row output carries the IPS estimate, the
    //      self-normalized SNIPS estimate, AND the true target value
    //      (computable only because r is synthetic), with the IPS error
    //      in ppm. Unbiasedness shows up as a small err_ips_ppm; SNIPS
    //      trades a vanishing bias for variance (Swaminathan & Joachims
    //      2015).
    //
    //      Scale shape: ONE map-side-combined aggregate over a pure
    //      projection — no join, no window, no shuffle beyond the
    //      single-row final combine.
    ("q269_ips_offpolicy", (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).events.filter(col("user_id").isNotNull)
        .select(col("user_id"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("v"),
          (graft.text.TextStats.portableHash64(
            concat(lit("act:"), col("event_id").cast("string"))) % 6L).as("u"))
        .selectExpr("v", "user_id % 3 AS a_star",
          """CASE WHEN u < 3 THEN CAST(0 AS BIGINT)
                  WHEN u < 5 THEN CAST(1 AS BIGINT)
                  ELSE CAST(2 AS BIGINT) END AS a_log""",
          """CASE WHEN u < 3 THEN CAST(2 AS BIGINT)
                  WHEN u < 5 THEN CAST(3 AS BIGINT)
                  ELSE CAST(6 AS BIGINT) END AS inv_p""")
      base.agg(
        count(lit(1)).as("n"),
        sum(when(col("a_log") === col("a_star"), 1L).otherwise(0L)).as("n_matched"),
        sum(expr("v * (a_star + 1)")).as("s_true"),
        sum(expr("CASE WHEN a_log = a_star THEN v * (a_log + 1) * inv_p ELSE 0 END"))
          .as("s_ips"),
        sum(expr("CASE WHEN a_log = a_star THEN inv_p ELSE 0 END")).as("w_ips"))
        .selectExpr("n", "n_matched",
          "s_true DIV n AS v_true_micros",
          "s_ips DIV n AS v_ips_micros",
          "s_ips DIV greatest(w_ips, 1) AS v_snips_micros",
          """(abs(s_ips DIV n - s_true DIV n) * 1000000)
             DIV greatest(s_true DIV n, 1) AS err_ips_ppm""")
    }, Some {
      val actH = graft.text.TextStats.portableHash64Sql(
        "concat('act:', CAST(event_id AS VARCHAR))")
      s"""
      WITH base AS (
        SELECT CAST(floor(value * 1000000) AS BIGINT) AS v,
               user_id % 3 AS a_star,
               $actH % 6 AS u
        FROM events WHERE user_id IS NOT NULL),
      acts AS (
        SELECT v, a_star,
               CASE WHEN u < 3 THEN 0 WHEN u < 5 THEN 1 ELSE 2 END AS a_log,
               CASE WHEN u < 3 THEN 2 WHEN u < 5 THEN 3 ELSE 6 END AS inv_p
        FROM base),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a_log = a_star THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_matched,
               CAST(SUM(v * (a_star + 1)) AS BIGINT) AS s_true,
               CAST(SUM(CASE WHEN a_log = a_star
                        THEN v * (a_log + 1) * inv_p ELSE 0 END) AS BIGINT)
                 AS s_ips,
               CAST(SUM(CASE WHEN a_log = a_star THEN inv_p ELSE 0 END)
                 AS BIGINT) AS w_ips
        FROM acts)
      SELECT n, n_matched,
             s_true // n AS v_true_micros,
             s_ips // n AS v_ips_micros,
             s_ips // greatest(w_ips, 1) AS v_snips_micros,
             (abs(s_ips // n - s_true // n) * 1000000)
               // greatest(s_true // n, 1) AS err_ips_ppm
      FROM agg"""
    }),

    // ---- sharp regression discontinuity (Thistlethwaite & Campbell
    //      1960; Imbens & Lemieux 2008's local-linear form): order value
    //      regressed on order date in a ±(span DIV 6)-day bandwidth
    //      around the midpoint cutoff, one OLS per side, jump = the
    //      difference of the two boundary intercepts. The fixture's
    //      order date is independent of price, so this is the A/A
    //      calibration reading: jump ≈ 0 against a ~150k-micro price
    //      scale IS the finding (the estimator doesn't hallucinate a
    //      discontinuity). All sufficient statistics in exact integers;
    //      slope and intercept use the toward-zero signed division both
    //      engines replay (CASE on the sign, floor on the nonneg
    //      magnitude — the house convention for signed numerators);
    //      DECIMAL(38,0) cross products hold to 1e9 rows per side.
    //
    //      Scale shape: ONE map-side-combined aggregate per side over a
    //      bandwidth-filtered projection. No join, no window.
    ("q275_regression_discontinuity", (s: SparkSession, dir: String) => {
      def sdiv(num: String, den: String) =
        s"""CAST(CASE WHEN ($num) < 0
               THEN -((-($num)) DIV greatest($den, 1))
               ELSE ($num) DIV greatest($den, 1) END AS BIGINT)"""
      val o = Tables(s, dir).orders.selectExpr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT) AS od",
        "CAST(floor(o_totalprice * 1000000) AS BIGINT) AS y")
      val span = o.agg(min(col("od")).as("mn"), max(col("od")).as("mx"))
        .selectExpr("(mn + mx + 1) DIV 2 AS c", "(mx - mn) DIV 6 AS h")
      val sides = o.crossJoin(broadcast(span))
        .filter(col("od").between(col("c") - col("h"), col("c") + col("h") - 1))
        .withColumn("side", when(col("od") < col("c"), lit("l")).otherwise(lit("r")))
        .selectExpr("side", "c", "h", "od - c AS x", "y")
        .groupBy(col("side"))
        .agg(max(col("c")).as("c"), max(col("h")).as("h"),
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
        .selectExpr("side", "c", "h", "n", "sx", "sy",
          s"""${sdiv("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy",
            "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")}
             AS b_micros""")
        .selectExpr("side", "c", "h", "n", "b_micros",
          s"""${sdiv("CAST(sy AS DECIMAL(38,0)) - CAST(b_micros AS DECIMAL(38,0)) * sx",
            "CAST(n AS DECIMAL(38,0))")} AS a_micros""")
        .transform(graft.Stage.mat)
      val l = sides.filter(col("side") === "l").selectExpr("c", "h",
        "n AS n_left", "b_micros AS slope_left", "a_micros AS a_left")
      val r = sides.filter(col("side") === "r").selectExpr(
        "n AS n_right", "b_micros AS slope_right", "a_micros AS a_right")
      l.crossJoin(broadcast(r))
        .selectExpr("c AS cutoff_od", "h AS h_days", "n_left", "n_right",
          "slope_left", "slope_right", "a_left", "a_right",
          "a_right - a_left AS jump_micros")
    }, Some {
      def sdiv(num: String, den: String) =
        s"""CAST(CASE WHEN ($num) < 0
               THEN -((-($num)) // greatest($den, 1))
               ELSE ($num) // greatest($den, 1) END AS BIGINT)"""
      s"""
      WITH o AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 AS BIGINT) AS od,
               CAST(floor(o_totalprice * 1000000) AS BIGINT) AS y
        FROM orders),
      span AS (SELECT (MIN(od) + MAX(od) + 1) // 2 AS c,
                      (MAX(od) - MIN(od)) // 6 AS h FROM o),
      sides AS (
        SELECT CASE WHEN od < c THEN 'l' ELSE 'r' END AS side,
               MAX(c) AS c, MAX(h) AS h,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(od - c) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(od - c AS HUGEINT) * (od - c)) AS sxx,
               SUM(CAST(od - c AS HUGEINT) * y) AS sxy
        FROM o CROSS JOIN span
        WHERE od BETWEEN c - h AND c + h - 1
        GROUP BY 1),
      bb AS (
        SELECT side, c, h, n, sx, sy,
               ${sdiv("CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy",
          "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx")} AS b_micros
        FROM sides),
      aa AS (
        SELECT side, c, h, n, b_micros,
               ${sdiv("CAST(sy AS HUGEINT) - CAST(b_micros AS HUGEINT) * sx",
          "CAST(n AS HUGEINT)")} AS a_micros
        FROM bb)
      SELECT l.c AS cutoff_od, l.h AS h_days,
             l.n AS n_left, r.n AS n_right,
             l.b_micros AS slope_left, r.b_micros AS slope_right,
             l.a_micros AS a_left, r.a_micros AS a_right,
             r.a_micros - l.a_micros AS jump_micros
      FROM (SELECT * FROM aa WHERE side = 'l') l
      CROSS JOIN (SELECT * FROM aa WHERE side = 'r') r"""
    }),

    // ---- KMV sketch SET ALGEBRA (Beyer et al., SIGMOD 2007: "On
    //      synopses for distinct-value estimation under multiset
    //      operations"): q199 builds per-source bottom-64 sketches;
    //      this query answers the cross-source questions WITHOUT ever
    //      joining token sets — for every source pair, the union
    //      distinct estimate comes from the k-min MERGE of the two
    //      sketches (bottom-64 of the union of bottom-64s — the KMV
    //      closure property), and the intersection estimate is
    //      ρ·est_union with ρ = the fraction of the merged sketch
    //      present in BOTH sides. At 100 TB this is how vocabulary
    //      overlap between shards/snapshots is priced: k·|pairs| hash
    //      comparisons instead of a token-set join. Both estimates are
    //      certified in-plan against the exact union/intersection
    //      counts (which are precisely the joins the sketch avoids);
    //      the md5-portable hashes make the ESTIMATES THEMSELVES
    //      hash-verified by the oracle, not just the certificates.
    //      Pair generation and union construction are pure equi-join
    //      unions (no cartesian anywhere); every window partitions by
    //      the pair.
    ("q305_kmv_setops", (s: SparkSession, dir: String) => {
      import graft.text.TextStats
      val k = 64
      val hv = graft.Stage.mat(Tables(s, dir).documents.select(col("source"),
          explode(filter(TextStats.tokens(lower(col("text"))), x => x =!= lit("")))
            .as("w"))
        .select(col("source").as("g"), col("w")).distinct()
        .select(col("g"), TextStats.portableHash64(col("w").cast("string")).as("h")))
      val wG = Window.partitionBy(col("g")).orderBy(col("h").asc)
      val sk = graft.Stage.mat(hv.withColumn("rn", row_number().over(wG))
        .filter(col("rn") <= k).select(col("g"), col("h")))
      val srcs = sk.select(col("g")).distinct()
      val prs = graft.Stage.mat(srcs.select(col("g").as("a"))
        .join(srcs.select(col("g").as("b")).hint("broadcast"), col("a") < col("b")))
      // merged sketch rows per pair: equi-join unions, never cartesian
      def tag(side: String) = prs.join(sk.withColumnRenamed("g", side), Seq(side))
        .select(col("a"), col("b"), col("h"))
      val merged = tag("a").unionByName(tag("b")).distinct()
      val wP = Window.partitionBy(col("a"), col("b")).orderBy(col("h").asc)
      val mk = graft.Stage.mat(merged.withColumn("rn", row_number().over(wP))
        .filter(col("rn") <= k))
      val kth = mk.groupBy(col("a"), col("b"))
        .agg(max(col("h")).as("h_k"), count(lit(1)).as("n_in"))
      val both = mk
        .join(sk.select(col("g").as("a"), col("h")), Seq("a", "h"), "left_semi")
        .join(sk.select(col("g").as("b"), col("h")), Seq("b", "h"), "left_semi")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_both"))
      // exact certificates — the joins the sketch exists to avoid
      def tagAll(side: String) = prs.join(hv.withColumnRenamed("g", side), Seq(side))
        .select(col("a"), col("b"), col("h"))
      val uEx = tagAll("a").unionByName(tagAll("b")).distinct()
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_union_exact"))
      val iEx = hv.select(col("g").as("a"), col("h"))
        .join(hv.select(col("g").as("b"), col("h")), Seq("h"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_inter_exact"))
      // estimator is SKETCH-ONLY: n_in (merged-sketch size) drives both the
      // under-full branch and the est_inter denominator — n_union_exact
      // appears only in the certification columns. (n_in = min(k, union)
      // exactly, since the merged hashes are distinct.)
      kth.join(both, Seq("a", "b"), "left").join(uEx, Seq("a", "b"))
        .join(iEx, Seq("a", "b"), "left")
        .selectExpr("a AS source_a", "b AS source_b", "n_in",
          "coalesce(n_both, CAST(0 AS BIGINT)) AS n_both",
          "n_union_exact",
          "coalesce(n_inter_exact, CAST(0 AS BIGINT)) AS n_inter_exact",
          s"""CASE WHEN n_in < $k THEN n_in
                   ELSE CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)
                             DIV h_k AS BIGINT) END AS est_union""")
        .selectExpr("source_a", "source_b", "n_both", "n_union_exact",
          "n_inter_exact", "est_union",
          "(n_both * est_union) DIV greatest(n_in, 1) AS est_inter",
          """(CAST(1000000 AS DECIMAL(38,0)) * abs(est_union - n_union_exact))
             DIV greatest(n_union_exact, 1) AS union_err_ppm""")
        .selectExpr("source_a", "source_b", "n_both", "n_union_exact",
          "n_inter_exact", "est_union", "est_inter",
          "CAST(union_err_ppm AS BIGINT) AS union_err_ppm")
        .orderBy(col("source_a"), col("source_b"))
    }, Some(s"""
      WITH tokd AS (
        SELECT DISTINCT source AS g, w
        FROM (SELECT source, unnest(list_filter(
                regexp_split_to_array(lower(text), '$ws+'), x -> x <> '')) AS w
              FROM documents)),
      hv AS (SELECT g,
                    ${graft.text.TextStats.portableHash64Sql("CAST(w AS VARCHAR)")} AS h
             FROM tokd),
      sk AS (SELECT g, h FROM (
               SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
               FROM hv) WHERE rn <= 64),
      prs AS (SELECT a.g AS a, b.g AS b
              FROM (SELECT DISTINCT g FROM sk) a
              JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
      merged AS (
        SELECT DISTINCT a, b, h FROM (
          SELECT p.a, p.b, s.h FROM prs p JOIN sk s ON s.g = p.a
          UNION ALL
          SELECT p.a, p.b, s.h FROM prs p JOIN sk s ON s.g = p.b)),
      mk AS (SELECT a, b, h FROM (
               SELECT a, b, h,
                      row_number() OVER (PARTITION BY a, b ORDER BY h) AS rn
               FROM merged) WHERE rn <= 64),
      kth AS (SELECT a, b, MAX(h) AS h_k, CAST(count(*) AS BIGINT) AS n_in
              FROM mk GROUP BY a, b),
      bth AS (SELECT m.a, m.b, CAST(count(*) AS BIGINT) AS n_both
               FROM mk m
               WHERE EXISTS (SELECT 1 FROM sk s WHERE s.g = m.a AND s.h = m.h)
                 AND EXISTS (SELECT 1 FROM sk s WHERE s.g = m.b AND s.h = m.h)
               GROUP BY m.a, m.b),
      uex AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_union_exact FROM (
                SELECT DISTINCT a, b, h FROM (
                  SELECT p.a, p.b, v.h FROM prs p JOIN hv v ON v.g = p.a
                  UNION ALL
                  SELECT p.a, p.b, v.h FROM prs p JOIN hv v ON v.g = p.b))
              GROUP BY a, b),
      iex AS (SELECT va.g AS a, vb.g AS b, CAST(count(*) AS BIGINT) AS n_inter_exact
              FROM hv va JOIN hv vb ON va.h = vb.h AND va.g < vb.g
              GROUP BY 1, 2),
      est AS (
        SELECT k.a AS source_a, k.b AS source_b, k.n_in,
               COALESCE(bo.n_both, 0) AS n_both,
               u.n_union_exact, COALESCE(i.n_inter_exact, 0) AS n_inter_exact,
               CASE WHEN k.n_in < 64 THEN k.n_in
                    ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976)
                              // k.h_k AS BIGINT) END AS est_union
        FROM kth k LEFT JOIN bth bo ON bo.a = k.a AND bo.b = k.b
        JOIN uex u ON u.a = k.a AND u.b = k.b
        LEFT JOIN iex i ON i.a = k.a AND i.b = k.b)
      SELECT source_a, source_b, n_both, n_union_exact, n_inter_exact,
             est_union,
             (n_both * est_union) // GREATEST(n_in, 1) AS est_inter,
             CAST((CAST(1000000 AS HUGEINT) * abs(est_union - n_union_exact))
                  // GREATEST(n_union_exact, 1) AS BIGINT) AS union_err_ppm
      FROM est ORDER BY source_a, source_b""")),

    // ---- Gumbel block-maxima return levels (extreme-value theory,
    //      Gumbel 1958; method-of-moments fit): take each calendar
    //      month's MAXIMUM daily revenue (kilodollar floors, the q299
    //      scale discipline), fit the Gumbel location/scale by moments
    //      (σ̂ = s·√6/π, μ̂ = x̄ − γ·σ̂), and report the T-block return
    //      levels RL(T) = μ̂ − σ̂·ln(−ln(1 − 1/T)) for T = 12 (the
    //      1-year event) and T = 60 (the 5-year event) — the capacity/
    //      provisioning question ("what daily spike should this system
    //      absorb") that a mean+stddev readout systematically
    //      underestimates. Exact integer arithmetic end-to-end: block
    //      maxima are exact, the moment fit rides the q271
    //      isqrt(±1-adjust) on V = B·Σx² − (Σx)² (n-scaled forms, so no
    //      mean rounding exists anywhere), and the four irrational
    //      constants are fixed 1e6-scaled literals identical on both
    //      engines (√6/π → 779697, γ → 577216, the T = 12/60 Gumbel
    //      quantiles → 2441716 / 4085953). One day-grain aggregate →
    //      one month-grain max → a one-row moment fold; nothing
    //      fact-scaled past the first groupBy. Output in
    //      micro-kilodollars beside the observed historical max.
    ("q307_gumbel_return_levels", (s: SparkSession, dir: String) => {
      val bm = Tables(s, dir).orders.selectExpr(
          "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym",
          "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS od",
          "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
        .groupBy(col("ym"), col("od"))
        .agg(expr("sum(cents) DIV 100000").as("x"))
        .groupBy(col("ym")).agg(max(col("x")).as("x"))
      bm.agg(count(lit(1)).as("b"), sum(col("x")).as("sx"),
          sum(expr("x * x")).as("sxx"), max(col("x")).as("x_max"))
        .selectExpr("b", "sx", "x_max", "b * sxx - sx * sx AS v")
        .selectExpr("b", "sx", "x_max", "v",
          "CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0")
        .selectExpr("b", "sx", "x_max",
          """CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
                  WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS sq""")
        .selectExpr("b AS n_blocks", "x_max * 1000000 AS obs_max_mu",
          "(sx * 1000000) DIV b AS mean_mu",
          "(sq * 1000000) DIV b AS s_mu")
        .selectExpr("n_blocks", "obs_max_mu", "mean_mu", "s_mu",
          "(s_mu * 779697) DIV 1000000 AS sigma_mu")
        .selectExpr("n_blocks", "obs_max_mu", "mean_mu", "s_mu", "sigma_mu",
          "mean_mu - (sigma_mu * 577216) DIV 1000000 AS mu_mu")
        .selectExpr("n_blocks", "obs_max_mu", "mean_mu", "sigma_mu", "mu_mu",
          "mu_mu + (sigma_mu * 2441716) DIV 1000000 AS rl12_mu",
          "mu_mu + (sigma_mu * 4085953) DIV 1000000 AS rl60_mu")
    }, Some("""
      WITH d AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym,
               CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS od,
               SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) // 100000 AS x
        FROM orders GROUP BY 1, 2),
      bm AS (SELECT ym, MAX(x) AS x FROM d GROUP BY ym),
      m0 AS (SELECT CAST(count(*) AS BIGINT) AS b, CAST(SUM(x) AS BIGINT) AS sx,
                    CAST(SUM(x * x) AS BIGINT) AS sxx, MAX(x) AS x_max
             FROM bm),
      m1 AS (SELECT b, sx, x_max, b * sxx - sx * sx AS v FROM m0),
      m2 AS (SELECT b, sx, x_max,
               CASE WHEN (s0 + 1) * (s0 + 1) <= v THEN s0 + 1
                    WHEN s0 * s0 > v THEN s0 - 1 ELSE s0 END AS sq
             FROM (SELECT *, CAST(floor(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS s0
                   FROM m1)),
      m3 AS (SELECT b AS n_blocks, CAST(x_max * 1000000 AS BIGINT) AS obs_max_mu,
                    (sx * 1000000) // b AS mean_mu,
                    (sq * 1000000) // b AS s_mu
             FROM m2),
      m4 AS (SELECT n_blocks, obs_max_mu, mean_mu, s_mu,
                    (s_mu * 779697) // 1000000 AS sigma_mu
             FROM m3),
      m5 AS (SELECT n_blocks, obs_max_mu, mean_mu, sigma_mu,
                    mean_mu - (sigma_mu * 577216) // 1000000 AS mu_mu
             FROM m4)
      SELECT n_blocks, obs_max_mu, mean_mu, sigma_mu, mu_mu,
             mu_mu + (sigma_mu * 2441716) // 1000000 AS rl12_mu,
             mu_mu + (sigma_mu * 4085953) // 1000000 AS rl60_mu
      FROM m5""")),

    // ---- two-sample Cramér–von Mises on the click-vs-purchase value
    //      distribution (Anderson 1962): the L² whole-curve companion
    //      of q193's KS sup on the SAME mergedCdf kernel — KS sees the
    //      single worst gap, CvM accumulates every gap (more power
    //      against many-small-differences alternatives, the common
    //      drift shape). All-integer: with integer CDFs,
    //      T_ppm = 1e6·Σ c·(cum0·n1 − cum1·n0)² DIV (N²·n0·n1); the
    //      oracle replays the plain-window cumsum so equality again
    //      proves the two-phase bucket decomposition IS the prefix sum.
    ("q345_cvm_test", (s: SparkSession, dir: String) => {
      cvmTest(Tables(s, dir).events,
        valueCol = expr("CAST(floor(value * 1000000) AS BIGINT)"),
        isA = col("event_type") === "click",
        isB = col("event_type") === "purchase")
    }, Some(s"""
      WITH ${clickPurchaseCountsSql},
      cum AS (SELECT v, c0, c1, SUM(c0) OVER (ORDER BY v) AS cum0,
                     SUM(c1) OVER (ORDER BY v) AS cum1 FROM pv),
      w AS (SELECT c0 + c1 AS c,
                   CAST(cum0 AS HUGEINT) * n1 - CAST(cum1 AS HUGEINT) * n0 AS diff
            FROM cum CROSS JOIN tot)
      SELECT n0 AS n_a, n1 AS n_b,
             CAST((CAST(1000000 AS HUGEINT) * (SELECT SUM(c * diff * diff) FROM w))
                  // GREATEST(CAST(n0 + n1 AS HUGEINT) * (n0 + n1) * n0 * n1, 1)
                  AS BIGINT) AS t_ppm
      FROM tot"""))
  )
}
