package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextStats

/** Deterministic stratified sampling — the domain-mixing primitive of a
  * training-data pipeline ("keep 80% of web, 100% of books, 25% of
  * code"). Membership is decided by a PORTABLE hash of the row key, not
  * by `rand()`:
  *
  *  - reproducible across runs, task retries, and engines (the same
  *    md5-derived 60-bit key as the q39 fingerprint oracle — DuckDB can
  *    recompute membership exactly, so the sample itself is
  *    oracle-checkable, and a resumed 100 TB job samples identically);
  *  - a pure projection + filter: no shuffle, no state, full codegen;
  *    the filter pushes below column-pruned scans like any predicate.
  *
  * Per-stratum keep rates are expressed in per-mille (integer 0..1000)
  * and compared against `hash(salt || key) mod 1000` — a uniform bucket
  * for any salt, so independent sampling passes decorrelate by salt.
  */
object Sampling {

  /** Uniform per-mille bucket in [0, 1000) for a row key. */
  def hashBucket(key: Column): Column =
    pmod(TextStats.portableHash64(concat(lit("sample:"), key.cast("string"))), lit(1000L))

  /** The matching DuckDB SQL fragment (oracle authoring). */
  def hashBucketSql: String =
    s"${TextStats.portableHash64Sql(s"concat('sample:', CAST(doc_id AS VARCHAR))")} % 1000"

  /** Uniform parts-per-million bucket in [0, 1000000) — the per-mille
    * form for finer-grained rates (temperature resampling, priority
    * sampling).
    */
  def hashBucketN(key: Column, salt: String): Column =
    pmod(TextStats.portableHash64(concat(lit(salt + ":"), key.cast("string"))), lit(1000000L))

  def hashBucketNSql(keyExpr: String, salt: String): String =
    s"${TextStats.portableHash64Sql(s"concat('$salt:', CAST($keyExpr AS VARCHAR))")} % 1000000"

  /** Temperature-scaled domain rebalancing over `lang`, keyed by
    * `doc_id`, at T = 2 (the multilingual-corpus mixing rule: sample
    * domain d with probability ∝ count_d^(1/T)).
    * The per-domain keep rate is count-relative with NO cross-domain
    * float sum: rate_d = (c_d / c_min)^(1/T − 1), which is 1 for the
    * rarest domain and decays for dominant ones — an order-free FP chain
    * both engines evaluate identically up to the round-6 snap. Rates are
    * applied as parts-per-million against the portable hash bucket, so
    * the sample is deterministic across runs, retries, and engines.
    *
    * Shape at scale: the rate table is |domains| rows (broadcast); the
    * corpus pass is a map-side join + filter — one shuffle total for the
    * domain counts, nothing row-ordered.
    */
  def temperatureResample(df: DataFrame): DataFrame = {
    val exponent = 1.0 / 2.0 - 1.0
    // null domains (missing metadata — routine in crawl corpora) form
    // their own stratum: the rate join runs on a null-coalesced shadow
    // column, because a plain inner equi-join would silently EXCLUDE
    // every null-domain row (null never equals null) instead of
    // sampling it at its group's rate
    val dom = coalesce(col("lang").cast("string"), lit("\u0000"))
    val counts = df.groupBy(dom.as("__dom")).agg(count(lit(1)).as("c_dom"))
    val cmin = counts.agg(min(col("c_dom")).as("c_min"))
    val rates = counts.crossJoin(broadcast(cmin))
      .withColumn("keep_ppm",
        round(round(pow(col("c_dom").cast("double") / col("c_min").cast("double"),
          lit(exponent)), 6) * 1000000.0, 0).cast("long"))
      .select(col("__dom"), col("c_dom"), col("keep_ppm"))
    df.withColumn("__dom", dom)
      .join(broadcast(rates), Seq("__dom"))
      .filter(hashBucketN(col("doc_id"), "temp") < col("keep_ppm"))
      .drop("__dom")
  }

  /** Keep each row iff its bucket falls under its stratum's per-mille
    * rate; unlisted strata fall back to `defaultPerMille`.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       ratesPerMille: Map[String, Int], defaultPerMille: Int): DataFrame = {
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < rate)
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much likelier its hashed-unigram features
    * are under a TARGET distribution (documents matching `isTarget` —
    * the high-quality/in-domain exemplar set) than under the RAW corpus
    * distribution:
    *
    *   logw(doc) = Σ over tokens of ln( p_t[bucket(w)] / p_r[bucket(w)] )
    *
    * with add-1-smoothed bucket probabilities p[b] = (c[b]+1)/(N+B)
    * over B portable-hash feature buckets. Positive logw ⇒ the document
    * looks more target-like than corpus-average; resampling keeps the
    * positive tail (or samples ∝ exp(logw) when stochasticity is
    * wanted — this deterministic form is the resumable default, the
    * [[stratifiedSample]] philosophy).
    *
    * Parity: bucket counts and totals are exact integers; each bucket's
    * log-ratio is ONE mirrored IEEE chain snapped round-6; the per-doc
    * sum runs in DECIMAL(25,6) (order-independent — the q65
    * discipline), so a DuckDB oracle replays every weight bit-for-bit
    * (bucketing uses the md5-portable hash, not xxhash).
    *
    * Shape at scale: one token explode (corpus ×1, carrying (id, bool,
    * bucket) triples); the two count tables are B rows after map-side
    * combine; the log-ratio table is B rows and BROADCASTS back onto
    * the token stream; the per-doc sum is one map-side-combined
    * aggregate on doc_id. Nothing corpus-sized shuffles except the
    * token explode's aggregation, and no stage depends on corpus order.
    */
  def dsirLogWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(25, 6)
    val bd = 512.0
    // feeds the raw counts, the target counts, and the score join —
    // materialize the md5-per-token pass once (minhashNearDups
    // discipline)
    val toks = docs.select(col("doc_id"), isTarget.as("is_target"),
        explode(filter(TextStats.tokens(lower(col("text"))), w => w =!= lit(""))).as("w"))
      .withColumn("b", pmod(TextStats.portableHash64(col("w")), lit(512L)))
      .select(col("doc_id"), col("is_target"), col("b"))
      .transform(graft.Stage.mat)
    // one conditional aggregate yields both distributions (no second
    // pass over the token stream, no left join between count tables);
    // totals derive from the B-row bucket table
    val counts = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
    val lr = counts
      .crossJoin(broadcast(counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))))
      .select(col("b"),
        round(log(
          ((col("ct").cast("double") + 1.0) * (col("nr").cast("double") + bd)) /
            ((col("cr").cast("double") + 1.0) * (col("nt").cast("double") + bd))), 6).as("lr"))
    toks.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr").cast(D)).cast("double").as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s"), 6).as("logw_r"),
        (round(col("s"), 6) > 0.0).as("keep"))
  }

  /** DuckDB twin of [[dsirLogWeights]] as q95/q187 declare it (target =
    * the English slice, 512 buckets): CTEs `tb(doc_id, is_target, b)`,
    * the bucket counts and `lr(b, lr)`, the round-6 bucket log-ratio. */
  private[analytics] val dsirRatioSql: String = s"""tb AS (
        SELECT doc_id, lang = 'en' AS is_target,
               ${TextStats.portableHash64Sql("w")} % 512 AS b
        FROM (SELECT doc_id, lang,
                     unnest(list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'),
                                        x -> x <> '')) AS w
              FROM documents)),
      raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
      tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb WHERE is_target GROUP BY b),
      tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tb) AS nr,
                     (SELECT CAST(count(*) AS BIGINT) FROM tb WHERE is_target) AS nt),
      lr AS (
        SELECT raw.b,
               round(ln(((CAST(COALESCE(tgt.ct, 0) AS DOUBLE) + 1.0)
                           * (CAST(tot.nr AS DOUBLE) + 512.0))
                        / ((CAST(raw.cr AS DOUBLE) + 1.0)
                           * (CAST(tot.nt AS DOUBLE) + 512.0))), 6) AS lr
        FROM raw LEFT JOIN tgt USING (b), tot)"""

  /** Weighted sampling WITHOUT replacement, deterministically: the
    * Efraimidis–Spirakis exponential-clock scheme. Each row draws a
    * uniform u from its portable hash bucket (ppm granularity) and gets
    * clock r = −ln(u)/w; the n smallest clocks are a weight-proportional
    * sample without replacement — P(first pick = i) = w_i / Σw exactly,
    * by the exponential races argument. Hash-derived clocks make the
    * draw reproducible across runs, retries, and engines (the
    * [[stratifiedSample]] philosophy applied to weighted draws — e.g.
    * "pick a 100-document audit sample ∝ token count").
    *
    * Parity: u = (bucket + 0.5)/1e6 from integer buckets, w integer;
    * the clock is one mirrored IEEE chain snapped round-9, so the
    * oracle recomputes every clock bit-for-bit.
    *
    * Shape at scale: a pure projection followed by a global top-n —
    * which Catalyst plans as TakeOrderedAndProject (per-partition
    * heaps + a driver merge of n-row tops), never a full sort.
    */
  def prioritySample(df: DataFrame, weight: Column, n: Int): DataFrame = {
    val u = (hashBucketN(col("doc_id"), "prio").cast("double") + 0.5) / 1000000.0
    // w <= 0 means selection probability zero in the exponential-races
    // scheme — excluded up front (under ANSI mode the clock division
    // would otherwise throw DIVIDE_BY_ZERO rather than sort last).
    // A null key has no hash → null clock, which Spark's ascending
    // nulls-FIRST default would sort ahead of every real clock —
    // null-keyed rows would win sample slots with probability 1
    // regardless of weight. No key ⇒ no deterministic draw ⇒ excluded.
    df.filter(col("doc_id").isNotNull && weight > 0)
      .withColumn("clock_r", round(-log(u) / weight.cast("double"), 9))
      .orderBy(col("clock_r"), col("doc_id"))
      .limit(n)
  }

  /** UniMax-style language-budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining"): distribute a total
    * document budget across languages as uniformly as possible without
    * over-sampling any language past its capacity — one ascending
    * waterfilling pass. Languages are visited by (capacity, name);
    * each receives `min(capacity, remaining div langsLeft)`; surplus
    * from capped low-resource languages flows to the rest. Pure
    * integer arithmetic over |languages| rows — driver-sized by
    * definition, and replayable by a recursive-CTE oracle.
    */
  def waterfillQuotas(caps: Seq[(String, Long)], budget: Long): Seq[(String, Long)] = {
    require(budget >= 0, s"budget must be non-negative; got $budget")
    val sorted = caps.sortBy { case (l, c) => (c, l) }
    var rem = budget
    var left = sorted.length
    sorted.map { case (l, c) =>
      val q = math.min(c, rem / left)
      rem -= q
      left -= 1
      (l, q)
    }
  }

  /** Apply [[waterfillQuotas]] to a corpus: per language keep exactly
    * `quota` documents, chosen by portable-hash order (deterministic
    * across runs/retries/engines — the [[stratifiedSample]]
    * philosophy, with exact counts instead of rates). Null languages
    * form their own stratum via the temperatureResample shadow-column
    * rule.
    *
    * Shape at scale: the language counts are |languages| rows (the one
    * bounded collect); selection is a per-language window rank — per
    * partition the stratum can be corpus-sized (English), so at 100 TB
    * swap the exact rank for the rate form `hashBucketN(key) <
    * quota·1e6/capacity` (a pure filter, quota hit within sampling
    * noise); the exact-rank form is the verify primitive, same split
    * as q88's perGroupCap.
    */
  def unimaxSelect(docs: DataFrame, budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val shadow = coalesce(col("lang").cast("string"), lit("\u0000"))
    val caps = docs.groupBy(shadow.as("__lang")).agg(count(lit(1)).as("cap"))
      .as[(String, Long)].collect().toSeq
    val quotas = waterfillQuotas(caps, budget)
    val qDf = quotas.toDF("__lang", "__ux_quota")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__lang"))
      .orderBy(col("__ux_h").asc_nulls_last, col("doc_id").asc_nulls_last)
    docs.withColumn("__lang", shadow)
      .withColumn("__ux_h", graft.text.TextStats.portableHash64(
        concat(lit("unimax:"), col("doc_id").cast("string"))))
      .withColumn("__rnk", row_number().over(w).cast("long"))
      .join(broadcast(qDf), Seq("__lang"))
      .filter(col("__rnk") <= col("__ux_quota"))
      .drop("__lang", "__ux_h", "__rnk", "__ux_quota")
  }

  /** Per-group contribution cap: keep at most `k` rows per group (the
    * per-domain cap a crawl pipeline applies so no single site dominates
    * the corpus), chosen deterministically by portable-hash order — a
    * seeded random-without-replacement draw that is resumable and
    * engine-replayable, like [[stratifiedSample]].
    *
    * Shape at scale: one rank window PARTITIONed BY the group — the
    * shuffle is keyed on the group column. For pathologically hot groups
    * (one domain = a large corpus fraction) the window sort within that
    * group dominates; cap-then-rank via the [[graft.text.Packing
    * .trainingOrder]] range-bucket decomposition is the escape hatch —
    * same output, documented here rather than defaulted because real
    * domain distributions make the plain window the cheaper plan.
    */
  def perGroupCap(df: DataFrame, k: Int): DataFrame = {
    // nulls LAST on both sort keys: a null keyCol hashes to null, and
    // the ascending nulls-first default would hand every null-keyed row
    // a guaranteed cap slot (rank 1..k), evicting real documents from
    // the group. Nulls-last keeps them only when slots remain after all
    // hash-ranked rows (ties among multiple null-key rows carry no
    // distinguishing key on purpose — there is nothing to order them by).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("__cap_h").asc_nulls_last, col("doc_id").asc_nulls_last)
    df.withColumn("__cap_h", graft.text.TextStats.portableHash64(
        concat(lit("cap:"), col("doc_id").cast("string"))))
      .withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= k)
      .drop("__cap_h")
  }
}
