package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-trained bigram language model → per-document perplexity, the
  * classic quality filter of web-corpus pipelines (score each document
  * under a reference LM; drop the high-perplexity tail). Here the model
  * is add-1-smoothed bigrams trained on the corpus itself, so the whole
  * operator — train AND score — is one relational job with no external
  * model artifact.
  *
  * lp(w1 w2) = ln((c(w1,w2) + 1) / (c(w1) + V));  ppl = exp(−Σlp / n).
  *
  * Parity: counts and V are integers; each bigram's lp is one mirrored
  * IEEE chain snapped round-6; the per-doc sum runs in DECIMAL(25,6)
  * (order-independent), and ppl derives from that exact sum via one
  * division + exp, identical in both engines.
  *
  * Shape at scale: the bigram-instance table is corpus-sized ×1 (same
  * order as a token explode); counts are two map-side-combined
  * aggregations; the score pass joins instances to bigram counts (key
  * (w1,w2), well-spread) and unigram counts (key w1 — Zipf-skewed:
  * stopword keys concentrate, which is exactly what AQE skew-join
  * handles; at extreme scale pre-salt w1 like Salting.saltedAgg). The
  * vocab size rides along as a one-row broadcast.
  */
object LangModel {

  private val D = DecimalType(25, 6)

  def bigramPerplexity(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"),
      filter(TextStats.tokens(lower(col("text"))), t => t =!= lit("")).as("toks"))
    val inst = t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("z"))
      .select(col("doc_id"), col("z.w1").as("w1"), col("z.w2").as("w2"))
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bc = inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    inst
      .join(bc, Seq("w1", "w2"))
      .join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", round(log(
        (col("c2").cast("double") + 1.0) /
          (col("c1").cast("double") + col("v").cast("double"))), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast(D)).cast("double").as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s"), 6).as("logprob"),
        round(exp(col("s") * lit(-1.0) / col("n_bigrams").cast("double")), 6).as("ppl"))
  }

  /** DuckDB twin of [[bigramPerplexity]]'s training counts: CTEs
    * `t(doc_id, toks)`, the bigram instances `inst(doc_id, w1, w2)`,
    * unigram counts `uni(w, c1)` and the one-row `vocab(v)`. */
  val bigramCountsSql: String = s"""t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'),
                              x -> x <> '') AS toks
                 FROM documents),
      bi AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             FROM t WHERE len(toks) >= 2),
      inst AS (SELECT doc_id, list_extract(toks, i) AS w1,
                      list_extract(toks, i + 1) AS w2 FROM bi),
      uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
              FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni)"""

  /** Every adjacent token pair (w1, w2) of the `toks` arrays in `t`. */
  private[text] def bigramInstances(t: DataFrame): DataFrame =
    t.filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("z"))
      .select(col("z.w1").as("w1"), col("z.w2").as("w2"))

  /** Interpolated Kneser-Ney bigram probabilities — the smoothing the
    * production web-corpus quality LM actually uses (CCNet-style
    * perplexity filters train KN models; [[bigramPerplexity]]'s add-1 is
    * the teaching baseline). Absolute discount d, continuation
    * back-off:
    *
    *   P(w|v) = max(c(vw)−d, 0)/c(v·) + (d·N1+(v·)/c(v·)) · N1+(·w)/N1+(··)
    *
    * EXACT INTEGER NANOS end-to-end: d is micros (default 750000 =
    * 0.75), every quotient is a floored integer division on widened
    * (DECIMAL(38,0) / HUGEINT) products, so the probability table is
    * engine-exact — no logs, no doubles. Each emitted probability
    * under-counts by < 2 nanos of floor loss (two divisions); the
    * conditional distribution's total deficit is ≤ 2·fanout nanos —
    * defined semantics, not drift (the PageRank argument).
    *
    * Shape at scale: one corpus pass to per-doc bigram instances, ONE
    * materialized (vocab²-bounded, in practice ~vocab-sized) bigram
    * count table feeding all four statistics (context totals,
    * continuation fan-out/fan-in, distinct-bigram total) as
    * map-side-combined aggregates, then key-joins back — never a
    * second corpus pass. Returns the top-`topK` bigrams by (count
    * desc, w1, w2): (w1, w2, c2, p_kn_nanos).
    */
  def kneserNeyTop(docs: DataFrame, topK: Int = 50): DataFrame = {
    val D38 = DecimalType(38, 0)
    val t = docs.select(col("doc_id"),
      filter(TextStats.tokens(lower(col("text"))), x => x =!= lit("")).as("toks"))
    val inst = bigramInstances(t)
    val c2 = graft.Stage.mat(
      inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))
    val ctx = c2.groupBy(col("w1")).agg(sum(col("c2")).as("ctx"))
    val n1f = c2.groupBy(col("w1")).agg(count(lit(1)).as("n1f"))
    val n1p = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val nbi = c2.agg(count(lit(1)).as("nb"))
    val lam = call_function("div",
      lit(750000L).cast(D38) * col("n1f") * 1000, col("ctx"))
    c2.join(ctx, Seq("w1")).join(n1f, Seq("w1")).join(n1p, Seq("w2"))
      .crossJoin(broadcast(nbi))
      .select(col("w1"), col("w2"), col("c2"),
        (call_function("div",
          greatest(col("c2").cast(D38) * 1000000 - 750000L, lit(0).cast(D38)) * 1000,
          col("ctx")) +
          call_function("div", lam.cast(D38) * col("n1p"), col("nb")))
          .cast("long").as("p_kn_nanos"))
      .orderBy(col("c2").desc, col("w1"), col("w2"))
      .limit(topK)
  }
}
