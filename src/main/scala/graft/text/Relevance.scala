package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term relevance — the classic text-analytics weighting used for
  * keyword extraction, near-duplicate triage, and quality filtering.
  *
  * Shape at scale: term frequencies are one explode → groupBy(doc, term);
  * document frequencies are a second groupBy over the per-doc DISTINCT
  * term explode; the df table joins back by term (dictionary-sized — at
  * corpus scale it stays far smaller than the corpus and broadcast-joins
  * after AQE sizes it); the corpus count rides along as a one-row
  * broadcast. Top-k per doc is a bounded window rank.
  *
  * Parity note: scores cross engines through `ln` — both JVM and DuckDB
  * evaluate correctly-rounded libm doubles on the small set of distinct
  * (n_docs/df) inputs, and ordering/output both use the round-6 snapped
  * score, so a 1-ulp disagreement cannot flip row order or hashes (the
  * ADVICE-r3 threshold-snap discipline applied to ranking).
  */
object Relevance {

  /** BM25's term-frequency saturation k1 and length normalization b. */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 document ranking against a deterministic query-term set (the
    * corpus's top-`nTerms` highest-df terms; ties broken by term — a
    * self-contained stand-in for a user query that both engines can
    * derive identically).
    *
    * Parity-by-construction (Relational.scala header discipline):
    *  - `avgdl` is an exact BIGINT token-count sum divided once — never
    *    `avg(double)`, whose partial-aggregation order differs.
    *  - each per-(doc,term) contribution is one mirrored chain of IEEE
    *    ops snapped to round-6, then summed as DECIMAL(25,6) — exact and
    *    order-independent, so Spark's partial/final aggregation and
    *    DuckDB's serial sum agree bit-for-bit.
    *
    * Shape at scale: tf/dl are one explode + groupBy; df is
    * dictionary-sized and its top-`nTerms` slice is a tiny broadcast, so
    * the scoring join touches only rows whose term is in the query set
    * (Catalyst pushes the semi-join through the tf aggregate's key).
    * Top-k is a single bounded sort (`orderBy.limit` → TakeOrderedAndProject,
    * no global sort materialization).
    */
  def bm25TopDocs(docs: DataFrame, nTerms: Int = 8, topK: Int = 50): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(filter(TextStats.tokens(lower(col("text"))), t => t =!= lit(""))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dfreq = docs.select(col("doc_id"),
        explode(array_distinct(filter(TextStats.tokens(lower(col("text"))), t => t =!= lit("")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = dfreq.orderBy(col("df").desc, col("term")).limit(nTerms)
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val contrib = tf.join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("c", round(
        log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
              (col("df").cast("double") + 0.5) + 1.0) *
          (col("tf").cast("double") * lit(Bm25K1 + 1.0)) /
          (col("tf").cast("double") +
            lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * (col("dl").cast("double") / col("avgdl")))),
        6))
    contrib
      .groupBy(col("doc_id")).agg(
        first(col("dl")).as("dl"),
        sum(col("c").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .cast("double").as("bm25"))
      .withColumn("bm25", round(col("bm25"), 6))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** DuckDB twin of [[bm25TopDocs]]'s inputs at its defaults (8 query
    * terms): CTEs `toks`, `tf`, `dl`, `dfq`, `qterms(term, df)` and the
    * one-row `stats(n_docs, avgdl)`. */
  val bm25StatsSql: String = s"""toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'), x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'), x -> x <> ''))) AS term
              FROM documents)
        GROUP BY term),
      qterms AS (SELECT term, df FROM dfq ORDER BY df DESC, term LIMIT 8),
      stats AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
               CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl)"""

  /** [[bm25TopDocs]]'s round-6 per-(doc, term) contribution at k1 = 1.2,
    * b = 0.75, over `s` (stats), `q` (qterms), `tf` and `dl`. */
  val bm25TermSql: String = """round(ln((CAST(s.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5)
                          / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
                     * (CAST(tf.tf AS DOUBLE) * 2.2)
                     / (CAST(tf.tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / s.avgdl))),
                     6)"""

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    * fuse the lexical BM25 ranking ([[bm25TopDocs]]) with a dense
    * embedding ranking (cosine to one query vector) by
    * `rrf = Σ 1/(kRrf + rank)` over the lists a document appears in —
    * the standard lexical+dense ensemble for retrieval-style curation
    * (finding the docs most relevant to a probe both ways).
    *
    * Determinism: both ranks are row_number over a (score desc, id)
    * total order; each 1/(k+rank) is one exact-input IEEE division and
    * their sum is a single addition — identical on both engines — then
    * snapped to round-9 before the final ordering.
    *
    * Shape at scale: BM25's shape is [[bm25TopDocs]]'s (broadcast query
    * terms, one tf shuffle); the dense side is a broadcast one-row query
    * against a narrow corpus scan into a bounded TakeOrdered top-50;
    * the fusion join touches at most 100 rows. The rank windows run AFTER the
    * top-N cuts, so no unpartitioned window ever sees the corpus.
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val lex = bm25TopDocs(docs, topK = 50)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val q = embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qv"))
    val dense = embeddings.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col("doc_id")).limit(50)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("cos_r").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("dense_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        round(
          coalesce(lit(1.0) / (lit(60L) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60L) + col("dense_rank")), lit(0.0)),
          9).as("rrf_r"))
      .orderBy(col("rrf_r").desc, col("doc_id")).limit(20)
  }

  def tfIdfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(filter(TextStats.tokens(lower(col("text"))), t => t =!= lit(""))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = docs.select(col("doc_id"),
        explode(array_distinct(filter(TextStats.tokens(lower(col("text"))), t => t =!= lit("")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"), col("tfidf"))
  }
}
