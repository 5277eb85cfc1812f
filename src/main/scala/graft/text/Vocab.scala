package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenizer-training preparation operators: the corpus-statistics
  * passes that precede BPE/vocab construction for an LLM data pipeline.
  *
  * Scale design: everything here is generator → map-side-combined
  * aggregate. The pair/word count tables are the only shuffles and they
  * carry (token, count) pairs — partial aggregation collapses the
  * corpus volume before the exchange, which is the property that makes
  * tokenizer statistics cheap even at 100 TB (the reduced table is
  * vocabulary-sized, millions of rows at most, not corpus-sized).
  */
object Vocab {

  private def words(text: Column): Column =
    filter(TextStats.tokens(lower(text)), w => w =!= lit(""))

  /** Corpus-wide adjacent-pair frequency table over the BPE-ish
    * pre-tokenization ([[TextStats.bpeishTokens]]) — exactly the
    * statistic the first BPE merge selection maximizes. One generator
    * pass (pairs never materialize per document beyond the projection)
    * into one map-side-combined count keyed by the pair.
    */
  def bpePairCounts(docs: DataFrame): DataFrame = {
    // tokenize in a standalone projection BEFORE the generator: Generate
    // does no common-subexpression elimination, so referencing the
    // tokenizer expression from inside the explode would re-run the
    // regex once per reference (measured 4× the whole query's cost)
    val t = col("toks")
    docs
      .select(TextStats.bpeishTokens(lower(col("text"))).as("toks"))
      .select(explode(
        when(size(t) < 2, array().cast("array<struct<a:string,b:string>>"))
          .otherwise(transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))))).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Learn the first `nMerges` BPE merges over the corpus — the actual
    * tokenizer-training loop (Sennrich et al. 2016), not just the
    * first-merge statistic ([[bpePairCounts]]): start from the
    * character-level word representation, repeatedly pick the most
    * frequent adjacent token pair (count desc, then (a, b) lexicographic
    * — a deterministic, engine-portable tie-break) and fuse it
    * everywhere it occurs. Returns (merge_rank, tok_a, tok_b, n) — the
    * learned merge table, in order.
    *
    * Scale shape — the reason BPE training is feasible at 100 TB: ONE
    * corpus pass collapses to the distinct-word count histogram
    * (vocab-sized, millions of rows, not the corpus), and every merge
    * iteration runs entirely on that table: pair statistics via a
    * map-side-combined aggregate weighted by word count, the argmax
    * merge as a one-row driver selection (the n=count() discipline),
    * and merge application as a literal-`replace` projection. The
    * histogram is materialized per iteration (Stage.mat) because it
    * feeds both the pair statistics and the next rewrite — the
    * pageRankDirectedMicros two-consumer argument.
    *
    * Merge application semantics: tokens live DOUBLE-space-joined with
    * single-space sentinel padding (` l  o  w `), and fusing pair
    * (a, b) is the literal replace of ` a  b ` with ` ab ` — each match
    * consumes ONE space of each flanking separator and the replacement
    * restores it, so adjacent non-overlapping occurrences both fuse
    * ("d o d o" → "do do", the case a single-space encoding under-fuses
    * because consecutive matches share a delimiter — r7 review), while
    * genuinely overlapping occurrences stay greedy left-to-right
    * ("a a a" under merge (a,a) → "aa a", exactly reference BPE). The
    * replace scan is identical in both engines and the oracle
    * ([[bpeLearnSql]]) replays every iteration token-for-token.
    *
    * Parity scope: the corpus is ASCII (the q71 collation note). The
    * char-splitting regex `(.)` excludes line separators in Java but
    * not RE2, so a word containing U+0085/U+2028/U+2029 (impossible
    * after the whitespace split here) would tokenize differently.
    */
  def bpeLearnMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnChain(wordHistSpaced(docs).select(col("w"), col("cnt")), nMerges)
      ._2.toDF("merge_rank", "tok_a", "tok_b", "n")
  }

  /** The character-spaced word histogram (word, w, cnt) that seeds the
    * BPE loop — `w` is the double-space sentinel form documented on
    * [[bpeLearnMerges]].
    */
  private def wordHistSpaced(docs: DataFrame): DataFrame =
    docs.select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), concat(lit(" "),
        rtrim(regexp_replace(col("word"), "(.)", "$1  ")), lit(" ")).as("w"),
        col("cnt"))

  /** The shared merge-learning loop over a (…, w, cnt) histogram:
    * `nMerges` rounds of weighted-pair argmax + sentinel-padded literal
    * replace. Extra columns (e.g. the original `word` key, for the
    * encode path) ride through the rewrites untouched. Returns the
    * rewritten histogram and the learned merge table.
    */
  private def learnChain(wc0: DataFrame, nMerges: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    var wc = graft.Stage.mat(wc0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      // tokenize in a standalone projection BEFORE the generator (the
      // bpePairCounts no-CSE-in-Generate lesson)
      val t = col("toks")
      val best = wc
        .select(col("cnt"), split(trim(col("w")), "  ").as("toks"))
        .select(col("cnt"), explode(
          when(size(t) < 2, array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(sequence(lit(1), size(t) - 1),
              i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, a, b, c))
        // literal (not regex) replace: merge tokens are corpus strings
        wc = graft.Stage.mat(wc.withColumn("w",
          call_function("replace", col("w"),
            lit(" " + a + "  " + b + " "), lit(" " + a + b + " "))))
        rank += 1
      }
    }
    (wc, merges.toSeq)
  }

  /** BPE ENCODE: learn `nMerges` merges ([[bpeLearnMerges]]) and apply
    * them — in learned rank order, with the same sentinel-padded
    * left-to-right replace — to every distinct word, returning the
    * (word, n_tok) sub-word token counts. This is the deployment half
    * of the tokenizer loop: learn → encode → count tokens per document.
    *
    * Scale shape — the reason encoding is cheap at 100 TB: the merges
    * are applied to the VOCABULARY (the distinct-word histogram), never
    * to document strings; per-document token counts then come from one
    * word-keyed join + map-side-combined sum. The corpus is scanned
    * twice total (histogram + the final explode), both narrow.
    */
  def bpeEncodeWordTokens(docs: DataFrame, nMerges: Int): DataFrame = {
    val (wcN, _) = learnChain(wordHistSpaced(docs), nMerges)
    wcN.select(col("word"),
      size(split(trim(col("w")), "  ")).cast("long").as("n_tok"))
  }

  /** CTE `hist(word, cnt)` of the BPE replays: the lowercased
    * whitespace-token histogram of `documents`. */
  private def bpeHistSql: String = s"""hist AS (
        SELECT w AS word, count(*) AS cnt FROM (
          SELECT unnest(list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'),
                   x -> x <> '')) AS w
          FROM documents) GROUP BY 1)"""

  /** The unrolled merges of the BPE replays: per merge i the pair counts
    * `p$i`, the (c desc, a, b) argmax `b$i` and the rewrite `w$i`, which
    * keeps the select-list prefix `carry` ("" to learn, "word, " to
    * encode). */
  private def bpeMergeStepsSql(carry: String): String =
    (1 to 6).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT p.pr[1] AS a, p.pr[2] AS b, SUM(p.cnt) AS c FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                     i -> [toks[i], toks[i + 1]])) AS pr, cnt
            FROM (SELECT string_split(trim(w), '  ') AS toks, cnt FROM $prev)
          ) p GROUP BY 1, 2),
        b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
        w$i AS (SELECT ${carry}replace(w, ' ' || b.a || '  ' || b.b || ' ',
                               ' ' || b.a || b.b || ' ') AS w, cnt
                FROM $prev, b$i b)"""
    }.mkString(",\n      ")

  /** The mirrored DuckDB replay of [[bpeLearnMerges]]: the same word
    * histogram, character spacing, weighted pair counts, (c desc, a, b)
    * argmax, and sentinel-padded literal replace, unrolled per merge.
    */
  def bpeLearnSql: String = {
    val iters = bpeMergeStepsSql("")
    val sel = (1 to 6).map(i =>
      s"SELECT $i AS merge_rank, a AS tok_a, b AS tok_b, CAST(c AS BIGINT) AS n FROM b$i")
      .mkString("\n      UNION ALL ")
    s"""
      WITH ${bpeHistSql},
      w0 AS (SELECT ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS w, cnt
             FROM hist),
      $iters
      $sel
      ORDER BY merge_rank"""
  }

  /** The mirrored DuckDB replay of the ENCODE path: the learn chain of
    * [[bpeLearnSql]] with the `word` key carried through every rewrite,
    * followed by the per-word token count, the per-document explode +
    * word-keyed join, and the chars-per-token micros — exactly the
    * [[bpeEncodeWordTokens]]-based declared query.
    */
  def bpeEncodeSql: String = {
    val iters = bpeMergeStepsSql("word, ")
    s"""
      WITH ${bpeHistSql},
      w0 AS (SELECT word,
               ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS w, cnt
             FROM hist),
      $iters,
      enc AS (SELECT word, CAST(len(string_split(trim(w), '  ')) AS BIGINT) AS n_tok
              FROM w6),
      dw AS (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'),
                 x -> x <> '')) AS word
             FROM documents),
      ag AS (SELECT doc_id, SUM(e.n_tok) AS n_bpe_tokens,
               CAST(count(*) AS BIGINT) AS n_words, SUM(len(dw.word)) AS n_word_chars
             FROM dw JOIN enc e USING (word) GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(ag.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
             COALESCE(ag.n_words, 0) AS n_words,
             CAST((COALESCE(ag.n_word_chars, 0) * 1000000)
                  // greatest(COALESCE(ag.n_bpe_tokens, 0), 1) AS BIGINT)
               AS chars_per_token_micros
      FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id"""
  }

  /** Top-`n` whitespace-token vocabulary by corpus frequency, with a
    * deterministic total order (count desc, then token) so the cut at
    * rank n is engine-portable.
    */
  def topVocab(docs: DataFrame, n: Int): DataFrame =
    docs.select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("word"))
      .limit(n)

  /** Zipf rank-frequency fit over the corpus' top-100 vocabulary: the
    * least-squares slope/intercept of log(frequency) against log(rank) —
    * the corpus-health statistic (natural language sits near slope −1;
    * boilerplate-heavy or synthetic corpora drift off it). One row out.
    *
    * Parity-by-construction: ranks come from the deterministic
    * (count desc, word) total order; each point's log-coordinates snap
    * to round-6; the four regression sums accumulate those snapped
    * values (and their round-6 products) as DECIMAL(25,6) — exact and
    * order-independent, so Spark's partial aggregation and DuckDB's
    * serial sum agree bit-for-bit — and the final slope/intercept
    * arithmetic is one mirrored chain of IEEE double ops on identical
    * inputs, snapped to round-6 on output.
    *
    * Shape at scale: the word-count table is the only corpus-sized
    * shuffle (map-side combined); the top-100 cut is a bounded
    * TakeOrdered; the regression runs over 100 rows.
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(25, 6)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("word"))
    // the window runs AFTER the top-n cut, so it sorts n rows, not the
    // vocabulary (no unpartitioned corpus window)
    val pts = topVocab(docs, 100)
      .withColumn("rank", row_number().over(w))
      .select(round(log(col("rank").cast("double")), 6).as("x"),
        round(log(col("n_occurrences").cast("double")), 6).as("y"))
    val agg = pts.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x").cast(D)).cast("double").as("sx"),
      sum(col("y").cast(D)).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 6).cast(D)).cast("double").as("sxy"),
      sum(round(col("x") * col("x"), 6).cast(D)).cast("double").as("sxx"))
    agg.select(col("n").cast("long").as("n_terms"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope_r"),
      round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
        .as("intercept_r"))
  }

  /** Corpus-wide PMI collocations: pointwise mutual information of
    * adjacent word pairs, PMI(w1,w2) = ln(P(w1,w2) / (P(w1)·P(w2)))
    * with P(w1,w2) = c12/N2 (bigram instances) and P(w) = cu/N1 (token
    * occurrences) — the classic collocation-extraction statistic
    * (Church & Hanks 1990). The floor of 5 co-occurrences trims the rare-pair noise PMI is
    * notoriously dominated by.
    *
    * Parity: all five inputs (c12, cu1, cu2, N1, N2) are exact
    * integers; the score is ONE mirrored IEEE chain
    * ln((c12·N1·N1)/(N2·cu1·cu2)) over their double casts, snapped
    * round-6 (the q65 lp discipline) — so a DuckDB oracle recomputes it
    * bit-for-bit.
    *
    * Shape at scale: bigram instances are a generator pass (corpus ×1);
    * both count tables are map-side-combined aggregates; the scoring
    * join runs on the minCount-FILTERED pair table (collocation-sized,
    * not corpus-sized) against the vocabulary-sized unigram table, keys
    * (w1)/(w2) — Zipf skew on stopword keys is the q65 AQE-skew-join
    * argument. Totals ride along as one-row broadcasts.
    */
  def pmiCollocations(docs: DataFrame): DataFrame = {
    // two corpus passes (unigram + bigram explodes); both totals derive
    // from the count tables instead of re-walking the corpus
    val t = docs.select(words(col("text")).as("toks"))
    val inst = LangModel.bigramInstances(t)
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val n1 = uni.agg(sum(col("cu")).as("n1"))
    val allPairs = inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val pairs = allPairs.filter(col("c12") >= 5L)
    val n2 = allPairs.agg(sum(col("c12")).as("n2"))
    pairs
      .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(
          (col("c12").cast("double") * col("n1").cast("double") * col("n1").cast("double")) /
            (col("n2").cast("double") * col("cu1").cast("double") * col("cu2").cast("double"))),
          6).as("pmi_r"))
  }

  /** Per-source KL divergence from the corpus token distribution —
    * KL(source ‖ corpus) = Σ_w p_s(w)·ln(p_s(w)/p_c(w)) — the drift
    * score that flags feeds whose language shifted (a new spam
    * template, a scraper gone wrong, a domain change) without reading a
    * single document. Zero-count terms cannot occur: every source word
    * exists in the corpus distribution by construction, so the sum
    * needs no smoothing.
    *
    * Parity: all four inputs (cs, Ns, cw, Nc) are exact integers; each
    * word's term is one mirrored IEEE chain
    * (cs/Ns)·ln((cs·Nc)/(Ns·cw)) snapped round-9; the per-source sum
    * runs in DECIMAL(30,9) (order-independent), output snapped round-6.
    *
    * Shape at scale: (source, word) and (word) count tables are
    * map-side-combined aggregates (vocabulary-sized outputs); the term
    * join keys on the word; the final sum groups by source. Nothing
    * corpus-sized crosses a shuffle except the token explode's own
    * aggregation.
    */
  def sourceTokenKL(docs: DataFrame): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(30, 9)
    // ONE corpus tokenize/explode pass; every other table derives from
    // the (source, word) count matrix. The four consumers share the
    // identical aggregate subtree, so ReuseExchange materializes the
    // explode's shuffle once — no localCheckpoint needed (measured: the
    // eager checkpoint costs more than it saves here)
    val bySrc = docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
    val srcTot = bySrc.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val corp = bySrc.groupBy(col("w")).agg(sum(col("cs")).as("cw"))
    val corpTot = bySrc.agg(sum(col("cs")).as("nc"))
    bySrc
      .join(corp, Seq("w"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(corpTot))
      .withColumn("term", round(
        (col("cs").cast("double") / col("ns").cast("double")) *
          log((col("cs").cast("double") * col("nc").cast("double")) /
            (col("ns").cast("double") * col("cw").cast("double"))), 9))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct_words"),
        first(col("ns")).as("n_tokens"),
        round(sum(col("term").cast(D)).cast("double"), 6).as("kl_r"))
      .select(col("source"), col("n_tokens"), col("n_distinct_words"), col("kl_r"))
  }

  /** Per-source distinctive terms by log-odds with an informative
    * Dirichlet prior (Monroe, Colaresi & Quinn, "Fightin' Words", 2008)
    * — which words does THIS feed use disproportionately vs the rest of
    * the corpus, z-scored so rare-word noise doesn't dominate (the
    * failure mode of raw tf-idf/PMI source comparisons). Prior counts
    * are the corpus totals (α_w = c_w), the standard informative
    * choice.
    *
    *   δ_w = ln((y_sw+α_w)/(n_s+α₀−y_sw−α_w)) − ln((y_rw+α_w)/(n_r+α₀−y_rw−α_w))
    *   z_w = δ_w / sqrt(1/(y_sw+α_w) + 1/(y_rw+α_w))
    *
    * Parity: every input is an exact integer count; the score is one
    * mirrored IEEE chain (two ln, one sqrt, divisions — identical
    * association both engines) snapped round-6; the per-source top-k
    * cut orders (z desc, word) for an engine-portable tie break.
    *
    * Shape at scale: (source, word) and (word) counts are map-side-
    * combined aggregates; scoring is a vocabulary-sized join keyed on
    * the word; the rank window runs over the scored vocab table, never
    * the corpus (the q105 discipline).
    */
  def distinctiveTerms(docs: DataFrame): DataFrame = {
    // one corpus explode; totals derive from the count matrix (the
    // sourceTokenKL discipline)
    val bySrc = docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("ysw"))
    val srcTot = bySrc.groupBy(col("source")).agg(sum(col("ysw")).as("ns"))
    val corp = bySrc.groupBy(col("w")).agg(sum(col("ysw")).as("cw"))
    val corpTot = bySrc.agg(sum(col("ysw")).as("nc"))
    val d = (c: Column) => c.cast("double")
    val scored = bySrc
      .join(corp, Seq("w"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(corpTot))
      .withColumn("yrw", col("cw") - col("ysw"))
      .withColumn("nr", col("nc") - col("ns"))
      .withColumn("z", round(
        (log((d(col("ysw")) + d(col("cw"))) /
            (d(col("ns")) + d(col("nc")) - d(col("ysw")) - d(col("cw")))) -
          log((d(col("yrw")) + d(col("cw"))) /
            (d(col("nr")) + d(col("nc")) - d(col("yrw")) - d(col("cw"))))) /
          sqrt(lit(1.0) / (d(col("ysw")) + d(col("cw"))) +
            lit(1.0) / (d(col("yrw")) + d(col("cw")))), 6))
    val byZ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("z").desc, col("w"))
    scored.withColumn("rank", row_number().over(byZ).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("source"), col("w"), col("ysw"), col("z").as("z_r"), col("rank"))
  }

  /** Per-document out-of-vocabulary statistics against the corpus'
    * own top-`vocabSize` vocabulary: token count, OOV count, OOV ratio.
    * The vocab is vocabulary-sized by construction, so it broadcasts;
    * the corpus side is one explode → broadcast left-join → per-doc
    * count aggregate (map-side combined on doc_id).
    */
  def oovStats(docs: DataFrame, vocabSize: Int): DataFrame = {
    val vocab = topVocab(docs, vocabSize).select(col("word"), lit(1).as("__in_vocab"))
    docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6).as("oov_ratio"))
  }
}
