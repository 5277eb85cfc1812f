package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant is shuffle-on-a-key — exact dedup groups
  * by a 64-bit fingerprint; MinHash/SimHash near-dup candidate
  * generation explodes into (band, hash) bucket keys and self-joins on
  * the bucket, so the shuffle carries only (key, doc_id) pairs and the
  * quadratic pair enumeration happens per-bucket (bounded by bucket
  * size), never across the corpus. This is the same architecture as
  * Spark MLlib's MinHashLSH, re-expressed over DataFrames.
  */
object Dedup {

  /** Round cap of both connected-components forms. */
  private val CcMaxRounds = 50

  // ---- exact -----------------------------------------------------------

  /** Exact dedup on the normalized fingerprint: one row per distinct
    * content, keeping the lowest doc_id as canonical (deterministic),
    * with the duplicate count.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(TextStats.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- shingles & MinHash ---------------------------------------------

  /** Word k-shingles of a text column as an array of strings. */
  def shingles(text: Column): Column = {
    val toks = TextStats.tokens(lower(text))
    when(size(toks) < 3, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(1), size(toks) - 2),
        i => array_join(slice(toks, i, lit(3)), " ")))
  }

  /** Distinct shingle hash set (the Jaccard universe of the doc).
    * Backed by the native one-pass [[graft.catalyst.ShingleHashes]]
    * expression; the composed `shingles → xxhash64 → array_distinct`
    * chain materializes every shingle string and dominated the near-dup
    * bench.
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    graft.catalyst.GraftFunctions.shingleHashes(text, k)

  /** Deterministic MinHash signature: `numHashes` independent hash
    * functions over the shingle-hash set, function i being
    * `xxh64(h, seed=i)`. Backed by the native one-pass expression
    * [[graft.catalyst.MinHashSig]] — the composed form (N interpreted
    * aggregate folds) walks the array N times and dominated the
    * near-dup bench. Returns array<long> of per-function minima.
    */
  def minhashSignature(shingleHashesCol: Column, numHashes: Int = 16): Column =
    graft.catalyst.GraftFunctions.minhashSig(shingleHashesCol, numHashes)

  /** LSH band keys: split the signature into `bands` bands of
    * signature.length/bands rows each and hash each band. Docs sharing
    * any band key are near-dup candidates.
    */
  def bandKeys(signature: Column, numHashes: Int = 16, bands: Int = 4): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws("_",
          (0 until rows).map(r => signature.getItem(b * rows + r)): _*)).as("bh"))
    }: _*)
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * explode(bands) → self-join on the band bucket → dedup candidate
    * pairs → verify with exact Jaccard over the shingle-hash sets →
    * filter by threshold. Only bucket-mates are ever paired.
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.8,
                      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    // the shingle computation feeds three consumers (signature derivation
    // and both verify joins) — materialize it once via an eager local
    // checkpoint; unlike persist(), its blocks are released by the
    // context cleaner when the result goes out of scope, so repeated
    // calls in a shared session don't accumulate cached RDDs
    val base = docs.select(col("doc_id").as("id"), shingleHashes(col("text"), 3).as("sh"))
      .transform(graft.Stage.mat)
    // Candidate generation travels light: only (band, bandHash, id) goes
    // through the self-join shuffle, and pair dedup happens on the bare
    // id pair — the shingle sets (the wide payload) are re-attached by
    // two key joins only for the surviving candidates. At corpus scale
    // the candidate set is orders of magnitude smaller than the corpus,
    // so the wide data never shuffles more than once.
    val keys = base
      .withColumn("bk", explode(bandKeys(minhashSignature(col("sh"), numHashes), numHashes, bands)))
      .select(col("id"), col("bk.band"), col("bk.bh"))
    val cand = keys.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(keys.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardSortedHashes(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** DuckDB twin of the word 3-shingle sets [[minhashNearDups]] verifies
    * on: CTE `sh(id, s)` over the rows of `from` (an empty token list
    * gives an empty set). The oracles compare exact all-pairs Jaccard on
    * these sets, which the banded candidates match with overwhelming
    * probability.
    */
  def shingleSetSql(from: String): String = s"""sh AS (
        SELECT doc_id AS id,
               CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                    ELSE list_distinct(list_transform(
                      range(1, greatest(len(toks) - 2, 1) + 1),
                      i -> array_to_string(toks[i:i+2], ' '))) END AS s
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+'), t -> t <> '') AS toks
              FROM $from))"""

  /** Oracle for a [[minhashNearDups]] pair set: every pair of `from` rows
    * with exact Jaccard ≥ `threshold`, as (id_a, id_b, jaccard_r).
    */
  def jaccardPairsSql(from: String, threshold: Double): String = s"""
      WITH ${shingleSetSql(from)}
      SELECT a.id AS id_a, b.id AS id_b,
             round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 9) AS jaccard_r
      FROM sh a, sh b WHERE a.id < b.id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= $threshold
      ORDER BY id_a, id_b"""

  /** Recursive reachability over a near-dup pair CTE `pairs(id_a, id_b)`:
    * CTEs `edges` (both directions) and `reach(n, r)`; MIN(r) per n is
    * the [[connectedComponents]] label. Follows `WITH RECURSIVE`.
    */
  val pairReachSql: String = """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(n, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.n = e.src)"""

  /** Oracle for [[connectedComponents]] over q57's near-dup pairs (first
    * 500 documents, Jaccard ≥ 0.8): a recursive min-label closure ending
    * in CTE `labels(doc_id, cluster_id)`; follows `WITH RECURSIVE`.
    */
  val nearDupLabelsSql: String = s"""${shingleSetSql("documents WHERE doc_id < 500")},
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b FROM sh a, sh b
        WHERE a.id < b.id
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.8),
      $pairReachSql,
      labels AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n)"""

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** Exact Jaccard of two SORTED-distinct array<long> columns (the
    * [[shingleHashes]] contract) through the native two-pointer merge
    * kernel — |∩| from one allocation-free pass, |∪| = |a|+|b|−|∩|
    * (exact for distinct arrays), identical value to [[jaccard]] but
    * without materializing the intersect/union arrays per candidate
    * pair.
    */
  def jaccardSortedHashes(a: Column, b: Column): Column = {
    val inter = graft.catalyst.GraftFunctions.sortedIntersectSize(a, b)
    inter.cast("double") /
      greatest(size(a) + size(b) - inter, lit(1)).cast("double")
  }

  /** EXACT Jaccard similarity join by prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW 2007; Xiao et al., PPJoin, WWW 2008): the
    * deterministic scale path for thresholds where banded MinHash
    * cannot prune (t < 0.5), with NO miss probability at any threshold.
    *
    * Principle: order every document's shingle set by ascending global
    * document frequency (rarest first; ties on the hash). If
    * J(a,b) >= t then |a ∩ b| >= ceil(t·|a|), and a's suffix of length
    * ceil(t·|a|) − 1 cannot hold the whole intersection — so every
    * qualifying pair shares at least one token inside BOTH prefixes of
    * length |x| − ceil(t·|x|) + 1. Candidates are therefore exactly the
    * prefix-token bucket mates, and the rare-first ordering keeps those
    * buckets small (a token of frequency f generates ≤ f² pairs, and
    * prefixes systematically avoid frequent tokens).
    *
    * Shape at scale: one explode of (id, size, hash) triples; one
    * map-side-combined df count on the hash; a per-doc rank window
    * (shuffle on id); the candidate self-join keyed on the prefix
    * token hash with the PPJoin length filter t·|b| <= |a| applied at
    * the join; exact-Jaccard verification re-attaches the two shingle
    * sets by key join. Every shuffle carries (hash, id, size) or
    * (id, set) pairs — never text; no stage is quadratic in the corpus.
    * Output is IDENTICAL to the exact all-pairs kernel (the test
    * reference `TextRefs.ngramJaccardPairsExact`) at any threshold — candidate generation is a superset of the qualifying
    * pairs by the prefix theorem, and verification is exact.
    */
  /** FP guard for every prefix-filter bound: a product like 0.07·100
    * computes as 7.000000000000001, and an unslacked ceil/comparison at
    * such an exact-integer boundary would shorten a prefix or reject a
    * length ratio that mathematically qualifies — silently dropping a
    * pair whose Jaccard/containment is EXACTLY the threshold. Slack is
    * always applied in the direction that LOOSENS a filter (at most one
    * extra prefix slot / candidate), never tightens, so exactness is
    * preserved. DedupSpec pins the J == t boundary case.
    */
  private val FpSlack = 1e-9

  /** Shared rarest-first prefix index for the prefix-filter join family
    * ([[jaccardJoinPrefix]] / [[containmentJoinPrefix]]): shingle sets
    * (checkpointed — they feed the df count, the ranking, and the
    * verify joins), the exploded (id, size, hash) token table, and the
    * prefix slice of length |x| − ceil(t·|x|) + 1 in ascending global
    * document frequency (ties on hash).
    */
  private def prefixIndex(docs: DataFrame, threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    val sets = docs.select(col("doc_id").as("id"), shingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) >= 1)
      .transform(graft.Stage.mat)
    val tok = sets.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("h"))
    val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("h"))
    val prefix = tok.join(dfreq, Seq("h"))
      .withColumn("rn", row_number().over(byRank))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(threshold) - lit(FpSlack)) + 1)
      .select(col("h"), col("id"), col("sz"), col("rn"))
    (sets, tok, prefix)
  }

  def jaccardJoinPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val (sets, _, prefix) = prefixIndex(docs, threshold)
    // positional filter (PPJoin Lemma 1): for the FIRST token the pair
    // shares — which the global rarest-first order forces into both
    // prefixes — every other common element sits after it on BOTH
    // sides, so overlap <= 1 + min(sz_a − rn_a, sz_b − rn_b). A later
    // shared token only tightens the bound, so testing every
    // occurrence and keeping the pair if ANY passes is equivalent to
    // testing the first. J >= t needs overlap >= ceil(t(|a|+|b|)/(1+t)).
    val cand = prefix.select(col("h"), col("id").as("id_a"), col("sz").as("sz_a"), col("rn").as("rn_a"))
      .join(prefix.select(col("h"), col("id").as("id_b"), col("sz").as("sz_b"), col("rn").as("rn_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      // length filter: J >= t forces t·max(|a|,|b|) <= min(|a|,|b|)
      // (FpSlack: equality at the boundary must survive the product)
      .filter(col("sz_a") * lit(threshold) - lit(FpSlack) <= col("sz_b") &&
        col("sz_b") * lit(threshold) - lit(FpSlack) <= col("sz_a"))
      .filter(lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
        ceil((col("sz_a") + col("sz_b")) * lit(threshold) / lit(1.0 + threshold) - lit(FpSlack)))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardSortedHashes(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT containment join — the asymmetric twin of
    * [[jaccardJoinPrefix]]: find pairs where C(a,b) = |a ∩ b| / |a|
    * >= t, i.e. document a is (mostly) CONTAINED in document b — the
    * quote/excerpt/subset-mirror case symmetric Jaccard misses (a
    * 50-token quote inside a 5000-token page has J ≈ 0.01 but C = 1.0).
    *
    * Candidate generation: if C(a,b) >= t then |a ∩ b| >= ceil(t·|a|),
    * so a's prefix (rarest-first global order, length
    * |a| − ceil(t·|a|) + 1) must share a token with b — but with NO
    * constraint on where that token sits in b (containment has no lower
    * bound on |b|'s share), so the probe side indexes ALL of b's
    * tokens, not just a prefix. Rare-first ordering still does the
    * heavy lifting: prefix tokens are a's rarest, so the probe join
    * fans out by the df of RARE tokens. The one-sided length filter
    * |b| >= ceil(t·|a|) prunes the rest. Verification is exact.
    *
    * Shape at scale: same as [[jaccardJoinPrefix]] — (hash, id, size)
    * shuffles, key joins, no quadratic stage. The probe side is
    * corpus-tokens-sized (×k), which is the price of the asymmetric
    * predicate; candidates stay bounded by rare-token df.
    */
  def containmentJoinPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val (sets, tok, prefix) = prefixIndex(docs, threshold)
    val cand = prefix.select(col("h"), col("id").as("id_a"), col("sz").as("sz_a"))
      .join(tok.select(col("h"), col("id").as("id_b"), col("sz").as("sz_b")), Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      // one-sided length filter (FpSlack: the q91 boundary argument)
      .filter(col("sz_b") >= ceil(col("sz_a") * lit(threshold) - lit(FpSlack)))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("containment",
        graft.catalyst.GraftFunctions.sortedIntersectSize(col("sh_a"), col("sh_b"))
          .cast("double") / size(col("sh_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  // ---- line-level dedup (CCNet/Dolma-style) ----------------------------

  /** Remove lines that occur more than once across the
    * corpus (boilerplate: headers, nav text, disclaimers), preserving
    * line order within each document. Two passes: a global line-hash
    * count (one shuffle on the 64-bit line hash), then a broadcast-or-
    * shuffle semi-join back onto the exploded lines and an ordered
    * re-assembly — no driver-side state, corpus-size agnostic.
    */
  def lineLevelDedup(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(trim(col("line"))))
    val frequent = lines.groupBy(col("lh"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L)
      .select(col("lh"))
    val kept = lines
      .join(frequent, Seq("lh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("__kept_text"))
    // surgery ops never lose rows (the dupSpanTrim contract): a doc
    // whose EVERY line is boilerplate comes back with empty text, not
    // silently vanished from the corpus (review finding r6b)
    docs.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__kept_text"), lit("")).as("text"))
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * n-grams whose corpus-wide first occurrence (minimum doc_id) is this
    * document — "how much genuinely new content does each document add",
    * the ordered-ingest complement of [[dupSpanCoverage]] (which asks
    * how much of a document is duplicated ANYWHERE, this asks how much
    * was seen EARLIER). Low-novelty documents are prune candidates in
    * incremental crawls.
    *
    * Shape at scale: one native shingle pass → explode (corpus-sized
    * ×1) → map-side-combined min(doc_id) per 60-bit gram hash → one
    * key-partitioned join back on the hash → per-doc count aggregate.
    * Two shuffles total, both carrying (hash, id) pairs, never text.
    * Keyed on the portable hash so the whole signal is oracle-replayable
    * (novelty depends only on hash equality, but the portable key lets
    * the oracle replay the identical grouping).
    */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val t = docs.select(col("doc_id"),
      array_distinct(graft.catalyst.GraftFunctions.portableShingles(col("text"), n)).as("hs"))
      .filter(size(col("hs")) >= 1)
    // sh feeds both the first-occurrence aggregate and the join back —
    // materialize the md5-per-gram pass once (minhashNearDups discipline)
    val sh = t.select(col("doc_id"), explode(col("hs")).as("h"))
      .transform(graft.Stage.mat)
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty_r"))
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many distinct normalized contents ([[TextStats.fingerprint]]) they
    * share, plus the fingerprint-level Jaccard overlap — the attribution
    * view of exact dedup (which feeds are mirroring which).
    *
    * Shape at scale: one distinct over (fingerprint, source) — the only
    * corpus-sized shuffle; the self-join keys on the fingerprint, and a
    * fingerprint's source list is bounded by the number of sources (a
    * few dozen in a real pipeline), so per-key pair fan-out is a small
    * constant. Per-source totals are a source-count-sized aggregate
    * that broadcasts back onto the pair table.
    */
  def crossSourceDuplication(docs: DataFrame): DataFrame = {
    val fp = docs
      .select(TextStats.fingerprint(col("text")).as("fp"), col("source").as("src"))
      .distinct()
    val perSource = fp.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val shared = fp.select(col("fp"), col("src").as("source_a"))
      .join(fp.select(col("fp"), col("src").as("source_b")), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(perSource.select(col("src").as("source_a"), col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(perSource.select(col("src").as("source_b"), col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6).as("fp_jaccard"))
  }

  /** Corpus snapshot delta — the incremental-crawl bookkeeping view:
    * compare two corpus snapshots by normalized content fingerprint and
    * report, per source, how many distinct contents were added, removed,
    * and retained. This is what decides whether a re-crawl is worth a
    * retrain and which feeds churn.
    *
    * Shape at scale: each side reduces to a distinct (fingerprint,
    * source) pair set — one map-side-combined shuffle each, carrying
    * 8-byte keys, never text; the comparison is a full-outer join
    * key-partitioned on the same pair; the report is a source-count
    * aggregate. No stage is corpus-quadratic and nothing collects.
    */
  def snapshotDelta(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def fps(d: DataFrame, marker: String) = d
      .select(TextStats.fingerprint(col("text")).as("fp"), col("source"))
      .distinct()
      .withColumn(marker, lit(1))
    fps(oldDocs, "in_old")
      .join(fps(newDocs, "in_new"), Seq("fp", "source"), "full_outer")
      .groupBy(col("source"))
      .agg(sum(when(col("in_old").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("in_new").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("in_old").isNotNull && col("in_new").isNotNull, 1L).otherwise(0L))
          .as("n_retained"))
  }

  // ---- SimHash ---------------------------------------------------------

  /** 64-bit SimHash: lowercase, tokenize on whitespace, xxhash64 each
    * token, bit j of the output is the majority vote of bit j across
    * token hashes. Backed by the native single-pass Catalyst expression
    * [[graft.catalyst.SimHash64]] (the composed HOF form needs 64 array
    * folds per row and falls out of codegen).
    */
  def simhash(text: Column): Column =
    graft.catalyst.GraftFunctions.simhash64(text)

  /** Engine-portable 60-bit SimHash: the same bit-majority algorithm
    * keyed on the md5-derived portable token hash, so the fingerprint
    * values themselves are recomputable by a DuckDB oracle. The
    * xxhash64 variant above stays the scale default (no md5 per token).
    */
  def simhashPortable(text: Column): Column =
    graft.catalyst.GraftFunctions.simhash64Portable(text)

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- benchmark contamination ----------------------------------------

  /** Benchmark-contamination check (the GPT-3/PaLM decontamination
    * primitive): flag corpus documents that share at least one k-gram
    * with a benchmark/eval set, with the shared-shingle count as the
    * contamination score.
    *
    * Shape: the benchmark's distinct shingle set is tiny relative to the
    * corpus (eval sets are fixed), so it BROADCASTs; the corpus side is
    * one explode → broadcast-semi-probe → groupBy(id) count — a single
    * shuffle of (id, shingle-hit) pairs, never of document text. Both
    * sides shingle through the native one-pass [[shingleHashes]]
    * expression and join on the 64-bit hash — 3× faster than comparing
    * shingle strings (measured at sf0.1) and an 8-byte broadcast key;
    * the shared-count equals the string-shingle count unless xxhash64
    * collides inside one document pair (probability ≈ 2⁻⁶⁴ per shingle
    * pair — the q37 argument, which lets the DuckDB oracle compare
    * string shingles verbatim).
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val bsh = benchmark
      .select(explode(shingleHashes(col("text"), 3)).as("sh"))
      .distinct()
    val hits = corpus
      .select(col("doc_id"), explode(shingleHashes(col("text"), 3)).as("sh"))
      .join(broadcast(bsh), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** DuckDB twin of [[contamination]] as q55/q92 declare it (benchmark =
    * every 50th document, k = 3): CTEs `b` (benchmark shingles), `c`
    * (corpus doc shingles) and `h(doc_id, n_shared)`. */
  val contaminationHitsSql: String = s"""b AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+')) - 2, 1) + 1),
          i -> array_to_string(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+')[i:i+2], ' ')))) AS sh
        FROM documents WHERE doc_id % 50 = 0),
      c AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, greatest(len(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+')) - 2, 1) + 1),
          i -> array_to_string(regexp_split_to_array(lower(text), '${TextStats.wsClassSql}+')[i:i+2], ' ')))) AS sh
        FROM documents WHERE doc_id % 50 <> 0),
      h AS (SELECT doc_id, count(*) AS n_shared FROM c JOIN b USING (sh) GROUP BY doc_id)"""

  /** FUZZY cross-corpus decontamination: near-duplicate matches between
    * a training corpus and a benchmark/eval set — the paraphrase-level
    * complement of [[contamination]] (exact shingle overlap) and
    * [[graft.text.Bloom]] (exact membership sketch), catching the
    * reworded-but-same-document leaks neither exact path can see.
    *
    * Mechanics are the [[minhashNearDups]] pipeline ACROSS two tables:
    * band keys on both sides, a band-bucket join (never all-pairs —
    * only bucket-mates meet), candidate dedup on the bare id pair, then
    * exact-Jaccard verification over the shingle-hash sets. Returns the
    * verified match pairs (id_c, id_b, jaccard); callers aggregate to a
    * per-document verdict. At the default 1-row-per-band setting a
    * true pair at Jaccard ≥ 0.8 misses all 16 bands with probability
    * ≤ 0.2¹⁶ ≈ 7e-12 (the q37/q122 argument).
    *
    * Scale shape: the benchmark side is eval-set-sized (thousands of
    * docs), so its band keys behave like a dimension table; the corpus
    * side streams through one explode + one band-keyed join with only
    * (band, hash, id) in the shuffle. Shingle payloads re-attach by key
    * join for the (rare) surviving candidates only.
    */
  def fuzzyDecontamination(corpus: DataFrame, benchmark: DataFrame,
                           threshold: Double = 0.8): DataFrame = {
    def prep(d: DataFrame) = graft.Stage.mat(
      d.select(col("doc_id").as("id"), shingleHashes(col("text"), 3).as("sh")))
    def keys(base: DataFrame) = base
      .withColumn("bk",
        explode(bandKeys(minhashSignature(col("sh"), 16), 16, 16)))
      .select(col("id"), col("bk.band"), col("bk.bh"))
    val cb = prep(corpus)
    val bb = prep(benchmark)
    val cand = keys(cb).select(col("band"), col("bh"), col("id").as("id_c"))
      .join(keys(bb).select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .select(col("id_c"), col("id_b"))
      .distinct()
    cand
      .join(cb.select(col("id").as("id_c"), col("sh").as("sh_c")), Seq("id_c"))
      .join(bb.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardSortedHashes(col("sh_c"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_c"), col("id_b"), col("jaccard"))
  }

  // ---- dedup cluster resolution ---------------------------------------

  /** Connected components over a near-dup pair set — the step that turns
    * pairwise "A ~ B" into dedup CLUSTERS so the pipeline can keep one
    * representative per group of mutual near-duplicates. Labels every
    * node with the minimum id reachable from it.
    *
    * Algorithm: iterative min-label propagation (each node takes the min
    * of its own and its neighbors' labels) to a fixpoint — O(diameter)
    * rounds, one shuffle-join per round on (id, label) pairs only; each
    * round's result is Stage.mat-materialized so lineage stays flat and the
    * convergence count reuses the materialized blocks. Near-dup graphs
    * are overwhelmingly tiny cliques/chains (diameter ≤ 3 in practice),
    * so rounds stay in single digits. `diameterHint` is the escalation
    * switch for adversarial graphs: if propagation has not converged
    * after that many rounds, the actual diameter exceeds the near-dup
    * regime and the remainder runs via
    * [[connectedComponentsAlternating]] (O(log² n) rounds regardless of
    * diameter) instead of grinding out O(diameter) propagation rounds.
    * Both produce identical labels (min id of the component), so the
    * switch is invisible to callers — CurationSpec pins the agreement
    * on chain/clique/edge fixtures.
    */
  def connectedComponents(pairs: DataFrame,
                          diameterHint: Int = 8): DataFrame = {
    val sym = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .unionByName(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .distinct()
      .transform(graft.Stage.mat)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(graft.Stage.mat)
    var round = 0
    var converged = false
    val propRounds = math.min(CcMaxRounds, diameterHint)
    while (!converged && round < propRounds) {
      val nbrMin = sym.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
      // carry the previous label through the materialization so the
      // convergence probe is a NARROW scan of the checkpointed blocks
      // (round 14, guide §2.4): the r13 form re-joined next against
      // labels per round — a whole extra join stage whose only output
      // was the changed-row test.
      val next = labels.join(nbrMin, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("prev"))
        .transform(graft.Stage.mat)
      converged = next.filter(col("label") =!= col("prev")).isEmpty
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    if (!converged)
      return connectedComponentsAlternating(pairs)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("is_representative"))
  }

  /** Connected components by large-star/small-star alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014):
    * converges in O(log² n) ROUNDS ON ANY GRAPH — the scale path for
    * graphs whose diameter breaks min-label propagation (a 10k-node
    * chain needs 10k propagation rounds but ~log-many alternations).
    *
    * Each alternation is two aggregate+join passes over an edge list
    * kept in canonical (larger, smaller) orientation:
    *  - LARGE-STAR: per node u, link every strictly-larger neighbor to
    *    m = min(N(u) ∪ {u}) — long chains fold onto local minima;
    *  - SMALL-STAR: per node u (over smaller neighbors only), link u
    *    and all its smaller neighbors to their minimum — stars flatten.
    * Edges shuffle as bare (long, long) pairs; every round
    * Stage.mat barriers so lineage stays flat; convergence = the edge set
    * reached a fixpoint (then it IS the star forest u → component-min).
    * Output schema matches [[connectedComponents]] exactly.
    */
  def connectedComponentsAlternating(pairs: DataFrame): DataFrame =
    alternatingWithRounds(pairs)._1

  /** [[connectedComponentsAlternating]] plus the number of alternation
    * rounds it took — exposed so CurationSpec can assert the O(log² n)
    * bound on the adversarial chain fixture.
    */
  private[graft] def alternatingWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val nodes = pairs.select(col("id_a").cast("long").as("id"))
      .unionByName(pairs.select(col("id_b").cast("long").as("id")))
      .distinct().transform(graft.Stage.mat)
    var edges = pairs
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct().transform(graft.Stage.mat)
    var round = 0
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    while (!converged && round < CcMaxRounds) {
      // large-star over the symmetric view: m = min(u, min(neighbors)),
      // every neighbor v > u re-points to m. Output stays canonical
      // (v > u ≥ m). One shuffle for the per-u min, one for the join.
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy(col("u")).agg(least(col("u"), min(col("v"))).as("m"))
      val large = sym.join(lmins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star on the directed (larger → smaller) edges: all of u's
      // smaller neighbors plus u itself re-point to their minimum.
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      // fixpoint probe folded into the round materialization (round 14,
      // the propagation-loop discipline): each next edge carries an
      // in-previous-set flag, so convergence is a narrow count + scan
      // of the checkpointed blocks instead of a separate count job plus
      // an anti-join job; the previous round's count is driver state.
      val next = large.join(smins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(smins.select(col("u"), col("m").as("v")))
        .distinct()
        .join(edges.select(col("u"), col("v"), lit(1).as("in_prev")),
          Seq("u", "v"), "left")
        .transform(graft.Stage.mat)
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.filter(col("in_prev").isNull).isEmpty
      edges = next.select(col("u"), col("v"))
      edgeCount = nextCount
      round += 1
    }
    // at the fixpoint the edge set is the star forest (u → component
    // min); the min-agg also covers a non-converged maxRounds bailout,
    // where a node could still carry more than one outgoing edge
    val lbl = edges.groupBy(col("u")).agg(min(col("v")).as("label"))
      .withColumnRenamed("u", "id")
    val labels = nodes.join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    (labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("id") === col("label")).as("is_representative")),
      round)
  }

  /** Dedup-cluster representative selection — the decision step after
    * [[connectedComponents]]: inside every near-dup cluster keep exactly
    * one document, chosen by the caller's quality score (longest /
    * highest-quality copy) with doc_id as the deterministic tiebreak;
    * singletons (docs in no pair) keep themselves. This replaces the
    * min-id `is_representative` default with the policy real pipelines
    * want ("of the 12 mirrors of this page, keep the cleanest one").
    *
    * Shape at scale: one left join of the corpus onto the (id, cluster)
    * label table (key-partitioned on doc_id), one rank window
    * PARTITIONed BY cluster_id — near-dup clusters are tiny (bounded by
    * mirror counts), so the window sort is per-group trivial; nothing
    * unpartitioned, text never shuffles (only id, cluster, score).
    */
  def selectRepresentatives(docs: DataFrame, pairs: DataFrame, score: Column): DataFrame = {
    val labels = connectedComponents(pairs)
      .select(col("doc_id"), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("score").desc, col("doc_id"))
    docs.select(col("doc_id"), score.as("score"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("score"), col("keep"))
  }

  /** Cross-document duplicated-span coverage: for every `n`-token
    * shingle that occurs in ≥ 2 distinct documents, mark the `n` token
    * positions it covers, and report per document how much of it is
    * made of such shared spans — the n-gram-granular form of
    * exact-substring dedup (flag/trim documents whose text is largely
    * duplicated elsewhere), with overlapping spans union-counted, not
    * double-counted.
    *
    * Shape at scale: the shingle table is corpus-sized ×1; the dup-key
    * set is one map-side-combined aggregate on the 60-bit shingle hash
    * (count DISTINCT doc caps at 2 — partial aggs stay tiny); marking is
    * a key-partitioned join back on the hash. The position union is
    * interval arithmetic, not row explosion: dup-shingle START positions
    * sort per doc (one shuffle) and a `lead` window turns them into
    * union length via Σ min(n, nextStart − start) (+ n for the last) —
    * exactly |∪ [s, s+n-1]| because consecutive intervals overlap by
    * n − gap. Round 6 replaced the former ×n position explode +
    * corpus-wide distinct (two extra shuffles of n× rows) with this
    * single window — locally a modest 2.0 → 1.9 s at sf0.1 (the
    * declared query's md5-per-gram oracle-parity hashing dominates
    * there), but at 100 TB it removes the plan's largest intermediate:
    * the n×-exploded (doc, pos) set no longer exists. Keyed on the
    * portable hash so the whole signal is oracle-replayable (the DuckDB
    * oracle still computes the literal position-set union).
    */
  /** Cross-document duplicated-span TRIMMING — the surgery counterpart
    * of [[dupSpanCoverage]] (which only scores): remove every token
    * position covered by an `n`-gram that occurs in >= 2 distinct
    * documents, and reassemble the survivors in order — the
    * Lee-et-al.-style exact-substring dedup edit ("Deduplicating
    * Training Data Makes Language Models Better"), n-gram-granular.
    *
    * Tokens are hashed lowercased (same universe as [[dupSpanCoverage]]
    * / the oracle) but re-emitted in their ORIGINAL case — whitespace
    * tokenization is case-independent, so positions align.
    *
    * Shape at scale: the shingle table and dup-key aggregate are
    * [[dupSpanCoverage]]'s; producing the edit then genuinely needs the
    * covered POSITIONS (unlike scoring, where the interval union
    * sufficed), so dup-shingle starts explode ×n — bounded by n × the
    * dup density, not the corpus — into a (doc_id, pos) anti-join
    * against the exploded token table, and the reassembly is one
    * groupBy(doc_id) ordered collect. Every shuffle carries (id, pos)
    * or (id, token) pairs.
    */
  def dupSpanTrim(docs: DataFrame, n: Int = 8): DataFrame = {
    // the md5-per-gram shingle pass feeds three consumers (dup-key agg,
    // covered-position join, token table + final join) — materialize it
    // once (the minhashNearDups discipline; blocks are freed by the
    // context cleaner). Measured 2.9 → 1.9 s at sf0.1.
    // no size filter: a document with fewer than n tokens has no
    // n-gram spans, so it passes through UNTRIMMED — a surgery operator
    // whose output replaces the corpus must never silently drop rows
    // (review finding r6b; the previous filter lost every sub-n doc)
    val t = docs.select(col("doc_id"),
      filter(split(col("text"), "\\s+"), x => x =!= lit("")).as("otoks"),
      graft.catalyst.GraftFunctions.portableShingles(col("text"), n).as("hs"))
      .withColumn("n_tokens", size(col("otoks")).cast("long"))
      .transform(graft.Stage.mat)
    val covered = dupSpanStarts(t)
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
    val tokPos = t
      .select(col("doc_id"), posexplode(col("otoks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("pos"), col("tok"))
    val kept = tokPos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("text_trimmed"))
    t.select(col("doc_id"), col("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_trimmed"), lit("")).as("text_trimmed"))
  }

  /** The n-gram spans that occur in at least two documents: one row
    * (h, doc_id, i) per duplicated span start i (1-based) of each
    * document in `t` (doc_id, hs = ordered portable n-gram hashes). */
  private def dupSpanStarts(t: DataFrame): DataFrame = {
    val sh = t
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("i0", "h")))
      .select(col("doc_id"), (col("i0") + 1).cast("int").as("i"), col("h"))
    val dup = sh.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    sh.join(dup, Seq("h"))
  }

  def dupSpanCoverage(docs: DataFrame): DataFrame = {
    // fused native shingle pass: the composed form (explode starts +
    // re-slice/join the token array per row) pushes O(tokens²) bytes per
    // doc through the explode; PortableShingles emits the ordered gram
    // hashes in one O(tokens) pass and posexplode recovers positions
    val t = docs.select(col("doc_id"),
      size(filter(TextStats.tokens(lower(col("text"))), x => x =!= lit("")))
        .cast("long").as("n_tokens"),
      graft.catalyst.GraftFunctions.portableShingles(col("text"), 8).as("hs"))
      .filter(col("n_tokens") >= 8)
    val marked = dupSpanStarts(t)
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_shingles"))
    // interval union over sorted starts: (doc_id, i) is unique, so the
    // lead diff is ≥ 1 and min(n, diff) is each interval's uncovered-by-
    // successor contribution; the final start contributes n
    val wNext = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val covered = marked
      .withColumn("nxt", lead(col("i"), 1).over(wNext))
      .select(col("doc_id"),
        when(col("nxt").isNotNull, least(lit(8L), (col("nxt") - col("i")).cast("long")))
          .otherwise(lit(8L)).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("covered_tokens"))
    t.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_shingles"), lit(0L)).as("n_dup_shingles"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_coverage"))
  }
}
