package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All pure
  * Column expressions (codegen'd, no UDFs) so a 100 TB corpus scan stays
  * a single narrow stage.
  */
object TextStats {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish sub-word tokens: word pieces, numbers, and single
    * punctuation marks — the standard pre-tokenizer split
    * (letters | digits | single non-space symbol).
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Quality signals (length / punctuation / stopword ratios) — the
    * heuristics filters like C4/Gopher apply before training. Returns a
    * struct so one projection computes all signals in a single pass.
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that")

  def nChars(text: Column): Column = length(text)

  def wordCount(text: Column): Column = size(tokens(text))

  def uniqueWordRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  def meanWordLength(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Language-ID by stopword-profile scoring: count hits against a tiny
    * per-language frequent-word profile and take the argmax (n-gram
    * heuristic in the word-unigram limit). Profiles are literal arrays —
    * broadcast-free, fully codegen'd. Ties resolve by profile order.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "est", "en", "un", "une", "que", "pour"))

  def langIdPredicted(text: Column): Column =
    langIdPredictedWith(tokens(lower(text)), langProfiles)

  /** [[langIdPredicted]] over a caller-chosen profile set, scoring an
    * already-split lowercased token array `toks` — q354's Fleiss raters
    * are this predictor run on disjoint stopword halves of one shared
    * token column.
    */
  def langIdPredictedWith(toks: Column,
      profiles: Seq[(String, Seq[String])]): Column = {
    val scored = profiles.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"), lit(lang).as("lang"))
    }
    // greatest over (score, lang) structs picks max score; on ties the
    // lexicographically-last lang wins — deterministic either way.
    greatest(scored: _*).getField("lang")
  }

  /** Within-document repetition ratio (Gopher-style quality signal):
    * fraction of k-gram occurrences that are repeats —
    * `1 - distinct_kgrams / total_kgrams`. 0 for fully novel text,
    * → 1 for degenerate loops. One native shingle pass per variant.
    */
  def repetitionRatio(text: Column, k: Int = 2): Column = {
    val all = graft.catalyst.GraftFunctions.shingleHashesOrdered(text, k)
    val uniq = graft.catalyst.GraftFunctions.shingleHashes(text, k)
    lit(1.0) - size(uniq).cast("double") / greatest(size(all), lit(1)).cast("double")
  }

  /** Character-level Shannon entropy (bits of the natural-log variety):
    * `−Σ p(c)·ln p(c)` over the document's characters — the cheap
    * garbage detector (binary blobs / key dumps / repeated-char padding
    * sit far from prose's ~3 nats). Pure per-row higher-order
    * functions — no explode, no shuffle: the per-character histogram is
    * O(distinct × length) inside one projection.
    *
    * Parity-by-construction: each distinct character's `p·ln p` term is
    * snapped to round-9 and scaled to INTEGER NANOS, so the sum is an
    * exact long — order-independent, which matters because the two
    * engines enumerate the distinct set in different orders
    * (`array_distinct` is first-occurrence, DuckDB's `list_distinct` is
    * arbitrary). The quantizeInt8 integer-micros discipline, one level
    * finer.
    *
    * Backed by the native one-pass [[graft.catalyst.CharEntropyNanos]]
    * expression: the composed HOF form re-scans the character array once
    * per distinct character through interpreted lambdas (measured 27 s
    * for one sf0.1 pass vs ~0.3 s native — the SimHash64 lesson again).
    */
  def charEntropy(text: Column): Column =
    round((-graft.catalyst.GraftFunctions.charEntropyNanos(text)).cast("double") / lit(1e9), 6)

  /** Distinct-character count (the companion signal to [[charEntropy]]). */
  def distinctChars(text: Column): Column =
    size(array_distinct(filter(split(text, ""), c => c =!= lit("")))).cast("long")

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5, read as
    * an integer. Both Spark (`conv(substring(md5(x),1,15),16,10)`) and
    * DuckDB (`CAST('0x'||substring(md5(x),1,15) AS BIGINT)`) compute the
    * identical value, which makes every operator keyed on it
    * oracle-checkable across engines. 15 hex chars (not 16) so the value
    * fits a signed 64-bit long without overflow under ANSI mode.
    */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The matching DuckDB SQL for [[portableHash64]] (oracle authoring). */
  def portableHash64Sql(expr: String): String =
    s"CAST(concat('0x', substring(md5($expr),1,15)) AS BIGINT)"

  /** The characters Java's regex `\s` matches (ASCII, default flags):
    * space, tab, newline, carriage return, form feed, and vertical tab
    * (0x0B). DuckDB's RE2 `\s` does NOT match the vertical tab (ADVICE
    * r3), so every oracle that mirrors a Spark-side `\s` split/replace
    * must spell the class out with [[wsClassSql]] instead of writing
    * `\s` — otherwise text containing a VT tokenizes differently on the
    * two engines and silently breaks oracle parity. Written with regex
    * escapes (no raw control characters) so the SQL survives the
    * driver's JSON round-trip readably.
    */
  val wsCharsSql: String = """ \t\n\r\f\x0B"""

  /** RE2 character class equal to Java `\s` — use in oracle SQL wherever
    * the Spark side splits on `\s`. */
  val wsClassSql: String = s"[$wsCharsSql]"

  /** DuckDB twin of [[langIdPredicted]]'s per-language hit counts over
    * `text`: the select-list columns s_en, s_de, s_es, s_fr. */
  val langScoresSql: String = {
    def score(lang: String): String = {
      val words = langProfiles.toMap.apply(lang)
      s"len(list_filter(regexp_split_to_array(lower(text), '$wsClassSql+'), t -> t IN (${words.map("'" + _ + "'").mkString(",")})))"
    }
    s"""${score("en")} AS s_en, ${score("de")} AS s_de,
               ${score("es")} AS s_es, ${score("fr")} AS s_fr"""
  }

  /** CTE `t(doc_id, toks)`: each document's lowercased whitespace tokens,
    * empties dropped — the [[tokens]] split as the oracles spell it. */
  val docTokensSql: String = s"""t AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '$wsClassSql+'), x -> x <> '') AS toks
                 FROM documents)"""

  /** CTE `tok(source, w)`: every lowercased whitespace token of the
    * corpus with its document's source — the input of the per-source
    * term-distribution oracles (q103, q107, q159, q246, q329). */
  val sourceTokensSql: String = s"""tok AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '$wsClassSql+'),
                                  x -> x <> '')) AS w
        FROM documents)"""

  /** [[langIdPredicted]]'s argmax over the [[langScoresSql]] columns,
    * ties resolved as the greatest (score, lang) struct resolves them. */
  val langPredSql: String = """CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
               WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
               WHEN s_en >= s_de THEN 'en'
               ELSE 'de' END"""

  /** 64-bit document fingerprint over the whitespace-normalized,
    * lowercased text — the exact-dedup key that is robust to whitespace
    * and case jitter (rolling-hash fingerprint in the single-window
    * limit). Keyed on [[portableHash64]] (one md5 per document — noise
    * next to the text scan) so the fingerprint column itself is
    * verifiable against a DuckDB oracle, not just trusted from a unit
    * test.
    */
  def fingerprint(text: Column): Column =
    // filter empty tokens, don't trim: Spark trim() strips only the
    // space character, so a trailing "\n" used to survive as an empty
    // token and change the hash — two byte-identical docs differing by
    // a trailing newline (near-universal in web text) fingerprinted as
    // distinct content (review finding r6b). Empty-token filtering is
    // whitespace-robust for every \s character.
    portableHash64(array_join(filter(tokens(lower(text)), w => w =!= lit("")), " "))

  /** The matching DuckDB SQL for [[fingerprint]] (oracle authoring) —
    * one definition so the engine and every oracle move in lockstep.
    */
  def fingerprintSql: String =
    portableHash64Sql(s"array_to_string(list_filter(regexp_split_to_array(lower(text), '$wsClassSql+'), x -> x <> ''), ' ')")

  /** Aggressive CCNet-style normalization fingerprint: lowercase, strip
    * digit runs, strip every non-letter character, collapse whitespace —
    * so "reprints" differing only in page numbers, dates, punctuation,
    * or counters collapse onto one key. The standard pre-dedup
    * normalization of web-corpus pipelines, one step beyond
    * [[fingerprint]]'s whitespace/case robustness. The character class
    * spells out the Java `\s` set explicitly ([[wsCharsSql]]) so the
    * oracle's RE2 replays it byte-for-byte (the ADVICE r3 vertical-tab
    * delta).
    */
  def robustFingerprint(text: Column): Column =
    portableHash64(array_join(
      filter(tokens(regexp_replace(regexp_replace(lower(text), "[0-9]+", ""),
        s"[^a-z$wsCharsSql]", "")), w => w =!= lit("")), " "))

  /** Winnowing fingerprints (Schleimer et al.): k-gram hashes → the
    * minimum of each sliding window of 4 consecutive hashes, deduped.
    * Guarantees any shared substring of length >= k + w - 1 produces a
    * shared fingerprint — the local-dedup/plagiarism primitive. Built on
    * the native shingle-hash pass; the windowed mins are array ops over
    * the (short) per-document hash array.
    */
  def winnowingFingerprints(text: Column): Column = {
    // position-ordered k-gram hashes (winnowing needs sequence order, so
    // sort the window mins only at the end for set semantics)
    val grams = graft.catalyst.GraftFunctions.shingleHashesOrdered(text, 3)
    val n = size(grams)
    val mins = transform(
      sequence(lit(1), greatest(n - 3, lit(1))),
      i => array_min(slice(grams, i, lit(4))))
    // zero-gram docs (empty/whitespace-only text) must yield [] — the
    // forced single window would otherwise emit array(null) (array_min
    // of an empty slice is null), leaking a null "fingerprint" that the
    // portable twin correctly never produces (review finding r6b)
    when(n === 0, array().cast("array<bigint>"))
      .otherwise(array_sort(array_distinct(mins)))
  }

  /** Engine-portable winnowing: the same algorithm as
    * [[winnowingFingerprints]] with the gram hash swapped from native
    * xxhash64 to [[portableHash64]], so the selected fingerprints (which
    * depend on hash VALUES, not just hash equality — the window minima
    * change with the hash function) can be recomputed by a DuckDB
    * oracle. Backed by the one-pass native expression
    * [[graft.catalyst.PortableWinnow]]: the composed Column form
    * re-evaluates every upstream md5 inside each window lambda
    * (interpreted HOFs have no common-subexpression reuse), turning
    * O(grams) documents into O(grams²) work. The xxhash64 variant
    * remains the default scale path; this one buys cross-engine
    * verifiability for one md5 per gram.
    */
  def winnowingFingerprintsPortable(text: Column): Column =
    graft.catalyst.GraftFunctions.portableWinnow(text)
}
