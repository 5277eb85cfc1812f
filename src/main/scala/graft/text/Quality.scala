package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based document quality filters — the published heuristic rule
  * sets LLM pipelines run before any model-based scoring:
  *
  *  - [[gopherQuality]]: the Gopher paper's quality rules (Rae et al.
  *    2021, "Scaling Language Models", table A1) — word-count bounds,
  *    mean-word-length bounds, symbol-to-word ratios, bullet/ellipsis
  *    line fractions, alphabetic-word fraction, stopword presence.
  *  - [[c4Clean]]: the C4 cleaning pass (Raffel et al. 2020) — keep
  *    only terminal-punctuated lines of >= 5 words, drop
  *    javascript-mentioning lines, flag lorem-ipsum and curly-brace
  *    documents, require >= 3 surviving lines.
  *
  * Scale design: both operators are pure per-row Column expressions over
  * the text (split / filter / aggregate higher-order functions) — a
  * single narrow projection with NO shuffle, NO join, and no UDF, so a
  * 100 TB corpus pass stays one whole-stage-codegen scan. Every ratio is
  * snapped to round-6 BEFORE threshold comparison (the ADVICE-r3
  * threshold-snap discipline) so a 1-ulp disagreement between engines
  * cannot flip a pass flag.
  */
object Quality {

  /** The Gopher rule set's stopword list (the 8 common English words the
    * paper requires at least 2 of). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // TextStats.tokens is the one tokenizer the oracle whitespace class
  // mirrors — routing through it keeps Gopher/C4 word counts in lockstep
  // with every other operator if the split class ever changes
  private def words(text: Column): Column =
    filter(TextStats.tokens(lower(text)), w => w =!= lit(""))

  /** Per-document Gopher quality signals and pass flags. Output: one row
    * per input row — signals (word count, mean word length, alpha-word
    * fraction, distinct-stopword hits, symbol ratio, bullet/ellipsis
    * line fractions) plus one boolean per rule and the overall `keep`.
    */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val text = col("text")
    val toks = words(text)
    val nWords = size(toks).cast("long")
    val nwD = greatest(nWords, lit(1L)).cast("double")
    val meanWl = round(
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / nwD, 6)
    val fracAlpha = round(
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / nwD, 6)
    val nStop = size(array_intersect(toks, typedlit(gopherStopwords))).cast("long")
    // '#' chars plus non-overlapping '...' occurrences, as the Gopher
    // symbol-to-word ratio numerator. regexp_replace is leftmost
    // non-overlapping on both engines, so the '...' count is portable.
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    val nEll = ((length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3)).cast("long")
    val symbolRatio = round((nHash + nEll).cast("double") / nwD, 6)
    val ls = split(text, "\n")
    val nlD = greatest(size(ls), lit(1)).cast("double")
    val fracBullet = round(
      size(filter(ls, l => trim(l).startsWith("-") || trim(l).startsWith("*")))
        .cast("double") / nlD, 6)
    val fracEllLine = round(
      size(filter(ls, l => trim(l).endsWith("..."))).cast("double") / nlD, 6)

    val passWords = nWords.between(50L, 100000L)
    val passMwl = meanWl >= 3.0 && meanWl <= 10.0
    val passSymbol = symbolRatio < 0.1
    val passBullet = fracBullet < 0.9
    val passEllipsis = fracEllLine < 0.3
    val passAlpha = fracAlpha >= 0.8
    val passStop = nStop >= 2L

    docs.select(col("doc_id"),
      nWords.as("n_words"), meanWl.as("mean_word_len_r"),
      fracAlpha.as("frac_alpha_r"), nStop.as("n_stop_hits"),
      symbolRatio.as("symbol_ratio_r"), fracBullet.as("frac_bullet_r"),
      fracEllLine.as("frac_ellipsis_r"),
      passWords.as("pass_words"), passMwl.as("pass_mean_wl"),
      passSymbol.as("pass_symbol"), passBullet.as("pass_bullet"),
      passEllipsis.as("pass_ellipsis"), passAlpha.as("pass_alpha"),
      passStop.as("pass_stopwords"),
      (passWords && passMwl && passSymbol && passBullet &&
        passEllipsis && passAlpha && passStop).as("keep"))
  }

  /** C4 cleaning pass: per-line keep predicate (ends in terminal
    * punctuation `[.!?"]`, >= 5 whitespace words, does not mention
    * "javascript"), document-level lorem-ipsum / curly-brace flags, and
    * the >= 3 surviving-lines requirement. Output: line counts, the
    * cleaned text (kept lines re-joined in order), flags, and `keep_doc`.
    */
  def c4Clean(docs: DataFrame): DataFrame = {
    val text = col("text")
    val ls = split(text, "\n")
    val kept = filter(ls, l =>
      trim(l).rlike("[.!?\"]$") &&
        size(filter(split(trim(l), "\\s+"), w => w =!= lit(""))) >= 5 &&
        !lower(trim(l)).contains("javascript"))
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    docs.select(col("doc_id"),
      size(ls).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("text_clean"),
      hasLorem.as("has_lorem"), hasBrace.as("has_brace"),
      (size(kept) >= 3 && !hasLorem && !hasBrace).as("keep_doc"))
  }
}
