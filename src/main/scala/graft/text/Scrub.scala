package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII scrubbing for training-data curation (the C4/Dolma-style redaction
  * pass): replace emails, IPv4 addresses, and North-American phone
  * numbers with typed placeholder tokens, and count what was redacted so
  * the pipeline can audit/filter on PII density.
  *
  * Pattern dialect: every regex here is written in the common subset of
  * Java regex (Spark's engine) and RE2 (DuckDB's) — no lookaround, no
  * backreferences, only portable classes/quantifiers/`\b` — so the
  * DuckDB oracle can run the SAME pattern strings verbatim and the
  * redaction is provably engine-identical (the q38/q39 portable-parity
  * discipline, applied to regexes instead of hashes).
  *
  * Scale: one narrow codegen'd projection per row — no shuffle, no state;
  * the scan stays whole-stage and the patterns are compiled once per
  * task by Spark's regexp expression cache.
  */
object Scrub {

  /** Portable email pattern (common Java/RE2 subset). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Portable IPv4 pattern. `\b` guards against eating into longer
    * dotted numbers; RE2 and Java agree on ASCII word boundaries.
    */
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Portable NANP-ish phone pattern: optional parenthesized area code,
    * separator, three digits, separator, four digits.
    */
  val PhoneRe = "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"

  /** Redaction order matters and is part of the contract: emails first
    * (their local part may contain digit runs a later pass would
    * misread), then phones (their separators would otherwise be broken
    * apart by the IP pass eating digit triples), then IPs.
    */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noPhone = regexp_replace(noEmail, PhoneRe, "<PHONE>")
    regexp_replace(noPhone, Ipv4Re, "<IP>")
  }

  /** Pre-redaction PII counts (audit columns). Counted on the same
    * staged inputs the scrub passes see, so counts and replacements
    * agree even when categories overlap.
    */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noPhone = regexp_replace(noEmail, PhoneRe, "<PHONE>")
    (regexp_count(text, lit(EmailRe)),
     regexp_count(noEmail, lit(PhoneRe)),
     regexp_count(noPhone, lit(Ipv4Re)))
  }

  /** The same patterns as DuckDB SQL string literals (oracle authoring);
    * single-quoted, backslashes pass through verbatim.
    */
  def sqlLit(re: String): String = "'" + re + "'"

  /** Blocklist screening — the keyword-filter pass (spam/adult/violence
    * lexicons in real pipelines): per document, how many token instances
    * hit the blocklist, how many distinct blocked terms appear, and the
    * keep verdict at a 5% hit-ratio threshold. Matching is whole-token on
    * the lowercased whitespace tokenization (no substring
    * false-positives: "class" does not hit "ass").
    *
    * Scale: the blocklist is lexicon-sized and rides the plan as an
    * array literal probed via `array_contains`-style HOFs — a pure
    * per-row projection, no join, no shuffle, full codegen; at
    * million-term lexicons switch to the [[graft.text.Bloom]] probe
    * (same plan shape, constant-size literal).
    */
  def blocklistScreen(text: Column, blocklist: Seq[String]): (Column, Column, Column, Column) = {
    val bl = array(blocklist.map(t => lit(t.toLowerCase)): _*)
    val toks = filter(TextStats.tokens(lower(text)), t => t =!= lit(""))
    val hits = filter(toks, t => array_contains(bl, t))
    val nToks = size(toks).cast("long")
    val nHits = size(hits).cast("long")
    val nDistinct = size(array_distinct(hits)).cast("long")
    val keep = nHits.cast("double") <= nToks.cast("double") * 0.05
    (nHits, nDistinct, nToks, keep)
  }
}
