package graft.text

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership primitives for incremental / cross-corpus
  * dedup and decontamination.
  *
  * The scale story: a broadcast hash join against a reference key set
  * costs O(|set|) memory per executor and a real build pass; a Bloom
  * sketch compresses the same membership test to ~10 bits per key at
  * 1% false-positive rate (a 1e9-key reference corpus becomes a ~1.2 GB
  * sketch — or, sharded by key range, a handful of MB per shard) with
  * ZERO false negatives, which is exactly the contract incremental
  * dedup needs: a "new" verdict is always trustworthy, a "dup" verdict
  * is right with probability 1 − fpp and can be re-checked exactly on
  * the tiny flagged slice. The probe compiles through the same
  * whole-stage-codegen path as Spark's own runtime row-group filters
  * ([[BloomFilterMightContain]]).
  */
object Bloom {

  /** Build a Bloom sketch over a LongType column and return its
    * serialized bytes. The sketch is built distributed (partial sketches
    * merge associatively under the hood) and only the finished bitset
    * lands on the driver — sketch-sized state, the IVF-centroid
    * argument, NOT a corpus collect.
    *
    * `expectedItems` overrides the sizing count — overprovision when the
    * sketch will absorb future inserts, or when the item count is so
    * small that the asymptotic fpp estimate's variance matters (a
    * 10-item sketch at fpp 1e-6 is ~300 bits, where one unlucky
    * collision beats the estimate; sizing for 1000 items costs 3 KB and
    * pushes the realized rate to the theory curve).
    */
  def buildLongBloom(items: DataFrame, column: String, fpp: Double = 0.01,
                     expectedItems: Option[Long] = None): Array[Byte] = {
    val n = expectedItems.getOrElse(math.max(items.count(), 1L))
    val bf = items.stat.bloomFilter(column, n, fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Membership probe of a LongType column against a serialized sketch.
    * Plans as a codegen'd predicate; the sketch rides the plan as a
    * binary literal, so every task probes its local copy — no join, no
    * shuffle, no broadcast exchange.
    */
  def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes), ColumnBridge.expression(value)))

  /** Deserialize a sketch (test/diagnostic surface). */
  def readBloom(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Production incremental-dedup path: flag corpus documents sharing at
    * least one 3-shingle with the reference set, by pure Bloom probe —
    * one narrow pass over the corpus, no join against the reference.
    * False-negative-free by construction; a flagged doc is a true hit
    * with probability ≥ 1 − fpp per shingle probe (re-verify the flagged
    * slice exactly when the decision is destructive).
    */
  def bloomContaminationFlag(corpus: DataFrame, bloomBytes: Array[Byte]): DataFrame = {
    val csh = corpus.select(col("doc_id"),
      explode(Dedup.shingleHashes(col("text"), 3)).as("sh"))
    val hits = csh.filter(mightContain(bloomBytes, col("sh")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom_hits"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"),
        (coalesce(col("n_bloom_hits"), lit(0L)) > 0).as("flagged"))
  }

  /** Stateless per-document form of [[bloomContaminationFlag]]: the
    * sketch rides the plan as a literal and the flag is an `exists`
    * probe over the document's own shingle array — a pure projection
    * with no join and no aggregate, so the SAME operator runs unchanged
    * on a streaming ingest (where decontamination actually belongs: a
    * contaminated document should never reach the corpus). Flag
    * semantics match the batch form exactly (flagged ⇔ ≥1 shingle
    * probes positive); the batch form additionally counts hits. The
    * coalesce mirrors the batch form's null handling: a null-text doc
    * has no shingles, so it is NOT flagged (exists over the null array
    * would return null, and a `!flagged` admit filter would silently
    * drop docs the batch path keeps — r7 review).
    */
  def contaminationFlagStateless(corpus: DataFrame, bloomBytes: Array[Byte]): DataFrame =
    corpus.select(col("doc_id"),
      coalesce(exists(Dedup.shingleHashes(col("text"), 3),
        sh => mightContain(bloomBytes, sh)), lit(false)).as("flagged"))
}
