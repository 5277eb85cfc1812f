package graft.text

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the pretraining step that concatenates the corpus
  * token stream (in a deterministic document order) and chunks it into
  * fixed-length training sequences. Each document maps to a global token
  * span [start_offset, start_offset + n_tokens), from which its first
  * and last covering sequence indices follow by integer division.
  *
  * The global prefix sum is computed as a DISTRIBUTED two-phase sum, not
  * one unpartitioned window (which Spark executes in a single task —
  * correct, but a 100 TB scale-killer):
  *
  *  1. coarse buckets of `bucketSize` consecutive doc ids each
  *     aggregate their token total — a normal parallel groupBy;
  *  2. the per-bucket running offsets are a window over the tiny bucket
  *     table (corpus_size / bucketSize rows — driver-scale, the one
  *     intentionally serial step) and broadcast back;
  *  3. each bucket computes its internal prefix sum in parallel
  *     (window PARTITIONed BY bucket) and adds its bucket offset.
  *
  * The DuckDB oracle computes the same offsets with a plain
  * `SUM() OVER (ORDER BY doc_id)` — equality proves the two-phase
  * decomposition is an exact prefix sum, not an approximation.
  */
object Packing {

  def packOffsets(docs: DataFrame, seqLen: Int, bucketSize: Int = 4096): DataFrame = {
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id DIV $bucketSize"))
    val bucketOffsets = base.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btotal"))
      .withColumn("boffset", coalesce(
        sum(col("btotal")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boffset"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(bucketOffsets), Seq("bucket"))
      .withColumn("start_offset",
        col("boffset") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_seq", expr(s"start_offset DIV $seqLen"))
      .withColumn("last_seq",
        when(col("n_tokens") === 0, col("first_seq"))
          .otherwise(expr(s"(start_offset + n_tokens - 1) DIV $seqLen")))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        col("first_seq"), col("last_seq"))
  }

  /** Distributed EXACT global rank by an arbitrary long score — the
    * [[trainingOrder]] decomposition generalized from uniform hash keys
    * to data-dependent scores (quality ranking, curriculum ordering):
    *
    *  1. linear value-range buckets between the observed min and max —
    *     any deterministic MONOTONE bucketing preserves "bucket order +
    *     within-bucket order = global order", so balance is a
    *     performance concern only (for pathologically clumped scores,
    *     swap in quantile-based ranges; linear is the right default for
    *     the roughly-unimodal score distributions quality metrics
    *     produce);
    *  2. within-bucket ranks via a window PARTITIONed BY bucket;
    *  3. bucket offsets via a window over the 1024-row count table
    *     (the one intentionally serial step), broadcast back.
    *
    * Ties break on doc_id, so the rank is a deterministic total order.
    * The oracle equality against a plain `row_number() OVER (ORDER BY
    * score, doc_id)` proves the decomposition exact.
    */
  def scoreOrder(docs: DataFrame, score: Column): DataFrame = {
    val t = docs.select(col("doc_id").cast("long").as("doc_id"), score.cast("long").as("score"))
      .transform(graft.Stage.mat)    // feeds the stats row and the ranked pass
    val stats = t.agg(min(col("score")).as("mn"), max(col("score")).as("mx"),
      count(lit(1)).as("n"))
    val bucketed = t.crossJoin(broadcast(stats))
      .withColumn("rb", floor(
        (col("score") - col("mn")).cast("double") * 1024 /
          (col("mx") - col("mn") + 1).cast("double")).cast("long"))
    val offsets = bucketed.groupBy(col("rb")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum(col("cnt")).over(Window.orderBy(col("rb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rb"), col("off"))
    val w = Window.partitionBy(col("rb")).orderBy(col("score"), col("doc_id"))
    bucketed.join(broadcast(offsets), Seq("rb"))
      .withColumn("rank", (col("off") + row_number().over(w)).cast("long"))
      .select(col("doc_id"), col("score"), col("rank"), col("n"))
  }

  /** Training-shard manifest: walk the corpus in the deterministic
    * [[trainingOrder]] permutation, assign each document to the shard
    * holding its FIRST token under a fixed 2048-token budget
    * (shard = running-token-offset DIV budget), and emit one manifest
    * row per shard: document count, token total, the covered
    * permutation-position range, and an order-free xor checksum of the
    * content fingerprints (what a writer job would persist next to each
    * shard file so a resumed / re-run export can prove shard equality
    * without re-reading payloads).
    *
    * The running token offset in permutation order reuses the
    * [[packOffsets]] two-phase prefix-sum discipline, but bucketed on
    * position ranges (pos is the global permutation rank, so
    * `(pos−1) DIV bucketSize` buckets are contiguous permutation
    * slices): per-bucket totals aggregate in parallel, the bucket-table
    * window is the one tiny serial step, within-bucket prefix sums run
    * PARTITIONed BY bucket. No unpartitioned window ever touches the
    * corpus; the manifest aggregate is one map-side-combined groupBy on
    * shard_id.
    */
  def shardManifest(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.fingerprint(col("text")).as("fp"))
      .join(trainingOrder(docs), Seq("doc_id"))
      .withColumn("pbucket", expr(s"(pos - 1) DIV 4096"))
    val bucketOffsets = base.groupBy(col("pbucket"))
      .agg(sum(col("n_tokens")).as("btotal"))
      .withColumn("boffset", coalesce(
        sum(col("btotal")).over(Window.orderBy(col("pbucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pbucket"), col("boffset"))
    val w = Window.partitionBy(col("pbucket")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(bucketOffsets), Seq("pbucket"))
      .withColumn("start_offset",
        col("boffset") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard_id", expr(s"start_offset DIV 2048"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"),
        expr("bit_xor(fp)").as("fp_xor"))
  }

  /** Deterministic training-order shuffle: assign every document its
    * position in a pseudo-random global permutation — the corpus
    * shuffling step before sequence packing (training wants documents in
    * hash order, not crawl order; deterministic so re-runs and resumed
    * jobs agree).
    *
    * The permutation key is the portable 60-bit hash of
    * `"shuffle:" + doc_id`; the position is the key's GLOBAL rank,
    * computed without a global sort or unpartitioned window:
    *
    *  1. range-bucket on the key's top bits (`key >> (60 − log₂ B)`) —
    *     buckets partition the KEY SPACE, so bucket order concatenated
    *     with within-bucket order IS the global order (a range-
    *     partitioned sort with fixed deterministic ranges — no sampling
    *     pass); hash keys are uniform, so buckets balance;
    *  2. within-bucket ranks are a window PARTITIONed BY bucket;
    *  3. bucket offsets are a window over the B-row bucket table
    *     (the [[packOffsets]] two-phase discipline), broadcast back.
    *
    * The oracle recomputes positions with a plain global
    * `row_number() OVER (ORDER BY key)` — equality proves the
    * decomposition is the exact global rank.
    */
  def trainingOrder(docs: DataFrame, buckets: Int = 32): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two: $buckets")
    val shift = 60 - (31 - Integer.numberOfLeadingZeros(buckets))
    val t = docs.select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("k", TextStats.portableHash64(
        concat(lit("shuffle:"), col("doc_id").cast("string"))))
      .withColumn("b", shiftrightunsigned(col("k"), shift))
    val offsets = t.groupBy(col("b")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(
        sum(col("n")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("off"))
    val w = Window.partitionBy(col("b")).orderBy(col("k"), col("doc_id"))
    t.join(broadcast(offsets), Seq("b"))
      .withColumn("pos", (col("off") + row_number().over(w)).cast("long"))
      .select(col("doc_id"), col("k").as("shuffle_key"), col("pos"))
  }
}
