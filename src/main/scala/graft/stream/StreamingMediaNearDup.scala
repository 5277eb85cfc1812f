package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.multimodal.Multimodal

/** Streaming perceptual-media near-duplicate detection — the live-ingest
  * twin of [[Multimodal.imagePhashNearDups]] /
  * [[Multimodal.audioFingerprintNearDups]], built exactly like
  * [[StreamingNearDup]] is for text MinHash: the fingerprint stage
  * (decode → 64-bit aHash / energy-contour hash) is the SAME stateless
  * mapPartitions projection the batch operator uses, the band keys come
  * from the SAME [[Multimodal.hammingBandKeys]] expression the batch
  * join explodes, and each (band, band-value) bucket keeps its member
  * (id, hash) list as keyed stream state. A new arrival is verified
  * with exact `bitCount(xor)` against its bucket-mates only — per-bucket
  * work, identical to how the batch plan shuffles per bucket; no
  * cross-corpus comparison ever happens. By the pigeonhole argument on
  * disjoint bands, any pair within `maxHamming` shares at least one
  * bucket, so the emitted pair SET equals the batch join's.
  *
  * Emission is at-least-once per qualifying pair (a pair agreeing on m
  * bands emits up to m times; parity is on the SET): route through the
  * keyed exactly-once sink ([[graft.pipeline.Merge]]) for effect-once
  * delivery, the sync-pipeline discipline. This is where media dedup runs in production:
  * the copy is worthless the moment it lands, not at the nightly batch.
  */
object StreamingMediaNearDup {

  // id -> hash. A Map, not a Seq: a skewed band value (bv=0 for dark
  // images / silent audio is a real perceptual-hash hot key) can
  // accumulate thousands of members, and the per-arrival duplicate
  // check must stay O(1) instead of an O(m) scan + full-Seq copy
  // (r7 review). The pair-verification loop is O(m) by design.
  final case class HBucket(members: Map[Long, Long])

  /** Band-bucketed streaming Hamming self-join over a (possibly
    * streaming) (id, h) 64-bit-hash table — the stateful core shared by
    * [[phashPairs]] and [[audioPairs]]. Output rows are
    * (id_a, id_b, hamming) with id_a < id_b.
    */
  def hammingPairs(hashed: DataFrame, maxHamming: Int = 5): Dataset[(Long, Long, Int)] = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val keyed = hashed
      .select(col("id"), col("h"))
      .withColumn("bk", explode(Multimodal.hammingBandKeys(col("h"), maxHamming)))
      .select(concat_ws(":", col("bk.band"), col("bk.bv")).as("bucket"),
        col("id"), col("h"))
      .as[(String, Long, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[HBucket, (Long, Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, Long)], state: GroupState[HBucket]) =>
          var members = state.getOption.map(_.members).getOrElse(Map.empty[Long, Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          rows.foreach { case (_, id, h) =>
            if (!members.contains(id)) {
              members.foreach { case (oid, oh) =>
                val d = java.lang.Long.bitCount(h ^ oh)
                if (d <= maxHamming)
                  out += ((math.min(id, oid), math.max(id, oid), d))
              }
              members = members + (id -> h)
            }
          }
          state.update(HBucket(members))
          out.iterator
      }
  }

  /** Streaming image near-dup pairs: the batch [[Multimodal.imagePhash]]
    * decode stage (stateless, streaming-safe) into [[hammingPairs]].
    * Input must carry (media_id, media_type, payload).
    */
  def phashPairs(media: DataFrame, maxHamming: Int = 5): Dataset[(Long, Long, Int)] =
    hammingPairs(
      Multimodal.imagePhash(media).filter(col("phash").isNotNull)
        .select(col("media_id").as("id"), col("phash").as("h")),
      maxHamming)

  /** Streaming audio near-dup pairs: the batch
    * [[Multimodal.audioFingerprint]] decode stage into [[hammingPairs]].
    */
  def audioPairs(media: DataFrame): Dataset[(Long, Long, Int)] =
    hammingPairs(
      Multimodal.audioFingerprint(media).filter(col("afp").isNotNull)
        .select(col("media_id").as("id"), col("afp").as("h")))
}
