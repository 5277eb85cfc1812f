package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.text.Dedup

/** Streaming MinHash near-duplicate detection — the live-ingest twin of
  * [[graft.text.Dedup.minhashNearDups]]: as documents arrive, each is
  * shingled, signed, and banded by the SAME native expressions the batch
  * operator uses (stateless projections), then every LSH band bucket
  * keeps its member list as keyed stream state; a new arrival is
  * verified with exact Jaccard against its bucket-mates only, so the
  * stream does per-bucket work exactly like the batch plan shuffles
  * per-bucket — no cross-corpus comparison ever happens.
  *
  * Emission is at-least-once per qualifying pair (a pair sharing m
  * bands emits up to m times; the parity contract is on the SET of
  * pairs): route the output through the keyed exactly-once sink
  * ([[graft.pipeline.Merge]]) for effect-once delivery, the same
  * discipline the sync pipeline uses.
  */
object StreamingNearDup {

  // id -> shingle hashes. A Map, not a Seq: a hot band bucket (boiler-
  // plate-heavy corpora collapse many docs into one band value) must
  // keep the per-arrival duplicate check O(1) rather than an O(m) scan
  // plus full-Seq copy; the candidate-verification loop is O(m) by
  // design (r7 review, same fix as StreamingMediaNearDup).
  final case class Bucket(members: Map[Long, Array[Long]])

  /** Shingle size, signature and bands MATCH the defaults of
    * [[graft.text.Dedup.minhashNearDups]] exactly (3-shingles, 16 hashes
    * / 4 bands) — the batch-parity contract is only meaningful at
    * identical parameters, and a diverging band count would emit
    * different candidate sets at the same call shape (review finding
    * r6b). The id column must already be LongType
    * (like the batch twin, which never casts): an implicit cast would
    * fail loudly under ANSI or null out ids without it.
    */
  def nearDupPairs(docs: DataFrame): Dataset[(Long, Long, Double)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(col("doc_id").as("id"),
        Dedup.shingleHashes(col("text"), 3).as("sh"))
      .withColumn("bk", explode(
        Dedup.bandKeys(Dedup.minhashSignature(col("sh"), 16), 16, 4)))
      .select(concat_ws(":", col("bk.band"), col("bk.bh")).as("bucket"),
        col("id"), col("sh"))
      .as[(String, Long, Array[Long])]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Bucket, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, Array[Long])], state: GroupState[Bucket]) =>
          var members = state.getOption.map(_.members).getOrElse(Map.empty[Long, Array[Long]])
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          rows.foreach { case (_, id, sh) =>
            if (!members.contains(id)) {
              val set = sh.toSet
              members.foreach { case (oid, osh) =>
                val inter = osh.count(set.contains).toDouble
                val union = (set.size + osh.length - inter).max(1.0)
                val j = inter / union
                if (j >= 0.8)
                  out += ((math.min(id, oid), math.max(id, oid), j))
              }
              members = members + (id -> sh)
            }
          }
          state.update(Bucket(members))
          out.iterator
      }
  }
}
