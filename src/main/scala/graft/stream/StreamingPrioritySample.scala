package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the q100 weighted priority sample
  * (`analytics/Sampling.prioritySample`): the SAME deterministic
  * Efraimidis–Spirakis clocks (portable-hash uniform grid, round-9
  * snap), maintained continuously over an unbounded ingest as bounded
  * per-bucket top-n buffers via `flatMapGroupsWithState` — a LIVE
  * corpus sample a training-data pipeline reads at any moment without
  * rescanning history.
  *
  * Exactness: keys hash into `nBuckets` disjoint buckets, each keeping
  * its n smallest (clock, id) pairs. Top-n is EXACTLY mergeable
  * (the global n smallest of a union are among the per-bucket n
  * smallest), and the clocks are pure functions of (id, w) — so the
  * union of final buffers, cut to the global top n, equals the batch
  * operator on the same rows REGARDLESS of arrival order or batch
  * boundaries. StreamingSpec pins that equality across batch
  * boundaries AND a checkpoint restart.
  *
  * Each batch emits the bucket's post-batch buffer tagged with the
  * bucket's monotone rows-seen counter (bucket, seen, id, w, clock_r);
  * readers take each bucket's max-seen rows as the current sample.
  * Per-key state is ≤ n (id, w, clock) triples — constant.
  */
object StreamingPrioritySample {

  final case class TopBuf(seen: Long, ids: Array[Long], ws: Array[Long],
                          clocks: Array[Double])

  def sample(rows: DataFrame, n: Int = 100, nBuckets: Int = 8)
      : Dataset[(Long, Long, Long, Long, Double)] = {
    require(n >= 1 && n <= 4096, s"n=$n outside [1, 4096]: n triples per bucket ARE the state")
    require(nBuckets >= 1 && nBuckets <= 65536, s"nBuckets=$nBuckets outside [1, 65536]")
    val spark = rows.sparkSession
    import spark.implicits._
    implicit val stEnc: Encoder[TopBuf] = Encoders.product[TopBuf]
    val u = (graft.analytics.Sampling.hashBucketN(col("doc_id"), "prio")
      .cast("double") + 0.5) / 1000000.0
    val keyed = rows
      .filter(col("doc_id").isNotNull && col("w") > 0)
      .select(pmod(xxhash64(col("doc_id")), lit(nBuckets.toLong)).as("bucket"),
        col("doc_id").cast("long").as("id"), col("w").cast("long").as("w"),
        round(-log(u) / col("w").cast("double"), 9).as("clock_r"))
      .as[(Long, Long, Long, Double)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[TopBuf, (Long, Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket: Long, it: Iterator[(Long, Long, Long, Double)],
         state: GroupState[TopBuf]) =>
          val st = state.getOption.getOrElse(TopBuf(0L, Array.empty, Array.empty, Array.empty))
          val incoming = it.toArray
          val merged = (st.ids.indices.map(i => (st.clocks(i), st.ids(i), st.ws(i))) ++
            incoming.map { case (_, id, w, c) => (c, id, w) })
            .distinct // a re-sent id carries the identical deterministic triple
            .sortBy { case (c, id, _) => (c, id) }
            .take(n)
          val seen = st.seen + incoming.length
          state.update(TopBuf(seen,
            merged.map(_._2).toArray, merged.map(_._3).toArray,
            merged.map(_._1).toArray))
          merged.iterator.map { case (c, id, w) => (bucket, seen, id, w, c) }
      }
  }
}
