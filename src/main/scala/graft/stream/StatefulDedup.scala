package graft.stream

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via `flatMapGroupsWithState` (SURVEY.md §2.9
  * S5's alternative path — the engine's sync keeps state in the sink,
  * mirroring the reference, but the capability row for arbitrary keyed
  * state is exercised here): exactly-once keyed dedup across
  * micro-batches.
  *
  * Emits each (key, token) pair the first time it is seen; duplicates
  * within and across batches are suppressed. This is the streaming form of the vote-set "append iff
  * absent" guard (reference handlers/votes.js:14) with process-side
  * instead of sink-side state.
  */
object StatefulDedup {

  final case class Seen(tokens: Set[String])

  def firstSeenOnly[K: Encoder](ds: Dataset[(K, String)]): Dataset[(K, String)] = {
    implicit val tupleEnc: Encoder[(K, String)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.STRING)
    implicit val seenEnc: Encoder[Seen] = Encoders.product[Seen]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Seen, (K, String)](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(K, String)], state: GroupState[Seen]) =>
          val seen = state.getOption.getOrElse(Seen(Set.empty))
          val fresh = scala.collection.mutable.ArrayBuffer.empty[(K, String)]
          var acc = seen.tokens
          rows.foreach { case (_, tok) =>
            if (!acc.contains(tok)) { acc += tok; fresh += ((key, tok)) }
          }
          state.update(Seen(acc))
          fresh.iterator
      }
  }
}
