package graft.stream

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming twin of the q162/q176 exponential-smoothing recurrences
  * (`analytics/TemporalOps.scala`): Holt level+trend per key on the
  * [[StatefulTwin]] frame, carrying exactly the TWO longs of state
  * per key the batch scaladoc promises (EWMA is the β=0, b≡0 special
  * case of the same recurrence — one long of live state).
  *
  * Contract: rows are (key, seq, xm) with xm already on the
  * floor-micros grid; the recurrence consumes them in `seq` order
  * (the [[StatefulTwin]] ordering contract).
  *
  * Each batch emits the key's post-batch (n, level, trend) so a sink
  * always holds the latest smoothed state; the arithmetic is
  * token-for-token the batch fold — floor after EVERY multiplication —
  * so a drained stream equals the batch query bit-for-bit
  * (StreamingSpec parity test).
  */
object StreamingTrend {

  final case class TrendState(n: Long, l: Long, b: Long)

  def holt(ds: Dataset[(Long, Long, Long)]): Dataset[(Long, Long, Long, Long)] = {
    implicit val stEnc: Encoder[TrendState] = Encoders.product[TrendState]
    implicit val outEnc: Encoder[(Long, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    val a = 500000L; val be = 300000L
    StatefulTwin.perBatch(ds, (r: (Long, Long, Long)) => r._1,
      (r: (Long, Long, Long)) => (r._2, 0L), TrendState(0L, 0L, 0L)) {
      case (st, (_, _, x)) =>
        if (st.n == 0L) TrendState(1L, x, 0L)
        else {
          val lNew = (a * x + (1000000L - a) * (st.l + st.b)) / 1000000L
          val bNew = (be * (lNew - st.l) + (1000000L - be) * st.b) / 1000000L
          TrendState(st.n + 1L, lNew, bNew)
        }
    } { (key, st) => Iterator((key, st.n, st.l, st.b)) }
  }
}
