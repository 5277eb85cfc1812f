package graft.stream

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The ONE `flatMapGroupsWithState` frame every sequential-recurrence
  * streaming twin shares (VERDICT r8 ask #4 — before this, 13 twins
  * each hand-rolled the same ~70 lines): per key, buffer the
  * micro-batch, sort it by the twin's order key, left-fold the step
  * function over the rows starting from the checkpointed state,
  * persist the post-batch state, and emit. A new twin is now a
  * (key, order, init, step[, emit]) tuple — the recurrence itself —
  * not a re-transcription of the frame.
  *
  * Two emission disciplines cover the battery:
  *
  *  - [[perRow]]: every input row emits its post-update view in order
  *    (the monitor twins — CUSUM, SPRT — where the output stream IS
  *    the alarm stream);
  *  - [[perBatch]]: one emission per key per micro-batch from the
  *    post-batch state (the accumulator twins — TWAP, Holt trend,
  *    zone map, drift — where a sink holds the latest state row).
  *
  * Shared contracts, stated once instead of thirteen times:
  *
  *  - **Ordering**: within a batch the group buffer is sorted by
  *    `order` before folding (stable sort, so equal keys keep arrival
  *    order); ACROSS batches ordering is the ingestion contract every
  *    sequential-recurrence stream makes (event-time ordered feed; an
  *    out-of-order feed needs a watermark-bounded reorder buffer
  *    upstream — the sessionize machinery, not more per-key state).
  *    Order-free folds (zone map) pass a constant order.
  *  - **State**: exactly the twin's state case class, checkpointed by
  *    the engine; a restart resumes from it (StreamingSpec restart
  *    tests). `GroupStateTimeout.NoTimeout` — monitoring state is
  *    indefinite by design. The bucket twins (StatefulDedup,
  *    StreamingNearDup/MediaNearDup) keep their own frames because
  *    first-seen and member-pair emission against a live set don't
  *    fit a left-fold, as do the buffer-merge twins (HeavyHitters'
  *    decrement-all over a live map, PrioritySample's top-n merge).
  *  - **Empty batches**: `flatMapGroupsWithState` with NoTimeout only
  *    invokes the function for keys present in the batch; the guard
  *    here is defensive and leaves state untouched.
  *
  * At scale this is the S5 shape: state is per-key O(1) (or
  * domain-bounded), keys shard across executors by groupByKey hash,
  * and each micro-batch does one shuffle on the key — the harness
  * adds no stage, no extra shuffle, and no driver state.
  */
object StatefulTwin {

  /** Ordered per-key fold, one output row PER INPUT ROW (post-update
    * view), emitted in fold order. `step` consumes the current state
    * and one row, returns the new state and that row's emission.
    */
  def perRow[R, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[R], key: R => K, order: R => (Long, Long), init: S)(
      step: (S, R) => (S, O)): Dataset[O] =
    frame(ds, key, order) { (st0: S, xs: Seq[R]) =>
      var st = st0
      val out = xs.map { r =>
        val (st1, o) = step(st, r); st = st1; o
      }
      (st, out.iterator)
    }(init)

  /** Ordered per-key fold, ONE emission per key per micro-batch from
    * the post-batch state (`emit` may still expand to several rows —
    * e.g. a candidate table).
    */
  def perBatch[R, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[R], key: R => K, order: R => (Long, Long), init: S)(
      step: (S, R) => S)(emit: (K, S) => IterableOnce[O]): Dataset[O] =
    frameK(ds, key, order) { (k: K, st0: S, xs: Seq[R]) =>
      var st = st0
      xs.foreach { r => st = step(st, r) }
      (st, emit(k, st).iterator)
    }(init)

  private def frame[R, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[R], key: R => K, order: R => (Long, Long))(
      run: (S, Seq[R]) => (S, Iterator[O]))(init: S): Dataset[O] =
    frameK(ds, key, order)((_: K, st: S, xs: Seq[R]) => run(st, xs))(init)

  private def frameK[R, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[R], key: R => K, order: R => (Long, Long))(
      run: (K, S, Seq[R]) => (S, Iterator[O]))(init: S): Dataset[O] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: K, rows: Iterator[R], state: GroupState[S]) =>
          // Vector, not Array: R is unbounded here (no ClassTag), and
          // Seq's stable sortBy preserves arrival order on order ties
          val xs = rows.toVector.sortBy(order)
          if (xs.isEmpty) Iterator.empty
          else {
            val (st, out) = run(k, state.getOption.getOrElse(init), xs)
            state.update(st)
            out
          }
      }
}
