package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReferenceArray}

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization barrier for intermediates that feed multiple
  * consumers or iterative rounds (shingle tables, label-propagation
  * frontiers, packing spines): compute once, truncate lineage, reuse.
  *
  * Which barrier depends on the deployment:
  *
  *  - With a RELIABLE checkpoint dir configured
  *    (`sparkContext.setCheckpointDir` — HDFS/S3 on a real cluster),
  *    use `checkpoint`: blocks live in the shared filesystem and
  *    survive executor loss, the property that matters on a
  *    1000-executor run where preemption/decommission is routine. A
  *    `localCheckpoint` there is a correctness-of-availability bug:
  *    its blocks die with their executor AND the lineage needed to
  *    recompute them was severed — the job fails instead of recovering.
  *  - Without one (zero-config local/dev, single-JVM `local[n]` where
  *    executor loss means the whole JVM died anyway), use
  *    `localCheckpoint`: same lineage truncation, no filesystem
  *    round-trip.
  *
  * Both are eager, so the common pattern — materialize once, feed the
  * df count AND the score join — pays the upstream computation exactly
  * once either way.
  */
object Stage {
  /** Plan-audit hook (PlanSpec's suite-wide window gate). A barrier
    * truncates lineage, which HIDES every upstream operator from a
    * whole-plan audit of the final DataFrame — round 10's stale-
    * allowlist trap: four allowlisted unpartitioned windows had slid
    * inside mat'd stages and their bounds were silently unexercised.
    * When set, every mat barrier first hands the recorder its input's
    * optimized plan, so the gate audits staged subtrees too. Test-only;
    * never set in production paths.
    */
  @volatile private[graft] var recorder:
    Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Unit] = None

  def mat(df: DataFrame): DataFrame = {
    recorder.foreach(_(df.queryExecution.optimizedPlan))
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
  }

  private val fanOutIds = new AtomicLong

  /** Threads per fan-out: two or three jobs in flight fill each other's
    * barrier tails without queueing behind one another. */
  private val MaxThreads = 3

  /** How long a failed fan-out keeps cancelling its tag while the other
    * branches wind down, before it rethrows regardless. */
  private val CancelGrace = 30.seconds

  /** Driver-thread fan-out of independent branches, so that one branch's
    * small jobs back-fill another's barrier tails. Each call
    * starts at most `MaxThreads` threads of its own, which take the
    * branches in order, and returns the results in branch order.
    *
    * Every job a branch submits carries a per-call job TAG
    * (`SparkContext.addJobTag`), not a job group: the threads inherit
    * the caller's local properties, so a group the caller runs under
    * (a streaming query's, which `query.stop()` cancels) still covers
    * them, and a nested fan-out's jobs carry the outer tag too. On the
    * first failure, when `timeout` passes, or when the calling thread is
    * interrupted (`query.stop()` interrupts a streaming query's thread),
    * no queued branch starts, the running ones have their jobs cancelled
    * by tag until their threads exit, and the first failure is rethrown;
    * after an interrupt the caller's interrupt flag is set again.
    */
  def concurrently[T](spark: SparkSession, name: String,
                      timeout: Duration = Duration.Inf)(branches: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-$name-${fanOutIds.incrementAndGet()}"
    val results = new AtomicReferenceArray[Any](branches.size)
    val next = new AtomicInteger(0)
    val done = new LinkedBlockingQueue[Option[Throwable]]()
    val threads = Seq.tabulate(math.min(MaxThreads, branches.size)) { i =>
      val t = new Thread(() => {
        sc.addJobTag(tag)
        var j = next.getAndIncrement()
        while (j < branches.size) {
          done.put(try { results.set(j, branches(j)()); None } catch { case e: Throwable => Some(e) })
          j = next.getAndIncrement()
        }
      }, s"$tag-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    val deadline = if (timeout.isFinite) System.nanoTime() + timeout.toNanos else Long.MaxValue
    var failure: Option[Throwable] = None
    var interrupted = false
    var finished = 0
    while (failure.isEmpty && finished < branches.size) {
      try {
        val ev = if (timeout.isFinite) done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
                 else done.take()
        if (ev == null) failure = Some(new TimeoutException(s"$tag: branches not done after $timeout"))
        else { finished += 1; failure = ev }
      } catch { case e: InterruptedException => interrupted = true; failure = Some(e) }
    }
    failure.foreach { e =>
      next.set(branches.size)
      val giveUp = System.nanoTime() + CancelGrace.toNanos
      while (threads.exists(_.isAlive) && System.nanoTime() < giveUp) {
        sc.cancelJobsWithTag(tag)
        threads.foreach { t =>
          try t.join(50) catch { case _: InterruptedException => interrupted = true }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      throw e
    }
    Seq.tabulate(branches.size)(i => results.get(i).asInstanceOf[T])
  }

  /** Scan-parallelism guard (guide §2.5: "input skew — one huge
    * unsplittable file … repartition immediately after the read"): when
    * a scan arrives in fewer partitions than the session's parallelism
    * AND the per-row work downstream is the query's whole CPU bill
    * (tokenize/explode/multi-distinct), one task does all of it while
    * the other cores idle. Round-robin the rows out first. At real
    * scale a corpus scan has thousands of splits, the guard is false,
    * and the plan is untouched — nothing here is tuned to local mode.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}
