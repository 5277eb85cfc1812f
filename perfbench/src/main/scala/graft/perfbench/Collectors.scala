package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Engine counters summed from the public listener events. */
final case class EngineTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskCpuNs: Long = 0, taskRunMs: Long = 0, schedDelayMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, fetchWaitMs: Long = 0,
    spillBytes: Long = 0) {

  def -(o: EngineTotals): EngineTotals = EngineTotals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskCpuNs - o.taskCpuNs,
    taskRunMs - o.taskRunMs, schedDelayMs - o.schedDelayMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes)

  def cpuSeconds: Double = taskCpuNs / 1e9
}

/** A finished job: wall-clock interval (ms) and its short call site
  * ("<action> at <File>.scala:<line>"). */
final case class JobRecord(startMs: Long, endMs: Long, callSite: String)

/** One SparkListener for task, shuffle, spill, job and stage counts, job
  * intervals with their call sites, and the storage-memory high-water
  * mark (from block-update events). */
final class EngineListener extends SparkListener {
  private var totals = EngineTotals()
  private val jobStarts = mutable.HashMap.empty[Int, (Long, String)]
  private val finished = mutable.ArrayBuffer.empty[JobRecord]
  private var started = 0L
  private var ended = 0L
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    // the result stage is named after the job's short call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStarts(e.jobId) = (e.time, site)
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobStarts.remove(e.jobId).foreach { case (t0, site) => finished += JobRecord(t0, e.time, site) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals = totals.copy(stages = totals.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
      totals = totals.copy(
        tasks = totals.tasks + 1,
        taskCpuNs = totals.taskCpuNs + m.executorCpuTime,
        taskRunMs = totals.taskRunMs + m.executorRunTime,
        schedDelayMs = totals.schedDelayMs + sched,
        shuffleReadBytes = totals.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = totals.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        fetchWaitMs = totals.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = totals.spillBytes + m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
    val mem = if (b.storageLevel.isValid) b.memSize else 0L
    storageNow += mem - blockMem.getOrElse(key, 0L)
    if (mem == 0L) blockMem.remove(key) else blockMem(key) = mem
    storagePeak = math.max(storagePeak, storageNow)
  }

  def snapshot(): EngineTotals = synchronized(totals)
  def jobsSince(ms: Long): Seq[JobRecord] = synchronized(finished.filter(_.startMs >= ms).toSeq)

  /** Reset the storage high-water mark to the current storage level. */
  def resetStoragePeak(): Unit = synchronized { storagePeak = storageNow }
  def storagePeakBytes: Long = synchronized(storagePeak)

  /** Events reach listeners asynchronously: wait until every job seen to
    * start has been seen to end and the counts have stopped moving. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = (-1L, -1L)
    var stableFor = 0
    while (stableFor < 3 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val now = synchronized((started, ended))
      if (now == last && now._1 == now._2) stableFor += 1 else stableFor = 0
      last = now
    }
  }
}

/** One progress report of a streaming micro-batch. */
final case class BatchRecord(durations: Map[String, Long])

/** StreamingQueryListener that keeps every micro-batch's `durationMs`. */
final class BatchListener extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[BatchRecord]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0)
      batches += BatchRecord(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  def count: Int = synchronized(batches.length)
  def drain(): Seq[BatchRecord] = synchronized { val b = batches.toSeq; batches.clear(); b }

  /** Wait (bounded) until `n` data-carrying batches have been reported. */
  def awaitCount(n: Int): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (count < n && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** JVM-wide GC time, JIT time and heap high-water mark. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Milliseconds from JVM start to now. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
}

object Collectors {
  /** Length of the union of the job intervals, in seconds. */
  def unionSeconds(jobs: Seq[JobRecord]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    jobs.sortBy(_.startMs).foreach { j =>
      if (j.startMs > curE) { if (curE > curS) total += curE - curS; curS = j.startMs; curE = j.endMs }
      else curE = math.max(curE, j.endMs)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
