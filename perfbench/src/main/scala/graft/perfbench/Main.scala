package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM with one
  * driver thread on `local[N]`.
  *
  * Usage (normally through `perfbench/run.py`):
  * {{{
  * graft.perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --run-dir <dir> --data-dir <perfbench dir> [--corrupt 1]
  * }}}
  * The last stdout line is the JSON result. `--corrupt 1` tampers with
  * the outputs after the timed region, to show that the checks catch it.
  * `--record <seeds>` prints the sync posts digests of those seeds (the
  * table kept in `expected/sync_digests.tsv`) instead of benchmarking;
  * `--oracle-sql <file>` writes the listed queries' oracle SQL as JSON
  * (the input of `oracle_digests.py`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    opt.get("oracle-sql").foreach { out =>
      Files.write(Paths.get(out), QueryWorkload.oracleJson.getBytes("UTF-8"))
      return
    }
    val workload = need("workload")
    val runDir = Paths.get(need("run-dir")).toAbsolutePath
    val dataDir = Paths.get(need("data-dir")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val runner: Ctx => Unit = workload match {
      case "sync_incremental" => SyncWorkloads.incremental
      case "query_iterative"  => QueryWorkload.run
      case other              => sys.error(s"unknown workload $other")
    }

    Files.createDirectories(runDir)
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val ctx = new Ctx(spark, engine, workload, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", opt.get("corrupt").contains("1"), runDir, dataDir)
    ctx.sessionSeconds = Jvm.uptimeMs / 1e3

    try {
      opt.get("record") match {
        case Some(seeds) => SyncWorkloads.record(ctx, seeds.split(",").map(_.toLong).toSeq)
        case None =>
          runner(ctx)
          println(ctx.resultJson)
      }
    } finally spark.stop()
  }
}

/** Everything one run shares: the session, the collectors, its options
  * and the result being built. */
final class Ctx(val spark: SparkSession, val engine: EngineListener, val workload: String,
                val seed: Long, val seconds: Double, val trace: Boolean, val corrupt: Boolean,
                val runDir: Path, val dataDir: Path) {
  var sessionSeconds = 0.0
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checkFailures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
  val tracedCounts = new TracedCounts

  /** Where the traced run writes its spans: outside the run directory,
    * which is deleted when the run ends. */
  def traceFile: Path = runDir.getParent.resolve(s"trace-$workload-$seed.jsonl")

  def failedChecks: Int = checkFailures.length

  /** A fresh, empty directory under the run directory. */
  def freshDir(name: String): Path = Files.createDirectory(runDir.resolve(name))

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** setup_s: JVM and session start, the median of the repeated input
    * preparation, and the warm-up. */
  def setup(prepS: Double, warmS: Double): Unit = {
    System.err.println(f"setup: session $sessionSeconds%.2f s, prep $prepS%.2f s, warm-up $warmS%.2f s")
    metric("setup_s", sessionSeconds + prepS + warmS, "s")
  }

  def checkFailed(what: String): Unit = {
    checkFailures += what
    System.err.println(s"CHECK FAILED: $what")
  }

  /** Record the engine counters of the timed units (medians per unit). */
  def engineMetrics(perUnit: Seq[EngineTotals], gcMs: Seq[Long], jitMs: Seq[Long]): Unit = {
    def med(f: EngineTotals => Double) = Stats.median(perUnit.map(f))
    metric("spark.jobs", med(_.jobs.toDouble), "count")
    metric("spark.stages", med(_.stages.toDouble), "count")
    metric("spark.tasks", med(_.tasks.toDouble), "count")
    metric("spark.task_cpu_s", med(_.cpuSeconds), "s")
    metric("spark.task_run_s", med(_.taskRunMs / 1e3), "s")
    metric("spark.sched_delay_s", med(_.schedDelayMs / 1e3), "s")
    metric("spark.shuffle_read_mb", med(_.shuffleReadBytes / 1e6), "MB")
    metric("spark.shuffle_write_mb", med(_.shuffleWriteBytes / 1e6), "MB")
    metric("spark.fetch_wait_s", med(_.fetchWaitMs / 1e3), "s")
    metric("spark.spill_mb", med(_.spillBytes / 1e6), "MB")
    metric("spark.peak_storage_mb", engine.storagePeakBytes / 1e6, "MB")
    metric("jvm.gc_s", Stats.median(gcMs.map(_ / 1e3)), "s")
    metric("jvm.jit_s", Stats.median(jitMs.map(_ / 1e3)), "s")
  }

  def resultJson: String = {
    val correct = checkFailures.isEmpty && failed == 0 && attempted > 0
    if (attempted > 0) metric("fail_frac", failed.toDouble / attempted, "ratio")
    metrics.foreach { case (n, (v, u)) => System.err.println(f"  $n%-34s $v%14.6f $u") }
    val body = metrics.map { case (n, (v, u)) =>
      s""""$n":{"value":${Stats.num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, `p` in [0, 1]; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Bytes under a directory tree (0 when it does not exist). */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def treeFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).count()
      finally s.close()
    }
}
