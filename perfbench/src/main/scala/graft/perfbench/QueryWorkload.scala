package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `query_iterative` workload: passes over a fixed, ordered list of
  * iterative and memo-backed queries on the read-only sf0.01 fixture
  * shipped in `perfbench/fixtures/`. The seed does not apply: the inputs
  * are the fixture.
  *
  * Every pass reads its own copy of the fixture, so the per-directory
  * memos (edge tables, k-means fits, IVF centroids, PQ codebooks, table
  * loads) are built afresh in each pass and always by the same query:
  * a pass measures what one session pays for the list. No warm-up pass
  * runs, so the timed pass is cold: it includes the JIT and whole-stage
  * codegen compiles of a fresh session. Each query is
  * built (the `SparkEntry.queries` call, with any eager sub-jobs) and
  * then executed to its full-row digest, which is checked against the
  * digest of its DuckDB oracle SQL.
  */
object QueryWorkload {

  val Fixture = "sf0.01"

  /** (family, query) in run order. */
  val Queries: Seq[(String, String)] = Seq(
    "graph" -> "q117_pagerank",
    "graph" -> "q138_kcore",
    "graph" -> "q330_harmonic_3hop",
    "kmeans" -> "q64_kmeans",
    "kmeans" -> "q225_semantic_dedup",
    "other_iter" -> "q45_ivf_ann")

  val Families: Seq[String] = Queries.map(_._1).distinct

  final case class Exec(family: String, name: String, buildS: Double, execS: Double)
  final case class Pass(wall: Double, execs: Seq[Exec], memoBytes: Long, engine: EngineTotals,
                        gcMs: Long, jitMs: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val fixture = ctx.dataDir.resolve("fixtures").resolve(Fixture)
    val expected = ExpectedDigests.queries(ctx.dataDir, Fixture)
    require(Files.isDirectory(fixture), s"missing fixture $fixture")
    Queries.foreach { case (_, q) => require(expected.contains(q), s"no recorded oracle digest for $q") }
    val entry = graft.SparkEntry.queries
    val warehouse = ctx.runDir.resolve("warehouse")

    // set-up: stage a fixture copy (repeated; the median counts); no
    // warm-up pass, so the timed pass runs cold
    var copies = 0
    def stage(): Path = { copies += 1; copyFixture(fixture, ctx.freshDir(s"fixture$copies")) }
    val stageS = (1 to 3).map { _ => val t0 = System.nanoTime(); stage(); (System.nanoTime() - t0) / 1e9 }
    ctx.setup(Stats.median(stageS), 0.0)

    Jvm.resetHeapPeak()
    ctx.engine.resetStoragePeak()
    val passes = mutable.ArrayBuffer.empty[Pass]
    var measured = 0.0
    while (passes.isEmpty || measured < ctx.seconds) {
      val p = runPass(ctx, entry, stage(), expected, warehouse, None)
      passes += p
      measured += p.wall
    }
    ctx.metric("peak_heap_mb", Jvm.heapPeakBytes / 1e6, "MB")
    val execs = passes.flatMap(_.execs).toSeq
    ctx.metric("wall_s", Stats.median(passes.map(_.wall).toSeq), "s")
    ctx.metric("cpu_s", Stats.median(passes.map(_.engine.cpuSeconds).toSeq), "s")
    ctx.metric("ops_per_s", Stats.median(passes.map(p => p.execs.length / p.wall).toSeq), "1/s")
    // a query (build and execution) is this workload's batch
    val queryS = execs.map(e => e.buildS + e.execS)
    ctx.metric("batch_p50_s", Stats.percentile(queryS, 0.5), "s")
    ctx.metric("batch_p90_s", Stats.percentile(queryS, 0.9), "s")
    ctx.metric("state_mb", Stats.median(passes.map(_.memoBytes / 1e6).toSeq), "MB")
    ctx.engineMetrics(passes.map(_.engine).toSeq, passes.map(_.gcMs).toSeq, passes.map(_.jitMs).toSeq)
    Queries.foreach { case (_, q) =>
      ctx.metric(s"query.$q.exec_s", Stats.median(execs.filter(_.name == q).map(_.execS)), "s")
    }
    Families.foreach { f =>
      ctx.metric(s"family.$f.build_s",
        Stats.median(passes.map(_.execs.filter(_.family == f).map(_.buildS).sum).toSeq), "s")
    }

    if (ctx.trace) {
      // the timed pass ran cold, so compare a traced pass with an untraced
      // one that runs just before it, equally warm
      val untraced = runPass(ctx, entry, stage(), expected, warehouse, None).wall
      val traced = ctx.tracer.span("pass")(runPass(ctx, entry, stage(), expected, warehouse, Some(ctx.tracer))).wall
      ctx.metric("trace.overhead_s", traced - untraced, "s")
      ctx.tracer.write(ctx.traceFile)
    }
  }

  /** One pass over the list on the fixture copy `dir`. */
  private def runPass(ctx: Ctx, entry: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame],
                      dir: Path, expected: Map[String, String], warehouse: Path,
                      tracer: Option[Tracer]): Pass = {
    val spark = ctx.spark
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    ctx.engine.quiesce()
    val e0 = ctx.engine.snapshot(); val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    val memo0 = Stats.treeBytes(warehouse)
    val execs = Queries.map { case (family, q) =>
      ctx.attempted += 1
      try {
        span(s"family.$family") {
          val t0 = System.nanoTime()
          val df = span(s"build.$q")(entry(q)(spark, dir.toString))
          val t1 = System.nanoTime()
          val digest = span(s"exec.$q")(Digest.of(if (ctx.corrupt) df.limit(1) else df))
          val t2 = System.nanoTime()
          if (digest != expected(q)) {
            ctx.failed += 1
            ctx.checkFailed(s"$q digest $digest != oracle ${expected(q)}")
          }
          Exec(family, q, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
      } catch {
        case e: Exception =>
          ctx.failed += 1
          ctx.checkFailed(s"$q failed: $e")
          Exec(family, q, 0.0, 0.0)
      } finally {
        // release persistent blocks between queries, as the repo bench does
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    val wall = execs.map(e => e.buildS + e.execS).sum
    System.err.println(f"pass: $wall%.2f s; " + execs.map(e => f"${e.name} ${e.buildS}%.2f+${e.execS}%.2f").mkString(", "))
    ctx.engine.quiesce()
    Pass(wall, execs, Stats.treeBytes(warehouse) - memo0, ctx.engine.snapshot() - e0,
      Jvm.gcMs - gc0, Jvm.jitMs - jit0)
  }

  private def copyFixture(from: Path, to: Path): Path = {
    val s = Files.list(from)
    try s.iterator().asScala.foreach(p => SyncWorkloads.copyTree(p, to.resolve(p.getFileName.toString)))
    finally s.close()
    to
  }

  /** The oracle SQL of the listed queries, as a JSON object. */
  def oracleJson: String = {
    val sql = graft.SparkEntry.oracleSql
    Queries.map { case (_, q) => s"${OpLog.str(q)}:${OpLog.str(sql(q))}" }.mkString("{", ",", "}")
  }
}
