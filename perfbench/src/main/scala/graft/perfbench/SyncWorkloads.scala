package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Normalize
import graft.pipeline.{Accounts, Comments, Merge, Router, Votes}
import graft.stream.Sync

/** The `sync_incremental` workload.
  *
  * Set-up seeds the sync state from a seeded history (six months of ops
  * applied as one `Sync.applyBatch` into empty state, the way a
  * `--start_block` catch-up runs). The timed unit replays a backlog of
  * small op files (30 blocks each, as the reference's
  * `max_blocks_to_fetch`, time-ordered, touching one or two months)
  * through `Sync.start` with `Trigger.AvailableNow` and
  * `maxFilesPerTrigger = 1`: a closed loop with one micro-batch per
  * file, into a fresh copy of the seeded state with a fresh checkpoint.
  * A run times at least `MinReplays` replays.
  *
  * With `--trace 1` the run also replays the backlog through
  * `tracedApply`, which calls the layers' public functions in
  * `applyBatch`'s order with a span and a materialization barrier around
  * each layer, and must leave the same state.
  */
object SyncWorkloads {

  /** Op mix of the traffic: comment / vote / account_update shares; the
    * remainder is custom_json (routed, then dropped). */
  val Mix = OpLog.Mix(comment = 0.30, vote = 0.45, accountUpdate = 0.03)
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  private val Day = 86400L

  // six months of seeded history, then a backlog of 30-block files of
  // 7.5 days each, continuing into July
  val HistoryBlocks = 300
  val HistoryOpsPerBlock = 20
  val BacklogFiles = 2
  val BlocksPerFile = 30
  val BacklogOpsPerBlock = 20
  private val BacklogSecPerBlock = 6 * 3600L

  private val SetupRepeats = 3
  private val WarmReplays = 2
  /** Timed replays per run, at least: `wall_s` is their median. */
  private val MinReplays = 5

  // ---- inputs ---------------------------------------------------------

  final case class Inputs(log: OpLog, opsDir: Path, files: Seq[Path], ops: Long)

  private def writeFile(p: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }

  /** History (one file) and the backlog files, in batch order. */
  def incrementalInputs(seed: Long, historyDir: Path, backlogDir: Path): (Inputs, Inputs) = {
    val log = new OpLog(seed, Epoch2024, 182 * Day / HistoryBlocks)
    val h = historyDir.resolve("history.json")
    writeFile(h, log.blocks(HistoryBlocks, HistoryOpsPerBlock, Mix))
    val historyOps = log.opCounts.values.sum
    // the backlog continues the same chain
    log.secPerBlock = BacklogSecPerBlock
    val files = (0 until BacklogFiles).map { i =>
      val f = backlogDir.resolve(f"ops-$i%05d.json")
      writeFile(f, log.blocks(BlocksPerFile, BacklogOpsPerBlock, Mix))
      // the file source orders new files by modification time
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
      f
    }
    (Inputs(log, historyDir, Seq(h), historyOps),
     Inputs(log, backlogDir, files, log.opCounts.values.sum - historyOps))
  }

  // ---- workloads ------------------------------------------------------

  def incremental(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val batches = new BatchListener
    spark.streams.addListener(batches)
    // set-up: generate and seed the history (repeated; the median counts)
    val prep = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val (hist, backlog) = incrementalInputs(ctx.seed, ctx.freshDir(s"hist$i"), ctx.freshDir(s"backlog$i"))
      val pristine = ctx.freshDir(s"pristine$i")
      val t1 = System.nanoTime()
      Sync.applyBatch(Router.readOps(spark, hist.files.head.toString), pristine.toString)
      val t2 = System.nanoTime()
      ((t2 - t0) / 1e9, hist.ops / ((t2 - t1) / 1e9), backlog, pristine)
    }
    val (_, _, backlog, pristine) = prep.last
    ctx.metric("backfill.ops_per_s", Stats.median(prep.map(_._2)), "1/s")
    // warm-up: replays of another seed's backlog (its posts are disjoint
    // from this seed's) into copies of the seeded state, so the JIT has
    // compiled the replay path before the timed replays
    val warm0 = System.nanoTime()
    val (_, wb) = incrementalInputs(ctx.seed + 1, ctx.freshDir("warmhist"), ctx.freshDir("warmbacklog"))
    (1 to WarmReplays).foreach { i =>
      val warmState = ctx.freshDir(s"warmstate$i")
      copyTree(pristine, warmState)
      System.err.println(f"warm-up replay $i: ${replay(ctx, wb.opsDir, warmState)}%.2f s")
    }
    batches.drain()
    val warmS = (System.nanoTime() - warm0) / 1e9
    ctx.setup(Stats.median(prep.map(_._1)), warmS)

    val records = mutable.ArrayBuffer.empty[BatchRecord]
    val units = timedUnits(ctx, MinReplays) { i =>
      val state = ctx.freshDir(s"state$i")
      copyTree(pristine, state)
      val wall = replay(ctx, backlog.opsDir, state)
      batches.awaitCount(backlog.files.length)
      val got = batches.drain()
      records ++= got
      ctx.attempted += got.length
      if (got.length != backlog.files.length)
        ctx.checkFailed(s"replay $i ran ${got.length} micro-batches, expected ${backlog.files.length}")
      System.err.println(f"replay $i: $wall%.2f s")
      Sample(wall, got.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3), state, backlog.ops)
    }
    report(ctx, units)
    def stream(keys: String*) = Stats.median(records.toSeq.map(r => keys.map(r.durations.getOrElse(_, 0L)).sum / 1e3))
    ctx.metric("stream.batches", records.length.toDouble / units.length, "count")
    ctx.metric("stream.add_batch_s", stream("addBatch"), "s")
    ctx.metric("stream.offset_commit_s", stream("walCommit", "commitOffsets"), "s")
    ctx.metric("stream.trigger_overhead_s", stream("latestOffset", "getBatch", "queryPlanning"), "s")
    val last = units.last.unit.state
    if (ctx.corrupt) corruptState(spark, last)
    check(ctx, backlog.log, last, units.map(_.unit.state))
    if (ctx.trace) traced(ctx, pristine, backlog.files, units)
  }

  /** One streaming replay of `opsDir` into `state`; returns its wall. */
  private def replay(ctx: Ctx, opsDir: Path, state: Path): Double = {
    val ckpt = ctx.freshDir(s"ckpt-${state.getFileName}")
    val t0 = System.nanoTime()
    val q = Sync.start(ctx.spark, opsDir.toString, ckpt.toString, state.toString,
      Trigger.AvailableNow(), maxFilesPerTrigger = 1)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    wall
  }

  // ---- timing and reporting -------------------------------------------

  /** One timed unit's sample: its wall, its batch latencies, the state it left
    * and the ops it applied. */
  final case class Sample(wall: Double, batchSeconds: Seq[Double], state: Path, ops: Long)
  final case class Timed(unit: Sample, engine: EngineTotals, gcMs: Long, jitMs: Long)

  /** Run at least `minUnits` units, and more until `seconds` of unit wall
    * have been measured, collecting the engine counters of each. */
  private def timedUnits(ctx: Ctx, minUnits: Int)(body: Int => Sample): Seq[Timed] = {
    val out = mutable.ArrayBuffer.empty[Timed]
    Jvm.resetHeapPeak()
    ctx.engine.resetStoragePeak()
    var measured = 0.0
    while (out.length < minUnits || measured < ctx.seconds) {
      ctx.engine.quiesce()
      val e0 = ctx.engine.snapshot(); val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
      val u = body(out.length)
      ctx.engine.quiesce()
      out += Timed(u, ctx.engine.snapshot() - e0, Jvm.gcMs - gc0, Jvm.jitMs - jit0)
      measured += u.wall
    }
    ctx.metric("peak_heap_mb", Jvm.heapPeakBytes / 1e6, "MB")
    out.toSeq
  }

  private def report(ctx: Ctx, units: Seq[Timed]): Unit = {
    val batchS = units.flatMap(_.unit.batchSeconds)
    ctx.metric("wall_s", Stats.median(units.map(_.unit.wall)), "s")
    ctx.metric("cpu_s", Stats.median(units.map(_.engine.cpuSeconds)), "s")
    ctx.metric("ops_per_s", Stats.median(units.map(t => t.unit.ops / t.unit.wall)), "1/s")
    ctx.metric("batch_p50_s", Stats.percentile(batchS, 0.5), "s")
    ctx.metric("batch_p90_s", Stats.percentile(batchS, 0.9), "s")
    ctx.metric("state_mb", Stats.median(units.map(t => Stats.treeBytes(t.unit.state) / 1e6)), "MB")
    ctx.metric("state.files", Stats.median(units.map(t => Stats.treeFiles(t.unit.state, ".parquet").toDouble)), "count")
    ctx.engineMetrics(units.map(_.engine), units.map(_.gcMs), units.map(_.jitMs))
  }

  // ---- checks ---------------------------------------------------------

  private def digests(spark: SparkSession, state: Path): Seq[String] =
    Seq("posts", "vote_sets", "accounts").map(t => Digest.of(spark.read.parquet(s"$state/$t")))

  /** Compare the final state against the generator's model, the recorded
    * posts digest of this seed, and every other unit's state. */
  private def check(ctx: Ctx, log: OpLog, state: Path, all: Seq[Path]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val posts = spark.read.parquet(s"$state/posts")
    val badKeys = posts.filter(col("post_id") =!= xxhash64(concat_ws("/", col("author"), col("permlink")))).count()
    if (badKeys > 0) ctx.checkFailed(s"$badKeys posts carry a post_id that is not their key")

    // keys and latest-wins timestamps must match the model exactly
    val got = posts.select(col("author"), col("permlink"), unix_seconds(col("timestamp")),
        col("year"), col("month")).as[(String, String, Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    val latest = got.map { case (k, v) => k -> v._1 }
    val want = log.posts.map { case (k, p) => k -> p.lastSec }.toMap
    if (latest != want) ctx.checkFailed(
      s"posts differ from the model: ${latest.size} rows vs ${want.size} expected, " +
        s"${(latest.toSet diff want.toSet).size} unexpected, ${(want.toSet diff latest.toSet).size} missing")
    // Partition routing is reported, not gated: Merge pins a post to its
    // creation month, but Sync.applyBatch hands it posts already deduped
    // by Comments.toPostDocs, so a post created and edited within one
    // batch lands in its edit month.
    val misrouted = got.count { case (k, (_, y, m)) =>
      log.posts.get(k).exists { p =>
        val t = LocalDateTime.ofEpochSecond(p.createdSec, 0, ZoneOffset.UTC)
        (t.getYear, t.getMonthValue) != ((y, m))
      }
    }
    ctx.metric("check.posts_outside_creation_month", misrouted.toDouble, "count")
    if (misrouted > 0) System.err.println(
      s"note: $misrouted of ${got.size} posts are stored outside their creation month")

    val sets = spark.read.parquet(s"$state/vote_sets").join(posts.select("post_id", "author", "permlink"), "post_id")
      .select(col("author"), col("permlink"), col("upvotes"), col("downvotes"))
      .as[(String, String, Seq[String], Seq[String])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val wantSets = log.posts.collect { case (k, p) if p.up.nonEmpty || p.down.nonEmpty =>
      k -> (p.up.toSeq, p.down.toSeq) }.toMap
    if (sets != wantSets) ctx.checkFailed(
      s"voter sets differ from the model: ${sets.size} posts vs ${wantSets.size} expected, " +
        s"${(sets.toSet diff wantSets.toSet).size} differ")

    val active = spark.read.parquet(s"$state/accounts")
      .select(col("name"), unix_seconds(col("last_active"))).as[(String, Long)].collect().toMap
    if (active != log.lastActive.toMap) ctx.checkFailed(
      s"last_active differs from the model: ${active.size} accounts vs ${log.lastActive.size} expected, " +
        s"${(active.toSet diff log.lastActive.toSet).size} differ")

    if (all.length > 1) {
      val ds = all.map(digests(spark, _)).distinct
      if (ds.length != 1) ctx.checkFailed(s"units left different states: ${ds.mkString(" / ")}")
    }
    val postsDigest = Digest.of(posts)
    ExpectedDigests.sync(ctx.dataDir, ctx.workload, ctx.seed) match {
      case Some(d) if d != postsDigest => ctx.checkFailed(s"posts digest $postsDigest != recorded $d")
      case Some(_) =>
      case None => System.err.println(s"note: no posts digest recorded for seed ${ctx.seed}; model checks only")
    }
    if (ctx.failedChecks > 0) ctx.failed = ctx.attempted
  }

  /** The deliberate corruption of `--corrupt 1`: one account's
    * last_active moves one second. */
  private def corruptState(spark: SparkSession, state: Path): Unit = {
    val acc = spark.read.parquet(s"$state/accounts")
    val first = acc.select(min(col("name"))).head().getString(0)
    val bumped = acc.withColumn("last_active",
      when(col("name") === first, col("last_active") + expr("INTERVAL 1 SECOND")).otherwise(col("last_active")))
      .transform(graft.Stage.mat)
    bumped.write.mode("overwrite").parquet(s"$state/accounts")
  }

  /** Print the posts digest of each seed (the table in
    * `expected/sync_digests.tsv`), applying the history and then each
    * backlog file with `Sync.applyBatch`. */
  def record(ctx: Ctx, seeds: Seq[Long]): Unit = seeds.foreach { seed =>
    val (h, bl) = incrementalInputs(seed, ctx.freshDir(s"rec-h$seed"), ctx.freshDir(s"rec-bl$seed"))
    val state = ctx.freshDir(s"rec-state$seed")
    (h.files ++ bl.files).foreach(f => Sync.applyBatch(Router.readOps(ctx.spark, f.toString), state.toString))
    println(s"RECORD\t${ctx.workload}\t$seed\t${Digest.of(ctx.spark.read.parquet(s"$state/posts"))}")
  }

  // ---- traced replay --------------------------------------------------

  /** Traced run: replay the backlog through `tracedApply` into a fresh
    * copy of the seeded state, check it equals the untraced state, and
    * report per-layer self times (summed over the backlog's batches).
    * `trace.overhead_s` is the traced replay's layer time minus the
    * untraced `Sync.start` replay's wall: the barriers' and spans' cost,
    * net of what the streaming path spends outside the layers (source
    * listing, offset commits, trigger planning). */
  private def traced(ctx: Ctx, pristine: Path, files: Seq[Path], untraced: Seq[Timed]): Unit = {
    val dir = ctx.freshDir("traced")
    copyTree(pristine, dir)
    ctx.engine.quiesce()
    val startMs = System.currentTimeMillis()
    ctx.tracer.span("replay") {
      files.foreach { f =>
        ctx.tracer.span("batch") {
          tracedApply(ctx.spark, Router.readOps(ctx.spark, f.toString), dir.toString, ctx.tracer,
            ctx.tracedCounts)
        }
      }
    }
    ctx.engine.quiesce()
    val spans = ctx.tracer.spans
    layerTimes(ctx, spans, ctx.engine.jobsSince(startMs)).foreach { case (k, v) => ctx.metric(k, v, "s") }
    ctx.tracedCounts.toMap.foreach { case (k, v) => ctx.metric(k, v, unitOf(k)) }
    // the layers' own time: the spans of each batch, without the row counts
    // taken between them and without the repeated key-locate scan
    val batchIds = spans.filter(_.name == "batch").map(_.id).toSet
    val layerWall = spans.filter(s => batchIds(s.parent)).map(_.seconds).sum -
      spans.filter(_.name == "merge.posts.locate").map(_.seconds).sum
    ctx.metric("trace.overhead_s", layerWall - Stats.median(untraced.map(_.unit.wall)), "s")
    if (digests(ctx.spark, dir) != digests(ctx.spark, untraced.last.unit.state))
      ctx.checkFailed("the traced replay left a different state than Sync.start")
    ctx.tracer.write(ctx.traceFile)
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ratio")) "ratio" else if (k.endsWith("_s")) "s" else "count"

  /** Span self times → layer metrics. `stage.mat_s` is the time of the
    * `Stage.mat` barriers' own jobs (identified by their call site), in
    * every layer including inside `Merge.upsertPartitioned`. */
  private def layerTimes(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRecord]): Map[String, Double] = {
    val self = ctx.tracer.selfSeconds(spans).withDefaultValue(0.0)
    Map(
      "source.read_s" -> self("source"),
      "router.s" -> self("router"),
      "comments.s" -> self("comments"),
      "merge.posts.locate_s" -> self("merge.posts.locate"),
      "merge.posts.write_s" -> math.max(0.0, self("merge.posts") - self("merge.posts.locate")),
      "votes.keep_s" -> self("votes.keep"),
      "votes.sets_s" -> self("votes.sets"),
      "votes.merge_s" -> self("votes.merge"),
      "state.vote_sets.write_s" -> self("state.vote_sets.write"),
      "accounts.activity_s" -> self("accounts.activity"),
      "accounts.merge_s" -> self("accounts.merge"),
      "state.accounts.write_s" -> self("state.accounts.write"),
      "stage.mat_s" -> Collectors.unionSeconds(jobs.filter(_.callSite.contains(" at Stage.scala"))))
  }

  /** The key-locate scan of `Merge.upsertPartitioned`, replayed on its
    * own: which (year, month) partitions the batch's keys already live
    * in (column-pruned scan, broadcast semi-join), plus the batch's own. */
  private def locatePartitions(spark: SparkSession, incoming: DataFrame, path: String): Int =
    if (!Merge.pathExists(spark, path)) 0
    else {
      val parts = Seq(col("year"), col("month"))
      spark.read.parquet(path).select(col("post_id"), col("year"), col("month"))
        .join(broadcast(incoming.select(col("post_id")).distinct()), Seq("post_id"), "left_semi")
        .select(parts: _*).unionByName(incoming.select(parts: _*)).distinct().collect().length
    }

  /** `Sync.applyBatch`'s steps, through the same public functions and in
    * the same order, with a span and a barrier around each layer. Row
    * counts for the layer metrics are taken outside the spans. */
  def tracedApply(spark: SparkSession, ops: DataFrame, stateDir: String, tr: Tracer,
                  counts: TracedCounts): Unit = {
    def bar(df: DataFrame) = df.localCheckpoint(eager = true)
    val opsM = tr.span("source")(bar(ops))
    val (comments, votes, accounts, customs) = tr.span("router")(
      (bar(Router.comments(opsM)), bar(Router.votes(opsM)), bar(Router.accountUpdates(opsM)),
       bar(Router.customJsons(opsM))))
    val nComments = comments.count()
    val nVotes = votes.count()
    counts.add("router.rows.comment", nComments)
    counts.add("router.rows.vote", nVotes)
    counts.add("router.rows.account_update", accounts.count())
    counts.add("router.rows.custom_json", customs.count())

    val newPosts = tr.span("comments")(bar(Comments.toPostDocs(comments)))
    val nNew = newPosts.count()
    counts.add("comments.rows_out", nNew)
    counts.add("comments.reply_drop", comments.filter(Normalize.isReply(col("parent_author"))).count())

    val postsPath = s"$stateDir/posts"
    val before = partitionFiles(postsPath)
    tr.span("merge.posts") {
      tr.span("merge.posts.locate")(locatePartitions(spark, newPosts, postsPath))
      Merge.upsertPartitioned(newPosts, postsPath, Seq("post_id"), "timestamp")
    }
    val after = partitionFiles(postsPath)
    val touched = after.keySet.filter(p => before.get(p) != after.get(p))
    counts.add("merge.posts.partitions_touched", touched.size)
    val rewritten = touched.toSeq.map(p => spark.read.parquet(s"$postsPath/$p").count()).sum
    counts.ratio("merge.posts.rewrite_ratio", rewritten, nNew)

    val posts = spark.read.parquet(postsPath)
    val kept = tr.span("votes.keep")(bar(Votes.existingOnly(votes, posts.select(col("post_id")))))
    counts.ratio("votes.kept_ratio", kept.count(), nVotes)
    val newSets = tr.span("votes.sets")(bar(Votes.voterSets(kept)))
    val setsPath = s"$stateDir/vote_sets"
    val setsM = tr.span("votes.merge") {
      val voteSets =
        if (Merge.pathExists(spark, setsPath)) Votes.mergeVoterSets(spark.read.parquet(setsPath), newSets)
        else newSets
      voteSets.transform(graft.Stage.mat)
    }
    tr.span("state.vote_sets.write")(setsM.write.mode("overwrite").parquet(setsPath))

    val activity = tr.span("accounts.activity")(bar(Accounts.lastActive(
      Comments.accountActivity(comments), Votes.accountActivity(votes),
      accounts.select(col("account").as("name"), col("timestamp")))))
    val accPath = s"$stateDir/accounts"
    val actM = tr.span("accounts.merge") {
      val lastActive =
        if (Merge.pathExists(spark, accPath))
          spark.read.parquet(accPath).unionByName(activity)
            .groupBy(col("name")).agg(max(col("last_active")).as("last_active"))
        else activity
      lastActive.transform(graft.Stage.mat)
    }
    tr.span("state.accounts.write")(actM.write.mode("overwrite").parquet(accPath))
  }

  /** Partition sub-path → its sorted data-file names. */
  private def partitionFiles(path: String): Map[String, Seq[String]] = {
    val root = java.nio.file.Paths.get(path)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
        .groupBy(f => root.relativize(f.getParent).toString)
        .map { case (p, fs) => p -> fs.map(_.getFileName.toString).sorted }
      finally s.close()
    }
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}

/** Row counts gathered by the traced replay, summed over its batches. */
final class TracedCounts {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val ratios = mutable.LinkedHashMap.empty[String, (Long, Long)]
  def add(k: String, v: Long): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  def ratio(k: String, num: Long, den: Long): Unit = {
    val (a, b) = ratios.getOrElse(k, (0L, 0L))
    ratios(k) = (a + num, b + den)
  }
  def toMap: Map[String, Double] =
    sums.toMap ++ ratios.map { case (k, (a, b)) => k -> (if (b == 0) 0.0 else a.toDouble / b) }
}
