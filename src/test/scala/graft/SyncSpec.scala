package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.pipeline.{Accounts, Comments, Merge, Router, Votes}
import graft.stream.Sync

/** `Sync.applyBatch` (concurrent handler sinks over one shared key-locate
  * scan) against the sequential composition of the same public
  * functions, its state-read schemas, and its failure path: a failed
  * handler cancels its siblings' jobs and the replayed batch converges,
  * and so does a `query.stop()` during the merge fan-out. A second
  * `Sync.start` in the same JVM reuses the first one's generated
  * classes.
  */
class SyncSpec extends SparkSpec {

  private def opLine(block: Long, ts: String, tpe: String, payloadJson: String): String = {
    val quoted = payloadJson.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"block_num":$block,"timestamp":"$ts","op_type":"$tpe","payload":"$quoted"}"""
  }

  private def comment(author: String, permlink: String, title: String,
                      parentAuthor: String = ""): String =
    s"""{"author":"$author","permlink":"$permlink","parent_author":"$parentAuthor",""" +
      s""""parent_permlink":"general","title":"$title","body":"b #tag","json_metadata":"{}"}"""

  private def vote(voter: String, author: String, permlink: String, weight: Int): String =
    s"""{"voter":"$voter","author":"$author","permlink":"$permlink","weight":$weight}"""

  private def accountUpdate(account: String): String =
    s"""{"account":"$account","json_metadata":"{}"}"""

  /** Three op files, one micro-batch each. Batch 2 holds a vote on a post
    * created in that batch (kept), votes on posts that never exist
    * (dropped), a cross-month edit of a January post and an
    * account_update; batch 3 a reply (no post, but account activity). */
  private val batches: Seq[Seq[String]] = Seq(
    Seq(
      opLine(1, "2024-01-05T00:00:00", "comment", comment("alice", "p1", "v1")),
      opLine(1, "2024-01-06T00:00:00", "comment", comment("bob", "p2", "hello")),
      opLine(2, "2024-01-07T00:00:00", "vote", vote("carol", "alice", "p1", 100)),
      opLine(2, "2024-01-07T00:01:00", "account_update", accountUpdate("carol"))),
    Seq(
      opLine(3, "2024-02-01T00:00:00", "comment", comment("dave", "p3", "new")),
      opLine(3, "2024-02-01T00:05:00", "vote", vote("erin", "dave", "p3", 100)),
      opLine(3, "2024-02-01T00:06:00", "vote", vote("frank", "dave", "p3", -50)),
      opLine(4, "2024-03-02T00:00:00", "comment", comment("alice", "p1", "v2")),
      opLine(4, "2024-03-02T00:01:00", "vote", vote("erin", "ghost", "nope", 10)),
      opLine(4, "2024-03-02T00:02:00", "vote", vote("carol", "nobody", "never", 0)),
      opLine(4, "2024-03-02T00:03:00", "vote", vote("gina", "bob", "p2", 100)),
      opLine(4, "2024-03-02T00:04:00", "account_update", accountUpdate("dave"))),
    Seq(
      opLine(5, "2024-03-10T00:00:00", "comment", comment("hank", "r1", "re", parentAuthor = "alice")),
      opLine(5, "2024-03-10T00:01:00", "vote", vote("hank", "alice", "p1", 100)),
      opLine(5, "2024-03-10T00:02:00", "vote", vote("gina", "ghost", "nope", -1))))

  private def opsDir(): Path = {
    val dir = Files.createTempDirectory("graft-sync-ops")
    batches.zipWithIndex.foreach { case (lines, i) =>
      val f = dir.resolve(f"ops-$i%02d.json")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      // the file source orders files by modification time
      Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    dir
  }

  private def files(dir: Path): Seq[String] =
    (0 until batches.length).map(i => dir.resolve(f"ops-$i%02d.json").toString)

  private def newState(): String = Files.createTempDirectory("graft-sync-state").toString + "/state"

  /** The sequential composition: posts merge first, then votes checked
    * against the re-read post state, then accounts. */
  private def sequentialApply(ops: DataFrame, stateDir: String): Unit = {
    val comments = Router.comments(ops)
    val votes = Router.votes(ops)
    val accounts = Router.accountUpdates(ops)
    Merge.upsertPartitioned(Comments.toPostDocs(comments), s"$stateDir/posts", Seq("post_id"), "timestamp")
    val posts = spark.read.parquet(s"$stateDir/posts")
    val newSets = Votes.voterSets(Votes.existingOnly(votes, posts.select(col("post_id"))))
    val sets = Merge.readState(spark, s"$stateDir/vote_sets")
      .fold(newSets)(Votes.mergeVoterSets(_, newSets)).transform(Stage.mat)
    val activity = Accounts.lastActive(
      Comments.accountActivity(comments), Votes.accountActivity(votes),
      accounts.select(col("account").as("name"), col("timestamp")))
    val lastActive = Merge.readState(spark, s"$stateDir/accounts")
      .fold(activity)(_.unionByName(activity)
        .groupBy(col("name")).agg(max(col("last_active")).as("last_active")))
      .transform(Stage.mat)
    sets.write.mode("overwrite").parquet(s"$stateDir/vote_sets")
    lastActive.write.mode("overwrite").parquet(s"$stateDir/accounts")
  }

  private val tables = Seq("posts" -> "post_id", "vote_sets" -> "post_id", "accounts" -> "name")

  private def snapshot(stateDir: String): Map[String, Seq[Row]] =
    tables.map { case (t, key) =>
      t -> spark.read.parquet(s"$stateDir/$t").orderBy(col(key)).collect().toSeq
    }.toMap

  test("applyBatch leaves the same state as the sequential composition, batch by batch") {
    val dir = opsDir()
    val concurrent = newState()
    val sequential = newState()
    files(dir).zipWithIndex.foreach { case (f, i) =>
      Sync.applyBatch(Router.readOps(spark, f), concurrent)
      sequentialApply(Router.readOps(spark, f), sequential)
      assert(snapshot(concurrent) === snapshot(sequential), s"state differs after batch $i")
    }
    import spark.implicits._
    val sets = spark.read.parquet(s"$concurrent/vote_sets")
      .join(spark.read.parquet(s"$concurrent/posts"), "post_id")
      .select(col("author"), col("permlink"), col("upvotes"), col("downvotes"))
      .as[(String, String, Seq[String], Seq[String])].collect().map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // the same-batch post keeps its votes; the ghost votes are gone
    assert(sets === Map(
      ("alice", "p1") -> ((Seq("carol", "hank"), Seq.empty[String])),
      ("bob", "p2") -> ((Seq("gina"), Seq.empty[String])),
      ("dave", "p3") -> ((Seq("erin"), Seq("frank")))))
    assert(spark.read.parquet(s"$concurrent/vote_sets").count() === 3)
    // the cross-month edit won, in the post's January partition
    val alice = spark.read.parquet(s"$concurrent/posts").filter(col("author") === "alice")
      .select(col("text_title"), col("month")).as[(String, Int)].collect().toSeq
    assert(alice === Seq(("v2", 1)))
    val active = spark.read.parquet(s"$concurrent/accounts").select(col("name")).as[String].collect().toSet
    assert(active === Set("alice", "bob", "carol", "dave", "erin", "frank", "gina", "hank"))
  }

  /** A type with every nullability flag set, as a Parquet read reports it. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  test("each state table's inferred on-disk schema is the schema applyBatch reads it with") {
    val dir = opsDir()
    val state = newState()
    files(dir).foreach(f => Sync.applyBatch(Router.readOps(spark, f), state))
    // the frames applyBatch merges into each table, whose schemas it
    // passes to the state reads
    val ops = Router.readOps(spark, files(dir).head)
    val comments = Router.comments(ops)
    val votes = Router.votes(ops)
    val passed = Map(
      "posts" -> Comments.toPostDocs(comments).schema,
      "vote_sets" -> Votes.voterSets(Votes.keyed(votes)).schema,
      "accounts" -> Accounts.lastActive(
        Comments.accountActivity(comments), Votes.accountActivity(votes),
        Router.accountUpdates(ops).select(col("account").as("name"), col("timestamp"))).schema)
    passed.foreach { case (t, schema) =>
      val inferred = spark.read.parquet(s"$state/$t").schema
      assert(inferred === nullable(schema), s"$t: on-disk schema differs from the passed one")
      assert(spark.read.schema(schema).parquet(s"$state/$t").schema === inferred, t)
    }
  }

  test("a second Sync.start compiles no generated class and leaves the same state") {
    val dir = opsDir()
    def run(): String = {
      val state = newState()
      Sync.start(spark, dir.toString, Files.createTempDirectory("graft-sync-ckpt").toString, state,
        Trigger.AvailableNow(), maxFilesPerTrigger = 1).awaitTermination()
      state
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = run()
    val before = compiles.getCount
    val second = run()
    val compiled = compiles.getCount - before
    // each streaming query runs in a cloned session with its own UUID;
    // only a class loader shared across sessions lets it reuse the
    // classes the first query compiled
    assert(compiled === 0, s"the second query compiled $compiled generated classes")
    assert(snapshot(second) === snapshot(first))
  }

  /** Start/end of every job that carries a tag with `prefix`. */
  private final class TaggedJobs(prefix: String) extends SparkListener {
    val started = mutable.Map.empty[Int, Long]
    val ended = mutable.Map.empty[Int, (Long, Boolean)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).map(_.getProperty("spark.job.tags", "")).getOrElse("")
      if (tags.split(",").exists(_.startsWith(prefix))) started(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (started.contains(e.jobId)) ended(e.jobId) = (e.time, e.jobResult == JobSucceeded)
    }
    def allEnded: Boolean = synchronized(started.keySet == ended.keySet)
    /** Waits for the listener bus to deliver the tagged jobs' ends. */
    def awaitAllEnded(): Unit = {
      val deadline = System.currentTimeMillis() + 20000
      while (!allEnded && System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
    /** Fails if a tagged job is still running, or started or succeeded
      * after `t`. */
    def assertNoneAfter(t: Long): Unit = synchronized {
      assert(started.nonEmpty)
      assert(allEnded, "a tagged job is still running")
      assert(started.values.forall(_ <= t), "a tagged job started after the fan-out returned")
      assert(ended.values.forall { case (end, ok) => end <= t || !ok },
        "a tagged job succeeded after the fan-out returned")
    }
  }

  private def liveThreads(prefix: String): Set[String] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith(prefix)).map(_.getName).toSet

  test("a failed handler fails the batch, cancels its siblings, and the replay converges") {
    val dir = opsDir()
    // reference: an uninterrupted streaming run, one file per micro-batch
    val clean = newState()
    Sync.start(spark, dir.toString, Files.createTempDirectory("graft-sync-ckpt").toString, clean,
      Trigger.AvailableNow(), maxFilesPerTrigger = 1).awaitTermination()

    // the stream commits batch 1; then the accounts table is replaced by
    // a plain file and the other files arrive
    val live = Files.createTempDirectory("graft-sync-live")
    val state = newState()
    val ckpt = Files.createTempDirectory("graft-sync-ckpt").toString
    def run() = Sync.start(spark, live.toString, ckpt, state, Trigger.AvailableNow(), maxFilesPerTrigger = 1)
    def arrive(i: Int) = Files.copy(Paths.get(files(dir)(i)), live.resolve(Paths.get(files(dir)(i)).getFileName))
    arrive(0)
    run().awaitTermination()
    val accounts = Paths.get(state, "accounts")
    val aside = Paths.get(state + "-accounts-aside")
    Files.move(accounts, aside)
    Files.write(accounts, "not parquet".getBytes("UTF-8"))
    arrive(1)

    val jobs = new TaggedJobs("graft-sync-")
    spark.sparkContext.addSparkListener(jobs)
    try {
      intercept[Exception](Sync.applyBatch(Router.readOps(spark, files(dir)(1)), state))
      val thrownAt = System.currentTimeMillis()
      jobs.awaitAllEnded()
      jobs.assertNoneAfter(thrownAt)
    } finally spark.sparkContext.removeSparkListener(jobs)

    // the stream fails on batch 2 without committing it; once the table
    // is back, a restart replays batch 2 and goes on to batch 3
    intercept[StreamingQueryException](run().awaitTermination())
    Files.delete(accounts)
    Files.move(aside, accounts)
    arrive(2)
    run().awaitTermination()
    assert(snapshot(state) === snapshot(clean))
  }

  test("an interrupted fan-out cancels its branches' jobs and joins them before it throws") {
    val jobs = new TaggedJobs("graft-interrupt-")
    spark.sparkContext.addSparkListener(jobs)
    val running = new CountDownLatch(1)
    @volatile var quit = false
    @volatile var thrown: Option[Throwable] = None
    @volatile var thrownAt = Long.MaxValue
    @volatile var flagSet = false
    val caller = new Thread(() => {
      try Stage.concurrently(spark, "interrupt")(Seq(() => {
        // a branch that only a cancelled job stops
        while (!quit) {
          spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
          running.countDown()
        }
      }))
      catch { case e: Throwable =>
        thrownAt = System.currentTimeMillis()
        thrown = Some(e)
        flagSet = Thread.currentThread().isInterrupted
      }
    })
    try {
      caller.start()
      assert(running.await(60, TimeUnit.SECONDS))
      caller.interrupt()
      caller.join(60000)
      assert(!caller.isAlive)
      assert(thrown.exists(_.isInstanceOf[InterruptedException]), thrown)
      assert(flagSet, "the caller's interrupt flag was not restored")
      assert(liveThreads("graft-interrupt-").isEmpty)
      Thread.sleep(500)
      jobs.awaitAllEnded()
      jobs.assertNoneAfter(thrownAt)
    } finally {
      quit = true
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("query.stop() during the merge fan-out leaves no tagged job behind, and the restart converges") {
    val dir = opsDir()
    val clean = newState()
    Sync.start(spark, dir.toString, Files.createTempDirectory("graft-sync-ckpt").toString, clean,
      Trigger.AvailableNow(), maxFilesPerTrigger = 1).awaitTermination()

    // Sync.start's source and sink, with the payload behind a gate that
    // holds the fan-out's tasks of batch 1 until the query is stopped
    val state = newState()
    val ckpt = Files.createTempDirectory("graft-sync-ckpt").toString
    val gate = udf { (payload: String) => SyncSpec.Gate.pass(); payload }
    val jobs = new TaggedJobs("graft-sync-")
    SyncSpec.Gate.reset()
    spark.sparkContext.addSparkListener(jobs)
    try {
      val query = spark.readStream.schema(Schemas.opEnvelope)
        .option("maxFilesPerTrigger", 1).json(dir.toString)
        .writeStream.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          SyncSpec.Gate.armed = id == 1
          Sync.applyBatch(batch.withColumn("payload", gate(col("payload"))), state)
        }
        .start()
      assert(SyncSpec.Gate.entered.await(120, TimeUnit.SECONDS), "batch 1 never reached its fan-out")
      query.stop()
      val stoppedAt = System.currentTimeMillis()
      assert(liveThreads("graft-sync-").isEmpty)
      Thread.sleep(500)
      SyncSpec.Gate.released = true
      jobs.awaitAllEnded()
      jobs.assertNoneAfter(stoppedAt)
    } finally {
      SyncSpec.Gate.armed = false
      SyncSpec.Gate.released = true
      spark.sparkContext.removeSparkListener(jobs)
    }

    // batch 1 never committed; a restart replays it and goes on
    Sync.start(spark, dir.toString, ckpt, state, Trigger.AvailableNow(), maxFilesPerTrigger = 1)
      .awaitTermination()
    assert(snapshot(state) === snapshot(clean))
  }
}

object SyncSpec {
  /** Holds every task of a `graft-sync-N` fan-out (not its writes) that
    * evaluates it, while armed, until released or killed. */
  object Gate {
    @volatile var armed = false
    @volatile var released = false
    @volatile var entered = new CountDownLatch(1)

    def reset(): Unit = { armed = false; released = false; entered = new CountDownLatch(1) }

    def pass(): Unit = {
      val tc = TaskContext.get()
      val tags = Option(tc).flatMap(c => Option(c.getLocalProperty("spark.job.tags"))).getOrElse("")
      if (armed && tags.split(",").exists(_.matches("graft-sync-\\d+"))) {
        entered.countDown()
        val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        while (!released && !tc.isInterrupted() && System.nanoTime() < until) Thread.sleep(20)
      }
    }
  }
}
